package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.StreamEnvelop
import graft.stateful._

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  private def mkEnv(op: String, pk: String, payload: String, tsSec: Long): StreamEnvelop =
    StreamEnvelop(op, "src", payload, new Timestamp(tsSec * 1000), new Timestamp(tsSec * 1000), s"t-$pk-$tsSec", pk, Map.empty)

  // ------------------------------------------------------------ batch faces

  test("Deduplicator.batch keeps first row per key by (ts, tie)") {
    val df = Seq(
      ("k1", 10L, 1L, "a"),
      ("k1", 5L, 2L, "b"),
      ("k2", 7L, 3L, "c"),
      ("k1", 5L, 0L, "d") // same ts as 'b', lower tie -> wins over b
    ).toDF("k", "ts", "tie", "v")
      .withColumn("ts", timestamp_seconds($"ts"))
    val out = Deduplicator(Seq("k")).batch(df, "ts", "tie")
    assert(out.select("v").as[String].collect().sorted === Array("c", "d"))
  }

  test("Deduplicator.batchWithin: same survivors as batch, windowed by the parent key only") {
    // deterministic frame with duplicate (k, ts) groups and distinct ties
    val rows = for {
      k <- Seq("a", "b", "c")
      ts <- 1L to 5L
      rep <- 0L until (ts % 3 + 1)
    } yield (k, ts, s"payload-${(ts * 7 + rep * 13) % 11}")
    val df = rows.toDF("k", "tsRaw", "payload")
      .withColumn("ts", timestamp_seconds($"tsRaw"))
    val viaBatch = Deduplicator(Seq("k", "ts")).batch(df, "ts", "payload")
      .select("k", "tsRaw", "payload").as[(String, Long, String)].collect().sorted
    val viaWithin = Deduplicator(Seq("k", "ts"))
      .batchWithin(df, Seq("k"), Seq("ts"), "ts", "payload")
      .select("k", "tsRaw", "payload").as[(String, Long, String)].collect().sorted
    assert(viaWithin === viaBatch)
    // and the plan shuffles on the PARENT key only (what lets a downstream
    // pk-window reuse the exchange)
    val plan = Deduplicator(Seq("k", "ts"))
      .batchWithin(df, Seq("k"), Seq("ts"), "ts", "payload")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(k#"), "expected a k-only exchange")
    assert("hashpartitioning\\(k#\\d+, ts".r.findFirstIn(plan).isEmpty,
      "unexpected composite-key exchange")
  }

  test("StatefulMerger.batch suppresses unchanged payloads, ignores excluded fields") {
    val df = Seq(
      ("k1", 1L, """{"a": 1, "updatedAt": 100}"""),
      ("k1", 2L, """{"updatedAt": 200, "a": 1}"""), // same after exclusion + key order
      ("k1", 3L, """{"a": 2, "updatedAt": 300}"""), // changed
      ("k1", 4L, """{"a": 2}""") // unchanged (updatedAt excluded anyway)
    ).toDF("k", "tie", "payload")
      .withColumn("ts", timestamp_seconds($"tie"))
    val out = StatefulMerger(Seq("k"), "payload", Seq("updatedAt")).batch(df, "ts", "tie")
    assert(out.select("tie").as[Long].collect().sorted === Array(1L, 3L))
  }

  test("StatefulMerger with opCol: a DELETE after a payload-equal update still flows") {
    // the reference hashes __op + payload: an update touching only excluded
    // fields canonicalizes to {"_id": X}, equal to the delete's documentKey
    // payload — without the op in the composite the DELETE is suppressed and
    // downstream stores keep deleted documents (ADVICE r1, high)
    val df = Seq(
      ("1", 1L, "insert", """{"_id": 1, "updatedAt": 100}"""),
      ("1", 2L, "update", """{"_id": 1, "updatedAt": 200}"""), // canon equal, op differs -> emitted
      ("1", 3L, "update", """{"_id": 1, "updatedAt": 300}"""), // canon AND op equal -> suppressed
      ("1", 4L, "delete", """{"_id": 1}""") // canon equal to prior, op differs -> MUST emit
    ).toDF("k", "tie", "operation", "payload")
      .withColumn("ts", timestamp_seconds($"tie"))
    val withOp = StatefulMerger(Seq("k"), "payload", Seq("updatedAt"), opCol = Some("operation"))
      .batch(df, "ts", "tie")
    assert(withOp.select("tie").as[Long].collect().sorted === Array(1L, 2L, 4L))
    // without opCol the delete IS suppressed — pins why opCol exists
    val withoutOp = StatefulMerger(Seq("k"), "payload", Seq("updatedAt")).batch(df, "ts", "tie")
    assert(withoutOp.select("tie").as[Long].collect().sorted === Array(1L))
  }

  test("Materializer.batchChangelog: INSERT/UPDATE/DELETE lifecycle with state reset") {
    val df = Seq(
      ("k1", 1L, "ins", """{"v": 1}"""),
      ("k1", 2L, "upd", """{"v": 2}"""),
      ("k1", 3L, "del", null.asInstanceOf[String]),
      ("k1", 4L, "del", null.asInstanceOf[String]), // delete w/o state: skipped
      ("k1", 5L, "ins", """{"v": 3}""") // re-insert after delete
    ).toDF("k", "tie", "op", "payload")
      .withColumn("ts", timestamp_seconds($"tie"))
    val out = Materializer("k", "payload", col("op") === "del")
      .batchChangelog(df, "ts", "tie")
      .orderBy("ts")
      .select("change_type", "before", "after")
      .as[(String, Option[String], Option[String])]
      .collect()
    assert(out.map(_._1).toSeq === Seq("INSERT", "UPDATE", "DELETE", "INSERT"))
    assert(out(1)._2 === Some("""{"v": 1}""") && out(1)._3 === Some("""{"v": 2}"""))
    assert(out(2)._2 === Some("""{"v": 2}""") && out(2)._3 === None)
    assert(out(3)._2 === None && out(3)._3 === Some("""{"v": 3}"""))
  }

  test("SessionAnalyzer batch: gap splits sessions, end = last event + gap") {
    val df = Seq(
      ("u1", 0L, 1L, "login"),
      ("u1", 60L, 2L, "click"),
      ("u1", 4000L, 3L, "buy"), // > 30min gap -> new session
      ("u2", 0L, 4L, "view")
    ).toDF("user", "sec", "tie", "action")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = SessionAnalyzer("user", "ts", "30 minutes")
      .analyze(df, "action", "tie")
      .orderBy("key", "session_start_us")
      .collect()
    assert(out.length === 3)
    val s1 = out(0)
    assert(s1.getAs[String]("key") === "u1")
    assert(s1.getAs[Long]("event_count") === 2)
    assert(s1.getAs[String]("actions") === "login,click")
    // end = last event (60s) + 30min
    assert(s1.getAs[Long]("session_end_us") === (60L + 1800L) * 1000000L)
    assert(out(1).getAs[String]("actions") === "buy")
  }

  // -------------------------------------------------------- streaming faces

  test("Processors.suppress suppresses per-key unchanged payloads across batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.suppress(mem.toDS(), _.primaryKey, ttlMs = 0, Set("updatedAt"))
    val q = out.writeStream.format("memory").queryName("merger_out").outputMode("append").start()
    try {
      mem.addData(
        mkEnv("u", "a", """{"x": 1, "updatedAt": 1}""", 1),
        mkEnv("u", "a", """{"x": 1, "updatedAt": 2}""", 2)
      )
      q.processAllAvailable()
      mem.addData(
        mkEnv("u", "a", """{"updatedAt": 3, "x": 1}""", 3), // still unchanged
        mkEnv("u", "a", """{"x": 2}""", 4) // changed
      )
      q.processAllAvailable()
      val got = spark.table("merger_out").select("traceId").as[String].collect().sorted
      assert(got === Array("t-a-1", "t-a-4"))
    } finally q.stop()
  }

  test("SessionAnalyzer streaming: sessions close once watermark passes gap") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = SessionAnalyzer("primaryKey", "eventTime", "10 seconds")
      .analyze(mem.toDS().toDF(), actionCol = "operation", tieCol = "traceId")
    val q = out.writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      mem.addData(mkEnv("a1", "u1", "{}", 100), mkEnv("a2", "u1", "{}", 105))
      q.processAllAvailable()
      // advance watermark far past the session end
      mem.addData(mkEnv("a3", "u1", "{}", 1000))
      q.processAllAvailable()
      mem.addData(mkEnv("a4", "u1", "{}", 2000))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("event_count", "actions").as[(Long, String)].collect()
      assert(got.contains((2L, "a1,a2")))
    } finally q.stop()
  }

  test("StatefulMerger.batch with opCol: null operation does not null-suppress the row") {
    // concat(null) nulls _canon, and `null =!= null` is null -> filter drops
    // the row unconditionally (ADVICE r2, low); coalesce to "∅" keeps the
    // payload comparison live
    val df = Seq(
      ("k", 1L, null.asInstanceOf[String], """{"a": 1}"""),
      ("k", 2L, null.asInstanceOf[String], """{"a": 1}"""), // same payload -> suppressed
      ("k", 3L, null.asInstanceOf[String], """{"a": 2}""") // changed payload -> MUST emit
    ).toDF("k", "tie", "operation", "payload")
      .withColumn("ts", timestamp_seconds($"tie"))
    val out = StatefulMerger(Seq("k"), "payload", opCol = Some("operation")).batch(df, "ts", "tie")
    assert(out.select("tie").as[Long].collect().sorted === Array(1L, 3L))
  }
}
