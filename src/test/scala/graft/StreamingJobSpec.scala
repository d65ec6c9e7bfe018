package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.connectors.CdcSource
import graft.jobs.MongoToKafkaJob

/** End-to-end streaming flagship: file-backed change stream (one reader,
  * checkpoint = resume token) → fused transformWithState pipeline →
  * memory sink.
  */
class StreamingJobSpec extends SparkSpec {
  import spark.implicits._

  test("MongoToKafka streaming: CDC files flow through the fused pipeline") {
    val dir = tmpDir("cdc-stream").toString
    // change-log fixture: insert, duplicate insert (same key+ts), update
    // with same payload (op changed → emitted: __op joins the hash
    // composite like the reference), second update with the same op and
    // payload as the first (suppressed), update with new payload, delete
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/batch1.json"),
      Seq(
        """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 1}","fullDocument":"{\"_id\": 1, \"v\": 10}","updatedFields":null,"eventTime":"2024-01-01T00:00:00.000Z"}""",
        """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 1}","fullDocument":"{\"_id\": 1, \"v\": 10}","updatedFields":null,"eventTime":"2024-01-01T00:00:00.000Z"}""",
        """{"op":"update","db":"d","collection":"c","documentKey":"{\"_id\": 1}","fullDocument":"{\"_id\": 1, \"v\": 10}","updatedFields":null,"eventTime":"2024-01-01T00:01:00.000Z"}""",
        """{"op":"update","db":"d","collection":"c","documentKey":"{\"_id\": 1}","fullDocument":"{\"_id\": 1, \"v\": 10}","updatedFields":null,"eventTime":"2024-01-01T00:01:30.000Z"}""",
        """{"op":"update","db":"d","collection":"c","documentKey":"{\"_id\": 1}","fullDocument":"{\"_id\": 1, \"v\": 20}","updatedFields":null,"eventTime":"2024-01-01T00:02:00.000Z"}""",
        """{"op":"delete","db":"d","collection":"c","documentKey":"{\"_id\": 2}","fullDocument":null,"updatedFields":null,"eventTime":"2024-01-01T00:03:00.000Z"}""",
        // malformed: fullDocument has no _id → schema gate must dead-letter
        // it, not drop it (r3 discarded the streaming DLQ)
        """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 3}","fullDocument":"{\"v\": 99}","updatedFields":null,"eventTime":"2024-01-01T00:04:00.000Z"}"""
      ).mkString("\n"))
    val out = tmpDir("cdc-stream-out").toString
    val q = MongoToKafkaJob.startStreaming(
      CdcSource.multi(spark, dir),
      outPath = s"$out/good", dlqPath = s"$out/dlq",
      checkpoint = s"$out/ckpt", ttlMs = 0)
    try q.processAllAvailable()
    finally q.stop()
    // the _id-less document landed in the DLQ with the schema error code
    val dead = spark.read.parquet(s"$out/dlq")
      .select($"errorType", $"rawEvent").as[(String, String)].collect()
    assert(dead.toSeq === Seq((graft.model.ErrorCodes.SchemaViolation, """{"v": 99}""")))
    // exact set equality also proves the dead-lettered key "3" never
    // reaches the good output
    val good = spark.read.parquet(s"$out/good")
    val rows = good
      .select($"operation", $"primaryKey", get_json_object($"payloadJson", "$.v").as("v"))
      .as[(String, String, Option[String])].collect().toSet
    // duplicate insert dropped; first update emitted (op changed even
    // though payload didn't); second same-op-same-payload update
    // suppressed; changed update and delete flow through
    assert(rows === Set(
      ("insert", "1", Some("10")),
      ("update", "1", Some("10")),
      ("update", "1", Some("20")),
      ("delete", "2", None)))
    // metadata decoration + trace id stamped
    val meta = good
      .select(element_at($"metadata", "stage.pre-sink.taskName")).as[String].collect()
    assert(meta.length === 4 && meta.forall(_ == "MongoToKafka"))
    assert(good.filter($"traceId".isNull).count() === 0)
  }

  test("MongoToKafka single-pass streaming: one pipeline fans out to good + DLQ paths") {
    val dir = tmpDir("cdc-single").toString
    val lines = Seq(
      """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 1}","fullDocument":"{\"_id\": 1, \"v\": 10}","updatedFields":null,"eventTime":"2024-01-01T00:00:00.000Z"}""",
      """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 1}","fullDocument":"{\"_id\": 1, \"v\": 10}","updatedFields":null,"eventTime":"2024-01-01T00:00:00.000Z"}""",
      """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 3}","fullDocument":"{\"v\": 99}","updatedFields":null,"eventTime":"2024-01-01T00:04:00.000Z"}""",
      // a real empty-string key, sent twice: deduped like any other key
      """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": \"\"}","fullDocument":"{\"_id\": \"\", \"v\": 5}","updatedFields":null,"eventTime":"2024-01-01T00:05:00.000Z"}""",
      """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": \"\"}","fullDocument":"{\"_id\": \"\", \"v\": 5}","updatedFields":null,"eventTime":"2024-01-01T00:05:00.000Z"}""",
      // two _id-less documents at that same eventTime: no key, so neither
      // is deduped (against each other or the "" key); both dead-letter
      """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 4}","fullDocument":"{\"v\": 97}","updatedFields":null,"eventTime":"2024-01-01T00:05:00.000Z"}""",
      """{"op":"insert","db":"d","collection":"c","documentKey":"{\"_id\": 5}","fullDocument":"{\"v\": 98}","updatedFields":null,"eventTime":"2024-01-01T00:05:00.000Z"}""")
    Files.writeString(java.nio.file.Paths.get(s"$dir/batch1.json"), lines.mkString("\n"))
    val out = tmpDir("cdc-single-out").toString
    // read amplification: N readers or a self-union of the source count
    // each line more than once in numInputRows. A second execution of the
    // batch plan re-reads nothing (the scan sits behind the state pass's
    // shuffle, whose map output is reused) but re-runs the state pass,
    // which doubles its updated-rows count.
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, Long, Long)]
    val terminated = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add((p.id, p.numInputRows, p.stateOperators.map(_.numRowsUpdated).sum)); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminated.add(e.id); ()
      }
    }
    spark.streams.addListener(listener)
    try {
      val q = MongoToKafkaJob.startStreaming(
        CdcSource.multi(spark, dir),
        outPath = s"$out/good", dlqPath = s"$out/dlq",
        checkpoint = s"$out/ckpt", ttlMs = 0)
      try q.processAllAvailable()
      finally q.stop()
      // progress events precede the termination event on the listener bus
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!terminated.contains(q.id) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(terminated.contains(q.id), "no termination event within 60 s")
      val ours = progress.toArray(Array.empty[(java.util.UUID, Long, Long)]).filter(_._1 == q.id)
      assert(ours.map(_._2).sum === lines.size.toLong)
      // keys "1" and "": one seen-eventTime entry + one payload hash each;
      // the keyless rows write nothing
      assert(ours.map(_._3).sum === 4L)
    } finally spark.streams.removeListener(listener)
    val good = spark.read.parquet(s"$out/good")
      .select($"primaryKey", get_json_object($"payloadJson", "$.v")).as[(String, String)].collect()
    // dups dropped (key 1 and key ""), _id-less routed away
    assert(good.toSeq.sorted === Seq(("", "5"), ("1", "10")))
    val dead = spark.read.parquet(s"$out/dlq")
      .select($"errorType", $"rawEvent").as[(String, String)].collect()
    assert(dead.toSeq.sortBy(_._2) === Seq("""{"v": 97}""", """{"v": 98}""", """{"v": 99}""")
      .map((graft.model.ErrorCodes.SchemaViolation, _)))
  }
}
