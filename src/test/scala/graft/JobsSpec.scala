package graft

import org.apache.spark.sql.functions._
import graft.connectors.{KafkaConnectors, UpsertSink}
import graft.core.ScopedConfig
import graft.jobs._

class JobsSpec extends SparkSpec {
  import spark.implicits._

  private val outDir = tmpDir("graft-jobs").toString

  test("all 7 registered jobs run end-to-end on the sf0.001 fixtures") {
    // the registry is ServiceLoader-discovered (META-INF/services), not a
    // static map — all 7 shipped jobs must be found by name
    assert(JobRegistry.jobs.keySet === Set(
      "MongoToKafka", "KafkaToMongo", "OrderPaymentJoin", "MergedIngest",
      "EventRouter", "UserStateMaterialize", "UserSessionAnalysis"))
    JobRegistry.jobs.values.foreach { job =>
      val out = job.runBatch(spark, sf, outDir)
      assert(out.count() > 0, s"${job.name} produced no rows")
    }
  }

  test("MongoToKafka: unknown ops filtered, every key projected, dlq empty (all payloads have _id)") {
    val (out, dlq) = MongoToKafkaJob.build(JobFixtures.cdcFromEvents(spark, sf), JobFixtures.fixedClock)
    assert(out.filter($"operation" === "unknown").count() === 0)
    assert(out.filter($"primaryKey".isNull).count() === 0)
    assert(dlq.get.count() === 0)
  }

  test("KafkaToMongo: upsert table has one row per key, enrichment lands in metadata") {
    val raw = JobFixtures.rawEnvelopes(spark, sf)
    val ref = graft.core.Tables.eventsAsEnvelopes(spark, sf).filter($"source" === "signup")
    val (good, _) = KafkaToMongoJob.build(raw, Seq("Ref1" -> ref), JobFixtures.fixedClock)
    val table = UpsertSink.applyBatch(UpsertSink.emptyTable(spark), good, "eventTime", "traceId")
    assert(table.groupBy("_id").count().filter($"count" > 1).count() === 0)
    val enriched = good.filter(element_at($"metadata", "enrichedRef1").isNotNull)
    assert(enriched.count() > 0)
  }

  test("UpsertSink.applyBatch: replace-by-key, delete removes, last-in-batch wins") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val current = Seq(("k1", "old", ts(0)), ("k2", "keep", ts(0))).toDF("_id", "doc", "updated_at")
    val updates = Seq(
      ("k1", "insert", "v1", ts(1), "t1"),
      ("k1", "insert", "v2", ts(2), "t2"), // later ts wins
      ("k2", "DELETE", null.asInstanceOf[String], ts(3), "t3"),
      ("k3", "insert", "new", ts(4), "t4")
    ).toDF("primaryKey", "operation", "payloadJson", "eventTime", "traceId")
    val table = UpsertSink.applyBatch(current, updates, "eventTime", "traceId")
    val got = table.select("_id", "doc").as[(String, String)].collect().toMap
    assert(got === Map("k1" -> "v2", "k3" -> "new"))
  }

  test("UserStateMaterialize: compacted projection has tombstones for changelog deletes") {
    val out = UserStateMaterializeJob.runBatch(spark, sf, outDir)
    assert(out.filter($"value".isNull).count() > 0) // tombstones exist
    assert(out.filter($"key".isNull).count() === 0)
  }

  test("KafkaConnectors option plumbing follows delivery mode") {
    val eo = KafkaConnectors.sourceOptions("b:9092", "t", delivery = KafkaConnectors.ExactlyOnce)
    assert(eo("kafka.isolation.level") === "read_committed")
    val alo = KafkaConnectors.sourceOptions("b:9092", "t")
    assert(alo("kafka.isolation.level") === "read_uncommitted")
    assert(KafkaConnectors.sinkOptions("b:9092", "t")("kafka.acks") === "all")
  }

  test("ScopedConfig resolves sysprop > env > json[job] > json[common]") {
    val json = java.nio.file.Files.createTempFile("graft", ".json")
    json.toFile.deleteOnExit()
    java.nio.file.Files.writeString(
      json,
      """{"common": {"A": "common-a", "B": "common-b"}, "JobX": {"A": "jobx-a"}}""")
    val cfg = new ScopedConfig(jsonPath = json.toString, envPath = "/nonexistent")
    assert(cfg.getOrDefault("A", "d") === "common-a")
    cfg.activateJob("JobX")
    assert(cfg.getOrDefault("A", "d") === "jobx-a")
    assert(cfg.getOrDefault("B", "d") === "common-b")
    assert(cfg.getOrDefault("MISSING", "dflt") === "dflt")
    sys.props.put("A", "sys-a")
    try assert(cfg.getOrDefault("A", "d") === "sys-a")
    finally sys.props.remove("A")
    assertThrows[IllegalArgumentException](cfg.require("NOPE"))
  }

  test("Bucketing.indexRoot: ScopedConfig-resolved persisted-index root — default /tmp layout, one key re-points every face (VERDICT r19 #3)") {
    import graft.connectors.Bucketing
    assert(Bucketing.indexRoot === "/tmp/graft_bucketed",
      "default index root drifted — local runs and existing layouts expect /tmp/graft_bucketed")
    // the ScopedConfig layering applies: a system property (the top layer)
    // re-points the root for every face/probe that composes paths from it,
    // and removal restores the default — resolution is per call, not
    // frozen at class-load
    sys.props.put("GRAFT_BUCKETED_ROOT", "/tmp/graft_alt_root")
    try assert(Bucketing.indexRoot === "/tmp/graft_alt_root")
    finally sys.props.remove("GRAFT_BUCKETED_ROOT")
    assert(Bucketing.indexRoot === "/tmp/graft_bucketed")
  }

  test("EventRouter side outputs partition the stream") {
    val counts = EventRouterJob.runBatch(spark, sf, outDir)
      .as[(String, Long)].collect().toMap
    val env = graft.core.Tables.eventsAsEnvelopes(spark, sf)
    assert(counts.values.sum === env.count())
    assert(counts("orders") === env.filter($"source" === "purchase").count())
  }

  test("DLQ replay: fixable rows converge onto the table; poison rows re-DLQ with attempt counter, no loss") {
    val raw = JobFixtures.rawEnvelopes(spark, sf)
    val pk = get_json_object($"value", "$.primaryKey").cast("long")
    val poisoned = raw.select(
      when(pk % 7 === 0, concat(lit("CORRUPT|"), $"value"))
        .when(pk % 5 === 0, concat(lit("CORRUPT|TRUNCATED:"), pk))
        .otherwise($"value").as("value"))
    val ref = graft.core.Tables.eventsAsEnvelopes(spark, sf).filter($"source" === "signup")
    val refs = Seq("Ref1" -> ref)

    val (good, dlqOpt) = KafkaToMongoJob.build(poisoned, refs, JobFixtures.fixedClock)
    val dlq = dlqOpt.get.cache()
    val dlqCount = dlq.count()
    assert(dlqCount > 0, "fixture produced no dead letters — poison slices empty at this sf")

    // the operator's fix: strip the transport-frame prefix, then re-inject
    val fixed = dlq.withColumn("rawEvent", regexp_replace($"rawEvent", "^CORRUPT\\|", ""))
    val (recovered, still1) = KafkaToMongoJob.replayDlq(fixed, refs, JobFixtures.fixedClock)
    val (recCount, still1Count) = (recovered.cache().count(), still1.cache().count())
    assert(recCount > 0 && still1Count > 0, "need both recovered and poison rows to exercise the paths")
    assert(recCount + still1Count === dlqCount, "replay lost or duplicated dead letters")
    assert(still1.filter($"errorMessage".contains("replay attempt 1")).count() === still1Count)

    // second failure: replaying the poison rows again (no further fix) re-DLQs
    // them all with an incremented attempt counter — detectable, never lost
    val (recovered2, still2) = KafkaToMongoJob.replayDlq(still1, refs, JobFixtures.fixedClock)
    assert(recovered2.count() === 0)
    assert(still2.cache().count() === still1Count)
    assert(still2.filter($"errorMessage".contains("replay attempt 2")).count() === still1Count)

    // convergence: first-pass table + replayed batch == clean run minus poison keys
    val replayedTable = UpsertSink
      .applyBatch(
        UpsertSink.applyBatch(UpsertSink.emptyTable(spark), good, "eventTime", "traceId"),
        recovered, "eventTime", "traceId")
    val (cleanGood, _) = KafkaToMongoJob.build(raw, refs, JobFixtures.fixedClock)
    val k = $"_id".cast("long")
    val cleanTable = UpsertSink
      .applyBatch(UpsertSink.emptyTable(spark), cleanGood, "eventTime", "traceId")
      .filter(!(k % 5 === 0 && k % 7 =!= 0))
    assert(replayedTable.exceptAll(cleanTable).isEmpty && cleanTable.exceptAll(replayedTable).isEmpty)
  }
}
