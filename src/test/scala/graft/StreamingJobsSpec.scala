package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.jobs.{KafkaToMongoJob, OrderPaymentJoinJob, UserSessionAnalysisJob, UserStateMaterializeJob}
import graft.model.StreamEnvelop

/** Streaming faces of the remaining jobs. */
class StreamingJobsSpec extends SparkSpec {
  import spark.implicits._

  private def mkEnv(op: String, pk: String, payload: String, tsSec: Long, src: String = "src"): StreamEnvelop =
    StreamEnvelop(op, src, payload, new Timestamp(tsSec * 1000), new Timestamp(tsSec * 1000), s"t-$pk-$tsSec", pk, Map.empty)

  test("UserStateMaterialize streaming: compacted changelog with tombstones") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = UserStateMaterializeJob.buildStreaming(mem.toDS(), ttlMs = 0)
    val q = out.writeStream.format("memory").queryName("mat_stream").outputMode("append").start()
    try {
      mem.addData(mkEnv("insert", "u1", """{"v":1}""", 1))
      q.processAllAvailable()
      mem.addData(mkEnv("delete", "u1", null, 2))
      q.processAllAvailable()
      val rows = spark.table("mat_stream")
        .select($"key".cast("string"), $"value".isNull).as[(String, Boolean)].collect().toSet
      assert(rows === Set(("u1", false), ("u1", true))) // INSERT then tombstone
    } finally q.stop()
  }

  test("UserSessionAnalysis streaming: closed sessions become SESSION_CLOSED envelopes") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = UserSessionAnalysisJob.buildStreaming(mem.toDS().toDF(), gap = "10 seconds")
    val q = out.writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      mem.addData(mkEnv("login", "u1", "{}", 100), mkEnv("click", "u1", "{}", 104))
      q.processAllAvailable()
      mem.addData(mkEnv("x", "u1", "{}", 500)) // advances watermark, closes session
      q.processAllAvailable()
      mem.addData(mkEnv("y", "u1", "{}", 900))
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .filter($"operation" === "SESSION_CLOSED")
        .select(get_json_object($"payloadJson", "$.actions"), element_at($"metadata", "eventCount"))
        .as[(String, String)].collect()
      assert(rows.contains(("login,click", "2")))
    } finally q.stop()
  }

  test("UserSessionAnalysis streaming with lateness: late event emits SESSION_UPDATED") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = UserSessionAnalysisJob.buildStreamingWithLateness(
      mem.toDS(), gapMs = 10000, latenessMs = 60000)
    val q = out.writeStream.format("memory").queryName("sess_late_job").outputMode("append").start()
    try {
      mem.addData(mkEnv("login", "u1", "{}", 100), mkEnv("click", "u1", "{}", 104))
      q.processAllAvailable()
      mem.addData(mkEnv("x", "u2", "{}", 150))
      q.processAllAvailable()
      mem.addData(mkEnv("y", "u2", "{}", 151)) // timer batch: u1 closes
      q.processAllAvailable()
      mem.addData(mkEnv("late", "u1", "{}", 106)) // within lateness: re-fire
      q.processAllAvailable()
      val u1 = spark.table("sess_late_job").filter($"primaryKey" === "u1")
        .select($"operation", get_json_object($"payloadJson", "$.count").cast("long"),
          element_at($"metadata", "firing"))
        .as[(String, Long, String)].collect().toSet
      assert(u1.contains(("SESSION_CLOSED", 2L, "1")))
      assert(u1.contains(("SESSION_UPDATED", 3L, "2")))
    } finally q.stop()
  }

  test("KafkaToMongo streaming: foreachBatch upsert maintains the keyed table") {
    implicit val sc = spark.sqlContext
    val dir = tmpDir("k2m").toString
    val mem = MemoryStream[String]
    def rawJson(op: String, pk: String, k: Int) =
      s"""{"operation":"$op","source":"s","payloadJson":"{\\"_id\\": \\"$pk\\", \\"k\\": $k}","primaryKey":"$pk","traceId":"t-$pk-$k"}"""
    val q = KafkaToMongoJob.startStreaming(
      mem.toDF().toDF("value"), refs = Seq.empty,
      tablePath = s"$dir/table", checkpoint = s"$dir/ckpt")
    try {
      mem.addData(rawJson("insert", "a", 1), rawJson("insert", "b", 2))
      q.processAllAvailable()
      mem.addData(rawJson("update", "a", 10), rawJson("delete", "b", 0))
      q.processAllAvailable()
      val table = graft.connectors.UpsertSink.readTable(spark, s"$dir/table")
        .select($"_id", get_json_object($"doc", "$.k").cast("int")).as[(String, Int)].collect().toMap
      assert(table === Map("a" -> 10)) // a replaced, b deleted
      // a row the keyed store would reject (empty key — passes the upstream
      // payload-_id gate) routes to the sink DLQ instead of failing the batch
      mem.addData(
        """{"operation":"insert","source":"s","payloadJson":"{\"_id\": \"c\", \"k\": 3}","primaryKey":"","traceId":"t-c-3"}""")
      q.processAllAvailable()
      val dlq = spark.read.parquet(s"$dir/table_dlq")
        .select($"errorMessage", $"rawEvent").as[(String, String)].collect()
      assert(dlq.toSeq === Seq(("null_key", """{"_id": "c", "k": 3}""")))
      val after = graft.connectors.UpsertSink.readTable(spark, s"$dir/table")
        .select($"_id").as[String].collect().toSet
      assert(after === Set("a")) // rejected row never reached the table
      // a payload WITHOUT _id fails the constraint gate BEFORE the sink —
      // r3 discarded that gate's dead letters in streaming; they must land
      // in the gate DLQ path (reference DLQPublisher.java:18-97 publishes
      // from every stage)
      mem.addData(
        """{"operation":"insert","source":"s","payloadJson":"{\"k\": 4}","primaryKey":"d","traceId":"t-d-4"}""")
      q.processAllAvailable()
      val gateDlq = spark.read.parquet(s"$dir/table_gate_dlq")
        .select($"errorType", $"rawEvent").as[(String, String)].collect()
      assert(gateDlq.toSeq === Seq((graft.model.ErrorCodes.ConstraintViolation, """{"k": 4}""")))
      val tableAfterGate = graft.connectors.UpsertSink.readTable(spark, s"$dir/table")
        .select($"_id").as[String].collect().toSet
      assert(tableAfterGate === Set("a")) // gated row never reached the table
    } finally q.stop()
  }

  test("EventRouter streaming: one read per batch fans out to per-route sinks") {
    implicit val sc = spark.sqlContext
    val dir = tmpDir("router").toString
    val mem = MemoryStream[StreamEnvelop]
    val q = graft.jobs.EventRouterJob.startStreaming(
      mem.toDS().toDF(), outDir = s"$dir/routes", checkpoint = s"$dir/ckpt")
    try {
      mem.addData(
        mkEnv("i", "u1", "{}", 1, src = "purchase"),
        mkEnv("i", "u2", "{}", 2, src = "signup"),
        mkEnv("i", "u3", "{}", 3, src = "view"))
      q.processAllAvailable()
      def n(route: String) = spark.read.parquet(s"$dir/routes/$route").count()
      assert(n("orders") === 1 && n("payments") === 1 && n("main") === 1)
    } finally q.stop()
  }

  test("MergedIngest streaming: watermark-aligned union tags both sources") {
    implicit val sc = spark.sqlContext
    val a = MemoryStream[StreamEnvelop]
    val b = MemoryStream[StreamEnvelop]
    val out = graft.jobs.MergedIngestJob.build(Seq(
      "alpha" -> a.toDS().toDF(), "beta" -> b.toDS().toDF()))
    val q = out.writeStream.format("memory").queryName("ingest_stream").outputMode("append").start()
    try {
      a.addData(mkEnv("i", "u1", "{}", 1))
      b.addData(mkEnv("i", "u2", "{}", 2))
      q.processAllAvailable()
      val tags = spark.table("ingest_stream")
        .select(element_at($"metadata", "ingestSource")).as[String].collect().sorted
      assert(tags === Array("alpha", "beta"))
    } finally q.stop()
  }

  test("OrderPaymentJoin streaming: payment payload lands in order metadata") {
    implicit val sc = spark.sqlContext
    val orders = MemoryStream[StreamEnvelop]
    val payments = MemoryStream[StreamEnvelop]
    val out = OrderPaymentJoinJob.buildStreaming(
      orders.toDS().toDF(), payments.toDS().toDF(), ttlMs = 60 * 1000, delay = "2 minutes")
    val q = out.writeStream.format("memory").queryName("opj_stream").outputMode("append").start()
    try {
      orders.addData(mkEnv("insert", "o1", """{"amount":100}""", 100, "orders"))
      payments.addData(mkEnv("insert", "o1", """{"status":"PAID"}""", 110, "payments"))
      q.processAllAvailable()
      val got = spark.table("opj_stream")
        .select($"primaryKey", element_at($"metadata", "paymentPayload"), element_at($"metadata", "paymentSource"))
        .as[(String, String, String)].collect()
      assert(got.contains(("o1", """{"status":"PAID"}""", "payments")))
    } finally q.stop()
  }
}
