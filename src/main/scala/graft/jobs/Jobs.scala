package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.connectors.{CdcSource, EsSink, KafkaConnectors, UpsertSink}
import graft.core.{Dlq, Persist, PipelineBuilder, Tables}
import graft.joins.{DynamicJoiner, StaticJoiner}
import graft.parsers.{CdcParser, EnvelopeParser}
import graft.patterns._
import graft.stateful._

/** The 7 pre-composed jobs (the reference's "queries", SURVEY §2.11), as
  * batch-face compositions over envelope frames. Each job also runs as a
  * streaming pipeline by feeding it streaming frames — every operator in the
  * chain works in both modes (Spark's unified Dataset API).
  *
  * Determinism: jobs take an injectable `clock` so the correctness harness
  * can replay them; production entry points pass current_timestamp().
  */
trait GraftJob {
  def name: String

  /** Batch face on the driver fixture corpus: returns the primary output. */
  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame
}

/** CDC → Kafka: the flagship pipeline.
  * reference job/cdc/MongoToKafkaJob.java:38-99:
  * MultiCDC → parse → flow-disruption → filter(op≠unknown) →
  * dedup(pk+eventTime) → change-suppression → schema(_id required) →
  * latency → observer → metadata → processor(traceId+processedTime) →
  * keyed Kafka sink.
  */
class MongoToKafkaJob extends GraftJob {
  val name = "MongoToKafka"

  /** The schema gate of both faces: `_id` required. */
  private val enforcer = SchemaEnforcer(
    "payloadJson",
    Seq(SchemaVersion(1, Seq(FieldSpec("_id", FieldType.ANY)))))

  /** The sink-side stamp of both faces: pre-sink metadata, a traceId for
    * rows that carry none, and processedTime — all on `clock` and
    * `subtask`.
    */
  private def stamp(df: DataFrame, clock: Column, subtask: Column): DataFrame =
    df.transform(MetadataDecorator("pre-sink", name, clock = clock, subtask = subtask))
      .withColumn(
        "traceId",
        coalesce(col("traceId"), concat(lit("trace-"), col("primaryKey"), lit("-"), unix_micros(col("eventTime")))))
      .withColumn("processedTime", clock.cast("timestamp"))

  def build(cdc: DataFrame, clock: Column): (DataFrame, Option[DataFrame]) = {
    val parsed = CdcParser.parse(cdc, clock)
    val pb = PipelineBuilder
      .from(parsed)
      .apply(FilterInterceptor("known-ops", col("operation") =!= "unknown"))
      // batchWithin(pk | eventTime): same survivors as batch over
      // (pk, eventTime), but windowed by pk only so the merger's window
      // below reuses the exchange AND sort — one shuffle through the
      // dedup+suppress pair instead of two
      .apply(df =>
        Deduplicator(Seq("primaryKey", "eventTime"))
          .batchWithin(df, Seq("primaryKey"), Seq("eventTime"), "eventTime", "payloadJson"))
      .apply(df =>
        StatefulMerger(Seq("primaryKey"), "payloadJson", Seq("updatedAt", "modifiedAt"),
          opCol = Some("operation"))
          .batch(df, "eventTime", "payloadJson"))
      .applySplit { df =>
        val (good, bad) = enforcer.enforce(df)
        (
          good.drop("matched_version"),
          Dlq.toDlq(bad, graft.model.ErrorCodes.SchemaViolation, col("violations"), name, col("payloadJson"), clock)
        )
      }
      .apply(LatencyDetector("e2e", "eventTime", 30000, clock))
      .apply(OnlineObserver("health", Seq(
        QualityCheck("null_payloads", col("payloadJson").isNull),
        QualityCheck("null_keys", col("primaryKey").isNull)
      )))
      .process(stamp(_, clock, lit(0)))
    (pb.df, pb.deadLetters)
  }

  /** Parse → fused dedup+suppression. Builds a FRESH
    * StatefulProcessor per call: a processor instance must belong to
    * exactly one streaming query (concurrent driver inits on a shared
    * instance race on its state-var fields).
    *
    * A payload without _id parses to primaryKey NULL; the keyed pass lets
    * such rows through untouched (Processors.cdcPipeline) and the schema
    * gate dead-letters them (missing:_id) — one scan, one state pass.
    */
  private def dedupedPipeline(cdcStream: DataFrame, ttlMs: Long): DataFrame = {
    import cdcStream.sparkSession.implicits._
    val parsed = CdcParser
      .parse(cdcStream)
      .filter(col("operation") =!= "unknown")
    graft.stateful.Processors
      .cdcPipeline(parsed.as[graft.model.StreamEnvelop], ttlMs, Set("updatedAt", "modifiedAt"))
      .toDF()
  }

  /** Streaming face: parse → fused dedup+change-suppression (ONE
    * transformWithState pass — see CdcPipelineProcessor) → schema gate →
    * decoration → processor. One stateful pipeline, one query, one state
    * store; each micro-batch is persisted (the keyed state pass runs and
    * commits once per epoch), splits at the schema gate and writes
    * envelopes to `outPath/epoch=N` and dead letters to `dlqPath/epoch=N`
    * (per-epoch overwrite → replayed epochs converge instead of
    * double-appending). The schema gate's dead letters are surfaced, as in
    * the batch face and the reference's publish-from-every-stage contract
    * (DLQPublisher.java:18-97). Needs the RocksDB state store provider,
    * which [[graft.core.GraftSession]] sessions carry.
    */
  def startStreaming(
      cdcStream: DataFrame,
      outPath: String,
      dlqPath: String,
      checkpoint: String,
      ttlMs: Long = 10 * 60 * 1000,
      // A processing-time TTL keeps TransformWithStateExec.shouldRunAnotherBatch
      // true, so the default trigger runs no-data batches back-to-back forever
      // (correct for a long-lived service — TTL eviction needs them) and
      // processAllAvailable() never unblocks. Trigger.AvailableNow() does not
      // end such a query either: a bounded drive (probe, backfill) counts its
      // input rows through and stops the query itself, as
      // StreamScaleProbe.drive does.
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
  ): org.apache.spark.sql.streaming.StreamingQuery =
    dedupedPipeline(cdcStream, ttlMs).writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Persist.once(batch) { b =>
          val (good, bad) = enforcer.enforce(b)
          stamp(good.drop("matched_version"), current_timestamp(), spark_partition_id())
            .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
          Dlq
            .toDlq(bad, graft.model.ErrorCodes.SchemaViolation, col("violations"), name,
              col("payloadJson"), current_timestamp())
            .write.mode("overwrite").parquet(s"$dlqPath/epoch=$epoch")
        }
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val cdc = JobFixtures.cdcFromEvents(spark, sfDir)
    val (out, dlq) = build(cdc, JobFixtures.fixedClock)
    val projected = KafkaConnectors.keyedProjection(out, compacted = false)
    projected.write.mode("overwrite").parquet(s"$outDir/$name/out")
    dlq.foreach(_.write.mode("overwrite").parquet(s"$outDir/$name/dlq"))
    projected
  }
}

/** Kafka → keyed store upsert with optional broadcast reference enrichment.
  * reference job/cdc/KafkaToMongoJob.java:37-92.
  */
class KafkaToMongoJob extends GraftJob {
  val name = "KafkaToMongo"

  def build(
      raw: DataFrame,
      refs: Seq[(String, DataFrame)],
      clock: Column
  ): (DataFrame, Option[DataFrame]) = {
    val (envelopes, parseDlq) = EnvelopeParser.parse(raw, "value", clock, source = name)
    val (good, gateDlq) = buildFromEnvelopes(envelopes, refs, clock)
    (good, Some(parseDlq.unionByName(gateDlq)))
  }

  /** The pipeline downstream of the parse (broadcast enrichment →
    * constraint gate) — also the re-entry point for DLQ replay, which
    * re-parses dead letters and pushes the recovered envelopes back
    * through exactly this composition.
    */
  def buildFromEnvelopes(
      envelopes: DataFrame,
      refs: Seq[(String, DataFrame)],
      clock: Column
  ): (DataFrame, DataFrame) = gate(enrich(envelopes, refs), clock)

  /** Broadcast enrichment from each reference, plus the `_id_check`
    * column [[gate]] tests.
    */
  private def enrich(envelopes: DataFrame, refs: Seq[(String, DataFrame)]): DataFrame =
    refs.foldLeft(envelopes) { case (df, (refName, ref)) =>
      val compact = StaticJoiner("primaryKey", "r_key")
        .latestPerKey(ref.select(col("primaryKey").as("r_key"), col("payloadJson").as("r_payload"),
          col("eventTime").as("r_ts"), col("traceId").as("r_tie")), "r_ts", "r_tie")
        .select(col("r_key"), col("r_payload"))
      df.join(broadcast(compact), df("primaryKey") === compact("r_key"), "left")
        .withColumn(
          "metadata",
          when(col("r_payload").isNotNull,
            map_concat(coalesce(col("metadata"), map()), map(lit(s"enriched$refName"), col("r_payload"))))
            .otherwise(col("metadata"))
        )
        .drop("r_key", "r_payload")
    }.withColumn("_id_check", get_json_object(col("payloadJson"), "$._id"))

  /** Constraint gate over an [[enrich]]ed frame: (good, dead letters). */
  private def gate(enriched: DataFrame, clock: Column): (DataFrame, DataFrame) = {
    val (good, bad) = ConstraintEnforcer(Seq(NotNullRule("_id_check"))).enforce(enriched)
    val dlq = Dlq.toDlq(bad, graft.model.ErrorCodes.ConstraintViolation, col("violations"), name, col("payloadJson"), clock)
    (good.drop("_id_check"), dlq)
  }

  /** DLQ replay (reference docs/recovery/dlq-replay-guide.md §5): the
    * operator inspects the DLQ, applies a fix to `rawEvent` (caller's
    * domain knowledge — done BEFORE this call), and re-injects through the
    * originating pipeline. Rows that fail the parse again come back as a
    * fresh DLQ frame whose errorMessage carries an incrementing
    * `(replay attempt N)` marker so a poison message is detectable instead
    * of cycling forever; rows that recover run the full enrichment +
    * constraint gate and converge idempotently via the keyed upsert.
    * Returns (recovered good rows, still-dead DLQ).
    */
  def replayDlq(
      fixedDlq: DataFrame,
      refs: Seq[(String, DataFrame)],
      clock: Column
  ): (DataFrame, DataFrame) = {
    val (envelopes, stillDead) = Dlq.replay(fixedDlq, clock)
    val (good, gateDlq) = buildFromEnvelopes(envelopes, refs, clock)
    (good, stillDead.unionByName(gateDlq))
  }

  /** Streaming face: parse → stream-static broadcast enrichment →
    * constraint gate → foreachBatch keyed upsert into `tablePath` (touched
    * buckets only; rows the store would reject route to `tablePath_dlq` —
    * the reference's per-write DLQ, MongoSinkBuilder.java:158-191). The
    * whole (stateless) build runs INSIDE foreachBatch so the parse +
    * constraint gate's dead letters land in `tablePath_gate_dlq` instead of
    * being discarded — one source read, two writes, matching the
    * reference's publish-from-every-stage DLQ contract
    * (DLQPublisher.java:18-97). The parsed and the enriched frames are
    * persisted per epoch, so the parse, the enrichment and the gate run
    * once for the upsert write and the DLQ write together. Returns the
    * started query.
    */
  def startStreaming(
      raw: DataFrame,
      refs: Seq[(String, DataFrame)],
      tablePath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val clock = current_timestamp()
        Persist.once(EnvelopeParser.withEnvelope(batch, "value")) { parsed =>
          val (envelopes, parseDlq) = EnvelopeParser.split(parsed, "value", clock, source = name)
          Persist.once(enrich(envelopes, refs)) { enriched =>
            val (good, gateDlq) = gate(enriched, clock)
            graft.connectors.UpsertSink
              .writer(tablePath, dlqPath = Some(tablePath + "_dlq"))(good, epoch)
            // per-epoch overwrite (not a bare append): a replayed micro-batch
            // rewrites its own epoch directory instead of appending the same
            // dead letters twice — the same idempotence the keyed table
            // write has. No emptiness probe: an empty overwrite is harmless.
            parseDlq.unionByName(gateDlq)
              .write.mode("overwrite").parquet(s"${tablePath}_gate_dlq/epoch=$epoch")
          }
        }
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val raw = JobFixtures.rawEnvelopes(spark, sfDir)
    val ref = Tables.eventsAsEnvelopes(spark, sfDir).filter(col("source") === "signup")
    val (good, dlq) = build(raw, Seq("Ref1" -> ref), JobFixtures.fixedClock)
    val table = UpsertSink.applyBatch(UpsertSink.emptyTable(spark), good, "eventTime", "traceId")
    table.write.mode("overwrite").parquet(s"$outDir/$name/table")
    dlq.foreach(_.write.mode("overwrite").parquet(s"$outDir/$name/dlq"))
    table
  }
}

/** Order/payment stream join: payment payload lands in order metadata.
  * reference job/join/OrderPaymentJoinJob.java:32-78.
  */
class OrderPaymentJoinJob extends GraftJob {
  val name = "OrderPaymentJoin"

  def build(orders: DataFrame, payments: DataFrame, ttlMs: Long): DataFrame =
    compose(orders, payments, ttlMs)(_.batch(_, _))

  /** Streaming face: watermarked stream-stream join + the same metadata
    * merge. `delay` bounds both sides' state (>= TTL + out-of-orderness).
    */
  def buildStreaming(
      orders: DataFrame,
      payments: DataFrame,
      ttlMs: Long,
      delay: String
  ): DataFrame =
    compose(orders, payments, ttlMs)(_.streaming(_, _, delay))

  /** Both faces' composition: project the two sides, join them with `join`
    * (the batch or the streaming face of one [[DynamicJoiner]]), and merge
    * the payment into the order's metadata.
    */
  private def compose(orders: DataFrame, payments: DataFrame, ttlMs: Long)(
      join: (DynamicJoiner, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val l = orders.select(
      col("operation"), col("source"), col("payloadJson"), col("eventTime"),
      col("processedTime"), col("traceId"), col("primaryKey"), col("metadata"))
    val r = payments.select(
      col("primaryKey").as("p_key"), col("payloadJson").as("p_payload"),
      col("source").as("p_source"), col("eventTime").as("p_ts"))
    join(DynamicJoiner("primaryKey", "p_key", "eventTime", "p_ts", ttlMs, "left_outer"), l, r)
      .withColumn(
        "metadata",
        when(col("p_payload").isNotNull,
          map_concat(
            coalesce(col("metadata"), map()),
            map(lit("paymentPayload"), col("p_payload"), lit("paymentSource"), col("p_source"))))
          .otherwise(col("metadata"))
      )
      .drop("p_key", "p_payload", "p_source", "p_ts")
  }

  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, sfDir)
    val out = build(
      env.filter(col("source") === "click"),
      env.filter(col("source") === "purchase"),
      ttlMs = 30 * 60 * 1000)
    out.write.mode("overwrite").parquet(s"$outDir/$name/out")
    out
  }
}

/** Watermark-aligned multi-topic ingest. reference job/ingest/MergedIngestJob.java:32-69. */
class MergedIngestJob extends GraftJob {
  val name = "MergedIngest"

  def build(sources: Seq[(String, DataFrame)]): DataFrame =
    WatermarkAlignedFanIn("eventTime", "5 seconds")(sources)
      .withColumn(
        "metadata",
        graft.core.MapOps.upsert(col("metadata"), "ingestSource", col("ingestSource")))
      .drop("ingestSource")

  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, sfDir)
    val out = build(Seq(
      "clicks" -> env.filter(col("source") === "click"),
      "views" -> env.filter(col("source") === "view")))
    out.write.mode("overwrite").parquet(s"$outDir/$name/out")
    out
  }
}

/** Predicate routing to per-route sinks. reference job/route/EventRouterJob.java:27-52.
  * Streaming: one input, persist per micro-batch, N writes (foreachBatch) —
  * the side-output pattern without re-reading the source.
  */
class EventRouterJob extends GraftJob {
  val name = "EventRouter"

  val routes = Seq(
    Route("orders", col("source") === "purchase"),
    Route("payments", col("source") === "signup"))

  def splitter = ParallelSplitter(routes)

  /** Streaming face — the side-output pattern: ONE source read per
    * micro-batch, batch persisted, N per-route writes (reference OutputTag
    * fan-out; SURVEY §7.3.3). Returns the started query.
    */
  def startStreaming(
      envelopes: DataFrame,
      outDir: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    envelopes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Persist.once(splitter.routed(batch)) { routed =>
          (routes.map(_.name) :+ "main").foreach { r =>
            routed.filter(col("route") === r).drop("route")
              .write.mode("append").parquet(s"$outDir/$r")
          }
        }
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, sfDir)
    Persist.once(splitter.routed(env)) { routed =>
      (routes.map(_.name) :+ "main").foreach { r =>
        EsSink.writer(s"$outDir/$name/$r")(routed.filter(col("route") === r), 0L)
      }
      routed.groupBy(col("route")).count()
    }
  }
}

/** Latest-state materialization → compacted changelog topic.
  * reference job/materialize/UserStateMaterializeJob.java:35-90.
  */
class UserStateMaterializeJob extends GraftJob {
  val name = "UserStateMaterialize"

  /** ChangelogEvent frame → changelog envelope (reference toEnvelop :65-90). */
  def toEnvelop(changelog: DataFrame, clock: Column): DataFrame =
    changelog.select(
      concat(lit("CHANGELOG_"), col("change_type")).as("operation"),
      lit(name).as("source"),
      to_json(struct(
        col("key").as("_id"),
        col("change_type").as("changeType"),
        col("before"),
        col("after"))).as("payloadJson"),
      col("ts").cast("timestamp").as("eventTime"),
      clock.cast("timestamp").as("processedTime"),
      concat(lit("trace-"), col("key"), lit("-"), unix_micros(col("ts").cast("timestamp"))).as("traceId"),
      col("key").as("primaryKey"),
      map(lit("changelog"), lit("true")).as("metadata"))

  /** Streaming face: transformWithState materialization → changelog
    * envelopes → compacted keyed projection (tombstones for deletes).
    * Needs the RocksDB state store provider, which
    * [[graft.core.GraftSession]] sessions carry.
    */
  def buildStreaming(envelopes: org.apache.spark.sql.Dataset[graft.model.StreamEnvelop],
      ttlMs: Long = 24 * 3600 * 1000): DataFrame = {
    // null-key guard: a null grouping key crashes transformWithState
    // (INTERNAL_ERROR_TWS) — one malformed upstream event must not kill the
    // query. A keyless changelog event is also meaningless to materialize;
    // upstream gates (schema/constraint) are where such rows get DLQ'd.
    val keyed = envelopes.filter((e: graft.model.StreamEnvelop) => e.primaryKey != null)
    val changelog = graft.stateful.Processors
      .materialize(keyed, _.operation == "delete", ttlMs)
      .toDF()
      .select(
        col("changeType").as("change_type"),
        col("key"),
        col("before"),
        col("after"),
        col("timestamp").as("ts"))
    KafkaConnectors.keyedProjection(toEnvelop(changelog, current_timestamp()), compacted = true)
  }

  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, sfDir)
    val changelog = Materializer("primaryKey", "payloadJson", col("operation") === "delete")
      .batchChangelog(env, "eventTime", "event_id")
    val envelopes = toEnvelop(changelog, JobFixtures.fixedClock)
    val compacted = KafkaConnectors.keyedProjection(envelopes, compacted = true)
    compacted.write.mode("overwrite").parquet(s"$outDir/$name/out")
    compacted
  }
}

/** Session analytics → session envelopes.
  * reference job/session/UserSessionAnalysisJob.java:40-95.
  */
class UserSessionAnalysisJob extends GraftJob {
  val name = "UserSessionAnalysis"

  /** `carryCols`: typed session columns to keep alongside the envelope so
    * downstream consumers never `get_json_object` the payload they just
    * built — a JSON round-trip per row was the r3 bench tail. Unused carried
    * (or envelope) columns prune out of the plan for free.
    */
  def toEnvelop(
      sessions: DataFrame,
      clock: Column,
      carryCols: Seq[String] = Seq.empty): DataFrame =
    sessions.select(
      lit("SESSION_CLOSED").as("operation") +:
        lit(name).as("source") +:
        to_json(struct(
          col("key").as("_id"),
          col("actions"),
          col("event_count").as("count"))).as("payloadJson") +:
        timestamp_micros(col("session_end_us")).as("eventTime") +:
        clock.cast("timestamp").as("processedTime") +:
        concat(lit("trace-"), col("key"), lit("-"), col("session_start_us")).as("traceId") +:
        col("key").cast("string").as("primaryKey") +:
        map(
          lit("sessionStart"), col("session_start_us").cast("string"),
          lit("sessionEnd"), col("session_end_us").cast("string"),
          lit("eventCount"), col("event_count").cast("string"),
          lit("duration"), col("duration_ms").cast("string")).as("metadata") +:
        carryCols.map(col): _*)

  /** Streaming face: watermarked session_window aggregation (sessions emit
    * on close, once the watermark passes start+gap) → session envelopes.
    */
  def buildStreaming(envelopes: DataFrame, gap: String, outOfOrderness: String = "0 seconds"): DataFrame = {
    // null-key guard: sessions are per-key, so keyless rows are dropped
    // rather than merged into one null-key session
    val sessions = SessionAnalyzer("primaryKey", "eventTime", gap, outOfOrderness)
      .analyze(envelopes.filter(col("primaryKey").isNotNull), actionCol = "operation", tieCol = "traceId")
    toEnvelop(sessions, current_timestamp())
  }

  /** Streaming face with Flink `allowedLateness` parity
    * ([[graft.stateful.Processors.sessionsWithLateness]]): the first firing
    * maps to a SESSION_CLOSED envelope, late-event re-firings to
    * SESSION_UPDATED — an update changelog downstream compacts by
    * (primaryKey, sessionStart) last-firing-wins. Needs the RocksDB state
    * store provider, which [[graft.core.GraftSession]] sessions carry.
    */
  def buildStreamingWithLateness(
      envelopes: org.apache.spark.sql.Dataset[graft.model.StreamEnvelop],
      gapMs: Long,
      latenessMs: Long,
      outOfOrdernessMs: Long = 0
  ): DataFrame =
    graft.stateful.Processors
      .sessionsWithLateness(
        envelopes.filter((e: graft.model.StreamEnvelop) => e.primaryKey != null),
        gapMs, latenessMs, outOfOrdernessMs)
      .toDF()
      .select(
        when(col("firing") === 1, "SESSION_CLOSED").otherwise("SESSION_UPDATED").as("operation"),
        lit(name).as("source"),
        to_json(struct(
          col("key").as("_id"),
          col("actions"),
          col("eventCount").as("count"),
          col("firing"))).as("payloadJson"),
        timestamp_micros(col("sessionEndUs")).as("eventTime"),
        current_timestamp().as("processedTime"),
        concat(lit("trace-"), col("key"), lit("-"), col("sessionStartUs")).as("traceId"),
        col("key").as("primaryKey"),
        map(
          lit("sessionStart"), col("sessionStartUs").cast("string"),
          lit("sessionEnd"), col("sessionEndUs").cast("string"),
          lit("eventCount"), col("eventCount").cast("string"),
          lit("duration"), col("durationMs").cast("string"),
          lit("firing"), col("firing").cast("string")).as("metadata"))

  def runBatch(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val sessions = SessionAnalyzer("user_id", "ts", "4 hours")
      .analyze(Tables.events(spark, sfDir), "event_type", "event_id")
    val out = toEnvelop(sessions, JobFixtures.fixedClock)
    out.write.mode("overwrite").parquet(s"$outDir/$name/out")
    out
  }
}

/** Deterministic fixture inputs shared by job batch faces. */
object JobFixtures {
  val fixedClock: Column = lit("2024-07-01 00:00:00").cast("timestamp")

  /** Prebuild every persisted fixture (harness work — Bench calls this
    * before starting any timer so fixture construction never pollutes
    * query times).
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    cdcFixturePath(spark, sfDir)
    rawEnvelopesCached(spark, sfDir)
    ()
  }

  /** Path of the materialized CDC fixture for `sfDir` (built if absent) —
    * lets streaming probes FILE-STREAM the same frames the batch faces
    * read, instead of collecting them through a driver-side MemoryStream.
    * Fixture construction (JSON string building) is test harness work, not
    * engine work, so it is persisted once per events generation in
    * [[graft.data.ModelStore]] and read back.
    */
  def cdcFixturePath(spark: SparkSession, sfDir: String): String =
    graft.data.ModelStore.get(graft.data.ModelStore.files, sfDir, "events", "fixture-cdc")(
      cdcFromEvents(spark, sfDir).write.mode("overwrite").parquet(_))

  def cdcFromEventsCached(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(cdcFixturePath(spark, sfDir))

  def rawEnvelopesCached(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(
      graft.data.ModelStore.get(graft.data.ModelStore.files, sfDir, "events", "fixture-raw")(
        rawEnvelopes(spark, sfDir).write.mode("overwrite").parquet(_)))

  /** CDC frame derived from events (same derivation as the p2 query). */
  def cdcFromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val cents = round(col("value") * 100).cast("long")
    val ops = array(lit("c"), lit("update"), lit("d"), lit("replace"), lit("zz"))
    val op = element_at(ops, (col("event_id") % 5 + 1).cast("int"))
    e.select(
      op.as("op"),
      lit("testdb").as("db"),
      col("event_type").as("collection"),
      concat(lit("{\"_id\": "), col("user_id"), lit("}")).as("documentKey"),
      when(op === "d", lit(null).cast("string"))
        .otherwise(concat(lit("{\"_id\": "), col("user_id"), lit(", \"v\": "), cents, lit("}")))
        .as("fullDocument"),
      when(op === "update", concat(lit("{\"v\": "), cents, lit("}")))
        .otherwise(lit(null).cast("string")).as("updatedFields"),
      col("ts").as("eventTime"))
  }

  /** Raw envelope JSON strings; payloads carry `_id` (the upsert key). */
  def rawEnvelopes(spark: SparkSession, sfDir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, sfDir).withColumn(
      "payloadJson",
      concat(
        lit("{\"_id\": \""), col("primaryKey"), lit("\", \"k\": "),
        get_json_object(col("payloadJson"), "$.k"), lit("}")))
    env.select(
      to_json(
        struct(col("operation"), col("source"), col("payloadJson"), col("eventTime"),
          col("traceId"), col("primaryKey")),
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")).as("value"))
  }
}

// Singleton faces of the jobs for direct composition (queries/specs call
// e.g. `MongoToKafkaJob.runBatch`); the classes above exist so
// java.util.ServiceLoader can instantiate each job through its public
// no-arg constructor — jobs are stateless, so instances are equivalent.
object MongoToKafkaJob extends MongoToKafkaJob
object KafkaToMongoJob extends KafkaToMongoJob
object OrderPaymentJoinJob extends OrderPaymentJoinJob
object MergedIngestJob extends MergedIngestJob
object EventRouterJob extends EventRouterJob
object UserStateMaterializeJob extends UserStateMaterializeJob
object UserSessionAnalysisJob extends UserSessionAnalysisJob

/** Job SPI: name → job, discovered via `java.util.ServiceLoader` over
  * `META-INF/services/graft.jobs.GraftJob` (reference
  * core/launcher/JobRegistry.java + Launcher.java +
  * META-INF/services/com.streamforge.core.launcher.StreamJob): a user adds
  * a job by shipping a GraftJob implementation and a services entry on the
  * classpath — no registry edit, no rebuild of this library.
  */
object JobRegistry {
  val jobs: Map[String, GraftJob] = {
    import scala.jdk.CollectionConverters._
    // context classloader first: in a Spark deployment user jars land in
    // the executor/driver child loader, which the library's own defining
    // loader cannot see — scoping to it would silently drop user jobs
    val loader = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(classOf[GraftJob].getClassLoader)
    val loaded = java.util.ServiceLoader.load(classOf[GraftJob], loader).asScala.toSeq
    require(loaded.nonEmpty, "JobRegistry: no GraftJob services on the classpath")
    val dup = loaded.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"JobRegistry: duplicate job names on the classpath: ${dup.mkString(", ")}")
    loaded.map(j => j.name -> j).toMap
  }
}

object Launcher {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, s"usage: Launcher <job> [sfDir] [outDir]; jobs: ${JobRegistry.jobs.keys.mkString(", ")}")
    val job = JobRegistry.jobs.getOrElse(
      args(0),
      throw new IllegalArgumentException(s"unknown job ${args(0)}; jobs: ${JobRegistry.jobs.keys.mkString(", ")}"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 2) args(2) else "/tmp/graft-jobs"
    val spark = graft.core.GraftSession.getOrCreate(s"graft-${job.name}")
    val out = job.runBatch(spark, sfDir, outDir)
    println(s"[${job.name}] rows=${out.count()}")
    spark.stop()
  }
}
