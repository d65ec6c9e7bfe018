package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.JobFixtures

/** Driver-gate coverage for the custom DataSource V2 change-stream source
  * (SURVEY §2.1 S3/S4): the events-derived CDC fixture is materialized once
  * as a JSONL change log, then read back through `format("graft-cdc")` with
  * 4 hash-mod splits — the oracle derives the same rows from `events`
  * directly, so a hash-match proves the source (partitioning, JSON decode,
  * timestamp micros) is lossless and exactly-once across splits.
  */
object SourceQueries {

  /** The change log, persisted per events generation in
    * [[graft.data.ModelStore]]: one `log.jsonl` segment.
    */
  private def changeLogDir(spark: SparkSession, dir: String): String =
    graft.data.ModelStore.get(graft.data.ModelStore.files, dir, "events", "cdclog") { stage =>
      JobFixtures
        .cdcFromEventsCached(spark, dir)
        .select(
          to_json(
            struct(
              col("op"), col("db"), col("collection"), col("documentKey"),
              col("fullDocument"), col("updatedFields"), col("eventTime")),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
          ).as("value"))
        .coalesce(1)
        .write.mode("overwrite").text(stage)
      val part = new java.io.File(stage).listFiles().filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(stage, "log.jsonl"))
    }

  /** Prebuild the change-log fixture (harness work — Bench calls this before
    * starting any timer so fixture construction never pollutes query times).
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    changeLogDir(spark, dir)
    ()
  }

  def s3CdcV2Source(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .format("graft-cdc")
      .option("path", changeLogDir(spark, dir))
      .option("numSplits", "4")
      .load()
      .select(
        col("op"),
        get_json_object(col("documentKey"), "$._id").as("id"),
        get_json_object(col("fullDocument"), "$.v").as("v"),
        unix_micros(col("eventTime")).as("ev_us"))

  val s3Sql: String =
    """SELECT
      |  CASE CAST(event_id % 5 AS INT)
      |    WHEN 0 THEN 'c' WHEN 1 THEN 'update' WHEN 2 THEN 'd'
      |    WHEN 3 THEN 'replace' ELSE 'zz' END AS op,
      |  CAST(user_id AS VARCHAR) AS id,
      |  CASE WHEN event_id % 5 = 2 THEN NULL
      |       ELSE CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR) END AS v,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS ev_us
      |FROM events""".stripMargin

  /** Transactional-log-sink contract as an oracle row: three deterministic
    * epochs of envelopes are committed through [[graft.connectors.TxnLogSink]]
    * with epoch 1 REPLAYED (the failure-recovery path) — the committed log
    * must contain each epoch exactly once, in commit order, with the zombie
    * replay fenced out.
    *
    * The topic lives in a fresh temp dir per (JVM, events generation),
    * held as a JVM value in [[graft.data.ModelStore]]: a repeated run
    * re-commits the same epochs into it, which the sink skips as already
    * committed, so the answer is a pure function of the fixture; a
    * rewritten corpus gets a new topic, and the store deletes the old one
    * (and the live one at JVM exit). No shared path, so two concurrent
    * evaluations (bench + oracle gate, parallel suites) never touch each
    * other's log.
    */
  def kTxnLog(spark: SparkSession, dir: String): DataFrame = {
    val topicDir = graft.data.ModelStore.get(
        graft.data.ModelStore.jvm[java.nio.file.Path], dir, "events", "txnlog")(
      java.nio.file.Files.createTempDirectory("graft-txnlog"))
    val sink = graft.connectors.TxnLogSink(s"$topicDir/topic")
    val env = graft.core.Tables.eventsAsEnvelopes(spark, dir)
      .select(col("primaryKey"), col("traceId"), col("event_id"))
    (0L to 2L).foreach(b => sink.writer("vq")(env.filter(col("event_id") % 3 === b), b))
    // failure replay of epoch 1 with zombie data — the fence must discard it
    sink.writer("vq")(env.filter(col("event_id") % 3 === 1).withColumn("traceId", lit("ZOMBIE")), 1L)
    sink.read(spark)
      .groupBy(col("_commit_order").as("epoch"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        max((col("traceId") === "ZOMBIE").cast("int")).as("zombie_seen"))
  }

  // HUGEINT audit: DuckDB SUM(BIGINT) returns HUGEINT, which the driver's
  // hash canonicalizes as float — every SUM-derived OUTPUT column must be
  // CAST to BIGINT (or DOUBLE when the query semantics are fractional).
  // SUMs that only feed GROUP BY keys (session sids) are exempt.
  val kTxnLogSql: String =
    """SELECT event_id % 3 AS epoch, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
      |  0 AS zombie_seen
      |FROM events GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s3_cdcv2_source" -> s3CdcV2Source,
    "k_txn_log" -> kTxnLog
  )

  val oracles: Map[String, String] = Map(
    "s3_cdcv2_source" -> s3Sql,
    "k_txn_log" -> kTxnLogSql
  )
}
