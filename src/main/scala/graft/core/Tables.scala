package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet corpus.
  *
  * Every loader is a plain parquet scan, so Catalyst pushes filters and prunes
  * columns into the scan (`PushedFilters`/`ReadSchema`) — queries should select
  * only what they need and let the optimizer do the rest.
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS) which Spark only reads as a long
    * (spark.sql.legacy.parquet.nanosAsLong=true, set in GraftSession).
    * Normalize to a microsecond TIMESTAMP here — `div 1000` floors like the
    * DuckDB `CAST(ts AS TIMESTAMP)` the oracle uses.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The `events` table viewed as a stream of [[graft.model.StreamEnvelop]]s.
    *
    * Deterministic mapping (no wall-clock, no uuid) so the DuckDB oracle can
    * reproduce it:  operation cycles insert/update/delete/unknown by event_id,
    * source = event_type, payload = props, primaryKey = user_id,
    * eventTime = ts (truncated to microseconds by the parquet reader).
    */
  def eventsAsEnvelopes(spark: SparkSession, dir: String): DataFrame = {
    val ops = Seq("insert", "update", "delete", "unknown")
    events(spark, dir).select(
      element_at(
        array(ops.map(lit): _*),
        (col("event_id") % ops.size + 1).cast("int")
      ).as("operation"),
      col("event_type").as("source"),
      col("props").as("payloadJson"),
      col("ts").as("eventTime"),
      col("ts").as("processedTime"),
      concat(lit("trace-"), col("event_id")).as("traceId"),
      col("user_id").cast("string").as("primaryKey"),
      map(lit("ingestSource"), col("event_type")).as("metadata"),
      col("event_id"),
      col("value")
    )
  }

  /** SQL fragment for the DuckDB oracle equivalent of [[eventsAsEnvelopes]]. */
  val envelopesSql: String =
    """SELECT
      |  CASE CAST(event_id % 4 AS INT)
      |    WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
      |    WHEN 2 THEN 'delete' ELSE 'unknown' END AS operation,
      |  event_type AS source,
      |  props AS payloadJson,
      |  CAST(ts AS TIMESTAMP) AS eventTime,
      |  CAST(ts AS TIMESTAMP) AS processedTime,
      |  'trace-' || CAST(event_id AS VARCHAR) AS traceId,
      |  CAST(user_id AS VARCHAR) AS primaryKey,
      |  event_id, value
      |FROM events""".stripMargin
}
