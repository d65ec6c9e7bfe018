package graft.parsers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw JSON string → StreamEnvelop, with corrupt rows routed to a DLQ frame.
  * Semantics from reference core/parser/StreamEnvelopParser.java:22-86:
  * pre-filter strings that aren't `{...}`, parse failures become
  * DlqEvent(PARSING_ERROR) and are dropped from the main flow, eventTime
  * defaults to now when absent, processedTime is stamped at parse.
  *
  * DLQ is a first-class second output (split datasets) rather than the
  * reference's singleton side-channel producer — more Spark-native and
  * testable (SURVEY §2.2 K4).
  */
object EnvelopeParser {

  val envelopeSchema: StructType = StructType(Seq(
    StructField("operation", StringType),
    StructField("source", StringType),
    StructField("payloadJson", StringType),
    StructField("eventTime", TimestampType),
    StructField("processedTime", TimestampType),
    StructField("traceId", StringType),
    StructField("primaryKey", StringType),
    StructField("metadata", MapType(StringType, StringType))
  ))

  private def looksLikeJson(c: Column): Column =
    c.isNotNull && c.startsWith("{") && c.endsWith("}")

  // from_json never yields a null struct for a `{...}`-shaped line: a
  // malformed one (e.g. `{"operation":"insert","source"}`) parses to a
  // struct of nulls. The parser fills the corrupt-record field exactly when
  // the line does not parse, which routes it to PARSING_ERROR.
  private val corruptField = "_corrupt_record"
  private val parseSchema = envelopeSchema.add(corruptField, StringType)

  /** `df` plus the parsed envelope struct `_env`, NULL for a line that is
    * not a JSON envelope. Split it with [[split]]; persist it in between
    * to parse once for both outputs.
    *
    * ComputeOnce pins the parse to ONE evaluation per row: without it,
    * filter pushdown substitutes the `_env` alias into every downstream
    * predicate and OptimizeJsonExprs prunes each copy's schema differently,
    * defeating subexpression elimination — the measured DLQ plan carried
    * ~10 separate full from_json(value) parses per row in the scan-level
    * filter. Predicates below this projection would have to re-parse by
    * construction, so there is nothing useful to push down anyway.
    */
  def withEnvelope(df: DataFrame, valueCol: String): DataFrame = {
    val raw = col(valueCol)
    df.withColumn(
      "_env",
      graft.functions.ComputeOnce(when(
        looksLikeJson(raw),
        from_json(raw, parseSchema, Map("columnNameOfCorruptRecord" -> corruptField)))))
      .withColumn("_env", when(col(s"_env.$corruptField").isNull, col("_env")))
  }

  /** (envelopes, dlq) of a [[withEnvelope]] frame.
    *
    * `clock` is injectable for deterministic verification; defaults to
    * current_timestamp() like the reference's Instant.now().
    */
  def split(
      parsed: DataFrame,
      valueCol: String,
      clock: Column = current_timestamp(),
      source: String = "kafka"
  ): (DataFrame, DataFrame) = {
    val ok = parsed.filter(col("_env").isNotNull)
    val good = ok.select(
      col("_env.operation").as("operation"),
      col("_env.source").as("source"),
      col("_env.payloadJson").as("payloadJson"),
      coalesce(col("_env.eventTime"), clock.cast("timestamp")).as("eventTime"),
      clock.cast("timestamp").as("processedTime"),
      col("_env.traceId").as("traceId"),
      col("_env.primaryKey").as("primaryKey"),
      col("_env.metadata").as("metadata")
    )
    val bad = parsed
      .filter(col("_env").isNull)
      .select(
        lit(graft.model.ErrorCodes.ParsingError).as("errorType"),
        lit("invalid envelope json").as("errorMessage"),
        lit(source).as("source"),
        clock.cast("timestamp").as("timestamp"),
        col(valueCol).as("rawEvent"),
        lit(null).cast("string").as("stacktrace")
      )
    (good, bad)
  }

  /** Parse `valueCol`; returns (envelopes, dlq): lines that are not a
    * `{...}` object, or do not parse as JSON, become PARSING_ERROR dead
    * letters — the reference's two rejection paths.
    */
  def parse(
      df: DataFrame,
      valueCol: String,
      clock: Column = current_timestamp(),
      source: String = "kafka"
  ): (DataFrame, DataFrame) =
    split(withEnvelope(df, valueCol), valueCol, clock, source)
}
