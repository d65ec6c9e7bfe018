package graft.connectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Change-stream source.
  *
  * The reference's custom CDC connector
  * (connector/mongo/MongoChangeStreamSource.java:30-328) tails a Mongo change
  * stream, checkpoints the resume token in split state, and prunes
  * server-side with a hash-mod `$match` on `documentKey._id`
  * (buildHashModPipeline :49-57); MultiCdcSourceBuilder unions N such
  * readers, so each event is read by exactly one cursor.
  *
  * Spark mapping (zero-egress fixture route): the change log is a directory
  * of JSON change events consumed with the file stream source —
  * Structured Streaming's checkpoint plays the resume token role exactly
  * (offsets are committed per micro-batch, restart resumes after the last
  * committed batch; an invalid/lost checkpoint falls back to a fresh cursor
  * like the reference's token-invalid path). The N-way split is ONE reader
  * here: a file source cannot prune by key, so N filtered readers would each
  * list and parse every file (N× the read for the same rows — the union of
  * the disjoint hash-mod branches is the unfiltered stream), and the keyed
  * state pass downstream already hash-partitions by key, which is the
  * reference's per-split parallelism. `CdcV2` keeps a real hash-mod split
  * for sources that can prune per partition.
  */
object CdcSource {

  val cdcSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("db", StringType),
    StructField("collection", StringType),
    StructField("documentKey", StringType), // JSON: {"_id": ...}
    StructField("fullDocument", StringType),
    StructField("updatedFields", StringType),
    StructField("eventTime", TimestampType)
  ))

  /** The change stream (streaming), one reader over the change-log
    * directory (reference MultiCdcSourceBuilder.java:20-42 — see above for
    * why its N splits are one reader here).
    */
  def multi(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(cdcSchema)
      .option("maxFilesPerTrigger", "16")
      .json(path)

  @deprecated("the split count no longer changes the stream; use multi(spark, path)", "0.1.0")
  def multi(spark: SparkSession, path: String, numSplits: Int): DataFrame = multi(spark, path)

  /** Batch face over the same change-log directory (for replay/backfill and
    * the correctness harness).
    */
  def batch(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(cdcSchema).json(path)
}
