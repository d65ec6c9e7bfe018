package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Forwarder around the `private[sql]` datasource constructors (the
  * [[org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess]]
  * precedent): write and read a bucketed parquet DIRECTORY with no catalog
  * table, so [[graft.connectors.Bucketing]]'s marker file is the one
  * description of an index's layout.
  *
  * Spark refuses `bucketBy` on a path write (`save`/`parquet(path)`,
  * `_LEGACY_ERROR_TEMP_1313`) and a path read drops the bucket spec, so
  * both halves go through the same `DataSource`/`HadoopFsRelation`
  * machinery a catalog table plans, with the bucket spec passed in by the
  * caller instead of looked up in a metastore.
  */
object GraftBucketedParquet {

  private def spec(keyCol: String, nBuckets: Int): BucketSpec =
    BucketSpec(nBuckets, Seq(keyCol), Seq(keyCol))

  /** Write `df` into `dir` bucketed and sorted by `keyCol` into `nBuckets`:
    * one `part-…_<bucketId>` file per (task, bucket), the names Spark's
    * bucketed scan reads back. Runs in `df`'s own session (under
    * `foreachBatch`, the micro-batch clone).
    */
  def write(df: DataFrame, dir: String, keyCol: String, nBuckets: Int, mode: SaveMode): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val command = DataSource(
      ds.sparkSession,
      "parquet",
      bucketSpec = Some(spec(keyCol, nBuckets)),
      options = Map("path" -> dir)).planForWriting(mode, ds.logicalPlan)
    ds.sparkSession.sessionState.executePlan(command).assertCommandExecuted()
  }

  /** The bucketed parquet layout under `dir` as a DataFrame that keeps its
    * bucket spec (`SelectedBucketsCount` pruning, exchange-free joins on
    * `keyCol`). The directory is listed ONCE, here, and never refreshed
    * (`NoopCache`): the frame is a snapshot of the files present at this
    * call. Files added later are not seen, and a file deleted later (a
    * compaction's swap) fails the scan loudly at action time.
    */
  def read(
      spark: SparkSession,
      dir: String,
      schemaDdl: String,
      keyCol: String,
      nBuckets: Int
  ): DataFrame = {
    // file reads declare every column nullable, as a catalog read does
    val schema = StructType.fromDDL(schemaDdl).asNullable
    val index = new InMemoryFileIndex(spark, Seq(new Path(dir)), Map.empty, Some(schema), NoopCache)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = Some(spec(keyCol, nBuckets)),
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LogicalRelation(relation))
  }
}
