package graft.stateful

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-seen-wins dedup by key.
  * Reference pattern/dedup/Deduplicator.java:18-72: ValueState<Boolean> "seen"
  * with StateTtlConfig; duplicates are dropped.
  *
  * Batch faces only: `batch` is the global first-seen per key (TTL = ∞) via
  * row_number — one shuffle on the key, the classic distributed dedup — and
  * `batchWithin` the same survivors windowed by a parent key. The streaming
  * face, with the reference's processing-time TTL, is
  * [[Processors.dedup]] (fused with change-suppression for CDC in
  * [[Processors.cdcPipeline]]).
  */
final case class Deduplicator(keyCols: Seq[String]) {

  /** Keep the first row per key, ordered by (tsCol, tieCol). */
  def batch(df: DataFrame, tsCol: String, tieCol: String): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** First row per (partitionCols ++ subKeyCols), like [[batch]] with
    * keyCols = partitionCols ++ subKeyCols, but the window partitions ONLY
    * by partitionCols, ordering by (subKeys, ts, tie) and keeping a row when
    * its subkey differs from the previous row's. Survivors are identical to
    * [[batch]]'s; the point is the EXCHANGE: when a downstream operator
    * windows on partitionCols with the same leading sort keys (the CDC
    * pipeline's change-suppression does), both stages share one shuffle and
    * one sort instead of two of each — at 100 TB that halves the pipeline's
    * shuffled bytes.
    */
  def batchWithin(
      df: DataFrame,
      partitionCols: Seq[String],
      subKeyCols: Seq[String],
      tsCol: String,
      tieCol: String
  ): DataFrame = {
    val orderCols = (subKeyCols ++ Seq(tsCol, tieCol)).distinct.map(col)
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols: _*)
    val sub = struct(subKeyCols.map(col): _*)
    df.withColumn("_prev_sub", lag(sub, 1).over(w))
      .filter(!(col("_prev_sub") <=> sub))
      .drop("_prev_sub")
  }
}
