package graft.stateful

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-value-per-key materialized view emitting a changelog.
  * Reference pattern/materialization/Materializer.java:19-166:
  * first value per key → INSERT(before=null); subsequent → mergeFunction
  * (default last-write-wins) → UPDATE(before, merged); deletePredicate hit →
  * DELETE(before, null) + state clear; delete with no state → no emission.
  *
  * This is the batch face; the streaming face, with the reference's state
  * TTL, is [[Processors.materialize]].
  */
final case class Materializer(keyCol: String, payloadCol: String, deletePredicate: Column) {

  /** Batch face: the full changelog replay, per key in (ts, tie) order.
    * `after`-state of each row is payload (or null on delete); `before` is the
    * previous row's after-state — a single window pass, one shuffle.
    * Output columns: key, change_type, before, after, ts.
    */
  def batchChangelog(df: DataFrame, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val afterState = when(deletePredicate, lit(null).cast("string")).otherwise(col(payloadCol))
    df.withColumn("_after_state", afterState)
      .withColumn("_before", lag(col("_after_state"), 1).over(w))
      .withColumn(
        "change_type",
        when(deletePredicate && col("_before").isNotNull, "DELETE")
          .when(deletePredicate, lit(null).cast("string")) // delete w/o state: skip
          .when(col("_before").isNull, "INSERT")
          .otherwise("UPDATE")
      )
      .filter(col("change_type").isNotNull)
      .select(
        col(keyCol).as("key"),
        col("change_type"),
        col("_before").as("before"),
        col("_after_state").as("after"),
        col(tsCol).as("ts")
      )
  }
}
