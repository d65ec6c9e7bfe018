package graft.stateful

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Emitted by the streaming detector: `kind` ∈ {DISRUPTED, RECOVERED}. */
case class FlowSignal(key: String, lastEventTime: Timestamp, at: Timestamp, kind: String)

/** Per-key silence-detector state. */
case class FlowState(lastEventMs: Long, disrupted: Boolean)

/** Per-key silence detector.
  * Reference pattern/observability/FlowDisruptionDetector.java:17-91: each
  * event (re)arms a per-key processing-time timer; if it fires with no new
  * events the key is marked disrupted, and the next event logs a recovery.
  *
  * Two faces:
  *  - `detectBatch`: the batch/forensic view — finds every inter-event gap
  *    larger than the timeout per key. One shuffle (window partitionBy key).
  *  - streaming: [[Processors.flowDisruption]] — transformWithState with a
  *    processing-time timer, the Spark equivalent of the Flink timer.
  */
object FlowDisruptionDetector {

  /** Gaps > timeoutMs between consecutive events of a key.
    * Output: key, prev_us, ts_us, gap_us (epoch micros — oracle-comparable).
    */
  def detectBatch(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      timeoutMs: Long
  ): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("ts_us"), col(tieCol))
    df.select(
        col(keyCol),
        col(tieCol),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us")
      )
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_us").isNotNull && col("ts_us") - col("prev_us") > timeoutMs * 1000L)
      .select(
        col(keyCol),
        col("prev_us"),
        col("ts_us"),
        (col("ts_us") - col("prev_us")).as("gap_us")
      )
  }
}
