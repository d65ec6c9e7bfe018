package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: a SparkListener (tasks, stages, jobs) and a query
  * execution listener (files scanned) that count inside a measurement
  * window, plus an in-memory span list written as JSON when the run ends.
  * Jobs are attributed to a micro-batch through Spark's own
  * `streaming.sql.batchId` job property and to a curation face through the
  * `perfbench.face` property the batch driver sets.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  @volatile private var active = false
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOwner = new ConcurrentHashMap[Int, JobRec]()
  private val stageShuffleRead = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val counters = Seq("cpu_ns", "gc_ms", "spill_bytes", "shuffle_write_bytes", "scan_bytes",
    "output_bytes", "scan_files").map(_ -> new LongAdder).toMap
  private val faceShuffle = new ConcurrentHashMap[String, LongAdder]()
  val spans = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val p = Option(e.properties)
      val rec = JobRec(e.jobId, e.time,
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong),
        p.flatMap(x => Option(x.getProperty(FaceKey))))
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageOwner.put(_, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      counters("cpu_ns").add(m.executorCpuTime)
      counters("gc_ms").add(m.jvmGCTime)
      counters("spill_bytes").add(m.memoryBytesSpilled + m.diskBytesSpilled)
      counters("shuffle_write_bytes").add(m.shuffleWriteMetrics.bytesWritten)
      counters("scan_bytes").add(m.inputMetrics.bytesRead)
      counters("output_bytes").add(m.outputMetrics.bytesWritten)
      val read = m.shuffleReadMetrics.totalBytesRead
      if (read > 0) stageShuffleRead.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized { stageShuffleRead.get(e.stageId) += read }
      Option(stageOwner.get(e.stageId)).flatMap(_.face).foreach { f =>
        faceShuffle.computeIfAbsent(f, _ => new LongAdder).add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) counters("scan_files").add(numFiles(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Count events from now on (queued events from before are drained first). */
  def start(): Unit = { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); active = true }

  /** Stop counting once every event already posted has been seen. */
  def stop(): Unit = { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); active = false }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def jobRecs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  def addSpan(name: String, parent: Int, startMs: Long, endMs: Long, attrs: Map[String, Any] = Map.empty): Int = {
    val id = spans.size + 1
    spans += Span(id, name, parent, startMs, endMs, attrs)
    id
  }

  /** Job spans under `parent`. */
  def addJobSpans(parent: Int, js: Seq[JobRec]): Unit =
    js.foreach(j => addSpan(s"job ${j.id}", parent, j.start, math.max(j.end, j.start)))

  /** Wall time inside [from, to] that no running job covers. */
  def gapMs(from: Long, to: Long, js: Seq[JobRec]): Long = {
    var covered = 0L
    var cur = from
    js.map(j => (math.max(j.start, from), math.min(math.max(j.end, j.start), to)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > cur) { covered += e - math.max(s, cur); cur = e }
      }
    (to - from) - covered
  }

  /** Task / exchange / scan / driver counters for the window [from, to]. */
  def summary(from: Long, to: Long): Map[String, Double] = {
    def c(k: String) = counters(k).sum().toDouble
    val skews = stageShuffleRead.values.asScala.toSeq
      .map(_.sorted).filter(s => s.size >= 2 && s(s.size / 2) > 0)
      .map(s => s.last.toDouble / s(s.size / 2))
    Map(
      "tasks.cpu_ms" -> c("cpu_ns") / 1e6,
      "tasks.gc_ms" -> c("gc_ms"),
      "tasks.spill_bytes" -> c("spill_bytes"),
      "exchange.shuffle_write_bytes" -> c("shuffle_write_bytes"),
      "exchange.skew_max_over_median" -> (if (skews.isEmpty) 1.0 else median(skews)),
      "scan.bytes" -> c("scan_bytes"),
      "scan.files" -> c("scan_files"),
      "driver.gap_ms" -> gapMs(from, to, jobRecs).toDouble)
  }

  def outputBytes: Double = counters("output_bytes").sum().toDouble

  def faceShuffleBytes(face: String): Double =
    Option(faceShuffle.get(face)).map(_.sum().toDouble).getOrElse(0.0)
}

object Recorder {
  val FaceKey = "perfbench.face"

  final case class JobRec(id: Int, start: Long, batchId: Option[Long], face: Option[String]) {
    @volatile var end: Long = start
  }

  final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long, attrs: Map[String, Any])

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Files read by every file scan of an executed plan, through AQE stages
    * and command wrappers.
    */
  def numFiles(p: SparkPlan): Long = p match {
    case c: CommandResultExec => numFiles(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => numFiles(a.executedPlan)
    case q: QueryStageExec => numFiles(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(numFiles).sum + other.subqueries.map(numFiles).sum
  }
}
