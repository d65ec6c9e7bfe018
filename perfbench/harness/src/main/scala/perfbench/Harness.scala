package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload inside one Spark JVM and writes what
  * it measured to `<work>/harness.json` (and `<work>/spans.json` when traced).
  * `perfbench/run.py` launches it, feeds it generated inputs and turns the
  * raw measurements into metrics; it is not meant to be run by hand.
  *
  *   Harness --workload <name> --work <dir> --cores <n> --trace <0|1>
  *           --t0-ms <epoch ms the run started>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val cores = opts("cores").toInt
    val trace = opts("trace") == "1"
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("t0_ms") = opts("t0-ms").toLong
    LiveHeap.install()
    val spark = session(workload, work, cores)
    out("session_ready_ms") = System.currentTimeMillis()
    val recorder = if (trace) Some(new Recorder(spark)) else None
    val ok =
      try {
        workload match {
          case "cdc_stream" => Streams.cdc(spark, work, out, recorder)
          case "upsert_stream" => Streams.upsert(spark, work, out, recorder)
          case "curation_batch" => Curation.run(spark, work, out, recorder)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        true
      } catch {
        case e: Throwable => e.printStackTrace(); false
      } finally {
        recorder.foreach { r =>
          r.close()
          Files.writeString(Paths.get(work, "spans.json"), Json.write(r.spans))
        }
        Files.writeString(Paths.get(work, "harness.json"), Json.write(out))
      }
    System.out.flush()
    System.err.flush()
    // everything is on disk: skip Spark's shutdown, which only stops the
    // context and deletes scratch directories under the work dir
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  private def session(workload: String, work: String, cores: Int): SparkSession = {
    val b = graft.core.GraftSession
      .builder(s"perfbench-$workload", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (workload == "cdc_stream")
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Records the JVM's memory at the end of the measured phase: peak resident
    * memory (VmHWM) and the peak heap occupancy seen after a collection.
    */
  def recordMemory(out: Results.T): Unit = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    out("peak_rss_mb") = line.split("\\s+")(1).toDouble / 1024.0
    out("live_heap_peak_mb") = LiveHeap.peakBytes.get / 1048576.0
  }

  /** Median wall seconds of `reps` runs of `body`. */
  def medianSeconds(reps: Int)(body: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }.sorted
    ts(ts.size / 2)
  }
}

/** Peak heap occupancy right after a collection: what the program keeps
  * live, as opposed to the fixed heap size that dominates resident memory.
  */
object LiveHeap {
  val peakBytes = new AtomicLong()

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakBytes.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Raw measurements of a run, written as harness.json in insertion order. */
object Results {
  type T = mutable.LinkedHashMap[String, Any]
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
