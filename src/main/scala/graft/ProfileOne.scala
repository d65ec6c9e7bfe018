package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Measurement harness (guide §1): run one SparkEntry query in a warm JVM
  * with a job-level listener and print, for the LAST rep, every Spark job's
  * wall time, the driver-side gap before it (catalog ops, filesystem IO,
  * planning — anything that is not a running job), and the call site that
  * launched it. This splits a face's warm seconds into "executor work per
  * job" vs "driver work between jobs", which per-query totals cannot see.
  *
  * usage: runMain graft.ProfileOne <query> [sfDir] [reps]
  */
object ProfileOne {
  private case class J(id: Int, site: String, start: Long, var end: Long = 0L,
      stages: Seq[String] = Seq.empty)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <query>[,<query>...] [sfDir] [reps]")
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.core.GraftSession.getOrCreate("graft-profile")
    // the fixtures Bench warms, built outside the timers, so rep times
    // compare with Bench's per-face times
    SparkEntry.warm(spark, sfDir)
    val jobs = mutable.ArrayBuffer[J]()
    // @volatile: written by the main thread, read on the listener-bus
    // thread — without it the last-rep recording can miss early jobs to
    // visibility lag, skewing the gap/job split this tool measures
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        if (record) {
          val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
          val stages = e.stageInfos.map(s => s"${s.stageId}:${s.name.take(60)}#${s.numTasks}").toSeq
          jobs += J(e.jobId, site, e.time, stages = stages)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var t0 = 0L
      var tEnd = 0L
      (1 to reps).foreach { rep =>
        jobs.synchronized { jobs.clear() }
        record = rep == reps
        t0 = System.currentTimeMillis()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        tEnd = System.currentTimeMillis()
        println(f"[profile] $name rep$rep ${(tEnd - t0) / 1e3}%.3f s")
      }
      // give the listener bus a moment to drain
      Thread.sleep(500)
      val wall = (tEnd - t0).toDouble
      val js = jobs.synchronized { jobs.toSeq.sortBy(_.start) }
      var prevEnd = t0
      var jobMs = 0L
      var gapMs = 0L
      println(f"[profile] $name last-rep wall ${wall / 1000}%.3f s, ${js.size} jobs")
      js.foreach { j =>
        val dur = j.end - j.start
        val gap = math.max(0L, j.start - prevEnd)
        jobMs += math.max(0L, dur)
        gapMs += gap
        println(f"[profile]   gap${gap}%5d ms | job ${j.id}%4d ${dur}%6d ms | ${j.site.take(110)}")
        if (dur > 300) j.stages.foreach(s => println(s"[profile]       stage $s"))
        prevEnd = math.max(prevEnd, j.end)
      }
      val tailGap = math.max(0L, tEnd - prevEnd)
      println(f"[profile] $name jobs ${jobMs}%d ms, gaps ${gapMs}%d ms, tail $tailGap%d ms, wall ${wall}%.0f ms")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
