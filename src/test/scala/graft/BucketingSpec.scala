package graft

import graft.connectors.Bucketing
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** Write width of the bucketed index layout: the shuffle ahead of every
  * bucketed write runs [[Bucketing.writeWidth]] tasks, and the layout
  * (one file per bucket, co-located joins) is what it was at one task per
  * bucket.
  */
class BucketingSpec extends SparkSpec with Eventually {
  import spark.implicits._

  test("writeWidth: the smallest divisor of nBuckets with the shortest critical path") {
    val cases = Seq(
      // (nBuckets, slots) -> tasks
      (64, 4) -> 4, // 16 buckets per task in one wave
      (64, 6) -> 64, // 6 tasks would take 11 buckets each on the slowest slot
      (64, 32) -> 32,
      (64, 128) -> 64,
      (8, 4) -> 4,
      (7, 4) -> 7, // prime: one task per bucket, as before
      (4, 4) -> 4,
      (1, 4) -> 1)
    cases.foreach { case ((n, slots), want) =>
      assert(Bucketing.writeWidth(n, slots) === want, s"writeWidth($n, $slots)")
    }
  }

  test("64-bucket ensure -> append -> compact: one file per bucket per write from writeWidth tasks, same rows, exchange- and sort-free self-join") {
    val dir = tmpDir("graft_bkt_width").toString
    val nBuckets = 64
    val width = Bucketing.writeWidth(nBuckets, spark.sparkContext.defaultParallelism)
    def slice(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(($"id" % 997).as("k"), $"id".as("v"))
    def bucketOf(name: String): Int = """.*_(\d+)(?:\..*)?$""".r
      .findFirstMatchIn(name).map(_.group(1).toInt)
      .getOrElse(fail(s"$name carries no bucket id"))
    def dataFiles: Set[String] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSet
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName)
    def assertOneFilePerBucket(files: Set[String], what: String): Unit = {
      val ids = files.toSeq.map(bucketOf)
      assert(ids.distinct.length === ids.length, s"$what: two files in one bucket: ${ids.sorted}")
      assert(ids.forall(id => id >= 0 && id < nBuckets), s"$what: bucket id out of range")
    }
    def assertRows(got: DataFrame, want: DataFrame): Unit = {
      assert(got.exceptAll(want).count() === 0L)
      assert(want.exceptAll(got).count() === 0L)
    }
    // task counts of completed stages that read a shuffle: the write stage
    // of every bucketed write (parquet listing jobs read no shuffle)
    val shuffleReadStages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.parentIds.nonEmpty) shuffleReadStages.add(Int.box(e.stageInfo.numTasks))
    }
    def writeTasks(write: => Unit): Int = {
      shuffleReadStages.clear()
      write
      eventually(timeout(Span(10, Seconds))) { assert(!shuffleReadStages.isEmpty) }
      Thread.sleep(200) // listener bus is async: let any further stage land
      val seen = shuffleReadStages.toArray(Array.empty[Integer]).toSeq.map(_.intValue)
      assert(seen.length === 1, s"expected one shuffle-reading stage, saw tasks $seen")
      seen.head
    }
    def assertCoLocatedSelfJoin(t: DataFrame, what: String): Unit = {
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
        "spark.sql.legacy.bucketedTableScan.outputOrdering")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      try {
        // AQE off so the plan collect sees the physical operators; the
        // legacy ordering flag lets a one-file-per-bucket scan report its
        // sort order, so a Sort appears only if a bucket holds several files
        // or its file is not sorted by the key
        keys.zip(Seq("-1", "false", "true")).foreach { case (k, v) => spark.conf.set(k, v) }
        val u = t.select($"k".as("k2"), $"v".as("v2"))
        val plan = t.join(u, t("k") === u("k2")).queryExecution.executedPlan
        assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$what: bucketed self-join shuffles:\n$plan")
        assert(plan.collect { case s: SortExec => s }.isEmpty,
          s"$what: bucketed self-join sorts:\n$plan")
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    spark.sparkContext.addSparkListener(listener)
    try {
      val ensureTasks = writeTasks(
        Bucketing.ensureBucketed(spark, slice(0, 6000), dir, "k", nBuckets, "s0"): Unit)
      assert(ensureTasks === width, "ensureBucketed write stage")
      val built = dataFiles
      assert(built.size === nBuckets, s"997 keys must fill all $nBuckets buckets")
      assertOneFilePerBucket(built, "ensureBucketed")
      assertRows(Bucketing.read(spark, dir), slice(0, 6000))
      assertCoLocatedSelfJoin(Bucketing.read(spark, dir), "ensureBucketed")

      val appendTasks = writeTasks(
        Bucketing.appendBucketed(spark, slice(6000, 9000), dir, "k", nBuckets, "s1"): Unit)
      assert(appendTasks === width, "appendBucketed write stage")
      val appended = dataFiles -- built
      assert(appended.nonEmpty)
      assertOneFilePerBucket(appended, "appendBucketed")
      assertRows(Bucketing.read(spark, dir), slice(0, 9000))

      val compactTasks = writeTasks(
        Bucketing.compactBucketed(spark, dir, "k", nBuckets): Unit)
      assert(compactTasks === width, "compactBucketed write stage")
      assertOneFilePerBucket(dataFiles, "compactBucketed")
      assert(dataFiles.size === nBuckets)
      assertRows(Bucketing.read(spark, dir), slice(0, 9000))
      assert(Bucketing.readStamp(dir) === Some("s1"), "compaction must preserve the stamp")
      assertCoLocatedSelfJoin(Bucketing.read(spark, dir), "compactBucketed")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("an index is its directory and its marker: ensure -> append -> compact registers no catalog table") {
    val dir = tmpDir("graft_bkt_nocatalog").toString
    def tables: Set[String] = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables
    try {
      Bucketing.ensureBucketed(spark, spark.range(0, 400).select(($"id" % 37).as("k"), $"id".as("v")),
        dir, "k", 4, "s0")
      Bucketing.appendBucketed(
        spark, spark.range(400, 800).select(($"id" % 37).as("k"), $"id".as("v")), dir, "k", 4, "s1")
      val compacted = Bucketing.compactBucketed(spark, dir, "k", 4)
      assert(compacted.count() === 800L)
      assert(tables === before, s"the maintenance chain registered ${tables -- before}")
      // the directory holds exactly the layout: data files plus the marker
      val names = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(names.contains("_GRAFT_BUCKETED_DDL"))
      assert(!new java.io.File(dir + "__compacting").exists(), "compaction left its staging dir")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("an index frame is a snapshot of the directory: taken before an append it keeps its rows, a fresh read sees the append") {
    val dir = tmpDir("graft_bkt_snapshot").toString
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(($"id" % 37).as("k"), $"id".as("v"))
    try {
      val built = Bucketing.ensureBucketed(spark, rows(0, 1000), dir, "k", 4, "s0")
      val appended = Bucketing.appendBucketed(spark, rows(1000, 1200), dir, "k", 4, "s1")
      assert(built.count() === 1000L, "a frame taken before the append must keep its listing")
      assert(appended.count() === 1200L)
      assert(Bucketing.read(spark, dir).count() === 1200L)
      // the re-read by stamp serves the same files without touching the source
      val reRead = Bucketing.ensureBucketed(
        spark, sys.error("must not re-read the source"): DataFrame, dir, "k", 4, "s1")
      assert(reRead.count() === 1200L)
      // the delta must carry the marker's columns: another shape fails loudly
      intercept[IllegalArgumentException](
        Bucketing.appendBucketed(spark, rows(0, 10).withColumn("extra", $"v"), dir, "k", 4, "s2"))
      // so does a delta routed to the index under another bucket spec
      intercept[IllegalArgumentException](
        Bucketing.appendBucketed(spark, rows(0, 10), dir, "k", 8, "s2"))
      assert(Bucketing.readStamp(dir) === Some("s1"), "a refused append must leave the marker")
      assert(Bucketing.read(spark, dir).count() === 1200L, "a refused append must land no rows")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("indexDirFor: one index dir per normalized corpus path") {
    val dash = Bucketing.indexDirFor("/data/corpora/sf-1")
    val under = Bucketing.indexDirFor("/data/corpora/sf_1")
    val slash = Bucketing.indexDirFor("/data/corpora/sf-1/")
    assert(dash === slash, "dir and dir/ must share one index dir")
    assert(dash !== under, "sf-1 and sf_1 must not share an index dir")
    assert(dash.startsWith(Bucketing.indexRoot + "/sf-1-"))
  }
}
