package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session (one per JVM — suites reuse via getOrCreate). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession
      .builder("graft-test", cores = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Deterministic state-store teardown after EVERY suite (VERDICT r21 #2):
    * the session is shared for the whole test JVM, so a streaming suite
    * that loaded RocksDB/HDFS state-store providers otherwise leaves the
    * background maintenance thread snapshotting into that suite's
    * (temp, soon-deleted) checkpoint dirs for the rest of the run — the
    * checkpoint-upload stack the driver's runner captured at r21 close.
    * Stopping leaked queries first makes the unload race-free; with no
    * providers loaded, later maintenance ticks are no-ops. Harmless for
    * non-streaming suites (both calls are cheap no-ops then) — same
    * hygiene Bench applies after its streaming faces.
    */
  override protected def afterAll(): Unit = {
    try {
      spark.streams.active.foreach(_.stop())
      org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
    } finally try deleteTmpDirs() finally super.afterAll()
  }

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp dir that this suite's afterAll deletes, together with
    * the [[graft.data.ModelStore.rootFor]] root of every directory under
    * it: a temp corpus leaves its derived models in a root keyed on its
    * path, outside the dir itself.
    */
  def tmpDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d
  }

  private def deleteTmpDirs(): Unit = tmpDirs.forEach { d =>
    if (java.nio.file.Files.isDirectory(d)) {
      val walk = java.nio.file.Files.walk(d)
      try walk.filter(java.nio.file.Files.isDirectory(_)).forEach(sub =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(graft.data.ModelStore.rootFor(sub.toString))): Unit)
      finally walk.close()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit
  }
}
