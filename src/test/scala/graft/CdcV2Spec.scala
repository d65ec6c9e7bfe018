package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class CdcV2Spec extends SparkSpec {
  import spark.implicits._

  private def writeLog(dir: String, name: String, rows: Seq[String]): Unit =
    Files.writeString(Paths.get(s"$dir/$name"), rows.mkString("\n"))

  private def ev(op: String, id: Int, v: Int, ts: String): String =
    s"""{"op":"$op","db":"d","collection":"c","documentKey":"{\\"_id\\": $id}","fullDocument":"{\\"_id\\": $id, \\"v\\": $v}","updatedFields":null,"eventTime":"$ts"}"""

  test("graft-cdc batch read: all splits union to the full log, split filter partitions") {
    val dir = tmpDir("cdcv2").toString
    writeLog(dir, "000001.json", (1 to 10).map(i => ev("insert", i, i, "2024-01-01T00:00:00Z")))
    val df = spark.read.format("graft-cdc").option("path", dir).option("numSplits", "3").load()
    assert(df.count() === 10)
    assert(df.select(get_json_object($"documentKey", "$._id").cast("int")).as[Int].collect().sorted === (1 to 10).toArray)
    assert(df.schema === graft.connectors.CdcSource.cdcSchema)
  }

  test("graft-cdc micro-batch: resume-token offsets deliver each event exactly once across batches") {
    val dir = tmpDir("cdcv2s").toString
    val ckpt = tmpDir("cdcv2ck").toString
    val out = tmpDir("cdcv2out").toString + "/sink"
    writeLog(dir, "000001.json", Seq(ev("insert", 1, 10, "2024-01-01T00:00:00Z")))
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir).option("numSplits", "2").load()
    def sink() = stream.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .outputMode("append").start()
    def readOut() = spark.read.parquet(out)
    val q = sink()
    try {
      q.processAllAvailable()
      assert(readOut().count() === 1)
      // new log segment arrives -> only the delta is read
      writeLog(dir, "000002.json", Seq(
        ev("update", 1, 20, "2024-01-01T00:01:00Z"),
        ev("delete", 2, 0, "2024-01-01T00:02:00Z")))
      q.processAllAvailable()
      val got = readOut()
        .select($"op", get_json_object($"documentKey", "$._id").cast("int"))
        .as[(String, Int)].collect().sorted
      assert(got === Array(("delete", 2), ("insert", 1), ("update", 1)))
    } finally q.stop()

    // restart with the SAME checkpoint: nothing re-emitted (token resume)
    val q2 = sink()
    try {
      q2.processAllAvailable()
      assert(readOut().count() === 3)
      // and a fresh segment after restart flows
      writeLog(dir, "000003.json", Seq(ev("insert", 3, 30, "2024-01-01T00:03:00Z")))
      q2.processAllAvailable()
      assert(readOut().count() === 4)
    } finally q2.stop()
  }

  /** Open file descriptors of this JVM pointing into `dir` (Linux /proc). */
  private def openFdsInto(dir: String): Int = {
    val fdDir = new java.io.File("/proc/self/fd")
    if (!fdDir.exists()) 0
    else fdDir.listFiles().count { f =>
      try Files.readSymbolicLink(f.toPath).toString.startsWith(dir)
      catch { case _: Exception => false }
    }
  }

  test("endurance: many segments, kill-and-resume mid-stream — no re-emission, no descriptor growth") {
    // VERDICT r2 #8: locks in the per-segment file-handle close. 60 segments
    // x 100 rows arrive across many micro-batches; the query is killed while
    // segments are still pending and restarted on the same checkpoint. The
    // parquet sink's transactional batch commit + the resume-token offset
    // must yield EXACTLY one copy of every event, and no change-log
    // descriptor may remain open once readers finish.
    val dir = tmpDir("cdcv2e").toString
    val ckpt = tmpDir("cdcv2eck").toString
    val out = tmpDir("cdcv2eout").toString + "/sink"
    val segments = 60
    val rowsPer = 100
    def seg(s: Int): Seq[String] =
      (0 until rowsPer).map(r => ev("insert", s * rowsPer + r, r, f"2024-01-01T${s % 24}%02d:00:00Z"))
    def sink() = spark.readStream.format("graft-cdc")
      .option("path", dir).option("numSplits", "4").load()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .outputMode("append").start()

    // phase 1: 40 segments land while the query runs (several micro-batches)
    val q1 = sink()
    try {
      (0 until 40).foreach { s =>
        writeLog(dir, f"$s%06d.json", seg(s))
        if (s % 10 == 9) q1.processAllAvailable() // force multiple batches
      }
      q1.processAllAvailable()
      assert(openFdsInto(dir) <= 4, "reader left change-log descriptors open between batches")
    } finally q1.stop() // kill with no pending work drained... next segments arrive while DOWN

    // segments 40-49 arrive while the query is down
    (40 until 50).foreach(s => writeLog(dir, f"$s%06d.json", seg(s)))

    // phase 2: resume from the checkpointed resume token; more segments land
    val q2 = sink()
    try {
      q2.processAllAvailable()
      (50 until segments).foreach(s => writeLog(dir, f"$s%06d.json", seg(s)))
      q2.processAllAvailable()
      val ids = spark.read.parquet(out)
        .select(get_json_object($"documentKey", "$._id").cast("long")).as[Long].collect()
      assert(ids.length === segments * rowsPer, s"expected ${segments * rowsPer} rows, got ${ids.length}")
      assert(ids.toSet.size === ids.length, "duplicate emission after kill-and-resume")
      assert(ids.sorted === (0L until (segments * rowsPer).toLong).toArray)
    } finally q2.stop()
    assert(openFdsInto(dir) === 0, "change-log descriptors still open after streams stopped")
  }

  test("graft-cdc feeds the CDC parser end-to-end") {
    val dir = tmpDir("cdcv2p").toString
    writeLog(dir, "000001.json", Seq(ev("u", 7, 70, "2024-01-01T00:00:00Z")))
    val df = spark.read.format("graft-cdc").option("path", dir).load()
    val parsed = graft.parsers.CdcParser.parse(df, clock = lit("2024-07-01").cast("timestamp"))
    val row = parsed.select($"operation", $"primaryKey", get_json_object($"payloadJson", "$.v")).head()
    assert(row.getString(0) === "update")
    assert(row.getString(1) === "7")
    assert(row.getString(2) === "70")
  }
}
