package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.joins.StreamingAsOfJoiner
import graft.joins.StreamingAsOfJoiner.{AsOfEnriched, AsOfEvent, AsOfVersion}

/** Streaming as-of enrichment: per-key version history in transformWithState,
  * probed by event time at arrival (the streaming face of AsOfJoin).
  */
class StreamingAsOfSpec extends SparkSpec {
  import spark.implicits._

  test("j4_asof_stream through SparkEntry: twice in one session, each run equals the batch face on its event slice, no stream left active") {
    val face = SparkEntry.queries("j4_asof_stream")
    val cols = Seq("event_id", "user_id", "ev_us", "cfg_us", "cfg_version").map(c => col(c).cast("long").as(c))
    val want = SparkEntry.queries("j4_asof_join")(spark, sf)
      .filter(col("event_id") % 10 === 0).select(cols: _*).localCheckpoint()
    assert(want.count() > 0, "empty event slice — the comparison would be vacuous")
    (1 to 2).foreach { run =>
      val got = face(spark, sf).select(cols: _*)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"run $run of j4_asof_stream differs from j4_asof_join on event_id % 10 = 0")
      assert(spark.streams.active.isEmpty, s"run $run left a stream active")
    }
  }

  test("versions arriving mid-stream change subsequent enrichments, never emitted ones") {
    implicit val sc = spark.sqlContext
    val vMem = MemoryStream[AsOfVersion]
    val eMem = MemoryStream[AsOfEvent]
    val out = StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS())
    val q = out.writeStream.format("memory").queryName("sasof_mid").outputMode("append").start()
    try {
      // batch 1: one version, one event after it
      vMem.addData(AsOfVersion("k", 100L, "v1"))
      eMem.addData(AsOfEvent("k", 150L, "e1"))
      q.processAllAvailable()
      // batch 2: a version at ts 120 arrives LATE (after e1 was emitted)
      vMem.addData(AsOfVersion("k", 120L, "v2"))
      q.processAllAvailable()
      // batch 3: an event at the SAME event time as e1 now sees v2
      eMem.addData(AsOfEvent("k", 150L, "e2"), AsOfEvent("k", 110L, "e3"))
      q.processAllAvailable()
      val got = spark.table("sasof_mid").as[AsOfEnriched].collect()
        .map(r => r.payload -> r.asofValue).toMap
      assert(got("e1") === Some("v1")) // enriched with what had ARRIVED
      assert(got("e2") === Some("v2")) // same event time, later arrival
      assert(got("e3") === Some("v1")) // event time before v2's ts
      // the already-emitted e1 row was never retracted/rewritten
      assert(spark.table("sasof_mid").filter($"payload" === "e1").count() === 1)
    } finally q.stop()
  }

  test("no version at-or-before the event time -> None; other-key history invisible") {
    implicit val sc = spark.sqlContext
    val vMem = MemoryStream[AsOfVersion]
    val eMem = MemoryStream[AsOfEvent]
    val out = StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS())
    val q = out.writeStream.format("memory").queryName("sasof_miss").outputMode("append").start()
    try {
      vMem.addData(AsOfVersion("k", 100L, "v1"))
      q.processAllAvailable()
      eMem.addData(
        AsOfEvent("k", 50L, "early"),  // before the first version
        AsOfEvent("z", 500L, "zkey"),  // key with no history at all
        AsOfEvent("k", 100L, "attick") // inclusive: version AT event time
      )
      q.processAllAvailable()
      val got = spark.table("sasof_miss").as[AsOfEnriched].collect()
        .map(r => r.payload -> r.asofValue).toMap
      assert(got("early") === None)
      assert(got("zkey") === None)
      assert(got("attick") === Some("v1"))
    } finally q.stop()
  }

  test("re-published version at the same ts is last-write-wins") {
    implicit val sc = spark.sqlContext
    val vMem = MemoryStream[AsOfVersion]
    val eMem = MemoryStream[AsOfEvent]
    val out = StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS())
    val q = out.writeStream.format("memory").queryName("sasof_lww").outputMode("append").start()
    try {
      vMem.addData(AsOfVersion("k", 100L, "old"))
      q.processAllAvailable()
      vMem.addData(AsOfVersion("k", 100L, "fixed")) // correction, same instant
      q.processAllAvailable()
      eMem.addData(AsOfEvent("k", 200L, "e"))
      q.processAllAvailable()
      val got = spark.table("sasof_lww").as[AsOfEnriched].collect()
      assert(got.map(r => r.payload -> r.asofValue).toMap === Map("e" -> Some("fixed")))
    } finally q.stop()
  }

  test("once all versions arrived, enrichment replays the batch face bit-exactly") {
    implicit val sc = spark.sqlContext
    // deterministic synthetic data: 7 keys, out-of-order version history
    val versions = for {
      k <- 0 until 7; i <- Seq(3, 1, 4, 2) // out-of-order arrival
    } yield AsOfVersion(s"k$k", i * 100L + k, s"v$k-$i")
    val events = for {
      k <- 0 until 7; t <- Seq(50L, 120L, 250L, 410L, 999L)
    } yield AsOfEvent(s"k$k", t + k, s"e$k-$t")
    val vMem = MemoryStream[AsOfVersion]
    val eMem = MemoryStream[AsOfEvent]
    val out = StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS())
    val q = out.writeStream.format("memory").queryName("sasof_replay").outputMode("append").start()
    try {
      vMem.addData(versions)
      q.processAllAvailable()
      eMem.addData(events)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sasof_replay").as[AsOfEnriched].collect()
      .map(r => (r.key, r.tsUs, r.payload, r.asofTsUs, r.asofValue)).sorted.toSeq
    val batch = graft.joins.AsOfJoin.latestAsOf(
      events.toDF("key", "tsUs", "payload"),
      versions.toDF("key", "vts", "value"),
      keys = Seq("key"), leftTs = "tsUs", rightTs = "vts",
      rightVals = Seq("value"))
      .select($"key", $"tsUs", $"payload", $"asof_ts", $"asof_value")
      .as[(String, Long, String, Option[Long], Option[String])].collect().sorted.toSeq
    assert(streamed === batch)
  }

  test("compactLagUs bounds a 10k-version key; answers stay oracle-identical") {
    implicit val sc = spark.sqlContext
    val n = 10000
    val versions = (0 until n).map(i => AsOfVersion("k", i * 10L, s"v$i"))
    // probe times: recent window only (each event within lag of the max)
    val probeTs = Seq(n * 10L - 5, n * 10L - 1000, n * 10L + 500)
    val vMem = MemoryStream[AsOfVersion]
    val eMem = MemoryStream[AsOfEvent]
    // lag = 2000 µs: versions older than (max probe − 2000) compact away,
    // except the latest at-or-before the horizon
    val out = StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS(), compactLagUs = 2000L)
    val q = out.writeStream.format("memory").queryName("sasof_compact").outputMode("append").start()
    val stateRows =
      try {
        vMem.addData(versions)
        q.processAllAvailable()
        eMem.addData(probeTs.map(t => AsOfEvent("k", t, s"e$t")))
        q.processAllAvailable()
        // second batch: state was compacted by batch 1's probes — answers
        // in the still-reachable window must be unchanged
        eMem.addData(AsOfEvent("k", n * 10L - 1500, "late"), AsOfEvent("k", n * 10L + 900, "head"))
        q.processAllAvailable()
        q.lastProgress.stateOperators(0).numRowsTotal
      } finally q.stop()
    val got = spark.table("sasof_compact").as[AsOfEnriched].collect()
      .map(r => r.payload -> r.asofValue).toMap
    // exact as-of answers (floor of ts/10, capped at n-1)
    def expect(t: Long) = Some(s"v${math.min(t / 10, n - 1L)}")
    probeTs.foreach(t => assert(got(s"e$t") === expect(t), s"probe at $t"))
    assert(got("late") === expect(n * 10L - 1500))
    assert(got("head") === expect(n * 10L + 900))
    // boundedness: 10k versions entered, state holds only the lag window
    // (~lag/10 versions + the gap-filler + bookkeeping), not the history
    assert(stateRows < 1000, s"state not compacted: $stateRows rows for $n versions")
  }

  test("version-only batches compact against the stored probe high-water mark") {
    implicit val sc = spark.sqlContext
    val vMem = MemoryStream[AsOfVersion]
    val eMem = MemoryStream[AsOfEvent]
    val out = StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS(), compactLagUs = 100L)
    val q = out.writeStream.format("memory").queryName("sasof_vonly").outputMode("append").start()
    val (rowsAfterVersionOnly, rowsAfterProbe) =
      try {
        // establish a probe high-water mark at ts=10_000
        vMem.addData((0 until 50).map(i => AsOfVersion("k", i * 100L, s"v$i")))
        q.processAllAvailable()
        eMem.addData(AsOfEvent("k", 10000L, "e0"))
        q.processAllAvailable()
        val afterProbe = q.lastProgress.stateOperators(0).numRowsTotal
        // now feed ONLY old versions for several batches: without the
        // version-only compaction they would accumulate behind the
        // stalled frontier; with it each batch compacts against the
        // stored hwm (10_000 − lag) and state stays flat
        (0 until 5).foreach { b =>
          vMem.addData((0 until 200).map(i => AsOfVersion("k", b * 200L + i, s"w$b-$i")))
          q.processAllAvailable()
        }
        (q.lastProgress.stateOperators(0).numRowsTotal, afterProbe)
      } finally q.stop()
    // 1000 stale versions entered after the probe; all are older than the
    // hwm horizon, so state must stay near the post-probe floor (the
    // gap-filler + bookkeeping), not grow by the thousand
    assert(rowsAfterVersionOnly < rowsAfterProbe + 10,
      s"version-only batches grew state: $rowsAfterProbe -> $rowsAfterVersionOnly")
  }

  test("kill-and-resume endurance: version-history state restores from checkpoint; output == uninterrupted run") {
    // the CdcV2/ingest-gate soak contract, applied to the as-of joiner:
    // kill the query after phase 1, let phase-2 data arrive while DOWN,
    // resume on the same checkpoint — phase-2 events must probe the
    // RESTORED ListState history (and the maxProbe ValueState), and the
    // total output must equal an uninterrupted run row for row.
    implicit val sc = spark.sqlContext
    val base = tmpDir("sasof_endure").toString
    val v1 = Seq(AsOfVersion("k1", 100L, "v1"), AsOfVersion("k2", 200L, "v2"))
    val e1 = Seq(AsOfEvent("k1", 150L, "a"), AsOfEvent("k2", 150L, "b"))
    val v2 = Seq(AsOfVersion("k1", 300L, "v3"))
    val e2 = Seq( // c and e are answerable ONLY from restored phase-1 state
      AsOfEvent("k1", 250L, "c"), AsOfEvent("k1", 350L, "d"), AsOfEvent("k2", 250L, "e"))

    def collectOut(dir: String): Vector[(String, Long, String, Option[Long], Option[String])] =
      spark.read.parquet(dir).as[AsOfEnriched].collect()
        .map(r => (r.key, r.tsUs, r.payload, r.asofTsUs, r.asofValue)).toVector.sorted

    def run(tag: String, kill: Boolean): Vector[(String, Long, String, Option[Long], Option[String])] = {
      val out = s"$base/$tag/out"; val ckpt = s"$base/$tag/ckpt"
      val vMem = MemoryStream[AsOfVersion]
      val eMem = MemoryStream[AsOfEvent]
      val enriched = StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS(), compactLagUs = 10000L)
      def start() = enriched.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      try { vMem.addData(v1: _*); eMem.addData(e1: _*); q1.processAllAvailable() } finally if (kill) q1.stop()
      if (kill) {
        // down: phase 2 lands while no query is running
        vMem.addData(v2: _*); eMem.addData(e2: _*)
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      } else {
        try { vMem.addData(v2: _*); eMem.addData(e2: _*); q1.processAllAvailable() } finally q1.stop()
      }
      collectOut(out)
    }

    val interrupted = run("killed", kill = true)
    val straight = run("straight", kill = false)
    assert(interrupted === straight,
      s"kill-and-resume diverged from the uninterrupted run:\n$interrupted\nvs\n$straight")
    // exact expected answers (versions append before events probe, so d
    // sees its same-phase v3; c and e prove the restored history)
    val byPayload = interrupted.map(r => r._3 -> r._5).toMap
    assert(byPayload === Map(
      "a" -> Some("v1"), "b" -> None,
      "c" -> Some("v1"), "d" -> Some("v3"), "e" -> Some("v2")))
    // exactly-once across the kill: no payload emitted twice
    assert(interrupted.map(_._3).distinct.length === interrupted.length)
  }
}
