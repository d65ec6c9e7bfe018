package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** sf0.1 → sf1 scale probe for the STREAMING stateful faces under the
  * RocksDB state store provider — the batch-face [[ScaleProbe]] never
  * exercises per-key state growth, micro-batch scheduling, or the RocksDB
  * native layer under data that exceeds heap comfort (VERDICT r7 #6).
  *
  * Faces (all file-stream driven — no driver-side MemoryStream staging,
  * the corpus streams from parquet exactly as a production file/CDC source
  * would):
  *  - `cdc_pipeline`: the flagship MongoToKafka streaming composition
  *    (fused dedup + change-suppression in ONE transformWithState pass,
  *    schema gate, per-epoch sinks)
  *  - `neardup_gate`: the banded-MinHash streaming near-dup candidate gate
  *    over `documents` (keyed bucket-owner state)
  *  - `asof_nolag` / `asof_lag`: the streaming as-of joiner with version
  *    history kept forever vs compacted behind the probe high-water mark
  *    (`compactLagUs`) — the knob's effect on state size, measured at both
  *    scales
  *
  * Prints wall seconds, total state rows, and state bytes (RocksDB SST +
  * in-memory) per (face, scale), plus the sf1/sf0.1 ratios. Expects the
  * scaled tables to exist (run [[ScaleProbe]] first — it writes them).
  *
  * usage: runMain graft.StreamScaleProbe [srcDir] [scaledDir] [face...]
  */
object StreamScaleProbe {

  private def stateMetrics(q: StreamingQuery): (Long, Long) = {
    val ops = Option(q.lastProgress).map(_.stateOperators.toSeq).getOrElse(Seq.empty)
    val rows = ops.map(_.numRowsTotal).sum
    val bytes = ops.map { op =>
      val custom = op.customMetrics
      op.memoryUsedBytes +
        Seq("rocksdbSstFileSize", "rocksdbTotalMemoryUsage")
          .map(k => Option(custom.get(k)).map(_.longValue()).getOrElse(0L))
          .sum
    }.sum
    (rows, bytes)
  }

  /** Run a started query to completion of all available data, then return
    * (wall seconds, state rows, state bytes). Faces start with
    * Trigger.AvailableNow; the TimeMode.None faces (neardup, asof)
    * self-terminate once the planned offsets commit. The TTL'd cdc face
    * NEVER self-terminates — a processing-time TTL keeps
    * TransformWithStateExec.shouldRunAnotherBatch true, so the engine runs
    * no-data batches back-to-back even under AvailableNow (and
    * processAllAvailable never unblocks: noNewData is never set). For that
    * face the caller passes `expectedRows`, and the drive counts committed
    * input rows via a listener (registered BEFORE start so the first
    * batch's progress can't be missed) and stops the query once every
    * fixture row is through — wall then measures data processing, not the
    * TTL-eviction idle loop. Unloads the JVM-global state store providers
    * afterwards so faces don't tax each other (the r7 dirty-pass lesson).
    * `start` gets a fresh (checkpoint, output) dir pair, both deleted when
    * the drive ends.
    */
  private def drive(spark: SparkSession, expectedRows: Long = -1L)(
      start: (String, String) => StreamingQuery): (Double, Long, Long) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sprobe-ckpt")
    val out = java.nio.file.Files.createTempDirectory("graft-sprobe-out")
    val seenByQuery = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        seenByQuery.merge(e.progress.id, java.lang.Long.valueOf(e.progress.numInputRows),
          (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
        ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    if (expectedRows >= 0) spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val q =
      try start(ckpt.toString, out.toString)
      catch { case e: Throwable => deleteDirs(ckpt, out); throw e }
    try {
      if (expectedRows < 0) q.awaitTermination()
      else
        while (!q.awaitTermination(200) &&
          seenByQuery.getOrDefault(q.id, java.lang.Long.valueOf(0L)).longValue() < expectedRows) ()
      val wall = (System.nanoTime() - t0) / 1e9
      val (rows, bytes) = stateMetrics(q)
      (wall, rows, bytes)
    } finally {
      if (expectedRows >= 0) spark.streams.removeListener(listener)
      q.stop()
      if (spark.streams.active.isEmpty)
        org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
      deleteDirs(ckpt, out)
    }
  }

  private def deleteDirs(dirs: java.nio.file.Path*): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit)

  /** TTL-eviction steady-state probe (VERDICT r8 #5): drive the full cdc
    * fixture through the pipeline with a SHORT processing-time TTL, then —
    * input drained — let the engine's no-data batches run the eviction
    * path and sample state rows/bytes each second until three consecutive
    * samples agree (the plateau) or a 90 s cap. The r8 probe measured
    * state GROWTH under TTL; this measures the other half of the 100 TB
    * claim: that eviction actually drains a saturated store back to its
    * steady state once keys go quiet.
    */
  private def cdcEviction(spark: SparkSession, dir: String, ttlMs: Long): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val path = graft.jobs.JobFixtures.cdcFixturePath(spark, dir)
    val fixture = spark.read.parquet(path)
    val expected = fixture.count()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sprobe-evict-ckpt")
    val out = java.nio.file.Files.createTempDirectory("graft-sprobe-evict-out")
    val seenByQuery = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        seenByQuery.merge(e.progress.id, java.lang.Long.valueOf(e.progress.numInputRows),
          (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
        ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q =
      try graft.jobs.MongoToKafkaJob.startStreaming(
        spark.readStream.schema(fixture.schema).option("maxFilesPerTrigger", "8").parquet(path),
        s"$out/data", s"$out/dlq", ckpt.toString, ttlMs = ttlMs,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      catch { case e: Throwable =>
        spark.streams.removeListener(listener); deleteDirs(ckpt, out); throw e }
    try {
      while (!q.awaitTermination(200) &&
        seenByQuery.getOrDefault(q.id, java.lang.Long.valueOf(0L)).longValue() < expected) ()
      val (rows0, bytes0) = stateMetrics(q)
      println(f"cdc_eviction   drained  ttl=${ttlMs / 1000}%ds state rows=$rows0%d MB=${bytes0 / 1e6}%.1f")
      val t0 = System.nanoTime()
      var samples = List.empty[(Double, Long, Long)]
      var plateau = false
      while (!plateau && (System.nanoTime() - t0) / 1e9 < 90 && !q.awaitTermination(1000)) {
        val (r, b) = stateMetrics(q)
        samples ::= (((System.nanoTime() - t0) / 1e9), r, b)
        plateau = samples.take(3).map(_._2).distinct.size == 1 && samples.size >= 3
      }
      samples.reverse.foreach { case (t, r, b) =>
        println(f"cdc_eviction   t=$t%5.1fs state rows=$r%d MB=${b / 1e6}%.1f")
      }
      samples.headOption.foreach { case (t, r, b) =>
        // only claim a plateau when three samples actually agreed — a 90 s
        // cap expiry is a DIFFERENT finding and must not read as steady state
        if (plateau)
          println(f"cdc_eviction   PLATEAU at t=$t%.1fs: $rows0%d -> $r%d rows (${bytes0 / 1e6}%.1f -> ${b / 1e6}%.1f MB)")
        else
          println(f"cdc_eviction   NO PLATEAU within cap: still at $r%d rows (${b / 1e6}%.1f MB) at t=$t%.1fs")
      }
    } finally {
      spark.streams.removeListener(listener)
      q.stop()
      if (spark.streams.active.isEmpty)
        org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
      deleteDirs(ckpt, out)
    }
  }

  /** CDC fixture parquet → MongoToKafkaJob.startStreaming. maxFilesPerTrigger
    * slices the fixture into several micro-batches so keyed state actually
    * accumulates across batches instead of one mega-batch.
    */
  private def cdcPipeline(spark: SparkSession, dir: String): (Double, Long, Long) = {
    val path = graft.jobs.JobFixtures.cdcFixturePath(spark, dir)
    val fixture = spark.read.parquet(path)
    val schema = fixture.schema
    val expected = fixture.count()
    drive(spark, expectedRows = expected) { (ckpt, out) =>
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(path)
      graft.jobs.MongoToKafkaJob.startStreaming(
        stream, s"$out/data", s"$out/dlq", ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
  }

  /** documents staged into a multi-file directory: FileStreamSource needs a
    * directory (the raw sf0.1 table is a single parquet FILE), and 10 files
    * with maxFilesPerTrigger=8 gives at least two micro-batches so keyed
    * state actually carries across batches. Written once per documents
    * generation in [[graft.data.ModelStore]].
    */
  private def docsStage(spark: SparkSession, dir: String): String =
    graft.data.ModelStore.get(graft.data.ModelStore.files, dir, "documents", "sprobe-docs")(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .repartition(10).write.mode("overwrite").parquet(_))

  /** documents parquet → streaming near-dup candidate gate. */
  private def neardupGate(spark: SparkSession, dir: String): (Double, Long, Long) = {
    val path = docsStage(spark, dir)
    val schema = spark.read.parquet(path).schema
    drive(spark) { (ckpt, out) =>
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(path)
      graft.data.Dedup
        .streamingNearDupCandidates(stream, "doc_id", "text")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet")
        .option("path", s"$out/hits")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }
  }

  /** Scored-arrival stage for the streaming quality gate: (sid, source,
    * score) rows — the gate's input is an already-scored stream, so the
    * hashed quality score is computed once at stage time. 10 files with
    * maxFilesPerTrigger=3 gives several micro-batches, so the running
    * histograms genuinely carry across batches.
    */
  private def qualityStage(spark: SparkSession, dir: String): String =
    graft.data.ModelStore.get(graft.data.ModelStore.files, dir, "documents", "sprobe-qgate-d64") {
      stage =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        graft.data.TextAnalysis.qualityModelScore(docs, "doc_id", "text", dims = 64)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("doc_id").as("sid"), col("source"), col("score_e6").as("score"))
          .repartition(10).write.mode("overwrite").parquet(stage)
    }

  /** scored documents → streaming quality gate. The 100 TB claim under
    * measurement: state rows track the SOURCE count (one bounded histogram
    * per source), NOT the arrival count — 10× the input rows over the same
    * source set must hold state rows flat.
    */
  private def qualityGateFace(spark: SparkSession, dir: String): (Double, Long, Long) = {
    import spark.implicits._
    val path = qualityStage(spark, dir)
    val schema = spark.read.parquet(path).schema
    drive(spark) { (ckpt, out) =>
      graft.stateful.Processors.qualityGate(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "3").parquet(path)
            .as[graft.model.ScoredDoc],
          keepPpm = 300000L, binLo = -250000L, binWidth = 4096L, nBins = 128)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet")
        .option("path", s"$out/verdicts")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }
  }

  /** Version/event parquet stages for the as-of faces: every event is a
    * version row (history IS the state axis), a 1-in-10 slice probes.
    * Written once per events generation in [[graft.data.ModelStore]],
    * several files each so both file sources interleave across
    * micro-batches and compaction horizons advance.
    */
  private def asofStage(spark: SparkSession, dir: String): (String, String) = {
    val base = graft.data.ModelStore.get(graft.data.ModelStore.files, dir, "events", "sprobe-asof") {
      stage =>
        val (vDir, eDir) = (s"$stage/versions", s"$stage/events")
        val e = graft.core.Tables.events(spark, dir)
        e.select(
          col("user_id").cast("string").as("key"),
          unix_micros(col("ts")).as("tsUs"),
          round(col("value") * 100).cast("long").cast("string").as("value"))
          .repartition(10).write.mode("overwrite").parquet(vDir)
        e.filter(col("event_id") % 10 === 0)
          .select(
            col("user_id").cast("string").as("key"),
            unix_micros(col("ts")).as("tsUs"),
            col("event_id").cast("string").as("payload"))
          .repartition(10).write.mode("overwrite").parquet(eDir)
        // the store's completion marker: two Spark writes leave theirs one level down
        new java.io.File(s"$stage/_SUCCESS").createNewFile(): Unit
    }
    (s"$base/versions", s"$base/events")
  }

  private def asof(spark: SparkSession, dir: String, compactLagUs: Long): (Double, Long, Long) = {
    import spark.implicits._
    import graft.joins.StreamingAsOfJoiner.{AsOfEvent, AsOfVersion}
    val (vDir, eDir) = asofStage(spark, dir)
    drive(spark) { (ckpt, out) =>
      def src(path: String) = spark.readStream
        .schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(path)
      graft.joins.StreamingAsOfJoiner
        .enrich(
          src(eDir).as[AsOfEvent],
          src(vDir).as[AsOfVersion],
          ttlMs = 0,
          compactLagUs = compactLagUs)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet")
        .option("path", s"$out/enriched")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaledDir = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val spark = graft.core.GraftSession.getOrCreate("graft-streamscaleprobe")

    // compaction horizon: a tenth of the event-time span, so the lag face
    // actually trims history while staying data-derived and deterministic
    def lagFor(dir: String): Long = {
      val mm = graft.core.Tables.events(spark, dir)
        .select(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).head()
      (mm.getLong(1) - mm.getLong(0)) / 10
    }

    val faces: Seq[(String, String => (Double, Long, Long))] = Seq(
      "cdc_pipeline" -> (d => cdcPipeline(spark, d)),
      "neardup_gate" -> (d => neardupGate(spark, d)),
      "asof_nolag" -> (d => asof(spark, d, -1L)),
      "asof_lag" -> (d => asof(spark, d, lagFor(d))),
      "quality_gate" -> (d => qualityGateFace(spark, d))
    )
    val selected =
      if (args.length > 2) faces.filter(f => args.drop(2).contains(f._1)) else faces
    val wantEviction = args.drop(2).contains("cdc_eviction")

    // build the scaled tables the SELECTED faces consume if absent — only
    // those (a sf10/factor-100 run must not replicate lineitem 100×).
    // SPARK_GRAFT_SCALE_FACTOR names the replication factor (default 10 =
    // the sf1 decade; 100 = sf10), so one probe binary walks any decade.
    val needed = selected.map {
      case ("neardup_gate", _) | ("quality_gate", _) => "documents"
      case _ => "events"
    }.toSet
    if (needed.nonEmpty) {
      // ALWAYS route through buildScaled: its _GRAFT_FACTOR_<n> marker is
      // the idempotence/validity check — a bare existence test here would
      // silently reuse a partial build or a different-factor layout
      val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
      ScaleProbe.buildScaled(spark, srcDir, scaledDir, factor, only = needed)
    }
    val scaledTag = new java.io.File(scaledDir).getName.stripPrefix("graft-")

    println(f"${"face"}%-14s ${"scale"}%-8s ${"wall(s)"}%9s ${"stateRows"}%12s ${"stateMB"}%9s")
    // "warm" pass at sf0.01 first: the first measured drive otherwise absorbs
    // JVM/codegen/RocksDB-JNI warmup and deflates the sf1/sf0.1 wall ratio
    // (cdc measured 0.8x at 10x rows before this — warmup artifact, not magic)
    val results = for {
      (name, run) <- selected
      (tag, dir) <- Seq(
        "warm" -> "/root/testdata/sf0.01", "sf0.1" -> srcDir, scaledTag -> scaledDir)
    } yield {
      val (wall, rows, bytes) =
        try run(dir)
        catch {
          case e: Throwable =>
            System.err.println(s"[streamprobe] $name failed in $dir: ${e.getMessage}")
            (Double.NaN, -1L, -1L)
        }
      println(f"$name%-14s $tag%-8s $wall%9.2f $rows%12d ${bytes / 1e6}%9.1f")
      (name, tag, wall, rows, bytes)
    }
    results.groupBy(_._1).foreach { case (name, rs) =>
      (rs.find(_._2 == "sf0.1"), rs.find(_._2 == scaledTag)) match {
        case (Some(s), Some(b)) if !s._3.isNaN && !b._3.isNaN =>
          println(f"RATIO $name%-14s wall ${b._3 / s._3}%5.1fx  stateRows ${
            if (s._4 > 0) b._4.toDouble / s._4 else Double.NaN}%5.1fx")
        case _ => ()
      }
    }
    // eviction plateau runs last (it leaves no providers loaded either)
    if (wantEviction) cdcEviction(spark, srcDir, ttlMs = 5000)
    spark.stop()
  }
}
