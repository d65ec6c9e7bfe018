package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.connectors.{CdcSource, KeyedParquetTable}
import graft.jobs.{KafkaToMongoJob, MongoToKafkaJob}
import graft.joins.StaticJoiner
import graft.parsers.{CdcParser, EnvelopeParser}
import graft.patterns._

/** The two stream workloads. Each drives ONE query over one state through
  * two phases: catch-up (drain the backlog staged before the timer) and
  * steady (the generator publishes files open-loop; the harness waits until
  * every published event is committed). Micro-batch progress is recorded
  * for every batch; `run.py` derives latency and engine metrics from it.
  */
object Streams {

  private val DrainTimeoutMs = 120000L

  /** Progress events of every query, in arrival order. */
  final class ProgressLog extends StreamingQueryListener {
    private val log = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()
    private def buf(id: java.util.UUID) = log.computeIfAbsent(id, _ => mutable.ArrayBuffer.empty)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val b = buf(e.progress.id)
      b.synchronized { b += e.progress; () }
    }
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] = { val b = buf(q.id); b.synchronized(b.toList) }
  }

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  private def ran(p: StreamingQueryProgress): Boolean = p.durationMs.containsKey("addBatch")

  private def await(q: StreamingQuery, what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      q.exception.foreach(e => throw e)
      require(q.isActive, s"query stopped while waiting for $what")
      require(System.currentTimeMillis() < deadline, s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  private def waitForFile(p: Path, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(p)) {
      require(System.currentTimeMillis() < deadline, s"timed out waiting for $p")
      Thread.sleep(5)
    }
  }

  /** `(files, events)` a generator marker file holds. */
  private def marker(p: Path): (Int, Long) = {
    val Array(f, e) = Files.readString(p).trim.split("\\s+")
    (f.toInt, e.toLong)
  }

  private def fileNames(n: Int): Seq[String] = (0 until n).map(i => f"part-$i%05d.json")

  /** Catch-up then steady phase of the started query `q`: waits until the
    * staged backlog is committed, lets the generator start, then waits until
    * every published file is committed. Records the phase boundaries.
    */
  private def drive(work: String, q: StreamingQuery, ckpt: Checkpoint, log: ProgressLog,
      startMs: Long, out: Results.T): Unit = {
    val (backlogFiles, backlog) = marker(Paths.get(work, "staged"))
    val catchup = ckpt.await(q, log, fileNames(backlogFiles))
    out("query_start_ms") = startMs
    out("catchup_end_ms") = endMs(catchup)
    out("catchup_events") = backlog
    Files.createFile(Paths.get(work, "catchup_done"))
    val done = Paths.get(work, "gen_done")
    waitForFile(done, DrainTimeoutMs)
    val (files, _) = marker(done)
    out("drained_ms") = endMs(ckpt.await(q, log, fileNames(files)))
    Harness.recordMemory(out)
    out("file_batch") = ckpt.fileBatches()
  }

  /** Reads a file-source query's checkpoint: which input file each committed
    * micro-batch covered. A file belongs to the first committed batch whose
    * offsets reach the file's entry in every source's metadata log.
    */
  final class Checkpoint(dir: String) {
    private val om = new ObjectMapper()
    private val cache = mutable.Map.empty[Path, Seq[String]]

    private def lines(p: Path): Seq[String] =
      cache.getOrElseUpdate(p, Files.readAllLines(p).asScala.toSeq)

    private def logFiles(d: String): Seq[Path] =
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filterNot(_.getName.startsWith(".")).map(_.toPath)

    private def num(p: Path): Option[Long] = p.getFileName.toString.toLongOption

    /** Source i -> file name -> its batch in that source's own metadata log. */
    def sourceEntries(): Seq[Map[String, Long]] =
      logFiles(s"$dir/sources").sortBy(_.getFileName.toString.toInt).map { src =>
        logFiles(src.toString).flatMap(p => lines(p).drop(1).filter(_.startsWith("{")))
          .map { l =>
            val n = om.readTree(l)
            Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString -> n.get("batchId").asLong()
          }.toMap
      }

    def fileBatches(): Map[String, Long] = {
      val committed = logFiles(s"$dir/commits").flatMap(num).toSet
      val perSource = sourceEntries()
      // committed query batch -> the log offset each source reached (offset
      // line i belongs to source i; a self-union repeats the lines)
      val reach = logFiles(s"$dir/offsets").flatMap(p => num(p).map(_ -> p))
        .filter { case (b, _) => committed(b) }.sortBy(_._1)
        .map { case (b, p) =>
          b -> lines(p).drop(2).take(perSource.size)
            .map(l => if (l.startsWith("{")) om.readTree(l).get("logOffset").asLong() else -1L)
        }
      if (perSource.isEmpty) return Map.empty
      perSource.head.keys.filter(f => perSource.forall(_.contains(f))).flatMap { f =>
        reach.find { case (_, offs) => perSource.indices.forall(i => offs(i) >= perSource(i)(f)) }
          .map(f -> _._1)
      }.toMap
    }

    /** Waits until every file in `names` is committed; returns the progress
      * of the batch that committed the last of them.
      */
    def await(q: StreamingQuery, log: ProgressLog, names: Seq[String]): StreamingQueryProgress = {
      var last = -1L
      Streams.await(q, s"commit of ${names.size} files", DrainTimeoutMs) {
        val fb = fileBatches()
        names.forall(fb.contains) && { last = names.map(fb).max; true }
      }
      var p: Option[StreamingQueryProgress] = None
      Streams.await(q, s"progress of batch $last", DrainTimeoutMs) {
        p = log.of(q).find(x => x.batchId == last && ran(x)); p.isDefined
      }
      p.get
    }
  }

  private def batchesJson(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] = ps.filter(ran).map { p =>
    Map(
      "id" -> p.batchId,
      "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "end_ms" -> endMs(p),
      "rows" -> p.numInputRows,
      "d" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      "state" -> p.stateOperators.headOption.map { s =>
        Map(
          "rows_total" -> s.numRowsTotal,
          "memory_bytes" -> s.memoryUsedBytes,
          "updates_ms" -> s.allUpdatesTimeMs,
          "removals_ms" -> s.allRemovalsTimeMs,
          "commit_ms" -> s.commitTimeMs,
          "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
      })
  }

  /** One span per micro-batch trigger; its phases follow Spark's order inside
    * a trigger (offsets, WAL, planning, addBatch, commit) with their measured
    * durations, and the Spark jobs of the batch sit under addBatch.
    */
  private def batchSpans(rec: Recorder, ps: Seq[StreamingQueryProgress]): Unit = {
    val jobsByBatch = rec.jobRecs.filter(_.batchId.isDefined).groupBy(_.batchId.get)
    ps.filter(ran).foreach { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      val d = (k: String) => p.durationMs.getOrDefault(k, 0L).longValue()
      val trig = rec.addSpan(s"trigger ${p.batchId}", 0, start, endMs(p),
        Map("rows" -> p.numInputRows))
      var t = start
      Seq("offsets" -> (d("latestOffset") + d("getBatch")), "walCommit" -> d("walCommit"),
        "planning" -> d("queryPlanning"), "addBatch" -> d("addBatch"), "commit" -> d("commitOffsets"))
        .foreach { case (name, ms) =>
          val attrs: Map[String, Any] = if (name == "addBatch") p.stateOperators.headOption.map { s =>
            Map("state.updates_ms" -> s.allUpdatesTimeMs, "state.removals_ms" -> s.allRemovalsTimeMs,
              "state.commit_ms" -> s.commitTimeMs)
          }.getOrElse(Map.empty) else Map.empty
          val id = rec.addSpan(name, trig, t, t + ms, attrs)
          if (name == "addBatch") rec.addJobSpans(id, jobsByBatch.getOrElse(p.batchId, Seq.empty))
          t += ms
        }
    }
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Warm-up, then the timed query. `start(in, dir)` starts the job on input
    * directory `in` with its outputs and checkpoint under `dir`. Returns the
    * measured window: query start to the commit of the last published file.
    */
  private def runStream(spark: SparkSession, work: String, out: Results.T, rec: Option[Recorder])(
      start: (String, String) => StreamingQuery): (Long, Long) = {
    waitForFile(Paths.get(work, "staged"), DrainTimeoutMs)
    val log = new ProgressLog
    spark.streams.addListener(log)
    // warm-up: the same job over a small separate input, drained and stopped,
    // so the catch-up measures a warm JVM
    val warmNames = new java.io.File(s"$work/warm").list().toSeq
    val warm = start(s"$work/warm", s"$work/warm-out")
    try new Checkpoint(s"$work/warm-out/ckpt").await(warm, log, warmNames)
    finally warm.stop()
    org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
    rec.foreach(_.start())
    val startMs = System.currentTimeMillis()
    val q = start(s"$work/in", work)
    val ckpt = new Checkpoint(s"$work/ckpt")
    try drive(work, q, ckpt, log, startMs, out)
    finally q.stop()
    // micro-batch scans run inside the query, out of reach of a query
    // execution listener: count the files each source listed instead
    out("files_read") = ckpt.sourceEntries().map(_.size).sum
    rec.foreach(_.stop())
    spark.streams.removeListener(log)
    out("batches") = batchesJson(log.of(q))
    rec.foreach(r => batchSpans(r, log.of(q)))
    (startMs, out("drained_ms").asInstanceOf[Long])
  }

  private def filesRead(out: Results.T): Map[String, Double] =
    Map("scan.files" -> out("files_read").asInstanceOf[Int].toDouble)

  def cdc(spark: SparkSession, work: String, out: Results.T, rec: Option[Recorder]): Unit = {
    val conf = new graft.core.ScopedConfig()
    conf.activateJob("MongoToKafka")
    val ttlMs = conf.getOrDefault("DEDUP_TTL_MINUTES", "10").toLong * 60 * 1000
    val splits = conf.getOrDefault("CDC_PARALLELISM", "4").toInt
    out("ttl_ms") = ttlMs
    val (from, to) = runStream(spark, work, out, rec) { (in, dir) =>
      MongoToKafkaJob.startStreaming(
        CdcSource.multi(spark, in, splits), s"$dir/out", s"$dir/dlq", s"$dir/ckpt", ttlMs)
    }
    rec.foreach(r => out("layers") = r.summary(from, to) ++ filesRead(out) ++ cdcLayers(spark, work))
  }

  /** Isolated parse and schema-gate calls on the run's own change log. */
  private def cdcLayers(spark: SparkSession, work: String): Map[String, Double] = {
    val raw = spark.read.schema(CdcSource.cdcSchema).json(s"$work/in").persist()
    val n = raw.count().toDouble
    val parseS = Harness.medianSeconds(3)(noop(CdcParser.parse(raw)))
    val parsed = CdcParser.parse(raw).persist()
    parsed.count()
    val enforcer = SchemaEnforcer("payloadJson", Seq(SchemaVersion(1, Seq(FieldSpec("_id", FieldType.ANY)))))
    val gateS = Harness.medianSeconds(3) { val (g, b) = enforcer.enforce(parsed); noop(g); noop(b) }
    val dlq = enforcer.enforce(parsed)._2.count().toDouble
    parsed.unpersist(); raw.unpersist()
    Map("parsers.rows_per_s" -> n / parseS, "parsers.dlq_rows" -> 0.0,
      "patterns.gate_rows_per_s" -> n / gateS, "patterns.dlq_rows" -> dlq)
  }

  private def refFrame(spark: SparkSession, work: String): DataFrame =
    spark.read.schema(EnvelopeParser.envelopeSchema).json(s"$work/ref.jsonl")

  private def textStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "16").text(dir)

  def upsert(spark: SparkSession, work: String, out: Results.T, rec: Option[Recorder]): Unit = {
    val refs = Seq("Ref1" -> refFrame(spark, work))
    val (from, to) = runStream(spark, work, out, rec) { (in, dir) =>
      KafkaToMongoJob.startStreaming(textStream(spark, in), refs, s"$dir/table", s"$dir/ckpt")
    }
    val files = out("file_batch").asInstanceOf[Map[String, Long]]
    rec.foreach(r => out("layers") =
      r.summary(from, to) ++ filesRead(out) ++ upsertLayers(spark, work, refs, files, r))
  }

  /** Isolated parse, constraint-gate and enrichment calls on the run's own
    * envelopes, plus the sink's buckets touched per batch and write
    * amplification.
    */
  private def upsertLayers(spark: SparkSession, work: String, refs: Seq[(String, DataFrame)],
      files: Map[String, Long], rec: Recorder): Map[String, Double] = {
    import spark.implicits._
    val sinkBytes = rec.outputBytes
    val raw = spark.read.text(s"$work/in").persist()
    val n = raw.count().toDouble
    val parseS = Harness.medianSeconds(3) { val (g, b) = EnvelopeParser.parse(raw, "value"); noop(g); noop(b) }
    val (env0, bad) = EnvelopeParser.parse(raw, "value")
    val parseDlq = bad.count().toDouble
    val env = env0.persist()
    val m = env.count().toDouble
    val withId = env.withColumn("_id_check", get_json_object(col("payloadJson"), "$._id"))
    val gate = ConstraintEnforcer(Seq(NotNullRule("_id_check")))
    val gateS = Harness.medianSeconds(3) { val (g, b) = gate.enforce(withId); noop(g); noop(b) }
    val gateDlq = gate.enforce(withId)._2.count().toDouble
    val ref = refs.head._2
    val joinS = Harness.medianSeconds(3) {
      val compact = StaticJoiner("primaryKey", "r_key")
        .latestPerKey(ref.select(col("primaryKey").as("r_key"), col("payloadJson").as("r_payload"),
          col("eventTime").as("r_ts"), col("traceId").as("r_tie")), "r_ts", "r_tie")
        .select(col("r_key"), col("r_payload"))
      noop(env.join(broadcast(compact), env("primaryKey") === compact("r_key"), "left"))
    }
    val table = KeyedParquetTable(s"$work/table", "_id")
    val perBatch = spark.read.text(s"$work/in")
      .select(col("_metadata.file_name").as("file"),
        get_json_object(col("value"), "$.primaryKey").as("k"),
        get_json_object(get_json_object(col("value"), "$.payloadJson"), "$._id").as("id"))
      .filter(col("k").isNotNull && col("id").isNotNull)
      .join(files.toSeq.toDF("file", "batch"), "file")
      .groupBy(col("batch")).agg(countDistinct(table.bucketOf(col("k"))).as("b"))
      .as[(Long, Long)].collect().map(_._2.toDouble).toSeq
    val walk = Files.walk(Paths.get(work, "table"))
    val tableBytes =
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum.toDouble
      finally walk.close()
    env.unpersist(); raw.unpersist()
    Map("parsers.rows_per_s" -> n / parseS, "parsers.dlq_rows" -> parseDlq,
      "patterns.gate_rows_per_s" -> m / gateS, "patterns.dlq_rows" -> gateDlq,
      "joins.enrich_rows_per_s" -> m / joinS,
      "connectors.upsert_buckets_touched_p50" -> Recorder.median(perBatch),
      "connectors.upsert_write_amp" -> (if (tableBytes > 0) sinkBytes / tableBytes else 0.0))
  }
}
