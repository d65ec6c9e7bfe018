package graft.data

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.types._

/** The one store for values derived from a corpus: pair lists, quantizer
  * centroids, PQ codebooks, bloom and importance models, counts and job
  * fixtures. Every such value is read through [[get]], keyed on the corpus
  * dir, the source stamp of the table it derives from
  * ([[graft.connectors.Bucketing.cachedStamp]]) and a name that carries
  * its build parameters.
  *
  * A production campaign trains its quantizer ONCE per corpus snapshot and
  * ships the model to every indexing / search / semdedup job that follows;
  * retraining per job would both waste the training scans and silently
  * version-skew the bucket assignments between writer and reader. Models
  * are tiny driver values (k·dim doubles), stored as parquet so the
  * round-trip is IEEE-exact: parquet DOUBLE is the same 8-byte IEEE-754
  * value — a reloaded model reproduces bucket assignments and ADC scores
  * bit-for-bit (pinned in SimilaritySpec).
  *
  * ==Retention / eviction==
  * Persisted names embed the source stamp, so a corpus regeneration leaves
  * the previous stamp's entries under the (stable) per-corpus root. The
  * first time [[get]] sees a new stamp for a dir's table it releases that
  * older generation: its in-JVM entries, its checkpointed frames, and (via
  * [[evictStale]]) its files under [[rootFor]]. The store is a cache:
  * deleting a live entry only costs one rebuild.
  */
object ModelStore {

  /** How long a value derived through [[get]] lives; `B` is what the
    * build returns, `V` what [[get]] returns. `make` gets the entry's
    * persisted path and the build.
    */
  final class Kind[B, V] private[ModelStore] (
      private[data] val session: Option[SparkSession],
      private[data] val make: (String, () => B) => V)

  /** A `localCheckpoint`ed frame (or a tuple of frames) held for one live
    * session: frames strongly reference their session, so entries of a
    * stopped session are dropped on the next frame read, and a generation
    * change unpersists the checkpoints it held.
    */
  def frame[V](spark: SparkSession): Kind[V, V] = new Kind[V, V](Some(spark), (_, b) => b())
  /** A driver value held for the JVM's lifetime (counts, fixture rows). */
  def jvm[V]: Kind[V, V] = new Kind[V, V](None, (_, b) => b())
  // Persisted kinds: saved at `<rootFor(dir)>/<name>-<stamp>` and held in
  // the JVM over it — loaded if a completed save exists, else built and saved
  def centroids(spark: SparkSession): Kind[Seq[Seq[Double]], Seq[Seq[Double]]] =
    new Kind[Seq[Seq[Double]], Seq[Seq[Double]]](None, (p, b) => centroidsOrTrain(spark, p)(b()))
  def codebooks(spark: SparkSession): Kind[Seq[Seq[Seq[Double]]], Seq[Seq[Seq[Double]]]] =
    new Kind[Seq[Seq[Seq[Double]]], Seq[Seq[Seq[Double]]]](None, (p, b) => codebooksOrTrain(spark, p)(b()))
  val bytes: Kind[Array[Byte], Array[Byte]] =
    new Kind[Array[Byte], Array[Byte]](None, (p, b) => bytesOrTrain(p)(b()))
  /** A directory the build's writer fills at a stage path, renamed into
    * place; the value is the committed directory's path.
    */
  val files: Kind[String => Unit, String] =
    new Kind[String => Unit, String](None, (p, b) =>
      orTrain(p, done)(p, (w: String => Unit) => { writeStaged(p)(w); p }, b()))

  /** The corpus tables derived values key on. A generation check re-stamps
    * all of them, so eviction keeps every live table's entries (a missing
    * table stamps as the empty manifest — a harmless extra live stamp).
    */
  private val CorpusTables = Seq("documents", "embeddings", "events")

  private final case class Key(dir: String, table: String, stamp: String, name: String,
      session: Option[SparkSession])
  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()
  /** The stamps each dir's held entries belong to: dir → table → stamp. */
  private val live = new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  /** The value `name` derived from `dir`'s `table`, built at most once per
    * source stamp and kept for the kind's lifetime. `name` must carry every
    * build parameter, so a parameter or algorithm change never reuses a
    * stale value.
    */
  def get[B, V](kind: Kind[B, V], dir: String, table: String, name: String)(build: => B): V = {
    val stamp = stampOf(dir, table)
    if (kind.session.isDefined)
      entries.keySet.removeIf(k => k.session.exists(_.sparkContext.isStopped))
    val key = Key(dir, table, stamp, name, kind.session)
    entries.get(key) match {
      case null =>
        val v = kind.make(s"${rootFor(dir)}/$name-$stamp", () => build)
        // a generation change during the build: serve the value, hold nothing
        val winner = live.synchronized {
          if (live.get(dir).get(table).contains(stamp)) Option(entries.putIfAbsent(key, v.asInstanceOf[AnyRef]))
          else None
        }
        winner.fold(v) { w => release(key, v); w.asInstanceOf[V] }
      case v => v.asInstanceOf[V]
    }
  }

  /** `table`'s current stamp. A stamp not seen before for (dir, table)
    * re-stamps every corpus table of `dir` and releases each entry whose
    * stamp is no longer live, in memory and under the root.
    */
  private def stampOf(dir: String, table: String): String = {
    require(CorpusTables.contains(table), s"ModelStore: unknown corpus table $table")
    def stamp(t: String) = graft.connectors.Bucketing.cachedStamp(s"$dir/$t.parquet")
    val s = stamp(table)
    if (live.getOrDefault(dir, Map.empty).get(table).contains(s)) s
    else live.synchronized {
      val now = CorpusTables.map(t => t -> stamp(t)).toMap
      if (!live.getOrDefault(dir, Map.empty).equals(now)) {
        live.put(dir, now)
        entries.keySet.forEach { k =>
          if (k.dir == dir && now(k.table) != k.stamp) Option(entries.remove(k)).foreach(release(k, _))
        }
        evictStale(dir, now.values.toSet): Unit
      }
      now(table)
    }
  }

  private def frames(k: Key, v: Any): Seq[Dataset[_]] = v match {
    case _ if k.session.isEmpty => Nil
    case df: Dataset[_] => Seq(df)
    case t: Product => t.productIterator.collect { case df: Dataset[_] => df }.toSeq
    case _ => Nil
  }

  private def release(k: Key, v: Any): Unit = frames(k, v).foreach(graft.core.Checkpoints.release(_))

  /** The held entries of `dir` as (stamp, ids of the checkpointed RDDs the
    * entry holds) — what a generation change must release.
    */
  private[graft] def held(dir: String): Seq[(String, Seq[Int])] = {
    import scala.jdk.CollectionConverters._
    entries.asScala.toSeq.collect { case (k, v) if k.dir == dir =>
      (k.stamp, frames(k, v).flatMap(_.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }))
    }
  }

  /** Delete stamped entries under `rootFor(dir)` whose name does NOT end
    * in any of the `liveStamps` — the previous generations a corpus
    * regeneration strands. `liveStamps` is a SET because one corpus root
    * holds entries stamped from different source tables (embeddings-derived
    * quantizers, documents-derived blooms, events-derived fixtures). Safe
    * against concurrent readers of a live stamp (only other stamps are
    * touched); a reader of a stale stamp retrains, which is the cache
    * contract. Returns the number of entries removed.
    */
  def evictStale(dir: String, liveStamps: Set[String]): Int = {
    val stale = Option(new java.io.File(rootFor(dir)).listFiles()).getOrElse(Array.empty)
      .filterNot(f => liveStamps.exists(s => f.getName.endsWith(s"-$s")))
      // never touch in-flight write artifacts: a concurrent writer's
      // parquet stage (`<model>.stage-<pid>`) or saveBytes temp
      // (`.model*.tmp`) is seconds from committing under the LIVE stamp
      .filterNot(f => f.getName.contains(".stage-") || f.getName.endsWith(".tmp"))
    stale.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    stale.length
  }

  /** Per-corpus store root. One directory per corpus dir; callers append a
    * model name that embeds the training params AND a source-content stamp
    * ([[graft.connectors.Bucketing.stampDir]]) so a regenerated corpus can
    * never silently reuse a stale model — the same invalidation contract
    * the bucketed-layout cache uses.
    *
    * Keyed on a sanitized basename plus an MD5 digest of the NORMALIZED
    * absolute path — NOT `hashCode`: 32-bit collisions would let two
    * distinct corpus dirs silently share a model root (and
    * `math.abs(Int.MinValue)` is still negative). MD5-of-path makes
    * cross-dir collision practically impossible; the basename keeps the
    * root human-debuggable. Normalizing first ('/data/corpus' ≡
    * '/data/corpus/' ≡ a relative spelling of the same dir) stops jobs
    * that spell one corpus differently from silently retraining and
    * version-skewing bucket assignments — the exact hazard this keying
    * exists to prevent.
    */
  def rootFor(dir: String): String = {
    // un-normalizable spellings (e.g. an embedded NUL) fall back to the raw
    // string — they can't name a real corpus dir, so the only contract that
    // matters for them is stability + non-collision, which the digest keeps
    val norm =
      try new java.io.File(dir).getAbsoluteFile.toPath.normalize.toString
      catch { case _: java.nio.file.InvalidPathException => dir }
    val base = new java.io.File(norm).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    s"/tmp/graft-models-$base-$md5"
  }

  private def done(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").exists()

  /** Load the centroids at `path` if a completed save exists there,
    * otherwise train (by-name), persist, and return them. The reloaded
    * values are the exact IEEE doubles that were saved (SimilaritySpec), so
    * first-run and every-later-run callers compute identical plans.
    *
    * The load is race-hardened against [[evictStale]]: a concurrent JVM
    * still resolving models under an older corpus stamp can pass `done()`
    * and then lose the directory to another JVM's eviction mid-read. That
    * reader falls through to retrain-and-persist (the cache contract:
    * deleting a live model only ever costs one retrain) instead of
    * surfacing a missing-file read failure — pinned by PropertiesSpec's
    * evict-under-reader test.
    */
  def centroidsOrTrain(spark: SparkSession, path: String)(
      train: => Seq[Seq[Double]]): Seq[Seq[Double]] =
    orTrain(path, done)(loadCentroids(spark, path), (m: Seq[Seq[Double]]) => { saveCentroids(spark, path, m); m }, train)

  /** [[centroidsOrTrain]] for PQ codebooks — same evict-race fallback. */
  def codebooksOrTrain(spark: SparkSession, path: String)(
      train: => Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] =
    orTrain(path, done)(loadCodebooks(spark, path), (m: Seq[Seq[Seq[Double]]]) => { saveCodebooks(spark, path, m); m }, train)

  /** The single recovery flow behind every persisted kind: marker check →
    * load → evict-race classification → torn-marker clear → retrain-and-
    * persist. One site, so a change to the race handling can never leave
    * the centroid, codebook, bytes and file paths with divergent
    * crash-recovery semantics (r12 review finding). `done` is the kind's
    * completion marker; `save` persists the built value and returns what
    * the caller gets.
    */
  private def orTrain[B, V](path: String, done: String => Boolean)(
      load: => V, save: B => V, train: => B): V = {
    val hadMarker = done(path)
    val loaded =
      if (hadMarker)
        try Some(load)
        catch { case e: Exception if !done(path) || missingUnderneath(e) => None }
      else None
    loaded.getOrElse {
      val m = train
      // a lingering marker over a failed load is a torn entry: clear it so
      // the save below is not a no-op
      if (hadMarker && done(path)) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      save(m)
    }
  }

  /** True iff a load failure is the concurrent-eviction race: the entry
    * vanished — wholly or file-by-file — between the marker check and the
    * read, so retraining is the correct recovery. Two observable shapes:
    * the marker is already gone when re-checked, or the recursive delete
    * is mid-flight and the read died on missing files/paths while the
    * marker still lingers (deleteQuietly removes children in listing
    * order). A corrupt-but-PRESENT model (parquet decode failure on files
    * that exist) still rethrows — silently retraining over real corruption
    * would mask it.
    *
    * The torn-marker clear runs ONLY on that load-failure path: in the
    * plain first-train path a completed entry appearing between the
    * initial check and the save is a concurrent writer's GOOD model, and
    * writeStaged's first-writer-wins early-return must keep it — deleting
    * there would let a crash between delete and re-save strand the store
    * with no model at all (r12 review finding). On the load-failure path
    * the worst case of the same interleaving is one extra retrain, the
    * cache contract.
    */
  @annotation.tailrec
  private def missingUnderneath(t: Throwable): Boolean = t match {
    case null => false
    case _: java.io.FileNotFoundException => true
    case _: java.nio.file.NoSuchFileException => true
    case ae: org.apache.spark.sql.AnalysisException
        if Option(ae.getCondition).exists(c =>
          c.contains("PATH_NOT_FOUND") || c.contains("UNABLE_TO_INFER_SCHEMA")) =>
      true
    case other => missingUnderneath(other.getCause)
  }

  /** Opaque byte-array models (e.g. a serialized campaign bloom filter):
    * written to a temp file then atomically moved, so a concurrent reader
    * never sees a torn model.
    */
  def saveBytes(path: String, bytes: Array[Byte]): Unit = {
    val target = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(target.getParent)
    val tmp = java.nio.file.Files.createTempFile(target.getParent, ".model", ".tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(
      tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Load the byte model at `path`, or train-and-persist on first use —
    * the same evict-race fallback as [[centroidsOrTrain]]: a file evicted
    * between the existence check and the read retrains.
    */
  def bytesOrTrain(path: String)(train: => Array[Byte]): Array[Byte] =
    orTrain(path, p => new java.io.File(p).isFile)(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      (m: Array[Byte]) => { saveBytes(path, m); m }, train)

  private val centroidSchema = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Stage-then-rename directory write: `write` fills a (pid, counter)-
    * unique stage, so two concurrent writers never interleave into one
    * directory — the pid alone distinguishes JVMs but NOT two threads of
    * one JVM, which PropertiesSpec's racing-writers test caught blending
    * both models into a single stage. The first rename wins, the loser's
    * stage is discarded — a reader at `path` only ever sees a complete
    * directory. `write` must leave Spark's `_SUCCESS` marker in the stage.
    */
  private val stageCounter = new java.util.concurrent.atomic.AtomicLong()
  private def writeStaged(path: String)(write: String => Unit): Unit = {
    val dst = new java.io.File(path)
    if (done(path)) return
    // a dst without _SUCCESS is a torn write (crash before commit): remove
    // it rather than letting it block the rename forever — otherwise every
    // future JVM retrains, discards its stage, and persistence is silently
    // dead
    if (dst.exists()) org.apache.commons.io.FileUtils.deleteQuietly(dst)
    val stage = new java.io.File(
      s"$path.stage-${ProcessHandle.current().pid()}-${stageCounter.incrementAndGet()}")
    try {
      write(stage.toString)
      if (dst.exists() || !stage.renameTo(dst)) {
        // renameTo returning false is ambiguous: "concurrent writer won" and
        // "rename failed" (cross-filesystem move, OS quirk) look identical.
        // If no completed model actually exists at dst, a silent discard
        // here would kill persistence forever (every future JVM retrains and
        // loses the race against nobody) — so verify, then fall back to
        // Files.move, which THROWS on failure instead of lying.
        if (!done(path))
          try java.nio.file.Files.move(stage.toPath, dst.toPath)
          catch {
            // lost a race INSIDE the fallback window: a concurrent writer
            // committed dst between the done() re-check and the move. That
            // is the benign first-writer-wins outcome, not a failure — only
            // rethrow if dst still lacks a completed model.
            case e: java.nio.file.FileAlreadyExistsException =>
              if (!done(path)) throw e
          }
        else // concurrent writer won — first writer wins, discard our stage
          org.apache.commons.io.FileUtils.deleteQuietly(stage)
      }
    } finally
      if (stage.exists()) org.apache.commons.io.FileUtils.deleteQuietly(stage)
  }

  /** Persist coarse-quantizer centroids; `centroids(i)` is bucket i. */
  def saveCentroids(spark: SparkSession, path: String, centroids: Seq[Seq[Double]]): Unit = {
    val rows = centroids.zipWithIndex.map { case (c, i) => Row(i, c) }
    writeStaged(path)(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), centroidSchema)
      .coalesce(1).write.mode("overwrite").parquet(_))
  }

  /** Reload centroids in bucket order — the exact doubles that were saved. */
  def loadCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] =
    spark.read.parquet(path)
      .collect()
      .sortBy(_.getAs[Int]("bucket"))
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toSeq)
      .toSeq

  private val codebookSchema = StructType(Seq(
    StructField("subspace", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("center", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Persist PQ codebooks; `codebooks(m)(c)` is subspace m's code-c center. */
  def saveCodebooks(spark: SparkSession, path: String, codebooks: Seq[Seq[Seq[Double]]]): Unit = {
    val rows = for {
      (sub, m) <- codebooks.zipWithIndex
      (center, c) <- sub.zipWithIndex
    } yield Row(m, c, center)
    writeStaged(path)(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), codebookSchema)
      .coalesce(1).write.mode("overwrite").parquet(_))
  }

  /** Reload codebooks in (subspace, code) order. */
  def loadCodebooks(spark: SparkSession, path: String): Seq[Seq[Seq[Double]]] =
    spark.read.parquet(path)
      .collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"),
        r.getAs[scala.collection.Seq[Double]]("center").toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
}
