package graft.connectors

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-WRITER persisted-index maintenance (VERDICT r19 #6) — N
  * concurrent ingest streams appending ONE index, exactly-once, with the
  * serve path still reading the bucketed co-located layout.
  *
  * [[Bucketing.appendBucketedExactlyOnce]] is single-writer per path by
  * design: its marker fence is ONE linear stamp chain, which cannot
  * represent a set of independent writers' commits. The reference's answer
  * to "many producers, one topic, exactly-once" is Kafka producer
  * transactions fenced per `transactional.id`
  * (`/root/reference/src/main/java/com/streamforge/connector/kafka/KafkaSinkBuilder.java:87-109`);
  * this repo's analogue of that mechanism is [[TxnLogSink]]'s per-writer
  * manifest commit (rename-without-overwrite, committed-wins). This object
  * composes the two into the standard LSM/table-format shape:
  *
  *  - '''append''' (N writers, concurrent): each writer commits its
  *    epoch's delta rows to the index's delta log via
  *    `TxnLogSink.writer(writerId)` — per-attempt data dirs, one
  *    no-overwrite manifest rename decides the winner, replayed epochs
  *    skip on the existing manifest. No writer ever touches the bucketed
  *    base or another writer's files; there is NOTHING to stripe or lock
  *    across writers.
  *  - '''fold''' (single maintainer, any cadence): absorbs every committed
  *    delta into the bucketed base through the SAME
  *    `appendBucketedExactlyOnce` fence as the single-writer pipelines.
  *    The fence stamp is the absorbed per-writer high-water vector
  *    (`mw(w1=e1,w2=e2,...)`), so a replayed fold skips, a torn fold
  *    rebuilds from the log (manifests and attempt data are retained —
  *    the log IS the recovery source), and a foreign stamp rebuilds,
  *    never trusts. Per-writer epochs commit contiguously (the
  *    foreachBatch contract TxnLogSink is built for), so a high-water
  *    mark describes exactly the absorbed prefix.
  *  - '''read''' (any reader): folded bucketed base ∪ committed-but-
  *    unfolded tail (`epoch > absorbed(writer)`) — the tail is the small
  *    recent window, the LSM memtable analogue. The base serves from a
  *    marker-validated listing of the bucketed layout taken at read time
  *    (pruning and exchange-free joins intact), falling back to the log's
  *    immutable files on any disturbance, so base ∪ tail is one
  *    consistent snapshot (see [[read]]).
  *
  * Exactly-once end to end: a delta row lives in EITHER the base (its
  * epoch ≤ absorbed high-water) OR the tail (epoch > high-water), never
  * both and never neither; writer replays are fenced by the manifest,
  * fold replays by the marker stamp.
  *
  * 100 TB shape: writer cost is O(its delta) with one driver-side rename;
  * fold cost is O(unfolded rows) data motion + O(manifests since the last
  * log checkpoint) driver listing (TxnLogSink rolls manifests up every
  * `checkpointEvery` commits); serve reads the bucketed base plus the
  * unfolded tail files only. Folded epochs' log data is retained for
  * rebuild-never-trust recovery — prune it only with a base backup in
  * hand (the table-format snapshot-expiry trade, out of scope here).
  *
  * Read-vs-fold isolation (ADVICE r20): [[read]] is snapshot-consistent —
  * the tail comes from the log's immutable manifest-pinned files and the
  * base from a listing of the bucketed layout taken once, at read time,
  * between two equal marker reads (log files as the fallback), so a fold
  * committing between plan construction and the frame's action can
  * neither duplicate nor drop rows: it adds files the base listing never
  * saw and epochs the tail filter never covered. The one residual caveat
  * is physical: a COMPACTION swaps base files in place, so a frame held
  * across one fails its scan on vanished files (loud, never a silent
  * under-read); a listing taken mid-swap is caught by the compaction
  * generation the marker carries and falls back to the log. The
  * documented single-maintainer model keeps compaction in the serving
  * JVM, where the path monitor serializes it with the listing.
  */
object MultiWriterIndex {

  private def baseDir(indexDir: String): String = s"$indexDir/base"
  private def logOf(indexDir: String): TxnLogSink = TxnLogSink(s"$indexDir/deltalog")

  /** The fold fence: absorbed per-writer high-water marks, canonically
    * ordered, optionally followed by `|suffix` — the caller's OPERATOR
    * IDENTITY (e.g. [[graft.data.SnapshotOps.bandStamp]] + corpus stamp),
    * validated per call exactly like the single-writer faces validate
    * theirs. Parse and render are exact inverses; [[parseFoldStamp]]
    * rejects anything it did not render (a foreign stamp must force the
    * rebuild arm, never a bogus absorbed vector).
    */
  private def foldStamp(hw: Map[String, Long], suffix: String): String = {
    val base = "mw(" + hw.toSeq.sorted.map { case (w, e) => s"$w=$e" }.mkString(",") + ")"
    if (suffix.isEmpty) base else s"$base|$suffix"
  }

  private[graft] def parseFoldStamp(s: String): Option[(Map[String, Long], String)] =
    if (!s.startsWith("mw(")) None
    else {
      val close = s.indexOf(')')
      if (close < 0) None
      else {
        val rest = s.substring(close + 1)
        val suffix =
          if (rest.isEmpty) Some("")
          else if (rest.startsWith("|") && rest.length > 1) Some(rest.substring(1))
          else None
        val body = s.substring(3, close)
        val hw =
          if (body.isEmpty) Some(Map.empty[String, Long])
          else {
            val parts = body.split(",", -1).toSeq.map { p =>
              p.split("=", -1) match {
                // Try, not bare toLong: an epoch token of digits longer than
                // Long.MaxValue (corrupt/foreign marker) must yield None and
                // the rebuild arm, never throw out of fold()/read() (ADVICE r20)
                case Array(w, e) if w.nonEmpty && e.nonEmpty && e.forall(_.isDigit) =>
                  scala.util.Try(e.toLong).toOption.map(w -> _)
                case _ => None
              }
            }
            if (parts.forall(_.isDefined)) Some(parts.flatten.toMap) else None
          }
        for { m <- hw; suf <- suffix } yield (m, suf)
      }
    }

  /** A persisted identity suffix that does not match the caller's is a
    * LOUD error, never a rebuild: the log's rows are the writers' product
    * (banded/encoded under the caller's parameters at append time), so an
    * identity change invalidates the WHOLE log — this object can rebuild
    * the base from the log, but cannot re-derive the log from sources.
    */
  private def requireSuffix(what: String, indexDir: String, stored: String, asked: String): Unit =
    require(stored == asked,
      s"MultiWriterIndex.$what: the folded base at $indexDir carries identity '$stored' but " +
        s"the caller asked for '$asked' — the delta log's rows were produced under the stored " +
        "identity, so a parameter change needs a NEW index dir (re-append the deltas), not a " +
        "fold")

  /** WRITER side: exactly-once append of one epoch's delta rows from
    * writer `writerId`. Call from each ingest stream's `foreachBatch`
    * (writerId = the query's stable id, epoch = batchId) — concurrent
    * writers and replayed epochs are both safe; see the object scaladoc.
    */
  def appendDelta(delta: DataFrame, indexDir: String, writerId: String, epoch: Long): Unit = {
    // the id is embedded in the fold-stamp grammar (`mw(w=e,...)`): a
    // delimiter inside it would render a stamp parseFoldStamp rejects,
    // degrading every later fold to a full rebuild — refuse upfront
    // (TxnLogSink separately forbids '-' and '/' for its manifest names)
    require(writerId.nonEmpty && writerId.forall(c => c.isLetterOrDigit || c == '_'),
      s"MultiWriterIndex.appendDelta: writerId '$writerId' must be [A-Za-z0-9_]+ — it is " +
        "embedded in the fold fence stamp and the manifest names")
    logOf(indexDir).writer(writerId)(delta, epoch)
  }

  /** MAINTAINER side: absorb every committed delta into the bucketed base
    * at `<indexDir>/base`, clustered by `keyCol` into `nBuckets`. Returns
    * the folded base. Single maintainer per index (the [[Bucketing]]
    * single-writer-per-path contract — the
    * fence detects and refuses cross-JVM interleaves); any cadence,
    * including unconditionally per batch: an already-absorbed state is a
    * marker-read no-op.
    *
    * Every fold that moved data ends with an unconditional
    * [[Bucketing.compactBucketed]] pass (`maxFilesPerBucket`, default 1):
    * each fold's append lands up to one file per bucket, so a long
    * cadence without compaction re-creates the small-files decay the
    * single-writer pipelines already close per batch (SCALE.md "r18:
    * bucketed-index compaction") — and compaction is physical-only (marker
    * restored with only its `gen=` generation bumped, per-bucket no-op
    * skip), so the fold fence and every stamp-validated reader see nothing.
    */
  def fold(
      spark: SparkSession,
      indexDir: String,
      keyCol: String,
      nBuckets: Int,
      stampSuffix: String = "",
      maxFilesPerBucket: Int = 1
  ): DataFrame = {
    val bd = baseDir(indexDir)
    val log = logOf(indexDir)
    val hwNow: Map[String, Long] = log.committedEpochs(spark)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    // nothing committed and no folded base: nothing to fold, nothing to
    // serve — the unconditional-cadence caller's first tick before any
    // writer commits (a base WITH a marker but an empty log falls through
    // to the truncation check below, which is the loud case it should be).
    // NOTE the returned frame is SCHEMA-LESS (no row has ever named the
    // index schema): a caller selecting index columns on this tick must
    // guard with isEmpty first (ADVICE r20; the spec arm does exactly that)
    if (hwNow.isEmpty && Bucketing.readStamp(bd).isEmpty) return spark.emptyDataFrame
    val post = foldStamp(hwNow, stampSuffix)
    def sliceUpTo(hw: Map[String, Long]): DataFrame =
      log.readSlice(spark, upTo = Some(hw)).getOrElse(
        throw new IllegalStateException(
          s"MultiWriterIndex.fold: the delta log at $indexDir names absorbed epochs ($hw) " +
            "but holds no committed rows for them — the log was truncated; the folded base " +
            "cannot be rebuilt. Restore the log or rebuild the index from source."))
    val markerStamp = Bucketing.readStamp(bd)
    (markerStamp, markerStamp.flatMap(parseFoldStamp)) match {
      case (Some(s), _) if s == post =>
        // replayed/duplicate fold: read back only (the frame never
        // evaluates when the on-disk spec matches the stamp)
        Bucketing.ensureBucketed(spark, sliceUpTo(hwNow), bd, keyCol, nBuckets, sourceStamp = post)
      case (Some(s), Some((absorbed, storedSuffix))) =>
        requireSuffix("fold", indexDir, storedSuffix, stampSuffix)
        require(absorbed.forall { case (w, e) => hwNow.getOrElse(w, -1L) >= e },
          s"MultiWriterIndex.fold: the base at $bd claims absorbed epochs ($absorbed) the " +
            s"delta log no longer shows committed ($hwNow) — manifests never vanish, so the " +
            "log was truncated or this base belongs to a different log; rebuild from source")
        Bucketing.appendBucketedExactlyOnce(
          spark,
          delta = log.readSlice(spark, above = absorbed, upTo = Some(hwNow)).getOrElse(
            // nothing new, but pre != post means hwNow gained a writer with
            // no rows in range — impossible by construction (hwNow comes
            // from the same committed set the slice reads); fail loudly
            throw new IllegalStateException(
              s"MultiWriterIndex.fold: fence says new epochs exist above $absorbed up to " +
                s"$hwNow but the log slice is empty — commit listing and slice disagree")),
          rebuildPre = sliceUpTo(absorbed),
          rebuildPost = sliceUpTo(hwNow),
          bd, keyCol, nBuckets, preStamp = s, postStamp = post)
        // the append landed ≤ one file per bucket: fold it back before the
        // next cadence tick (physical-only; per-bucket no-op when within
        // budget, so this is safe to run unconditionally)
        Bucketing.compactBucketed(spark, bd, keyCol, nBuckets, maxFilesPerBucket)
      case _ =>
        // no marker (torn fold) or a foreign/unparseable stamp: rebuild the
        // full folded state from the log — never trust
        Bucketing.ensureBucketed(spark, sliceUpTo(hwNow), bd, keyCol, nBuckets, sourceStamp = post)
    }
  }

  /** READ side: the folded bucketed base (when one exists) unioned with
    * every committed-but-unfolded delta — each row exactly once. Before
    * any fold has run this is the pure committed log view.
    *
    * Snapshot stance (ADVICE r20, re-bucketed r22): the base half is the
    * bucketed layout listed ONCE, here, so a fold committing before the
    * frame's action cannot swell it with newly-folded epochs the tail
    * filter (computed from the pre-fold absorbed vector) still covers. The
    * listing is validated by a marker double-read bracketing it (every
    * maintainer mutation removes/rewrites the marker first, and the stamp
    * must equal the absorbed vector the tail was derived from), and the
    * marker must carry the caller's (key, buckets) spec, as
    * Bucketing.requireMarkerSpec demands: the read declares that spec to
    * the planner, so a base folded under another one would be pruned and
    * co-located by the wrong hash. Any disturbance or mismatch degrades to
    * the delta log's manifest-pinned attempt files — the r20 always-log
    * shape, never a guess. A FOREIGN JVM's compaction (in-JVM maintainers
    * serialize on the same path lock) finishing between the two marker
    * reads bumps the marker's `gen=` line, so the reads disagree and the
    * read falls back; one that deletes listed files AFTER the second read
    * fails the scan on a vanished file — loud, never a silent under-read.
    * Bucket pruning (`SelectedBucketsCount`) and the co-located layout
    * therefore survive on a quiet index, tail or no tail.
    */
  def read(
      spark: SparkSession,
      indexDir: String,
      keyCol: String,
      nBuckets: Int,
      stampSuffix: String = ""
  ): DataFrame = {
    val bd = baseDir(indexDir)
    val log = logOf(indexDir)
    Bucketing.readStamp(bd).flatMap(parseFoldStamp) match {
      case Some((absorbed, storedSuffix)) =>
        requireSuffix("read", indexDir, storedSuffix, stampSuffix)
        val bucketedBase = Bucketing.withPathLock(bd) {
          for {
            before <- Bucketing.readMarkerContent(bd)
            lines = before.linesIterator.toSet
            if lines(s"stamp=${foldStamp(absorbed, storedSuffix)}") &&
              lines(s"key=$keyCol") && lines(s"buckets=$nBuckets") &&
              Bucketing.schemaDdlOf(before).isDefined
            frame = Bucketing.frameOf(spark, bd, before)
            after <- Bucketing.readMarkerContent(bd)
            if after == before
          } yield frame
        }
        val base = bucketedBase.getOrElse(log.readSlice(spark, upTo = Some(absorbed)).getOrElse(
          throw new IllegalStateException(
            s"MultiWriterIndex.read: base at $bd names absorbed epochs ($absorbed) the " +
              "log holds no rows for — log truncated; rebuild the index")))
        log.readSlice(spark, above = absorbed).fold(base)(base.unionByName(_))
      case None =>
        // no folded base yet (or a foreign marker, which fold will rebuild):
        // serve the committed log directly
        log.readSlice(spark).getOrElse(spark.emptyDataFrame)
    }
  }

  /** The folded base's marker stamp (`mw(<high-water>)[|<identity>]`), if
    * a fold has committed one — what a serve face passes to its operator's
    * stamp validation (the single-writer faces' `readStamp` discipline).
    */
  def baseStamp(indexDir: String): Option[String] = Bucketing.readStamp(baseDir(indexDir))
}
