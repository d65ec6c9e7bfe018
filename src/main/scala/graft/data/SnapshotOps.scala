package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-corpus operators: snapshot diffing and delta-vs-index dedup.
  *
  * A production training corpus is never rebuilt from zero — each crawl
  * ships a delta, and the pipeline must answer "what changed?" and "which
  * of the new docs are already in the corpus?" WITHOUT rereading the
  * 100 TB it already ingested. Both operators therefore work on content
  * FINGERPRINTS: the text collapses to a 16-byte md5 at the scan, and
  * everything after — the diff join, the dedup window, the index probe —
  * moves (id, hash) pairs only. At 100 TB of text that is a ~0.05%-of-bytes
  * shuffle, the same never-move-the-payload rule as [[Dedup.exactDedup]].
  */
object SnapshotOps {

  /** Classify every document across two corpus snapshots as
    * `added` (in curr only), `removed` (in prev only), `changed` (both,
    * different content) or `unchanged`.
    *
    * Scale shape: each side reduces to (id, md5) at its scan — column
    * pruning drops the text before the exchange — then ONE full-outer
    * hash join on id. Ids are unique per snapshot, so the join is 1:1
    * with no fan-out; AQE handles the (rare) skewed id range. The status
    * verdict is a pure function of the two hashes, reproducible across
    * partitionings.
    */
  def snapshotDiff(
      prev: DataFrame,
      curr: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    // explicit presence flags: inferring presence from hash nullness would
    // misclassify a doc whose TEXT is null (md5(null) = null) as
    // added/removed even when the id exists on both sides
    val p = prev.select(
      col(idCol).as("_id"), md5(col(textCol)).as("prev_hash"), lit(true).as("_in_prev"))
    val c = curr.select(
      col(idCol).as("_id"), md5(col(textCol)).as("curr_hash"), lit(true).as("_in_curr"))
    p.join(c, Seq("_id"), "full_outer")
      .select(
        col("_id").as(idCol),
        when(col("_in_prev").isNull, lit("added"))
          .when(col("_in_curr").isNull, lit("removed"))
          .when(col("prev_hash") <=> col("curr_hash"), lit("unchanged"))
          .otherwise(lit("changed"))
          .as("status"))
  }

  /** Dedup a delta batch against an already-ingested corpus: each delta row
    * gets a verdict — `dup_corpus` (content already in the index),
    * `dup_delta` (a duplicate within the batch; the lowest id is the keeper)
    * or `new` (survives both gates).
    *
    * `corpusIndex` is any frame with a `textCol` column representing the
    * ingested corpus (in production: the persisted hash manifest, passed as
    * a frame of hashes via [[incrementalDedupByHash]]). Scale shape: the
    * index collapses to DISTINCT hashes (bounded by unique-content count,
    * not corpus bytes); the delta joins it on the 16-byte hash — for a
    * typical delta ≪ corpus, broadcast the DELTA-side hash set or
    * bloom-prune the index probe exactly as
    * [[Decontaminate.decontaminateBloom]] does; the equi-join form below
    * lets AQE pick. The within-batch window shares the same
    * hash-partitioning as the join, so the whole verdict costs one
    * exchange of (hash, id) pairs.
    */
  def incrementalDedup(
      corpusIndex: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame =
    incrementalDedupByHash(
      corpusIndex.select(md5(col(textCol)).as("content_hash")),
      delta,
      idCol,
      textCol)

  /** [[incrementalDedup]] against a pre-built hash manifest — the shape a
    * real pipeline runs, where the corpus index is maintained as a compact
    * (content_hash) table and never recomputed from text.
    */
  def incrementalDedupByHash(
      hashIndex: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val idx = hashIndex.select(col("content_hash")).distinct()
      .withColumn("_in_corpus", lit(true))
    val w = Window.partitionBy(col("content_hash"))
    delta
      .select(col(idCol), md5(col(textCol)).as("content_hash"))
      .join(idx, Seq("content_hash"), "left")
      .withColumn("_keep_id", min(col(idCol)).over(w))
      .select(
        col(idCol),
        col("content_hash"),
        when(col("_in_corpus"), lit("dup_corpus"))
          .when(col(idCol) =!= col("_keep_id"), lit("dup_delta"))
          .otherwise(lit("new"))
          .as("verdict"))
  }

  /** NEAR-dup incremental dedup — [[incrementalDedup]]'s contract at the
    * MinHash-LSH grain: gate a delta batch against the already-ingested
    * corpus without an all-pairs comparison, catching recrawls that
    * differ by boilerplate/timestamps where the exact hash face misses.
    * Verdicts per delta doc:
    *   - `dup_corpus` — banded-signature collision with an INGESTED doc,
    *     verified at true n-gram Jaccard ≥ `threshold`;
    *   - `dup_delta` — verified collision with an EARLIER delta doc
    *     (lower id = first-seen, the arrival-order rule of the streaming
    *     near-dup gate; pair-grain, not transitive closure);
    *   - `new` — everything else. `dup_corpus` wins when both hold.
    *
    * Scale shape: the corpus side participates ONLY through its banded
    * bucket frame (sid, band, bucket — [[nearDupBandIndex]], ids + hash
    * strings, never text), which is exactly the layout a production
    * pipeline PERSISTS as its near-dup index and appends per delta. So
    * this face IS [[incrementalNearDupIndexed]] over that frame,
    * checkpointed once per call: the candidate joins are bucket-equi-joins
    * guarded by the shared flood guard, and only collided candidates pay
    * the shingle-set verify (two-phase LSH, delta-sized). The stamp is the
    * frame's own (no max-band scan), and nothing is pruned (the frame is
    * not a bucketed table).
    */
  def incrementalNearDup(
      corpusIndex: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      rows: Int = 2,
      threshold: Double = 0.8,
      maxBucketRows: Int = 10000
  ): DataFrame = {
    val cB = nearDupBandIndex(corpusIndex, idCol, textCol, n, k, rows).localCheckpoint()
    val out = CorpusOps.releaseOnFailure(cB) {
      incrementalNearDupIndexed(cB, corpusIndex, delta, idCol, textCol, n, k, rows, threshold,
        maxBucketRows, pruneBuckets = false, indexStamp = Some(bandStamp(n, k, rows)))
    }
    graft.core.Checkpoints.release(cB)
    out
  }

  /** The persisted near-dup BAND INDEX layout for a corpus: one
    * (sid, band, bucket) row per (doc, band) — [[Dedup.bandedBuckets]]'s
    * frame made public so a pipeline can materialize it ONCE per corpus
    * stamp (e.g. via [[graft.connectors.Bucketing.ensureBucketed]] bucketed
    * by `bucket`), append each ingested delta's bands, and serve every
    * subsequent [[incrementalNearDupIndexed]] gate from the table instead
    * of re-scanning corpus text per batch. Append-equivalence
    * (index(A) ∪ bands(D) ≡ index(A ∪ D)) holds because a doc's bands are
    * a pure function of its own text — spec-pinned in SnapshotOpsSpec.
    */
  def nearDupBandIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      rows: Int = 2
  ): DataFrame = {
    require(k % rows == 0, "nearDupBandIndex: k must be divisible by band rows")
    Dedup.bandedBuckets(corpus, idCol, TextAnalysis.tokens(col(textCol)), n, k, rows)
  }

  /** Canonical encoding of the banding triple for a persisted index's build
    * stamp. Put this in the `sourceStamp` passed to
    * [[graft.connectors.Bucketing.ensureBucketed]] when materializing a
    * [[nearDupBandIndex]]; pass the persisted stamp
    * ([[graft.connectors.Bucketing.readStamp]]) back as
    * [[incrementalNearDupIndexed]]'s `indexStamp` and the parameter-drift
    * guard validates against the marker instead of scanning the index —
    * and catches ALL drift (a shingle-n change preserves the band count,
    * which the structural max-band scan cannot see).
    */
  def bandStamp(n: Int, k: Int, rows: Int): String = s"bands(n=$n,k=$k,rows=$rows)"

  /** [[incrementalNearDup]] served from a PERSISTED band index — the
    * production shape (VERDICT r16 #1, the [[graft.data.Similarity.topKIndexed]]
    * precedent): the corpus side's (sid, band, bucket) frame comes from
    * `bandIndex` (a [[nearDupBandIndex]] table, ideally bucketed by
    * `bucket`) instead of a per-call tokenize+shingle+k-hash re-scan of
    * corpus text — at 100 TB that re-scan IS the query cost, paid on every
    * delta batch. `corpusText` is still needed, but ONLY for the verify
    * arm: the shingle sets of COLLIDED candidates (a delta-sized left-semi
    * fetch, the two-phase LSH contract), never the full corpus.
    *
    * When `pruneBuckets`, the delta's distinct bucket keys (bounded by
    * deltaRows × nBands) are collected and pushed as an `IN` filter on the
    * index's bucket column — on a bucket-bucketed table Spark turns that
    * into BUCKET PRUNING (`SelectedBucketsCount`): the non-collided part
    * of the index is never read. The filter is implied by the candidate
    * equi-join, so pruning is plan-only — answers are identical to
    * [[incrementalNearDup]] on the same corpus (the SAME oracle gates
    * both, spec-pinned).
    *
    * `maxPruneBuckets` caps the literal count, and the cap is a PLAN-cost
    * bound, not a correctness one (SCALE.md "r17: near-dup band index
    * persisted"):
    * Catalyst clones the whole IN literal list on every optimizer pass of
    * every consumer, so an 18k-string probe set cost 4–8 s of pure
    * planning PER consumer at sf0.1 (the flood guard and the candidate
    * join each pay it — a 4× face regression), while ≤ ~2k literals plan
    * in noise. Above the cap the UNPRUNED index read is the right shape —
    * the candidate equi-join on (band, bucket) already does the filtering
    * at execution (a semi-join pre-prune measured as pure overhead:
    * +0.4–0.8 s for zero answer change); what's lost is only the scan-side
    * I/O skip, which a probe set that large wouldn't deliver anyway (most
    * buckets touched). Small deltas — the per-batch production grain —
    * stay under the cap and keep the `SelectedBucketsCount` win.
    *
    * The flood guard runs on the PRUNED index slice — the actual join
    * input — plus the delta bands; a flood in a never-probed bucket is a
    * build-time concern ([[nearDupBandIndex]] callers gate there), not a
    * query-time one.
    */
  def incrementalNearDupIndexed(
      bandIndex: DataFrame,
      corpusText: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      rows: Int = 2,
      threshold: Double = 0.8,
      maxBucketRows: Int = 10000,
      pruneBuckets: Boolean = true,
      maxPruneBuckets: Int = 2048,
      indexStamp: Option[String] = None,
      checkCoverage: Boolean = false
  ): DataFrame = {
    require(k % rows == 0, "incrementalNearDupIndexed: k must be divisible by band rows")
    Seq("sid", "band", "bucket").foreach(c =>
      require(bandIndex.columns.contains(c),
        s"incrementalNearDupIndexed: bandIndex lacks column $c — build it with nearDupBandIndex"))
    // the (n, k, rows) triple is part of the INDEX IDENTITY: banding the
    // delta under different parameters than the persisted index yields
    // zero collisions and silently verdicts every true near-dup `new` —
    // the one failure mode a layout cache must never have (the Bucketing
    // marker stance). With `indexStamp` (the persisted table's build stamp,
    // Bucketing.readStamp) the guard is a STRING check against the marker —
    // free per call, and it catches shingle-n drift the structural scan
    // can't see (ADVICE r17: the agg(max) ran a full column-pruned index
    // scan on every delta batch, eroding the bucket-pruned read's win).
    // Without a stamp, fall back to that scan: band-count drift is loud;
    // every doc explodes ALL its bands, so ANY non-empty index built under
    // this (k, rows) has band ids exactly 0..nBands-1; an EMPTY index is
    // legitimate (first batch ever — no candidates, all verdicts `new`).
    indexStamp match {
      case Some(s) =>
        require(s.contains(bandStamp(n, k, rows)),
          s"incrementalNearDupIndexed: the persisted index's build stamp ($s) does not " +
            s"carry ${bandStamp(n, k, rows)} — the index was built under DIFFERENT banding " +
            "parameters; rebuild it with nearDupBandIndex under this (n, k, rows) and put " +
            "bandStamp(n, k, rows) in the ensureBucketed sourceStamp")
      case None =>
        val nBands = k / rows
        val maxBand = bandIndex.agg(max(col("band"))).head()
        if (!maxBand.isNullAt(0))
          require(maxBand.getInt(0) == nBands - 1,
            s"incrementalNearDupIndexed: index band ids reach ${maxBand.getInt(0)} but " +
              s"k=$k/rows=$rows implies bands 0..${nBands - 1} — the index was built under " +
              "DIFFERENT banding parameters; rebuild it with nearDupBandIndex under this " +
              "(n, k, rows) and stamp the triple into the build")
    }
    val dB = nearDupBandIndex(delta, idCol, textCol, n, k, rows).localCheckpoint()
    val out = CorpusOps.releaseOnFailure(dB) {
      val cB = if (pruneBuckets) pruneIndexToDelta(bandIndex, dB, maxPruneBuckets) else bandIndex
      // ONE tagged count job guards both join sides (delta bands + the
      // pruned index slice — the actual join inputs); the error names the
      // flooded side (guide §1.2 — one driver round-trip, not two)
      Dedup.assertNoBucketFloodAll(
        Seq("delta" -> dB, "index" -> cB), Seq("band", "bucket"), maxBucketRows,
        "incrementalNearDupIndexed", "duplicate",
        "A single band bucket would drive a quadratic candidate join; collapse exact " +
          "duplicates first or raise maxBucketRows only if the distinct-grain quadratic " +
          "is truly intended (the minhashPairs scaladoc discusses both contracts).")
      nearDupVerdicts(dB, cB, corpusText, delta, idCol, textCol, n, threshold, checkCoverage)
    }
    graft.core.Checkpoints.release(dB)
    out
  }

  /** The index slice a delta batch actually probes: the delta's DISTINCT
    * bucket keys (bounded by deltaRows × nBands — a driver-bounded collect,
    * the probed-cells stance of `Similarity.topKIndexed`) pushed as an `IN`
    * filter on the index's bucket column. On a bucket-bucketed table this
    * plans as BUCKET PRUNING (`SelectedBucketsCount` — spec-pinned in
    * SnapshotOpsSpec). Plan-only: the filter is implied by the candidate
    * equi-join, so the answer never changes. Oversized probe sets fall
    * back to the unpruned index, loudly.
    */
  private[graft] def pruneIndexToDelta(
      bandIndex: DataFrame,
      deltaBands: DataFrame,
      maxPruneBuckets: Int
  ): DataFrame = {
    val buckets = deltaBands.select(col("bucket")).distinct().collect().map(_.getString(0))
    if (buckets.length > maxPruneBuckets) {
      org.slf4j.LoggerFactory.getLogger("graft.data.SnapshotOps").warn(
        s"incrementalNearDupIndexed: delta probe set (${buckets.length} buckets) exceeds " +
          s"maxPruneBuckets=$maxPruneBuckets — serving the UNPRUNED index (answers " +
          "unchanged; the candidate equi-join does the filtering, only the scan-side " +
          "I/O skip is lost). Expected for large delta batches; split the batch if " +
          "the bucket-pruned read matters")
      bandIndex
    } else bandIndex.where(col("bucket").isin(buckets.toSeq: _*))
  }

  /** Verdict tail of [[incrementalNearDupIndexed]] (and so of
    * [[incrementalNearDup]]): candidate equi-joins off the two band
    * frames, candidate-only shingle verify, per-doc verdict. Owns (and
    * releases) the candidate/verify checkpoints; the CALLERS own `dB`/`cB`.
    *
    * ==The index ⊆ corpusText contract==
    * Every corpus-side sid in `cB` MUST have its text in `corpusText`: a
    * collided cid absent from `corpusText` silently vanishes in the verify
    * semi-join below and the true near-dup verdicts `new` — the same
    * silent-miss class the band-parameter guard exists to prevent (ADVICE
    * r17). The contract holds structurally when index and corpus advance
    * TOGETHER (the [[graft.data.CorpusIngest]] capstone appends a gated
    * batch to both in one pass); `checkCoverage=true` asserts it instead —
    * one anti-join of the (delta-bounded, checkpointed) collided cids
    * against the corpus id column, failing loudly on the first miss. Off
    * by default: the assert reads the corpus id column per batch, which
    * the structurally-maintained pipeline shouldn't pay.
    */
  private def nearDupVerdicts(
      dB: DataFrame,
      cB: DataFrame,
      corpusText: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      checkCoverage: Boolean = false
  ): DataFrame = {
    // delta × corpus collisions → candidate (did, cid); delta × delta
    // collisions → candidate (i, j) — both join arms keep their OWN scan
    // shape, and only their candidate-sized OUTPUTS union under a side tag
    // into ONE distinct + ONE eager checkpoint (guide §1.2/§2.4: the two
    // per-side distinct exchanges and checkpoints were two driver
    // round-trips where one suffices). Unioning the raw band frames before
    // one shared join was measured SLOWER when the corpus side is a
    // bucketed table — the raw union blocks the unnecessary-bucketed-scan
    // rewrite, leaving one open-cost task per bucket file — while the
    // result-grain union is candidate-sized and scan-shape-neutral.
    // Candidate sets are unchanged: same join keys, same `i < j`
    // delta-pair orientation, distinct at (side, did, oid) grain ≡ the two
    // per-side distincts.
    val dcRaw = dB.select(col("band"), col("bucket"), col("sid").as("did"))
      .join(cB.select(col("band"), col("bucket"), col("sid").as("oid")), Seq("band", "bucket"))
      .select(lit("c").as("side"), col("did"), col("oid"))
    val ddRaw = dB.select(col("band"), col("bucket"), col("sid").as("did"))
      .join(dB.select(col("band"), col("bucket"), col("sid").as("oid")), Seq("band", "bucket"))
      .filter(col("did") < col("oid"))
      .select(lit("d").as("side"), col("did"), col("oid"))
    val cand = dcRaw.unionByName(ddRaw)
      .distinct()
      .localCheckpoint()
    val candDC = cand.filter(col("side") === "c").select(col("did"), col("oid").as("cid"))
    val candDD = cand.filter(col("side") === "d")
      .select(col("did").as("i"), col("oid").as("j"))
    // everything from here to the final verdict checkpoint runs under the
    // failure guard: an executor loss in the shingle-verify jobs must not
    // strand cand/dSets in a catch-and-retry loop (code-review r18)
    val out = CorpusOps.releaseOnFailure(cand) {
      if (checkCoverage) {
        val missing = candDC.select(col("cid")).distinct()
          .join(corpusText.select(col(idCol).as("cid")), Seq("cid"), "left_anti")
          .limit(3).collect()
        if (missing.nonEmpty)
          throw new IllegalStateException(
            "incrementalNearDup: band index contains sids absent from corpusText (e.g. " +
              missing.map(_.get(0)).mkString(", ") +
              ") — their collided candidates would silently vanish in the verify " +
              "semi-join and true near-dups verdict `new`. The index and the corpus text " +
              "must advance together (append the same gated batch to both — the " +
              "CorpusIngest capstone shape) or be rebuilt from the same snapshot.")
      }
      val shingles = (df: DataFrame) => df.select(
        col(idCol).as("sid"),
        graft.functions.ShingleHash60(TextAnalysis.tokens(col(textCol)), n).as("sset"))
      // ONE delta shingle-set frame feeds both verify arms (semi-join to
      // candidate ids only — the two-phase LSH contract); `did` covers both
      // the corpus-arm probe ids and the delta-pair `i` side
      val dCandIds = cand.select(col("did").as("sid"))
        .unionByName(candDD.select(col("j").as("sid")))
        .distinct()
      val dSets = shingles(delta)
        .join(dCandIds, Seq("sid"), "left_semi")
        .localCheckpoint()
      val verdicts = CorpusOps.releaseOnFailure(dSets) {
        val cSets = shingles(corpusText)
          .join(candDC.select(col("cid").as("sid")).distinct(), Seq("sid"), "left_semi")
        def jaccardAtLeast(df: DataFrame, a: String, b: String): DataFrame = df
          .withColumn("c", size(array_intersect(col(a), col(b))).cast("long"))
          .withColumn(
            "jaccard",
            col("c").cast("double") / (size(col(a)) + size(col(b)) - col("c")))
          .filter(col("jaccard") >= threshold)
        val corpusDup = jaccardAtLeast(
          candDC
            .join(dSets.select(col("sid").as("did"), col("sset").as("sd")), Seq("did"))
            .join(cSets.select(col("sid").as("cid"), col("sset").as("sc")), Seq("cid")),
          "sd", "sc")
          .select(col("did"))
          .distinct()
          .withColumn("_dup_corpus", lit(true))
        // delta × delta verified pairs: first-seen (lower id) wins
        val deltaDup = jaccardAtLeast(
          candDD
            .join(dSets.select(col("sid").as("i"), col("sset").as("si")), Seq("i"))
            .join(dSets.select(col("sid").as("j"), col("sset").as("sj")), Seq("j")),
          "si", "sj")
          .select(col("j").as("did"))
          .distinct()
          .withColumn("_dup_delta", lit(true))
        delta.select(col(idCol))
          .join(corpusDup, col(idCol) === corpusDup("did"), "left").drop("did")
          .join(deltaDup, col(idCol) === deltaDup("did"), "left").drop("did")
          .select(
            col(idCol),
            when(col("_dup_corpus"), lit("dup_corpus"))
              .when(col("_dup_delta"), lit("dup_delta"))
              .otherwise(lit("new"))
              .as("verdict"))
          .localCheckpoint()
      }
      // the happy-path release can itself throw (executor loss mid-
      // unpersist) — guard the freshly-checkpointed result so the outer
      // rethrow cannot strand it (code-review r18)
      CorpusOps.releaseOnFailure(verdicts) {
        graft.core.Checkpoints.release(dSets)
        verdicts
      }
    }
    graft.core.Checkpoints.release(cand)
    out
  }
}
