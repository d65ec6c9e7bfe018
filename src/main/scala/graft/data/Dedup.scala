package graft.data

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines:
  * exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup: one shuffle on the content hash, never on the text
  *  - n-gram Jaccard all-pairs is quadratic — it is the VERIFIER, applied to
  *    LSH candidates only; [[jaccardPairs]] unrestricted is for small corpora
  *    and oracles
  *  - MinHash: one explode+groupBy for signatures (shuffle bounded by
  *    k×docs), band join touches only collided buckets
  *  - SimHash: per-row expression, zero shuffle to compute signatures
  */
object Dedup {

  /** Distinct word n-gram shingles of the token array (docs shorter than n
    * contribute their full token run as a single shingle).
    */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n)))
      )
    )

  /** Exact dedup by content hash: each row keeps its group's min id as
    * `keep_id`; `n_copies` is the duplicate-group size. Shuffles the
    * (hash, id) projection only.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
  }

  /** Exact dedup with SOURCE PRECEDENCE — the corpus-union rule every
    * mixture pipeline applies: when the same content appears in multiple
    * sources (curated wiki dump AND a web crawl), keep the copy from the
    * most trusted source, not the lowest id. `priority` maps source →
    * rank (higher wins; unlisted sources get `defaultPriority`); ties
    * break on lowest id so the verdict stays deterministic. Same scale
    * shape as [[exactDedup]]: the window shuffles (hash, id, priority)
    * only — text never moves.
    */
  def exactDedupPrioritized(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      priority: Map[String, Int],
      defaultPriority: Int = 0
  ): DataFrame = {
    val prioMap = map(priority.toSeq.flatMap { case (s, p) => Seq(lit(s), lit(p)) }: _*)
    val prio = coalesce(element_at(prioMap, col(sourceCol)), lit(defaultPriority))
    val w = Window.partitionBy(col("content_hash"))
      .orderBy(col("_prio").desc, col(idCol).asc)
    df.select(col(idCol), col(sourceCol), md5(col(textCol)).as("content_hash"))
      .withColumn("_prio", prio)
      .withColumn("keep_id", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn(
        "n_copies",
        count(lit(1)).over(Window.partitionBy(col("content_hash"))))
      .select(col(idCol), col(sourceCol), col("content_hash"), col("keep_id"), col("n_copies"))
  }

  /** (id, shingle-hash) exploded view. Shingles travel as 60-bit longs —
    * an 8-byte shuffle key instead of a ~20-char string (the joins below are
    * shuffle-bound; hash collisions are identical in the oracle's replay of
    * the same hash, so results still bit-match). The fused
    * [[graft.functions.ShingleHash60]] expression builds+hashes the distinct
    * shingles in one pass so the explode never materializes shingle strings
    * (bit-parity with the HOF [[shingles]]+hash formulation asserted in
    * FunctionsSpec).
    */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(
      col(idCol).as("sid"),
      explode(graft.functions.ShingleHash60(TextAnalysis.tokens(col(textCol)), n)).as("sh")
    )

  /** All-pairs n-gram Jaccard >= threshold via shingle co-occurrence join.
    * Quadratic in colliding docs — verification-grade; use [[minhashPairs]]
    * at scale.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8
  ): DataFrame = {
    val s = shingleRows(df, idCol, textCol, n)
    val sizes = s.groupBy(col("sid")).agg(count(lit(1)).as("n_sh"))
    val a = s.select(col("sid").as("i"), col("sh"))
    val b = s.select(col("sid").as("j"), col("sh"))
    val inter = a
      .join(b, Seq("sh"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col("sid").as("i"), col("n_sh").as("ni")), Seq("i"))
      .join(sizes.select(col("sid").as("j"), col("n_sh").as("nj")), Seq("j"))
      .withColumn("jaccard", col("c").cast("double") / (col("ni") + col("nj") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), floor(col("jaccard") * 1e6).cast("long").as("jac_e6"))
  }

  /** MinHash universe prime (2^31 - 1) and affine mixing constants: each of
    * the k hash functions is `(a_i * h + b_i) mod P` over ONE base md5 hash
    * per shingle — 1 md5 instead of k, the classic cheap-family trick.
    * Constants are deterministic so the oracle replays them.
    */
  val MinhashP = 2147483647L
  def minhashA(i: Int): Long = ((2L * i + 1) * 2654435761L) % MinhashP
  def minhashB(i: Int): Long = (i.toLong * 40503L * 65537L) % MinhashP

  /** k-hash MinHash signature per doc — per-row pure compute via the fused
    * [[graft.functions.MinHashSig]] expression (ZERO shuffle: signatures
    * live in the scan; the old explode+groupBy shape shuffled every shingle
    * row to run k min-aggregates). Returns (id, h0..h{k-1}); bit-parity
    * with the aggregate formulation asserted in FunctionsSpec.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16
  ): DataFrame =
    minhashSignaturesFromTokens(df, idCol, TextAnalysis.tokens(col(textCol)), n, k)

  /** Signature builder over an ALREADY-TOKENIZED column — lets callers that
    * also need the token array (e.g. a min-length gate) tokenize once
    * instead of paying the regex split twice.
    */
  def minhashSignaturesFromTokens(
      df: DataFrame,
      idCol: String,
      toksCol: Column,
      n: Int = 3,
      k: Int = 16
  ): DataFrame = {
    val sig = graft.functions.MinHashSig(
      graft.functions.ShingleHash60(toksCol, n),
      MinhashP,
      (0 until k).map(i => (minhashA(i), minhashB(i))))
    df.select(col(idCol).as("sid"), sig.as("_sig"))
      .select(col("sid") +: (0 until k).map(i => element_at(col("_sig"), i + 1).as(s"h$i")): _*)
  }

  /** The banded LSH bucket frame (sid, band, bucket) of the MinHash
    * signatures of the token column `toks` — the MinHash half of the band
    * core: [[minhashPairs]], [[SnapshotOps.incrementalNearDup]] and the
    * first-seen gates ([[nearDupGateBatch]], [[streamingNearDupCandidates]])
    * all band through it, and it is the ROW LAYOUT of a persisted near-dup
    * band index. Its pHash twin is [[Multimodal.phashBandIndex]].
    *
    * NULL-text docs carry NULL signatures (tokens(null) is null, so every
    * h-column is null) and concat_ws collapses their bucket to "" in
    * EVERY band — one shared quadratic bucket of rows that can never
    * verify (null jaccard is dropped by the filter) yet would trip the
    * flood guard first on a NULL-heavy crawl feed. They cannot pair, so
    * their "" buckets are dropped right after the explode; a non-NULL
    * signature never yields "" (ShingleHash60 emits at least one shingle
    * for any non-null tokens). The filter sits above the explode on
    * purpose: a filter on `h0` below it is pushed into the scan with the
    * whole signature expression inlined, computing every signature twice.
    */
  private[data] def bandedBuckets(
      df: DataFrame,
      idCol: String,
      toks: Column,
      n: Int,
      k: Int,
      rows: Int
  ): DataFrame = {
    require(k % rows == 0, "k must be divisible by band rows")
    val sig = minhashSignaturesFromTokens(df, idCol, toks, n, k)
    val nBands = k / rows
    val bands = array((0 until nBands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"h${b * rows + r}")): _*).as("bucket")
      )
    }: _*)
    sig.select(col("sid"), explode(bands).as("bb"))
      .filter(col("bb.bucket") =!= "")
      .select(col("sid"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The keyed state of the first-seen gates, as `(sid: Long, bucket)`
    * rows of a band frame: the key is `<prefix><band>_<bucket>` —
    * `b_hX_hY` for MinHash bands (prefix ""), `p{b}_{v}` for pHash bands
    * (prefix "p", so one state store can serve both gates without a
    * cross-collision). The format is the state key and the oracle's
    * bucket string; it must never change.
    */
  private def gateKeyed(banded: DataFrame, prefix: String): DataFrame =
    banded.select(
      col("sid").cast("long").as("sid"),
      concat_ws("_", concat(lit(prefix), col("band").cast("string")), col("bucket")).as("bucket"))

  /** The deterministic BATCH replay of a first-seen gate — one logical
    * micro-batch over the whole band frame against empty state: per gate
    * key the minimum sid owns it, and every other sid in it emits one
    * `(sid, dup_of = owner)` hit per colliding key — the multiset the
    * keyed band state ([[graft.stateful.Processors.nearDupBands]]) would
    * emit (spec-pinned in StreamingDedupSpec).
    *
    * Scale shape: the only shuffle is the key-partitioned band rows (a
    * long and a short string per row); the min-owner aggregate is
    * map-side combined and the owner list joins back on the same
    * partitioning (no second exchange of the band rows).
    */
  private[data] def firstSeenReplay(banded: DataFrame, prefix: String): DataFrame = {
    val keyed = gateKeyed(banded, prefix)
    val owners = keyed.groupBy(col("bucket")).agg(min(col("sid")).as("dup_of"))
    keyed
      .join(owners, Seq("bucket"))
      .filter(col("sid") =!= col("dup_of"))
      .select(col("sid"), col("dup_of"))
  }

  /** A first-seen gate over a STREAMING band frame: the gate keys run
    * through the keyed owner state of
    * [[graft.stateful.Processors.nearDupBands]]. `docs(idCol)` must be
    * integral — hits carry `Long` ids through the keyed state — and a
    * non-integral id is rejected up front with a clear error instead of
    * an opaque encoder cast failure at analysis time.
    */
  private[data] def firstSeenStream(
      docs: DataFrame,
      idCol: String,
      face: String,
      banded: DataFrame,
      prefix: String,
      ttlMs: Long
  ): Dataset[graft.model.NearDupHit] = {
    docs.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
          _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => ()
      case other =>
        throw new IllegalArgumentException(
          s"$face: id column '$idCol' must be integral (hits carry Long ids through the keyed " +
            s"state), got $other — pre-map string ids to a dense long, e.g. xxhash64(id)")
    }
    import docs.sparkSession.implicits._
    graft.stateful.Processors.nearDupBands(gateKeyed(banded, prefix).as[graft.model.BandRow], ttlMs)
  }

  /** One count pass over the `keys` groups of each side before a
    * quadratic within-group join — the flood guard of every banded or
    * bucketed self-join here (MinHash bands, pHash bands, semdedup cells):
    * fail with the top offender sizes instead of an executor OOM or a job
    * that never finishes mid-join. EAGER (runs a job). `flood` names the
    * failure ("duplicate", "perceptual-dup", "cell"); `remedy` closes the
    * message.
    *
    * Several tagged sides are guarded in ONE job (guide §1.2/§2.4 — the
    * serve faces guard both join sides per call, and two eager count
    * passes per batch is one more driver round-trip than the check
    * needs): each side aggregates on its OWN scan and only the tiny
    * post-filter offender frames union before one limit-collect. Unioning
    * the RAW inputs instead was measured 2.5-3.5× slower when a side is a
    * bucketed table — the union blocks the unnecessary-bucketed-scan
    * rewrite, leaving one open-cost task per bucket file — while the
    * aggregated-result union keeps every side's scan shape intact.
    * Per-side counts are unchanged; the error names the flooded side(s).
    */
  private[data] def assertNoBucketFloodAll(
      sides: Seq[(String, DataFrame)],
      keys: Seq[String],
      maxRows: Int,
      face: String,
      flood: String,
      remedy: String): Unit = {
    require(sides.nonEmpty,
      s"assertNoBucketFloodAll($face): no sides to guard — caller bug")
    val oversized = sides
      .map { case (t, df) =>
        df.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("_bc"))
          .filter(col("_bc") > maxRows)
          .select(lit(t).as("_side") +: keys.map(col) :+ col("_bc"): _*)
      }
      .reduce(_ unionByName _)
      .orderBy(col("_bc").desc)
      .limit(3)
      .collect()
    if (oversized.nonEmpty) {
      val tops = oversized
        .map { r =>
          val side = Option(r.getString(0)).filter(_.nonEmpty).map(s => s"side=$s ").getOrElse("")
          val at = keys.indices.map(i => s"${keys(i)}=${r.get(i + 1)}").mkString(" ")
          s"$side$at rows=${r.get(keys.length + 1)}"
        }
        .mkString(", ")
      throw new IllegalStateException(
        s"$face: $flood flood — ${keys.mkString("(", ", ", ")")} group(s) above " +
          s"$maxRows rows ($tops). $remedy")
    }
  }

  /** LSH candidate pairs: signatures banded (bands of `rows` hashes), docs
    * sharing any band bucket become candidates; candidates are verified with
    * true n-gram Jaccard >= threshold (two-phase, like production LSH).
    *
    * ==Duplicate-flood stance (the pair-LIST face)==
    * The within-bucket candidate join is inherently duplicity²-quadratic:
    * a corpus that is 99% verbatim copies of one document puts all copies
    * in one bucket in EVERY band, and the d² candidate pairs are all TRUE
    * jaccard-1 pairs — the quadratic lives in the OUTPUT, not just the
    * work, so no candidate-side trick can fence it. This face therefore
    * carries a LOUD per-bucket guard: before the join, any band bucket
    * holding more than `maxBucketRows` docs fails the job with the top
    * offender sizes — never a silent truncation (a capped pair list would
    * read as "all near-dup pairs" downstream while missing the densest
    * mass). Flood-shaped corpora have two supported contracts instead:
    * [[minhashPairsForClustering]] when the consumer is cluster-grain
    * (exact-dup groups collapse to min-id reps + star edges — candidate
    * work scales with DISTINCT texts), or collapse+expand for pair
    * consumers: run THIS face over the distinct-text reps, keep the
    * rep→member map from the exact-dup groupBy, and expand rep pairs to
    * member pairs lazily where the consumer actually needs them.
    * DataOpsSpec pins the guard firing under a crafted flood and the
    * clustering face sailing through the same corpus.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      rows: Int = 2,
      threshold: Double = 0.8,
      maxBucketRows: Int = 10000
  ): DataFrame = {
    require(maxBucketRows > 0, "maxBucketRows must be positive")
    // the (sid, band, bucket) frame feeds THREE consumers (flood guard,
    // both sides of the candidate self-join) — localCheckpoint pays the
    // tokenize+shingle+k-hash signature scan once instead of three lineage
    // re-derivations (ids + hash strings only, never text: executor-local
    // disk stays corpus-metadata-sized). Same pattern as `candidates`.
    val banded = bandedBuckets(df, idCol, TextAnalysis.tokens(col(textCol)), n, k, rows)
      .localCheckpoint()
    // the flood guard: one (band,bucket)-count pass before the quadratic
    // join — a cheap aggregation over the checkpointed frame buys the
    // failure mode "clear error with the offender sizes" instead of
    // "executor OOM mid-join". NOTE this makes construction EAGER (it
    // runs a job and can throw before any action) — the documented
    // contract of the pair face.
    assertNoBucketFloodAll(Seq("" -> banded), Seq("band", "bucket"), maxBucketRows,
      "minhashPairs", "duplicate",
      "The within-bucket pair join is duplicity²-quadratic and the pairs it " +
        "would emit are quadratic OUTPUT, not just work. If the flood is VERBATIM copies, " +
        "use minhashPairsForClustering for cluster-grain consumers, or collapse " +
        "exact-duplicate texts to reps, run minhashPairs on the reps, and expand rep " +
        "pairs to member pairs lazily (see scaladoc). If the flood is DISTINCT near-dup " +
        "texts (the collapse cannot shrink it), the quadratic is inherent to the pair " +
        "grain — pre-shard the corpus or raise maxBucketRows only if it is truly intended.")
    val l = banded.select(col("band"), col("bucket"), col("sid").as("i"))
    val r = banded.select(col("band"), col("bucket"), col("sid").as("j"))
    // materialize the (tiny) candidate list once — it feeds the id semi-join
    // and both sides of the verify join below
    val candidates = l
      .join(r, Seq("band", "bucket"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"))
      .distinct()
      .localCheckpoint()
    // the banded frame's last consumer was the candidate join just
    // materialized — release its blocks (Checkpoints, not the no-op
    // Dataset.unpersist); `candidates` stays: the returned plan reads it
    graft.core.Checkpoints.release(banded)
    // verify ONLY the candidates with true Jaccard (two-phase LSH: the
    // quadratic verifier runs on the collided fraction, not all pairs) —
    // and build shingle sets ONLY for candidate docs (semi-join), not the
    // whole corpus; sets carry 60-bit hashes (one per distinct shingle
    // string), so intersection/size counts equal the string formulation
    // modulo md5-60 collisions, which the oracle replays identically.
    val candIds = candidates.select(col("i").as("sid"))
      .unionByName(candidates.select(col("j").as("sid")))
      .distinct()
    val sets = df.select(
      col(idCol).as("sid"),
      graft.functions.ShingleHash60(TextAnalysis.tokens(col(textCol)), n).as("sset"))
      .join(candIds, Seq("sid"), "left_semi")
    val withSets = candidates
      .join(sets.select(col("sid").as("i"), col("sset").as("si")), Seq("i"))
      .join(sets.select(col("sid").as("j"), col("sset").as("sj")), Seq("j"))
    withSets
      .withColumn("c", size(array_intersect(col("si"), col("sj"))).cast("long"))
      .withColumn(
        "jaccard",
        col("c").cast("double") / (size(col("si")) + size(col("sj")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), floor(col("jaccard") * 1e6).cast("long").as("jac_e6"))
  }

  /** [[minhashPairs]] specialized for CLUSTERING consumers
    * ([[duplicateClusters]]): exact-text duplicate groups collapse to
    * their min-id representative BEFORE the LSH pipeline and rejoin as
    * rep→member STAR edges. Connected components — and therefore every
    * cluster-grain output — are IDENTICAL to running LSH on the full
    * corpus: members carry bit-identical shingle sets and signatures to
    * their representative, so any cross-group true pair exists at rep
    * level too, and within a group the star provides exactly the
    * connectivity the all-pairs clique would. But candidate work now
    * scales with DISTINCT texts plus one linear hash-groupBy: under a
    * duplicate flood (the factor-100 probe corpus: 500,000 rows, 4,992
    * distinct texts) the naive within-bucket candidate join grows as
    * duplicity² — 10⁴× pairs, OOM at any reasonable heap — while this
    * path pays the distinct-corpus LSH cost. A 100 TB crawl that is 99%
    * verbatim duplicates stresses the hash-only groupBy, never the
    * quadratic verifier.
    *
    * NOT a drop-in for pair-LIST consumers: the output is a
    * connectivity-preserving SUBSET of the true pair list (star edges
    * carry jac_e6 = 1000000 — exact-duplicate pairs ARE jaccard-1 pairs:
    * [[graft.functions.ShingleHash60]] emits at least one (partial)
    * shingle for ANY token count, so identical texts always share their
    * whole shingle set and always collide in every band). Use
    * [[minhashPairs]] when the pair list itself is the product.
    *
    * @param maxBucketRows forwarded to the rep-level [[minhashPairs]]
    *                      flood guard. The collapse removes VERBATIM
    *                      duplicates, so a guard trip here means >
    *                      maxBucketRows DISTINCT texts share a band
    *                      bucket (a near-dup flood the collapse cannot
    *                      shrink) — raise this cap deliberately if that
    *                      distinct-grain quadratic is intended.
    */
  def minhashPairsForClustering(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      rows: Int = 2,
      threshold: Double = 0.8,
      maxBucketRows: Int = 10000
  ): DataFrame = {
    val base = df.select(col(idCol).as("_sid"), col(textCol).as("_txt"))
    // NULL texts never pair in the full pipeline (null tokens → null
    // shingle sets → null jaccard, dropped by the filter) — give each a
    // singleton group so it flows through as its own rep with no star
    // edge, exactly as the full pipeline treats it (a shared xxhash64(null)
    // group would mint jaccard-1 star edges the true pair list lacks).
    // Group membership is decided by TEXT EQUALITY, not the 64-bit digest
    // alone: the hash only pre-shards the shuffle (_th) while _txt rides
    // in the partition key, so a birthday-bound xxhash64 collision between
    // two DIFFERENT texts (~n²/2⁶⁵ — no longer negligible at billion-doc
    // corpora) lands both in one shuffle partition but in two distinct
    // groups instead of silently merging them into fabricated jaccard-1
    // star edges. A window-min attaches the rep in the SAME single
    // shuffle that forms the groups — a groupBy+join formulation would
    // ship every text through two exchanges (r12 review finding). NULL
    // _txt partition keys group together only within one _th, which is
    // per-sid unique for NULL texts — each stays a singleton.
    val grouped = base.withColumn(
      "_th",
      when(col("_txt").isNotNull, concat(lit("t:"), xxhash64(col("_txt"))))
        .otherwise(concat(lit("n:"), col("_sid"))))
    val withRep = grouped.withColumn(
      "_rep",
      min(col("_sid")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_th"), col("_txt"))))
    val stars = withRep
      .filter(col("_sid") =!= col("_rep"))
      .select(col("_rep").as("i"), col("_sid").as("j"), lit(1000000L).as("jac_e6"))
    val repDocs = withRep
      .filter(col("_sid") === col("_rep"))
      .select(col("_sid").as(idCol), col("_txt").as(textCol))
    minhashPairs(repDocs, idCol, textCol, n, k, rows, threshold, maxBucketRows)
      .unionByName(stars)
  }

  /** STREAMING near-dup candidate detection — the incremental face of
    * [[minhashPairs]]: documents arrive as a stream, each doc's banded
    * MinHash buckets probe a keyed state of bucket owners
    * (transformWithState keyed by `band_bucket`), and any collision with an
    * earlier doc emits a [[graft.model.NearDupHit]] in the SAME micro-batch
    * the doc arrived in. This is the online dedup gate of an ingest
    * pipeline: flag (or drop) a near-dup at arrival time instead of
    * re-running batch LSH over the whole corpus.
    *
    * Contract: hits are LSH CANDIDATES (band-signature equality — the same
    * signal phase 1 of the batch path uses); the exact-Jaccard verify phase
    * runs as a batch follow-up on the flagged pairs when precision matters.
    * A doc may emit several hits (one per colliding band) — roll up per doc
    * downstream (`groupBy(sid).agg(min(dupOf))`; a doc's band rows all land
    * in its own micro-batch). Docs with fewer than `n` tokens carry no
    * shingles and are passed through unflagged. State: ONE long per live
    * bucket with TTL — at 100 TB the dedup horizon is the TTL window, and
    * the text itself never enters the state store.
    *
    * `idCol` must be integral (unlike the batch minhash path, which accepts
    * any id type — see [[firstSeenStream]]). Needs the RocksDB state store
    * provider, which [[graft.core.GraftSession]] sessions carry.
    */
  def streamingNearDupCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      rows: Int = 2,
      ttlMs: Long = 0L
  ): Dataset[graft.model.NearDupHit] =
    firstSeenStream(docs, idCol, "streamingNearDupCandidates",
      gateBands(docs, idCol, textCol, n, k, rows), "", ttlMs)

  /** The deterministic BATCH replay of [[streamingNearDupCandidates]]
    * ([[firstSeenReplay]] over the same gate bands) — what gives the
    * streaming-only gate a three-check oracle row.
    */
  def nearDupGateBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      rows: Int = 2
  ): DataFrame =
    firstSeenReplay(gateBands(docs, idCol, textCol, n, k, rows), "")

  /** The MinHash gates' band frame: [[bandedBuckets]] behind the gates'
    * pre-filter — docs with fewer than `n` tokens carry no shingles and
    * pass unflagged. The token array is computed ONCE (ComputeOnce
    * barrier) and feeds both the length filter and the shingler: this is
    * the per-event hot path of an ingest gate, and a second regex split
    * per doc would double its cost.
    */
  private def gateBands(
      docs: DataFrame, idCol: String, textCol: String, n: Int, k: Int, rows: Int): DataFrame = {
    val toked = docs
      .withColumn("_t", graft.functions.ComputeOnce(TextAnalysis.tokens(col(textCol))))
      .filter(size(col("_t")) >= n)
    bandedBuckets(toked, idCol, col("_t"), n, k, rows)
  }

  /** 60-bit SimHash of the token multiset: token hashes materialized once,
    * then the native codegen'd [[graft.functions.SimHash60]] expression does
    * the bit-count loop (zero shuffle; bit-identical to the HOF/oracle
    * formulation).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_hs", transform(TextAnalysis.tokens(col(textCol)), t => Hashing.hash60(t)))
      .withColumn("simhash", graft.functions.SimHash60(col("_hs")))
      .select(col(idCol), col("simhash"))

  /** Exact-substring duplicate SPANS — the sliding-window construction of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022, public): a k-token run that appears ANYWHERE else in the
    * corpus (including earlier in the same document) is a duplicated
    * window; overlapping/adjacent duplicated windows merge into MAXIMAL
    * duplicated spans. This catches the long verbatim regions (licenses,
    * boilerplate tails, quoted articles) that document-level MinHash misses
    * when the surrounding text differs, at a finer grain than the
    * non-overlapping chunk face (`dDupParagraphs`), which can straddle a
    * duplicated run across two chunk boundaries and see neither half.
    *
    * Semantics (every step order-pinned so a SQL oracle replays it):
    * windows are all token positions `pos ∈ [0, n−k]` (docs with fewer
    * than k tokens contribute none); the FIRST occurrence of each window
    * hash — min (doc_id, pos) — is the canonical copy and is NOT
    * duplicated; every later occurrence is. Per doc, duplicated window
    * starts sorted ascending merge while `pos − prev ≤ k` (overlap or
    * exact adjacency), each island emitting
    * `(doc_id, span_start = min pos, span_end = max pos + k, n_windows)`
    * with `span_end` exclusive in token positions.
    *
    * The published operating grain is k≈50 BPE tokens; the fixture face
    * runs k=10 words (the synthetic docs are ~50 words).
    *
    * Scale shape: the window pass shuffles `(md5, doc_id, pos)` — ~32
    * bytes per token, the same grain the MinHash signature pass already
    * pays, text never leaves the scan; the island merge windows over
    * DUPLICATED rows only (a small fraction of the corpus by
    * construction). A suffix-array build (the paper's single-node
    * construction) is not needed: fixed-k windows give identical spans
    * for runs ≥ k and are embarrassingly parallel.
    */
  def exactSubstringSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"exactSubstringSpans: k must be positive, got $k")
    val wins = df
      .withColumn("_toks", graft.functions.ComputeOnce(TextAnalysis.tokens(col(textCol))))
      .withColumn(
        "_i",
        explode(
          when(size(col("_toks")) >= k, sequence(lit(0), size(col("_toks")) - k))
            .otherwise(array().cast("array<int>"))))
      .select(
        col(idCol).as("doc_id"),
        col("_i").cast("long").as("pos"),
        // unhex: the window identity shuffles as 16 BINARY bytes instead of
        // the 32-char hex string (guide §2.3 — narrower types; exact 1:1
        // recoding of md5, so first-occurrence grouping is unchanged). _h
        // is grouping-only and never ordered or exposed.
        unhex(md5(concat_ws(" ", slice(col("_toks"), col("_i") + 1, lit(k))))).as("_h"))
    val firstW = Window.partitionBy(col("_h")).orderBy(col("doc_id"), col("pos"))
    val docW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wins
      .withColumn("_rn", row_number().over(firstW))
      .filter(col("_rn") > 1)
      .withColumn("_prev", lag(col("pos"), 1).over(docW))
      .withColumn(
        "_brk",
        when(col("_prev").isNull || col("pos") - col("_prev") > k, 1L).otherwise(0L))
      .withColumn("_g", sum(col("_brk")).over(docW))
      .groupBy(col("doc_id"), col("_g"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Exact-substring TRIM — the consuming face of [[exactSubstringSpans]]:
    * rewrite each document with its duplicated spans' tokens removed (the
    * paper's dedup action: every duplicated region is kept exactly once,
    * at its first occurrence, because first occurrences are never spans).
    * Output per doc: `n_tokens`, `n_removed`, and `text_trimmed` — the
    * kept tokens space-joined (tokenizer-normalized, so a doc with no
    * spans round-trips to its single-spaced form; a fully-duplicated doc
    * trims to the empty string, which downstream length/quality filters
    * then drop).
    *
    * Scale shape: the span list rides back to the corpus as a per-doc
    * array via one join on doc_id — spans exist only for docs with
    * duplicated content and are interval-merged, so the span side is
    * corpus-metadata-sized and broadcasts at typical duplication rates;
    * the token filter itself is a per-row higher-order function inside
    * whole-stage codegen (no explode — the corpus text moves through ZERO
    * additional shuffles beyond that join).
    *
    * Join-strategy crossover (spec-pinned, DataOpsSpec): the span join
    * carries no hint on purpose — AQE picks from the REALIZED span-side
    * size. Below `spark.sql.adaptive.autoBroadcastJoinThreshold` (the
    * typical-duplication regime) it lands BroadcastHashJoin; an
    * adversarial corpus whose duplication pushes the aggregated span list
    * past the threshold falls back to a doc_id shuffle join — correct by
    * construction (both arms produce identical rows; the spec pins the
    * equality), just one extra (doc_id)-keyed exchange of the corpus
    * text. If a corpus lives in that regime routinely, trim it in
    * partitions (span lists are per-doc, so sharding the corpus and
    * unioning trims is exact).
    */
  def exactSubstringTrim(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    val spans = exactSubstringSpans(df, idCol, textCol, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e"))).as("_spans"))
    df.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn(
        "_ss",
        coalesce(col("_spans"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("_toks", graft.functions.ComputeOnce(TextAnalysis.tokens(col("_text"))))
      .withColumn(
        "_kept",
        filter(col("_toks"), (_, i) =>
          !exists(col("_ss"), s =>
            i.cast("long") >= s.getField("s") && i.cast("long") < s.getField("e"))))
      .select(
        col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("text_trimmed"))
  }

  /** Connected-component duplicate clusters from a near-dup pair list:
    * every document in a component gets the component's minimum doc id as
    * `cluster_id` (the canonical "keep one per cluster" assignment).
    *
    * Min-label propagation to fixpoint: each iteration is one join+groupBy
    * (label <- min(label, neighbors' labels)), driver loop bounded by
    * `maxIter`. The min label travels ONE HOP per round, so convergence is
    * O(component diameter) iterations — fine for near-dup components
    * (pairs/triples, diameter ≤ a few), and the cheapest per-round shape
    * at that grain. For high-diameter graphs (e.g. a chain of
    * frame-by-frame near-dup images) use [[duplicateClustersAlternating]]:
    * O(log² n) rounds regardless of diameter. Hitting `maxIter` before
    * the fixpoint FAILS LOUDLY — a truncated propagation would silently
    * split components and under-dedup the corpus. (Deep propagation is
    * plan-safe: lineage is re-truncated every 4 rounds — without that the
    * nested cached plans OOM the driver building explain strings by ~10
    * rounds, measured — but raising maxIter is still O(diameter) WORK;
    * the alternating face is the remedy, not a bigger bound.)
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Materialize the pair list ONCE and truncate its lineage (the input is
    // typically the whole LSH pipeline): without this, every iteration — and
    // any evicted cached partition — cascades recomputation through the full
    // upstream plan. localCheckpoint is eager; the edge list is 2×|pairs|
    // rows of two longs, trivially resident.
    val edgesCk = pairs
      .select(col("i").as("src"), col("j").as("dst"))
      .unionByName(pairs.select(col("j").as("src"), col("i").as("dst")))
      .localCheckpoint()
    // Pin the STATIC edge list's partitioning across iterations (guide
    // §2.4 — two operations keyed the same way share one exchange): the
    // checkpoint leaf reports UnknownPartitioning (Spark 4.1.2 captures no
    // partitioner on localCheckpoint), so every iteration's candidate join
    // would re-shuffle the same unchanged edge rows by `dst`. One
    // repartition + persist layered ON TOP of the flat checkpoint leaf
    // gives the loop joins a hash-partitioned InMemoryRelation: the edge
    // side of each round's join plans with NO Exchange (the labels side —
    // the only data that changes — still shuffles). The checkpoint under
    // it keeps per-iteration plans leaf-shallow; eviction of a cached
    // partition recomputes from the checkpoint, never from the LSH
    // pipeline. The pin count is derived from the edge list's SIZE, not a
    // core-count constant (guide §2.2/§2.5): a cached partitioning is
    // exempt from AQE coalescing, so pinning at numShufflePartitions would
    // force every loop stage to that many near-empty tasks on a small
    // graph (measured: 32 ~5 ms tasks per iteration at sf0.1), while one
    // advisory-sized partition per ~32 B edge row keeps small graphs at a
    // task or two and large ones at full shuffle parallelism.
    val sconf = pairs.sparkSession.sessionState.conf
    val advisoryBytes = sconf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val edgeParts = math.max(1L, math.min(
      sconf.numShufflePartitions.toLong,
      edgesCk.count() * 32L / math.max(1L, advisoryBytes) + 1L)).toInt
    val edges = edgesCk
      .repartition(edgeParts, col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // the live label CHECKPOINT generation (initial + every-4-rounds
    // re-truncate): released via Checkpoints.release when superseded —
    // Dataset.unpersist silently no-ops on checkpoint-backed frames
    var liveCk: DataFrame = labels
    var prevCache: Option[DataFrame] = None
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // ONE Spark job per iteration: the noop write both fills the persisted
      // label cache (iteration N+1's join reads InMemoryTableScan, and the
      // cached subtree is a leaf to the optimizer, so plans stay shallow) and
      // carries the convergence count out through an observed metric — no
      // second count() job rescanning the materialized labels.
      val obs = org.apache.spark.sql.Observation()
      val next = minLabelNext(edges, labels, edgeParts, sconf.numShufflePartitions)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next
        .observe(obs, coalesce(
          sum(when(col("label") =!= col("_old"), 1L).otherwise(0L)), lit(0L)).as("changed"))
        .write.mode("overwrite").format("noop").save()
      changed = obs.get("changed").asInstanceOf[Long]
      prevCache.foreach(_.unpersist())
      prevCache = Some(next)
      labels = next.select(col("id"), col("label"))
      iter += 1
      // Re-truncate lineage every few rounds: the analyzed tree references
      // the previous generation TWICE per iteration (the label join + the
      // neighbor-min join), and cached plans expand fully when printed
      // (InMemoryRelation innerChildren) — by ~10 un-truncated rounds the
      // driver dies building AQE explain strings, long before the default
      // maxIter. Fixture-scale runs converge in ~3 rounds and never hit
      // this branch, so the benched hot path is unchanged.
      if (changed > 0 && iter % 4 == 0) {
        labels = labels.localCheckpoint()
        prevCache.foreach(_.unpersist())
        prevCache = None
        graft.core.Checkpoints.release(liveCk)
        liveCk = labels
      }
    }
    if (changed > 0) {
      prevCache.foreach(_.unpersist())
      graft.core.Checkpoints.release(liveCk)
      edges.unpersist()
      graft.core.Checkpoints.release(edgesCk)
      throw new IllegalStateException(
        s"duplicateClusters: min-label propagation did not converge in $maxIter " +
          s"iterations ($changed labels still changing) — the pair graph has a " +
          s"component with diameter > $maxIter. Raise maxIter, or use " +
          "duplicateClustersAlternating (O(log^2 n) rounds, diameter-independent).")
    }
    val out = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    // hand the caller a plan that survives the internal releases
    val result = out.localCheckpoint()
    prevCache.foreach(_.unpersist())
    graft.core.Checkpoints.release(liveCk)
    edges.unpersist()
    graft.core.Checkpoints.release(edgesCk)
    result
  }

  /** One min-label iteration's UNEXECUTED frame — label(u) <- min(label(u),
    * min over neighbors' labels), computed as ONE join + ONE aggregation:
    * each node's own labeled row unions with the neighbor contributions and
    * a single groupBy takes the min — where the r21 shape paid a second
    * shuffle-join of `labels` against the aggregated neighbor minima (guide
    * §2.4: that left-join's exchange carried exactly the rows the
    * aggregation already grouped). The old label rides along as
    * min(label where _own) — `labels` holds one row per id, so that min IS
    * the old label — and the convergence count compares the two aggregates
    * (`label != _old`), observed on the caller's save. The loop body's
    * plan receipt is `plans/r22/cc_loop_body_r22.txt`.
    *
    * `coalesceTo` < `shuffleParts`: cached plans are exempt from AQE
    * coalescing, so the aggregate's exchange would pin the label cache at
    * numShufflePartitions — on a small graph every later scan of it is a
    * stage of near-empty tasks. Shrinking the CACHED frame to the same
    * size-derived count as the edge pin is a zero-shuffle coalesce; when
    * the graph is large the two counts agree and the aggregate's hash(id)
    * partitioning is kept so the next round's join stays exchange-aligned.
    */
  private def minLabelNext(
      edges: DataFrame,
      labels: DataFrame,
      coalesceTo: Int,
      shuffleParts: Int
  ): DataFrame = {
    val contrib = edges
      .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "nlabel"), Seq("dst"))
      .select(col("src").as("id"), col("nlabel").as("label"), lit(false).as("_own"))
    val agged = labels
      .withColumn("_own", lit(true))
      .unionByName(contrib)
      .groupBy(col("id"))
      .agg(
        min(col("label")).as("label"),
        min(when(col("_own"), col("label"))).as("_old"))
    if (coalesceTo < shuffleParts) agged.coalesce(coalesceTo) else agged
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 §3): every node u links each STRICTLY
    * LARGER neighbor to the minimum of its closed neighborhood
    * min(Γ(u) ∪ {u}). Output edges are canonically oriented (src > dst),
    * self-loops dropped, deduped.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // min(Γ(u) ∪ {u}) as a window over the SAME key the old groupBy+join
    // pair shuffled twice (guide §2.4: a window partitioned like the
    // preceding aggregation needs no second exchange) — one hash exchange
    // on src instead of an aggregate exchange plus a join-side exchange.
    val m = least(col("src"),
      min(col("dst")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    nbrs.withColumn("_m", m)
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("_m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round (same paper): orient every edge toward the
    * larger endpoint; each node u links its smaller neighbors AND itself
    * to min(Γ(u) ∪ {u}). Keeps the src > dst canonical orientation.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
    // every dst < src here, so the closed-neighborhood min is just min(dst),
    // computed as a window over src (one exchange — guide §2.4, same move
    // as largeStar) with both output rows of each edge (smaller neighbor →
    // min, node itself → min) emitted from the ONE windowed pass; the
    // node-itself rows repeat per edge instead of once per src, and the
    // trailing distinct — already load-bearing for the join shape — folds
    // them to the identical canonical edge set.
    val m = min(col("dst")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
    oriented.withColumn("_m", m)
      .select(explode(array(
        struct(col("dst").as("v"), col("_m").as("m")),
        struct(col("src").as("v"), col("_m").as("m")))).as("_vm"))
      .select(col("_vm.v").as("v"), col("_vm.m").as("m"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Connected-component duplicate clusters via the ALTERNATING algorithm
    * (Kiveris/Lattanzi/Mirrokni/Rastogi/Vassilvitskii, SoCC'14): rounds of
    * large-star + small-star contract every component to a star centered
    * at its minimum id in O(log² n) rounds REGARDLESS of diameter — the
    * scale path where [[duplicateClusters]]'s one-hop-per-round min-label
    * propagation needs O(diameter) rounds (a 100k-frame chain of near-dup
    * video stills is a 100k-round graph for min-label and a ~10-round
    * graph here). Same output contract: every doc appearing in `pairs`
    * labeled with its component's minimum doc id.
    *
    * Each round is two join+groupBy passes over the CURRENT edge set —
    * which only shrinks (toward one star edge per non-root node), so
    * per-round cost is bounded by the input pair list. Convergence =
    * edge-set fixpoint, checked exactly (count + anti-join, both over the
    * materialized edge frame); hitting `maxIter` unconverged fails loudly
    * like the min-label face.
    */
  def duplicateClustersAlternating(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    var edges = pairs
      .select(greatest(col("i"), col("j")).as("src"), least(col("i"), col("j")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var edgeCount = edges.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // localCheckpoint EVERY round, not persist: each round references the
      // previous edge set ~4 times (both star passes union + join it), so
      // a merely-cached lineage nests InMemoryRelation innerChildren
      // ~4^rounds deep — plan PRINTING alone (AQE explain strings) then
      // kills the driver. The checkpoint is a hard RDD leaf; rounds stay
      // O(edge list) in both execution and plan size.
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextCount = next.count()
      // both sides are DISTINCT canonical sets: equal counts + empty
      // one-sided difference <=> set equality (exact, edge-sized work)
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      // Checkpoints.release, not Dataset.unpersist (a no-op on checkpoint
      // frames): without it a 22-round run strands 22 edge-list copies
      graft.core.Checkpoints.release(edges)
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged) {
      graft.core.Checkpoints.release(edges)
      throw new IllegalStateException(
        s"duplicateClustersAlternating: edge set not stable after $maxIter " +
          "rounds — raise maxIter (O(log^2 n) rounds suffice for any input; " +
          "30 covers n well past 10^9).")
    }
    // converged state is a star forest (src > dst = component min): leaves
    // label from their star edge, roots label themselves. groupBy-min only
    // dedups the root rows — every leaf has exactly one star edge.
    val out = edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .unionByName(edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id")))
      .groupBy(col("doc_id"))
      .agg(min(col("cluster_id")).as("cluster_id"))
    val result = out.localCheckpoint()
    graft.core.Checkpoints.release(edges)
    result
  }

  /** Embedding-cosine near-dup pairs within a blocking key (coarse bucket:
    * cluster id / LSH bucket), cosine >= threshold. The block join bounds the
    * quadratic blow-up — the IVF-style scale path.
    */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double
  ): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("i"), col(vecCol).as("va"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("j"), col(vecCol).as("vb"))
    a.join(b, Seq("blk"))
      .filter(col("i") < col("j"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), floor(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** SemDeDup-style SEMANTIC dedup: cluster the embedding space with a
    * coarse quantizer, compare pairs only WITHIN a cluster, and drop every
    * vector whose cosine to a lower-id cluster-mate reaches `threshold`
    * (keep-lowest-id, like the exact and MinHash faces). Near-duplicate
    * MEANING — paraphrases, re-encodings, boilerplate variants — that no
    * lexical dedup can see.
    *
    * Scale shape: the all-pairs quadratic is fenced per cluster —
    * (n/k)^2 per bucket instead of n^2 — and k grows with the corpus so
    * the per-bucket population stays task-sized (SemDeDup runs k ~ 10k+ at
    * web scale). Assignment is the zero-shuffle [[Similarity.assignNearest]]
    * scan; the only shuffle is the bucket equi-join. Misses across cluster
    * boundaries are the method's documented recall trade-off; tighten with
    * more Lloyd iterations ([[Similarity.trainCentroids]]) or multi-probe
    * assignment, not a bigger join.
    *
    * Returns every corpus row: (idCol, cluster, dup_of — lowest-id
    * cluster-mate at/above threshold, NULL if none — keep = dup_of IS NULL).
    */
  /** @param probes centroids each vector is assigned to for CANDIDATE
    *               generation (the primary `cluster` label is always the
    *               nearest). probes=1 is classic SemDeDup; probes=2 is the
    *               multi-probe recovery of the documented cross-cluster
    *               recall loss — a boundary vector sits in both adjacent
    *               clusters' candidate sets, so a near-dup pair straddling
    *               the boundary still meets. Verdicts union keep-lowest-id:
    *               the same pair meeting in two shared buckets collapses in
    *               the min() aggregate. Candidate volume grows by at most
    *               probes× per side — the per-bucket quadratic fence stays.
    * @param maxCellRows cell-flood guard cap (see [[dupJoinTail]]'s
    *                    guard doc): any cluster cell holding more rows
    *                    fails the job loudly with the offender sizes
    *                    BEFORE the quadratic join. Auto-k sizes cells at
    *                    ~32 rows, so the default is ~300× headroom.
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      threshold: Double,
      probes: Int = 1,
      maxCellRows: Int = 10000
  ): DataFrame = {
    require(probes >= 1 && probes <= centroids.length,
      s"semanticDedup: probes=$probes out of 1..${centroids.length}")
    val base = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    // Candidate rows carry (_bk = bucket key, id, vector); the primary
    // `cluster` label rides a separate column so it is computed ONCE per
    // row, never re-derived after a Generate node.
    val (candidates, labeled) =
      if (probes == 1) {
        // Classic SemDeDup: plain scalar bucket column, NO explode — the
        // single-element-array Generate node would block plan collapse /
        // whole-stage codegen for zero candidate gain. Bit-identical answer
        // to assignNearest (incl. its all-NaN → bucket-0 guard).
        val assigned = base.withColumn("_bk", Similarity.assignNearest(col("_v"), centroids))
        (assigned, assigned.select(col(idCol), col("_bk").cast("long").as("cluster")))
      } else {
        // Multi-probe: primary label = head of the top-P list, materialized
        // BEFORE the explode so the k-cosine argmax runs once per row; the
        // cosine array is pinned by the IVF fence's probe block.
        val (pinned, buckets) = Similarity.Fence.Ivf(centroids, probes).pinnedProbes(base, col("_v"))
        val assigned = pinned
          .withColumn("_bks", buckets)
          .withColumn("_bk0", element_at(col("_bks"), 1))
          .drop("_cos")
        (assigned.select(col(idCol), col("_v"), explode(col("_bks")).as("_bk")),
         assigned.select(col(idCol), col("_bk0").cast("long").as("cluster")))
      }
    dupJoinTail(base, candidates, labeled, idCol, threshold, maxCellRows)
  }

  /** Shared semdedup tail: within-bucket pair join (the per-bucket
    * quadratic fence), keep-lowest-id verdicts, left-joined back onto the
    * primary cluster labels. A pair meeting in several shared buckets
    * (multi-probe) collapses in the min() aggregate.
    *
    * ==Cell-flood guard==
    * The same guard as the MinHash and pHash pair faces
    * ([[assertNoBucketFloodAll]], keyed on the cell here). A degenerate
    * embedding corpus (a broken encoder emitting one constant vector, a
    * zeroed column, a template embedding repeated at crawl scale)
    * collapses to ONE cell and silently drives population²/2 cosine
    * evaluations into the join
    * — here the flood is quadratic WORK (output stays one verdict row
    * per member), i.e. wall-clock death rather than output blow-up, so
    * the guard buys "clear error with offender sizes" instead of a job
    * that never finishes. One count pass over (cell) before the join;
    * like the pair faces this makes construction EAGER (it runs a job
    * and can throw before any action) — the documented contract. The
    * count pass re-derives the assignment scan once (ids+cells only are
    * aggregated; vectors are NOT materialized — unlike [[minhashPairs]]
    * no checkpoint is taken, because checkpointing would spill the
    * dim-sized vectors). A vector contributes at most one row per cell,
    * so no cell can outgrow the corpus row count — when `base` holds ≤
    * maxCellRows rows the guard short-circuits to that bare row count
    * (a column-pruned scan, no assignment codegen), keeping the
    * fixture-scale cost of the guard near zero while the full
    * assignment-count pass runs exactly where it matters: corpora large
    * enough to flood.
    */
  private def dupJoinTail(
      base: DataFrame,
      candidates: DataFrame,
      labeled: DataFrame,
      idCol: String,
      threshold: Double,
      maxCellRows: Int
  ): DataFrame = {
    require(maxCellRows > 0, "maxCellRows must be positive")
    if (base.count() > maxCellRows)
      assertNoBucketFloodAll(Seq("" -> candidates.select(col("_bk").as("cell"))), Seq("cell"),
        maxCellRows, "semanticDedup", "cell",
        "The within-cell pair join is population²-quadratic work. If the flood is " +
          "EXACT-identical embeddings (duplicated docs, a constant encoder output), collapse " +
          "them first — run exact dedup on the embedding bytes and semdedup the reps. If the " +
          "cells are genuinely this populated, the quantizer is undersized for the corpus: " +
          "raise k / kSub (auto-k targets ~32 rows per cell) or retrain on a fresher sample. " +
          "Raise maxCellRows only if the quadratic is truly intended.")
    val a = candidates.select(col("_bk"), col(idCol).as("_i"), col("_v").as("_va"))
    val b = candidates.select(col("_bk"), col(idCol).as("_j"), col("_v").as("_vb"))
    val dups = a.join(b, Seq("_bk"))
      .filter(col("_i") < col("_j"))
      .filter(Similarity.cosine(col("_va"), col("_vb")) >= threshold)
      .groupBy(col("_j"))
      .agg(min(col("_i")).as("dup_of"))
      .withColumnRenamed("_j", idCol)
    labeled
      .join(dups, Seq(idCol), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** [[semanticDedup]] on the two-level product (IMI) quantizer — the
    * auto-k SCALE face: same contract and output shape (id, cluster,
    * dup_of, keep), but the cluster space is the kSub² product cells of
    * [[Similarity.imiAssign]] and assignment costs √k·dim per row instead
    * of k·dim, with a √k·dim model instead of k·dim
    * (see the [[Similarity.imiAssign]] scaladoc for the full scale
    * argument). `pSub` is the per-half probe count: pSub=1 is classic
    * single-cell SemDeDup; pSub=2 probes the 3 rank-sum-capped cells
    * (primary + both single-substitution cells) — the product-quantizer
    * recovery of cross-cell near-dup pairs (a boundary pair disagrees in
    * ONE half's codeword with high probability). Candidate volume grows by
    * at most pSub(pSub+1)/2 × per side; the per-cell quadratic fence
    * stays.
    *
    * Measured recall at the auto-k operating point (n=200k, k=6250,
    * kSub=80 — ScaleMechanicsSpec gate, SCALE.md r12): single-probe does
    * not trail the flat quantizer it replaces (brute-truth dup recall
    * 0.58 vs flat's 0.48 in the strong-dup regime) but BOTH single-probe
    * arms are recall-limited — pSub=2 recovers to 0.91 at ≤3× candidate
    * volume and is the production recommendation at auto-k.
    */
  def semanticDedupImi(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]],
      threshold: Double,
      pSub: Int = 1,
      maxCellRows: Int = 10000
  ): DataFrame = {
    require(codebooks.length == 2,
      s"semanticDedupImi: need exactly 2 half-space codebooks, got ${codebooks.length}")
    val kSub = codebooks.head.length
    require(pSub >= 1 && pSub <= kSub, s"semanticDedupImi: pSub=$pSub out of 1..$kSub")
    val base = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    val (candidates, labeled) =
      if (pSub == 1) {
        // single-cell: plain scalar cell column, no explode (the flat
        // face's argument — a single-element Generate would block plan
        // collapse for zero candidate gain)
        val assigned = base.withColumn("_bk", Similarity.imiAssign(col("_v"), codebooks))
        (assigned, assigned.select(col(idCol), col("_bk").cast("long").as("cluster")))
      } else {
        // multi-probe: the dot table and both top-p lists are pinned by the
        // IMI fence's probe block
        val (pinned, probeCells) = Similarity.Fence.Imi(codebooks, pSub).pinnedProbes(base, col("_v"))
        val assigned = pinned
          .withColumn("_bks", probeCells)
          .withColumn("_bk0", element_at(col("_bks"), 1))
          .drop("_ilut", "_t0", "_t1")
        (assigned.select(col(idCol), col("_v"), explode(col("_bks")).as("_bk")),
         assigned.select(col(idCol), col("_bk0").cast("long").as("cluster")))
      }
    dupJoinTail(base, candidates, labeled, idCol, threshold, maxCellRows)
  }
}
