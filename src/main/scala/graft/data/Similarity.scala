package graft.data

import org.apache.spark.sql
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * One pipeline, [[topK]]: a [[Fence]] picks the candidate (query, corpus)
  * pairs, a [[Scorer]] scores them, one rank tail keeps the best k per
  * query, and [[rerank]] optionally refines an approximate shortlist with
  * the exact cosine — the filter-then-refine shape of top-k search. The
  * query set (small) broadcasts against one corpus scan, so the vectors
  * never shuffle; ranking shuffles only (query, id, score) triples. The
  * rest of this object trains and applies the models the fences and
  * scorers take (coarse centroids, IMI cell codebooks, PQ codebooks).
  */
object Similarity {

  /** Cosine similarity of two float/double-array columns — the native
    * codegen'd [[graft.functions.CosineSimilarity]] expression (one fused
    * primitive loop). Accumulation order is left-to-right, bit-identical to
    * the DuckDB oracle's list_reduce replay (and to [[cosineHof]]).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** The higher-order-function formulation (kept as the portable fallback
    * and for cross-checking the native expression in tests).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = aggregate(ad, lit(0.0), (acc, x) => acc + x * x)
    val nb = aggregate(bd, lit(0.0), (acc, x) => acc + x * x)
    dot / (sqrt(na) * sqrt(nb))
  }


  /** Deterministic random hyperplanes for sign-LSH bucketing: component
    * (i, j) = (md5_60("i_j") mod 2001 − 1000) / 1000 ∈ [−1, 1]. Derived
    * from the cross-engine hash family, so the planes are identical
    * constants everywhere (the oracle inlines the same literals).
    */
  def hyperplanes(nbits: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nbits).map { i =>
      (0 until dim).map { j =>
        val h = graft.functions.Md5Hash60.hash(s"${i}_$j".getBytes("UTF-8"))
        (h % 2001 - 1000) / 1000.0
      }
    }

  /** Left-to-right dot product against a constant plane (HOF: bit-identical
    * to the oracle's list_reduce replay — kept as the portable fallback and
    * for cross-checking [[lshDots]] in tests).
    */
  private def dotPlane(v: Column, plane: Seq[Double]): Column =
    aggregate(
      zip_with(transform(v, x => x.cast("double")), array(plane.map(lit): _*), (a, b) => a * b),
      lit(0.0),
      (acc, x) => acc + x)

  /** All hyperplane dots in one fused native loop (array<double>, one entry
    * per plane) — the expensive nbits×dim work done once per row; bucket and
    * probe order derive from it with 8-element column arithmetic.
    */
  def lshDots(v: Column, planes: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.SignLshDots(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(v.cast("array<double>")),
        planes))

  /** HOF formulation of [[lshDots]] for bit-parity cross-checks. */
  def lshDotsHof(v: Column, planes: Seq[Seq[Double]]): Column =
    array(planes.map(p => dotPlane(v, p)): _*)

  /** Sign-LSH bucket id from a [[lshDots]] array: bit i set iff dot_i > 0. */
  def lshBucketFromDots(dots: Column, nbits: Int): Column =
    (0 until nbits)
      .map(i => when(element_at(dots, i + 1) > 0.0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Sign-LSH bucket id: bit i set iff dot(v, plane_i) > 0 — the
    * data-independent bucketing for [[Fence.Column]] when no natural coarse
    * column exists (the "swap label for learned/LSH buckets" scale path).
    * Same-bucket vectors agree on all nbits hyperplane sides, so cosine
    * neighbors collide with high probability.
    */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    lshBucketFromDots(lshDots(v, planes), planes.length)

  /** Multi-probe bucket list: the vector's own bucket plus the buckets at
    * the `nFlips` lowest-|margin| single-bit flips (standard multi-probe
    * LSH, Lv et al. VLDB'07). A near-boundary neighbor differs from the
    * query on exactly the low-|dot| bits, so probing those flips first
    * recovers the candidates single-probe bucketing silently loses.
    * Deterministic: ties on |dot| break by plane index.
    */
  def lshProbes(dots: Column, nbits: Int, nFlips: Int): Column = {
    val bucket = lshBucketFromDots(dots, nbits)
    val zipped = zip_with(
      dots,
      sequence(lit(0), lit(nbits - 1)),
      (d, i) => struct(abs(d).as("m"), i.as("i")))
    val sorted = array_sort(
      zipped,
      (l, r) =>
        when(l("m") < r("m"), -1)
          .when(l("m") > r("m"), 1)
          .otherwise(l("i") - r("i"))
          .cast("int"))
    val flips = transform(
      slice(sorted, 1, nFlips),
      s => bucket.bitwiseXOR(pow(lit(2.0), s("i")).cast("int")))
    concat(array(bucket), flips)
  }

  /** The k corpus vectors with the smallest ids, as driver-side model
    * parameters (k·dim doubles — the standard "fetch the trained model"
    * collect, not a data collect).
    */
  def seedCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): Seq[Seq[Double]] =
    corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .orderBy(col(idCol))
      .limit(k)
      .select(col("_v"))
      .collect()
      .map(_.getSeq[Double](0).toVector)
      .toVector

  /** Rows-per-bucket auto-k rule for the coarse quantizer: k grows
    * linearly with the corpus so the average bucket population stays
    * task-sized and the per-bucket quadratic (semdedup's (n/k)² pair
    * fence, IVF's n/k candidate lists) stays CONSTANT per bucket as the
    * corpus scales — k ∝ n is the only choice that makes total semdedup
    * pair work linear in n (k ∝ √n still leaves n^1.5). minK pins the
    * small-fixture value so the sf0.01 oracle replays a fixed seed count.
    */
  def autoK(n: Long, targetPerBucket: Int = 32, minK: Int = 16): Int = {
    require(n >= 0 && targetPerBucket > 0 && minK > 0)
    math.max(minK.toLong, (n + targetPerBucket - 1) / targetPerBucket).toInt
  }

  /** Centroids beyond this count switch from the unrolled per-centroid
    * expression array (plan size O(k·dim) nodes — the proven oracle form)
    * to the native fused [[graft.functions.CentroidCosines]] kernel (plan
    * size O(1), one codegen'd k×dim multiply-add nest). The kernels are
    * bit-identical; the split exists only to leave the small-k oracle
    * plans byte-for-byte untouched while auto-k scales k with the corpus.
    * (A `transform`-over-literal HOF form was tried first: it drops to
    * interpreted lambda evaluation with per-element boxing — 50× wall at
    * k=625 on the sf1 probe.) 32 keeps the oracle fixtures' k=16 unrolled
    * while the sf0.1 auto-k (63) already gets the kernel — measured faster
    * there too (the 63-cosine unrolled plan pays ~1 s analysis+codegen per
    * run).
    */
  private[graft] val UnrolledCentroidMax = 32

  /** The k per-centroid cosines as ONE array column; both argmax faces
    * build on this. Identical float semantics on either path: the same
    * left-to-right accumulation per centroid in the same order — only the
    * plan shape differs. Callers that reference the result more than once
    * (multi-probe argmax passes) should materialize it behind a
    * [[graft.functions.ComputeOnce]] column first so the k·dim work runs
    * once per row.
    */
  private[graft] def centroidCosines(vec: Column, centroids: Seq[Seq[Double]]): Column =
    if (centroids.length <= UnrolledCentroidMax)
      array(centroids.map(c => cosine(vec, array(c.map(lit): _*))): _*)
    else
      graft.functions.GraftFunctions.centroid_cosines(vec, centroids)

  /** Nearest-centroid assignment (spherical: argmax cosine, ties → lowest
    * centroid index) as a pure column — k fused cosine loops per row, zero
    * shuffle, zero row blow-up. This is the IVF coarse quantizer: centroids
    * are broadcast-as-literals model parameters, the 100 TB corpus side is
    * one scan.
    */
  def assignNearest(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty, "assignNearest: need at least one centroid")
    // array argmax, NOT a when()-fold: folding best-so-far nests the whole
    // prior chain into both branches of every step — a 2^k expression tree
    // that OOMs codegen at k=16. The array form is linear: k cosines
    // evaluated once, array_max picks the winner, array_position's
    // first-match semantics give the lowest index on ties (matching the
    // oracle's ORDER BY cos DESC, j ASC). greatest(...) guards the
    // cannot-find case (all-NaN cosines) to bucket 0 instead of -1.
    val arr = centroidCosines(vec, centroids)
    greatest(array_position(arr, array_max(arr)) - 1, lit(0L)).cast("int")
  }

  /** Top-`p` nearest centroids (cosine desc, ties → lowest centroid index)
    * as an array<int> column — the multi-probe face of [[assignNearest]].
    * A vector near a cluster boundary lands in BOTH adjacent clusters'
    * candidate sets, recovering the cross-cluster misses single-probe
    * assignment is documented to lose (same recovery idea as [[lshProbes]],
    * applied to the IVF quantizer). Element 1 is always the [[assignNearest]]
    * winner — callers use it as the primary cluster label.
    */
  def assignTopP(vec: Column, centroids: Seq[Seq[Double]], p: Int): Column = {
    require(centroids.nonEmpty, "assignTopP: need at least one centroid")
    require(p >= 1 && p <= centroids.length, s"assignTopP: p=$p out of 1..${centroids.length}")
    topPFromCosines(centroidCosines(vec, centroids), centroids.length, p)
  }

  /** [[assignTopP]] over an already-computed cosine array — the form for
    * callers that pin the k·dim cosine work in its own [[graft.functions.ComputeOnce]]
    * column (the argmax passes below reference `arr` ~3^min(p,4) times, and
    * an inline cosine array would be re-evaluated at every reference on
    * the interpreted HOF path).
    */
  def topPFromCosines(arr: Column, k: Int, p: Int): Column = {
    if (p <= 4) {
      // p linear argmax passes, NOT a full array_sort: the sort's
      // interpreted comparator lambda plus per-element struct allocation is
      // O(k log k) per row and dominated the sf1 probe at k=625 (auto-k),
      // while multi-probe p is 2–4. Each pass SPLICES -Inf over the
      // previous pick with slice/concat — codegen'd array ops whose index
      // operand evaluates once per row — and re-runs the same first-match
      // argmax as [[assignNearest]], so ties break to the lowest index on
      // every pass (the oracle's ORDER BY cos DESC, j ASC) and element 1
      // is bit-identical to the assignNearest winner. Deliberately NOT a
      // zip_with mask: a lambda that captures the pick re-evaluates it per
      // ELEMENT on the interpreted HOF path — k² per row, measured 49×
      // wall at k=625 on the sf1 probe. The fold nests prior picks into
      // each splice (~3^p tree growth), which is why large p falls through
      // to the sort below.
      def argmax(a: Column): Column = greatest(array_position(a, array_max(a)) - 1, lit(0L))
      def splice(a: Column, at: Column): Column = concat(
        slice(a, lit(1), at.cast("int")),
        array(lit(Double.NegativeInfinity)),
        slice(a, at.cast("int") + 2, lit(k) - at.cast("int") - 1))
      val (picks, _) = (1 until p).foldLeft((Seq(argmax(arr)), arr)) {
        case ((sel, masked), _) =>
          val nextMasked = splice(masked, sel.last)
          (sel :+ argmax(nextMasked), nextMasked)
      }
      array(picks.map(_.cast("int")): _*)
    } else {
      // large p (e.g. the probes=all equivalence spec): full rank order
      val zipped = zip_with(
        arr,
        sequence(lit(0), lit(k - 1)),
        (c, i) => struct(c.as("c"), i.as("i")))
      val sorted = array_sort(
        zipped,
        (l, r) =>
          when(l("c") > r("c"), -1)
            .when(l("c") < r("c"), 1)
            .otherwise(l("i") - r("i"))
            .cast("int"))
      transform(slice(sorted, 1, p), s => s("i").cast("int"))
    }
  }

  /** Lloyd-refined coarse quantizer (spherical k-means): seed with
    * [[seedCentroids]], then `iters` rounds of assign → per-bucket mean.
    * The per-iteration reduce is (bucket, dim) partial-aggregated
    * map-side — the vectors never shuffle whole — and the k·dim averaged
    * model is collected to the driver each round (model-sized, O(k·dim)).
    * A bucket that loses all members keeps its previous centroid.
    *
    * Training averages float sums across rows, so results are
    * deterministic for a fixed partitioning but not oracle-replayable
    * bit-for-bit — the trainer is spec-verified (objective monotonicity,
    * determinism, recall vs the seeded quantizer); the ASSIGNMENT path is
    * the oracle-gated part (`s_ann_ivf_seeded`).
    */
  def trainCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): Seq[Seq[Double]] = {
    require(iters >= 0, s"trainCentroids: iters must be >= 0, got $iters")
    var centroids = seedCentroids(corpus, idCol, vecCol, k)
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("_v"))
    (0 until iters).foreach { _ =>
      val means = vecs
        .withColumn("_bk", assignNearest(col("_v"), centroids))
        .select(col("_bk"), posexplode(col("_v")).as(Seq("_d", "_x")))
        .groupBy(col("_bk"), col("_d"))
        .agg(avg(col("_x")).as("_m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (bk, rows) =>
          bk -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toVector
        }
      centroids = centroids.indices
        .map(j => means.getOrElse(j, centroids(j)))
        .toVector
    }
    centroids
  }

  /** Mean best-centroid cosine over the corpus — the spherical-k-means
    * objective (higher is better); used to verify refinement helps.
    */
  def quantizerObjective(
      corpus: DataFrame,
      vecCol: String,
      centroids: Seq[Seq[Double]]
  ): Double = {
    val best = centroids
      .map(c => cosine(col(vecCol).cast("array<double>"), array(c.map(lit): _*)))
      .reduce((a, b) => greatest(a, b))
    corpus.select(avg(best)).collect()(0).getDouble(0)
  }

  // --------------------------------- two-level product (IMI) quantizer
  /** Codewords per half-space for a two-level product quantizer covering at
    * least `k` cells: ⌈√k⌉ per half gives kSub² ≥ k product cells.
    */
  def imiKSub(k: Int): Int = {
    require(k >= 1, s"imiKSub: k must be >= 1, got $k")
    math.ceil(math.sqrt(k.toDouble)).toInt
  }

  /** Half-space codebooks for the IMI quantizer: the m=2 [[pqCodebooks]]
    * seeding with every codeword L2-NORMALIZED (left-to-right sum of
    * squares, then one division per component — the oracle replays the
    * identical fold bit-exactly). Normalization makes cell assignment
    * norm-invariant: argmax dot against unit codewords ≡ per-half COSINE
    * argmax, matching the flat quantizer's spherical semantics. With raw
    * seeded codewords the argmax-DOT ranking lets high-norm seeds soak up
    * disproportionate mass — measured as hotspot cells that blew the
    * multi-probe semdedup pair join to 13.5× at the sf1 probe (the
    * per-cell quadratic fence only holds when cells stay balanced).
    * A zero-norm codeword is left raw (its dots are all 0.0 either way).
    */
  def imiCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      kSub: Int
  ): Seq[Seq[Seq[Double]]] =
    pqCodebooks(corpus, idCol, vecCol, m = 2, k = kSub).map(_.map { cw =>
      var ss = 0.0
      var i = 0
      while (i < cw.length) { ss += cw(i) * cw(i); i += 1 }
      val norm = math.sqrt(ss)
      if (norm == 0.0) cw else cw.map(_ / norm)
    })

  /** [[imiCodebooks]] + a fixed number of DETERMINISTIC spherical-Lloyd
    * refinement iterations per half — the trained production codebooks,
    * still oracle-replayable bit-for-bit (VERDICT r11 #2).
    *
    * Id-ordered seeds fixed the measured argmax-dot hotspot (normalize →
    * per-half cosine), but seed VECTORS are still whatever the smallest
    * ids happen to contain — under content-correlated ids the cells can
    * skew. Lloyd refinement moves each codeword to the (normalized) mean
    * of its assigned half-vectors, the standard k-means balance/quality
    * step. Unlike [[trainCentroids]] (distributed float averaging — NOT
    * order-replayable), every step here is pinned to a deterministic
    * order, so a SQL oracle replays the whole training bit-for-bit:
    *   - training sample: the `sampleN` rows smallest by
    *     `(md5(cast(id as string)), id)` — content-DEcorrelated (md5
    *     scrambles any id-content correlation), engine-independent, and a
    *     bounded driver value (sample-based codebook training is the
    *     standard production practice — the model has √k·dim/2 free
    *     parameters per half, thousands of sample rows saturate it);
    *   - assignment: per-half argmax dot against unit codewords,
    *     components folded left-to-right, ties to the lowest codeword
    *     index (the [[imiAssign]]/[[pqEncode]] contract);
    *   - update: per-component sum over members in ASCENDING ID order,
    *     one division by the member count, then the [[imiCodebooks]]
    *     normalization (left-to-right sum of squares; zero-norm raw);
    *     empty cells keep their previous codeword.
    * The oracle unrolls `iters` iterations as chained CTEs (fixed count —
    * no data-dependent convergence test, by construction).
    *
    * `idCol` must be integral (the update fold sorts members by id).
    *
    * Driver-side ceiling (measured, SCALE.md "r13: Lloyd training ceiling"):
    * the iteration phase is sampleN·kSub·dim·iters mul-adds on the driver
    * at ~1.2e9/s — 22.4 s full training at kSub=2500 (the n≈200M
    * operating point) with the adaptive 32·kSub sample. Cost grows ~kSub²
    * (sample ∝ kSub), so the next decade (kSub≈7900, n≈2·10⁹ rows)
    * extrapolates to ~4 min of driver time. Past
    * [[DriverIterKSubCeiling]] the `distributedAssign` switch (on by
    * default there) runs the assignment scan AND the per-cell folds in
    * EXECUTORS instead: per-row argmax is embarrassingly parallel, each
    * cell's members are re-sorted ascending-id inside its group, and
    * every fold keeps the driver path's exact operation order — so the
    * output is BIT-IDENTICAL (spec-pinned equality), the oracle replay
    * contract survives unchanged, and no ModelStore name bump is needed.
    * The driver then holds only the model-sized per-cell means.
    */
  /** Training-sample size for [[imiCodebooksTrained]]: ~32 members per
    * codeword per half, floored at 256 — a fixed 256 saturates the
    * fixture's kSub=4 (the regime the oracle SQL replays byte-for-byte)
    * but leaves most codewords member-less once kSub reaches the tens
    * (measured: skew 3.01 → 2.98 at kSub=25 with a 256 sample — a no-op),
    * so production sampling must scale with the codebook.
    */
  def imiTrainSampleN(kSub: Int, floor: Int = 256): Int =
    math.max(floor, 32 * kSub)

  /** The deterministic training sample shared by the oracle-replayable
    * trainers ([[imiCodebooksTrained]], [[pqCodebooksTrainedDet]]): the
    * `sampleN` rows smallest by `(md5(id), id)` — content-DEcorrelated and
    * engine-independent — collected to the driver and re-sorted ascending
    * by id (the replayable fold order).
    */
  private def trainSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      sampleN: Int
  ): Array[(Long, Array[Double])] = corpus
    .select(col(idCol).cast("long").as("_id"), col(vecCol).cast("array<double>").as("_v"))
    .orderBy(md5(col("_id").cast("string")), col("_id"))
    .limit(sampleN)
    .collect()
    .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    .sortBy(_._1)

  /** Above this kSub the driver-side iteration loop stops being free
    * (measured 22.4 s at kSub=2500, ~kSub² growth — SCALE.md r13/r14):
    * [[imiCodebooksTrained]] defaults `distributedAssign` on past it.
    */
  val DriverIterKSubCeiling: Int = 2500

  def imiCodebooksTrained(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      kSub: Int,
      iters: Int,
      sampleN: Int,
      distributedAssign: Boolean = false
  ): Seq[Seq[Seq[Double]]] = {
    require(iters >= 0, s"imiCodebooksTrained: iters must be >= 0, got $iters")
    require(sampleN >= kSub, s"imiCodebooksTrained: sampleN=$sampleN < kSub=$kSub")
    val seeded = imiCodebooks(corpus, idCol, vecCol, kSub)
    // pqCodebooks seeds one codeword per available corpus row — a corpus
    // with fewer rows than kSub would make the assignment loop below index
    // past the codebook; fail with context instead of an opaque IOOBE
    require(seeded.forall(_.length == kSub),
      s"imiCodebooksTrained: corpus has fewer rows than kSub=$kSub " +
        s"(seeded ${seeded.head.length} codewords) — lower kSub to the corpus size")
    if (iters == 0) return seeded
    if (distributedAssign || kSub > DriverIterKSubCeiling)
      return imiCodebooksTrainedDistributed(corpus, idCol, vecCol, kSub, iters, sampleN, seeded)
    val sample = trainSample(corpus, idCol, vecCol, sampleN)
    val dim = sample.head._2.length
    require(dim % 2 == 0, s"imiCodebooksTrained: dim $dim not divisible by 2")
    val sub = dim / 2
    val halves: Array[Array[(Long, Array[Double])]] = Array.tabulate(2) { mi =>
      sample.map { case (id, v) => (id, java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub)) }
    }
    var cbs = seeded
    (0 until iters).foreach { _ =>
      cbs = (0 until 2).map { mi =>
        val cws = cbs(mi)
        // hot loop on FLATTENED primitive arrays, identical fold order —
        // dotting against boxed Vector codewords ran the r12 k-growth
        // probe at ~1e8 mul-adds/s; flat double[] plus the single-pass
        // per-cell accumulation below measures ~1.2e9/s (SCALE.md "r13:
        // Lloyd training ceiling"), bit-identical output
        val flat = new Array[Double](kSub * sub)
        var j0 = 0
        while (j0 < kSub) {
          val cw = cws(j0); var i = 0
          while (i < sub) { flat(j0 * sub + i) = cw(i); i += 1 }
          j0 += 1
        }
        val sums = new Array[Double](kSub * sub)
        val cnts = new Array[Int](kSub)
        // assignment: strict > scan keeps the LOWEST index on ties.
        // halves(mi) is ascending-id, so each cell's members accumulate
        // into its sum in ascending id order — the replayable fold order
        halves(mi).foreach { case (_, hv) =>
          var bestJ = 0
          var bestD = { var s = 0.0; var i = 0; while (i < sub) { s += hv(i) * flat(i); i += 1 }; s }
          var j = 1
          while (j < kSub) {
            val off = j * sub
            var d = 0.0; var i = 0
            while (i < sub) { d += hv(i) * flat(off + i); i += 1 }
            if (d > bestD) { bestD = d; bestJ = j }
            j += 1
          }
          val off = bestJ * sub
          var i = 0
          while (i < sub) { sums(off + i) += hv(i); i += 1 }
          cnts(bestJ) += 1
        }
        (0 until kSub).map { j =>
          if (cnts(j) == 0) cws(j)
          else {
            val mean = new Array[Double](sub)
            var i = 0
            while (i < sub) { mean(i) = sums(j * sub + i) / cnts(j); i += 1 }
            var ss = 0.0
            i = 0
            while (i < sub) { ss += mean(i) * mean(i); i += 1 }
            val nrm = math.sqrt(ss)
            (if (nrm == 0.0) mean else mean.map(_ / nrm)).toVector
          }
        }.toVector
      }.toVector
    }
    cbs
  }

  /** The distributed arm of [[imiCodebooksTrained]] — same contract,
    * BIT-IDENTICAL output (SimilaritySpec pins the equality at fixture
    * kSub). The three phases keep the driver path's exact operation
    * orders so IEEE double arithmetic reproduces:
    *   - sample: the identical `(md5(id), id)`-smallest `sampleN` rows,
    *     kept as a localCheckpointed Dataset instead of a driver array
    *     (it feeds iters×2 executor jobs);
    *   - assignment: per-row argmax dot against the broadcast flattened
    *     codebook — the same strict-`>` scan with left-to-right component
    *     folds, run in `mapPartitions` (per-row independent, so
    *     partitioning cannot change the result);
    *   - update: `groupByKey(cell)` then per-cell members re-sorted
    *     ASCENDING ID inside the group and folded per-component in that
    *     order, one division by the count, the [[imiCodebooks]]
    *     normalization fold — all executor-side; the driver collects only
    *     the model-sized per-cell means and fills empty cells from the
    *     previous codebook.
    * Work per iteration is sampleN·kSub·dim mul-adds spread over the
    * cluster (vs the driver's single thread), and the shuffle moves only
    * the sampleN half-vectors — at the kSub≈7900 decade (n≈2·10⁹,
    * sampleN≈253k) that is ~65 MB, while the driver loop would take
    * ~4 min (SCALE.md r14 measures the crossover).
    */
  private def imiCodebooksTrainedDistributed(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      kSub: Int,
      iters: Int,
      sampleN: Int,
      seeded: Seq[Seq[Seq[Double]]]
  ): Seq[Seq[Seq[Double]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampleDs = corpus
      .select(col(idCol).cast("long").as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .orderBy(md5(col("_id").cast("string")), col("_id"))
      .limit(sampleN)
      // GlobalLimit lands the whole sample in ONE partition — without the
      // spread the assignment scan (the work this path exists to
      // parallelize) runs single-task. Row placement cannot affect the
      // result: assignment is per-row, and the update re-sorts each
      // cell's members by id inside its group
      .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions)
      .as[(Long, Seq[Double])]
      .localCheckpoint()
    val sub = seeded.head.head.length
    var cbs = seeded
    try {
    (0 until iters).foreach { _ =>
      cbs = (0 until 2).map { mi =>
        val cws = cbs(mi)
        val flat = new Array[Double](kSub * sub)
        var j0 = 0
        while (j0 < kSub) {
          val cw = cws(j0); var i = 0
          while (i < sub) { flat(j0 * sub + i) = cw(i); i += 1 }
          j0 += 1
        }
        // explicit broadcast: the flattened codebook is ~kSub·sub·8 bytes
        // (4 MB at kSub≈7900) — too big to ride every task binary
        val flatB = spark.sparkContext.broadcast(flat)
        val means: Map[Int, Vector[Double]] = sampleDs
          .mapPartitions { it =>
            val fl = flatB.value
            it.map { case (id, v) =>
              val hv = new Array[Double](sub)
              var i = 0
              while (i < sub) { hv(i) = v(mi * sub + i); i += 1 }
              var bestJ = 0
              var bestD = { var s = 0.0; var i2 = 0; while (i2 < sub) { s += hv(i2) * fl(i2); i2 += 1 }; s }
              var j = 1
              while (j < kSub) {
                val off = j * sub
                var d = 0.0; var i2 = 0
                while (i2 < sub) { d += hv(i2) * fl(off + i2); i2 += 1 }
                if (d > bestD) { bestD = d; bestJ = j }
                j += 1
              }
              (bestJ, id, hv)
            }
          }
          .groupByKey(_._1)
          .mapGroups { (cell, it) =>
            val members = it.toArray.sortBy(_._2)
            val sums = new Array[Double](sub)
            members.foreach { m =>
              val hv = m._3; var i = 0
              while (i < sub) { sums(i) += hv(i); i += 1 }
            }
            val mean = new Array[Double](sub)
            var i = 0
            while (i < sub) { mean(i) = sums(i) / members.length; i += 1 }
            var ss = 0.0
            i = 0
            while (i < sub) { ss += mean(i) * mean(i); i += 1 }
            val nrm = math.sqrt(ss)
            (cell, (if (nrm == 0.0) mean else mean.map(_ / nrm)).toSeq)
          }
          .collect()
          .map { case (c, m) => c -> m.toVector }
          .toMap
        flatB.unpersist(blocking = false)
        (0 until kSub).map(j => means.getOrElse(j, cws(j))).toVector
      }.toVector
    }
    } finally {
      // the trainer returns a plain model Seq — nothing downstream
      // references the checkpointed sample, so release its executor-local
      // blocks here; without this, repeated trainings in one session
      // accumulate sampleN·dim·8-byte checkpoint blocks (ADVICE r14).
      // Checkpoints.release, NOT Dataset.unpersist: the latter silently
      // no-ops on checkpoint-backed frames (see Checkpoints scaladoc)
      graft.core.Checkpoints.release(sampleDs)
    }
    cbs
  }

  /** Two-level product coarse quantizer cell assignment — the
    * sub-linear-in-k scale path for the auto-k families (SemDeDup
    * clustering, seeded-IVF bucketing).
    *
    * The flat quantizer stops scaling once k grows with the corpus
    * ([[autoK]]): per-row assignment is a k·dim scan — O(n·k·dim) =
    * O(n²·dim/targetPerBucket) total — and the k·dim model itself outgrows
    * "tiny driver value" (n = 10⁹ rows → k ≈ 3·10⁷ centroids ≈ 15 GB,
    * which neither collects nor ships). The inverted-multi-index
    * decomposition (Babenko & Lempitsky, CVPR'12) fixes BOTH axes at once:
    * split the vector into two halves, quantize each half against its own
    * kSub-codeword codebook (the [[pqCodebooks]] m=2 seeding —
    * deterministic, oracle-replayable), and let the cell be the code PAIR
    * (code₀·kSub + code₁):
    *   - model: 2·kSub·(dim/2) = √k·dim doubles (n = 10⁹ → ~2.8 MB — a
    *     genuine driver value, one small per-executor reference object);
    *   - assignment: one fused 2×kSub×(dim/2) = √k·dim multiply-add nest
    *     per row ([[graft.functions.PqEncode]]) — O(n·√k·dim) total vs the
    *     flat scan's O(n·k·dim);
    *   - kSub² ≥ k cells keep the same rows-per-bucket fence, so the
    *     downstream per-bucket quadratics (semdedup pair fence, IVF
    *     candidate lists) are unchanged.
    * The trade: cells partition on per-half nearest codewords, not global
    * nearest-of-k centroids — a product-cell approximation whose
    * cross-cell recall loss is recovered the standard way (per-half
    * multi-probe, [[imiProbeCells]]).
    *
    * The cell id folds over the code array (`acc·kSub + code`), so the
    * fused encode kernel is referenced exactly once per row. Ties inside
    * each half break to the lowest codeword index ([[pqEncode]] contract).
    */
  def imiAssign(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    require(codebooks.length == 2,
      s"imiAssign: need exactly 2 half-space codebooks, got ${codebooks.length}")
    val kSub = codebooks.head.length
    aggregate(
      graft.functions.Pq.encode(vec, codebooks),
      lit(0),
      (acc, c) => acc * kSub + c)
  }

  /** Per-half multi-probe cell list over a pinned [[graft.functions.PqLut]]
    * dot table (flattened: element h·kSub + j = dot(half h, codeword j)):
    * the pSub best codewords per half (ties → lowest index,
    * [[topPFromCosines]] over the dot slice) combined into the
    * RANK-SUM-CAPPED probe sequence — all (rank₀, rank₁) pairs with
    * rank₀ + rank₁ < pSub (0-indexed), ordered by (rank-sum, rank₀):
    * pSub(pSub+1)/2 cells, element 1 always the [[imiAssign]] cell, then
    * the single-substitution cells, then deeper substitutions. A near-dup
    * pair straddling a cell boundary disagrees in ONE half's codeword with
    * high probability, so the rank-1 substitutions carry nearly all the
    * recovery of the full pSub² cross product at roughly half its
    * candidate volume — the IMI analogue of [[lshProbes]] /
    * [[assignTopP]]'s margin-ordered flips. Cells are distinct by
    * construction (distinct codeword in at least one half), so no
    * candidate dedup is needed. Callers pin `lut` behind
    * [[graft.functions.ComputeOnce]]: the top-p argmax passes reference
    * each slice ~3^pSub times.
    */
  /** Top-pSub codeword indexes for half `h` (0 or 1) of a pinned lut —
    * callers materialize BOTH halves behind [[graft.functions.ComputeOnce]]
    * columns before [[imiProbeCells]] references them (the probe array
    * references each top list pSub+ times, and an inlined top-p subtree
    * would re-run its whole splice fold per reference).
    */
  def imiTopCodes(lut: Column, kSub: Int, pSub: Int, h: Int): Column = {
    require(h == 0 || h == 1, s"imiTopCodes: h=$h must be 0 or 1")
    topPFromCosines(slice(lut, h * kSub + 1, kSub), kSub, pSub)
  }

  def imiProbeCells(top0: Column, top1: Column, kSub: Int, pSub: Int): Column = {
    require(pSub >= 1 && pSub <= kSub, s"imiProbeCells: pSub=$pSub out of 1..$kSub")
    val pairs = (for { r0 <- 0 until pSub; r1 <- 0 until pSub if r0 + r1 < pSub }
      yield (r0, r1)).sortBy { case (r0, r1) => (r0 + r1, r0) }
    array(pairs.map { case (r0, r1) =>
      (element_at(top0, r0 + 1) * kSub + element_at(top1, r1 + 1)).cast("int")
    }: _*)
  }

  // ------------------------------------------------------------------ PQ
  /** Product-quantization codebooks from the deterministic seed vectors:
    * the `dim` dimensions split into `m` contiguous subspaces, and each
    * subspace's codebook is the corresponding slice of the k smallest-id
    * corpus vectors (the same oracle-replayable seeding as
    * [[seedCentroids]]; Lloyd-refine per subspace offline for production
    * codebooks — training is not oracle-replayable, the seeded path is).
    * Returns codebooks(mi)(j) = the j-th codeword of subspace mi.
    */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int
  ): Seq[Seq[Seq[Double]]] = {
    val seeds = seedCentroids(corpus, idCol, vecCol, k)
    val dim = seeds.head.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m=$m")
    val sub = dim / m
    (0 until m)
      .map(mi => seeds.map(s => s.slice(mi * sub, (mi + 1) * sub).toVector).toVector)
      .toVector
  }

  /** DETERMINISTIC Lloyd-trained PQ SCORING codebooks — the
    * [[imiCodebooksTrained]] recipe generalized to m subspaces, so a SQL
    * oracle replays the full training bit-for-bit (VERDICT r12 #1: the
    * composed ANN faces' end-to-end recall is gated by the SCORE model —
    * seeded k=16→256 codebooks moved 0.250→0.391 vs brute at n=200k — and
    * the trained path previously had no oracle face):
    *   - training sample: the `sampleN` rows smallest by
    *     `(md5(cast(id as string)), id)` — the IMI trainer's
    *     content-decorrelated, engine-independent sample;
    *   - assignment: per subspace, argmax of ⟨x, cw⟩ − 0.5·‖cw‖²
    *     (components folded left-to-right; bias = left-to-right sum of
    *     squares then one halving; ties → lowest codeword index) — the
    *     EUCLIDEAN-nearest codeword, the classic PQ training objective
    *     (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    *     Search", TPAMI'11 — public literature);
    *   - update: per-component mean over members in ASCENDING ID order,
    *     one division by the member count, NO normalization — scoring
    *     codewords must stay raw: ADC scores are inner products against
    *     them, and normalizing would distort reconstructed magnitudes
    *     (contrast [[imiCodebooksTrained]], whose CELL codewords are
    *     unit-norm because cell assignment is spherical);
    *   - empty cells keep their previous codeword; `iters` is a fixed
    *     unroll count (no data-dependent convergence test).
    * Corpora encoded against trained codebooks must use the matching
    * nearest encode ([[graft.functions.Pq.encode]] `nearest = true`) —
    * raw argmax-dot against unequal-norm mean codewords funnels mass to
    * high-norm codewords, the measured IMI-seed hotspot in encode form.
    * ScaleMechanicsSpec measures the recall this buys at the n=200k
    * operating point; `s_ann_pq_imi_t` is the hash-green oracle face.
    */
  def pqCodebooksTrainedDet(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int,
      sampleN: Int
  ): Seq[Seq[Seq[Double]]] = {
    require(iters >= 0, s"pqCodebooksTrainedDet: iters must be >= 0, got $iters")
    require(sampleN >= k, s"pqCodebooksTrainedDet: sampleN=$sampleN < k=$k")
    val seeded = pqCodebooks(corpus, idCol, vecCol, m, k)
    require(seeded.forall(_.length == k),
      s"pqCodebooksTrainedDet: corpus has fewer rows than k=$k " +
        s"(seeded ${seeded.head.length} codewords) — lower k to the corpus size")
    if (iters == 0) return seeded
    val sample = trainSample(corpus, idCol, vecCol, sampleN)
    val dim = sample.head._2.length
    require(dim % m == 0, s"pqCodebooksTrainedDet: dim $dim not divisible by m=$m")
    val sub = dim / m
    val slices: Array[Array[(Long, Array[Double])]] = Array.tabulate(m) { mi =>
      sample.map { case (id, v) => (id, java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub)) }
    }
    var cbs = seeded
    (0 until iters).foreach { _ =>
      cbs = (0 until m).map { mi =>
        val cws = cbs(mi)
        // hot loop on FLATTENED primitive arrays + single-pass per-cell
        // accumulation, identical fold orders (the imiCodebooksTrained
        // layout — see its ceiling note)
        val flat = new Array[Double](k * sub)
        val biases = new Array[Double](k)
        var j0 = 0
        while (j0 < k) {
          val cw = cws(j0); var ss = 0.0; var i = 0
          while (i < sub) { flat(j0 * sub + i) = cw(i); ss += cw(i) * cw(i); i += 1 }
          biases(j0) = 0.5 * ss
          j0 += 1
        }
        val sums = new Array[Double](k * sub)
        val cnts = new Array[Int](k)
        // assignment: strict > scan keeps the LOWEST index on ties;
        // slices(mi) is ascending-id, so each cell's members accumulate
        // into its sum in ascending id order — the replayable fold order
        slices(mi).foreach { case (_, sv) =>
          var bestJ = 0
          var bestD = {
            var s = 0.0; var i = 0
            while (i < sub) { s += sv(i) * flat(i); i += 1 }
            s - biases(0)
          }
          var j = 1
          while (j < k) {
            val off = j * sub
            var d = 0.0; var i = 0
            while (i < sub) { d += sv(i) * flat(off + i); i += 1 }
            if (d - biases(j) > bestD) { bestD = d - biases(j); bestJ = j }
            j += 1
          }
          val off = bestJ * sub
          var i = 0
          while (i < sub) { sums(off + i) += sv(i); i += 1 }
          cnts(bestJ) += 1
        }
        (0 until k).map { j =>
          if (cnts(j) == 0) cws(j)
          else {
            val mean = new Array[Double](sub)
            var i = 0
            while (i < sub) { mean(i) = sums(j * sub + i) / cnts(j); i += 1 }
            mean.toVector
          }
        }.toVector
      }.toVector
    }
    cbs
  }

  /** Lloyd-trained PQ codebooks: per subspace, spherical k-means over the
    * SLICED corpus ([[trainCentroids]]) — the DISTRIBUTED trainer (float
    * row-averaging is not order-replayable in SQL, so like the IVF
    * trainer it is spec-verified; [[pqCodebooksTrainedDet]] is the
    * oracle-replayable sample-based production default, this one is for
    * full-corpus training past what a driver sample should hold).
    * SimilaritySpec measures the recall gain.
    */
  def pqCodebooksTrained(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int
  ): Seq[Seq[Seq[Double]]] = {
    val dim = seedCentroids(corpus, idCol, vecCol, 1).head.length
    require(dim % m == 0, s"pqCodebooksTrained: dim $dim not divisible by m=$m")
    val sub = dim / m
    (0 until m).map { mi =>
      val sliced = corpus.select(
        col(idCol),
        slice(col(vecCol).cast("array<double>"), mi * sub + 1, sub).as("_sv"))
      trainCentroids(sliced, idCol, "_sv", k, iters)
    }.toVector
  }

  /** Left-to-right dot product against a constant vector (the HOF shape the
    * DuckDB oracle replays; zero-init fold like [[cosineHof]]).
    */
  private def dotConst(v: Column, c: Seq[Double]): Column =
    aggregate(
      zip_with(transform(v, x => x.cast("double")), array(c.map(lit): _*), (a, b) => a * b),
      lit(0.0),
      (acc, x) => acc + x)

  /** PQ encoding: array<int> of length m — per subspace, the argmax-dot
    * codeword index (ties → lowest index, the [[assignNearest]] contract).
    * A 64-dim float vector compresses to m bytes-worth of codes: the
    * memory face of 100 TB ANN — the corpus ships codes, not vectors.
    * Native fused kernel ([[graft.functions.PqEncode]]); the HOF
    * formulation below is kept for bit-parity cross-checking.
    */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]], nearest: Boolean = false): Column =
    graft.functions.Pq.encode(vec, codebooks, nearest)

  /** The HOF formulation of [[pqEncode]] — m·k interpreted `aggregate`
    * folds per row; cross-check fixture only. `nearest` subtracts the
    * 0.5·‖cw‖² bias per codeword (Euclidean-nearest encode — the
    * [[pqCodebooksTrainedDet]] contract), computed with the same
    * left-to-right folds as the native kernel.
    */
  def pqEncodeHof(
      vec: Column,
      codebooks: Seq[Seq[Seq[Double]]],
      nearest: Boolean = false
  ): Column = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    def bias(cw: Seq[Double]): Double = {
      var ss = 0.0; var i = 0
      while (i < cw.length) { ss += cw(i) * cw(i); i += 1 }
      0.5 * ss
    }
    array(codebooks.zipWithIndex.map { case (cb, mi) =>
      val sv = slice(vec.cast("array<double>"), mi * sub + 1, sub)
      val dots = array(cb.map { cw =>
        if (nearest) dotConst(sv, cw) - lit(bias(cw)) else dotConst(sv, cw)
      }: _*)
      greatest(array_position(dots, array_max(dots)) - 1, lit(0L)).cast("int")
    }: _*)
  }

  /** Residual of a vector against its own IMI product cell —
    * `v − concat(cw₀[code₀], cw₁[code₁])` via the fused
    * [[graft.functions.PqResidual]] kernel (per-half argmax shares the
    * [[pqEncode]] raw contract, so the cell whose center is subtracted IS
    * the [[imiAssign]] cell).
    */
  def imiResidual(vec: Column, imiCodebooks: Seq[Seq[Seq[Double]]]): Column = {
    require(imiCodebooks.length == 2,
      s"imiResidual: need exactly 2 half-space codebooks, got ${imiCodebooks.length}")
    graft.functions.Pq.residual(vec, imiCodebooks)
  }

  /** HOF formulation of [[graft.functions.PqResidual]] — cross-check
    * fixture only (nested literal codeword lookup per subspace; the
    * projection scale is the argmax dot itself, `array_max` of the dot
    * list — tied codewords share the value, NaN locks like the kernel).
    */
  def pqResidualHof(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val sub = codebooks.head.head.length
    flatten(array(codebooks.zipWithIndex.map { case (cb, mi) =>
      val sv = slice(vec.cast("array<double>"), mi * sub + 1, sub)
      val dots = array(cb.map(cw => dotConst(sv, cw)): _*)
      val code = greatest(array_position(dots, array_max(dots)) - 1, lit(0L)).cast("int")
      val s = array_max(dots)
      val cwArr = array(cb.map(cw => array(cw.map(lit): _*)): _*)
      zip_with(sv, element_at(cwArr, code + 1), (a, b) => a - s * b)
    }: _*))
  }

  // ---------------------------------------------------------------- top-k
  /** Candidate generator of [[topK]]: which (query, corpus) pairs get
    * scored. Each case owns its corpus-side bucket column and its pinned
    * query-side probe builder. A fence changes only WHICH pairs are scored,
    * never their scores: probing every bucket reproduces [[Fence.All]] row
    * for row (SimilaritySpec pins it per scorer). A corpus row has exactly
    * one bucket and a query's probes are distinct by construction, so no
    * candidate dedup is needed. At 100 TB the query side (small) is what
    * explodes and broadcasts; the corpus is one scan joined on bucket
    * equality, and candidates grow by the probe fan-out only.
    */
  sealed trait Fence {
    /** Corpus-side bucket column; None when every pair is a candidate. */
    def corpusBucket(vec: Column): Option[Column]
    /** `queries` with the probe machinery pinned, plus its bucket column
      * (exploded when a query probes several buckets).
      */
    def queryBucket(queries: DataFrame, vec: Column): (DataFrame, Option[Column])
  }

  object Fence {
    /** Every pair — the exact baseline: the query set (small) broadcasts
      * against one corpus scan, ranking shuffles only (query, id, score).
      */
    case object All extends Fence {
      def corpusBucket(vec: sql.Column): Option[sql.Column] = None
      def queryBucket(queries: DataFrame, vec: sql.Column): (DataFrame, Option[sql.Column]) =
        (queries, None)
    }

    /** A precomputed coarse column on both sides (label, LSH bucket,
      * IMI cell): the scan becomes a bucket equi-join.
      */
    final case class Column(bucketCol: String) extends Fence {
      def corpusBucket(vec: sql.Column): Option[sql.Column] = Some(col(bucketCol))
      def queryBucket(queries: DataFrame, vec: sql.Column): (DataFrame, Option[sql.Column]) =
        (queries, Some(col(bucketCol)))
    }

    /** Multi-probe: each query probes the bucket LIST in `probesCol` (its
      * own bucket plus the lowest-margin flips of [[lshProbes]]).
      */
    final case class Probes(bucketCol: String, probesCol: String) extends Fence {
      def corpusBucket(vec: sql.Column): Option[sql.Column] = Some(col(bucketCol))
      def queryBucket(queries: DataFrame, vec: sql.Column): (DataFrame, Option[sql.Column]) =
        (queries, Some(explode(col(probesCol))))
    }

    /** Flat coarse quantizer: corpus rows bucket by [[assignNearest]],
      * queries probe their `probes` nearest centroids ([[assignTopP]]).
      */
    final case class Ivf(centroids: Seq[Seq[Double]], probes: Int = 1) extends Fence {
      def corpusBucket(vec: sql.Column): Option[sql.Column] =
        Some(assignNearest(vec.cast("array<double>"), centroids))

      /** The pinned IVF probe block: the centroid cosine array in its own
        * ComputeOnce column BEFORE the top-p argmax, whose splice fold
        * references it ~3^p times; inlined, every reference would replicate
        * the O(k·dim) unrolled-cosine subtree (measured +1.1 s fixed
        * analysis/codegen cost per run at k=16, and a crawl at k=625 on the
        * interpreted HOF path). Returns the frame (with `_cos`) and the
        * top-`probes` bucket array, element 1 the [[assignNearest]] bucket.
        */
      def pinnedProbes(df: DataFrame, vec: sql.Column): (DataFrame, sql.Column) = (
        df.withColumn(
          "_cos",
          graft.functions.ComputeOnce(centroidCosines(vec.cast("array<double>"), centroids))),
        topPFromCosines(col("_cos"), centroids.length, probes))

      def queryBucket(queries: DataFrame, vec: sql.Column): (DataFrame, Option[sql.Column]) = {
        val (pinned, buckets) = pinnedProbes(queries, vec)
        (pinned, Some(explode(buckets)))
      }
    }

    /** Two-level product (IMI) quantizer: corpus rows bucket by their
      * [[imiAssign]] cell, queries probe the pSub(pSub+1)/2 rank-sum-capped
      * cells of [[imiProbeCells]]. The auto-k form of [[Ivf]]: √k·dim
      * assignment and model instead of k·dim ([[imiAssign]] scaladoc).
      *
      * Top-k ANN needs all k neighbors co-probed, so probe DEEP: at pSub=8
      * the fence loses ~nothing against the unpruned scoring ceiling while
      * cutting candidates ~50-180× (n=200k, ScaleMechanicsSpec, SCALE.md
      * r12). pSub=2 is a dedup-shaped fence, not an ANN-shaped one: it holds
      * only ~0.2 of the top-10.
      */
    final case class Imi(cells: Seq[Seq[Seq[Double]]], pSub: Int = 1) extends Fence {
      require(cells.length == 2, s"Fence.Imi: need exactly 2 half-space cell codebooks, got ${cells.length}")
      val kSub: Int = cells.head.length
      require(pSub >= 1 && pSub <= kSub, s"Fence.Imi: pSub=$pSub out of 1..$kSub")

      def corpusBucket(vec: sql.Column): Option[sql.Column] = Some(imiAssign(vec, cells))

      /** The pinned IMI probe block: the per-half cell dot table `_ilut` and
        * both halves' top-pSub code lists `_t0`/`_t1`, each in its own
        * ComputeOnce column — the probe array references each top list
        * pSub+ times and the top-p splice fold references its lut slice
        * ~3^pSub times; inlined, every reference would re-run the whole
        * subtree on the interpreted HOF path. Returns the frame and the
        * probe-cell array. Columns a caller does not reference are pruned
        * from the plan.
        */
      def pinnedProbes(df: DataFrame, vec: sql.Column): (DataFrame, sql.Column) = (
        df.withColumn("_ilut", graft.functions.ComputeOnce(graft.functions.Pq.lut(vec, cells)))
          .withColumn("_t0", graft.functions.ComputeOnce(imiTopCodes(col("_ilut"), kSub, pSub, 0)))
          .withColumn("_t1", graft.functions.ComputeOnce(imiTopCodes(col("_ilut"), kSub, pSub, 1))),
        imiProbeCells(col("_t0"), col("_t1"), kSub, pSub))

      /** pSub = 1 probes the scalar [[imiAssign]] cell: no single-element
        * explode, which would block plan collapse for zero candidate gain.
        */
      def queryBucket(queries: DataFrame, vec: sql.Column): (DataFrame, Option[sql.Column]) = {
        val (pinned, probeCells) = pinnedProbes(queries, vec)
        (pinned, Some(if (pSub == 1) imiAssign(vec, cells) else explode(probeCells)))
      }
    }
  }

  /** Pair scorer of [[topK]]: each case owns its corpus columns, its query
    * columns, its score expression and its output columns. Query-side
    * tables and codes are computed once per query and broadcast; the
    * corpus side ships codes, never vectors, except under [[Scorer.Cosine]].
    */
  sealed trait Scorer {
    /** The score column ranks order by (desc, `n_id` asc tie-break). */
    private[data] def key: String
    /** Per-row pins taken before either side's select. */
    private[data] def pin(df: DataFrame, vec: Column): DataFrame = df
    protected def corpusCols(vec: Column): Seq[Column] = Nil
    private[data] def queryCols(vec: Column): Seq[Column]
    /** Adds the score column(s) to the fence-joined pairs. */
    private[data] def score(pairs: DataFrame, fence: Fence): DataFrame
    private[data] def output: Seq[Column]

    /** Corpus half: (n_id, the fence's n_bk, this scorer's columns). */
    private[data] def corpus(df: DataFrame, idCol: String, vec: Column, fence: Fence): DataFrame =
      pin(df, vec).select(
        (col(idCol).as("n_id") +: fence.corpusBucket(vec).map(_.as("n_bk")).toSeq) ++
          corpusCols(vec): _*)
  }

  object Scorer {
    private def e6(score: String, as: String): Column = floor(col(score) * 1e6).cast("long").as(as)

    /** m-term ADC sum of LUT hits picked by the candidate's codes,
      * left-assoc in subspace order (the oracle's fold; float addition is
      * not associative).
      */
    private def adcSum(lut: String, codebooks: Seq[Seq[Seq[Double]]]): Column = {
      val cbK = codebooks.head.length
      codebooks.indices
        .map(mi => element_at(col(lut), lit(mi * cbK) + element_at(col("n_codes"), mi + 1) + 1))
        .reduce(_ + _)
    }

    /** Exact cosine over full vectors; output `cos_e6`. */
    case object Cosine extends Scorer {
      private[data] val key = "cos"
      override protected def corpusCols(vec: Column): Seq[Column] = Seq(vec.as("n_vec"))
      private[data] def queryCols(vec: Column): Seq[Column] = Seq(vec.as("q_vec"))
      private[data] def score(pairs: DataFrame, fence: Fence): DataFrame =
        pairs.withColumn("cos", cosine(col("q_vec"), col("n_vec")))
      private[data] def output: Seq[Column] = Seq(e6("cos", "cos_e6"))
    }

    /** Asymmetric-distance (ADC) maximum-inner-product scoring: queries
      * stay EXACT, the corpus is PQ codes only. Each query precomputes its
      * flattened m×k lookup table of subspace dots (element mi·k + j =
      * q_mi · codeword j) and a candidate's score is the m-term sum of the
      * hits its codes pick. At 100 TB the scan reads m bytes per vector
      * instead of 256. `nearest` encodes Euclidean-nearest — REQUIRED for
      * Lloyd-trained codebooks ([[pqCodebooksTrainedDet]] contract: raw
      * argmax-dot funnels mass to high-norm mean codewords); the LUT fold is
      * identical either way. Recall is gated by the SCORE codebooks, not the
      * fence (n=200k: k=16 seeds 0.25 vs brute, k=256 seeds 0.39); rerank
      * recovers it ([[rerank]]). Output `score_e6`.
      */
    final case class Adc(codebooks: Seq[Seq[Seq[Double]]], nearest: Boolean = false) extends Scorer {
      private[data] val key = "score"
      override protected def corpusCols(vec: Column): Seq[Column] =
        Seq(pqEncode(vec, codebooks, nearest).as("n_codes"))
      private[data] def queryCols(vec: Column): Seq[Column] =
        Seq(graft.functions.Pq.lut(vec, codebooks).as("q_lut"))
      private[data] def score(pairs: DataFrame, fence: Fence): DataFrame =
        pairs.withColumn("score", adcSum("q_lut", codebooks))
      private[data] def output: Seq[Column] = Seq(e6("score", "score_e6"))
    }

    /** Int8 scoring — the BANDWIDTH face (PQ is the memory face): both
      * sides symmetric-int8 quantized ([[Embeddings.quantizeInt8]]), each
      * pair scored by the EXACT integer dot of the codes rescaled by the
      * two per-vector scales — 1 byte per dimension instead of 4-8, ~1%
      * score error. The native integer dot is order-free (exact), and the
      * rescale is association-pinned `(idot·q_scale)·n_scale`, so the oracle
      * replays scores bit-exactly. Output `idot` + `approx_e6`.
      */
    case object Int8 extends Scorer {
      private[data] val key = "approx"
      // scale as a PINNED column (ComputeOnce defeats projection collapse):
      // one maxAbs fold + one rounding transform per row, not O(dim²)
      override private[data] def pin(df: DataFrame, vec: Column): DataFrame =
        df.withColumn("_s", graft.functions.ComputeOnce(Embeddings.int8Scale(vec)))
      override protected def corpusCols(vec: Column): Seq[Column] =
        Seq(col("_s").as("n_scale"), Embeddings.int8Codes(vec, col("_s")).as("n_q"))
      private[data] def queryCols(vec: Column): Seq[Column] =
        Seq(col("_s").as("q_scale"), Embeddings.int8Codes(vec, col("_s")).as("q_vq"))
      private[data] def score(pairs: DataFrame, fence: Fence): DataFrame =
        pairs
          .withColumn("idot", graft.functions.IntDotProduct.column(col("q_vq"), col("n_q")))
          .withColumn("approx", col("idot").cast("double") * col("q_scale") * col("n_scale"))
      private[data] def output: Seq[Column] = Seq(col("idot"), e6("approx", "approx_e6"))
    }

    /** RESIDUAL ADC — the full IVFADC construction (Jégou/Douze/Schmid
      * TPAMI'11 §IV) on the [[Fence.Imi]] cells: the corpus PQ-codes each
      * vector's residual against its own cell center ([[imiResidual]]),
      * and a candidate's score decomposes as
      *   ⟨q, x⟩ = s₀·⟨q₀, cw₀⟩ + s₁·⟨q₁, cw₁⟩ + ⟨q, residual⟩
      * with sₕ the candidate's per-half projection scales (2 doubles it
      * ships) and the half-dots read from the fence's pinned `_ilut`. The
      * center term is EXACT; only the smaller residual is quantized. Train
      * `rpqCodebooks` on residuals ([[imiResidual]] →
      * [[pqCodebooksTrainedDet]]); the corpus encodes them
      * Euclidean-nearest. Fold order pinned as
      * `(s₀·i₀ + s₁·i₁) + (term₀ + term₁ + …)`. Output `score_e6`.
      */
    final case class ResidualAdc(rpqCodebooks: Seq[Seq[Seq[Double]]]) extends Scorer {
      private[data] val key = "score"
      private def imi(fence: Fence): Fence.Imi = fence match {
        case f: Fence.Imi => f
        case other => throw new IllegalArgumentException(
          s"Scorer.ResidualAdc codes residuals against IMI cells; it needs Fence.Imi, got $other")
      }

      // cell codes and the per-half dot table pinned once each (codes feed
      // the bucket fold and both LUT hits; the dot table feeds both
      // projection scales); the residual encode is its own fused kernel
      override private[data] def corpus(
          df: DataFrame, idCol: String, vec: Column, fence: Fence): DataFrame = {
        val f = imi(fence)
        df.withColumn("n_cell", graft.functions.ComputeOnce(graft.functions.Pq.encode(vec, f.cells)))
          .withColumn("_nlut", graft.functions.ComputeOnce(graft.functions.Pq.lut(vec, f.cells)))
          .select(
            col(idCol).as("n_id"),
            col("n_cell"),
            aggregate(col("n_cell"), lit(0), (acc, cd) => acc * f.kSub + cd).as("n_bk"),
            element_at(col("_nlut"), element_at(col("n_cell"), 1) + 1).as("n_s0"),
            element_at(col("_nlut"), lit(f.kSub) + element_at(col("n_cell"), 2) + 1).as("n_s1"),
            pqEncode(imiResidual(vec, f.cells), rpqCodebooks, nearest = true).as("n_codes"))
      }
      private[data] def queryCols(vec: Column): Seq[Column] =
        Seq(col("_ilut").as("q_ilut"), graft.functions.Pq.lut(vec, rpqCodebooks).as("q_rlut"))
      private[data] def score(pairs: DataFrame, fence: Fence): DataFrame = {
        val kSub = imi(fence).kSub
        val centerDot =
          col("n_s0") * element_at(col("q_ilut"), element_at(col("n_cell"), 1) + 1) +
            col("n_s1") * element_at(col("q_ilut"), lit(kSub) + element_at(col("n_cell"), 2) + 1)
        pairs.withColumn("score", centerDot + adcSum("q_rlut", rpqCodebooks))
      }
      private[data] def output: Seq[Column] = Seq(e6("score", "score_e6"))
    }
  }

  /** Top-k neighbors of each query (self excluded): `fence` picks the
    * candidate pairs, `scorer` scores them, and one rank tail keeps the
    * best k per query (score desc, `n_id` asc). Output
    * (q_id, n_id, rank, the scorer's score columns).
    */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      fence: Fence,
      scorer: Scorer,
      k: Int
  ): DataFrame =
    topKEncoded(encode(corpus, idCol, vecCol, fence, scorer), queries, idCol, vecCol, fence, scorer, k)

  /** The corpus half of [[topK]] — (n_id, n_bk, the scorer's columns).
    * Split out so it can be computed ONCE and PERSISTED as an index
    * bucketed by `n_bk` ([[topKIndexed]]): inline, every query batch
    * re-pays the full per-row encode, the dominant term of the composed
    * faces (the scoring join touches only fenced candidates).
    */
  def encode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      fence: Fence,
      scorer: Scorer
  ): DataFrame = scorer.corpus(corpus, idCol, col(vecCol), fence)

  /** [[topK]] over a PERSISTED index — the "build once, query many"
    * shape: `index` is the [[encode]] frame written as a table BUCKETED BY
    * `n_bk` (e.g. via [[graft.connectors.Bucketing.ensureBucketed]]). The
    * probed buckets are collected (a bounded driver action, one value per
    * distinct probe) and pushed as an `IN` filter on the bucket column,
    * which Spark turns into BUCKET PRUNING: the scan reads only files of
    * probed buckets (`SelectedBucketsCount` in the plan, spec-pinned). The
    * IN filter is implied by the join condition, so results are
    * row-identical to [[topK]] on the same corpus and models (spec-pinned).
    */
  def topKIndexed(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      fence: Fence,
      scorer: Scorer,
      k: Int,
      maxPruneCells: Int = 65536
  ): DataFrame = {
    Seq("n_id", "n_bk").foreach(c =>
      require(index.columns.contains(c), s"topKIndexed: index lacks column $c — build it with encode"))
    val (probed, bucket) = fence.queryBucket(queries, col(vecCol))
    require(bucket.nonEmpty, s"topKIndexed: $fence has no bucket to prune on")
    val cells = probed.select(bucket.get.as("q_bk")).distinct().collect().map(_.get(0))
    // a probe set larger than the IN-filter budget would bloat the plan
    // for no pruning win (most buckets touched anyway) — skip, loudly
    val pruned =
      if (cells.length > maxPruneCells) {
        org.slf4j.LoggerFactory.getLogger("graft.data.Similarity").warn(
          s"topKIndexed: probe set (${cells.length} cells) exceeds " +
            s"maxPruneCells=$maxPruneCells — falling back to the UNPRUNED index scan " +
            "(answers unchanged, bucket-pruning I/O win lost); raise maxPruneCells " +
            "or probe fewer cells (lower pSub / fewer queries per batch)")
        index
      } else index.where(col("n_bk").isin(cells.toSeq: _*))
    topKEncoded(pruned, queries, idCol, vecCol, fence, scorer, k)
  }

  /** Query half of [[topK]]: the broadcast probe frame, the fence join and
    * the rank tail over an already-encoded corpus frame.
    */
  private def topKEncoded(
      encoded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      fence: Fence,
      scorer: Scorer,
      k: Int
  ): DataFrame = {
    val vec = col(vecCol)
    val (probed, bucket) = fence.queryBucket(scorer.pin(queries, vec), vec)
    val q = broadcast(probed.select(
      (col(idCol).as("q_id") +: scorer.queryCols(vec)) ++ bucket.map(_.as("q_bk")): _*))
    val notSelf = col("n_id") =!= col("q_id")
    val pairs = encoded.join(q, bucket.fold(notSelf)(_ => col("n_bk") === col("q_bk") && notSelf))
    rankTail(scorer.score(pairs, fence), scorer, k)
  }

  /** The one rank tail: best k per query by the scorer's key desc, id
    * tie-break, projected to (q_id, n_id, rank, the scorer's outputs).
    */
  private def rankTail(scored: DataFrame, scorer: Scorer, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col(scorer.key).desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("q_id"), col("n_id"), col("rank")) ++ scorer.output: _*)
  }

  /** IVFADC+R — the refine stage: [[topK]] keeps its top `rerankR` per
    * query, those candidates fetch their FULL vectors, and the exact
    * cosine re-ranks them down to k (Jégou/Douze/Schmid TPAMI'11 §V).
    * Output is [[Scorer.Cosine]]'s (`cos_e6`), so recall reads directly
    * against the exact face. The composed ANN's recall is SCORE-MODEL
    * gated (m=8-code ADC tops out ~0.40 at n=200k, SCALE.md r12); refined,
    * it is fence-gated again, so pSub becomes the lever and only pays
    * WITH refinement (SCALE.md r14: ADC-only flat at ~0.40 for pSub 8→16
    * while R=100 climbs 0.773 → 0.875 → 0.933). Pick pSub from the recall
    * target ([[imiProbePlan]] prices it), keep R≈10·k.
    *
    * Scale shape: the exact math runs on R rows per query instead of n.
    * The shortlist (nQueries·R ids) broadcasts back against the
    * full-vector corpus scan, so refinement costs one broadcast-hash probe
    * and one dim-length dot per shortlisted row; vectors never shuffle.
    *
    * ==Broadcast flood guard==
    * The shortlist and the query vectors are driver-resident broadcast
    * frames, so a large query batch at a deep R (10⁶ queries × R=1000 =
    * 10⁹ rows) would OOM the driver mid-job. One cheap count of the QUERY
    * side at construction, and a loud failure above `maxBroadcastRows`
    * naming the sizes ([[broadcastGuard]]). Default 8M rows ≈ 128 MB of
    * id pairs.
    */
  def rerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      fence: Fence,
      scorer: Scorer,
      k: Int,
      rerankR: Int,
      maxBroadcastRows: Long = 8000000L
  ): DataFrame = {
    require(rerankR >= k,
      s"rerank: rerankR=$rerankR must be >= k=$k (the shortlist feeds the final top-k)")
    broadcastGuard("rerank", queries.count() * rerankR,
      maxBroadcastRows, s"the nQueries·rerankR shortlist (R=$rerankR)")
    val shortlist = topK(corpus, queries, idCol, vecCol, fence, scorer, rerankR)
      .select(col("q_id"), col("n_id"))
    val exact = Scorer.Cosine
    val cvec = encode(corpus, idCol, vecCol, Fence.All, exact)
    val qvec = broadcast(queries.select(col(idCol).as("q_id") +: exact.queryCols(col(vecCol)): _*))
    val pairs = broadcast(shortlist).join(cvec, Seq("n_id")).join(qvec, Seq("q_id"))
    rankTail(exact.score(pairs, Fence.All), exact, k)
  }

  /** Fence-cost estimator for the composed IMI faces — the EXACT realized
    * candidate count of the [[Fence.Imi]] join of [[topK]] per query,
    * computed WITHOUT running the join: a per-cell corpus histogram
    * (kSub² rows, metadata-sized) is broadcast against each query's probe
    * cells and summed, minus the query's own corpus row where it sits
    * inside its own probe set (the join's `n_id =!= q_id` exclusion).
    * Exactness holds because a corpus row lands in exactly ONE cell and a
    * query's probe cells are distinct by construction ([[imiProbeCells]])
    * — candidate volume decomposes additively over probed cells, so two
    * linear passes (O(n) assignment + O(q·pSub²) histogram lookups)
    * reproduce the join's row count to the row (spec-pinned against
    * [[topK]] run at k = n).
    *
    * This is the budgeting tool the post-refinement operating guidance
    * needs at 100 TB: with IVFADC+R, recall is fence-gated and pSub is
    * picked from the recall target ([[rerank]] scaladoc,
    * SCALE.md r14 probe-depth curve) — this prices what that choice costs
    * (the ADC scan volume, the corpus-sized term) BEFORE committing to
    * the scan. To price several candidate depths from ONE corpus pass,
    * use [[imiFenceCandidateCurve]]. Output: (q_id, n_cand).
    *
    * Broadcast flood guard: the probe frame (exactly pSub(pSub+1)/2 cells
    * per query) broadcasts into the self-row join — guarded by
    * `maxBroadcastRows` exactly like [[rerank]]'s
    * shortlist (one q-sided count at construction, loud failure, chunk
    * the query batch to stay exact). The kSub²-row histogram broadcast
    * is model-sized and needs no guard.
    */
  def imiFenceCandidateCounts(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      imiCodebooks: Seq[Seq[Seq[Double]]],
      pSub: Int = 1,
      maxBroadcastRows: Long = 8000000L
  ): DataFrame = {
    val fence = Fence.Imi(imiCodebooks, pSub)
    broadcastGuard("imiFenceCandidateCounts",
      queries.count() * (pSub.toLong * (pSub + 1) / 2),
      maxBroadcastRows, s"the per-query probe frame (pSub=$pSub → ${pSub * (pSub + 1) / 2} cells/query)")
    val cells = corpus.select(
      col(idCol).as("n_id"),
      imiAssign(col(vecCol), imiCodebooks).as("n_bk"))
    val hist = cells.groupBy(col("n_bk")).agg(count(lit(1)).as("_cnt"))
    val (probed, bucket) = fence.queryBucket(queries, col(vecCol))
    val probes = probed.select(col(idCol).as("q_id"), bucket.get.as("q_bk"))
    val gross = probes
      .join(broadcast(hist), col("q_bk") === col("n_bk"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("_cnt"), lit(0L))).as("_gross"))
    // the query's own corpus row, when probed, is excluded by the fence
    // join — at most one row per query (one cell per corpus row)
    val self = broadcast(probes)
      .join(cells, col("n_id") === col("q_id") && col("n_bk") === col("q_bk"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("_self"))
    gross
      .join(self, Seq("q_id"), "left")
      .select(
        col("q_id"),
        (col("_gross") - coalesce(col("_self"), lit(0L))).as("n_cand"))
  }

  /** [[imiFenceCandidateCounts]] for a whole probe-depth CURVE in one
    * corpus pass: the O(n) assignment histogram — the only corpus-sized
    * term — is computed ONCE and every requested pSub prices against it
    * (the query-side probe construction is per-pSub but q-sized). This is
    * how the SCALE.md r14 probe-depth table is priced in production:
    * sweep the candidate pSubs, read the recall curve's cost column,
    * commit to one fence. Output: (p_sub, q_id, n_cand) — each
    * (p_sub, q_id) slice row-identical to the single-pSub call
    * (spec-pinned).
    *
    * Construction is fully EAGER: the corpus assignment pass was always
    * checkpointed up front, and since r15 the q·|pSubs|-row RESULT is
    * checkpointed too so the corpus-sized assignment blocks release
    * before the caller sees the frame (ADVICE r14 — repeated pricing
    * sweeps in one session no longer accumulate executor-local blocks).
    * The probe broadcast is guarded by `maxBroadcastRows` like
    * [[imiFenceCandidateCounts]] (bound: Σ p(p+1)/2 cells per query).
    */
  def imiFenceCandidateCurve(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      imiCodebooks: Seq[Seq[Seq[Double]]],
      pSubs: Seq[Int],
      maxBroadcastRows: Long = 8000000L
  ): DataFrame = {
    require(pSubs.nonEmpty && pSubs.forall(_ >= 1),
      s"imiFenceCandidateCurve: pSubs=$pSubs must be non-empty and positive")
    // the deepest fence validates the codebooks and pSubs.max against kSub
    val deepest = Fence.Imi(imiCodebooks, pSubs.max)
    val kSub = deepest.kSub
    broadcastGuard("imiFenceCandidateCurve",
      queries.count() * pSubs.map(p => p.toLong * (p + 1) / 2).sum,
      maxBroadcastRows, s"the stacked probe frame (pSubs=${pSubs.mkString(",")})")
    val cells = corpus.select(
      col(idCol).as("n_id"),
      imiAssign(col(vecCol), imiCodebooks).as("n_bk"))
    // the one corpus-sized pass — localCheckpoint so the per-pSub probe
    // arms below never re-derive the assignment scan (ids + cell ints
    // only: executor-local disk stays corpus-metadata-sized)
    val cellsCk = cells.localCheckpoint()
    val hist = cellsCk.groupBy(col("n_bk")).agg(count(lit(1)).as("_cnt"))
    // ONE top-code pass at the DEEPEST swept depth, checkpointed, and every
    // pSub arm derived by slicing its arrays (guide §1.2 — don't recompute
    // what a prefix already holds): topPFromCosines is a deterministic
    // total order (ties → lowest index), so the top-p lists are exact
    // prefixes of the top-pMax lists, and element 1 is the imiAssign cell
    // by the probe contract — the p=1 arm included. The heavyweight
    // codebook-literal LUT/argmax expression trees are therefore planned
    // and executed ONCE instead of once per swept depth (measured r21:
    // the per-(kSub, p) re-planning was ~1 s of driver gaps on the
    // probe-plan face); the per-p arms are q-sized selects over a
    // checkpoint leaf.
    val qTop = deepest.pinnedProbes(queries, col(vecCol))._1
      .select(col(idCol).as("q_id"), col("_t0"), col("_t1"))
      .localCheckpoint()
    val probesByP = pSubs.map { p =>
      qTop
        .select(
          col("q_id"),
          explode(imiProbeCells(
            slice(col("_t0"), 1, p), slice(col("_t1"), 1, p), kSub, p)).as("q_bk"))
        .withColumn("p_sub", lit(p))
    }
    val probes = probesByP.reduce(_ unionByName _)
    val gross = probes
      .join(broadcast(hist), col("q_bk") === col("n_bk"), "left")
      .groupBy(col("p_sub"), col("q_id"))
      .agg(sum(coalesce(col("_cnt"), lit(0L))).as("_gross"))
    val self = broadcast(probes)
      .join(cellsCk, col("n_id") === col("q_id") && col("n_bk") === col("q_bk"))
      .groupBy(col("p_sub"), col("q_id"))
      .agg(count(lit(1)).as("_self"))
    val out = gross
      .join(self, Seq("p_sub", "q_id"), "left")
      .select(
        col("p_sub"),
        col("q_id"),
        (col("_gross") - coalesce(col("_self"), lit(0L))).as("n_cand"))
      // materialize the q-sized result so the corpus-sized assignment
      // checkpoint can release before the caller consumes the frame
      .localCheckpoint()
    graft.core.Checkpoints.release(cellsCk)
    graft.core.Checkpoints.release(qTop)
    out
  }

  /** Fence PLANNER — turns [[imiFenceCandidateCurve]]'s priced sweep into
    * the pSub decision itself: given a per-query candidate budget, choose
    * the DEEPEST fence that fits. Recall and cost are both monotone in
    * pSub (SCALE.md r14 probe-depth curve), so "deepest affordable" is the
    * optimal operating point under a scan budget, and the whole decision
    * is priced by one O(n) corpus pass plus q-sized probe arms — the join
    * itself never runs until the choice is made.
    *
    * Output, one row per swept pSub (integer-exact, SQL-replayable):
    * `(p_sub, n_queries, total_cand, fits, chosen)` where `fits` ⇔
    * `total_cand ≤ maxCandPerQuery · n_queries` and `chosen` marks the
    * largest fitting pSub — or, when NOTHING fits, the smallest swept
    * pSub (the minimal-cost fallback, loud in its `fits = false` column:
    * the caller sees the budget was unsatisfiable rather than getting a
    * silent over-budget scan). The budget is expressed against the
    * total (`maxCandPerQuery · n_queries`), so the comparison stays in
    * exact BIGINT arithmetic — no floating-point mean crosses the oracle.
    *
    * At 100 TB this is the control loop the rerank face's scaladoc
    * prescribes ("pick pSub from the recall target") made executable:
    * sweep once per (corpus snapshot, query-batch shape), read off the
    * chosen fence, then [[rerank]] at that depth (the auto face: price →
    * choose → scan → refine). Broadcast guard inherited from the curve.
    */
  def imiProbePlan(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      imiCodebooks: Seq[Seq[Seq[Double]]],
      pSubs: Seq[Int],
      maxCandPerQuery: Long,
      maxBroadcastRows: Long = 8000000L
  ): DataFrame = {
    require(maxCandPerQuery > 0, s"imiProbePlan: maxCandPerQuery=$maxCandPerQuery must be positive")
    val curve = imiFenceCandidateCurve(
      corpus, queries, idCol, vecCol, imiCodebooks, pSubs, maxBroadcastRows)
    // |pSubs|-row frame from here down — driver-trivial by construction
    val agg = curve
      .groupBy(col("p_sub"))
      .agg(count(lit(1)).as("n_queries"), sum(col("n_cand")).as("total_cand"))
    val flags = agg.withColumn(
      "fits", col("total_cand") <= lit(maxCandPerQuery) * col("n_queries"))
    val sel = flags.agg(
      coalesce(max(when(col("fits"), col("p_sub"))), min(col("p_sub"))).as("_chosen"))
    flags
      .crossJoin(broadcast(sel))
      .withColumn("chosen", col("p_sub") === col("_chosen"))
      .drop("_chosen")
  }

  /** Loud ceiling on driver-resident broadcast frames — the fourth face of
    * the flood-guard stance (`maxBucketRows` on the banded pair joins,
    * `maxCellRows` on the semdedup cells): fail at construction with the
    * offending size instead of OOMing the driver mid-job. Chunking the
    * query batch is always an EXACT remedy for the guarded faces.
    */
  private def broadcastGuard(
      face: String, rows: Long, maxBroadcastRows: Long, what: String): Unit = {
    require(maxBroadcastRows > 0, s"$face: maxBroadcastRows must be positive")
    if (rows > maxBroadcastRows)
      throw new IllegalStateException(
        s"$face: broadcast flood — $what is $rows rows, above maxBroadcastRows=$maxBroadcastRows. " +
          "This frame is built driver-side and broadcast to every executor; at this size it " +
          "risks driver OOM / the broadcast limit mid-job. Split the query batch into chunks " +
          "and union the outputs (per-query results are independent, so chunking is exact), " +
          "or raise maxBroadcastRows only if the driver is actually sized for it.")
  }
}
