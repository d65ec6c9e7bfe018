package graft

import org.apache.spark.sql.functions._
import graft.data.Similarity
import graft.data.Similarity.{Fence, Scorer}

/** Sign-LSH ANN: native-expression parity, multi-probe semantics, and the
  * recall@k contract vs the exact brute-force baseline (VERDICT r2 #1/#7).
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val nbits = 8
  private val dim = 64
  private lazy val planes = Similarity.hyperplanes(nbits, dim)

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("SignLshDots: native fused dots are bit-identical to the HOF formulation") {
    val both = emb.select(
      Similarity.lshDots($"embedding", planes).as("fused"),
      Similarity.lshDotsHof($"embedding", planes).as("hof"))
    val rows = both.as[(Seq[Double], Seq[Double])].collect()
    assert(rows.length === 500)
    rows.foreach { case (f, h) =>
      assert(f.length === nbits && h.length === nbits)
      // bit-identical, not approximately equal: the oracle replays the same
      // left-to-right accumulation
      f.zip(h).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) === java.lang.Double.doubleToLongBits(b))
      }
    }
    // and the bucket derived from fused dots matches the HOF bucket
    val buckets = emb.select(
      Similarity.lshBucket($"embedding", planes).as("fused_bk"),
      Similarity.lshBucketFromDots(Similarity.lshDotsHof($"embedding", planes), nbits).as("hof_bk"))
    assert(buckets.filter($"fused_bk" =!= $"hof_bk").count() === 0)
  }

  test("lshProbes: first probe is own bucket; flips target the lowest-|margin| bits") {
    // hand-built vector with known margins against hand-built planes:
    // dots = (5.0, -0.1, 0.3, -2.0) -> bucket = b0101 = 5,
    // margin order = bit 1 (0.1), bit 2 (0.3), flips -> 5^2=7, 5^4=1
    val v = Seq(1.0)
    val p = Seq(Seq(5.0), Seq(-0.1), Seq(0.3), Seq(-2.0))
    val df = Seq(Tuple1(v)).toDF("v")
    val probes = df
      .select(Similarity.lshProbes(Similarity.lshDots($"v", p), 4, 2).as("pr"))
      .as[Seq[Int]].head()
    assert(probes === Seq(5, 7, 1))
    // probes are pairwise distinct by construction (distinct single-bit XORs)
    assert(probes.distinct.length === probes.length)
  }

  test("clustered corpus: multi-probe recall@10 >= 0.9 where single-probe loses boundary neighbors") {
    // The fixture embeddings are near-uniform on the sphere (cosine has
    // little structure), which bounds ANY bucketing scheme's recall — so the
    // >=0.9 contract is pinned on a deterministic clustered corpus, the
    // workload ANN bucketing exists for: 16 tight clusters x 32 members.
    // In-cluster neighbors agree on almost every hyperplane side; the ones
    // single-probe loses sit across a low-|margin| bit, exactly what
    // multi-probe's flips recover.
    def r(s: String): Double = (graft.functions.Md5Hash60.hash(s.getBytes("UTF-8")) % 2001 - 1000) / 1000.0
    val cdim = 16
    val vecs = for {
      k <- 0 until 16
      m <- 0 until 32
    } yield {
      val id = (k * 32 + m).toLong
      val v = (0 until cdim).map(j => r(s"c_${k}_$j") + 0.08 * r(s"n_${k}_${m}_$j"))
      (id, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 16 === 0) // 32 queries, 2 per cluster
    val cplanes = Similarity.hyperplanes(nbits, cdim)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Cosine, 10))
    val base = corpus
      .withColumn("_dots", Similarity.lshDots($"embedding", cplanes))
      .withColumn("_bk", Similarity.lshBucketFromDots($"_dots", nbits))
    val single = pairs(Similarity.topK(
      base, base.filter($"vec_id" % 16 === 0), "vec_id", "embedding",
      Fence.Column("_bk"), Scorer.Cosine, 10))
    val multi = pairs(
      Similarity.topK(
        base,
        base.filter($"vec_id" % 16 === 0)
          .withColumn("_probes", Similarity.lshProbes($"_dots", nbits, 4)),
        "vec_id", "embedding", Fence.Probes("_bk", "_probes"), Scorer.Cosine, 10))
    val rSingle = single.intersect(brute).size.toDouble / brute.size
    val rMulti = multi.intersect(brute).size.toDouble / brute.size
    info(f"clustered recall@10: single-probe=$rSingle%.3f  multiprobe(4 flips)=$rMulti%.3f")
    println(f"[SimilaritySpec] clustered recall@10: single=$rSingle%.3f multi4=$rMulti%.3f")
    assert(rMulti >= 0.9, f"multi-probe recall $rMulti%.3f below the 0.9 contract")
    assert(rMulti > rSingle, "multi-probe should strictly beat single-probe on boundary neighbors")
  }

  test("PQ/ADC: encoding is m codes, recall@10 vs exact MIPS measured on clustered corpus") {
    def r(s: String): Double = (graft.functions.Md5Hash60.hash(s.getBytes("UTF-8")) % 2001 - 1000) / 1000.0
    val cdim = 16
    // member-major ids: the 16 smallest ids are one vector PER cluster, so
    // the seeded codebooks see every mode (id = m*16 + k)
    val vecs = for {
      k <- 0 until 16
      m <- 0 until 32
    } yield {
      val id = (m * 16 + k).toLong
      val v = (0 until cdim).map(j => r(s"c_${k}_$j") + 0.08 * r(s"n_${k}_${m}_$j"))
      (id, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 16 === 0)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, k = 16)
    assert(cbs.length === 4 && cbs.head.length === 16 && cbs.head.head.length === 4)
    // exact MIPS baseline (PQ approximates the inner product, not cosine)
    val q = org.apache.spark.sql.functions.broadcast(
      queries.select($"vec_id".as("q_id"), $"embedding".as("qv")))
    val dot = aggregate(
      zip_with($"qv", transform($"embedding", x => x.cast("double")), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"dot".desc, $"vec_id".asc)
    val exact = corpus.join(q, $"vec_id" =!= $"q_id")
      .withColumn("dot", dot)
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      .select($"q_id", $"vec_id".as("n_id")).as[(Long, Long)].collect().toSet
    val pq = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Adc(cbs), 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    // the production path: per-subspace Lloyd-trained codebooks
    val trained = Similarity.pqCodebooksTrained(corpus, "vec_id", "embedding", m = 4, k = 16, iters = 3)
    val pqT = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Adc(trained), 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recallT = pqT.intersect(exact).size.toDouble / exact.size
    info(f"PQ recall@10 vs exact MIPS: seeded=$recall%.3f trained=$recallT%.3f")
    println(f"[SimilaritySpec] PQ recall@10 vs exact MIPS: seeded=$recall%.3f trained=$recallT%.3f")
    // ~0.52 is the structural ceiling of THIS geometry, not a codebook
    // defect (trained == seeded confirms it): every member of the query's
    // own cluster quantizes to the same 4 codes, so ADC collapses their
    // scores and within-cluster ranking falls to the id tiebreak, while
    // cross-cluster order is preserved — exactly the granularity PQ trades
    // for 64x memory compression. Raise k (codes per subspace) to push the
    // ceiling; the oracle face pins correctness, this pins the trade-off.
    assert(recall >= 0.5, f"PQ recall $recall%.3f collapsed — codebooks not covering the modes")
    assert(recallT >= recall, f"trained codebooks ($recallT%.3f) regressed below seeded ($recall%.3f)")
    // codes really are per-subspace indices within [0, k)
    val codes = corpus.select(Similarity.pqEncode($"embedding", cbs).as("c"))
      .as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 16)))
  }

  test("int8 ANN: integer dots exact, recall@10 vs exact MIPS near-lossless") {
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0)
    // exact MIPS baseline
    val q = org.apache.spark.sql.functions.broadcast(
      queries.select($"vec_id".as("q_id"), $"embedding".as("qv")))
    val dot = aggregate(
      zip_with(transform($"qv", x => x.cast("double")),
        transform($"embedding", x => x.cast("double")), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"dot".desc, $"vec_id".asc)
    val exact = corpus.join(q, $"vec_id" =!= $"q_id")
      .withColumn("dot", dot)
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      .select($"q_id", $"vec_id".as("n_id")).as[(Long, Long)].collect().toSet
    val got = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Int8, 10)
      .select($"q_id", $"n_id", $"idot").as[(Long, Long, Long)].collect()
    val recall = got.map(r => (r._1, r._2)).toSet.intersect(exact).size.toDouble / exact.size
    info(f"int8 recall@10 vs exact MIPS: $recall%.3f")
    println(f"[SimilaritySpec] int8 recall@10 vs exact MIPS: $recall%.3f")
    // int8 with per-vector scales is near-lossless at this dim — unlike PQ
    // there is no shared-codeword collapse, only ±scale/2 per-axis noise
    assert(recall >= 0.9, f"int8 recall $recall%.3f below the near-lossless contract")
    // the integer dot really is the exact dot of the re-derived codes for a
    // sampled pair (independent recomputation, not the operator's own path)
    val codes = corpus
      .select($"vec_id", graft.data.Embeddings.quantizeInt8($"embedding").as("z"))
      .select($"vec_id", $"z.scale", $"z.q").as[(Long, Double, Seq[Int])].collect()
      .map(r => r._1 -> r._3).toMap
    val sample = got.head
    val expect = codes(sample._1).zip(codes(sample._2)).map { case (a, b) => a.toLong * b }.sum
    assert(sample._3 === expect, s"idot drift on ${(sample._1, sample._2)}")
  }

  test("IVF-pruned int8: probes=all ≡ unpruned int8TopK; pruned scores bit-match") {
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 16)
    val full = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Int8, 10)
      .select("q_id", "n_id", "rank", "idot", "approx_e6")
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    // probing every bucket removes the prune — must reproduce the unpruned
    // face row for row (ranks, integer dots, rescaled scores, tiebreaks)
    val all = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Ivf(cents, probes = cents.length), Scorer.Int8, 10)
      .select("q_id", "n_id", "rank", "idot", "approx_e6")
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(all === full, "probes=all must be bit-identical to the unpruned int8 face")
    // probes=2: a pruned survivor's scores must equal the unpruned scores
    val pruned = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Ivf(cents, probes = 2), Scorer.Int8, 10)
      .select("q_id", "n_id", "idot", "approx_e6").as[(Long, Long, Long, Long)].collect()
    val fullScores = full.map { case (q, n, _, d, a) => (q, n) -> ((d, a)) }.toMap
    pruned.foreach { case (q, n, d, a) =>
      fullScores.get((q, n)).foreach(fs => assert(fs === ((d, a)), s"score drift on ($q,$n)"))
    }
    val recall = pruned.map(r => (r._1, r._2)).toSet
      .intersect(full.map(t => (t._1, t._2))).size.toDouble / full.size
    info(f"IVF-pruned int8 recall@10 vs unpruned=$recall%.3f")
    println(f"[SimilaritySpec] IVF-pruned int8: recall@10 vs unpruned=$recall%.3f")
    assert(recall > 0.0, "pruned face returned nothing — bucketing degenerated")
    // the same rule for the cosine scorer's precomputed-bucket fence: one
    // bucket shared by every row removes the prune, so Fence.Column must
    // reproduce Fence.All row for row
    def cosRows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rank", "cos_e6").as[(Long, Long, Int, Long)].collect().toSet
    val oneBucket = corpus.withColumn("_one", lit(0))
    assert(cosRows(Similarity.topK(
      oneBucket, oneBucket.filter($"vec_id" % 25 === 0), "vec_id", "embedding",
      Fence.Column("_one"), Scorer.Cosine, 10)) ===
      cosRows(Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Cosine, 10)),
      "a single shared bucket must be bit-identical to the unfenced cosine face")
  }

  test("IVF-pruned PQ: probes=all ≡ unpruned ADC; probes=2 recall measured, candidates cut") {
    def r(s: String): Double = (graft.functions.Md5Hash60.hash(s.getBytes("UTF-8")) % 2001 - 1000) / 1000.0
    val cdim = 16
    val vecs = for {
      k <- 0 until 16
      m <- 0 until 32
    } yield {
      val id = (m * 16 + k).toLong
      val v = (0 until cdim).map(j => r(s"c_${k}_$j") + 0.08 * r(s"n_${k}_${m}_$j"))
      (id, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 16 === 0)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 16)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, k = 16)
    val full = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Adc(cbs), 10)
      .select("q_id", "n_id", "rank", "score_e6")
      .as[(Long, Long, Int, Long)].collect().toSet
    // probing EVERY coarse bucket removes the pruning entirely — the
    // composed operator must then reproduce the unpruned ADC face row for
    // row (ranks, scores, tiebreaks), proving the prune is the ONLY delta
    val all = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Ivf(cents, probes = cents.length), Scorer.Adc(cbs), 10)
      .select("q_id", "n_id", "rank", "score_e6")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(all === full, "probes=all must be bit-identical to the unpruned ADC face")
    // probes=2: pruning can only DROP candidates, never invent them —
    // every surviving neighbor's score must match the unpruned score
    val pruned = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Ivf(cents, probes = 2), Scorer.Adc(cbs), 10)
      .select("q_id", "n_id", "score_e6").as[(Long, Long, Long)].collect()
    val fullScores = full.map { case (q, n, _, s) => (q, n) -> s }.toMap
    pruned.foreach { case (q, n, s) =>
      fullScores.get((q, n)).foreach(fs => assert(fs === s, s"score drift on ($q,$n)"))
    }
    // recall of the pruned face vs the unpruned top-10 (the prune's cost)
    val prunedSet = pruned.map { case (q, n, _) => (q, n) }.toSet
    val fullSet = full.map { case (q, n, _, _) => (q, n) }
    val recall = prunedSet.intersect(fullSet).size.toDouble / fullSet.size
    // candidate reduction: with 16 balanced clusters and 2 probes, each
    // query scores ~2/16 of the corpus instead of all of it
    val bucketed = corpus.select(
      Similarity.assignNearest($"embedding".cast("array<double>"), cents).as("bk"))
      .groupBy($"bk").count().as[(Int, Long)].collect().toMap
    val nQ = queries.count()
    val candPruned = pruned.length // proxy: emitted rows <= candidates
    info(f"IVF-pruned PQ recall@10 vs unpruned=$recall%.3f buckets=${bucketed.size}")
    println(f"[SimilaritySpec] IVF-pruned PQ: recall@10 vs unpruned=$recall%.3f " +
      f"buckets=${bucketed.size} queries=$nQ rows=$candPruned")
    // this geometry puts each query's true neighbors in its own cluster, so
    // 2-probe pruning should retain most of the unpruned top-10
    assert(recall >= 0.7, f"IVF-pruned recall $recall%.3f collapsed")
    assert(bucketed.size > 1, "coarse quantizer degenerated to one bucket")
    // the cosine scorer's multi-probe fence at full depth: a probe list of
    // every bucket must reproduce Fence.All row for row
    def cosRows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rank", "cos_e6").as[(Long, Long, Int, Long)].collect().toSet
    val probed = corpus
      .withColumn("_bk", Similarity.assignNearest($"embedding".cast("array<double>"), cents))
      .withColumn("_probes", sequence(lit(0), lit(cents.length - 1)))
    assert(cosRows(Similarity.topK(
      probed, probed.filter($"vec_id" % 16 === 0), "vec_id", "embedding",
      Fence.Probes("_bk", "_probes"), Scorer.Cosine, 10)) ===
      cosRows(Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Cosine, 10)),
      "probing every bucket must be bit-identical to the unfenced cosine face")
  }

  test("multi-probe recall@10 vs brute beats single-probe (measured, not assumed)") {
    val queries = emb.filter($"vec_id" % 25 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.topK(emb, queries, "vec_id", "embedding", Fence.All, Scorer.Cosine, 10))

    val base = emb
      .withColumn("_dots", Similarity.lshDots($"embedding", planes))
      .withColumn("_bk", Similarity.lshBucketFromDots($"_dots", nbits))
    val single = pairs(Similarity.topK(
      base, base.filter($"vec_id" % 25 === 0), "vec_id", "embedding",
      Fence.Column("_bk"), Scorer.Cosine, 10))
    def multi(flips: Int): Set[(Long, Long)] = pairs(
      Similarity.topK(
        base,
        base.filter($"vec_id" % 25 === 0)
          .withColumn("_probes", Similarity.lshProbes($"_dots", nbits, flips)),
        "vec_id", "embedding", Fence.Probes("_bk", "_probes"), Scorer.Cosine, 10))

    val rSingle = single.intersect(brute).size.toDouble / brute.size
    val r2 = multi(2).intersect(brute).size.toDouble / brute.size
    val r8 = multi(8).intersect(brute).size.toDouble / brute.size
    info(f"recall@10 vs brute: single-probe=$rSingle%.3f  multiprobe(2 flips)=$r2%.3f  multiprobe(8 flips)=$r8%.3f")
    println(f"[SimilaritySpec] recall@10: single=$rSingle%.3f multi2=$r2%.3f multi8=$r8%.3f")
    // multi-probe must strictly recover neighbors single-probe loses
    assert(r2 > rSingle, f"2-flip multi-probe ($r2%.3f) should beat single-probe ($rSingle%.3f)")
    assert(r8 >= r2, f"8-flip recall ($r8%.3f) regressed below 2-flip ($r2%.3f)")
  }

  test("coarse quantizer: Lloyd refinement is deterministic and improves the objective") {
    // clustered corpus (same construction as the recall contract): 16
    // clusters x 32 members in 16 dims, seeds = 16 smallest ids (one per
    // cluster by construction order? no — ids interleave clusters, so the
    // seeds start BADLY: all 16 land in the first cluster's neighborhood,
    // which is exactly what refinement must fix)
    def r(s: String): Double = (graft.functions.Md5Hash60.hash(s.getBytes("UTF-8")) % 2001 - 1000) / 1000.0
    val cdim = 16
    val vecs = for {
      k <- 0 until 16
      m <- 0 until 32
    } yield {
      val id = (m * 16 + k).toLong // interleaved: first 16 ids = one member of each cluster
      val v = (0 until cdim).map(j => r(s"c_${k}_$j") + 0.08 * r(s"n_${k}_${m}_$j"))
      (id, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val seeded = Similarity.seedCentroids(corpus, "vec_id", "embedding", 16)
    val trained = Similarity.trainCentroids(corpus, "vec_id", "embedding", 16, iters = 3)
    val trainedAgain = Similarity.trainCentroids(corpus, "vec_id", "embedding", 16, iters = 3)
    // deterministic: bit-identical model across runs
    assert(trained === trainedAgain)
    val objSeeded = Similarity.quantizerObjective(corpus, "embedding", seeded)
    val objTrained = Similarity.quantizerObjective(corpus, "embedding", trained)
    info(f"quantizer objective: seeded=$objSeeded%.4f lloyd3=$objTrained%.4f")
    println(f"[SimilaritySpec] quantizer objective: seeded=$objSeeded%.4f lloyd3=$objTrained%.4f")
    assert(objTrained >= objSeeded, f"refinement regressed: $objTrained%.4f < $objSeeded%.4f")
    // assignment ties every vector to exactly one bucket in [0, 16)
    val bks = corpus
      .withColumn("_bk", Similarity.assignNearest($"embedding".cast("array<double>"), trained))
      .select($"_bk").as[Int].collect()
    assert(bks.forall(b => b >= 0 && b < 16))
    // the refined quantizer separates the clusters: members of the same
    // cluster should overwhelmingly share a bucket (purity over 16 true
    // clusters with interleaved bad seeds)
    val purity = corpus
      .withColumn("_bk", Similarity.assignNearest($"embedding".cast("array<double>"), trained))
      .withColumn("_true", pmod($"vec_id", lit(16)))
      .groupBy($"_true", $"_bk").count()
      .groupBy($"_true").agg(max($"count").as("m"))
      .agg(sum($"m")).as[Long].head().toDouble / 512
    info(f"cluster purity after refinement: $purity%.3f")
    assert(purity >= 0.8, f"purity $purity%.3f below 0.8 — quantizer not learning the clusters")
  }

  test("autoK: rows-per-bucket rule pins 16 at the oracle fixture, grows linearly beyond") {
    assert(Similarity.autoK(500) === 16) // sf0.01 embeddings — the oracle's LIMIT 16
    assert(Similarity.autoK(10) === 16) // floor
    assert(Similarity.autoK(2000) === 63) // sf0.1 bench
    assert(Similarity.autoK(20000) === 625) // sf1 probe
    // linear: 10x rows -> ~10x buckets -> constant per-bucket population
    assert(Similarity.autoK(20000) >= 9 * Similarity.autoK(2000))
  }

  test("bulk centroid path (k > 64): assignment matches a driver-side replay, top-P head = nearest") {
    // 70 centroids forces the single-literal HOF path; the driver-side
    // replay reimplements argmax-cosine with the same left-to-right float
    // accumulation, so assignments must agree exactly
    val k = 70
    val cents: Seq[Seq[Double]] = Similarity.seedCentroids(emb, "vec_id", "embedding", k)
    val assigned = emb
      .select($"vec_id",
        Similarity.assignNearest($"embedding".cast("array<double>"), cents).as("bk"),
        Similarity.assignTopP($"embedding".cast("array<double>"), cents, 3).as("bks"))
      .collect()
    val vecs = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    assert(assigned.length === 500)
    assigned.foreach { row =>
      val v = vecs(row.getLong(0))
      val cs = cents.map(c => cos(v, c))
      val expect = cs.indexOf(cs.max)
      assert(row.getInt(1) === expect, s"vec ${row.getLong(0)}: bulk argmax diverged")
      val bks = row.getSeq[Int](2)
      assert(bks.length === 3 && bks.head === expect, "top-P head must be the assignNearest winner")
      assert(bks.distinct.length === 3)
    }
  }

  test("IMI: cell fold matches per-half HOF codes; probe list leads with the assign cell") {
    val kSub = 4
    val cbs = Similarity.imiCodebooks(emb, "vec_id", "embedding", kSub)
    // model is √k-sized: 2 half-space codebooks of kSub codewords, dim/2 each
    assert(cbs.length === 2 && cbs.forall(_.length === kSub) &&
      cbs.forall(_.forall(_.length === dim / 2)))
    // spherical quantizer: every codeword is unit-norm (argmax dot against
    // unit codewords == per-half cosine argmax — the cell-balance fix)
    cbs.foreach(_.foreach { cw =>
      assert(math.abs(cw.map(x => x * x).sum - 1.0) < 1e-9, s"non-unit codeword")
    })
    // bit-parity: the native cell (fused PqEncode + fold) equals the HOF
    // per-half argmax codes folded the same way
    val rows = emb.select(
      Similarity.imiAssign($"embedding", cbs).as("cell"),
      Similarity.pqEncodeHof($"embedding", cbs).as("codes"))
      .as[(Int, Seq[Int])].collect()
    assert(rows.length === 500)
    rows.foreach { case (cell, codes) =>
      assert(codes.length === 2)
      assert(cell === codes(0) * kSub + codes(1))
      assert(cell >= 0 && cell < kSub * kSub)
    }
    // probe list (pSub=2): element 1 is the assign cell; 4 pairwise-distinct
    // cells; every probe substitutes at most one half's codeword rank
    val probed = emb
      .withColumn("_lut", graft.functions.ComputeOnce(
        graft.functions.Pq.lut($"embedding", cbs)))
      .withColumn("_t0", graft.functions.ComputeOnce(
        Similarity.imiTopCodes($"_lut", kSub, 2, 0)))
      .withColumn("_t1", graft.functions.ComputeOnce(
        Similarity.imiTopCodes($"_lut", kSub, 2, 1)))
      .select(
        Similarity.imiAssign($"embedding", cbs).as("cell"),
        Similarity.imiProbeCells($"_t0", $"_t1", kSub, 2).as("pr"))
      .as[(Int, Seq[Int])].collect()
    probed.foreach { case (cell, pr) =>
      // rank-sum cap at pSub=2: primary + the two single-substitution cells
      assert(pr.length === 3)
      assert(pr.head === cell, s"probe list must lead with the assign cell: $pr vs $cell")
      assert(pr.distinct.length === 3, s"duplicate probe cells: $pr")
      pr.foreach(c => assert(c >= 0 && c < kSub * kSub))
      // (rank-sum, rank0) order: probe 2 = (0,1) keeps half-0's winner,
      // probe 3 = (1,0) keeps half-1's winner
      assert(pr(1) / kSub === cell / kSub, "probe 2 must keep half-0's winner")
      assert(pr(2) % kSub === cell % kSub, "probe 3 must keep half-1's winner")
    }
  }

  test("IMI Lloyd training: deterministic, monotone on its sample objective, unit-norm, moves the seeds") {
    val kSub = 4
    val seeded = Similarity.imiCodebooks(emb, "vec_id", "embedding", kSub)
    val trained = Similarity.imiCodebooksTrained(
      emb, "vec_id", "embedding", kSub, iters = 2, sampleN = 256)
    // deterministic: bit-identical across calls; iters=0 IS the seeding
    assert(trained === Similarity.imiCodebooksTrained(
      emb, "vec_id", "embedding", kSub, iters = 2, sampleN = 256))
    assert(Similarity.imiCodebooksTrained(
      emb, "vec_id", "embedding", kSub, iters = 0, sampleN = 256) === seeded)
    // shape preserved; every codeword stays unit-norm (or zero-norm raw)
    assert(trained.length === 2 && trained.forall(_.length === kSub) &&
      trained.forall(_.forall(_.length === dim / 2)))
    trained.foreach(_.foreach { cw =>
      val n2 = cw.map(x => x * x).sum
      assert(n2 == 0.0 || math.abs(n2 - 1.0) < 1e-9, "trained codeword not unit-norm")
    })
    // refinement must actually move the codebooks off the id-ordered seeds
    assert(trained !== seeded, "Lloyd iterations were a no-op on the fixture")
    // spherical k-means monotonicity ON ITS TRAINING SAMPLE: the summed
    // best-codeword dot never decreases per iteration (assignment picks the
    // argmax; the normalized mean is the unit argmax of the summed dot)
    val sample = emb
      .select($"vec_id".cast("long").as("_id"), $"embedding".cast("array<double>").as("_v"))
      .orderBy(md5($"_id".cast("string")), $"_id")
      .limit(256)
      .as[(Long, Seq[Double])].collect()
    def objective(cbs: Seq[Seq[Seq[Double]]]): Double =
      sample.map { case (_, v) =>
        (0 until 2).map { mi =>
          val hv = v.slice(mi * (dim / 2), (mi + 1) * (dim / 2))
          cbs(mi).map(cw => hv.lazyZip(cw).map(_ * _).sum).max
        }.sum
      }.sum
    val objs = (0 to 2).map(i => objective(Similarity.imiCodebooksTrained(
      emb, "vec_id", "embedding", kSub, iters = i, sampleN = 256)))
    objs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"objective decreased across an iteration: $objs")
    }
    assert(objs.last > objs.head, s"two iterations produced zero objective gain: $objs")
    // assignment against trained codebooks still yields valid product cells
    val cells = emb.select(Similarity.imiAssign($"embedding", trained).as("c"))
      .as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < kSub * kSub))
  }

  test("IMI Lloyd training: distributed assignment arm is bit-identical to the driver loop") {
    // the kSub > DriverIterKSubCeiling production path, forced on at
    // fixture scale: executor-side argmax + per-cell ascending-id folds
    // must reproduce the driver loop EXACTLY (same IEEE operation
    // orders), or the oracle replay contract breaks the first time a
    // corpus crosses the ceiling. Two regimes: the oracle fixture kSub=4
    // and a kSub where cells can go member-less on the 256-row sample
    // (the empty-cell keep-previous arm).
    Seq((4, 256), (25, Similarity.imiTrainSampleN(25))).foreach { case (kSub, sampleN) =>
      val driver = Similarity.imiCodebooksTrained(
        emb, "vec_id", "embedding", kSub, iters = 2, sampleN = sampleN)
      val dist = Similarity.imiCodebooksTrained(
        emb, "vec_id", "embedding", kSub, iters = 2, sampleN = sampleN,
        distributedAssign = true)
      // === on nested Seq[Double] is element-wise double equality — for
      // bit-identity of finite doubles that is exactly the claim
      assert(dist === driver, s"distributed arm drifted at kSub=$kSub")
    }
  }

  test("IMI-pruned ADC + int8: pruned ranking ≡ independent replay of full scores ∩ probe-cell fence") {
    val kSub = 4
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0)
    val icbs = Similarity.imiCodebooksTrained(
      corpus, "vec_id", "embedding", kSub, iters = 2, sampleN = 256)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)
    val n = corpus.count().toInt

    // independent driver-side replay of the probe-cell candidate fence:
    // per-half argmax dot (strict > scan keeps the lowest index — the
    // pqEncode tie contract), top-2 codewords per half, rank-sum-capped
    // pairs (r0 + r1 < 2) — primary + both single-substitution cells
    val vecs = corpus.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def top2(hv: Seq[Double], cws: Seq[Seq[Double]]): Seq[Int] = {
      val dots = cws.map(cw => hv.lazyZip(cw).map(_ * _).sum)
      val first = dots.indices.maxBy(j => (dots(j), -j))
      val second = dots.indices.filter(_ != first).maxBy(j => (dots(j), -j))
      Seq(first, second)
    }
    def halves(v: Seq[Double]): Seq[Seq[Double]] =
      Seq(v.slice(0, dim / 2), v.slice(dim / 2, dim))
    val cellOf: Map[Long, Int] = vecs.map { case (id, v) =>
      val Seq(h0, h1) = halves(v)
      id -> (top2(h0, icbs(0)).head * kSub + top2(h1, icbs(1)).head)
    }
    val probesOf: Map[Long, Set[Int]] = vecs.map { case (id, v) =>
      val Seq(h0, h1) = halves(v)
      val (t0, t1) = (top2(h0, icbs(0)), top2(h1, icbs(1)))
      // rank pairs (0,0), (0,1), (1,0)
      id -> Set(t0(0) * kSub + t1(0), t0(0) * kSub + t1(1), t0(1) * kSub + t1(0))
    }
    // the deepest fence, pSub = kSub: every rank pair with r0 + r1 < kSub
    // over the full per-half codeword order (ties → lowest index) —
    // kSub(kSub+1)/2 of the kSub² cells, so full depth is not "no fence"
    def ranked(hv: Seq[Double], cws: Seq[Seq[Double]]): Seq[Int] = {
      val dots = cws.map(cw => hv.lazyZip(cw).map(_ * _).sum)
      dots.indices.sortBy(j => (-dots(j), j))
    }
    val deepProbesOf: Map[Long, Set[Int]] = vecs.map { case (id, v) =>
      val Seq(h0, h1) = halves(v)
      val (r0, r1) = (ranked(h0, icbs(0)), ranked(h1, icbs(1)))
      id -> (for (a <- 0 until kSub; b <- 0 until kSub if a + b < kSub) yield r0(a) * kSub + r1(b)).toSet
    }

    // ADC face: the proven unpruned ADC face at k=n yields the FULL exact
    // ranking (its rank column orders by the exact doubles, not the floored
    // _e6) — fence it to the replayed probe cells and re-rank in the
    // driver; the composed operator must match exactly
    val fullPq = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Adc(cbs), n)
      .select("q_id", "n_id", "rank", "score_e6").as[(Long, Long, Int, Long)].collect()
    val qIds = queries.select("vec_id").as[Long].collect().toSet
    def expected(
        full: Seq[(Long, Long, Int, Long)],
        probes: Map[Long, Set[Int]] = probesOf): Set[(Long, Long, Int, Long)] =
      full.groupBy(_._1).flatMap { case (q, rows) =>
        rows.filter { case (_, nid, _, _) => probes(q).contains(cellOf(nid)) }
          .sortBy(_._3)
          .take(10).zipWithIndex
          .map { case ((_, nid, _, s), i) => (q, nid, i + 1, s) }
      }.toSet
    val gotPq = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = 2), Scorer.Adc(cbs), k = 10)
      .select("q_id", "n_id", "rank", "score_e6")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(gotPq === expected(fullPq),
      "IMI-pruned ADC must equal the full ADC ranking fenced to the replayed probe cells")
    assert(gotPq.nonEmpty && qIds.forall(q => gotPq.exists(_._1 == q)),
      "every query must surface candidates through its probe cells")

    // int8 face: same fence, exact ranking from the unpruned int8 face
    val fullI8 = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Int8, n)
      .select("q_id", "n_id", "rank", "approx_e6").as[(Long, Long, Int, Long)].collect()
    val gotI8 = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = 2), Scorer.Int8, k = 10)
      .select("q_id", "n_id", "rank", "approx_e6")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(gotI8 === expected(fullI8),
      "IMI-pruned int8 must equal the full int8 ranking fenced to the replayed probe cells")

    // pSub=1 takes the scalar-cell branch (no explode) in BOTH faces —
    // same replay with the single primary cell as the fence
    def expected1(full: Seq[(Long, Long, Int, Long)]): Set[(Long, Long, Int, Long)] =
      full.groupBy(_._1).flatMap { case (qid, rows) =>
        rows.filter { case (_, nid, _, _) => cellOf(nid) == cellOf(qid) }
          .sortBy(_._3)
          .take(10).zipWithIndex
          .map { case ((_, nid, _, s), i) => (qid, nid, i + 1, s) }
      }.toSet
    val gotPq1 = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs), Scorer.Adc(cbs), k = 10)
      .select("q_id", "n_id", "rank", "score_e6")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(gotPq1 === expected1(fullPq),
      "pSub=1 ADC must equal the full ranking fenced to the single replayed cell")
    val gotI81 = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs), Scorer.Int8, k = 10)
      .select("q_id", "n_id", "rank", "approx_e6")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(gotI81 === expected1(fullI8),
      "pSub=1 int8 must equal the full ranking fenced to the single replayed cell")

    // full depth, pSub = kSub: the fence still changes only WHICH pairs are
    // scored — both scorers equal their unfenced ranking restricted to the
    // replayed deepest probe set
    Seq((Scorer.Adc(cbs), "score_e6", fullPq), (Scorer.Int8, "approx_e6", fullI8)).foreach {
      case (scorer, scoreCol, full) =>
        val deep = Similarity.topK(
          corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = kSub), scorer, k = 10)
          .select("q_id", "n_id", "rank", scoreCol)
          .as[(Long, Long, Int, Long)].collect().toSet
        assert(deep === expected(full, deepProbesOf),
          s"pSub=kSub $scorer must equal the full ranking fenced to the deepest replayed probe set")
    }
    // residual ADC has no unfenced face (it codes against the cells): its
    // deepest fence must score exactly the replayed candidates, with the
    // SAME score as the pSub=2 fence on every pair both score
    val rcbs = Similarity.pqCodebooks(
      corpus.select($"vec_id", Similarity.imiResidual($"embedding", icbs).as("_rv")),
      "vec_id", "_rv", m = 8, k = 16)
    def residualScores(pSub: Int): Map[(Long, Long), Long] = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub), Scorer.ResidualAdc(rcbs), k = n)
      .select("q_id", "n_id", "score_e6").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val (shallowR, deepR) = (residualScores(2), residualScores(kSub))
    assert(deepR.keySet === qIds.flatMap(q =>
      vecs.keySet.filter(nid => nid != q && deepProbesOf(q).contains(cellOf(nid))).map(q -> _)),
      "pSub=kSub residual face must score exactly the replayed deepest-fence candidates")
    assert(shallowR.nonEmpty && shallowR.forall { case (pair, sc) => deepR.get(pair).contains(sc) },
      "residual scores must not depend on the fence depth")

    // 100 TB plan shape: the query side (probes + LUT) BROADCASTS into the
    // fence join — the corpus side is one scan, never a shuffle-side of a
    // sort-merge join
    val composedPlan = Similarity.topK(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = 2), Scorer.Adc(cbs), k = 10)
      .queryExecution.executedPlan.toString
    assert(composedPlan.contains("BroadcastHashJoin"), composedPlan.take(2000))
    assert(!composedPlan.contains("SortMergeJoin"), composedPlan.take(2000))

    // the prune's measured cost at fixture scale: recall vs the unpruned
    // top-10, printed (the operating-point recall story lives in the
    // ScaleMechanicsSpec agreement gate / SCALE.md)
    val fullTop = fullPq.filter(_._3 <= 10).map(r => (r._1, r._2)).toSet
    val recall = gotPq.map(r => (r._1, r._2)).intersect(fullTop).size.toDouble / fullTop.size
    println(f"[SimilaritySpec] IMI-pruned ADC: recall@10 vs unpruned=$recall%.3f")
    assert(recall > 0.0, "pruned face returned nothing — cell fence degenerated")
  }

  test("IVFADC+R rerank ≡ exact-cosine ranking of the ADC shortlist; R=n degenerates to the fence's exact ranking") {
    val kSub = 4
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0)
    val icbs = Similarity.imiCodebooksTrained(
      corpus, "vec_id", "embedding", kSub, iters = 2, sampleN = 256)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)
    val n = corpus.count().toInt

    // exact ranking over the whole corpus (rank column = exact-double
    // cosine order, like the unpruned ADC ranks above)
    val brute = Similarity.topK(corpus, queries, "vec_id", "embedding", Fence.All, Scorer.Cosine, n)
      .select("q_id", "n_id", "rank", "cos_e6").as[(Long, Long, Int, Long)].collect()

    // the rerank contract: final rows == exact-cosine ranking RESTRICTED
    // to the ADC shortlist (whatever the shortlist recalled)
    def expectedOn(shortSets: Map[Long, Set[Long]]): Set[(Long, Long, Int, Long)] =
      brute.toIndexedSeq.groupBy(_._1).flatMap { case (q, rows) =>
        rows.filter { case (_, nid, _, _) => shortSets.getOrElse(q, Set.empty).contains(nid) }
          .sortBy(_._3)
          .take(10).zipWithIndex
          .map { case ((_, nid, _, c), i) => (q, nid, i + 1, c) }
      }.toSet

    val (fence2, adc) = (Fence.Imi(icbs, pSub = 2), Scorer.Adc(cbs))
    Seq(30, n).foreach { r =>
      val shortSets = Similarity.topK(corpus, queries, "vec_id", "embedding", fence2, adc, k = r)
        .select("q_id", "n_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val got = Similarity.rerank(
        corpus, queries, "vec_id", "embedding", fence2, adc, k = 10, rerankR = r)
        .select("q_id", "n_id", "rank", "cos_e6")
        .as[(Long, Long, Int, Long)].collect().toSet
      assert(got === expectedOn(shortSets),
        s"rerank at R=$r must equal the exact-cosine ranking of its ADC shortlist")
    }

    // the lever, measured at fixture scale: rerank recall vs the ADC-only
    // composed face against the exact top-10
    val bruteTop = brute.filter(_._3 <= 10).map(x => (x._1, x._2)).toSet
    val adcPairs = Similarity.topK(corpus, queries, "vec_id", "embedding", fence2, adc, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val rrPairs = Similarity.rerank(
      corpus, queries, "vec_id", "embedding", fence2, adc, k = 10, rerankR = 30)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val adcRecall = adcPairs.intersect(bruteTop).size.toDouble / bruteTop.size
    val rrRecall = rrPairs.intersect(bruteTop).size.toDouble / bruteTop.size
    println(f"[SimilaritySpec] IVFADC+R: recall@10 ADC-only=$adcRecall%.3f rerank(R=30)=$rrRecall%.3f")
    assert(rrRecall >= adcRecall,
      "exact re-ranking of a superset shortlist cannot lose to the ADC-only top-10")

    // 100 TB plan shape: the shortlist and the query vectors BROADCAST
    // back against the full-vector corpus scan — refinement adds no
    // corpus-sized shuffle
    val plan = Similarity.rerank(
      corpus, queries, "vec_id", "embedding", fence2, adc, k = 10, rerankR = 30)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("fence-cost estimator == realized fence-join candidate count, to the row") {
    val kSub = 4
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0)
    val icbs = Similarity.imiCodebooksTrained(
      corpus, "vec_id", "embedding", kSub, iters = 2, sampleN = 256)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)
    val n = corpus.count().toInt
    val qIds = queries.select("vec_id").as[Long].collect().toSet

    // realized: the composed face at k = n keeps EVERY fence survivor, so
    // its per-query row count IS the join's candidate volume
    Seq(1, 2).foreach { p =>
      val realized = Similarity.topK(
        corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = p), Scorer.Adc(cbs), k = n)
        .groupBy("q_id").count()
        .as[(Long, Long)].collect().toMap
      val est = Similarity.imiFenceCandidateCounts(
        corpus, queries, "vec_id", "embedding", icbs, pSub = p)
        .as[(Long, Long)].collect().toMap
      assert(est.keySet === qIds,
        s"pSub=$p: the estimator must price every query, including zero-candidate ones")
      qIds.foreach { q =>
        assert(est(q) === realized.getOrElse(q, 0L),
          s"pSub=$p q=$q: estimated ${est(q)} != realized ${realized.getOrElse(q, 0L)}")
      }
    }

    // 100 TB plan shape: the kSub²-row histogram broadcasts into the probe
    // lookup — no corpus-sized shuffle, no sort-merge join
    val plan = Similarity.imiFenceCandidateCounts(
      corpus, queries, "vec_id", "embedding", icbs, pSub = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))

    // the curve variant prices every depth from ONE corpus pass — each
    // (p_sub, q_id) slice must be row-identical to the single-pSub call
    val curve = Similarity.imiFenceCandidateCurve(
      corpus, queries, "vec_id", "embedding", icbs, pSubs = Seq(1, 2, 3))
      .as[(Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toMap).toMap
    assert(curve.keySet === Set(1, 2, 3))
    Seq(1, 2, 3).foreach { p =>
      val single = Similarity.imiFenceCandidateCounts(
        corpus, queries, "vec_id", "embedding", icbs, pSub = p)
        .as[(Long, Long)].collect().toMap
      assert(curve(p) === single, s"curve slice pSub=$p must match the single call")
    }
    // deeper probing never prices fewer candidates (probe sets nest)
    qIds.foreach { q =>
      assert(curve(1)(q) <= curve(2)(q) && curve(2)(q) <= curve(3)(q),
        s"q=$q: candidate volume must be monotone in pSub")
    }
  }

  test("fence-cost curve past the argmax branch: a pSub > 4 sweep slices row-identical to the single calls") {
    // pMax = 5 takes topPFromCosines' full-sort branch for the ONE top-code
    // pass the curve slices every depth from; the single calls take the
    // imiAssign (p = 1), argmax (p = 2) and sort (p = 5) arms — equal
    // slices mean the sort order's prefixes match the argmax picks
    val kSub = 6
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0)
    val icbs = Similarity.imiCodebooksTrained(
      corpus, "vec_id", "embedding", kSub, iters = 2, sampleN = 256)
    val pSubs = Seq(1, 2, 5)
    val curve = Similarity.imiFenceCandidateCurve(
      corpus, queries, "vec_id", "embedding", icbs, pSubs)
      .as[(Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toMap).toMap
    assert(curve.keySet === pSubs.toSet)
    pSubs.foreach { p =>
      val single = Similarity.imiFenceCandidateCounts(
        corpus, queries, "vec_id", "embedding", icbs, pSub = p)
        .as[(Long, Long)].collect().toMap
      assert(curve(p) === single, s"curve slice pSub=$p must match the single call")
    }
  }

  test("broadcast flood guards: rerank and fence estimator fail loudly above maxBroadcastRows") {
    // the under-cap arm is the two tests above: default cap, plan-pinned
    // BroadcastHashJoin, hash-green oracle faces. This arm pins the
    // over-cap contract: a LOUD construction-time failure naming the
    // sizes (the maxBucketRows/maxCellRows stance), never a driver OOM
    // mid-job.
    val kSub = 4
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0) // 8 queries
    val icbs = Similarity.imiCodebooksTrained(
      corpus, "vec_id", "embedding", kSub, iters = 1, sampleN = 64)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)

    val eRr = intercept[IllegalStateException] {
      Similarity.rerank(
        corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = 2), Scorer.Adc(cbs),
        k = 10, rerankR = 30, maxBroadcastRows = 100L) // 8·30 = 240 > 100
    }
    assert(eRr.getMessage.contains("broadcast flood") &&
      eRr.getMessage.contains("maxBroadcastRows=100") &&
      eRr.getMessage.contains("240"), eRr.getMessage)

    val eCnt = intercept[IllegalStateException] {
      Similarity.imiFenceCandidateCounts(
        corpus, queries, "vec_id", "embedding", icbs, pSub = 2, maxBroadcastRows = 10L) // 8·3 = 24 > 10
    }
    assert(eCnt.getMessage.contains("broadcast flood") &&
      eCnt.getMessage.contains("24"), eCnt.getMessage)

    val eCur = intercept[IllegalStateException] {
      Similarity.imiFenceCandidateCurve(
        corpus, queries, "vec_id", "embedding", icbs, pSubs = Seq(1, 2), maxBroadcastRows = 20L) // 8·(1+3) = 32 > 20
    }
    assert(eCur.getMessage.contains("broadcast flood") &&
      eCur.getMessage.contains("32"), eCur.getMessage)

    // a cap exactly at the bound passes (the guard is strictly-above)
    val ok = Similarity.imiFenceCandidateCounts(
      corpus, queries, "vec_id", "embedding", icbs, pSub = 2, maxBroadcastRows = 24L)
    assert(ok.count() === 8L)
  }

  test("fence planner: deepest affordable pSub chosen; auto face == manual face at that depth") {
    val kSub = 4
    val corpus = emb.limit(200)
    val queries = corpus.filter($"vec_id" % 25 === 0)
    val icbs = Similarity.imiCodebooksTrained(
      corpus, "vec_id", "embedding", kSub, iters = 2, sampleN = 256)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)
    val pSubs = Seq(1, 2, 3)
    val nQ = queries.count()

    // ground truth: per-pSub totals from the (spec-proven) curve
    val totals = Similarity.imiFenceCandidateCurve(
      corpus, queries, "vec_id", "embedding", icbs, pSubs)
      .groupBy("p_sub").agg(org.apache.spark.sql.functions.sum("n_cand").as("t"))
      .as[(Int, Long)].collect().toMap
    assert(totals(1) < totals(3), "fixture must separate the swept depths")

    def planFor(budget: Long): Map[Int, (Long, Long, Boolean, Boolean)] =
      Similarity.imiProbePlan(
        corpus, queries, "vec_id", "embedding", icbs, pSubs, maxCandPerQuery = budget)
        .as[(Int, Long, Long, Boolean, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

    // three budget regimes: everything fits -> deepest; mid -> the deepest
    // fitting depth; nothing fits -> loud min-pSub fallback, all fits=false
    val perQ = pSubs.map(p => p -> ((totals(p) + nQ - 1) / nQ)).toMap // ceil
    val all = planFor(perQ(3) + 1)
    assert(pSubs.forall(p => all(p)._3) && all(3)._4 && !all(1)._4 && !all(2)._4,
      s"huge budget must choose the deepest fence: $all")
    val mid = planFor(perQ(2))
    if (totals(3) > perQ(2) * nQ) { // pSub=3 genuinely over the mid budget
      assert(mid(2)._4 && !mid(3)._3, s"mid budget must stop at pSub=2: $mid")
    }
    val none = planFor(1L)
    if (pSubs.forall(p => totals(p) > nQ)) {
      assert(pSubs.forall(p => !none(p)._3) && none(1)._4,
        s"unsatisfiable budget must fall back loudly to the smallest fence: $none")
    }
    // invariant columns: n_queries is the query-batch size at every depth,
    // totals match the curve, exactly one chosen row
    pSubs.foreach { p =>
      assert(all(p)._1 === nQ && all(p)._2 === totals(p), s"pSub=$p: ${all(p)}")
    }
    assert(Seq(all, mid, none).forall(_.values.count(_._4) === 1))

    // the auto face is the plan made load-bearing: identical rows to the
    // manually-parameterized rerank at the plan's chosen depth
    val budget = perQ(2) // chooses pSub=2 on this fixture (totals(3) > budget·nQ)
    val chosen = Similarity.imiProbePlan(
      corpus, queries, "vec_id", "embedding", icbs, pSubs, budget)
      .filter($"chosen").as[(Int, Long, Long, Boolean, Boolean)].collect()
    assert(chosen.length === 1)
    // the auto face: a fresh plan's chosen depth, then rerank
    val autoDepth = Similarity.imiProbePlan(
      corpus, queries, "vec_id", "embedding", icbs, pSubs, maxCandPerQuery = budget)
      .filter($"chosen").select($"p_sub").as[Int].head()
    val auto = Similarity.rerank(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = autoDepth), Scorer.Adc(cbs),
      k = 10, rerankR = 30)
      .as[(Long, Long, Int, Long)].collect().toSet
    val manual = Similarity.rerank(
      corpus, queries, "vec_id", "embedding", Fence.Imi(icbs, pSub = chosen.head._1), Scorer.Adc(cbs),
      k = 10, rerankR = 30)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(auto === manual, "auto face must equal the manual face at the chosen depth")
  }

  test("ModelStore: centroids and codebooks round-trip IEEE-exact; reloaded model reproduces ANN results") {
    import graft.data.{ModelStore, Similarity}
    val base = tmpDir("modelstore").toString
    val e = graft.core.Tables.embeddings(spark, sf)
    val cents = Similarity.seedCentroids(e, "vec_id", "embedding", k = 8)
    ModelStore.saveCentroids(spark, s"$base/cents", cents)
    val centsBack = ModelStore.loadCentroids(spark, s"$base/cents")
    // exact doubles, exact order — == on nested Seq[Double] is bitwise here
    // (no NaNs in trained centroids)
    assert(centsBack === cents)
    val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding", m = 4, k = 16)
    ModelStore.saveCodebooks(spark, s"$base/cbs", cbs)
    val cbsBack = ModelStore.loadCodebooks(spark, s"$base/cbs")
    assert(cbsBack === cbs)
    // the point of persistence: a reader JVM's model reproduces the writer's
    // scores row-for-row
    val queries = e.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0)
    val trained = Similarity.topK(e, queries, "vec_id", "embedding", Fence.All, Scorer.Adc(cbs), k = 5)
      .collect().map(_.toString).sorted
    val reloaded = Similarity.topK(e, queries, "vec_id", "embedding", Fence.All, Scorer.Adc(cbsBack), k = 5)
      .collect().map(_.toString).sorted
    assert(reloaded === trained)
  }

  test("ModelStore: orTrain trains once then loads; a torn destination is replaced, not left blocking") {
    import graft.data.{ModelStore, Similarity}
    val base = tmpDir("modelstore_ot").toString
    val e = graft.core.Tables.embeddings(spark, sf)
    var trainings = 0
    def train() = { trainings += 1; Similarity.seedCentroids(e, "vec_id", "embedding", k = 4) }
    val first = ModelStore.centroidsOrTrain(spark, s"$base/c")(train())
    val second = ModelStore.centroidsOrTrain(spark, s"$base/c")(train())
    assert(trainings === 1, "second call must load, not retrain")
    assert(second === first)
    // torn destination (dir exists, no _SUCCESS — crash before commit):
    // the next orTrain must retrain and REPLACE it; leaving it in place
    // would block the rename forever and silently retrain on every run
    val torn = new java.io.File(s"$base/torn")
    torn.mkdirs()
    java.nio.file.Files.write(new java.io.File(torn, "part-junk.parquet").toPath, Array[Byte](1))
    val healed = ModelStore.centroidsOrTrain(spark, s"$base/torn")(train())
    assert(trainings === 2)
    assert(new java.io.File(torn, "_SUCCESS").exists(), "torn dst not replaced by a committed model")
    assert(ModelStore.centroidsOrTrain(spark, s"$base/torn")(train()) === healed)
    assert(trainings === 2, "healed model must load without retraining")
    // byte models: same contract
    val bytes = ModelStore.bytesOrTrain(s"$base/b")(Array[Byte](1, 2, 3))
    assert(ModelStore.bytesOrTrain(s"$base/b")(sys.error("must not retrain")) === bytes)
  }

  test("ModelStore.rootFor: distinct corpus dirs never share a model root") {
    import graft.data.ModelStore
    // hashCode-colliding strings were the r9 hazard ("Aa"/"BB" is the
    // canonical 32-bit collision pair); md5-of-path keeps them apart
    val dirs = Seq("/data/Aa", "/data/BB", "/data/corpus",
      "/other/corpus", "/data/corpus-v2", " weird/..")
    val roots = dirs.map(ModelStore.rootFor)
    assert(roots.distinct.length === dirs.length, s"collision in $roots")
    // stable across calls (it keys an on-disk cache)
    assert(dirs.map(ModelStore.rootFor) === roots)
    // ...while SPELLINGS of one dir share a root: trailing separator,
    // dot segment, and a redundant up-reference all normalize away (ADVICE
    // r10 — a job spelling the same corpus differently must not silently
    // retrain and version-skew bucket assignments)
    assert(ModelStore.rootFor("/data/corpus/") === ModelStore.rootFor("/data/corpus"))
    assert(ModelStore.rootFor("/data/./corpus") === ModelStore.rootFor("/data/corpus"))
    assert(ModelStore.rootFor("/data/x/../corpus") === ModelStore.rootFor("/data/corpus"))
    // and filesystem-safe: single path segment under /tmp
    roots.foreach { r =>
      assert(r.startsWith("/tmp/graft-models-"))
      assert(!r.drop("/tmp/".length).contains("/"), s"unsanitized separator in $r")
    }
  }

  test("ModelStore.evictStale: stale stamps go, live stamps and in-flight writes stay") {
    import graft.data.ModelStore
    val corpus = tmpDir("evict-corpus").toString
    val root = new java.io.File(ModelStore.rootFor(corpus))
    root.mkdirs()
    val names = Seq(
      "centroids-k16-livestamp1", // live (quantizer family)
      "bloom-n3-livestamp2", // live (documents family)
      "centroids-k16-oldstamp", // stale → evicted
      "bloom-n3-oldstamp", // stale → evicted
      "centroids-k16-livestamp1.stage-9999", // in-flight parquet stage → kept
      ".model123.tmp") // in-flight saveBytes temp → kept
    names.foreach(n => java.nio.file.Files.write(
      new java.io.File(root, n).toPath, Array[Byte](1)))
    val removed = ModelStore.evictStale(corpus, Set("livestamp1", "livestamp2"))
    assert(removed === 2)
    val left = root.listFiles().map(_.getName).toSet
    assert(left === Set(
      "centroids-k16-livestamp1", "bloom-n3-livestamp2",
      "centroids-k16-livestamp1.stage-9999", ".model123.tmp"))
  }
}
