package graft

import org.apache.spark.sql.functions._
import graft.data._

class DataOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup groups identical texts, keep_id = min id") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text")
    val got = out.select("doc_id", "keep_id", "n_copies").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("exactDedupPrioritized: source rank beats id order; ties fall back to min id; default rank applies") {
    val df = Seq(
      (1L, "a b c", "crawl"),   // lowest id but lowest-priority source
      (2L, "a b c", "wiki"),    // the curated copy must win
      (3L, "a b c", "crawl"),
      (4L, "x y z", "crawl"),   // same-priority group: min id wins
      (5L, "x y z", "crawl"),
      (6L, "p q r", "unlisted") // unlisted source takes defaultPriority
    ).toDF("doc_id", "text", "source")
    val out = Dedup.exactDedupPrioritized(
      df, "doc_id", "text", "source", priority = Map("wiki" -> 10, "crawl" -> 1),
      defaultPriority = 0)
    val got = out.select("doc_id", "keep_id", "n_copies").as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 2L, 3L), (2L, 2L, 3L), (3L, 2L, 3L), // wiki copy kept despite id 1 < 2
      (4L, 4L, 2L), (5L, 4L, 2L),               // equal priority -> min id
      (6L, 6L, 1L)))
  }

  test("shingles: distinct word 3-grams, short docs collapse to one shingle") {
    val df = Seq(Tuple1("a b c d"), Tuple1("a b")).toDF("text")
    val got = df.select(Dedup.shingles(TextAnalysis.tokens($"text"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq("a b"))
  }

  test("jaccardPairs finds near-identical docs, not dissimilar ones") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("minhashPairs recovers the high-jaccard pair via banded LSH") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today and more padding words"),
      (2L, "the quick brown fox jumps over the lazy dog today and more padding word"),
      (3L, "completely different text with other tokens that share nothing at all")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("minhashPairsForClustering: components identical to the full pair list under a duplicate flood") {
    val a = "the quick brown fox jumps over the lazy dog today and more padding words here"
    val aNear = "the quick brown fox jumps over the lazy dog today and more padding words there"
    val b = "completely different text with many other tokens that share nothing at all ever"
    // duplicate flood: text `a` ×4 (one group), its near-dup ×3 (second
    // group, crosses groups via jaccard), `b` ×2 (separate component),
    // a singleton, and two empty docs (which DO pair: ShingleHash60 emits
    // one partial shingle at any token count, so identical empties are
    // jaccard-1 — the full pipeline clusters them and so must the
    // collapsed one)
    val docs = (Seq.fill(4)(a).zipWithIndex.map { case (t, i) => (1L + i, t) } ++
      Seq.fill(3)(aNear).zipWithIndex.map { case (t, i) => (10L + i, t) } ++
      Seq.fill(2)(b).zipWithIndex.map { case (t, i) => (20L + i, t) } ++
      Seq((30L, "isolated singleton document with its own vocabulary")) ++
      Seq((40L, ""), (41L, "")) ++
      // NULL texts: never pair in the full pipeline, so the collapse must
      // not invent a jaccard-1 group for them
      Seq((50L, null.asInstanceOf[String]), (51L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    def clusters(pairs: org.apache.spark.sql.DataFrame) = Dedup
      .duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    val full = clusters(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
    val collapsed = clusters(
      Dedup.minhashPairsForClustering(docs, "doc_id", "text", threshold = 0.5))
    assert(full === collapsed)
    // sanity on the geometry itself: a-group + near-group form ONE
    // component keyed by the min id; b-group and the empty-doc group each
    // their own; the singleton absent
    assert(collapsed.view.filterKeys(k => k <= 12).values.toSet === Set(1L))
    assert(collapsed(20L) === 20L && collapsed(21L) === 20L)
    assert(collapsed(40L) === 40L && collapsed(41L) === 40L)
    assert(!collapsed.contains(30L) && !collapsed.contains(50L) && !collapsed.contains(51L))
    // and the collapsed pair list is the smaller one (stars, not cliques)
    val nFull = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5).count()
    val nCollapsed = Dedup
      .minhashPairsForClustering(docs, "doc_id", "text", threshold = 0.5).count()
    assert(nCollapsed < nFull, s"collapse did not shrink the edge list: $nCollapsed vs $nFull")
  }

  test("duplicateClustersAlternating == min-label on varied graphs; diameter-independent where min-label fails loudly") {
    def pairsDf(es: Seq[(Long, Long)]) = es.toDF("i", "j")
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            es: Seq[(Long, Long)]) =
      f(pairsDf(es)).as[(Long, Long)].collect().toMap

    // seeded random graph: equality with the min-label face across 3 draws
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val es = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      val byAlt = run(Dedup.duplicateClustersAlternating(_), es)
      val byMin = run(Dedup.duplicateClusters(_), es)
      assert(byAlt === byMin)
    }

    // crafted shapes: star, two components, reversed/duplicated edges
    val shapes = run(
      Dedup.duplicateClustersAlternating(_),
      Seq((5L, 1L), (1L, 9L), (9L, 5L), (5L, 1L), (20L, 21L)))
    assert(shapes === Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 20L -> 20L, 21L -> 20L))

    // a 100-node chain (diameter 99): the alternating face labels it in
    // O(log^2 n) rounds; min-label would need 99 one-hop rounds (and its
    // iterative plan collapses the driver well before that — scaladoc)
    val chain = (0L until 99L).map(i => (i, i + 1))
    val alt = run(Dedup.duplicateClustersAlternating(_), chain)
    assert(alt.size === 100 && alt.values.toSet === Set(0L),
      "chain must collapse to one component labeled by its min id")

    // a 10-node chain with maxIter below its diameter: min-label must now
    // FAIL LOUDLY instead of silently splitting the component (the pre-r15
    // behavior — wrong labels, no signal); with the bound past the
    // diameter it agrees with the alternating face. maxIter=12 also
    // exercises the every-4-rounds lineage re-truncation branch the
    // fixture-scale consumers never reach (pre-fix, ~10 un-truncated
    // rounds OOM'd the driver building explain strings — measured).
    val chainSmall = (200L until 209L).map(i => (i, i + 1))
    val err = intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairsDf(chainSmall), maxIter = 6).count()
    }
    assert(err.getMessage.contains("did not converge"), err.getMessage)
    val byMinRaised = run(Dedup.duplicateClusters(_, maxIter = 12), chainSmall)
    assert(byMinRaised === run(Dedup.duplicateClustersAlternating(_), chainSmall))
  }

  test("minhashPairs flood guard: oversized band bucket fails loudly; clustering face sails through") {
    // a verbatim flood: 120 copies of one text — every copy lands in the
    // same bucket of every band, so the pair face's candidate join (and
    // its OUTPUT) would be duplicity²-quadratic
    val flood = (1 to 120).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog with padding tokens"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      Dedup.minhashPairs(flood, "doc_id", "text", threshold = 0.5, maxBucketRows = 100).count()
    }
    assert(ex.getMessage.contains("duplicate flood") &&
      ex.getMessage.contains("minhashPairsForClustering"),
      s"guard message must name the problem and the remediation: ${ex.getMessage}")
    // the documented remediation works on the SAME corpus: collapse+star
    // keeps candidate work at distinct-text grain and emits linear edges
    val stars = Dedup.minhashPairsForClustering(
      flood, "doc_id", "text", threshold = 0.5)
    assert(stars.count() === 119, "one rep + 119 star edges expected")
    // an explicitly raised cap is honored — the quadratic is then intended
    val full = Dedup.minhashPairs(
      flood, "doc_id", "text", threshold = 0.5, maxBucketRows = 1000)
    assert(full.count() === 120L * 119 / 2)
  }

  test("minhashPairs: a NULL-text flood neither trips the guard nor enters banding") {
    // NULL-text docs carry NULL signatures, and concat_ws would collapse
    // their bucket to "" in every band — a shared quadratic bucket of rows
    // that can never verify (null jaccard is filtered) yet used to trip
    // the flood guard first on NULL-heavy crawl feeds. They are excluded
    // from banding, so the guard stays quiet and the pair list matches the
    // non-null corpus exactly; the clustering face gives each NULL doc a
    // singleton group (no star edges) on the same corpus.
    val rows = (1 to 50).map(i => (i.toLong, Option.empty[String])) ++ Seq(
      (101L, Some("the quick brown fox jumps over the lazy dog tonight")),
      (102L, Some("the quick brown fox jumps over the lazy dog tonight")))
    val df = rows.toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(
      df, "doc_id", "text", threshold = 0.5, maxBucketRows = 10)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(pairs === Set((101L, 102L)),
      s"NULL docs must not pair or abort the scan, got $pairs")
    val clusterEdges = Dedup.minhashPairsForClustering(
      df, "doc_id", "text", threshold = 0.5, maxBucketRows = 10)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(clusterEdges === Set((101L, 102L)),
      s"clustering face must treat NULL docs as singletons, got $clusterEdges")
  }

  test("exactSubstringSpans: cross-doc run >= k spans exactly; first occurrence clean; short docs contribute nothing") {
    // doc 1 owns the canonical copy of the 4-token run "r1 r2 r3 r4";
    // doc 2 embeds it at token positions 2..5; doc 3 is shorter than k
    val df = Seq(
      (1L, "r1 r2 r3 r4 tail1 tail2"),
      (2L, "x1 x2 r1 r2 r3 r4 y1 y2"),
      (3L, "a b c")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    // only doc 2's single window at pos=2 duplicates doc 1's pos=0 window
    assert(got === Set((2L, 2L, 6L, 1L)))
  }

  test("exactSubstringSpans: overlapping and exactly-adjacent duplicated windows merge into one maximal span") {
    // doc 2 repeats doc 1's FULL 8-token text: windows at pos 0..4 (k=4)
    // are all duplicated and overlap -> one span [0, 8)
    // doc 3 carries two copies of the run back to back: only pos 0 and
    // pos 4 duplicate (the bridging s4->s1 windows are unique to doc 3),
    // and their EXACT k-gap adjacency still merges -> one span [0, 8)
    val df = Seq(
      (1L, "s1 s2 s3 s4 s5 s6 s7 s8"),
      (2L, "s1 s2 s3 s4 s5 s6 s7 s8"),
      (3L, "s1 s2 s3 s4 s1 s2 s3 s4")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 0L, 8L, 5L), (3L, 0L, 8L, 2L)))
  }

  test("exactSubstringSpans: within-doc periodic self-repeat keeps the first period") {
    // "p1 p2 p1 p2 p1 p2": k=2 windows at pos 0,2 hash alike ("p1 p2"),
    // pos 1,3 hash alike ("p2 p1"); first occurrences (pos 0, pos 1) stay
    // clean, duplicated starts 2,3,4 merge -> span [2, 6)
    val df = Seq((7L, "p1 p2 p1 p2 p1 p2")).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((7L, 2L, 6L, 3L)))
  }

  test("exactSubstringTrim: duplicated span tokens removed, first occurrence intact, full dup trims to empty string") {
    val df = Seq(
      (1L, "r1 r2 r3 r4 tail1 tail2"),
      (2L, "x1 x2 r1 r2 r3 r4 y1 y2"),
      (3L, "r1 r2 r3 r4"), // byte-duplicate of doc 1's prefix -> fully trimmed
      (4L, "  clean   doc  ") // no dups: round-trips tokenizer-normalized
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringTrim(df, "doc_id", "text", k = 4)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 6L, 0L, "r1 r2 r3 r4 tail1 tail2"),
      (2L, 8L, 4L, "x1 x2 y1 y2"),
      (3L, 4L, 4L, ""),
      (4L, 2L, 0L, "clean doc")))
  }

  test("exactSubstringTrim join contract: spans broadcast at fixture duplication; past the threshold AQE falls back to a shuffle join with identical rows") {
    // ~25% of docs embed the same 5-token run — enough spans to exercise
    // the join, small enough that the aggregated span list broadcasts
    val df = (1L to 400L).map { i =>
      val body = s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"
      (i, if (i % 4 == 0) s"$body d1 d2 d3 d4 d5" else body)
    }.toDF("doc_id", "text")

    // typical-duplication arm: AQE sees the realized (tiny) span side and
    // converts the unhinted join to a broadcast — the scaladoc's claim
    val bcArm = Dedup.exactSubstringTrim(df, "doc_id", "text", k = 5)
    val baseline = bcArm.as[(Long, Long, Long, String)].collect().toSet
    assert(baseline.count(_._3 > 0) === 99, // doc 4 owns the canonical copy
      "every embedding doc except the first occurrence must trim its run")
    val planBc = bcArm.queryExecution.executedPlan.toString
    assert(planBc.contains("BroadcastHashJoin"), planBc.take(2000))

    // adversarial arm: a high-duplication corpus grows the aggregated
    // span list past the broadcast threshold and AQE keeps the shuffle
    // join. Stand in for that corpus by disabling the broadcast
    // thresholds (the crossover trigger is size-vs-threshold either way)
    // and pin that the fallback is the SAME rows — correct, one extra
    // doc_id exchange, never a wrong answer.
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val smjArm = Dedup.exactSubstringTrim(df, "doc_id", "text", k = 5)
      val got = smjArm.as[(Long, Long, Long, String)].collect().toSet
      assert(got === baseline, "shuffle-join fallback must produce identical rows")
      val planSmj = smjArm.queryExecution.executedPlan.toString
      assert(planSmj.contains("SortMergeJoin") || planSmj.contains("ShuffledHashJoin"),
        planSmj.take(2000))
      assert(!planSmj.contains("BroadcastHashJoin"), planSmj.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("simhash: identical texts equal, near texts close in hamming distance") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val m = Dedup.simhash(df, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(m(1L) === m(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
  }

  test("cosine: orthogonal=0, identical=1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 2f), Seq(1f, 2f))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("bruteTopK ranks by cosine desc and excludes self") {
    val df = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.topK(
      df, df.filter($"vec_id" === 0), "vec_id", "embedding",
      Similarity.Fence.All, Similarity.Scorer.Cosine, 2)
    val got = out.select("n_id", "rank").as[(Long, Int)].collect().toSet
    assert(got === Set((1L, 1), (2L, 2)))
  }

  test("redactPii: finds injected email/IP/digit-run, replaces in order, leaves clean text alone") {
    val df = Seq(
      (1L, "write to alice.smith+x@corp.example.org today"),
      (2L, "server 192.168.1.254 rebooted"),
      (3L, "call 555 123 4401 or 555-999-0000"),
      (4L, "no pii here at all"),
      (5L, "mail bob@h.io from 10.0.0.7") // both kinds in one doc
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "doc_id", "text")
      .orderBy("doc_id")
      .select("n_email", "n_ipv4", "n_digits", "redacted")
      .as[(Int, Int, Int, String)].collect()
    assert(out(0) === ((1, 0, 0, "write to <EMAIL> today")))
    assert(out(1) === ((0, 1, 0, "server <IP> rebooted")))
    assert(out(2) === ((0, 0, 2, "call <NUM> or <NUM>")))
    assert(out(3) === ((0, 0, 0, "no pii here at all")))
    assert(out(4) === ((1, 1, 0, "mail <EMAIL> from <IP>")))
  }

  test("langId picks dominant profile; und for no hits") {
    val df = Seq("the cat and the dog is", "el que la de y", "zzz qqq").toDF("text")
    val got = df.select(TextAnalysis.langId(TextAnalysis.tokens($"text"))).as[String].collect()
    assert(got === Array("en", "es", "und"))
  }

  test("semanticDedup: within-cluster near-dups dropped keep-lowest-id, cross-cluster twins survive") {
    // two orthogonal cluster directions; centroids given explicitly
    val ex = Seq(1.0, 0.0, 0.0, 0.0)
    val ey = Seq(0.0, 1.0, 0.0, 0.0)
    def mix(a: Double, b: Double) = Seq(a, b, 0.0, 0.0)
    val vecs = Seq(
      (1L, ex),             // cluster x, kept (lowest id of its dup group)
      (2L, mix(0.99, 0.01)),// ~identical direction to 1 -> dropped, dup_of 1
      (3L, mix(0.8, 0.6)),  // cluster x but dissimilar enough -> kept
      (4L, ey),             // cluster y, kept
      (5L, mix(0.01, 0.99)) // ~identical to 4 -> dropped, dup_of 4
    ).toDF("vec_id", "v")
    val got = graft.data.Dedup
      .semanticDedup(vecs, "vec_id", "v", Seq(ex, ey), threshold = 0.95)
      .select($"vec_id", $"cluster", $"dup_of", $"keep")
      .as[(Long, Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 0L, None, true),
      (2L, 0L, Some(1L), false),
      (3L, 0L, None, true),
      (4L, 1L, None, true),
      (5L, 1L, Some(4L), false)))
    // cluster boundary fences the compare: vector 6 is cosine ~0.98 to
    // vector 3 (over the 0.95 threshold) but lands in cluster y, so the
    // pair is never compared and 6 survives — the method's documented
    // recall trade-off
    val crossTwin = vecs.union(Seq((6L, mix(0.68, 0.73))).toDF("vec_id", "v"))
    val kept6 = graft.data.Dedup
      .semanticDedup(crossTwin, "vec_id", "v", Seq(ex, ey), threshold = 0.95)
      .filter($"vec_id" === 6L).select($"cluster", $"keep").as[(Long, Boolean)].head()
    assert(kept6 === ((1L, true)))
  }

  test("semanticDedup probes=2: boundary pair recovered, recall 3/3 vs 2/3 single-probe") {
    // three centroids so top-2 is a genuine subset of the clusters; the
    // crafted geometry puts one dup pair ACROSS the x/y boundary
    val ex = Seq(1.0, 0.0, 0.0, 0.0)
    val ey = Seq(0.0, 1.0, 0.0, 0.0)
    val ez = Seq(0.0, 0.0, 1.0, 0.0)
    def mix(a: Double, b: Double) = Seq(a, b, 0.0, 0.0)
    val vecs = Seq(
      (1L, ex),              // cluster x
      (2L, mix(0.99, 0.01)), // dup of 1, same cluster
      (3L, mix(0.8, 0.6)),   // cluster x, boundary-adjacent
      (4L, ey),              // cluster y
      (5L, mix(0.01, 0.99)), // dup of 4, same cluster
      (6L, mix(0.68, 0.73)), // dup of 3 (cos ~0.98) but lands in cluster y
      (7L, ez)               // far singleton, stays kept under both modes
    ).toDF("vec_id", "v")
    val truthDupPairs = Set((1L, 2L), (4L, 5L), (3L, 6L)) // cos >= 0.95 pairs
    def foundPairs(probes: Int): Set[(Long, Long)] = graft.data.Dedup
      .semanticDedup(vecs, "vec_id", "v", Seq(ex, ey, ez), threshold = 0.95, probes = probes)
      .filter($"dup_of".isNotNull)
      .select($"dup_of", $"vec_id").as[(Long, Long)].collect().toSet
    val single = foundPairs(1)
    val multi = foundPairs(2)
    assert(single === Set((1L, 2L), (4L, 5L))) // boundary pair (3,6) missed
    assert(multi === truthDupPairs)            // recovered by the 2nd probe
    assert(single.subsetOf(multi))             // multi-probe only ADDS verdicts
    // primary cluster labels are unchanged by probing
    val clusters = graft.data.Dedup
      .semanticDedup(vecs, "vec_id", "v", Seq(ex, ey, ez), threshold = 0.95, probes = 2)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(clusters === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 2L))
  }

  test("semanticDedupImi: product cells fence pairs; pSub=2 recovers the cross-cell dup") {
    // explicit half-space codebooks (kSub=3 so top-2 is a strict subset):
    // halves are dims [0,1] and [2,3]; cell = c0*3 + c1
    val cbs = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0)), // half 0
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))) // half 1
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 1.0, 0.0)), // cell (0,0)=0
      (2L, Seq(0.99, 0.01, 1.0, 0.0)), // cell 0, dup of 1 (cos ~0.99995)
      (3L, Seq(1.0, 0.0, 0.52, 0.48)), // cell 0, boundary-adjacent in half 1
      (4L, Seq(1.0, 0.0, 0.48, 0.52)), // cell (0,1)=1 — dup of 3 (cos ~0.9989) ACROSS the cell split
      (5L, Seq(0.0, 1.0, 0.0, 1.0)) // cell (1,1)=4, singleton
    ).toDF("vec_id", "v")
    def foundPairs(pSub: Int): Set[(Long, Long)] = graft.data.Dedup
      .semanticDedupImi(vecs, "vec_id", "v", cbs, threshold = 0.95, pSub = pSub)
      .filter($"dup_of".isNotNull)
      .select($"dup_of", $"vec_id").as[(Long, Long)].collect().toSet
    val single = foundPairs(1)
    val multi = foundPairs(2)
    assert(single === Set((1L, 2L))) // (3,4) split by the half-1 codeword flip
    assert(multi === Set((1L, 2L), (3L, 4L))) // recovered by the substitution cell
    assert(single.subsetOf(multi))
    // primary cluster labels are the imiAssign cells and unchanged by probing
    val clusters = graft.data.Dedup
      .semanticDedupImi(vecs, "vec_id", "v", cbs, threshold = 0.95, pSub = 2)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(clusters === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 4L))
  }

  test("semanticDedup cell-flood guard: degenerate corpus fails loudly in both faces; raised cap honored") {
    // a broken-encoder flood: 150 copies of ONE embedding — every row
    // lands in the same cluster cell, so the within-cell join would run
    // population²/2 cosine evaluations silently
    val flood = (1 to 150).map(i => (i.toLong, Seq(1.0, 0.0, 1.0, 0.0))).toDF("vec_id", "v")
    val cents = Seq(Seq(1.0, 0.0, 1.0, 0.0), Seq(0.0, 1.0, 0.0, 1.0))
    val cbs = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val exFlat = intercept[IllegalStateException] {
      Dedup.semanticDedup(flood, "vec_id", "v", cents, threshold = 0.95, maxCellRows = 100)
    }
    assert(exFlat.getMessage.contains("cell flood") && exFlat.getMessage.contains("exact dedup"),
      s"guard message must name the problem and the remediation: ${exFlat.getMessage}")
    val exImi = intercept[IllegalStateException] {
      Dedup.semanticDedupImi(flood, "vec_id", "v", cbs, threshold = 0.95, pSub = 2, maxCellRows = 100)
    }
    assert(exImi.getMessage.contains("cell flood"), exImi.getMessage)
    // an explicitly raised cap is honored — the quadratic is then intended,
    // and the verdicts are the keep-lowest-id collapse onto row 1
    val kept = Dedup.semanticDedup(
      flood, "vec_id", "v", cents, threshold = 0.95, maxCellRows = 1000)
      .filter($"keep").select($"vec_id").as[Long].collect().toSeq
    assert(kept === Seq(1L), "every flood member must collapse onto the lowest id")
    // normal multi-cell data sails under the production default cap
    val normal = Seq(
      (1L, Seq(1.0, 0.0, 1.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 1.0))).toDF("vec_id", "v")
    assert(Dedup.semanticDedup(normal, "vec_id", "v", cents, threshold = 0.95).count() === 2)
  }

  test("clean corpus best: cluster keeps the LONGEST member (ties min id); min-id face contrasts") {
    val dir = tmpDir("cleanbest").toString
    val base = "the quick brown fox jumps over the lazy dog today and more padding words"
    Seq(
      (1L, base), // near-dup cluster {1,2}; 2 is longer -> best keeps 2
      (2L, base + " extra"),
      (3L, "identical twin text goes here exactly"), // exact pair {3,4}: equal
      (4L, "identical twin text goes here exactly"), //   length -> tie -> min id 3
      (5L, "completely different text with other tokens that share nothing at all")
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // precondition: the LSH pipeline really pairs (1,2) — otherwise the
    // contrast below is vacuous
    val pairs = Dedup.minhashPairsForClustering(
      graft.core.Tables.documents(spark, dir), "doc_id", "text")
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"crafted near-dup pair not recovered: $pairs")
    val best = graft.queries.DataQueries.dCleanCorpusBest(spark, dir)
      .as[Long].collect().toSet
    assert(best === Set(2L, 3L, 5L),
      s"best face must keep the longest cluster member and the exact-dup min id: $best")
    val minId = graft.queries.DataQueries.dCleanCorpus(spark, dir)
      .as[Long].collect().toSet
    assert(minId === Set(1L, 3L, 5L), s"min-id face must keep the lowest id per cluster: $minId")
  }

  test("qualityModelScore: matches the plain-Scala mirror; empty doc scores 0") {
    val dims = 64
    val weights = graft.data.TextAnalysis.modelWeights(dims)
    def mirror(text: String): (Int, Long, Boolean) = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val raw = toks.foldLeft(0.0) { (acc, t) =>
        acc + weights((graft.functions.Md5Hash60.hash(t.getBytes("UTF-8")) % dims).toInt)
      }
      (toks.length, math.floor(raw / (toks.length + 1) * 1e6).toLong, raw > 0.0)
    }
    val docs = Seq(
      (1L, "The quick brown fox"),
      (2L, "hash join hash probe scan"),
      (3L, ""),
      (4L, "   "),
      (5L, "Yksi kaksi kolme")
    ).toDF("doc_id", "text")
    val got = graft.data.TextAnalysis.qualityModelScore(docs, "doc_id", "text", dims)
      .as[(Long, Int, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === mirror("The quick brown fox"))
    assert(got(2L) === mirror("hash join hash probe scan"))
    assert(got(3L) === ((0, 0L, false))) // empty: 0/(0+1) = 0, not NaN
    assert(got(4L) === ((0, 0L, false)))
    assert(got(5L) === mirror("Yksi kaksi kolme"))
  }

  test("capPerGroup: top-n per group by (score desc, id asc), small groups intact") {
    val df = Seq(
      ("a", 1L, 10), ("a", 2L, 30), ("a", 3L, 30), ("a", 4L, 20),
      ("b", 5L, 1) // group smaller than the cap survives whole
    ).toDF("src", "id", "score")
    val got = graft.data.CorpusOps.capPerGroup(df, "src", "score", "id", n = 2)
      .select($"id", $"cap_rank").as[(Long, Long)].collect().toMap
    // a: score 30 ties -> id 2 then 3; id 4 (20) and 1 (10) cut
    assert(got === Map(2L -> 1L, 3L -> 2L, 5L -> 1L))
  }

  test("semanticDedup probes=2 on fixture embeddings: verdicts are a superset of single-probe") {
    val e = graft.core.Tables.embeddings(spark, sf)
    val cents = graft.data.Similarity.seedCentroids(e, "vec_id", "embedding", k = 8)
    def dups(probes: Int): Set[(Long, Long)] = graft.data.Dedup
      .semanticDedup(e, "vec_id", "embedding", cents, threshold = 0.40, probes = probes)
      .filter($"dup_of".isNotNull)
      .select($"dup_of", $"vec_id").as[(Long, Long)].collect().toSet
    val single = dups(1)
    val multi = dups(2)
    // multi-probe can only ADD candidate pairs; existing verdicts may only
    // improve (dup_of can drop to a lower id), never disappear
    val singleDocs = single.map(_._2)
    val multiDocs = multi.map(_._2)
    assert(singleDocs.subsetOf(multiDocs),
      s"docs lost their dup verdict under multi-probe: ${singleDocs -- multiDocs}")
    assert(multi.size >= single.size)
  }

  test("bm25TopK: matches the formula computed in plain Scala, ranks and limits deterministically") {
    val docs = Seq(
      (1L, "hash join hash probe"),     // tf(hash)=2
      (2L, "sort merge join"),          // no query term
      (3L, "hash"),                     // short doc: length norm boosts it
      (4L, "scan filter scan filter scan filter"), // tf(filter)=3, long
      (5L, "")                          // empty doc scores 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .bm25TopK(docs, "doc_id", "text", Seq("hash", "filter"), topK = 3)
      .as[(Long, Long)].collect().toSeq
    // plain-Scala mirror of the operator's exact expression tree
    val toks = Map(
      1L -> Seq("hash", "join", "hash", "probe"), 2L -> Seq("sort", "merge", "join"),
      3L -> Seq("hash"), 4L -> Seq("scan", "filter", "scan", "filter", "scan", "filter"),
      5L -> Seq.empty[String])
    val (k1, b) = (1.2, 0.75)
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
    def score(id: Long): Double =
      Seq("filter", "hash").map { t => // alphabetical fold order
        val df = toks.values.count(_.contains(t)).toDouble
        val tf = toks(id).count(_ == t).toDouble
        val dl = toks(id).size.toDouble
        (n - df + 0.5) / (df + 0.5) * (tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + b * dl / avgdl))
      }.reduce(_ + _)
    val want = toks.keys.toSeq
      .map(id => id -> math.floor(score(id) * 1e6).toLong)
      .sortBy { case (id, s) => (-s, id) }.take(3)
    assert(got === want)
    // empty docs and no-term docs sit at 0, excluded by the limit
    assert(!got.map(_._1).contains(5L) && !got.map(_._1).contains(2L))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("a", "a"), 3))
  }

  test("multimodal decodeStub: deterministic features through mapPartitions") {
    val payload = "hello world, this is a long enough media payload to sample frames from"
    val df = Seq((7L, payload)).toDF("doc_id", "text")
    val media = Multimodal.asMedia(df, "doc_id", "text", "application/octet-stream")
    val feats = Multimodal.decodeStub(media).collect()
    assert(feats.length === 1)
    val f = feats.head
    assert(f.doc_id === 7L)
    assert(f.byte_len === payload.getBytes.length)
    assert(f.header_hex === payload.take(16).getBytes.map("%02x".format(_)).mkString)
    assert(f.fingerprint.length === 32)
    // column-expr metadata agrees with the typed decode on shared fields
    val meta = Multimodal.metadata(df.withColumn("bin", $"text".cast("binary")), "doc_id", "bin")
      .select("byte_len", "header_hex", "fingerprint").as[(Int, String, String)].head()
    assert(meta === ((f.byte_len, f.header_hex, f.fingerprint)))
  }

  test("perceptualPairs: crafted near-image pair found at the default grain, far image excluded") {
    def mk(f: Int => Int, n: Int = 144): Array[Byte] = Array.tabulate(n)(i => f(i).toByte)
    val img1 = mk(i => (i * 7) % 251)
    // one SAMPLED byte blasted (len=144 -> grid g samples byte 2g; byte 10
    // is grid cell 5): at most the two comparisons touching cell 5 flip
    val img2 = { val a = img1.clone(); a(10) = 0xff.toByte; a }
    // structurally different payload: alternating extremes — a gradient
    // sign pattern far from img1's ramp
    val img3 = mk(i => if (i % 2 == 0) 5 else 250)
    val df = Seq((1L, img1), (2L, img2), (3L, img3)).toDF("doc_id", "bin")
    // independent reference: UNSIGNED strided byte samples, dHash bits
    def refFp(bs: Array[Byte]): Long = {
      def s(g: Int) = bs((g * bs.length) / 72) & 0xff
      (for { r <- 0 until 8; c <- 0 until 8 } yield
        if (s(r * 9 + c) < s(r * 9 + c + 1)) 1L << (r * 8 + c) else 0L).foldLeft(0L)(_ | _)
    }
    val fps = df.select($"doc_id", Multimodal.perceptualHash($"bin").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps === Map(1L -> refFp(img1), 2L -> refFp(img2), 3L -> refFp(img3)))
    val ham12 = java.lang.Long.bitCount(refFp(img1) ^ refFp(img2))
    assert(ham12 > 0 && ham12 <= 2, s"crafted edit flipped $ham12 bits")
    assert(java.lang.Long.bitCount(refFp(img1) ^ refFp(img3)) > 7, "far image too close")
    // default production grain (8 bands, hamming <= 7): the near pair and
    // ONLY the near pair
    val got = Multimodal.perceptualPairs(df, "doc_id", "bin")
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, ham12.toLong)))
    // MIH radius-1 probing (the fixture/scale shape) returns the same
    // exact pair set as radius-0 banding at the shared threshold...
    val mih7 = Multimodal
      .perceptualPairs(df, "doc_id", "bin", maxHamming = 7, bandBits = 8, probeRadius = 1)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(mih7 === got)
    // ...and at its extended guarantee (hamming <= 15 on 8-bit bands)
    // matches brute-force ground truth over the reference fingerprints
    val ids = Map(1L -> refFp(img1), 2L -> refFp(img2), 3L -> refFp(img3))
    val brute15 = (for {
      (a, fa) <- ids.toSeq; (b, fb) <- ids.toSeq if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 15
    } yield (a, b, h.toLong)).toSet
    val mih15 = Multimodal
      .perceptualPairs(df, "doc_id", "bin", maxHamming = 15, bandBits = 8, probeRadius = 1)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(mih15 === brute15)
    // empty payload degrades to fingerprint 0, never errors
    val empty = Seq((9L, Array.emptyByteArray)).toDF("doc_id", "bin")
    assert(empty.select(Multimodal.perceptualHash($"bin")).as[Long].head() === 0L)
    // banding guarantee guard: a threshold the band/radius pair cannot
    // promise is refused loudly, not silently lossy
    intercept[IllegalArgumentException](
      Multimodal.perceptualPairs(df, "doc_id", "bin", maxHamming = 8, bandBits = 8))
    intercept[IllegalArgumentException](
      Multimodal.perceptualPairs(df, "doc_id", "bin", maxHamming = 16, bandBits = 8, probeRadius = 1))
  }

  test("perceptualPairs: degenerate-corpus flood fires the bucket guard loudly; normal data sails") {
    // a template flood: 60 byte-identical "images" (solid-color frames /
    // watermark templates at crawl scale) — ONE fingerprint, so every
    // band drops all 60 rows into a single (band, value) bucket
    val template = Array.tabulate(144)(i => ((i * 7) % 251).toByte)
    val flood = (1L to 60L).map(id => (id, template)).toDF("doc_id", "bin")
    val ex = intercept[IllegalStateException](
      Multimodal.perceptualPairs(flood, "doc_id", "bin", maxBucketRows = 20))
    assert(ex.getMessage.contains("perceptual-dup flood"), ex.getMessage)
    assert(ex.getMessage.contains("rows=60"), ex.getMessage)
    // same corpus above the cap is accepted and emits the full quadratic
    // pair list (the caller OPTED IN to that output volume)
    val optIn = Multimodal
      .perceptualPairs(flood, "doc_id", "bin", maxBucketRows = 60)
      .agg(count(lit(1)), max($"hamming")).as[(Long, Long)].head()
    assert(optIn === ((60L * 59L / 2L, 0L)))
    // distinct payloads never trip a tight cap: ids spread across buckets.
    // Per-id PRNG bytes — an affine shift of the ramp would preserve the
    // gradient SIGNS and pile 30+ docs into one band value
    val normal = (1L to 60L)
      .map { id =>
        val rnd = new scala.util.Random(id)
        (id, Array.fill(144)(rnd.nextInt(256).toByte))
      }
      .toDF("doc_id", "bin")
    Multimodal.perceptualPairs(normal, "doc_id", "bin", maxBucketRows = 20)
      .write.mode("overwrite").format("noop").save()
  }

  test("perceptualPairs: billion-scale MIH config (bandBits=16, radius 1) is exact at hamming <= 7") {
    // the configuration the operator scaladoc prescribes at 10^9 images:
    // 4 bands x 16 bits, Hamming-ball radius 1 (pigeonhole guarantee
    // 4*2-1 = 7). Crafted corpus: a base ramp plus sampled-byte edits of
    // every width 1..6 cells spread across DIFFERENT 16-bit bands (so
    // some pairs match only via a flipped probe, not an exact band), plus
    // structurally far payloads — then set-equality against brute force
    // over the independent reference fingerprints.
    def mk(f: Int => Int, n: Int = 144): Array[Byte] = Array.tabulate(n)(i => f(i).toByte)
    def refFp(bs: Array[Byte]): Long = {
      def s(g: Int) = bs((g * bs.length) / 72) & 0xff
      (for { r <- 0 until 8; c <- 0 until 8 } yield
        if (s(r * 9 + c) < s(r * 9 + c + 1)) 1L << (r * 8 + c) else 0L).foldLeft(0L)(_ | _)
    }
    val base = mk(i => (i * 7) % 251)
    // len=144: grid cell g samples byte 2g; cell rows r*9..r*9+8 feed fp
    // bits r*8..r*8+7 — rows 0-1 land in band 0, rows 2-3 band 1, etc.
    def edited(cells: Seq[Int]): Array[Byte] = {
      val a = base.clone()
      cells.foreach(c => a(2 * c) = 0xff.toByte)
      a
    }
    val imgs: Seq[(Long, Array[Byte])] = Seq(
      1L -> base,
      2L -> edited(Seq(5)),            // band 0 edit
      3L -> edited(Seq(23)),           // band 1 edit
      4L -> edited(Seq(5, 23)),        // bands 0+1 (vs base: needs probing)
      5L -> edited(Seq(41, 59)),       // bands 2+3
      6L -> edited(Seq(5, 23, 41)),    // three bands touched
      7L -> edited(Seq(5, 23, 41, 59)),// all four bands touched
      8L -> mk(i => if (i % 2 == 0) 5 else 250), // far payload
      9L -> mk(i => (i * 31) % 251)    // far payload
    )
    val fpById = imgs.map { case (id, bs) => id -> refFp(bs) }.toMap
    val brute7 = (for {
      (a, fa) <- fpById.toSeq; (b, fb) <- fpById.toSeq if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 7
    } yield (a, b, h.toLong)).toSet
    // the crafted grid must actually exercise the MIH machinery: pairs at
    // several hamming widths including >=4 (no single 16-bit band exact-
    // matches without probing only if edits hit ALL bands — pair (1,7))
    val dists = brute7.map(_._3)
    assert(brute7.size >= 8, s"crafted corpus too sparse: $brute7")
    assert(dists.exists(_ >= 4) && dists.exists(_ <= 2), s"distance spread too narrow: $dists")
    val df = imgs.toDF("doc_id", "bin")
    val got = Multimodal
      .perceptualPairs(df, "doc_id", "bin", maxHamming = 7, bandBits = 16, probeRadius = 1)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(got === brute7)
    // threshold beyond the 16-bit pigeonhole guarantee is refused
    intercept[IllegalArgumentException](
      Multimodal.perceptualPairs(df, "doc_id", "bin", maxHamming = 8, bandBits = 16, probeRadius = 1))
  }

  test("perceptualPairs: 32-bit top ladder rung (2 bands, radius 1) is exact at hamming <= 3; indexed face agrees; 64-bit bands refused") {
    // the widest geometry phashGeometry can derive (n beyond ~82M rows):
    // 2 bands x 32 bits, radius 1 — pigeonhole bound 2*2-1 = 3. The rung
    // exercises the shift/mask arithmetic at its edge (shiftright by 32,
    // mask (1L<<32)-1): the same crafted-grid construction as the 16-bit
    // arm, with edits spread across BOTH 32-bit halves so pair (1,4)
    // matches only via a flipped probe, never an exact band.
    def mk(f: Int => Int, n: Int = 144): Array[Byte] = Array.tabulate(n)(i => f(i).toByte)
    def refFp(bs: Array[Byte]): Long = {
      def s(g: Int) = bs((g * bs.length) / 72) & 0xff
      (for { r <- 0 until 8; c <- 0 until 8 } yield
        if (s(r * 9 + c) < s(r * 9 + c + 1)) 1L << (r * 8 + c) else 0L).foldLeft(0L)(_ | _)
    }
    val base = mk(i => (i * 7) % 251)
    def edited(cells: Seq[Int]): Array[Byte] = {
      val a = base.clone()
      cells.foreach(c => a(2 * c) = 0xff.toByte)
      a
    }
    val imgs: Seq[(Long, Array[Byte])] = Seq(
      1L -> base,
      2L -> edited(Seq(5)),        // low half (fp bits < 32)
      3L -> edited(Seq(41)),       // high half (fp bits >= 32)
      4L -> edited(Seq(5, 41)),    // BOTH halves vs base: probe-only match
      5L -> mk(i => if (i % 2 == 0) 5 else 250), // far payload
      6L -> mk(i => (i * 31) % 251)              // far payload
    )
    val fpById = imgs.map { case (id, bs) => id -> refFp(bs) }.toMap
    val brute3 = (for {
      (a, fa) <- fpById.toSeq; (b, fb) <- fpById.toSeq if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val dists = brute3.map(_._3)
    assert(brute3.size >= 4, s"crafted corpus too sparse: $brute3")
    // bits-per-half spread confirmed: (1,4) has one flipped bit in EACH
    // 32-bit half, so neither band exact-matches — radius-1 probing is
    // load-bearing, not decorative
    val fp14 = fpById(1L) ^ fpById(4L)
    assert(java.lang.Long.bitCount(fp14 & 0xffffffffL) >= 1 &&
      java.lang.Long.bitCount(fp14 >>> 32) >= 1, f"edits landed one-sided: $fp14%016x")
    assert(dists.exists(_ >= 2), s"distance spread too narrow: $dists")
    val df = imgs.toDF("doc_id", "bin")
    val got = Multimodal
      .perceptualPairs(df, "doc_id", "bin", maxHamming = 3, bandBits = 32, probeRadius = 1)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(got === brute3)
    // the persisted-index face agrees rung-for-rung
    val idx = Multimodal.phashBandIndex(df, "doc_id", "bin", bandBits = 32)
    val gotIdx = Multimodal
      .perceptualPairsIndexed(idx, maxHamming = 3, bandBits = 32, probeRadius = 1)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(gotIdx === brute3)
    // beyond the rung: ham 4 breaks the pigeonhole, 64-bit bands are the
    // whole fingerprint (mask arithmetic would silently wrap) — both refused
    intercept[IllegalArgumentException](
      Multimodal.perceptualPairs(df, "doc_id", "bin", maxHamming = 4, bandBits = 32, probeRadius = 1))
    intercept[IllegalArgumentException](
      Multimodal.perceptualPairs(df, "doc_id", "bin", maxHamming = 1, bandBits = 64, probeRadius = 1))
  }

  test("phashGeometry: scale-derived band ladder — fixture scales keep (8,1,15), organic sf10 derives the measured-clean (16,1,7), boundaries exact (VERDICT r19 #1)") {
    import Multimodal.{phashGeometry, PhashGeometry}
    // fixture/oracle scales: the historical geometry, so the static oracle
    // SQL (8 bands, hamming <= 15) keeps replaying the faces bit-for-bit
    assert(phashGeometry(0) === PhashGeometry(8, 1, 15))
    assert(phashGeometry(500) === PhashGeometry(8, 1, 15))     // sf0.01
    assert(phashGeometry(5000) === PhashGeometry(8, 1, 15))    // sf0.1 (bench floors)
    assert(phashGeometry(50000) === PhashGeometry(8, 1, 15))   // organic sf1
    // the escalation boundary: expected population n/256 crosses
    // maxBucketRows/skewHeadroom = 10000/8 = 1250 at n = 320_256
    assert(phashGeometry(320255) === PhashGeometry(8, 1, 15))
    assert(phashGeometry(320256) === PhashGeometry(16, 1, 7))
    // organic sf10 (500k): the configuration SCALE.md r19 measured clean
    // across the decade — now derived, not hand-passed
    assert(phashGeometry(500000) === PhashGeometry(16, 1, 7))
    // second escalation: 16-bit expectation crosses at n = 65536*1250 + 2^16
    assert(phashGeometry(81_920_000L) === PhashGeometry(16, 1, 7))
    assert(phashGeometry(81_985_536L) === PhashGeometry(32, 1, 3))
    // beyond the 32-bit ladder the geometry clamps and the flood guard
    // stays the loud rail
    assert(phashGeometry(6_000_000_000_000L) === PhashGeometry(32, 1, 3))
    // every derived triple honors the pigeonhole-exactness rail
    Seq(0L, 499L, 320256L, 500000L, 81_985_536L, Long.MaxValue / 4).foreach { n =>
      val g = phashGeometry(n)
      assert(g.maxHamming < (64 / g.bandBits) * (g.probeRadius + 1),
        s"derived geometry $g at n=$n breaks the pigeonhole bound")
    }
    // a tighter cap or higher headroom escalates earlier — the knobs compose
    assert(phashGeometry(5000, maxBucketRows = 100, skewHeadroom = 8).bandBits === 16)
    intercept[IllegalArgumentException](phashGeometry(-1))
    intercept[IllegalArgumentException](phashGeometry(10, maxBucketRows = 0))
    // the m_phash faces run the derivation end to end: crafted near-image
    // equivalence between hand-set and derived grain is covered by the
    // arms above; here pin that a face-sized corpus derives the fixture
    // geometry the oracle replays (the DataQueries.phashGeo contract)
    assert(phashGeometry(graft.core.Tables.documents(spark, sf).count())
      === PhashGeometry(8, 1, 15))
  }

  test("perceptualPairsIndexed: persisted band index ≡ inline pairs; append ≡ rebuild; drift and flood loud") {
    import graft.connectors.Bucketing
    // the billion-scale crafted corpus from the MIH test: pairs at several
    // hamming widths, some reachable only via radius-1 probing
    def mk(f: Int => Int, n: Int = 144): Array[Byte] = Array.tabulate(n)(i => f(i).toByte)
    val base = mk(i => (i * 7) % 251)
    def edited(cells: Seq[Int]): Array[Byte] = {
      val a = base.clone()
      cells.foreach(c => a(2 * c) = 0xff.toByte)
      a
    }
    val imgs: Seq[(Long, Array[Byte])] = Seq(
      1L -> base,
      2L -> edited(Seq(5)),
      3L -> edited(Seq(23)),
      4L -> edited(Seq(5, 23)),
      5L -> edited(Seq(41, 59)),
      6L -> edited(Seq(5, 23, 41)),
      7L -> edited(Seq(5, 23, 41, 59)),
      8L -> mk(i => if (i % 2 == 0) 5 else 250),
      9L -> mk(i => (i * 31) % 251)
    )
    val df = imgs.toDF("doc_id", "bin")
    def pairsOf(d: org.apache.spark.sql.DataFrame) = d
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect().toSet
    val inline15 = pairsOf(Multimodal
      .perceptualPairs(df, "doc_id", "bin", maxHamming = 15, bandBits = 8, probeRadius = 1))
    val inline7r0 = pairsOf(Multimodal
      .perceptualPairs(df, "doc_id", "bin", maxHamming = 7, bandBits = 8, probeRadius = 0))
    assert(inline15.nonEmpty && inline7r0.nonEmpty)
    // the inline face is itself served by the indexed probe, so pin both
    // against brute force over the independent reference fingerprints
    def refFp(bs: Array[Byte]): Long = {
      def s(g: Int) = bs((g * bs.length) / 72) & 0xff
      (for { r <- 0 until 8; c <- 0 until 8 } yield
        if (s(r * 9 + c) < s(r * 9 + c + 1)) 1L << (r * 8 + c) else 0L).foldLeft(0L)(_ | _)
    }
    val fpById = imgs.map { case (id, bs) => id -> refFp(bs) }.toMap
    def brute(maxHamming: Int) = (for {
      (a, fa) <- fpById.toSeq; (b, fb) <- fpById.toSeq if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= maxHamming
    } yield (a, b, h.toLong)).toSet
    assert(inline15 === brute(15))
    assert(inline7r0 === brute(7))
    // raw index frame ≡ inline, at both probe configurations
    val rawIdx = Multimodal.phashBandIndex(df, "doc_id", "bin", bandBits = 8)
    assert(pairsOf(Multimodal.perceptualPairsIndexed(
      rawIdx, maxHamming = 15, bandBits = 8, probeRadius = 1)) === inline15)
    assert(pairsOf(Multimodal.perceptualPairsIndexed(
      rawIdx, maxHamming = 7, bandBits = 8, probeRadius = 0)) === inline7r0)
    // persisted: build over a corpus slice, append the delta, equal a rebuild
    val dir = tmpDir("graft_phash_idx_spec").toString
    val corpusSlice = df.filter($"doc_id" <= 6L)
    val deltaSlice = df.filter($"doc_id" > 6L)
    Bucketing.ensureBucketed(
      spark, Multimodal.phashBandIndex(corpusSlice, "doc_id", "bin"),
      dir, "bucket", 8,
      sourceStamp = s"${Multimodal.phashStamp(8)}|specA")
    val appendedIdx = Bucketing.appendBucketed(
      spark, Multimodal.phashBandIndex(deltaSlice, "doc_id", "bin"),
      dir, "bucket", 8,
      newSourceStamp = s"${Multimodal.phashStamp(8)}|specB")
    val appended = appendedIdx.as[(Long, Int, String, Long)].collect().toSet
    val rebuilt = Multimodal.phashBandIndex(df, "doc_id", "bin")
      .as[(Long, Int, String, Long)].collect().toSet
    assert(appended === rebuilt, "appended pHash index drifted from a full rebuild")
    // the post-append table serves the SAME pairs as the inline face, and
    // the stamp validates the band width without scanning the layout
    val stamp = Bucketing.readStamp(dir)
    assert(stamp.exists(_.contains(Multimodal.phashStamp(8))), s"stamp: $stamp")
    assert(pairsOf(Multimodal.perceptualPairsIndexed(
      appendedIdx, maxHamming = 15, bandBits = 8, probeRadius = 1,
      indexStamp = stamp)) === inline15)
    // band-width drift is loud: probing an 8-bit index as 16-bit would emit
    // garbage candidates silently
    val errDrift = intercept[IllegalArgumentException] {
      Multimodal.perceptualPairsIndexed(
        appendedIdx, maxHamming = 7, bandBits = 16, probeRadius = 1,
        indexStamp = stamp)
    }
    assert(errDrift.getMessage.contains("DIFFERENT band width"), errDrift.getMessage)
    // the flood guard holds on the indexed path too
    val template = Array.tabulate(144)(i => ((i * 7) % 251).toByte)
    val flood = (1L to 60L).map(id => (id, template)).toDF("doc_id", "bin")
    val errFlood = intercept[IllegalStateException] {
      Multimodal.perceptualPairsIndexed(
        Multimodal.phashBandIndex(flood, "doc_id", "bin"), maxBucketRows = 20)
    }
    assert(errFlood.getMessage.contains("perceptual-dup flood"), errFlood.getMessage)
  }

  test("semDedupPlan: auto-k IMI branch escalates probe depth in the weak-threshold regime") {
    import graft.queries.DataQueries
    // fixture scale: flat quantizer, single probe — the regime the
    // d_semdedup oracle replays; escalation must never touch it
    assert(DataQueries.semDedupPlan(512L, 0.40) === ((false, 1)))
    // auto-k + weak threshold: the configuration r12 measured at 0.31
    // brute recall single-probe — the plan escalates to pSub=2 (VERDICT
    // r12 #2: guidance made load-bearing, not scaladoc-only)
    assert(DataQueries.semDedupPlan(200000L, 0.40) === ((true, 2)))
    assert(DataQueries.semDedupPlan(200000L, DataQueries.ImiWeakThresholdCutoff - 1e-9) === ((true, 2)))
    // auto-k + strong threshold: single-probe IMI measured >= the flat arm
    // it replaces (0.58 vs 0.48) — no silent candidate-volume inflation
    assert(DataQueries.semDedupPlan(200000L, 0.70) === ((true, 1)))
    assert(DataQueries.semDedupPlan(200000L, DataQueries.ImiWeakThresholdCutoff) === ((true, 1)))
  }
}
