package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.data.CorpusIngest

/** Streaming corpus-ingest capstone: scan-fused quality/lang gates feeding
  * the keyed near-dup state — junk never reaches the state store, and the
  * verdict is identical on batch and streaming frames.
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private val en = "the quick brown fox jumps over the lazy dog and the cat is here tonight"
  private val fr = "le chat et le chien sont dans les jardins de la maison un soir"
  private val short = "too short"
  private val junkIsh = "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa sss ddd"

  test("verdict: first failing gate wins; batch and streaming agree row-for-row") {
    val rows = Seq(
      (1L, en),      // accepted
      (2L, short),   // too_short (even though lang would also fail-ish)
      (3L, fr),      // lang gate (allow-list is en-only)
      (4L, junkIsh), // langId 'und' -> lang gate
      (5L, en + " again and again the end")
    )
    val batch = CorpusIngest.verdict(rows.toDF("doc_id", "text"), "text", Seq("en"), 5)
      .select($"doc_id", $"lang", $"reject_reason")
      .as[(Long, String, Option[String])].collect().toSet
    assert(batch === Set(
      (1L, "en", None),
      (2L, "und", Some("too_short")),
      (3L, "fr", Some("lang")),
      (4L, "und", Some("lang")),
      (5L, "en", None)))
    // NULL text must reject as too_short — size(null) is NULL (skips a bare
    // `<` gate) and langId(null) returns the head profile constant, so an
    // unguarded verdict would accept a null doc under a matching allow-list
    val nullRow = CorpusIngest.verdict(
      Seq((9L, Option.empty[String])).toDF("doc_id", "text"), "text", Seq("en", "de"), 5)
      .select($"doc_id", $"reject_reason").as[(Long, Option[String])].collect()
    assert(nullRow.toSeq === Seq((9L, Some("too_short"))))

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val (accepted, hits) = CorpusIngest.ingest(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text", Seq("en"), 5)
    val qa = accepted.writeStream.format("memory").queryName("ingest_ok").outputMode("append").start()
    val qh = hits.writeStream.format("memory").queryName("ingest_dup").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      qa.processAllAvailable(); qh.processAllAvailable()
      // streaming accept set matches the batch verdict
      val okIds = spark.table("ingest_ok").select($"doc_id").as[Long].collect().toSet
      assert(okIds === Set(1L, 5L))
      // a re-crawl of doc 1 in a later batch: passes the gates, flagged by state
      mem.addData((6L, en))
      qa.processAllAvailable(); qh.processAllAvailable()
      assert(spark.table("ingest_ok").select($"doc_id").as[Long].collect().toSet === Set(1L, 5L, 6L))
      val dup = spark.table("ingest_dup").as[(Long, Long)].collect().toSet
      assert(dup.contains((6L, 1L)), s"dup stream must flag 6 against 1, got $dup")
      // rejected docs never flag: the state only ever saw accepted ids
      assert(!dup.exists(p => p._1 == 2L || p._1 == 3L || p._1 == 4L))
    } finally { qa.stop(); qh.stop() }
  }

  test("decontamination gate: prebuilt bloom rejects every exact hit, FP-bounded; batch and streaming agree") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    val bench = docs.filter(pmod($"doc_id", lit(97)) === 0)
    val train = docs.filter(pmod($"doc_id", lit(97)) =!= 0)
    val model = graft.data.Decontaminate.buildBloomModel(bench, "text", n = 3)
    // neutralize the cheap gates (minTokens=0, allow every observed lang)
    // so the decontamination verdict is isolated
    val langs = CorpusIngest.verdict(train, "text", Seq("en"), 0)
      .select($"lang").distinct().as[String].collect().toSeq
    val gated = CorpusIngest.verdict(train, "text", langs, 0, Some((model, 3)))
    val flagged = gated.filter($"reject_reason" === "contaminated")
      .select($"doc_id").as[Long].collect().toSet
    val exact = graft.data.Decontaminate.hits(train, bench, "doc_id", "text", n = 3)
      .select($"doc_id").as[Long].collect().toSet
    assert(exact.nonEmpty, "fixture produced no contamination — test is vacuous")
    // a bloom has NO false negatives: every exact hit must be gated out
    assert(exact.subsetOf(flagged), s"gate missed exact hits: ${(exact -- flagged).take(5)}")
    // and false positives stay a sliver of the clean docs (3% nominal fpp)
    val clean = train.count() - exact.size
    assert(flagged.size - exact.size <= math.max(5L, (clean * 0.10).toLong),
      s"FP rate out of band: ${flagged.size - exact.size} of $clean clean docs")

    // streaming parity: the same verdict (stateless columns) over a
    // micro-batched feed agrees row-for-row with the batch verdict
    implicit val sc = spark.sqlContext
    val sample = train.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).take(30)
    assert(sample.exists(s => flagged(s._1)), "sample has no contaminated doc — weak parity check")
    val mem = MemoryStream[(Long, String)]
    val q = CorpusIngest.verdict(mem.toDS().toDF("doc_id", "text"), "text", langs, 0, Some((model, 3)))
      .select($"doc_id", $"reject_reason")
      .writeStream.format("memory").queryName("ingest_decon").outputMode("append").start()
    try {
      mem.addData(sample.take(15): _*)
      q.processAllAvailable()
      mem.addData(sample.drop(15): _*)
      q.processAllAvailable()
      val streamed = spark.table("ingest_decon")
        .as[(Long, Option[String])].collect().toMap
      val batch = CorpusIngest.verdict(
        sample.toSeq.toDF("doc_id", "text"), "text", langs, 0, Some((model, 3)))
        .select($"doc_id", $"reject_reason").as[(Long, Option[String])].collect().toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("bench scale (sf0.1): campaign-model ingest gate — superset of exact, FP-bounded, batch ≡ streaming") {
    // VERDICT r10 #4: the end-to-end composition at BENCH scale — the
    // ModelStore-persisted campaign bloom (the d_ingest_gate entry's model)
    // gating the sf0.1 fixture corpus, not a crafted miniature
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    val docs = graft.core.Tables.documents(spark, dir)
    val bench = docs.filter(pmod($"doc_id", lit(97)) === 0)
    val train = docs.filter(pmod($"doc_id", lit(97)) =!= 0)
    val gated = graft.queries.DataQueries.dIngestGate(spark, dir).cache()
    try {
      // every train doc gets exactly one verdict row
      assert(gated.count() === train.count())
      val flagged = gated.filter($"reject_reason" === "contaminated")
        .select($"doc_id").as[Long].collect().toSet
      val exact = graft.data.Decontaminate.hits(train, bench, "doc_id", "text", n = 3)
        .select($"doc_id").as[Long].collect().toSet
      assert(exact.nonEmpty, "sf0.1 fixture produced no contamination — vacuous")
      // gate order: only docs that PASSED the cheap gates carry the
      // contamination verdict, so compare on that population
      val cheapRejected = gated
        .filter($"reject_reason".isin("too_short", "lang"))
        .select($"doc_id").as[Long].collect().toSet
      val exactGateable = exact -- cheapRejected
      assert(exactGateable.subsetOf(flagged),
        s"gate missed exact hits: ${(exactGateable -- flagged).take(5)}")
      // FPs stay a sliver of the gateable clean docs
      val gateable = gated.filter($"reject_reason".isNull || $"reject_reason" === "contaminated")
      val clean = gateable.count() - exactGateable.size
      assert(flagged.size - exactGateable.size <= math.max(10L, (clean * 0.10).toLong),
        s"FP rate out of band: ${flagged.size - exactGateable.size} of $clean")
      // batch ≡ streaming on a mixed slice (includes contaminated docs)
      implicit val sc = spark.sqlContext
      val slice = (train.filter($"doc_id".isin(flagged.take(20).toSeq: _*))
        .unionByName(train.limit(30)))
        .select($"doc_id", $"text").as[(Long, String)].collect().distinct
      val stamp = graft.connectors.Bucketing.stampDir(s"$dir/documents.parquet")
      val model = graft.data.ModelStore.bytesOrTrain(
        s"${graft.data.ModelStore.rootFor(dir)}/bloom-n3-$stamp")(
        sys.error("campaign model must already be persisted by dIngestGate"))
      val mem = MemoryStream[(Long, String)]
      val q = CorpusIngest.verdict(
        mem.toDS().toDF("doc_id", "text"), "text", Seq("en"), 5, Some((model, 3)))
        .select($"doc_id", $"reject_reason")
        .writeStream.format("memory").queryName("ingest_sf01").outputMode("append").start()
      try {
        val (h, t) = slice.splitAt(slice.length / 2)
        mem.addData(h: _*); q.processAllAvailable()
        mem.addData(t: _*); q.processAllAvailable()
        val streamed = spark.table("ingest_sf01").as[(Long, Option[String])].collect().toMap
        val batchSlice = gated.filter($"doc_id".isin(slice.map(_._1): _*))
          .select($"doc_id", $"reject_reason").as[(Long, Option[String])].collect().toMap
        assert(streamed === batchSlice)
        assert(streamed.values.exists(_.contains("contaminated")),
          "parity slice exercised no contaminated verdict — weak check")
      } finally q.stop()
    } finally gated.unpersist()
  }

  test("NULL-text docs: verdict pins lang = head profile and reject_reason = too_short") {
    // the contract the oracle SQL's `t IS NULL` arms replay (r12 review
    // finding): Scala langId on null tokens returns the HEAD profile
    // constant (comparisons against NULL scores never move bestLang), and
    // the cheap gate catches the null before lang ever matters — pinned
    // here because the driver fixtures carry no NULL texts to exercise it
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, "the a of and to is plenty of english tokens here")
    ).toDF("doc_id", "text")
    val v = CorpusIngest.verdict(docs, "text", Seq("en"), 5)
      .select($"doc_id", $"lang", $"reject_reason")
      .as[(Long, String, Option[String])].collect()
      .map { case (k, l, r) => k -> ((l, r)) }.toMap
    assert(v(1L) === (graft.data.TextAnalysis.langProfiles.head._1, Some("too_short")))
    assert(v(2L) === ("en", None))
  }

  test("verdictExact ≡ bloom gate minus FPs: exact face flags exactly the gateable exact hits") {
    // the d_ingest_gate_exact entry's semantic tie to the bloom face: same
    // gate order and cheap-gate verdicts, and its 'contaminated' set is
    // EXACTLY the exact-join hits that survive the cheap gates (no FPs) —
    // i.e. a subset of what the bloom face flags
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val docs = graft.core.Tables.documents(spark, dir)
    val bench = docs.filter(pmod($"doc_id", lit(97)) === 0)
    val train = docs.filter(pmod($"doc_id", lit(97)) =!= 0)
    val exactFace = graft.queries.DataQueries.dIngestGateExact(spark, dir).cache()
    try {
      assert(exactFace.count() === train.count())
      val flaggedExact = exactFace.filter($"reject_reason" === "contaminated")
        .select($"doc_id").as[Long].collect().toSet
      val cheapRejected = exactFace
        .filter($"reject_reason".isin("too_short", "lang"))
        .select($"doc_id").as[Long].collect().toSet
      val exactHits = graft.data.Decontaminate.hits(train, bench, "doc_id", "text", n = 3)
        .select($"doc_id").as[Long].collect().toSet
      assert(flaggedExact === (exactHits -- cheapRejected),
        "exact face must flag exactly the cheap-gate-surviving exact hits")
      assert(flaggedExact.nonEmpty, "sf0.01 produced no exact contamination — vacuous")
      // subset of the bloom face's flags (bloom adds only FPs on top)
      val bloomFlagged = graft.queries.DataQueries.dIngestGate(spark, dir)
        .filter($"reject_reason" === "contaminated")
        .select($"doc_id").as[Long].collect().toSet
      assert(flaggedExact.subsetOf(bloomFlagged),
        s"bloom face missed exact hits: ${(flaggedExact -- bloomFlagged).take(5)}")
      // cheap-gate verdicts agree between the two faces row-for-row
      val bloomCheap = graft.queries.DataQueries.dIngestGate(spark, dir)
        .filter($"reject_reason".isin("too_short", "lang"))
        .select($"doc_id", $"reject_reason").as[(Long, String)].collect().toMap
      val exactCheap = exactFace
        .filter($"reject_reason".isin("too_short", "lang"))
        .select($"doc_id", $"reject_reason").as[(Long, String)].collect().toMap
      assert(exactCheap === bloomCheap)
    } finally exactFace.unpersist()
  }

  test("verdictExact plan shape: one regex tokenize per corpus branch (ComputeOnce pin holds)") {
    // TextAnalysis.ngrams is a Column BUILDER that substitutes its toks
    // argument into the per-gram transform lambda — an unpinned
    // tokens(text) there re-runs the regex once per GRAM (measured 8× at
    // sf0.1). The exact face has exactly three tokenizing branches
    // (verdict, probe, bench-gram), so the optimized plan must contain
    // exactly three split(text…) occurrences; a fourth (or more) means a
    // pin was dropped and the tokenizer leaked into a lambda or an
    // optimizer-duplicated filter.
    val plan = graft.queries.DataQueries
      .dIngestGateExact(spark, "/root/testdata/sf0.01")
      .queryExecution.optimizedPlan.treeString
    val splits = "split\\(text".r.findAllIn(plan).size
    assert(splits === 3,
      s"expected exactly 3 tokenize sites (verdict/probe/bench branches), found $splits — " +
        "a ComputeOnce pin below an explode(ngrams(...)) was probably dropped")
  }

  test("media ingest capstone: gate order, batch/streaming parity, rejected media never reaches state") {
    import graft.data.Multimodal
    def mk(f: Int => Int, n: Int = 144): Array[Byte] = Array.tabulate(n)(i => f(i).toByte)
    val img1 = mk(i => (i * 7) % 251)
    val img2 = { val a = img1.clone(); a(10) = 0xff.toByte; a } // near-dup of img1
    val tiny = mk(i => i, 8)                                    // too_small
    val huge = mk(i => i, 4096)                                 // too_large at maxBytes=1024
    val rows: Seq[(Long, Array[Byte], String)] = Seq(
      (1L, img1, "image/png"),
      (2L, img2, "image/jpeg"),
      (3L, tiny, "image/png"),
      (4L, huge, "image/png"),
      (5L, img1.clone(), "video/mp4"), // near-dup payload but DISALLOWED mime
      (6L, null, "image/png"))
    val df = rows.toDF("doc_id", "bin", "mime")
    val allowed = Seq("image/png", "image/jpeg")
    // gate order: first failing gate wins; NULL payload is too_small
    val got = Multimodal
      .mediaVerdict(df, "bin", "mime", allowed, minBytes = 64, maxBytes = 1024L)
      .select($"doc_id", $"reject_reason").as[(Long, Option[String])].collect().toMap
    assert(got === Map(
      1L -> None, 2L -> None, 3L -> Some("too_small"), 4L -> Some("too_large"),
      5L -> Some("mime"), 6L -> Some("too_small")))

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], String)]
    val (accepted, hits) = Multimodal.ingest(
      mem.toDS().toDF("doc_id", "bin", "mime"),
      "doc_id", "bin", "mime", allowed, minBytes = 64, maxBytes = 1024L)
    val qa = accepted.writeStream.format("memory").queryName("media_ok").outputMode("append").start()
    val qh = hits.writeStream.format("memory").queryName("media_dup").outputMode("append").start()
    try {
      // batch 1: the original + the junk (incl. the DISALLOWED near-dup
      // payload 5 — if it leaked into state, doc 2 would dup against 5)
      mem.addData(rows.filter(_._1 != 2L): _*)
      qa.processAllAvailable(); qh.processAllAvailable()
      val okIds = spark.table("media_ok").select($"doc_id").as[Long].collect().toSet
      assert(okIds === Set(1L), s"streaming accept set diverged: $okIds")
      // batch 2: the near-dup arrives — it must hit doc 1, NOT doc 5
      mem.addData((2L, img2, "image/jpeg"))
      qa.processAllAvailable(); qh.processAllAvailable()
      assert(spark.table("media_ok").select($"doc_id").as[Long].collect().toSet === Set(1L, 2L))
      val dup = spark.table("media_dup").as[(Long, Long)].collect().toSet
      assert(dup === Set((2L, 1L)),
        s"near image must dup against the ACCEPTED original only, got $dup")
    } finally { qa.stop(); qh.stop() }
  }

  test("media ingest: bandBits = 64 refused before the stream starts") {
    // 64 divides 64, but a 64-bit band's mask is 0 on the JVM, so the gate
    // would band every accepted image to p0_0
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], String)]
    intercept[IllegalArgumentException](
      graft.data.Multimodal.ingest(
        mem.toDS().toDF("doc_id", "bin", "mime"), "doc_id", "bin", "mime",
        Seq("image/png"), minBytes = 64, maxBytes = 1024L, bandBits = 64))
  }

  test("streaming perceptual gate: near image hits its first-seen original, far image passes clean") {
    import graft.data.Multimodal
    def mk(f: Int => Int, n: Int = 144): Array[Byte] = Array.tabulate(n)(i => f(i).toByte)
    val img1 = mk(i => (i * 7) % 251)
    val img2 = { val a = img1.clone(); a(10) = 0xff.toByte; a } // ham <= 2 of img1
    val img3 = mk(i => if (i % 2 == 0) 5 else 250)
    // reference bands: the gate hits iff any 8-bit band value matches a
    // prior image's — assert the crafted geometry up-front so the
    // streaming assertions below test the GATE, not luck
    def refFp(bs: Array[Byte]): Long = {
      def s(g: Int) = bs((g * bs.length) / 72) & 0xff
      (for { r <- 0 until 8; c <- 0 until 8 } yield
        if (s(r * 9 + c) < s(r * 9 + c + 1)) 1L << (r * 8 + c) else 0L).foldLeft(0L)(_ | _)
    }
    def bandsOf(fp: Long): Set[(Int, Long)] =
      (0 until 8).map(b => (b, (fp >> (b * 8)) & 255L)).toSet
    val (b1, b2, b3) = (bandsOf(refFp(img1)), bandsOf(refFp(img2)), bandsOf(refFp(img3)))
    assert((b1 & b2).nonEmpty, "near pair must share a band (hamming <= 2 over 8 bands)")
    assert((b3 & (b1 ++ b2)).isEmpty, "far image accidentally collides — re-craft the fixture")

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val hits = Multimodal.streamingPerceptualDupCandidates(
      mem.toDS().toDF("doc_id", "bin"), "doc_id", "bin")
    val q = hits.writeStream.format("memory").queryName("phash_dup").outputMode("append").start()
    try {
      mem.addData((1L, img1))
      q.processAllAvailable()
      assert(spark.table("phash_dup").as[(Long, Long)].collect().isEmpty,
        "first-seen image must not self-hit")
      mem.addData((2L, img2), (3L, img3))
      q.processAllAvailable()
      val dup = spark.table("phash_dup").as[(Long, Long)].collect().toSet
      assert(dup.contains((2L, 1L)), s"near image must hit its original, got $dup")
      assert(!dup.exists(_._1 == 3L), s"far image must pass clean, got $dup")
    } finally q.stop()
  }

  test("streaming index maintenance: epoch-fenced appends per micro-batch through foreachBatch — kill-and-resume, replay skips, index == accepted-rows rebuild") {
    // the d_ingest_index_capstone loop run through the ACTUAL streaming
    // engine: each micro-batch gates its rows and appends the accepted
    // bands under appendBucketedExactlyOnce, with the epoch fence derived
    // from the foreachBatch batchId (contiguous by engine contract — a
    // gap would land in the fence's rebuild arm and fail loudly here).
    // The batch-grain fence outcomes are pinned in ScaleMechanicsSpec;
    // what this adds is the engine-level composition: batchIds advance the
    // marker across a kill-and-resume, and a replayed last epoch (the
    // at-least-once window foreachBatch exposes when a crash lands between
    // the append and the batch commit) skips with zero data motion.
    implicit val sc = spark.sqlContext
    import graft.connectors.Bucketing
    import graft.data.SnapshotOps
    import org.apache.spark.sql.functions.length
    val base = tmpDir("ingest_idx_stream").toString
    val dir = s"$base/bands"
    val ckpt = s"$base/ckpt"
    def bands(df: org.apache.spark.sql.DataFrame) =
      SnapshotOps.nearDupBandIndex(df, "doc_id", "text")
    def boom = sys.error("fence must not evaluate this frame"): org.apache.spark.sql.DataFrame
    val batchA = Seq((1L, s"$en alpha"), (2L, short), (3L, s"$en gamma"))
    val batchB = Seq((4L, s"$en delta"), (5L, "no"))
    val batchC = Seq((6L, s"$en zeta"))
    def acceptedOf(docs: Seq[(Long, String)]) = docs.filter(_._2.length >= 20)
    // bootstrap: the empty pre-state of epoch 0, stamped as epoch -1
    Bucketing.ensureBucketed(
      spark, bands(Seq.empty[(Long, String)].toDF("doc_id", "text")),
      dir, "bucket", 4, sourceStamp = "epoch=-1")
    def appendEpoch(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val accepted = df.filter(length(df("text")) >= 20)
      Bucketing.appendBucketedExactlyOnce(
        spark, bands(accepted), boom, boom,
        dir, "bucket", 4, s"epoch=${id - 1}", s"epoch=$id")
      (): Unit
    }
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(appendEpoch _)
      .start()
    def indexSet = Bucketing.read(spark, dir)
      .as[(Long, Int, String)].collect().toSet
    def expect(docs: Seq[(Long, String)]) =
      bands(acceptedOf(docs).toDF("doc_id", "text")).as[(Long, Int, String)].collect().toSet
    val q1 = start()
    try {
      mem.addData(batchA: _*); q1.processAllAvailable()
      assert(indexSet === expect(batchA), "epoch-0 append drifted from the accepted rows")
      assert(!indexSet.exists(_._1 == 2L), "a rejected doc's bands reached the index")
      mem.addData(batchB: _*); q1.processAllAvailable()
      assert(indexSet === expect(batchA ++ batchB))
    } finally q1.stop() // KILL; batch C arrives while the query is down
    // maintenance window: compact the appends-grown index while the query
    // is down — physical-only, so the epoch fence must not see it (stamp
    // byte-identical) and the resumed stream must keep appending as if
    // nothing happened
    val filesBefore = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    // the maintenance window must actually run: ≤ nBuckets files would hit
    // compactBucketed's no-op skip and the asserts below would pass over
    // an untouched table (code-review r18)
    assert(filesBefore > 4, s"fixture left only $filesBefore files — compaction would no-op")
    Bucketing.compactBucketed(spark, dir, "bucket", 4)
    val filesAfter = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(filesAfter <= math.min(filesBefore, 4),
      s"mid-stream compact: $filesBefore -> $filesAfter files")
    assert(Bucketing.readStamp(dir) === Some("epoch=1"),
      "compaction must preserve the epoch fence stamp")
    assert(indexSet === expect(batchA ++ batchB), "compaction changed the indexed rows")
    mem.addData(batchC: _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(indexSet === expect(batchA ++ batchB ++ batchC),
        "resume on the same checkpoint must append exactly the missed batch")
    } finally q2.stop()
    // the at-least-once boundary: the engine re-runs the last foreachBatch
    // when killed between the append and the batch commit — the postStamp
    // fence must skip with zero data motion (all frames by-name boom)
    val lastEpoch = Bucketing.readStamp(dir).get.stripPrefix("epoch=").toLong
    Bucketing.appendBucketedExactlyOnce(
      spark, boom, boom, boom,
      dir, "bucket", 4, s"epoch=${lastEpoch - 1}", s"epoch=$lastEpoch")
    assert(indexSet === expect(batchA ++ batchB ++ batchC), "replayed epoch moved data")
  }

  test("multi-writer index: two concurrent ingest streams append ONE index exactly-once — replays fenced, fold absorbs the committed prefix, serve = exact union (VERDICT r19 #6)") {
    // Bucketing's marker fence is single-writer per path by design; the
    // multi-writer composition routes concurrent writers through the
    // TxnLogSink manifest race (per-writer exactly-once) and folds the
    // committed log into the bucketed base under the SAME single-writer
    // fence — each delta row served exactly once, from the base or the
    // tail, never both. This arm runs TWO live streaming queries against
    // one index dir, interleaves their epochs, replays a committed epoch,
    // folds mid-stream, appends more, and re-folds.
    implicit val sc = spark.sqlContext
    import graft.connectors.{Bucketing, MultiWriterIndex}
    import graft.data.SnapshotOps
    val root = tmpDir("mw_index").toString
    val idx = s"$root/idx"
    def bands(df: org.apache.spark.sql.DataFrame) =
      SnapshotOps.nearDupBandIndex(df, "doc_id", "text")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, String)] =
      df.as[(Long, Int, String)].collect().toSeq.sorted
    // disjoint id spaces, all docs long enough to band
    def docA(e: Int, i: Int) = (1000L * (e + 1) + i, s"$en writerA epoch$e doc$i tail${e * 10 + i}")
    def docB(e: Int, i: Int) = (5000L * (e + 1) + i, s"$fr writerB epoch$e doc$i tail${e * 10 + i}")
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    def start(mem: MemoryStream[(Long, String)], writer: String, ckpt: String) =
      mem.toDS().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
          MultiWriterIndex.appendDelta(bands(df), idx, writer, id))
        .start()
    def served = rowsOf(MultiWriterIndex.read(spark, idx, "bucket", 4))
    // pre-flight edges: a fold before any commit is an explicit nothing
    // (the unconditional-cadence first tick), and a writerId that would
    // corrupt the fold-stamp grammar is refused upfront
    assert(MultiWriterIndex.fold(spark, idx, "bucket", 4).isEmpty)
    intercept[IllegalArgumentException](MultiWriterIndex.appendDelta(
      bands(Seq((1L, en)).toDF("doc_id", "text")), idx, "w=bad,id", 0L))
    val qA = start(memA, "wa", s"$root/ckptA")
    val qB = start(memB, "wb", s"$root/ckptB")
    try {
      // interleaved epochs from two LIVE queries against one index
      memA.addData((0 until 3).map(docA(0, _)): _*)
      memB.addData((0 until 2).map(docB(0, _)): _*)
      qA.processAllAvailable(); qB.processAllAvailable()
      memB.addData((0 until 2).map(docB(1, _)): _*)
      memA.addData((0 until 3).map(docA(1, _)): _*)
      qB.processAllAvailable(); qA.processAllAvailable()
      val all1 = ((0 until 3).map(docA(0, _)) ++ (0 until 3).map(docA(1, _)) ++
        (0 until 2).map(docB(0, _)) ++ (0 until 2).map(docB(1, _)))
      val want1 = rowsOf(bands(all1.toDF("doc_id", "text")))
      assert(served === want1, "pre-fold log view lost or duplicated a delta")
      // REPLAYED epoch (the at-least-once window): the manifest fence
      // skips — even a different frame for the same (writer, epoch)
      // moves nothing
      MultiWriterIndex.appendDelta(
        bands(Seq((9999L, s"$en poison replay row")).toDF("doc_id", "text")), idx, "wa", 0L)
      assert(served === want1, "replayed writer epoch moved data")
      // FOLD while both queries are live: absorbs exactly the committed
      // prefix, fence records the per-writer high-water vector
      val folded = MultiWriterIndex.fold(spark, idx, "bucket", 4)
      assert(rowsOf(folded) === want1, "fold lost or duplicated rows")
      assert(Bucketing.readStamp(s"$idx/base")
        .flatMap(MultiWriterIndex.parseFoldStamp) === Some((Map("wa" -> 1L, "wb" -> 1L), "")))
      assert(served === want1, "post-fold serve drifted (base ∪ empty tail)")
      // duplicate fold is a marker-read no-op
      assert(rowsOf(MultiWriterIndex.fold(spark, idx, "bucket", 4)) === want1)
      // more deltas AFTER the fold: served from the tail until re-folded
      memA.addData((0 until 2).map(docA(2, _)): _*)
      qA.processAllAvailable()
      val all2 = all1 ++ (0 until 2).map(docA(2, _))
      val want2 = rowsOf(bands(all2.toDF("doc_id", "text")))
      assert(served === want2, "post-fold tail lost or duplicated the new delta")
      // replay of an ALREADY-FOLDED epoch still skips (manifests retained)
      MultiWriterIndex.appendDelta(
        bands(Seq((9998L, s"$en second poison")).toDF("doc_id", "text")), idx, "wb", 1L)
      assert(served === want2, "replay of a folded epoch moved data")
      // re-fold absorbs only the unfolded slice; serve unchanged
      assert(rowsOf(MultiWriterIndex.fold(spark, idx, "bucket", 4)) === want2)
      assert(Bucketing.readStamp(s"$idx/base")
        .flatMap(MultiWriterIndex.parseFoldStamp) === Some((Map("wa" -> 2L, "wb" -> 1L), "")))
      assert(served === want2)
      // fold cadence keeps the base compact: two data-moving folds would
      // otherwise leave ~2 files in every touched bucket — the in-fold
      // compaction pass bounds it at one, with the fold fence unmoved
      val perBucket = {
        val re = """.*_(\d+)(?:\..*)?$""".r
        Option(new java.io.File(s"$idx/base").listFiles()).getOrElse(Array.empty).toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .flatMap(f => f.getName match { case re(id) => Some(id.toInt); case _ => None })
          .groupBy(identity).view.mapValues(_.size)
      }
      assert(perBucket.nonEmpty && perBucket.values.max <= 1,
        s"fold cadence left fragmented buckets: ${perBucket.toMap}")
      // TORN fold (marker gone mid-swap): rebuild-never-trust from the log
      assert(new java.io.File(s"$idx/base", "_GRAFT_BUCKETED_DDL").delete())
      assert(rowsOf(MultiWriterIndex.fold(spark, idx, "bucket", 4)) === want2,
        "torn-fold rebuild drifted from the committed log")
      assert(served === want2)
    } finally { qA.stop(); qB.stop() }
  }

  test("multi-writer index: a tail read under another key/bucket spec than the fold's serves the log's rows") {
    // the pinned-base read declares the CALLER's (key, buckets) to the
    // planner; a base folded under a different spec must not be served
    // through it (bucket pruning would pick the wrong files), so the read
    // falls back to the log and answers every per-key lookup exactly
    import graft.connectors.{MultiWriterIndex, TxnLogSink}
    import org.apache.spark.sql.functions.col
    val idx = tmpDir("mw_spec").toString + "/idx"
    def rows(ks: Range) = ks.map(k => (k.toLong, s"val$k")).toDF("k", "v")
    MultiWriterIndex.appendDelta(rows(0 until 16), idx, "w", 0L)
    MultiWriterIndex.fold(spark, idx, "k", 4).count()
    // an unfolded tail, so reads take the pinned-base path
    MultiWriterIndex.appendDelta(rows(16 until 20), idx, "w", 1L)
    val logView = TxnLogSink(s"$idx/deltalog").readSlice(spark).get
    def sorted(df: org.apache.spark.sql.DataFrame) = df.as[(Long, String)].collect().toSeq.sorted
    assert(sorted(logView) === sorted(rows(0 until 20)))
    for ((key, buckets) <- Seq(("k", 8), ("v", 4), ("k", 4))) {
      val served = MultiWriterIndex.read(spark, idx, key, buckets)
      assert(sorted(served) === sorted(logView), s"read under ($key, $buckets)")
      (0 until 20).foreach { k =>
        val probe = col(key) === (if (key == "k") k.toLong else s"val$k")
        assert(sorted(served.filter(probe)) === Seq((k.toLong, s"val$k")),
          s"lookup of $k under ($key, $buckets)")
      }
    }
  }

  test("compaction bumps the marker generation: a bracketing marker read sees it; stamp, spec and the pinned base read still accept") {
    // a foreign JVM's compaction finishing between the pinned tail read's
    // two marker reads must change the marker: equal reads would let a
    // listing taken mid-swap miss the swapped-in files silently
    import graft.connectors.{Bucketing, MultiWriterIndex}
    val root = tmpDir("marker_gen").toString
    val (dir, idx) = (s"$root/plain", s"$root/idx")
    def rows(ks: Range) = ks.map(k => (k.toLong, s"val$k")).toDF("k", "v")
    def sorted(df: org.apache.spark.sql.DataFrame) = df.as[(Long, String)].collect().toSeq.sorted
    Bucketing.ensureBucketed(spark, rows(0 until 16), dir, "k", 4, sourceStamp = "s0")
    Bucketing.appendBucketed(spark, rows(16 until 32), dir, "k", 4, "s1")
    val before = Bucketing.readMarkerContent(dir)
    Bucketing.compactBucketed(spark, dir, "k", 4)
    val after = Bucketing.readMarkerContent(dir)
    assert(before.isDefined && after.isDefined && after != before,
      "a compaction must change the marker content")
    assert(Bucketing.readStamp(dir) === Some("s1"), "compaction must preserve the stamp")
    // the build spec still matches: a re-read must not rebuild
    val reRead = Bucketing.ensureBucketed(spark,
      sys.error("a compacted marker must read back, not rebuild"): org.apache.spark.sql.DataFrame,
      dir, "k", 4, sourceStamp = "s1")
    assert(sorted(reRead) === sorted(rows(0 until 32)))
    // the multi-writer fold compacts its base; with an unfolded tail the
    // read must still take the pinned base listing, not the log fallback
    MultiWriterIndex.appendDelta(rows(0 until 16), idx, "w", 0L)
    MultiWriterIndex.fold(spark, idx, "k", 4).count()
    MultiWriterIndex.appendDelta(rows(16 until 32), idx, "w", 1L)
    MultiWriterIndex.fold(spark, idx, "k", 4).count()
    assert(Bucketing.readMarkerContent(s"$idx/base").exists(_.linesIterator.exists(_.startsWith("gen="))),
      "the fold's compaction did not run")
    MultiWriterIndex.appendDelta(rows(32 until 36), idx, "w", 2L)
    val served = MultiWriterIndex.read(spark, idx, "k", 4)
    assert(sorted(served) === sorted(rows(0 until 36)))
    assert(served.inputFiles.exists(_.contains(s"$idx/base/")),
      s"the pinned base read refused a compacted marker: ${served.inputFiles.mkString(", ")}")
  }

  test("streaming compaction cadence: threshold compact INSIDE foreachBatch while the query runs — file counts bounded, fences and answers unchanged") {
    // VERDICT r18 #4: the maintenance-window arm above compacts while the
    // query is DOWN; production wants the unconditional per-batch call
    // right after the fenced append (compactBucketed's per-bucket no-op
    // skip makes it cheap when within budget, the threshold triggers it
    // mid-stream when a bucket's file count warrants). This pins: the
    // compact fires WHILE the query runs, per-bucket file counts stay
    // within the threshold across the whole run, and neither the epoch
    // fence nor the answers see any of it.
    implicit val sc = spark.sqlContext
    import graft.connectors.Bucketing
    import graft.data.SnapshotOps
    val base = tmpDir("ingest_idx_cadence").toString
    val dir = s"$base/bands"
    val ckpt = s"$base/ckpt"
    val threshold = 2
    def bands(df: org.apache.spark.sql.DataFrame) =
      SnapshotOps.nearDupBandIndex(df, "doc_id", "text")
    def boom = sys.error("fence must not evaluate this frame"): org.apache.spark.sql.DataFrame
    // 8 distinct docs per batch: each batch's band rows hit all 4 physical
    // buckets, so WITHOUT compaction every bucket would grow ~1 file per
    // batch — 5 batches would breach the threshold everywhere
    def batchRows(b: Int): Seq[(Long, String)] =
      (0 until 8).map(i => (b * 100L + i, s"$en batch$b doc$i tail${b * 8 + i}"))
    def perBucketCounts: Map[Int, Int] = {
      val re = """.*_(\d+)(?:\..*)?$""".r
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .flatMap(f => f.getName match { case re(id) => Some(id.toInt); case _ => None })
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    Bucketing.ensureBucketed(
      spark, bands(Seq.empty[(Long, String)].toDF("doc_id", "text")),
      dir, "bucket", 4, sourceStamp = "epoch=-1")
    @volatile var compactedMidStream = false
    def appendEpoch(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      Bucketing.appendBucketedExactlyOnce(
        spark, bands(df), boom, boom,
        dir, "bucket", 4, s"epoch=${id - 1}", s"epoch=$id")
      // production cadence: unconditional maintenance call after the fenced
      // append — the per-bucket threshold decides whether anything moves
      if (perBucketCounts.values.exists(_ > threshold)) compactedMidStream = true
      Bucketing.compactBucketed(spark, dir, "bucket", 4, maxFilesPerBucket = threshold)
      (): Unit
    }
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(appendEpoch _)
      .start()
    try {
      val all = (0 until 5).map(batchRows)
      all.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
      assert(compactedMidStream,
        "fixture never crossed the threshold — the cadence arm tested nothing")
      val counts = perBucketCounts
      assert(counts.values.forall(_ <= threshold),
        s"per-batch compaction failed to bound the file counts: $counts")
      assert(Bucketing.readStamp(dir) === Some("epoch=4"),
        "compaction inside the loop must preserve the advancing epoch stamps")
      val indexSet = Bucketing.read(spark, dir).as[(Long, Int, String)].collect().toSet
      val expected = bands(all.flatten.toDF("doc_id", "text")).as[(Long, Int, String)].collect().toSet
      assert(indexSet === expected, "mid-stream compaction changed the indexed rows")
      // the at-least-once replay window: the fence still skips cleanly
      Bucketing.appendBucketedExactlyOnce(
        spark, boom, boom, boom, dir, "bucket", 4, "epoch=3", "epoch=4")
      assert(Bucketing.read(spark, dir).as[(Long, Int, String)].collect().toSet === expected,
        "replayed epoch moved data")
    } finally q.stop()
  }
}
