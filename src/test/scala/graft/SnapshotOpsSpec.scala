package graft

import org.apache.spark.sql.functions._
import graft.data.SnapshotOps

class SnapshotOpsSpec extends SparkSpec {
  import spark.implicits._

  test("snapshotDiff: classifies added/removed/changed/unchanged; 1:1 on ids") {
    val prev = Seq(
      (1L, "alpha"), (2L, "bravo"), (3L, "charlie old"), (4L, "delta")
    ).toDF("doc_id", "text")
    val curr = Seq(
      (1L, "alpha"), (3L, "charlie new"), (4L, "delta"), (5L, "echo")
    ).toDF("doc_id", "text")
    val got = SnapshotOps.snapshotDiff(prev, curr, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "unchanged", 2L -> "removed", 3L -> "changed",
      4L -> "unchanged", 5L -> "added"))
    // one output row per id — the join never fans out
    assert(got.size === 5)
  }

  test("snapshotDiff: identical snapshots are all-unchanged; empty prev is all-added") {
    val docs = (0L until 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val same = SnapshotOps.snapshotDiff(docs, docs, "doc_id", "text")
    assert(same.filter($"status" =!= "unchanged").count() === 0)
    val empty = docs.filter(lit(false))
    val allAdded = SnapshotOps.snapshotDiff(empty, docs, "doc_id", "text")
    assert(allAdded.filter($"status" =!= "added").count() === 0)
    assert(allAdded.count() === 50)
  }

  test("incrementalDedup: corpus hit beats within-delta dup; keeper is lowest id") {
    val corpus = Seq((100L, "ingested"), (101L, "other")).toDF("doc_id", "text")
    val delta = Seq(
      (1L, "ingested"),  // dup_corpus — even though id 1 is the batch minimum
      (2L, "fresh"),     // new (keeper of the fresh group)
      (3L, "fresh"),     // dup_delta
      (4L, "alone")      // new
    ).toDF("doc_id", "text")
    val got = SnapshotOps.incrementalDedup(corpus, delta, "doc_id", "text")
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "dup_corpus", 2L -> "new", 3L -> "dup_delta", 4L -> "new"))
  }

  test("snapshotDiff: swapping snapshots swaps added and removed, fixes changed/unchanged") {
    val a = (0L until 120L).map(i => (i, s"text ${i % 40}")).toDF("doc_id", "text")
    val b = (30L until 150L).map(i => (i, s"text ${i % 37}")).toDF("doc_id", "text")
    val fwd = SnapshotOps.snapshotDiff(a, b, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    val rev = SnapshotOps.snapshotDiff(b, a, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(fwd.keySet === rev.keySet)
    fwd.foreach { case (id, st) =>
      val expect = st match {
        case "added" => "removed"
        case "removed" => "added"
        case other => other
      }
      assert(rev(id) === expect, s"doc $id: fwd=$st rev=${rev(id)}")
    }
  }

  test("incrementalDedup converges: absorbing the 'new' keepers makes a replayed delta all-dup_corpus") {
    // texts drawn from a small pool so corpus-hits and within-delta dups both occur
    val corpus = (0L until 40L).map(i => (i, s"pool ${i % 25}")).toDF("doc_id", "text")
    val delta = (100L until 160L).map(i => (i, s"pool ${i % 37}")).toDF("doc_id", "text")
    val verdicts = SnapshotOps.incrementalDedup(corpus, delta, "doc_id", "text")
    val newIds = verdicts.filter($"verdict" === "new")
      .select($"doc_id").as[Long].collect().toSet
    assert(newIds.nonEmpty) // the property is vacuous otherwise
    val absorbed = corpus.unionByName(delta.filter($"doc_id".isInCollection(newIds)))
    val replayed = SnapshotOps.incrementalDedup(absorbed, delta, "doc_id", "text")
    val counts = replayed.groupBy($"verdict").count().as[(String, Long)].collect().toMap
    assert(counts === Map("dup_corpus" -> 60L), s"replay not converged: $counts")
  }

  test("incrementalDedupByHash: duplicate hashes in the manifest don't fan the delta out") {
    val manifest = Seq("a", "a", "b").toDF("h")
      .select(md5($"h").as("content_hash"))
    val delta = Seq((1L, "a"), (2L, "c")).toDF("doc_id", "text")
    val got = SnapshotOps.incrementalDedupByHash(manifest, delta, "doc_id", "text")
    assert(got.count() === 2)
    assert(got.filter($"doc_id" === 1 && $"verdict" === "dup_corpus").count() === 1)
    assert(got.filter($"doc_id" === 2 && $"verdict" === "new").count() === 1)
  }

  test("incrementalNearDup: catches NON-verbatim recrawls the exact face misses; dup_corpus wins; first-seen within delta") {
    // base doc plus a boilerplate-suffixed recrawl: near-dup, NOT exact-dup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val corpus = Seq(
      (10L, base),
      (11L, "completely different text about walruses and icebergs floating north")
    ).toDF("doc_id", "text")
    val fresh = "volcano geology basalt columns lava tubes caldera rims " * 4
    val delta = Seq(
      (20L, base + " cookie notice"),   // near-dup of ingested 10 -> dup_corpus
      (21L, "short fresh unrelated document about tide pools"),
      (22L, base + " cookie notice"),   // ALSO near-dups ingested 10 -> dup_corpus (wins over its delta-dup with 20)
      (23L, base),                      // exact text of ingested 10 -> dup_corpus
      (24L, fresh),                     // first-seen of a fresh near-dup pair -> new
      (25L, fresh + " trailing boilerplate")  // near-dups delta 24 only -> dup_delta
    ).toDF("doc_id", "text")
    val got = SnapshotOps
      .incrementalNearDup(corpus, delta, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      20L -> "dup_corpus", 21L -> "new", 22L -> "dup_corpus", 23L -> "dup_corpus",
      24L -> "new", 25L -> "dup_delta"))
    // the exact face MISSES the boilerplate recrawl — the reason this
    // operator exists
    val exact = SnapshotOps.incrementalDedup(corpus, delta, "doc_id", "text")
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(exact(20L) === "new")
    // sub-threshold overlap stays new: same vocabulary, low Jaccard
    val far = Seq((30L, "alpha beta gamma completely reshuffled with other words now"))
      .toDF("doc_id", "text")
    val gotFar = SnapshotOps.incrementalNearDup(corpus, far, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(gotFar(30L) === "new")
    // flood guard stays loud through this face — and the throw must not
    // strand the band-frame checkpoints (release-on-failure, r17)
    def blocks() = spark.sparkContext.getRDDStorageInfo.length
    val baseBlocks = blocks()
    val flood = (0L until 50L).map(i => (100L + i, base)).toDF("doc_id", "text")
    val err = intercept[IllegalStateException] {
      SnapshotOps.incrementalNearDup(corpus, flood, "doc_id", "text", maxBucketRows = 10)
    }
    assert(err.getMessage.contains("duplicate flood"), err.getMessage)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (blocks() > baseBlocks && System.nanoTime() < deadline) Thread.sleep(50)
    assert(blocks() <= baseBlocks,
      s"flood throw stranded checkpoint blocks: ${blocks()} vs baseline $baseBlocks")
  }

  test("incrementalNearDupIndexed: persisted band index ≡ inline rebuild; probes prune buckets; append ≡ rebuild") {
    import graft.connectors.Bucketing
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val fresh = "volcano geology basalt columns lava tubes caldera rims " * 4
    val corpus = Seq(
      (10L, base),
      (11L, "completely different text about walruses and icebergs floating north")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (20L, base + " cookie notice"),
      (21L, "short fresh unrelated document about tide pools"),
      (22L, base + " cookie notice"),
      (23L, base),
      (24L, fresh),
      (25L, fresh + " trailing boilerplate")
    ).toDF("doc_id", "text")
    val inline = SnapshotOps.incrementalNearDup(corpus, delta, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    val dir = tmpDir("graft_neardup_idx_spec").toString
    val idx = Bucketing.ensureBucketed(
      spark, SnapshotOps.nearDupBandIndex(corpus, "doc_id", "text"),
      dir, "bucket", 8, sourceStamp = "specA")
    // the index changes the read path, never the answer — pruned and unpruned
    assert(SnapshotOps.incrementalNearDupIndexed(idx, corpus, delta, "doc_id", "text")
      .as[(Long, String)].collect().toMap === inline)
    assert(SnapshotOps.incrementalNearDupIndexed(
      idx, corpus, delta, "doc_id", "text", pruneBuckets = false)
      .as[(Long, String)].collect().toMap === inline)
    // an oversized probe set falls back to the unpruned read, same answer
    assert(SnapshotOps.incrementalNearDupIndexed(
      idx, corpus, delta, "doc_id", "text", maxPruneBuckets = 1)
      .as[(Long, String)].collect().toMap === inline)
    // the 100 TB contract: a one-doc delta's buckets must prune the index
    // scan to a strict subset of its 8 file buckets. A STANDALONE filter
    // plan auto-disables the bucketed read ("disabled by query planner" —
    // nothing downstream wants the distribution), so pin with
    // autoBucketedScan off, the state the face's candidate JOIN induces.
    val oneDelta = Seq((30L, "a tiny single probe document")).toDF("doc_id", "text")
    val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val absPrev = spark.conf.get(abs)
    val plan = try {
      spark.conf.set(abs, "false")
      SnapshotOps.pruneIndexToDelta(
        idx, SnapshotOps.nearDupBandIndex(oneDelta, "doc_id", "text"), 65536)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set(abs, absPrev)
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in the indexed scan:\n${plan.take(2000)}")
    assert(sel.get.group(1).toInt < 8,
      s"one-doc probe read ${sel.get.group(1)} of 8 buckets — pruning bought nothing")
    // append ≡ rebuild: ingest the gated batch's bands, compare to a
    // from-scratch index over corpus ∪ delta (bands are a pure function of
    // each doc's own text, so the union IS the rebuild)
    val appended = Bucketing.appendBucketed(
      spark, SnapshotOps.nearDupBandIndex(delta, "doc_id", "text"),
      dir, "bucket", 8, newSourceStamp = "specB")
      .as[(Long, Int, String)].collect().toSet
    val rebuilt = SnapshotOps.nearDupBandIndex(
      corpus.unionByName(delta), "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(appended === rebuilt, "appended index drifted from a full rebuild")
    // the post-append stamp reads back (by-name df must never evaluate);
    // any other stamp would rebuild
    val reRead = Bucketing.ensureBucketed(
      spark, sys.error("appended stamp must read back, not rebuild"): org.apache.spark.sql.DataFrame,
      dir, "bucket", 8, sourceStamp = "specB")
    assert(reRead.count() === appended.size.toLong)
    // banding-parameter drift fails LOUDLY: an index built at (k=16,rows=2)
    // probed at rows=4 would otherwise produce zero collisions and verdict
    // every true near-dup `new` — silent wrong results (code-review r17)
    val errBand = intercept[IllegalArgumentException] {
      SnapshotOps.incrementalNearDupIndexed(
        reRead, corpus, delta, "doc_id", "text", rows = 4)
    }
    assert(errBand.getMessage.contains("DIFFERENT banding parameters"), errBand.getMessage)
    // an EMPTY index is legitimate (first batch): all verdicts `new`
    val emptyIdx = reRead.filter(lit(false))
    val firstBatch = SnapshotOps.incrementalNearDupIndexed(
      emptyIdx, corpus.filter(lit(false)), delta, "doc_id", "text")
      .as[(Long, String)].collect()
    assert(firstBatch.nonEmpty && firstBatch.forall(_._2 != "dup_corpus"))
  }

  test("incrementalNearDupIndexed: stamp-validated parameters skip the scan; drift and coverage holes fail loudly") {
    import graft.connectors.Bucketing
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val corpus = Seq(
      (10L, base),
      (11L, "completely different text about walruses and icebergs floating north")
    ).toDF("doc_id", "text")
    val delta = Seq((20L, base + " cookie notice"), (21L, "short fresh tide pools"))
      .toDF("doc_id", "text")
    val inline = SnapshotOps.incrementalNearDup(corpus, delta, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    val dir = tmpDir("graft_neardup_stamp_spec").toString
    val idx = Bucketing.ensureBucketed(
      spark, SnapshotOps.nearDupBandIndex(corpus, "doc_id", "text"),
      dir, "bucket", 8,
      sourceStamp = s"${SnapshotOps.bandStamp(3, 16, 2)}|specA")
    val stamp = Bucketing.readStamp(dir)
    assert(stamp.exists(_.contains(SnapshotOps.bandStamp(3, 16, 2))), s"stamp: $stamp")
    // stamped path: same verdicts as the inline face (and no structure scan)
    assert(SnapshotOps.incrementalNearDupIndexed(
      idx, corpus, delta, "doc_id", "text", indexStamp = stamp)
      .as[(Long, String)].collect().toMap === inline)
    // ANY parameter drift — including shingle-n, which preserves the band
    // count and is invisible to the structural max-band check — is loud
    val errN = intercept[IllegalArgumentException] {
      SnapshotOps.incrementalNearDupIndexed(
        idx, corpus, delta, "doc_id", "text", n = 4, indexStamp = stamp)
    }
    assert(errN.getMessage.contains("does not carry"), errN.getMessage)
    // the index ⊆ corpusText contract: a corpus-side text feed MISSING an
    // indexed doc would silently verdict its true near-dups `new`; the
    // opt-in coverage assert names the hole instead
    val holed = corpus.filter($"doc_id" =!= 10L)
    val errCov = intercept[IllegalStateException] {
      SnapshotOps.incrementalNearDupIndexed(
        idx, holed, delta, "doc_id", "text", indexStamp = stamp, checkCoverage = true)
    }
    assert(errCov.getMessage.contains("absent from corpusText"), errCov.getMessage)
    // and with the full corpus the same assert passes through unchanged
    assert(SnapshotOps.incrementalNearDupIndexed(
      idx, corpus, delta, "doc_id", "text", indexStamp = stamp, checkCoverage = true)
      .as[(Long, String)].collect().toMap === inline)
  }
}
