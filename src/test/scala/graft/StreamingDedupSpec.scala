package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.data.Dedup

/** Streaming near-dup candidate gate: banded MinHash buckets in keyed state,
  * collisions flagged in the arriving micro-batch.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("streaming near-dup: non-integral id column rejected with a clear error") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val e = intercept[IllegalArgumentException] {
      Dedup.streamingNearDupCandidates(mem.toDS().toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e.getMessage.contains("must be integral"))
    assert(e.getMessage.contains("xxhash64"), "error should point at the workaround")
  }

  test("streaming near-dup: cross-batch and within-batch collisions flagged, clean docs silent") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val hits = Dedup.streamingNearDupCandidates(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = hits.writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try {
      val textA = "the quick brown fox jumps over the lazy dog tonight"
      val textB = "completely different content about spark shuffle partitions here"
      mem.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      assert(spark.table("neardup").count() === 0, "first arrivals must not flag")
      // identical doc in a later batch → flagged against the original
      mem.addData((3L, textA))
      q.processAllAvailable()
      val hit3 = spark.table("neardup").as[(Long, Long)].collect().toSet
      assert(hit3.nonEmpty && hit3.forall(_ == (3L -> 1L)))
      // NEAR-duplicate (one word changed): most bands still collide
      mem.addData((4L, textA.replace("tonight", "today")))
      q.processAllAvailable()
      val hit4 = spark.table("neardup").as[(Long, Long)].collect().toSet
      assert(hit4.contains(4L -> 1L), s"near-dup 4 not flagged against 1: $hit4")
      // within-batch pair of a brand-new text: lowest id owns, higher flags
      val textC = "rivers carve canyons while glaciers polish ancient granite walls slowly"
      mem.addData((6L, textC), (5L, textC))
      q.processAllAvailable()
      val all = spark.table("neardup").as[(Long, Long)].collect().toSet
      assert(all.contains(6L -> 5L), s"within-batch dup 6->5 missing: $all")
      assert(!all.exists(_._1 == 5L), "batch owner 5 must not be flagged")
      // short doc (< n tokens): silently passes, never flags
      mem.addData((7L, "too short"))
      q.processAllAvailable()
      assert(!spark.table("neardup").as[(Long, Long)].collect().exists(_._1 == 7L))
    } finally q.stop()
  }

  test("nearDupGateBatch / perceptualGateBatch ≡ the streaming gates' single-batch output, row for row") {
    // the contract the oracle rows (d_neardup_gate, m_ingest_hits) rest
    // on: the batch faces ARE the deterministic replay of one micro-batch
    // against empty state — same hits, same multiplicities
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark shuffle partitions here"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "rivers carve canyons while glaciers polish ancient granite walls slowly"),
      (6L, "rivers carve canyons while glaciers polish ancient granite walls slowly"),
      (7L, "too short"))
    val mem = MemoryStream[(Long, String)]
    val hits = Dedup.streamingNearDupCandidates(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = hits.writeStream.format("memory").queryName("gate_replay").outputMode("append").start()
    val streamed = try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      spark.table("gate_replay").as[(Long, Long)].collect().toVector.sorted
    } finally q.stop()
    val batch = Dedup.nearDupGateBatch(docs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long)].collect().toVector.sorted
    assert(batch.nonEmpty, "fixture must produce hits")
    assert(batch === streamed, s"batch replay diverged: batch=$batch streamed=$streamed")

    val media = Seq(
      (10L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa".getBytes("UTF-8")),
      (11L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa".getBytes("UTF-8")),
      (12L, "something else entirely, very different pixel soup 0123456789".getBytes("UTF-8")),
      (13L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaab".getBytes("UTF-8")))
    val memM = MemoryStream[(Long, Array[Byte])]
    val hitsM = graft.data.Multimodal.streamingPerceptualDupCandidates(
      memM.toDS().toDF("doc_id", "bin"), "doc_id", "bin")
    val qM = hitsM.writeStream.format("memory").queryName("pgate_replay").outputMode("append").start()
    val streamedM = try {
      memM.addData(media: _*)
      qM.processAllAvailable()
      spark.table("pgate_replay").as[(Long, Long)].collect().toVector.sorted
    } finally qM.stop()
    val batchM = graft.data.Multimodal
      .perceptualGateBatch(media.toDF("doc_id", "bin"), "doc_id", "bin")
      .as[(Long, Long)].collect().toVector.sorted
    assert(batchM.nonEmpty, "media fixture must produce hits")
    assert(batchM === streamedM, s"perceptual batch replay diverged: batch=$batchM streamed=$streamedM")
  }

  test("perceptual gates: bandBits = 64 refused by the batch replay and the streaming gate") {
    // a 64-bit band is the whole fingerprint, and its mask (1L << 64) - 1
    // is 0 on the JVM: every image would band to p0_0 and every accepted
    // image after the first would report as a near-dup of the first
    implicit val sc = spark.sqlContext
    val media = Seq((1L, "pixel soup".getBytes("UTF-8")), (2L, "other pixels".getBytes("UTF-8")))
    intercept[IllegalArgumentException](
      graft.data.Multimodal.perceptualGateBatch(media.toDF("doc_id", "bin"), "doc_id", "bin", bandBits = 64))
    val mem = MemoryStream[(Long, Array[Byte])]
    intercept[IllegalArgumentException](
      graft.data.Multimodal.streamingPerceptualDupCandidates(
        mem.toDS().toDF("doc_id", "bin"), "doc_id", "bin", bandBits = 64))
  }
}
