package graft

/** ORGANIC corpus generator for native-scale bench slices (VERDICT r17 #6).
  *
  * TESTDATA.md publishes no generator recipe (the driver owns it), so scale
  * claims beyond sf0.1 previously rested on ScaleProbe's REPLICATED tables —
  * honest for shuffle/scan volume, but replicated content is degenerate for
  * the content-addressed operators: every copy is an exact dup, LSH buckets
  * collapse, codebooks train on repeated points. This main regenerates the
  * corpus tables at any size with FRESH content matching sf0.1's measured
  * marginals (profiled 2026-08: 31-word vocabulary, 10–100 uniform tokens
  * per doc, langs {de,es,fr,zh}≈15% each / en≈41%, 20 sources, ~4.3% of
  * docs are near-dup recrawls of an earlier doc, ~0.16% exact dups;
  * embeddings 64-d unit-normalized in 10 label clusters), deterministic
  * under the given seed at ANY parallelism (per-row counter-seeded PRNG —
  * no partition-order dependence).
  *
  * Organic ≠ byte-faithful: absolute rates differ from the driver's unknown
  * generator, so sf1 numbers from this corpus are TREND evidence (does the
  * face scale linearly? do the index wins hold?), never floor anchors.
  *
  * usage: runMain graft.GenCorpus <outDir> <nDocs> <nVecs> [seed]
  */
object GenCorpus {
  private val Vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "de", "es", "fr", "zh")

  private def rndFor(seed: Long, id: Long, stream: Int): java.util.Random =
    new java.util.Random(seed * 1000003L + id * 31L + stream)

  /** The two special slices — each predicate is THE definition, shared by
    * [[isSpecial]] and the text branches in `main` so the slice membership
    * and the text generation cannot desynchronize (ADVICE r18: the branch
    * conditions re-stated these inline).
    */
  private def isExactDupSlice(id: Long): Boolean = id > 0 && id % 640 == 639
  private def isRecrawlSlice(id: Long): Boolean = id > 10 && id % 23 == 7

  /** A doc id that belongs to one of the special slices (exact dup or
    * recrawl), i.e. whose STORED text is not its own [[baseText]].
    */
  private def isSpecial(id: Long): Boolean = isExactDupSlice(id) || isRecrawlSlice(id)

  /** Nearest plain (non-special) id at or below `id0` — special slices must
    * reference PLAIN originals, otherwise `baseText(orig)` differs from the
    * orig's stored text: an "exact dup" of a recrawl row duplicated nothing
    * and a recrawl of a special row near-dup'd no stored doc, drifting the
    * documented dup marginals and breaking the baseText scaladoc invariant
    * (code-review r18). Plain density ≈ 95%, so the scan is 1–2 steps.
    */
  private def plainAtOrBelow(id0: Long): Long = {
    var id = math.max(id0, 0L)
    while (isSpecial(id) && id > 0) id -= 1
    id
  }

  /** Pure function of (seed, id): the doc's own base text — recrawl rows can
    * regenerate their original's text without a join.
    */
  private def baseText(seed: Long, id: Long): String = {
    val r = rndFor(seed, id, 0)
    val n = 10 + r.nextInt(91)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: GenCorpus <outDir> <nDocs> <nVecs> [seed]")
    val out = args(0)
    val nDocs = args(1).toLong
    val nVecs = args(2).toLong
    val seed = if (args.length > 3) args(3).toLong else 42L
    val spark = graft.core.GraftSession.getOrCreate("graft-gencorpus")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    val docs = spark.range(0L, nDocs, 1L, cpus).map { id =>
      val r = rndFor(seed, id, 1)
      val lang = if (r.nextDouble() < 0.41) "en" else Langs(1 + r.nextInt(4))
      val source = "src" + r.nextInt(20)
      // recrawl slice (~1/23): an earlier doc's text with a mutated tail —
      // a true NEAR-dup (high but sub-1.0 Jaccard); exact-dup slice
      // (~1/640): byte-identical copy of the nearest PLAIN doc at or
      // below id-1 (specials must reference plain originals — see
      // plainAtOrBelow)
      val text =
        if (isExactDupSlice(id)) baseText(seed, plainAtOrBelow(id - 1))
        else if (isRecrawlSlice(id)) {
          val orig = plainAtOrBelow(id - 1 - r.nextInt(10))
          baseText(seed, orig) + " " + Vocab(r.nextInt(Vocab.length)) + " " +
            Vocab(r.nextInt(Vocab.length))
        } else baseText(seed, id)
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val centers = Array.tabulate(10) { label =>
      val r = new java.util.Random(seed * 7919L + label)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bc = spark.sparkContext.broadcast(centers)
    val vecs = spark.range(0L, nVecs, 1L, cpus).map { id =>
      val r = rndFor(seed, id, 2)
      val label = r.nextInt(10)
      val c = bc.value(label)
      val v = Array.tabulate(64)(i => c(i) + 0.35f * r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / n), label)
    }.toDF("vec_id", "embedding", "label")
    vecs.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[gencorpus] wrote $nDocs docs + $nVecs vecs to $out (seed $seed)")
    spark.stop()
  }
}
