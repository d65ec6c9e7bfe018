package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.data._
import graft.data.Similarity.{Fence, Scorer}

/** Verification queries for the training-data-pipeline operators:
  * text analysis, dedup suite (exact / n-gram Jaccard / MinHash+LSH /
  * SimHash / embedding-cosine), ANN similarity, multimodal plumbing.
  *
  * The oracles replay the EXACT algorithms in DuckDB SQL — same md5-based
  * 60-bit hash family, same fold orders for float math — so results
  * hash-match bit-for-bit.
  */
object DataQueries {

  private def toksCteWhere(where: String): String =
    s"""toks AS (
       |  SELECT doc_id, lang, source, n_chars, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents$where)""".stripMargin

  private val toksCte = toksCteWhere("")

  private val shCte =
    """sh AS (
      |  SELECT doc_id, CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) AS sh FROM (
      |    SELECT doc_id,
      |      unnest(list_distinct(list_transform(
      |        range(1, greatest(len(t)-2, 1)+1),
      |        i -> array_to_string(list_slice(t, i, i+2), ' ')))) AS s
      |    FROM toks))""".stripMargin

  private val hash60Sql = (e: String) => s"CAST(('0x'||substr(md5($e),1,15)) AS BIGINT)"

  // --------------------------------------------------------- text analysis
  def tQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(Tables.documents(spark, dir), "doc_id", "text")

  private val stopwordsLit =
    TextAnalysis.langProfiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString("[", ",", "]")

  val tQualitySql: String =
    s"""WITH $toksCte
       |SELECT doc_id,
       |  len(t) AS n_tokens,
       |  length(text) AS n_chars_measured,
       |  len(list_filter(regexp_split_to_array(text, '[\\s[:punct:]]+'), x -> x <> '')) AS n_subwords,
       |  CAST(list_reduce(list_transform(t, x -> length(x)), (a,b) -> a+b) AS DOUBLE) / len(t) AS avg_token_len,
       |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  CAST(len(list_filter(t, x -> list_contains($stopwordsLit, x))) AS DOUBLE) / len(t) AS stopword_ratio
       |FROM toks""".stripMargin

  def tLangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = TextAnalysis.tokens(col("text"))
    val scoreCols = TextAnalysis.langProfiles.map { case (l, ws) =>
      TextAnalysis.profileScore(toks, ws).as(s"s_$l")
    }
    docs.select(
      (col("doc_id") +: scoreCols :+
        TextAnalysis.langId(toks).as("predicted") :+
        col("lang").as("actual")): _*
    )
  }

  /** Per-language profile-score SELECT expressions (`s_<lang>` columns) —
    * the SQL replay of [[TextAnalysis.profileScore]], shared by every
    * oracle that language-IDs (`t_langid`, `d_ingest_gate_exact`) so a
    * profile or tie-break change is single-sited.
    */
  private val langScoreExprsSql: String = TextAnalysis.langProfiles
    .map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(t, x -> list_contains($lst, x))) AS s_$l"
    }
    .mkString(",\n  ")

  /** The langId CASE over the `s_<lang>` score columns — the SQL replay of
    * [[TextAnalysis.langId]]. NULL-text arm FIRST: Scala langId on null
    * tokens returns the HEAD profile constant (all comparisons against
    * NULL scores are false, so bestLang never moves off its init), while a
    * bare SQL CASE would fall through every NULL condition to the ELSE
    * (= the LAST profile) — a silent lang divergence on any NULL-text doc.
    */
  private val langCaseSql: String = {
    val langs = TextAnalysis.langProfiles.map(_._1)
    val argmax = langs.init.zipWithIndex
      .map { case (l, i) =>
        val conds = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }
      .mkString("\n    ")
    val allZero = langs.map(l => s"s_$l = 0").mkString(" AND ")
    s"CASE WHEN t IS NULL THEN '${langs.head}'\n    WHEN $allZero THEN 'und'\n    $argmax\n    ELSE '${langs.last}' END"
  }

  val tLangIdSql: String =
    s"""WITH $toksCte,
       |scored AS (
       |  SELECT doc_id, lang, t, $langScoreExprsSql
       |  FROM toks)
       |SELECT doc_id, s_de, s_en, s_es, s_fr,
       |  $langCaseSql AS predicted,
       |  lang AS actual
       |FROM scored""".stripMargin

  /** Hashed linear quality classifier over the corpus: md5-bucketed token
    * features against a broadcast-as-literal weight table, scan-fused. The
    * oracle rebuilds the same weights from the interpolated Scala doubles
    * and replays the bucket lookup + left-to-right fold bit-exactly.
    */
  def tQualityModel(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityModelScore(Tables.documents(spark, dir), "doc_id", "text", dims = 64)

  val tQualityModelSql: String = {
    val w = TextAnalysis.modelWeights(64).map(_.toString).mkString("[", ",", "]")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |w AS (SELECT $w::DOUBLE[] AS wv),
       |scored AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE list_reduce(
       |           list_transform(t, x -> wv[CAST(${hash60Sql("x")} % 64 AS INT) + 1]),
       |           (a, b) -> a + b)
       |    END AS raw
       |  FROM toks CROSS JOIN w)
       |SELECT doc_id, n_tokens,
       |  CAST(floor(raw / (n_tokens + 1) * 1e6) AS BIGINT) AS score_e6,
       |  raw > 0.0 AS keep_model
       |FROM scored""".stripMargin
  }

  /** Exact top-10% quality cut ([[CorpusOps.topFraction]] over the hashed
    * linear quality score): the "keep the best fraction" filter of corpus
    * curation with EXACT global ranks — distributed prefix-sum ranks, not
    * a driver-resident TakeOrderedAndProject. Oracle replays the score
    * CTEs plus a window ROW_NUMBER against the exact ⌊N/10⌋ cut.
    */
  def dQualityCut(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.topFraction(
      TextAnalysis.qualityModelScore(Tables.documents(spark, dir), "doc_id", "text", dims = 64),
      "doc_id", "score_e6", keepPpm = 100000L)

  val dQualityCutSql: String = {
    val w = TextAnalysis.modelWeights(64).map(_.toString).mkString("[", ",", "]")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |w AS (SELECT $w::DOUBLE[] AS wv),
       |scored AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE list_reduce(
       |           list_transform(t, x -> wv[CAST(${hash60Sql("x")} % 64 AS INT) + 1]),
       |           (a, b) -> a + b)
       |    END AS raw
       |  FROM toks CROSS JOIN w),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(floor(raw / (n_tokens + 1) * 1e6) AS BIGINT) AS score_e6
       |  FROM scored),
       |rk AS (
       |  SELECT doc_id, score_e6,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM sc),
       |cut AS (SELECT (COUNT(*) * 100000) // 1000000 AS keep_n FROM sc)
       |SELECT doc_id, score_e6, rank
       |FROM rk, cut WHERE rank <= keep_n""".stripMargin
  }

  /** Batch replay of the STREAMING per-source quality gate
    * ([[graft.stateful.Processors.qualityGateBatch]] ≡ one micro-batch of
    * [[graft.stateful.Processors.qualityGate]] against empty state,
    * spec-pinned): each doc is kept iff it would rank in the top 30% of
    * the quality scores its source has streamed BEFORE it (sid order),
    * judged on a 128-bin histogram. The oracle replays the score CTEs,
    * the non-negative clamped bin function, and the strictly-higher-bin
    * count via a per-source inequality self-join (quadratic — fine as an
    * oracle, which is exactly what the histogram fold avoids at scale).
    */
  private val QGateKeepPpm = 300000L
  private val QGateBinLo = -250000L
  private val QGateBinWidth = 4096L
  private val QGateBins = 128

  def dQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = TextAnalysis.qualityModelScore(docs, "doc_id", "text", dims = 64)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    graft.stateful.Processors.qualityGateBatch(
        scored, "doc_id", "source", "score_e6",
        QGateKeepPpm, QGateBinLo, QGateBinWidth, QGateBins)
      .select(
        col("sid").as("doc_id"), col("source"), col("score").as("score_e6"),
        col("nPrev").as("n_prev"), col("nBetter").as("n_better"), col("keep"))
  }

  val dQualityGateSql: String = {
    val w = TextAnalysis.modelWeights(64).map(_.toString).mkString("[", ",", "]")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |w AS (SELECT $w::DOUBLE[] AS wv),
       |scored AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE list_reduce(
       |           list_transform(t, x -> wv[CAST(${hash60Sql("x")} % 64 AS INT) + 1]),
       |           (a, b) -> a + b)
       |    END AS raw
       |  FROM toks CROSS JOIN w),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(floor(raw / (n_tokens + 1) * 1e6) AS BIGINT) AS score_e6
       |  FROM scored),
       |b AS (
       |  SELECT s.doc_id, d.source, s.score_e6,
       |    least(greatest(s.score_e6 - (${QGateBinLo}), 0) // ${QGateBinWidth},
       |          ${QGateBins - 1}) AS bin
       |  FROM sc s JOIN documents d USING (doc_id)),
       |np AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS n_prev
       |  FROM b),
       |nb AS (
       |  SELECT a.doc_id, CAST(COUNT(c.doc_id) AS BIGINT) AS n_better
       |  FROM b a LEFT JOIN b c
       |    ON c.source = a.source AND c.doc_id < a.doc_id AND c.bin > a.bin
       |  GROUP BY 1)
       |SELECT b.doc_id, b.source, b.score_e6, np.n_prev, nb.n_better,
       |  nb.n_better < greatest(CAST(1 AS BIGINT),
       |    ((np.n_prev + 1) * ${QGateKeepPpm}) // 1000000) AS keep
       |FROM b JOIN np USING (doc_id) JOIN nb USING (doc_id)""".stripMargin
  }

  /** Curation capstone: quality gate → exact dedup (keep-first) →
    * budget-driven mixture plan+apply, composed as ONE lazy Catalyst plan
    * (qualityModelScore, the dedup window, corpusMixPlan and applyMixPlan
    * are all driver-action-free, so the whole pipeline optimizes as a
    * single tree — column pruning reaches the scan, the |sources|-row
    * plan broadcasts, and nothing materializes between stages). The
    * incremental-rebuild capstone proves the snapshot chain; this one
    * proves the SELECTION chain.
    */
  private val CurationScoreFloor = -150000L

  def dCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = TextAnalysis.qualityModelScore(docs, "doc_id", "text", dims = 64)
    val kept = docs.join(
      scored.filter(col("score_e6") > CurationScoreFloor).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // keep-first dedup in the SKINNY-shuffle shape (VERDICT r16 #4): the
    // rank windows over a projected (md5(text), doc_id) frame — the
    // exchange carries 24-byte rows, never corpus text — and the winning
    // ids left-semi join back. The winner-id frame broadcasts (8 B/id:
    // fine to ~10^8 distinct docs); past that the forced hint FAILS LOUDLY
    // (Spark's 8 GB broadcast ceiling / driver OOM — a hint overrides
    // autoBroadcastJoinThreshold) rather than silently degrading: at that
    // size swap to the doc_id-bucketed corpus table semi join
    // (connectors/Bucketing) so neither side re-shuffles text.
    // Verdicts identical to the full-width window (same
    // min-id-per-hash keep set, same oracle); the one-lazy-plan property
    // survives (spec-pinned), and CorpusOpsSpec plan-asserts that no
    // exchange in the pipeline carries the text column.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))
    val winners = kept
      .select(md5(col("text")).as("_h"), col("doc_id"))
      .withColumn("_keep", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("_keep"))
      .select(col("doc_id"))
    // enforce the ceiling the comment above documents (ADVICE r17): the
    // guard reads Catalyst's SCAN-derived size estimate — driver-side
    // planning only, no job, so the one-lazy-plan property holds. The
    // estimate upper-bounds winners (filters only shrink it), so a corpus
    // big enough to threaten the 8 GB broadcast build fails HERE with the
    // remedy, not as a driver OOM mid-collect. Deliberately a loud error
    // rather than a silent strategy swap: the bucketed semi join needs a
    // doc_id-bucketed corpus layout this face doesn't have.
    val winnersEstBytes = winners.queryExecution.optimizedPlan.stats.sizeInBytes
    require(winnersEstBytes < (8L << 30),
      s"dCurationPipeline: winner-id frame estimated at $winnersEstBytes bytes — beyond " +
        "Spark's 8 GB broadcast ceiling; at this corpus grain replace the forced " +
        "broadcast semi join with a doc_id-bucketed corpus semi join " +
        "(connectors/Bucketing.ensureBucketed on doc_id for both sides)")
    val deduped = kept.join(broadcast(winners), Seq("doc_id"), "left_semi")
    val plan = CorpusOps.corpusMixPlan(
      deduped, "source",
      size(TextAnalysis.tokens(col("text"))).cast("long"),
      MixShares.toMap, budgetTokens = 2000L)
    CorpusOps.applyMixPlan(deduped, "doc_id", "source", plan)
      .join(scored.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  // lazy: references MixShares, declared later in this object (vals
  // initialize in declaration order; the oracleSql map at the end forces it)
  lazy val dCurationPipelineSql: String = {
    val wv = TextAnalysis.modelWeights(64).map(_.toString).mkString("[", ",", "]")
    val shareCase = MixShares
      .map { case (k, v) => s"WHEN '$k' THEN $v" }
      .mkString("CASE source ", " ", " ELSE 0 END")
    s"""WITH ltoks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |wv AS (SELECT $wv::DOUBLE[] AS w),
       |scored AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE list_reduce(
       |           list_transform(t, x -> w[CAST(${hash60Sql("x")} % 64 AS INT) + 1]),
       |           (a, b) -> a + b)
       |    END AS raw
       |  FROM ltoks CROSS JOIN wv),
       |sc2 AS (
       |  SELECT doc_id,
       |    CAST(floor(raw / (n_tokens + 1) * 1e6) AS BIGINT) AS score_e6
       |  FROM scored),
       |kept AS (
       |  SELECT d.* FROM documents d JOIN sc2 s ON s.doc_id = d.doc_id
       |  WHERE s.score_e6 > -150000),
       |dd AS (
       |  SELECT doc_id, source, text,
       |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |  FROM kept),
       |dedup AS (SELECT doc_id, source, text FROM dd WHERE doc_id = keep_id),
       |dtoks AS (
       |  SELECT doc_id, source,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM dedup),
       |av AS (
       |  SELECT source, CAST(SUM(len(t)) AS BIGINT) AS avail_tokens
       |  FROM dtoks GROUP BY 1),
       |pl AS (
       |  SELECT source, avail_tokens,
       |    (CAST(2000 AS BIGINT) * CAST(($shareCase) AS BIGINT)) // 1000000 AS want_tokens
       |  FROM av),
       |plan AS (
       |  SELECT source,
       |    CASE WHEN avail_tokens > 0
       |      THEN least(CAST(1000000 AS BIGINT),
       |                 (CAST(1000000 AS BIGINT) * want_tokens) // avail_tokens)
       |      ELSE CAST(0 AS BIGINT) END AS rate_ppm
       |  FROM pl)
       |SELECT d.doc_id, d.source, s.n_tokens
       |FROM dedup d
       |JOIN plan p ON p.source = d.source
       |JOIN scored s ON s.doc_id = d.doc_id
       |WHERE ${hash60Sql("d.source || '|' || CAST(d.doc_id AS VARCHAR)")} % 1000000
       |      < p.rate_ppm""".stripMargin
  }

  /** Per-SOURCE top-20% quality cut ([[CorpusOps.topFractionByGroup]]):
    * the per-domain quality filter — a global cut would let one
    * high-scoring source crowd out the rest; this keeps the best fifth
    * of every source by the hashed linear score, exact per-group ranks.
    */
  def dQualityCutBySource(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.topFractionByGroup(
      TextAnalysis.qualityModelScore(Tables.documents(spark, dir), "doc_id", "text", dims = 64)
        .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id")),
      "doc_id", "source", "score_e6", keepPpm = 200000L)

  val dQualityCutBySourceSql: String = {
    val w = TextAnalysis.modelWeights(64).map(_.toString).mkString("[", ",", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |w AS (SELECT $w::DOUBLE[] AS wv),
       |scored AS (
       |  SELECT doc_id, source, len(t) AS n_tokens,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE list_reduce(
       |           list_transform(t, x -> wv[CAST(${hash60Sql("x")} % 64 AS INT) + 1]),
       |           (a, b) -> a + b)
       |    END AS raw
       |  FROM toks CROSS JOIN w),
       |sc AS (
       |  SELECT doc_id, source,
       |    CAST(floor(raw / (n_tokens + 1) * 1e6) AS BIGINT) AS score_e6
       |  FROM scored),
       |rk AS (
       |  SELECT doc_id, source, score_e6,
       |    CAST(ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY score_e6 DESC, doc_id ASC) AS BIGINT) AS rank,
       |    COUNT(*) OVER (PARTITION BY source) AS n_g
       |  FROM sc)
       |SELECT doc_id, source, score_e6, rank
       |FROM rk WHERE rank <= (n_g * 200000) // 1000000""".stripMargin
  }

  /** Per-source document cap (at most 5 docs per source, best-first by
    * n_chars with doc_id tiebreak) — the per-domain cap of a web corpus.
    */
  def dSourceCap(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.capPerGroup(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("n_chars")),
      groupCol = "source", scoreCol = "n_chars", idCol = "doc_id", n = 5)

  val dSourceCapSql: String =
    """SELECT doc_id, source, n_chars, cap_rank FROM (
      |  SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS cap_rank
      |  FROM documents)
      |WHERE cap_rank <= 5""".stripMargin

  def tFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(spark, dir), "doc_id", "text")

  val tFingerprintSql: String =
    s"""SELECT doc_id,
       |  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp_md5,
       |  ${hash60Sql("regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')")} AS fp60
       |FROM documents""".stripMargin

  // ------------------------------------------------------------ dedup suite
  def dExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(spark, dir), "doc_id", "text")

  val dExactSql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
      |  COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
      |FROM documents""".stripMargin

  /** Source-precedence dedup over a corpus UNION: the documents table plus
    * a synthetic re-crawl of the SAME content at LOWER ids tagged
    * source='crawl'. Keep-lowest-id would keep every crawl copy; the
    * priority rule (any curated source beats 'crawl') must keep the
    * ORIGINAL — so the fixture genuinely discriminates the operator from
    * [[Dedup.exactDedup]]. The oracle replays the union, the priority
    * CASE, and the FIRST_VALUE window.
    */
  def dDedupPriority(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val crawl = docs.select(
      (col("doc_id") - 1000000L).as("doc_id"), col("text"), lit("crawl").as("source"))
    Dedup.exactDedupPrioritized(
      docs.unionByName(crawl), "doc_id", "text", "source",
      priority = Map("crawl" -> 0), defaultPriority = 10)
  }

  val dDedupPrioritySql: String =
    """WITH u AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id - 1000000, text, 'crawl' FROM documents),
      |p AS (
      |  SELECT doc_id, source, md5(text) AS content_hash,
      |    CASE WHEN source = 'crawl' THEN 0 ELSE 10 END AS prio
      |  FROM u)
      |SELECT doc_id, source, content_hash,
      |  FIRST_VALUE(doc_id) OVER (PARTITION BY content_hash ORDER BY prio DESC, doc_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id,
      |  COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
      |FROM p""".stripMargin

  def dJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text")

  private val jaccardPairsSql: String =
    """sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT i, j, CAST(c AS DOUBLE)/(x.n + y.n - c) AS jaccard
      |  FROM p JOIN sz x ON i = x.doc_id JOIN sz y ON j = y.doc_id)""".stripMargin

  val dJaccardSql: String =
    s"""WITH $toksCte, $shCte, $jaccardPairsSql
       |SELECT i, j, CAST(floor(jaccard * 1e6) AS BIGINT) AS jac_e6
       |FROM jac WHERE jaccard >= 0.8""".stripMargin

  /** The all-pairs verifier on a deterministic 40% id slice (`doc_id % 5 <
    * 2`). [[dJaccard]] is quadratic BY DESIGN — it is the ground-truth
    * oracle for the LSH path and is excluded from the bench loop; this
    * entry keeps an honest benched (and oracle-checked) number for the
    * verifier shape at bounded cost.
    */
  def dJaccardScoped(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(
      Tables.documents(spark, dir).filter(col("doc_id") % 5 < 2), "doc_id", "text")

  val dJaccardScopedSql: String =
    s"""WITH ${toksCteWhere(" WHERE doc_id % 5 < 2")}, $shCte, $jaccardPairsSql
       |SELECT i, j, CAST(floor(jaccard * 1e6) AS BIGINT) AS jac_e6
       |FROM jac WHERE jaccard >= 0.8""".stripMargin

  def dMinhashSig(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(Tables.documents(spark, dir), "doc_id", "text")

  private val K = 16
  private val mhCte: String = {
    val p = Dedup.MinhashP
    val mins = (0 until K)
      .map(i => s"min((${Dedup.minhashA(i)} * bh + ${Dedup.minhashB(i)}) % $p) AS h$i")
      .mkString(",\n    ")
    s"""hashed_sh AS (
       |  SELECT doc_id, sh % $p AS bh FROM sh),
       |sig AS (
       |  SELECT doc_id AS sid,
       |    $mins
       |  FROM hashed_sh GROUP BY 1)""".stripMargin
  }

  val dMinhashSigSql: String =
    s"""WITH $toksCte, $shCte, $mhCte
       |SELECT * FROM sig""".stripMargin

  /** Near-dup pair list shared by d_minhash_pairs / d_dup_clusters /
    * d_clean_corpus: built once per (session, corpus generation) and
    * localCheckpointed — what a production dedup pipeline does (materialize
    * the candidate pair list once, feed clustering and corpus pruning from
    * it) instead of re-deriving the whole LSH pipeline in each consumer
    * (VERDICT r1 item 3). Held as a session frame in [[ModelStore]].
    */
  private def minhashPairsShared(spark: SparkSession, dir: String): DataFrame =
    ModelStore.get(ModelStore.frame[DataFrame](spark), dir, "documents", "pairs")(
      Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text").localCheckpoint())

  /** The connectivity-preserving pair subset for the CLUSTER consumers
    * (`d_dup_clusters`, `d_dup_cluster_stats`, `d_clean_corpus`):
    * exact-text groups collapsed to reps + star edges
    * ([[Dedup.minhashPairsForClustering]] — components identical to the
    * full pair list, so the recursive-CTE oracles replay unchanged, but
    * candidate work scales with distinct texts instead of duplicity²).
    */
  private def clusterPairsShared(spark: SparkSession, dir: String): DataFrame =
    ModelStore.get(ModelStore.frame[DataFrame](spark), dir, "documents", "clusterpairs")(
      Dedup.minhashPairsForClustering(Tables.documents(spark, dir), "doc_id", "text")
        .localCheckpoint())

  def dMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsShared(spark, dir)

  val dMinhashPairsSql: String = {
    val bandSelects = (0 until K / 2)
      .map(b => s"SELECT sid, $b AS band, h${2 * b} || '_' || h${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH $toksCte, $shCte, $mhCte, $jaccardPairsSql,
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.sid AS i, b.sid AS j
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.sid < b.sid)
       |SELECT c.i, c.j, CAST(floor(jaccard * 1e6) AS BIGINT) AS jac_e6
       |FROM cand c JOIN jac ON c.i = jac.i AND c.j = jac.j
       |WHERE jaccard >= 0.8""".stripMargin
  }

  def dDupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(clusterPairsShared(spark, dir))

  /** The CLUSTER MAP, materialized once per (session, sfDir) — the same
    * production argument as [[minhashPairsShared]] (VERDICT r1 #3): a
    * dedup pipeline runs connected components ONCE and feeds every
    * consumer (stats, corpus pruning, representative picking) from the
    * materialized map instead of re-running the iterative CC job chain
    * per consumer. `d_dup_clusters` itself stays un-memoized — it IS the
    * operator face and must keep paying (and measuring) the CC rounds.
    */
  private def clustersShared(spark: SparkSession, dir: String): DataFrame =
    // duplicateClusters already returns a checkpoint-backed frame
    ModelStore.get(ModelStore.frame[DataFrame](spark), dir, "documents", "clustermap")(
      Dedup.duplicateClusters(clusterPairsShared(spark, dir)))

  /** The scored importance-weights frame, materialized once per
    * (session, sfDir) for its CONSUMER faces (`d_importance_select`,
    * `d_importance_resample`) — the [[minhashPairsShared]] production
    * argument (VERDICT r1 #3) applied to DSIR: a selection pipeline runs
    * the model-train + scoring scan ONCE and feeds every selection/
    * resampling decision from the materialized weights, instead of
    * re-training and re-scoring per consumer. `d_importance_weights`
    * itself stays un-memoized — it IS the operator face and must keep
    * paying (and measuring) the train + scoring passes, exactly like
    * `d_dup_clusters` vs [[clustersShared]]. Checkpoint payload is
    * (id, 3 longs) per doc — corpus-metadata-sized, the pair-list class.
    */
  private def importanceWeightsShared(spark: SparkSession, dir: String): DataFrame =
    ModelStore.get(ModelStore.frame[DataFrame](spark), dir, "documents", "impweights")(
      dImportanceWeights(spark, dir).localCheckpoint())

  /** Recursive-CTE connected components over the (oracle-replayed) LSH
    * pair list: cluster id = min reachable doc id.
    */
  val dDupClustersSql: String = {
    val bandSelects = (0 until K / 2)
      .map(b => s"SELECT sid, $b AS band, h${2 * b} || '_' || h${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $toksCte, $shCte, $mhCte, $jaccardPairsSql,
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.sid AS i, b.sid AS j
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.sid < b.sid),
       |pairs AS (
       |  SELECT c.i, c.j FROM cand c JOIN jac ON c.i = jac.i AND c.j = jac.j
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT i AS src, j AS dst FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin
  }

  /** Duplicate clusters via the ALTERNATING connected-components algorithm
    * ([[graft.data.Dedup.duplicateClustersAlternating]], Kiveris et al.
    * SoCC'14 large-star/small-star — O(log² n) rounds regardless of
    * component diameter, vs the min-label face's O(diameter)). The output
    * contract is identical to `d_dup_clusters` — component-minimum labels
    * are algorithm-independent — so the SAME recursive-CTE oracle replays
    * it (the `d_decontaminate_campaign` same-oracle precedent).
    */
  def dDupClustersAlt(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClustersAlternating(clusterPairsShared(spark, dir))

  val dDupClustersAltSql: String = dDupClustersSql

  /** Derived-oracle splice: `base` with `replacement` spliced in at
    * `anchor`. A bare `String.replace` silently no-ops if the anchor ever
    * drifts out of the base SQL — the derived oracle would ship as a
    * verbatim copy of the base query and surface only as a confusing hash
    * mismatch at verify time (ADVICE r12); failing the require at class
    * init names the drifted anchor instead.
    */
  private def spliceSql(base: String, anchor: String, replacement: String): String = {
    require(
      base.contains(anchor),
      s"oracle splice anchor drifted — not found in base SQL: $anchor")
    base.replace(anchor, replacement)
  }

  /** Duplicate-cluster size histogram — the "dedup impact report" a corpus
    * run reads before committing: how many clusters of each size exist and
    * how many documents they absorb (docs removed = n_docs − n_clusters
    * per row). Aggregate-the-aggregate on top of the connected-components
    * output: the histogram input is cluster-grain, never the corpus. The
    * oracle extends the proven recursive-CTE cluster replay with the same
    * two-level aggregation.
    */
  def dDupClusterStats(spark: SparkSession, dir: String): DataFrame =
    clustersShared(spark, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("cluster_size")).as("n_docs"))

  val dDupClusterStatsSql: String =
    // same recursive replay as d_dup_clusters, with the histogram tail
    spliceSql(
      dDupClustersSql,
      "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id",
      """, clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |szs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM clusters GROUP BY 1)
        |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        |FROM szs GROUP BY cluster_size""".stripMargin)

  def dSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(spark, dir), "doc_id", "text")

  val dSimhashSql: String =
    s"""WITH $toksCte,
       |hashed AS (
       |  SELECT doc_id, list_transform(t, tok -> ${hash60Sql("tok")}) AS hs
       |  FROM toks)
       |SELECT doc_id,
       |  list_reduce(list_transform(range(0, 60), b ->
       |    CASE WHEN list_reduce(list_transform(hs, h -> ((h >> b) & 1)*2 - 1), (x,y) -> x+y) > 0
       |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END),
       |    (x,y) -> x+y) AS simhash
       |FROM hashed""".stripMargin

  def dEmbedPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(Tables.embeddings(spark, dir), "vec_id", "embedding", "label", 0.40)

  private val cosSql = (a: String, b: String) =>
    s"""(list_reduce(list_transform(range(1, len($a)+1), k -> $a[k]*$b[k]), (x,y) -> x+y)
       | / (sqrt(list_reduce(list_transform($a, x -> x*x), (x,y) -> x+y))
       |    * sqrt(list_reduce(list_transform($b, x -> x*x), (x,y) -> x+y))))""".stripMargin

  val dEmbedPairsSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j, ${cosSql("a.v", "b.v")} AS cosv
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT i, j, CAST(floor(cosv * 1e6) AS BIGINT) AS cos_e6
       |FROM scored WHERE cosv >= 0.40""".stripMargin

  /** Corpus-wide term frequency, top 100 (count desc, term asc). */
  def tTermFreq(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(100)

  val tTermFreqSql: String =
    s"""WITH $toksCte
       |SELECT term, COUNT(*) AS n
       |FROM (SELECT unnest(t) AS term FROM toks)
       |GROUP BY term ORDER BY n DESC, term ASC LIMIT 100""".stripMargin

  /** The full dedup story: retained corpus after exact dedup (keep min id
    * per content hash) AND near-dup cluster pruning (keep each LSH
    * cluster's min id).
    */
  def dCleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exactKeep = Dedup
      .exactDedup(docs, "doc_id", "text")
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"))
    val nearDupLosers = clustersShared(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    exactKeep.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  val dCleanCorpusSql: String = {
    val bandSelects = (0 until K / 2)
      .map(b => s"SELECT sid, $b AS band, h${2 * b} || '_' || h${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $toksCte, $shCte, $mhCte, $jaccardPairsSql,
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.sid AS i, b.sid AS j
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.sid < b.sid),
       |pairs AS (
       |  SELECT c.i, c.j FROM cand c JOIN jac ON c.i = jac.i AND c.j = jac.j
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT i AS src, j AS dst FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |exact_keep AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM documents)
       |  WHERE doc_id = keep_id)
       |SELECT doc_id FROM exact_keep
       |WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)""".stripMargin
  }

  /** Quality-aware clean corpus: like [[dCleanCorpus]] but each near-dup
    * cluster keeps its BEST member — most tokens, ties → lowest doc id —
    * instead of the lowest id unconditionally (the production choice:
    * near-dup clusters mix truncated/boilerplate variants with the fullest
    * copy, and min-id keeps whichever happened to crawl first). Exact-dup
    * groups still keep the lowest id; that never conflicts with the
    * cluster winner, because identical texts have identical token counts,
    * so the argmax tie-break picks the exact group's min id — the cluster
    * representative is always an exact-dedup winner. Token counts ride the
    * document scan (no extra shuffle); the per-cluster argmax is a window
    * over cluster-grain rows only (clusters are tiny vs the corpus).
    */
  def dCleanCorpusBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val exactKeep = Dedup
      .exactDedup(docs, "doc_id", "text")
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"))
    val scored = clustersShared(spark, dir)
      .join(
        docs.select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("_nt")),
        Seq("doc_id"))
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("_nt").desc, col("doc_id").asc)
    val losers = scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") =!= 1)
      .select(col("doc_id"))
    exactKeep.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Same recursive cluster replay as `d_dup_clusters`, with the
    * best-member window in place of the min-id keep.
    */
  val dCleanCorpusBestSql: String =
    spliceSql(
      dDupClustersSql,
      "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id",
      """, clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |scored AS (
        |  SELECT c.doc_id, c.cluster_id, len(tk.t) AS nt
        |  FROM clusters c JOIN toks tk ON tk.doc_id = c.doc_id),
        |losers AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY nt DESC, doc_id ASC) AS rn
        |    FROM scored)
        |  WHERE rn <> 1),
        |exact_keep AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM documents)
        |  WHERE doc_id = keep_id)
        |SELECT doc_id FROM exact_keep
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin)

  /** Embedding vector ops: norm, normalization, int8 quantization quality —
    * scalar projections so the oracle compares exact doubles. Computed by
    * the fused codegen'd [[graft.functions.EmbedStats]] expression (two
    * tight loops per row); EmbeddingsSpec cross-checks it element-wise
    * against the HOF formulations in [[Embeddings]].
    */
  def eEmbedStats(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.functions.EmbedStats(col("embedding"))
    Tables
      .embeddings(spark, dir)
      .select(
        col("vec_id"),
        s.getField("norm").as("norm"),
        s.getField("n1").as("n1"),
        s.getField("q_scale").as("q_scale"),
        s.getField("q1").as("q1"),
        s.getField("max_err").as("max_err")
      )
  }

  val eEmbedStatsSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS norm,
      |    list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) / 127.0 AS q_scale
      |  FROM e)
      |SELECT vec_id, norm,
      |  CASE WHEN norm = 0 THEN 0.0 ELSE v[1]/norm END AS n1,
      |  q_scale,
      |  CASE WHEN q_scale = 0 THEN 0 ELSE CAST(round(v[1]/q_scale) AS INT) END AS q1,
      |  list_reduce(
      |    list_transform(range(1, len(v)+1),
      |      k -> abs(v[k] - (CASE WHEN q_scale = 0 THEN 0 ELSE CAST(round(v[k]/q_scale) AS INT) END * q_scale))),
      |    (a,b) -> greatest(a,b)) AS max_err
      |FROM m""".stripMargin

  // ------------------------------------------------------------- similarity
  private def annQueries(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") % 25 === 0)

  def sAnnBrute(spark: SparkSession, dir: String): DataFrame =
    Similarity.topK(
      Tables.embeddings(spark, dir), annQueries(spark, dir), "vec_id", "embedding",
      Fence.All, Scorer.Cosine, k = 10)

  val sAnnBruteSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id AS n_id, ${cosSql("qv", "e.v")} AS cosv
       |  FROM e JOIN q ON e.vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosv,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosv DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cosv * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rank <= 10""".stripMargin

  def sAnnIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.topK(
      Tables.embeddings(spark, dir), annQueries(spark, dir), "vec_id", "embedding",
      Fence.Column("label"), Scorer.Cosine, k = 10)

  val sAnnIvfSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_bk, v AS qv FROM e WHERE vec_id % 25 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id AS n_id, ${cosSql("qv", "e.v")} AS cosv
       |  FROM e JOIN q ON e.label = q_bk AND e.vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosv,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosv DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cosv * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** Corpus models: the coarse quantizer seeds, PQ codebooks and corpus
    * row counts are deterministic data-derived DRIVER values (k·dim
    * doubles / one long) — a production system trains its quantizer once
    * per corpus snapshot, not once per query, so the ANN/semdedup faces
    * that share a corpus share one training pass. Each is read through
    * [[ModelStore.get]], keyed on the source table's stamp and a name that
    * carries the training parameters; persisted models reload IEEE-exact
    * (SimilaritySpec), so first-run and reload plans are bit-identical,
    * and a regenerated corpus retrains rather than reusing a stale model.
    */
  private def embCount(spark: SparkSession, dir: String): Long =
    new String(ModelStore.get(ModelStore.bytes, dir, "embeddings", "embcount")(
      Tables.embeddings(spark, dir).count().toString.getBytes("UTF-8")), "UTF-8").toLong
  private def docCount(spark: SparkSession, dir: String): Long =
    ModelStore.get(ModelStore.jvm[Long], dir, "documents", "count")(
      Tables.documents(spark, dir).count())

  /** The scale-derived MIH band geometry every `m_phash_*` face runs under
    * ([[Multimodal.phashGeometry]], VERDICT r19 #1) — one derivation from
    * the corpus row count (a parquet metadata count, held per generation), so
    * build, stamp and serve can never disagree. At the oracle-gate scales
    * (≤ 50k docs) this lands the historical (bandBits=8, radius 1,
    * hamming ≤ 15) configuration the static oracle SQL replays; at organic
    * sf10 (500k docs) it lands the (16, 1, ≤ 7) configuration measured
    * clean across the decade (SCALE.md r19) — the faces themselves now
    * clear the scale the hand-set default flooded at.
    */
  private def phashGeo(spark: SparkSession, dir: String): Multimodal.PhashGeometry =
    Multimodal.phashGeometry(docCount(spark, dir))

  private def seedsFor(spark: SparkSession, dir: String, k: Int): Seq[Seq[Double]] =
    ModelStore.get(ModelStore.centroids(spark), dir, "embeddings", s"centroids-k$k")(
      Similarity.seedCentroids(Tables.embeddings(spark, dir), "vec_id", "embedding", k))
  private def codebooksFor(spark: SparkSession, dir: String, m: Int, k: Int): Seq[Seq[Seq[Double]]] =
    ModelStore.get(ModelStore.codebooks(spark), dir, "embeddings", s"codebooks-m$m-k$k")(
      Similarity.pqCodebooks(Tables.embeddings(spark, dir), "vec_id", "embedding", m, k))
  // Lloyd-TRAINED PQ SCORING codebooks (deterministic, oracle-replayable —
  // the s_ann_pq_imi_t fixture unrolls both iterations; VERDICT r12 #1).
  // Same naming discipline as the trained IMI cells: training params in
  // the model name, so an algorithm change never reuses a stale model.
  private[queries] val PqTrainIters = 2
  private def pqTrainedFor(spark: SparkSession, dir: String, m: Int, k: Int): Seq[Seq[Seq[Double]]] = {
    val sampleN = Similarity.imiTrainSampleN(k)
    ModelStore.get(ModelStore.codebooks(spark), dir, "embeddings",
      s"pqcbt-m$m-k$k-i$PqTrainIters-s$sampleN")(
      Similarity.pqCodebooksTrainedDet(
        Tables.embeddings(spark, dir), "vec_id", "embedding", m, k,
        iters = PqTrainIters, sampleN = sampleN))
  }
  // unit-norm half-space codebooks for the IMI cell quantizer — distinct
  // model name from the raw PQ codebooks: the ADC faces need RAW codewords
  // (scores are inner products), the cell quantizer needs NORMALIZED ones
  // (spherical assignment; see Similarity.imiCodebooks for the hotspot
  // measurement behind this)
  // Lloyd-trained (deterministic, oracle-replayable — the fixture SQL
  // unrolls both iterations; Similarity.imiCodebooksTrained scaladoc).
  // Training params live in the model NAME so an algorithm change can
  // never silently reuse a previous generation's persisted codebooks.
  private[queries] val ImiTrainIters = 2
  private[queries] val ImiTrainSample = 256
  private def imiCodebooksFor(spark: SparkSession, dir: String, kSub: Int): Seq[Seq[Seq[Double]]] = {
    // sample scales with the codebook (~32 members per codeword per half;
    // floored at ImiTrainSample so the fixture kSub=4 keeps the exact 256
    // the oracle SQL replays)
    val sampleN = Similarity.imiTrainSampleN(kSub, ImiTrainSample)
    ModelStore.get(ModelStore.codebooks(spark), dir, "embeddings",
      s"imicb-k$kSub-i$ImiTrainIters-s$sampleN")(
      Similarity.imiCodebooksTrained(
        Tables.embeddings(spark, dir), "vec_id", "embedding", kSub,
        iters = ImiTrainIters, sampleN = sampleN))
  }

  /** Flat-quantizer ceiling for the auto-k faces: up to this k the seeded
    * flat assignment runs (the regime every sf0.01 oracle replays — 16
    * seeds at the fixture); beyond it the face switches to the two-level
    * product (IMI) quantizer, whose assignment is √k·dim per row with a
    * √k·dim model (see [[Similarity.imiAssign]]). The IMI code path itself
    * is oracle-gated at fixture scale by the dedicated `s_ann_imi` /
    * `d_semdedup_imi*` entries (kSub = [[ImiOracleKSub]]), so the scale
    * path is hash-verified code, just exercised at fixture k. The value
    * matches [[Similarity.UnrolledCentroidMax]]: past it the flat path
    * would leave its proven unrolled-plan regime anyway.
    */
  private val FlatQuantizerMaxK = Similarity.UnrolledCentroidMax

  /** Probe depth for the auto-k IMI dedup branch — the r12 operating-point
    * guidance made LOAD-BEARING (VERDICT r12 #2): below
    * [[ImiWeakThresholdCutoff]] the single-probe IMI arm is the measured-
    * WEAKEST configuration (threshold 0.40, n=200k, brute truth: IMI-1
    * recall 0.31 vs flat-1 0.91; pSub=2 recovers to 0.79 — SCALE.md r12
    * weak-regime table), because a weak threshold makes "dup" mean
    * "barely similar" and barely-similar pairs straddle product-cell
    * boundaries far more often than same-cluster members do (strong
    * regime th=0.70: IMI-1 0.58 ≥ flat 0.48). So the auto-k switch
    * escalates to pSub=2 itself — ≤3× candidate volume, the per-cell
    * quadratic fence unchanged — instead of leaving the guidance in
    * scaladoc a caller never reads. Fixture-k behavior is untouched (the
    * oracle replays the FLAT branch at k ≤ [[FlatQuantizerMaxK]], and the
    * dedicated `d_semdedup_imi*` entries pin each pSub explicitly).
    * DataOpsSpec pins this plan function.
    */
  private[graft] val ImiWeakThresholdCutoff = 0.60
  private[graft] def semDedupPlan(n: Long, threshold: Double): (Boolean, Int) = {
    val k = Similarity.autoK(n)
    if (k <= FlatQuantizerMaxK) (false, 1)
    else if (threshold < ImiWeakThresholdCutoff) {
      log.warn(
        s"semantic dedup at auto-k=$k with weak threshold $threshold: " +
          s"single-probe IMI measured 0.31 brute recall in this regime " +
          s"(SCALE.md r12) — escalating to pSub=2 (~3x candidate volume)")
      (true, 2)
    } else (true, 1)
  }
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.queries.DataQueries")

  /** IVF with a REAL coarse quantizer instead of the label column: the 16
    * smallest-id vectors seed the centroids, every vector goes to its
    * argmax-cosine centroid (ties → lowest centroid index), then the same
    * bucket equi-join. The oracle recomputes the seeds from the table and
    * replays the assignment as a cross-join argmax with the identical
    * left-to-right cosine fold — bit-exact. Lloyd refinement of these seeds
    * ([[Similarity.trainCentroids]]) is spec-verified (float row-averaging
    * is not order-replayable in SQL).
    */
  def sAnnIvfSeeded(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // rows-per-bucket auto-k: 16 at the sf0.01 oracle fixture (matching the
    // SQL's LIMIT 16), growing linearly with the corpus so per-bucket
    // candidate lists stay constant-sized at scale
    val k = Similarity.autoK(embCount(spark, dir))
    val bucketed =
      if (k <= FlatQuantizerMaxK) {
        val cents = seedsFor(spark, dir, k)
        e.withColumn(
          "_bk",
          Similarity.assignNearest(col("embedding").cast("array<double>"), cents))
      } else {
        // auto-k past the flat regime: two-level product cells — √k·dim
        // assignment, √k·dim model (Similarity.imiAssign scaladoc).
        // Single-probe by the face's contract (parity with the flat
        // branch); a top-k campaign at auto-k should probe DEEP instead —
        // the composed Fence.Imi × Scorer.Adc face at pSub≈8, where the fence reaches
        // its scoring ceiling (ScaleMechanicsSpec gate, SCALE.md r12)
        val cbs = imiCodebooksFor(spark, dir, Similarity.imiKSub(k))
        e.withColumn("_bk", Similarity.imiAssign(col("embedding"), cbs))
      }
    Similarity.topK(
      bucketed, bucketed.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Column("_bk"), Scorer.Cosine, k = 10)
  }

  val sAnnIvfSeededSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
       |sc AS (
       |  SELECT e.vec_id, e.v, s.j, ${cosSql("e.v", "s.cv")} AS cosv
       |  FROM e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, v, j AS bk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosv DESC, j ASC) AS rn
       |    FROM sc)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, bk AS q_bk, v AS qv FROM assigned WHERE vec_id % 25 = 0),
       |scored AS (
       |  SELECT q_id, a.vec_id AS n_id, ${cosSql("qv", "a.v")} AS cosv
       |  FROM assigned a JOIN q ON a.bk = q_bk AND a.vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosv,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosv DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cosv * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** SemDeDup over the embedding table: the 16 seeded centroids cluster the
    * space, within-cluster cosine >= 0.40 marks semantic duplicates,
    * keep-lowest-id. The oracle replays seed selection, argmax assignment,
    * and the cosine fold with the exact CTEs `s_ann_ivf_seeded` proved out.
    *
    * Probe depth is decided by [[semDedupPlan]]: single-probe flat cells
    * at fixture k (≤ 32, what the oracle replays), but the auto-k IMI
    * branch ESCALATES to pSub=2 because this face's 0.40 threshold is the
    * measured-weak single-probe regime (IMI-1 brute recall 0.31 vs pSub=2
    * 0.79 at n=200k — SCALE.md r12; VERDICT r12 #2 made that guidance
    * load-bearing instead of scaladoc-only). Single-probe quantizer dedup
    * is recall-limited regardless of quantizer shape (~0.5 brute recall
    * even at strong thresholds): each cell's min member goes unflagged and
    * clusters split across cells — [[dSemDedupProbe2]] pins the explicit
    * probe2 face at fixture scale.
    */
  def dSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // auto-k keeps the (n/k)² per-bucket pair fence constant-sized: 16 at
    // the sf0.01 oracle fixture (matching the SQL's LIMIT 16), ∝ n beyond
    // — where the face switches to the IMI product cells (FlatQuantizerMaxK)
    val n = embCount(spark, dir)
    val k = Similarity.autoK(n)
    val (useImi, pSub) = semDedupPlan(n, threshold = 0.40)
    if (!useImi)
      Dedup.semanticDedup(e, "vec_id", "embedding", seedsFor(spark, dir, k), threshold = 0.40)
    else
      // pSub comes from the plan: the shipped 0.40 threshold is in the
      // measured-weak single-probe regime, so the IMI branch runs probe2
      Dedup.semanticDedupImi(
        e, "vec_id", "embedding",
        imiCodebooksFor(spark, dir, Similarity.imiKSub(k)), threshold = 0.40, pSub = pSub)
  }

  val dSemDedupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
       |sc AS (
       |  SELECT e.vec_id, e.v, s.j, ${cosSql("e.v", "s.cv")} AS cosv
       |  FROM e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, v, j AS bk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosv DESC, j ASC) AS rn
       |    FROM sc)
       |  WHERE rn = 1),
       |dup AS (
       |  SELECT b.vec_id AS vid, MIN(a.vec_id) AS dup_of
       |  FROM assigned a JOIN assigned b ON a.bk = b.bk AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= 0.40
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, CAST(s.bk AS BIGINT) AS cluster, d.dup_of,
       |  d.dup_of IS NULL AS keep
       |FROM assigned s LEFT JOIN dup d ON s.vec_id = d.vid""".stripMargin

  /** PQ/ADC ANN (maximum inner product): the corpus compresses to 8
    * one-byte codes per vector (8 subspaces × 16 seeded codewords), queries
    * stay exact and score candidates through their per-subspace lookup
    * tables. The oracle replays the seeded codebooks, the per-subspace
    * argmax encoding, the LUT dots, and the subspace-ordered score fold —
    * all from the same interpolated doubles — so ranks and scores
    * hash-match exactly. SimilaritySpec measures PQ recall vs exact MIPS.
    */
  private val PqM = 8
  private val PqK = 16
  // 64-dim embeddings / 8 subspaces (literal, not AnnDim/PqM: AnnDim is
  // declared later in this object and would still be 0 at this init point)
  private val PqSub = 8

  def sAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cbs = codebooksFor(spark, dir, m = PqM, k = PqK)
    Similarity.topK(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding", Fence.All, Scorer.Adc(cbs), k = 10)
  }

  val sAnnPqSql: String = {
    val dotSql = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, $PqSub + 1), i -> $a * $b), (x,y) -> x+y)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $PqK)),
       |grid AS (SELECT unnest(range($PqM)) AS mi),
       |codes0 AS (
       |  SELECT e.vec_id, grid.mi, s.j,
       |    ${dotSql(s"e.v[grid.mi * $PqSub + i]", s"s.cv[grid.mi * $PqSub + i]")} AS dotv
       |  FROM e CROSS JOIN grid CROSS JOIN seeds s),
       |codes AS (
       |  SELECT vec_id, mi, j AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, mi ORDER BY dotv DESC, j ASC) AS rn
       |    FROM codes0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 0),
       |terms AS (
       |  SELECT q.q_id, c.vec_id AS n_id, c.mi,
       |    ${dotSql(s"q.qv[c.mi * $PqSub + i]", s"s.cv[c.mi * $PqSub + i]")} AS term
       |  FROM codes c
       |  JOIN seeds s ON s.j = c.code
       |  CROSS JOIN q
       |  WHERE c.vec_id <> q.q_id),
       |scored AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(term ORDER BY mi), (a,b) -> a+b) AS score
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(score * 1e6) AS BIGINT) AS score_e6
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** IVF-pruned PQ/ADC ANN — the composed 100 TB query shape the PQ
    * scaladoc promises: the 16 seeded centroids prune candidates to each
    * query's top-2 probe buckets FIRST, then only the survivors are
    * ADC-scored through the PQ lookup tables. At scale the corpus side
    * ships (id, bucket, m codes) — the vectors never leave the scan. The
    * oracle composes the two proven CTE blocks (IVF argmax assignment
    * from `s_ann_ivf_seeded`, codebook encoding + LUT score fold from
    * `s_ann_pq`) joined on the bucket — scores bit-match `s_ann_pq` on
    * the shared candidates. SimilaritySpec measures recall vs the
    * unpruned face and the candidate-set reduction.
    */
  def sAnnPqIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = seedsFor(spark, dir, k = 16)
    val cbs = codebooksFor(spark, dir, m = PqM, k = PqK)
    Similarity.topK(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Ivf(cents, probes = 2), Scorer.Adc(cbs), k = 10)
  }

  val sAnnPqIvfSql: String = {
    val dotSql = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, $PqSub + 1), i -> $a * $b), (x,y) -> x+y)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $PqK)),
       |sc AS (
       |  SELECT e.vec_id, e.v, s.j, ${cosSql("e.v", "s.cv")} AS cosv
       |  FROM e CROSS JOIN seeds s),
       |ranked_assign AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosv DESC, j ASC) AS rn
       |  FROM sc),
       |assigned AS (SELECT vec_id, j AS bk FROM ranked_assign WHERE rn = 1),
       |probed AS (
       |  SELECT vec_id AS q_id, v AS qv, j AS q_bk FROM ranked_assign
       |  WHERE rn <= 2 AND vec_id % 25 = 0),
       |grid AS (SELECT unnest(range($PqM)) AS mi),
       |codes0 AS (
       |  SELECT e.vec_id, grid.mi, s.j,
       |    ${dotSql(s"e.v[grid.mi * $PqSub + i]", s"s.cv[grid.mi * $PqSub + i]")} AS dotv
       |  FROM e CROSS JOIN grid CROSS JOIN seeds s),
       |codes AS (
       |  SELECT vec_id, mi, j AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, mi ORDER BY dotv DESC, j ASC) AS rn
       |    FROM codes0)
       |  WHERE rn = 1),
       |cand AS (
       |  SELECT p.q_id, p.qv, a.vec_id AS n_id
       |  FROM assigned a JOIN probed p ON a.bk = p.q_bk AND a.vec_id <> p.q_id),
       |terms AS (
       |  SELECT cand.q_id, cand.n_id, c.mi,
       |    ${dotSql(s"cand.qv[c.mi * $PqSub + i]", s"s.cv[c.mi * $PqSub + i]")} AS term
       |  FROM cand
       |  JOIN codes c ON c.vec_id = cand.n_id
       |  JOIN seeds s ON s.j = c.code),
       |scored AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(term ORDER BY mi), (a,b) -> a+b) AS score
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(score * 1e6) AS BIGINT) AS score_e6
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** Int8-quantized ANN — the bandwidth face: corpus AND queries carry
    * symmetric-int8 codes (1 byte/dim, the 4-8× scan-bandwidth cut), each
    * candidate scored by the exact integer code dot rescaled by the two
    * per-vector scales. The oracle replays quantization (maxAbs fold,
    * round(x/scale) — the `e_embed_stats` parity precedent covers
    * negative-value rounding), the integer dot (order-free), and the
    * association-pinned float rescale, so ranks AND both score columns
    * hash-match exactly.
    */
  def sAnnInt8(spark: SparkSession, dir: String): DataFrame =
    Similarity.topK(
      Tables.embeddings(spark, dir), annQueries(spark, dir), "vec_id", "embedding",
      Fence.All, Scorer.Int8, k = 10)

  val sAnnInt8Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |codes AS (
      |  SELECT vec_id, scale,
      |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE CAST(round(x / scale) AS INT) END) AS q
      |  FROM (
      |    SELECT vec_id, v,
      |      list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) / 127.0 AS scale
      |    FROM e)),
      |qs AS (SELECT vec_id AS q_id, scale AS q_scale, q AS qq FROM codes WHERE vec_id % 25 = 0),
      |scored AS (
      |  SELECT q_id, c.vec_id AS n_id,
      |    list_reduce(list_transform(range(1, len(qq) + 1), k -> CAST(qq[k] AS BIGINT) * c.q[k]),
      |      (a,b) -> a + b) AS idot,
      |    (CAST(list_reduce(list_transform(range(1, len(qq) + 1), k -> CAST(qq[k] AS BIGINT) * c.q[k]),
      |      (a,b) -> a + b) AS DOUBLE) * q_scale) * c.scale AS approx
      |  FROM codes c JOIN qs ON c.vec_id <> q_id),
      |ranked AS (
      |  SELECT q_id, n_id, idot, approx,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx DESC, n_id ASC) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, rank, CAST(idot AS BIGINT) AS idot,
      |  CAST(floor(approx * 1e6) AS BIGINT) AS approx_e6
      |FROM ranked WHERE rank <= 10""".stripMargin

  /** IVF-pruned int8 ANN — the bandwidth face's scale path (the exact
    * analogue of `s_ann_pq_ivf` for the int8 codes): coarse-quantizer
    * top-2 probe pruning first, native integer code dots on the survivors
    * only. The oracle composes the proven IVF-assignment CTEs with the
    * int8 quantization/dot CTEs — ranks and both score columns hash-match.
    */
  def sAnnInt8Ivf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = seedsFor(spark, dir, k = 16)
    Similarity.topK(
      e, annQueries(spark, dir), "vec_id", "embedding",
      Fence.Ivf(cents, probes = 2), Scorer.Int8, k = 10)
  }

  val sAnnInt8IvfSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |seeds AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
      |sc AS (
      |  SELECT e.vec_id, e.v, s.j, ${cosSql("e.v", "s.cv")} AS cosv
      |  FROM e CROSS JOIN seeds s),
      |ranked_assign AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosv DESC, j ASC) AS rn
      |  FROM sc),
      |assigned AS (SELECT vec_id, j AS bk FROM ranked_assign WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, j AS q_bk FROM ranked_assign
      |  WHERE rn <= 2 AND vec_id % 25 = 0),
      |codes AS (
      |  SELECT vec_id, scale,
      |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE CAST(round(x / scale) AS INT) END) AS q
      |  FROM (
      |    SELECT vec_id, v,
      |      list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) / 127.0 AS scale
      |    FROM e)),
      |cand AS (
      |  SELECT p.q_id, a.vec_id AS n_id
      |  FROM assigned a JOIN probes p ON a.bk = p.q_bk AND a.vec_id <> p.q_id),
      |scored AS (
      |  SELECT cand.q_id, cand.n_id,
      |    list_reduce(list_transform(range(1, len(qc.q) + 1), k -> CAST(qc.q[k] AS BIGINT) * nc.q[k]),
      |      (a,b) -> a + b) AS idot,
      |    (CAST(list_reduce(list_transform(range(1, len(qc.q) + 1), k -> CAST(qc.q[k] AS BIGINT) * nc.q[k]),
      |      (a,b) -> a + b) AS DOUBLE) * qc.scale) * nc.scale AS approx
      |  FROM cand
      |  JOIN codes qc ON qc.vec_id = cand.q_id
      |  JOIN codes nc ON nc.vec_id = cand.n_id),
      |ranked AS (
      |  SELECT q_id, n_id, idot, approx,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx DESC, n_id ASC) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, rank, CAST(idot AS BIGINT) AS idot,
      |  CAST(floor(approx * 1e6) AS BIGINT) AS approx_e6
      |FROM ranked WHERE rank <= 10""".stripMargin

  /** Multi-probe SemDeDup: candidate buckets = each vector's top-2 centroids
    * (primary cluster label stays the nearest), recovering near-dup pairs
    * that straddle a cluster boundary — the documented recall loss of the
    * single-probe face. The oracle replays the same rn <= 2 assignment and
    * unions verdicts through the identical MIN() fold (a pair sharing both
    * buckets collapses). DataOpsSpec measures the recall gain on crafted
    * boundary geometry.
    */
  def dSemDedupProbe2(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val k = Similarity.autoK(embCount(spark, dir))
    if (k <= FlatQuantizerMaxK)
      Dedup.semanticDedup(
        e, "vec_id", "embedding", seedsFor(spark, dir, k), threshold = 0.40, probes = 2)
    else
      // IMI multi-probe: pSub=2 per half → 3 rank-sum-capped cells (the
      // product-quantizer recovery of cross-cell pairs; candidates ×3)
      Dedup.semanticDedupImi(
        e, "vec_id", "embedding",
        imiCodebooksFor(spark, dir, Similarity.imiKSub(k)),
        threshold = 0.40, pSub = 2)
  }

  val dSemDedupProbe2Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
       |sc AS (
       |  SELECT e.vec_id, e.v, s.j, ${cosSql("e.v", "s.cv")} AS cosv
       |  FROM e CROSS JOIN seeds s),
       |probed AS (
       |  SELECT vec_id, v, j AS bk, rn FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosv DESC, j ASC) AS rn
       |    FROM sc)
       |  WHERE rn <= 2),
       |dup AS (
       |  SELECT b.vec_id AS vid, MIN(a.vec_id) AS dup_of
       |  FROM probed a JOIN probed b ON a.bk = b.bk AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= 0.40
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, CAST(s.bk AS BIGINT) AS cluster, d.dup_of,
       |  d.dup_of IS NULL AS keep
       |FROM (SELECT vec_id, bk FROM probed WHERE rn = 1) s
       |LEFT JOIN dup d ON s.vec_id = d.vid""".stripMargin

  // ---------------------- two-level product (IMI) quantizer oracle faces
  /** Fixture-scale parameters for the IMI oracle entries: kSub=4 codewords
    * per half (seeded from the 4 smallest-id vectors, [[Similarity.pqCodebooks]]
    * at m=2) → 16 product cells over the 64-dim embeddings (sub=32). The
    * oracle replays the per-half argmax-dot encoding with the proven
    * `s_ann_pq` CTEs at m=2 and folds the code pair into the cell id —
    * hash-exact. These entries are what make the > FlatQuantizerMaxK
    * switch in `s_ann_ivf_seeded` / `d_semdedup*` VERIFIED code (same
    * `imiAssign` / `semanticDedupImi` path, fixture k) rather than an
    * untested scale branch.
    */
  private val ImiKSub = 4
  private val ImiSub = 32
  // per-half unit normalization of a mean/seed vector — the CASE replays
  // the Scala zero-norm-left-raw guard, norms as the left-to-right
  // sum-of-squares fold (Similarity.imiCodebooks / imiCodebooksTrained)
  private def imiNrmSql(v: String) =
    s"sqrt(list_reduce(list_transform($v, x -> x * x), (x,y) -> x+y))"
  // one unrolled deterministic-Lloyd iteration: assign the training
  // sample to `prev`'s codewords (argmax dot, ties -> lowest j), then
  // move each codeword to the normalized per-component mean of its
  // members folded in ASCENDING vec_id order (list(hv ORDER BY vec_id)
  // then a left list_reduce — the exact order the Scala trainer uses);
  // empty cells keep their previous codeword
  private def imiLloydIterSql(prev: String, cur: String): String =
    s"""a_$cur AS (
       |  SELECT sh.vec_id, sh.mi, sh.hv, cb.j,
       |    ROW_NUMBER() OVER (PARTITION BY sh.vec_id, sh.mi ORDER BY
       |      list_reduce(list_transform(range(1, $ImiSub + 1), i -> sh.hv[i] * cb.cw[i]), (x,y) -> x+y) DESC,
       |      cb.j ASC) AS rn
       |  FROM sh JOIN $prev cb ON cb.mi = sh.mi),
       |u_$cur AS (
       |  SELECT mi, j, list_transform(range(1, $ImiSub + 1), i ->
       |    list_reduce(list_transform(lst, x -> x[i]), (x,y) -> x+y) / cnt) AS mv
       |  FROM (SELECT mi, j, list(hv ORDER BY vec_id) AS lst, COUNT(*) AS cnt
       |        FROM a_$cur WHERE rn = 1 GROUP BY mi, j)),
       |$cur AS (
       |  SELECT c.mi, c.j,
       |    CASE WHEN u.mv IS NULL THEN c.cw
       |         WHEN ${imiNrmSql("u.mv")} = 0 THEN u.mv
       |         ELSE list_transform(u.mv, x -> x / ${imiNrmSql("u.mv")}) END AS cw
       |  FROM $prev c LEFT JOIN u_$cur u ON u.mi = c.mi AND u.j = c.j)""".stripMargin
  // shared CTE block: seeded codebooks → md5-ordered training sample →
  // ImiTrainIters unrolled Lloyd iterations → per-half codes of the FULL
  // corpus against the TRAINED codewords → product cell per vector.
  // Exports `e`, `rcodes`, `cells` to the downstream query SQL.
  private val imiCellsSql: String = {
    require(ImiTrainIters == 2, "imiCellsSql unrolls exactly ImiTrainIters=2 Lloyd iterations")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |hm AS (SELECT unnest(range(2)) AS mi),
       |cb_0 AS (
       |  SELECT mi, j,
       |    CASE WHEN ${imiNrmSql("hv")} = 0 THEN hv
       |         ELSE list_transform(hv, x -> x / ${imiNrmSql("hv")}) END AS cw
       |  FROM (
       |    SELECT hm.mi AS mi, s.j AS j,
       |      list_transform(range(1, $ImiSub + 1), i -> s.sv[hm.mi * $ImiSub + i]) AS hv
       |    FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS sv
       |          FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $ImiKSub)) s
       |    CROSS JOIN hm)),
       |samp AS (
       |  SELECT vec_id, v FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ImiTrainSample),
       |sh AS (
       |  SELECT vec_id, hm.mi AS mi,
       |    list_transform(range(1, $ImiSub + 1), i -> v[hm.mi * $ImiSub + i]) AS hv
       |  FROM samp CROSS JOIN hm),
       |${imiLloydIterSql("cb_0", "cb_1")},
       |${imiLloydIterSql("cb_1", "cb_2")},
       |rcodes AS (
       |  SELECT vec_id, mi, j AS code, dotv,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, mi ORDER BY dotv DESC, j ASC) AS rn
       |  FROM (
       |    SELECT eh.vec_id, eh.mi, cb.j,
       |      list_reduce(list_transform(range(1, $ImiSub + 1), i -> eh.hv[i] * cb.cw[i]), (x,y) -> x+y) AS dotv
       |    FROM (
       |      SELECT vec_id, hm.mi AS mi,
       |        list_transform(range(1, $ImiSub + 1), i -> v[hm.mi * $ImiSub + i]) AS hv
       |      FROM e CROSS JOIN hm) eh
       |    JOIN cb_2 cb ON cb.mi = eh.mi)),
       |cells AS (
       |  SELECT c0.vec_id, c0.code * $ImiKSub + c1.code AS bk
       |  FROM rcodes c0 JOIN rcodes c1
       |    ON c0.vec_id = c1.vec_id AND c0.mi = 0 AND c1.mi = 1
       |   AND c0.rn = 1 AND c1.rn = 1)""".stripMargin
  }

  /** IVF ANN over the IMI product cells — the auto-k scale path's bucket
    * shape at fixture scale (see [[ImiKSub]]).
    */
  def sAnnImi(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cbs = imiCodebooksFor(spark, dir, ImiKSub)
    val bucketed = e.withColumn("_bk", Similarity.imiAssign(col("embedding"), cbs))
    Similarity.topK(
      bucketed, bucketed.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Column("_bk"), Scorer.Cosine, k = 10)
  }

  val sAnnImiSql: String =
    s"""$imiCellsSql,
       |av AS (SELECT e.vec_id, e.v, c.bk FROM e JOIN cells c ON e.vec_id = c.vec_id),
       |q AS (SELECT vec_id AS q_id, bk AS q_bk, v AS qv FROM av WHERE vec_id % 25 = 0),
       |scored AS (
       |  SELECT q_id, a.vec_id AS n_id, ${cosSql("qv", "a.v")} AS cosv
       |  FROM av a JOIN q ON a.bk = q_bk AND a.vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosv,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosv DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cosv * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** SemDeDup over the IMI product cells — [[Dedup.semanticDedupImi]]
    * single-probe at fixture scale (see [[ImiKSub]]).
    */
  def dSemDedupImi(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedupImi(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      imiCodebooksFor(spark, dir, ImiKSub), threshold = 0.40)

  val dSemDedupImiSql: String =
    s"""$imiCellsSql,
       |av AS (SELECT e.vec_id, e.v, c.bk FROM e JOIN cells c ON e.vec_id = c.vec_id),
       |dup AS (
       |  SELECT b.vec_id AS vid, MIN(a.vec_id) AS dup_of
       |  FROM av a JOIN av b ON a.bk = b.bk AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= 0.40
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, CAST(s.bk AS BIGINT) AS cluster, d.dup_of,
       |  d.dup_of IS NULL AS keep
       |FROM cells s LEFT JOIN dup d ON s.vec_id = d.vid""".stripMargin

  /** Multi-probe SemDeDup over the IMI cells — pSub=2 per half → the 3
    * rank-sum-capped cells (primary + the two single-substitution cells,
    * [[Similarity.imiProbeCells]]); the oracle replays the same rn <= 2
    * per-half ranking with the rank-sum cap (c0.rn + c1.rn <= 3), verdicts
    * unioned through the identical MIN() fold. Pins the multi-probe face
    * of the scale path at fixture scale.
    */
  def dSemDedupImiProbe(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedupImi(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      imiCodebooksFor(spark, dir, ImiKSub), threshold = 0.40, pSub = 2)

  val dSemDedupImiProbeSql: String =
    s"""$imiCellsSql,
       |probed AS (
       |  SELECT c0.vec_id, c0.code * $ImiKSub + c1.code AS bk,
       |    (c0.rn = 1 AND c1.rn = 1) AS is_primary
       |  FROM rcodes c0 JOIN rcodes c1
       |    ON c0.vec_id = c1.vec_id AND c0.mi = 0 AND c1.mi = 1
       |   AND c0.rn <= 2 AND c1.rn <= 2 AND c0.rn + c1.rn <= 3),
       |av AS (SELECT p.vec_id, e.v, p.bk FROM probed p JOIN e ON p.vec_id = e.vec_id),
       |dup AS (
       |  SELECT b.vec_id AS vid, MIN(a.vec_id) AS dup_of
       |  FROM av a JOIN av b ON a.bk = b.bk AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= 0.40
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, CAST(s.bk AS BIGINT) AS cluster, d.dup_of,
       |  d.dup_of IS NULL AS keep
       |FROM (SELECT vec_id, bk FROM probed WHERE is_primary) s
       |LEFT JOIN dup d ON s.vec_id = d.vid""".stripMargin

  /** The 3 rank-sum-capped probe cells per query vector (pSub=2), shared
    * by the two composed IMI ANN oracles below: per-half rn ≤ 2 with
    * rn₀ + rn₁ ≤ 3 over the trained-codebook codes — the SQL replay of
    * [[Similarity.imiProbeCells]] (1-indexed; the Scala contract is
    * 0-indexed rank₀ + rank₁ < pSub). Same CTE shape `d_semdedup_imi_probe`
    * proved, restricted to the query sample.
    */
  private val imiQueryProbesSql: String =
    s"""qprobes AS (
       |  SELECT c0.vec_id AS q_id, c0.code * $ImiKSub + c1.code AS q_bk
       |  FROM rcodes c0 JOIN rcodes c1
       |    ON c0.vec_id = c1.vec_id AND c0.mi = 0 AND c1.mi = 1
       |   AND c0.rn <= 2 AND c1.rn <= 2 AND c0.rn + c1.rn <= 3
       |  WHERE c0.vec_id % 25 = 0)""".stripMargin

  /** IMI-pruned ADC ANN — the composed 100 TB query shape at AUTO-K: past
    * [[FlatQuantizerMaxK]] the flat pruner of `s_ann_pq_ivf` stops scaling
    * (k·dim per-row assignment, k·dim model), so the candidate fence
    * becomes the kSub² product cells (multi-probe pSub=2 → the 3
    * rank-sum-capped cells) and only survivors are ADC-scored through the
    * PQ lookup tables. Cell model and score model are independent: the
    * trained unit-norm IMI codebooks fence candidates, the raw m=8 PQ
    * codebooks score them. The oracle composes three proven blocks — the
    * trained IMI cell CTEs (`imiCellsSql`), the probe CTE shape of
    * `d_semdedup_imi_probe`, and the PQ encode/LUT fold of `s_ann_pq` —
    * so scores bit-match `s_ann_pq` on shared candidates.
    *
    * pSub=2 here exercises the multi-probe plumbing at fixture scale
    * (kSub=4 caps pSub anyway); it is NOT the production probe depth —
    * top-k ANN probes deep (pSub≈8, where the fence reaches the scoring
    * ceiling; [[Similarity.Fence.Imi]] scaladoc, SCALE.md r12).
    */
  def sAnnPqImi(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topK(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub), pSub = 2),
      Scorer.Adc(codebooksFor(spark, dir, m = PqM, k = PqK)), k = 10)
  }

  /** The composed IMI-fence + seeded-PQ ADC chain through the `ranked` CTE
    * (columns q_id, n_id, score, rank) — shared by the base composed face
    * and the IVFADC+R re-rank face, which differ only in what they take
    * from the ADC ranking.
    */
  private val pqImiRankedCtes: String = {
    val dotSql = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, $PqSub + 1), i -> $a * $b), (x,y) -> x+y)"
    s"""$imiCellsSql,
       |$imiQueryProbesSql,
       |pseeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $PqK)),
       |grid AS (SELECT unnest(range($PqM)) AS mi),
       |codes0 AS (
       |  SELECT e.vec_id, grid.mi, s.j,
       |    ${dotSql(s"e.v[grid.mi * $PqSub + i]", s"s.cv[grid.mi * $PqSub + i]")} AS dotv
       |  FROM e CROSS JOIN grid CROSS JOIN pseeds s),
       |codes AS (
       |  SELECT vec_id, mi, j AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, mi ORDER BY dotv DESC, j ASC) AS rn
       |    FROM codes0)
       |  WHERE rn = 1),
       |qv AS (SELECT vec_id AS q_id, v AS qvec FROM e WHERE vec_id % 25 = 0),
       |cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM cells c JOIN qprobes p ON c.bk = p.q_bk AND c.vec_id <> p.q_id),
       |terms AS (
       |  SELECT cand.q_id, cand.n_id, c.mi,
       |    ${dotSql(s"q.qvec[c.mi * $PqSub + i]", s"s.cv[c.mi * $PqSub + i]")} AS term
       |  FROM cand
       |  JOIN qv q ON q.q_id = cand.q_id
       |  JOIN codes c ON c.vec_id = cand.n_id
       |  JOIN pseeds s ON s.j = c.code),
       |scored AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(term ORDER BY mi), (a,b) -> a+b) AS score
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
       |  FROM scored)""".stripMargin
  }

  val sAnnPqImiSql: String =
    s"""$pqImiRankedCtes
       |SELECT q_id, n_id, rank, CAST(floor(score * 1e6) AS BIGINT) AS score_e6
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** The persisted ANN INDEX: [[graft.data.Similarity.encode]]'s
    * (n_id, n_bk, n_codes) frame under the IMI fence and ADC scorer, materialized ONCE per (corpus stamp) as
    * a table BUCKETED BY the cell id — the "build once, query many"
    * production shape. Inline composed faces re-pay the full
    * imiAssign+PqEncode corpus scan per query batch (at 100 TB: re-encode
    * the corpus per batch); the indexed face reads three skinny columns,
    * and bucket pruning cuts the read to the probed cells only.
    */
  private def imiPqIndexFor(spark: SparkSession, dir: String): DataFrame = {
    graft.connectors.Bucketing.ensureBucketed(
      spark,
      Similarity.encode(
        Tables.embeddings(spark, dir), "vec_id", "embedding",
        Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub)), Scorer.Adc(codebooksFor(spark, dir, m = PqM, k = PqK))),
      // 64 buckets: a bucketed scan parallelizes one task per bucket, so
      // the bucket count must exceed the executor-core count or the index
      // read caps below the inline face's split parallelism (measured:
      // 8 buckets scaled 1.9× at 10× rows vs the inline face's 1.4×)
      s"${graft.connectors.Bucketing.indexDirFor(dir)}/ann_imipq", "n_bk", 64,
      sourceStamp = graft.connectors.Bucketing.cachedStamp(s"$dir/embeddings.parquet"))
  }

  /** [[sAnnPqImi]] served from the persisted index
    * ([[graft.data.Similarity.topKIndexed]]): identical output
    * (the SAME oracle SQL gates it), but the corpus side is a bucketed
    * 3-column read with the probed cells pushed as bucket pruning.
    */
  def sAnnPqImiIdx(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topKIndexed(
      imiPqIndexFor(spark, dir), e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub), pSub = 2),
      Scorer.Adc(codebooksFor(spark, dir, m = PqM, k = PqK)), k = 10)
  }

  val sAnnPqImiIdxSql: String = sAnnPqImiSql

  /** IVFADC+R shortlist depth for the fixture face (production band
    * R ≈ 10·k — [[graft.data.Similarity.rerank]]).
    */
  private val AnnRerankR = 30

  /** IVFADC+R: [[sAnnPqImi]]'s ADC ranking keeps its top-R shortlist and
    * the TRUE vectors re-rank it down to k — the published refinement
    * (Jégou et al. TPAMI'11 §V) that recovers the score-model-gated
    * recall while the corpus-sized work stays code-only. Output is
    * `cos_e6` (the [[sAnnBrute]] shape), so recall reads directly against
    * the exact face.
    */
  def sAnnPqImiRr(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.rerank(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub), pSub = 2),
      Scorer.Adc(codebooksFor(spark, dir, m = PqM, k = PqK)), k = 10, rerankR = AnnRerankR)
  }

  val sAnnPqImiRrSql: String =
    s"""$pqImiRankedCtes,
       |short AS (SELECT q_id, n_id FROM ranked WHERE rank <= $AnnRerankR),
       |rr AS (
       |  SELECT s.q_id, s.n_id, ${cosSql("q.qvec", "n.v")} AS cos
       |  FROM short s
       |  JOIN qv q ON q.q_id = s.q_id
       |  JOIN e n ON n.vec_id = s.n_id),
       |rranked AS (
       |  SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM rr)
       |SELECT q_id, n_id, rank, CAST(floor(cos * 1e6) AS BIGINT) AS cos_e6
       |FROM rranked WHERE rank <= 10""".stripMargin

  /** Fence-cost estimator — the EXACT per-query candidate volume of the
    * composed IMI fence ([[sAnnPqImi]]'s join), priced from a per-cell
    * histogram + probe-cell lookups instead of the join itself
    * ([[graft.data.Similarity.imiFenceCandidateCounts]]). The oracle
    * replays the same decomposition over the proven `cells`/`qprobes`
    * CTEs: Σ probed-cell counts, minus the query's own row where its
    * cell is probed.
    */
  def sAnnFenceCost(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.imiFenceCandidateCounts(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      imiCodebooksFor(spark, dir, ImiKSub), pSub = 2)
  }

  val sAnnFenceCostSql: String =
    s"""$imiCellsSql,
       |$imiQueryProbesSql,
       |ccounts AS (SELECT bk, COUNT(*) AS cnt FROM cells GROUP BY bk),
       |gross AS (
       |  SELECT p.q_id, SUM(coalesce(c.cnt, 0)) AS g
       |  FROM qprobes p LEFT JOIN ccounts c ON c.bk = p.q_bk
       |  GROUP BY p.q_id),
       |selfc AS (
       |  SELECT p.q_id, COUNT(*) AS s
       |  FROM qprobes p JOIN cells cl ON cl.vec_id = p.q_id AND cl.bk = p.q_bk
       |  GROUP BY p.q_id)
       |SELECT g.q_id, CAST(g.g - coalesce(s.s, 0) AS BIGINT) AS n_cand
       |FROM gross g LEFT JOIN selfc s ON s.q_id = g.q_id""".stripMargin

  /** Probe depths swept by the fence planner face (kSub=4 caps the
    * fixture at 4; 1..3 exercises the single-probe branch, the proven
    * pSub=2 shape, and a deeper arm on one curve).
    */
  private val AnnPlanPSubs = Seq(1, 2, 3)

  /** Per-query candidate budget for [[sAnnProbePlan]], sized at the
    * sf0.01 gate so the sweep exercises BOTH flag states: pSub=1,2 fit,
    * pSub=3 does not → chosen=2, the deepest affordable fence.
    */
  private val AnnPlanBudget = 120L

  /** Fence PLANNER — [[graft.data.Similarity.imiProbePlan]]: the priced
    * probe-depth curve aggregated per pSub and resolved into the pSub
    * decision (deepest fence whose total candidate volume fits
    * `maxCandPerQuery · nQueries`; smallest swept pSub as the loud
    * fallback when nothing fits). The oracle generalizes the proven
    * pSub=2 probe CTE to a per-depth rank cap (1-indexed:
    * rn₀,rn₁ ≤ p ∧ rn₀+rn₁ ≤ p+1 ⇔ the Scala 0-indexed
    * rank₀+rank₁ < p contract), prices each depth against the same cell
    * histogram, and replays the integer-exact budget comparison and
    * argmax choice.
    */
  def sAnnProbePlan(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.imiProbePlan(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      imiCodebooksFor(spark, dir, ImiKSub), AnnPlanPSubs, maxCandPerQuery = AnnPlanBudget)
  }

  val sAnnProbePlanSql: String =
    s"""$imiCellsSql,
       |qpr AS (
       |  SELECT ps.p_sub, c0.vec_id AS q_id, c0.code * $ImiKSub + c1.code AS q_bk
       |  FROM (VALUES (${AnnPlanPSubs.mkString("),(")})) ps(p_sub)
       |  JOIN rcodes c0 ON c0.mi = 0 AND c0.rn <= ps.p_sub
       |  JOIN rcodes c1 ON c1.vec_id = c0.vec_id AND c1.mi = 1 AND c1.rn <= ps.p_sub
       |    AND c0.rn + c1.rn <= ps.p_sub + 1
       |  WHERE c0.vec_id % 25 = 0),
       |ccounts AS (SELECT bk, COUNT(*) AS cnt FROM cells GROUP BY bk),
       |gross AS (
       |  SELECT p.p_sub, p.q_id, SUM(coalesce(c.cnt, 0)) AS g
       |  FROM qpr p LEFT JOIN ccounts c ON c.bk = p.q_bk
       |  GROUP BY 1, 2),
       |selfc AS (
       |  SELECT p.p_sub, p.q_id, COUNT(*) AS s
       |  FROM qpr p JOIN cells cl ON cl.vec_id = p.q_id AND cl.bk = p.q_bk
       |  GROUP BY 1, 2),
       |curve AS (
       |  SELECT g.p_sub, g.q_id, g.g - coalesce(s.s, 0) AS n_cand
       |  FROM gross g LEFT JOIN selfc s ON s.p_sub = g.p_sub AND s.q_id = g.q_id),
       |agg AS (
       |  SELECT p_sub, COUNT(*) AS n_queries, SUM(n_cand) AS total_cand
       |  FROM curve GROUP BY 1),
       |flags AS (
       |  SELECT p_sub, n_queries, CAST(total_cand AS BIGINT) AS total_cand,
       |    total_cand <= $AnnPlanBudget * n_queries AS fits
       |  FROM agg),
       |sel AS (
       |  SELECT coalesce(MAX(p_sub) FILTER (WHERE fits), MIN(p_sub)) AS ch FROM flags)
       |SELECT f.p_sub, f.n_queries, f.total_cand, f.fits, f.p_sub = s.ch AS chosen
       |FROM flags f CROSS JOIN sel s""".stripMargin

  /** IMI-pruned int8 ANN — the bandwidth face at AUTO-K, composing the IMI
    * cell fence with the exact integer code dot of `s_ann_int8` (see
    * [[sAnnPqImi]] for the cell quantizer's scale argument; corpus ships
    * (id, cell, scale, codes) — 1 byte/dim). Scores bit-match `s_ann_int8`
    * on shared candidates.
    */
  def sAnnInt8Imi(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topK(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub), pSub = 2), Scorer.Int8, k = 10)
  }

  val sAnnInt8ImiSql: String =
    s"""$imiCellsSql,
       |$imiQueryProbesSql,
       |icodes AS (
       |  SELECT vec_id, scale,
       |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE CAST(round(x / scale) AS INT) END) AS q
       |  FROM (
       |    SELECT vec_id, v,
       |      list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) / 127.0 AS scale
       |    FROM e)),
       |cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM cells c JOIN qprobes p ON c.bk = p.q_bk AND c.vec_id <> p.q_id),
       |scored AS (
       |  -- idot once in the inner scope, approx derived from the alias:
       |  -- the integer dot is the heaviest expression of the whole query
       |  -- and nothing guarantees DuckDB CSEs a doubled copy (ADVICE r12)
       |  SELECT q_id, n_id, idot, (CAST(idot AS DOUBLE) * qscale) * nscale AS approx
       |  FROM (
       |    SELECT cand.q_id, cand.n_id, qc.scale AS qscale, nc.scale AS nscale,
       |      list_reduce(list_transform(range(1, len(qc.q) + 1), k -> CAST(qc.q[k] AS BIGINT) * nc.q[k]),
       |        (a,b) -> a + b) AS idot
       |    FROM cand
       |    JOIN icodes qc ON qc.vec_id = cand.q_id
       |    JOIN icodes nc ON nc.vec_id = cand.n_id)),
       |ranked AS (
       |  SELECT q_id, n_id, idot, approx,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(idot AS BIGINT) AS idot,
       |  CAST(floor(approx * 1e6) AS BIGINT) AS approx_e6
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** The TRAINED-scoring-model composed face: [[sAnnPqImi]] with the PQ
    * scoring codebooks Lloyd-trained ([[Similarity.pqCodebooksTrainedDet]])
    * and the corpus encoded against them by EUCLIDEAN-nearest codeword
    * (the trained-codebook contract — see the `nearest` scaladoc on
    * [[graft.functions.PqEncode]]). This is the full production 100 TB ANN
    * query shape with every model trained: trained unit-norm IMI cells
    * fence candidates, trained raw PQ codebooks score them. The oracle
    * replays BOTH trainings — the IMI Lloyd CTEs of `s_ann_imi` plus a
    * per-subspace PQ Lloyd chain (seeded slices → md5-ordered sample →
    * 2 unrolled iterations with the dot−0.5·‖cw‖² nearest assignment →
    * full-corpus nearest encode) — hash-exact. ScaleMechanicsSpec measures
    * what training buys at the n=200k operating point (VERDICT r12 #1:
    * recall is score-model-gated; the seeded k=256 ceiling was 0.391).
    */
  def sAnnPqImiT(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topK(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub), pSub = 2),
      Scorer.Adc(pqTrainedFor(spark, dir, m = PqM, k = PqK), nearest = true), k = 10)
  }

  // sub-vector dot: components folded left-to-right over the slice —
  // the PqLut / pqCodebooksTrainedDet fold order
  private val subDotSql = (a: String, b: String) =>
    s"list_reduce(list_transform(range(1, $PqSub + 1), i -> $a[i] * $b[i]), (x,y) -> x+y)"
  // nearest-assignment score: dot − 0.5·(left-to-right sum of squares)
  private val nearScoreSql = (sv: String, cw: String) =>
    s"${subDotSql(sv, cw)} - 0.5 * list_reduce(list_transform($cw, x -> x * x), (x,y) -> x+y)"
  // one unrolled deterministic-Lloyd iteration per subspace over sample
  // CTE `sh` (columns vec_id, mi, sv): assign the sample slices to `prev`
  // (nearest score, ties -> lowest j), move each codeword to the
  // per-component mean of its members in ASCENDING vec_id order (NO
  // normalization — scoring codewords stay raw); empty cells keep their
  // previous codeword. Shared by the trained-PQ and residual-PQ faces.
  private def pqLloydIterSql(sh: String, prev: String, cur: String): String =
    s"""pa_$cur AS (
       |  SELECT sh.vec_id, sh.mi, sh.sv, cb.j,
       |    ROW_NUMBER() OVER (PARTITION BY sh.vec_id, sh.mi ORDER BY
       |      ${nearScoreSql("sh.sv", "cb.cw")} DESC,
       |      cb.j ASC) AS rn
       |  FROM $sh sh JOIN $prev cb ON cb.mi = sh.mi),
       |pu_$cur AS (
       |  SELECT mi, j, list_transform(range(1, $PqSub + 1), i ->
       |    list_reduce(list_transform(lst, x -> x[i]), (x,y) -> x+y) / cnt) AS mv
       |  FROM (SELECT mi, j, list(sv ORDER BY vec_id) AS lst, COUNT(*) AS cnt
       |        FROM pa_$cur WHERE rn = 1 GROUP BY mi, j)),
       |$cur AS (
       |  SELECT c.mi, c.j, COALESCE(u.mv, c.cw) AS cw
       |  FROM $prev c LEFT JOIN pu_$cur u ON u.mi = c.mi AND u.j = c.j)""".stripMargin

  val sAnnPqImiTSql: String = {
    val sampleN = Similarity.imiTrainSampleN(PqK)
    require(PqTrainIters == 2, "sAnnPqImiTSql unrolls exactly PqTrainIters=2 Lloyd iterations")
    val nearScore = nearScoreSql
    def pqLloydIterSql(prev: String, cur: String): String =
      DataQueries.pqLloydIterSql("psh", prev, cur)
    s"""$imiCellsSql,
       |$imiQueryProbesSql,
       |pgrid AS (SELECT unnest(range($PqM)) AS mi),
       |pcb_0 AS (
       |  SELECT pgrid.mi AS mi, s.j AS j,
       |    list_transform(range(1, $PqSub + 1), i -> s.sv[pgrid.mi * $PqSub + i]) AS cw
       |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS sv
       |        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $PqK)) s
       |  CROSS JOIN pgrid),
       |psamp AS (
       |  SELECT vec_id, v FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $sampleN),
       |psh AS (
       |  SELECT vec_id, pgrid.mi AS mi,
       |    list_transform(range(1, $PqSub + 1), i -> v[pgrid.mi * $PqSub + i]) AS sv
       |  FROM psamp CROSS JOIN pgrid),
       |${pqLloydIterSql("pcb_0", "pcb_1")},
       |${pqLloydIterSql("pcb_1", "pcb_2")},
       |pcodes AS (
       |  SELECT vec_id, mi, j AS code FROM (
       |    SELECT eh.vec_id, eh.mi, cb.j,
       |      ROW_NUMBER() OVER (PARTITION BY eh.vec_id, eh.mi ORDER BY
       |        ${nearScore("eh.sv", "cb.cw")} DESC, cb.j ASC) AS rn
       |    FROM (
       |      SELECT vec_id, pgrid.mi AS mi,
       |        list_transform(range(1, $PqSub + 1), i -> v[pgrid.mi * $PqSub + i]) AS sv
       |      FROM e CROSS JOIN pgrid) eh
       |    JOIN pcb_2 cb ON cb.mi = eh.mi)
       |  WHERE rn = 1),
       |qv AS (SELECT vec_id AS q_id, v AS qvec FROM e WHERE vec_id % 25 = 0),
       |cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM cells c JOIN qprobes p ON c.bk = p.q_bk AND c.vec_id <> p.q_id),
       |terms AS (
       |  SELECT cand.q_id, cand.n_id, c.mi,
       |    list_reduce(list_transform(range(1, $PqSub + 1),
       |      i -> q.qvec[c.mi * $PqSub + i] * cb.cw[i]), (x,y) -> x+y) AS term
       |  FROM cand
       |  JOIN qv q ON q.q_id = cand.q_id
       |  JOIN pcodes c ON c.vec_id = cand.n_id
       |  JOIN pcb_2 cb ON cb.mi = c.mi AND cb.j = c.code),
       |scored AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(term ORDER BY mi), (a,b) -> a+b) AS score
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(score * 1e6) AS BIGINT) AS score_e6
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** RESIDUAL-encoded composed ANN — the full IVFADC construction
    * ([[Similarity.Scorer.ResidualAdc]]): the corpus PQ-codes each
    * vector's residual against its own trained IMI cell center, and
    * scores decompose as ⟨q,center⟩ (two hits into the cell-codebook LUT
    * the probe machinery already pins) + the residual ADC fold. The
    * oracle composes the trained-cell CTEs with a residual CTE (v minus
    * the joined cell codewords), a full residual-PQ Lloyd chain over the
    * residual frame (the `pqLloydIterSql` template re-anchored at `rsh`),
    * the nearest residual encode, and the pinned
    * `(s₀·i₀+s₁·i₁) + (t₀+t₁+…)` score fold — hash-exact.
    * ScaleMechanicsSpec measures residual coding at n=200k: 0.386 —
    * above seeded-raw composed (0.372), below trained-raw (0.402) on
    * the near-isotropic synthetic corpus, where √k-coarse cells explain
    * little variance; the lever pays on corpora whose cells capture real
    * structure (SCALE.md r13).
    */
  def sAnnPqImiR(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topK(
      e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub), pSub = 2),
      Scorer.ResidualAdc(rpqTrainedFor(spark, dir)), k = 10)
  }

  // residual-PQ scoring codebooks: trained on residuals against the
  // TRAINED IMI cells, so the model name carries BOTH trainings' params
  private def rpqTrainedFor(spark: SparkSession, dir: String): Seq[Seq[Seq[Double]]] = {
    val sampleN = Similarity.imiTrainSampleN(PqK)
    // "proj" marks the PROJECTION residual construction (v − s·cw): a
    // residual-definition change is an algorithm change, and the name is
    // what stops a stale persisted generation from riding in
    ModelStore.get(ModelStore.codebooks(spark), dir, "embeddings",
      s"rpqcbt-proj-m$PqM-k$PqK-i$PqTrainIters-s$sampleN-" +
        s"cells$ImiKSub-i$ImiTrainIters-s$ImiTrainSample") {
      val icbs = imiCodebooksFor(spark, dir, ImiKSub)
      val resid = Tables.embeddings(spark, dir).select(
        col("vec_id"),
        Similarity.imiResidual(col("embedding"), icbs).as("_rv"))
      Similarity.pqCodebooksTrainedDet(
        resid, "vec_id", "_rv", PqM, PqK, iters = PqTrainIters, sampleN = sampleN)
    }
  }

  val sAnnPqImiRSql: String = {
    val sampleN = Similarity.imiTrainSampleN(PqK)
    require(PqTrainIters == 2, "sAnnPqImiRSql unrolls exactly PqTrainIters=2 Lloyd iterations")
    val halfDot = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, $ImiSub + 1), i -> $a * $b), (x,y) -> x+y)"
    s"""$imiCellsSql,
       |$imiQueryProbesSql,
       |pgrid AS (SELECT unnest(range($PqM)) AS mi),
       |resid AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, $ImiSub + 1), i -> e.v[i] - r0.dotv * ca.cw[i]) ||
       |    list_transform(range(1, $ImiSub + 1), i -> e.v[i + $ImiSub] - r1.dotv * cbw.cw[i]) AS rv
       |  FROM e
       |  JOIN rcodes r0 ON r0.vec_id = e.vec_id AND r0.mi = 0 AND r0.rn = 1
       |  JOIN rcodes r1 ON r1.vec_id = e.vec_id AND r1.mi = 1 AND r1.rn = 1
       |  JOIN cb_2 ca ON ca.mi = 0 AND ca.j = r0.code
       |  JOIN cb_2 cbw ON cbw.mi = 1 AND cbw.j = r1.code),
       |rcb_0 AS (
       |  SELECT pgrid.mi AS mi, s.j AS j,
       |    list_transform(range(1, $PqSub + 1), i -> s.sv[pgrid.mi * $PqSub + i]) AS cw
       |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, rv AS sv
       |        FROM (SELECT vec_id, rv FROM resid ORDER BY vec_id LIMIT $PqK)) s
       |  CROSS JOIN pgrid),
       |rsamp AS (
       |  SELECT vec_id, rv FROM resid
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $sampleN),
       |rsh AS (
       |  SELECT vec_id, pgrid.mi AS mi,
       |    list_transform(range(1, $PqSub + 1), i -> rv[pgrid.mi * $PqSub + i]) AS sv
       |  FROM rsamp CROSS JOIN pgrid),
       |${pqLloydIterSql("rsh", "rcb_0", "rcb_1")},
       |${pqLloydIterSql("rsh", "rcb_1", "rcb_2")},
       |rpcodes AS (
       |  SELECT vec_id, mi, j AS code FROM (
       |    SELECT eh.vec_id, eh.mi, cb.j,
       |      ROW_NUMBER() OVER (PARTITION BY eh.vec_id, eh.mi ORDER BY
       |        ${nearScoreSql("eh.sv", "cb.cw")} DESC, cb.j ASC) AS rn
       |    FROM (
       |      SELECT vec_id, pgrid.mi AS mi,
       |        list_transform(range(1, $PqSub + 1), i -> rv[pgrid.mi * $PqSub + i]) AS sv
       |      FROM resid CROSS JOIN pgrid) eh
       |    JOIN rcb_2 cb ON cb.mi = eh.mi)
       |  WHERE rn = 1),
       |qv AS (SELECT vec_id AS q_id, v AS qvec FROM e WHERE vec_id % 25 = 0),
       |cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM cells c JOIN qprobes p ON c.bk = p.q_bk AND c.vec_id <> p.q_id),
       |centerd AS (
       |  SELECT cand.q_id, cand.n_id,
       |    r0.dotv * ${halfDot("q.qvec[i]", "ca.cw[i]")}
       |    + r1.dotv * ${halfDot(s"q.qvec[i + $ImiSub]", "cbw.cw[i]")} AS cdot
       |  FROM cand
       |  JOIN qv q ON q.q_id = cand.q_id
       |  JOIN rcodes r0 ON r0.vec_id = cand.n_id AND r0.mi = 0 AND r0.rn = 1
       |  JOIN rcodes r1 ON r1.vec_id = cand.n_id AND r1.mi = 1 AND r1.rn = 1
       |  JOIN cb_2 ca ON ca.mi = 0 AND ca.j = r0.code
       |  JOIN cb_2 cbw ON cbw.mi = 1 AND cbw.j = r1.code),
       |rterms AS (
       |  SELECT cand.q_id, cand.n_id, c.mi,
       |    list_reduce(list_transform(range(1, $PqSub + 1),
       |      i -> q.qvec[c.mi * $PqSub + i] * cb.cw[i]), (x,y) -> x+y) AS term
       |  FROM cand
       |  JOIN qv q ON q.q_id = cand.q_id
       |  JOIN rpcodes c ON c.vec_id = cand.n_id
       |  JOIN rcb_2 cb ON cb.mi = c.mi AND cb.j = c.code),
       |scored AS (
       |  SELECT r.q_id, r.n_id,
       |    cd.cdot + list_reduce(list(r.term ORDER BY r.mi), (a,b) -> a+b) AS score
       |  FROM rterms r JOIN centerd cd ON cd.q_id = r.q_id AND cd.n_id = r.n_id
       |  GROUP BY r.q_id, r.n_id, cd.cdot),
       |ranked AS (
       |  SELECT q_id, n_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(score * 1e6) AS BIGINT) AS score_e6
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** Sign-LSH ANN: the label-free scale path — buckets from 8 deterministic
    * hyperplanes (no natural coarse column needed), then the same bucket
    * equi-join as the IVF query. The oracle inlines the identical plane
    * constants and replays the dot products left-to-right, so bucket
    * assignments and scores hash-match exactly.
    */
  private val AnnNbits = 8
  private val AnnDim = 64
  private lazy val annPlanes = Similarity.hyperplanes(AnnNbits, AnnDim)

  def sAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .embeddings(spark, dir)
      .withColumn("_bk", Similarity.lshBucket(col("embedding"), annPlanes))
    Similarity.topK(
      docs, docs.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
      Fence.Column("_bk"), Scorer.Cosine, k = 10)
  }

  lazy val sAnnLshSql: String = {
    val planeArrs = annPlanes.zipWithIndex
      .map { case (p, i) => p.map(_.toString).mkString("[", ",", "]") + s"::DOUBLE[] AS p$i" }
      .mkString(",\n    ")
    val dotSql = (i: Int) =>
      s"list_reduce(list_transform(range(1, len(v)+1), k -> v[k] * p$i[k]), (x,y) -> x+y)"
    val bucketSql = (0 until AnnNbits)
      .map(i => s"(CASE WHEN ${dotSql(i)} > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("\n      + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |planes AS (SELECT
       |    $planeArrs),
       |b AS (
       |  SELECT vec_id, v,
       |    $bucketSql AS bk
       |  FROM e CROSS JOIN planes),
       |q AS (SELECT vec_id AS q_id, bk AS q_bk, v AS qv FROM b WHERE vec_id % 25 = 0),
       |scored AS (
       |  SELECT q_id, b.vec_id AS n_id, ${cosSql("qv", "b.v")} AS cosv
       |  FROM b JOIN q ON b.bk = q_bk AND b.vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosv,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosv DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cosv * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** Multi-probe sign-LSH ANN: each query probes its own bucket plus the
    * [[AnnFlips]] lowest-|margin| single-bit flips — the standard multi-probe
    * recovery of near-boundary neighbors that single-probe bucketing loses
    * (VERDICT r2 #1). The oracle replays the identical dot products, flip
    * ranking (abs(d) asc, plane index asc) and XOR probe set, so the result
    * hash-matches exactly; SimilaritySpec measures the recall gain vs brute.
    */
  private val AnnFlips = 2

  def sAnnLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .embeddings(spark, dir)
      .withColumn("_dots", Similarity.lshDots(col("embedding"), annPlanes))
      .withColumn("_bk", Similarity.lshBucketFromDots(col("_dots"), AnnNbits))
    val queries = base
      .filter(col("vec_id") % 25 === 0)
      .withColumn("_probes", Similarity.lshProbes(col("_dots"), AnnNbits, AnnFlips))
    Similarity.topK(
      base, queries, "vec_id", "embedding", Fence.Probes("_bk", "_probes"), Scorer.Cosine, k = 10)
  }

  lazy val sAnnLshMultiprobeSql: String = {
    val planeArrs = annPlanes.zipWithIndex
      .map { case (p, i) => p.map(_.toString).mkString("[", ",", "]") + s"::DOUBLE[] AS p$i" }
      .mkString(",\n    ")
    val dotSql = (i: Int, vcol: String) =>
      s"list_reduce(list_transform(range(1, len($vcol)+1), k -> $vcol[k] * p$i[k]), (x,y) -> x+y)"
    val bucketSql = (0 until AnnNbits)
      .map(i => s"(CASE WHEN ${dotSql(i, "v")} > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("\n      + ")
    val dotsUnion = (0 until AnnNbits)
      .map(i => s"SELECT q_id, $i AS i, ${dotSql(i, "qv")} AS d FROM q0 CROSS JOIN planes")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |planes AS (SELECT
       |    $planeArrs),
       |b AS (
       |  SELECT vec_id, v,
       |    $bucketSql AS bk
       |  FROM e CROSS JOIN planes),
       |q0 AS (SELECT vec_id AS q_id, bk AS q_bk, v AS qv FROM b WHERE vec_id % 25 = 0),
       |dots AS (
       |  $dotsUnion),
       |flips AS (
       |  SELECT q_id, i FROM (
       |    SELECT q_id, i,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY abs(d) ASC, i ASC) AS rn
       |    FROM dots) WHERE rn <= $AnnFlips),
       |probes AS (
       |  SELECT q_id, q_bk AS probe FROM q0
       |  UNION ALL
       |  SELECT f.q_id, xor(q0.q_bk, (1 << f.i)) AS probe FROM flips f JOIN q0 ON q0.q_id = f.q_id),
       |scored AS (
       |  SELECT p.q_id, b.vec_id AS n_id, ${cosSql("q0.qv", "b.v")} AS cosv
       |  FROM b
       |  JOIN probes p ON b.bk = p.probe
       |  JOIN q0 ON q0.q_id = p.q_id AND b.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosv,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosv DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cosv * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** PII scrubbing over the corpus. The fixture text carries no PII, so a
    * deterministic slice is injected first (emails / IPv4s / phone-shaped
    * digit runs keyed off doc_id) — the redactor must find exactly those.
    * Output hashes the redacted text so the oracle compares full content
    * without shipping it.
    */
  def tRedact(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val injected = Tables
      .documents(spark, dir)
      .withColumn(
        "text",
        when(id % 7 === 0, concat(col("text"), lit(" contact bob"), id % 100, lit("@example.com now")))
          .when(id % 11 === 0, concat(col("text"), lit(" from 10.0."), id % 256, lit(".7 net")))
          .when(id % 13 === 0, concat(col("text"), lit(" call 555 123 44"), id % 100))
          .otherwise(col("text")))
    TextAnalysis
      .redactPii(injected, "doc_id", "text")
      .select(
        col("doc_id"),
        col("n_email"),
        col("n_ipv4"),
        col("n_digits"),
        md5(col("redacted")).as("redacted_md5"))
  }

  val tRedactSql: String = {
    val Seq(email, ipv4, digits) = TextAnalysis.piiPatterns.map(_._2)
    s"""WITH inj AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact bob' || CAST(doc_id % 100 AS VARCHAR) || '@example.com now'
       |         WHEN doc_id % 11 = 0 THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 net'
       |         WHEN doc_id % 13 = 0 THEN text || ' call 555 123 44' || CAST(doc_id % 100 AS VARCHAR)
       |         ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$email')) AS n_email,
       |  len(regexp_extract_all(text, '$ipv4')) AS n_ipv4,
       |  len(regexp_extract_all(text, '$digits')) AS n_digits,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'),
       |    '$ipv4', '<IP>', 'g'),
       |    '$digits', '<NUM>', 'g')) AS redacted_md5
       |FROM inj""".stripMargin
  }

  // ------------------------------------------------------- corpus assembly
  /** Deterministic stratified corpus mixing: per-language keep rates, the
    * survival verdict a pure function of (lang, doc_id) via the md5-60
    * family — reproducible across runs/partitionings, replayed exactly by
    * the oracle.
    */
  private val mixRates = Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.1)
  private val mixDefault = 0.05

  def dStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    CorpusOps
      .stratifiedSample(Tables.documents(spark, dir), "doc_id", "lang", mixRates, mixDefault)
      .select(col("doc_id"), col("lang"), col("source"))

  val dStratifiedSampleSql: String = {
    val rateCase = mixRates
      .map { case (k, v) => s"WHEN '$k' THEN $v" }
      .mkString("CASE lang ", " ", s" ELSE $mixDefault END")
    s"""SELECT doc_id, lang, source
       |FROM documents
       |WHERE ${hash60Sql("lang || '|' || CAST(doc_id AS VARCHAR)")} % 1000000
       |      < CAST(floor(($rateCase) * 1e6) AS BIGINT)""".stripMargin
  }

  /** Feature-hash bucket count for the DSIR-style importance faces. */
  private val ImpBuckets = 4096

  /** Hashed-token importance weights against the `src0` target domain
    * ([[graft.data.CorpusOps.importanceWeights]] — DSIR-style data
    * selection, log-free rational ratio per the BM25 oracle precedent).
    * The oracle rebuilds the bucket-count model as CTEs, packs it into a
    * DuckDB MAP (ordered `list()` twins of the Spark map literals), and
    * replays the pinned left fold with the engine-exact +,*,/ tree —
    * `list_reduce` seeds from the first element where Spark's `aggregate`
    * seeds 0.0, equal bit-for-bit because `0.0 + x == x` for the positive
    * ratio terms.
    */
  def dImportanceWeights(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.importanceWeights(
      Tables.documents(spark, dir), "doc_id", "text",
      col("source") === "src0", nBuckets = ImpBuckets)

  private val impScoredCtes: String = {
    val half = ImpBuckets / 2 // 0.5 * nBuckets, exact
    val bkt = (e: String) => s"${hash60Sql(e)} % $ImpBuckets"
    // grams = unigrams ++ space-joined bigrams, in that pinned order —
    // the exact twin of CorpusOps.gramList (maxN = 2, the DSIR feature
    // set); the fold order below is the gram-list order on both engines
    s"""$toksCte,
       |grams AS (
       |  SELECT doc_id, source,
       |    t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g
       |  FROM toks),
       |tokb AS (SELECT source, unnest(g) AS tok FROM grams),
       |model AS (
       |  SELECT ${bkt("tok")} AS b,
       |    CAST(COUNT(*) AS BIGINT) AS rc,
       |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tc
       |  FROM tokb GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS t_t, CAST(SUM(rc) AS BIGINT) AS r_t FROM model),
       |mm AS (SELECT map(list(b ORDER BY b),
       |                  list({'rc': rc, 'tc': tc} ORDER BY b)) AS m FROM model),
       |scored AS (
       |  SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
       |    CASE WHEN len(g) = 0 THEN 0.0 ELSE list_reduce(list_transform(g, x ->
       |      (((CAST(coalesce((map_extract(m, ${bkt("x")})[1]).tc, 0) AS DOUBLE) + 0.5)
       |        / (CAST(t_t AS DOUBLE) + $half.0))
       |       / ((CAST(coalesce((map_extract(m, ${bkt("x")})[1]).rc, 0) AS DOUBLE) + 0.5)
       |          / (CAST(r_t AS DOUBLE) + $half.0)))), (a, b) -> a + b) END AS s
       |  FROM grams, tot, mm)""".stripMargin
  }

  val dImportanceWeightsSql: String =
    s"""WITH $impScoredCtes
       |SELECT doc_id, n_grams,
       |  CAST(floor(s * 1000000.0) AS BIGINT) AS imp_e6,
       |  CASE WHEN n_grams > 0
       |    THEN CAST(floor(s / CAST(n_grams AS DOUBLE) * 1000000.0) AS BIGINT)
       |    ELSE 0 END AS imp_mean_e6
       |FROM scored""".stripMargin

  /** Campaign importance weights: the model loads from the persistent
    * ModelStore (train once per (corpus stamp, target, buckets) — the
    * `d_decontaminate_campaign` pattern), so any fresh JVM pays only the
    * scoring scan. Output byte-identical to the in-session face — the
    * SAME oracle SQL replays it.
    */
  def dImportanceCampaign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // name carries format version + maxN: a pre-IMP2 (or unigram-only)
    // store file must MISS and retrain, never deserialize into garbage
    val model = ModelStore.get(ModelStore.bytes, dir, "documents", s"imp2-src0-b$ImpBuckets-n2")(
      CorpusOps.trainImportanceModel(
        docs, "text", col("source") === "src0", ImpBuckets))
    CorpusOps.importanceWeightsWith(docs, "doc_id", "text", model)
  }

  val dImportanceCampaignSql: String = dImportanceWeightsSql

  /** The selection decision on top of the weights: top-100 most
    * target-like docs by per-gram mean weight (length-normalized; ties by
    * doc_id) — the deterministic budget cut of importance resampling.
    */
  def dImportanceSelect(spark: SparkSession, dir: String): DataFrame =
    importanceWeightsShared(spark, dir)
      .orderBy(col("imp_mean_e6").desc, col("doc_id"))
      .limit(100)

  val dImportanceSelectSql: String =
    s"""WITH $impScoredCtes
       |SELECT doc_id, n_grams,
       |  CAST(floor(s * 1000000.0) AS BIGINT) AS imp_e6,
       |  CASE WHEN n_grams > 0
       |    THEN CAST(floor(s / CAST(n_grams AS DOUBLE) * 1000000.0) AS BIGINT)
       |    ELSE 0 END AS imp_mean_e6
       |FROM scored
       |ORDER BY imp_mean_e6 DESC, doc_id
       |LIMIT 100""".stripMargin

  /** Systematic importance RESAMPLING over the weights face — the DSIR
    * sampling step itself ([[graft.data.CorpusOps.importanceResample]]):
    * 200 draws proportional to `imp_e6`, deterministic offset, draws with
    * multiplicity. Oracle replays the exact BIGINT interval-count tree
    * over a windowed cumulative sum (CAST — the HUGEINT trap).
    */
  private val ImpResampleN = 200L
  private val ImpResampleSeed = "graft-r16"

  def dImportanceResample(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.importanceResample(
      importanceWeightsShared(spark, dir).select(col("doc_id"), col("imp_e6")),
      "doc_id", "imp_e6", n = ImpResampleN, seed = ImpResampleSeed)

  val dImportanceResampleSql: String = {
    val n = ImpResampleN
    s"""WITH $impScoredCtes,
       |iw AS (SELECT doc_id, CAST(floor(s * 1000000.0) AS BIGINT) AS w FROM scored),
       |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM iw),
       |cw AS (SELECT doc_id, w,
       |  CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM iw),
       |od AS (SELECT (${hash60Sql(s"'$ImpResampleSeed'")} % tot) AS o, tot FROM tw),
       |dr AS (
       |  SELECT doc_id, w,
       |    CAST(((CAST($n AS BIGINT) * cum - o + tot) // tot)
       |      - ((CAST($n AS BIGINT) * (cum - w) - o + tot) // tot) AS BIGINT) AS n_draws
       |  FROM cw, od)
       |SELECT doc_id, w AS weight, n_draws FROM dr WHERE n_draws > 0""".stripMargin
  }

  /** Per-source mixture PLAN under a 4000-token budget against a
    * 40/30/20/10 target over src0-3
    * ([[graft.data.CorpusOps.corpusMixPlan]]): exact-BIGINT wants/rates,
    * loud `fits = false` on the under-supplied source (src0 at sf0.01),
    * zero rows for unplanned sources. Both flag states exercised.
    */
  private val MixShares = Seq(
    "src0" -> 400000L, "src1" -> 300000L, "src2" -> 200000L, "src3" -> 100000L)
  private val MixBudget = 4000L

  def dMixPlan(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.corpusMixPlan(
      Tables.documents(spark, dir), "source",
      size(TextAnalysis.tokens(col("text"))).cast("long"),
      MixShares.toMap, MixBudget)

  private val mixPlanCtes: String = {
    val shareCase = MixShares
      .map { case (k, v) => s"WHEN '$k' THEN $v" }
      .mkString("CASE source ", " ", " ELSE 0 END")
    // planned-but-absent sources still emit a row (avail 0, fits false on
    // want>0) — the full-outer key union mirrors corpusMixPlan exactly; at
    // this fixture all planned sources exist, so the rows are identical
    val keyValues = MixShares.map { case (k, _) => s"('$k')" }.mkString(", ")
    s"""av0 AS (
       |  SELECT source, CAST(SUM(len(t)) AS BIGINT) AS avail_tokens
       |  FROM toks GROUP BY 1),
       |pkeys AS (SELECT * FROM (VALUES $keyValues) k(source)),
       |av AS (
       |  SELECT COALESCE(a.source, k.source) AS source,
       |    COALESCE(a.avail_tokens, CAST(0 AS BIGINT)) AS avail_tokens
       |  FROM av0 a FULL OUTER JOIN pkeys k ON a.source = k.source),
       |pl AS (
       |  SELECT source, avail_tokens,
       |    (CAST($MixBudget AS BIGINT) * CAST(($shareCase) AS BIGINT)) // 1000000
       |      AS want_tokens
       |  FROM av),
       |plan AS (
       |  SELECT source, avail_tokens, want_tokens,
       |    least(want_tokens, avail_tokens) AS plan_tokens,
       |    CASE WHEN avail_tokens > 0
       |      THEN least(CAST(1000000 AS BIGINT),
       |                 (CAST(1000000 AS BIGINT) * want_tokens) // avail_tokens)
       |      ELSE CAST(0 AS BIGINT) END AS rate_ppm,
       |    avail_tokens >= want_tokens AS fits
       |  FROM pl)""".stripMargin
  }

  val dMixPlanSql: String =
    s"""WITH $toksCte,
       |$mixPlanCtes
       |SELECT source, avail_tokens, want_tokens, plan_tokens, rate_ppm, fits
       |FROM plan""".stripMargin

  /** The plan applied ([[graft.data.CorpusOps.applyMixPlan]]): per-source
    * md5-ticket sampling at the planned ppm rate — the stratifiedSample
    * determinism contract, rates chosen by the plan instead of by hand.
    */
  def dMixApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    CorpusOps.applyMixPlan(docs, "doc_id", "source", dMixPlan(spark, dir))
  }

  val dMixApplySql: String =
    s"""WITH $toksCte,
       |$mixPlanCtes
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN plan p ON p.source = d.source
       |WHERE ${hash60Sql("d.source || '|' || CAST(d.doc_id AS VARCHAR)")} % 1000000
       |      < p.rate_ppm""".stripMargin

  /** DSIR capstone — the full selection chain "score once (persisted
    * campaign model), resample under the draw budget, mix to target" as
    * ONE composed face (VERDICT r16 #5; the selection-chain analogue of
    * `d_curation_pipeline`): [[dImportanceCampaign]]'s ModelStore-backed
    * scoring scan → [[graft.data.CorpusOps.importanceResample]] (200
    * systematic draws ∝ imp_e6) → [[graft.data.CorpusOps.corpusMixPlan]]
    * over the resampled MULTISET (a doc drawn d times supplies d × its
    * tokens — multiplicity is the whole point of resampling) →
    * [[graft.data.CorpusOps.applyMixPlan]]. Output: the docs the final
    * mix keeps, with their draw counts.
    *
    * The ONE materialization boundary is the resample's distributed
    * prefix sum (range shuffle → ≤P per-partition totals collected → comb
    * offsets as literals — documented in [[graft.data.CorpusOps.distributedPrefix]]);
    * everything downstream of the `drawn` frame composes LAZILY
    * ([[dsirAfterResample]], construction-jobs spec-pinned up to that
    * boundary in CorpusOpsSpec). `drawn` itself is a draw-sized
    * localCheckpoint, so both its consumers (the mixture aggregation and
    * the final join) read it without re-deriving the scoring scan.
    */
  private val DsirMixBudget = 3000L

  def dDsirPipeline(spark: SparkSession, dir: String): DataFrame = {
    val weights = dImportanceCampaign(spark, dir)
    val drawn = CorpusOps.importanceResample(
      weights.select(col("doc_id"), col("imp_e6")),
      "doc_id", "imp_e6", n = ImpResampleN, seed = ImpResampleSeed)
    dsirAfterResample(Tables.documents(spark, dir), drawn)
  }

  /** The lazy back half of [[dDsirPipeline]] (everything after the
    * resample boundary): multiset mixture plan + apply in one Catalyst
    * tree — no collect, no checkpoint, no job at construction.
    */
  private[graft] def dsirAfterResample(docs: DataFrame, drawn: DataFrame): DataFrame = {
    val selected = docs.join(drawn.select(col("doc_id"), col("n_draws")), Seq("doc_id"))
    val plan = CorpusOps.corpusMixPlan(
      selected, "source",
      size(TextAnalysis.tokens(col("text"))).cast("long") * col("n_draws"),
      MixShares.toMap, DsirMixBudget)
    CorpusOps.applyMixPlan(selected, "doc_id", "source", plan)
      .join(drawn.select(col("doc_id"), col("n_draws")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_draws"))
  }

  lazy val dDsirPipelineSql: String = {
    val n = ImpResampleN
    val shareCase = MixShares
      .map { case (k, v) => s"WHEN '$k' THEN $v" }
      .mkString("CASE source ", " ", " ELSE 0 END")
    s"""WITH $impScoredCtes,
       |iw AS (SELECT doc_id, CAST(floor(s * 1000000.0) AS BIGINT) AS w FROM scored),
       |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM iw),
       |cw AS (SELECT doc_id, w,
       |  CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM iw),
       |od AS (SELECT (${hash60Sql(s"'$ImpResampleSeed'")} % tot) AS o, tot FROM tw),
       |drawn AS (
       |  SELECT doc_id,
       |    CAST(((CAST($n AS BIGINT) * cum - o + tot) // tot)
       |      - ((CAST($n AS BIGINT) * (cum - w) - o + tot) // tot) AS BIGINT) AS n_draws
       |  FROM cw, od),
       |sel AS (
       |  SELECT t.doc_id, t.source, CAST(len(t.t) AS BIGINT) * d.n_draws AS wtok, d.n_draws
       |  FROM toks t JOIN drawn d USING (doc_id) WHERE d.n_draws > 0),
       |av AS (
       |  SELECT source, CAST(SUM(wtok) AS BIGINT) AS avail_tokens
       |  FROM sel GROUP BY 1),
       |plan AS (
       |  SELECT source,
       |    CASE WHEN avail_tokens > 0
       |      THEN least(CAST(1000000 AS BIGINT),
       |        (CAST(1000000 AS BIGINT) *
       |          ((CAST($DsirMixBudget AS BIGINT) * CAST(($shareCase) AS BIGINT)) // 1000000))
       |        // avail_tokens)
       |      ELSE CAST(0 AS BIGINT) END AS rate_ppm
       |  FROM av)
       |SELECT s.doc_id, s.source, s.n_draws
       |FROM sel s JOIN plan p ON p.source = s.source
       |WHERE ${hash60Sql("s.source || '|' || CAST(s.doc_id AS VARCHAR)")} % 1000000
       |      < p.rate_ppm""".stripMargin
  }

  /** Concat-and-chunk sequence packing into 512-token sequences, 8 shards —
    * per-shard running sums (never a global cumsum), layout a pure function
    * of (doc_id, token count).
    */
  def dSeqPack(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.packSequences(
      Tables.documents(spark, dir),
      "doc_id",
      size(TextAnalysis.tokens(col("text"))),
      budget = 512,
      nShards = 8)

  // cum_before is a windowed SUM → DuckDB HUGEINT; every column derived
  // from it must be CAST AS BIGINT or the driver hash canonicalizes it as
  // float (the r3 red-gate root cause).
  val dSeqPackSql: String =
    s"""WITH $toksCte,
       |t2 AS (
       |  SELECT doc_id, doc_id % 8 AS shard, len(t) AS n_tokens FROM toks),
       |c AS (
       |  SELECT *,
       |    COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t2)
       |SELECT doc_id, shard, n_tokens,
       |  CAST(shard * 17592186044416 + CAST(floor(cum_before / 512) AS BIGINT) AS BIGINT) AS seq_id,
       |  CAST(cum_before % 512 AS BIGINT) AS seq_offset
       |FROM c""".stripMargin

  /** End-to-end corpus assembly — the capstone composition: stratified
    * sample (mixing) → exact-dedup keep → PII redaction → sequence packing,
    * all in ONE declarative plan (Catalyst fuses the sample filter, dedup
    * window, regex scrub and packing windows; nothing materializes between
    * steps). The oracle replays the identical chain in SQL.
    */
  def dCorpusAssembly(spark: SparkSession, dir: String): DataFrame = {
    val sampled = CorpusOps.stratifiedSample(
      Tables.documents(spark, dir), "doc_id", "lang", mixRates, mixDefault)
    val keepIds = Dedup
      .exactDedup(sampled, "doc_id", "text")
      .filter(col("keep_id") === col("doc_id"))
      .select(col("doc_id"))
    val kept = sampled.join(keepIds, Seq("doc_id"))
    val redacted = TextAnalysis.redactPii(kept, "doc_id", "text")
      .select(col("doc_id"), col("redacted"), md5(col("redacted")).as("redacted_md5"))
    // redacted_md5 is computed upstream and CARRIED through the packing
    // window — joining the packed layout back onto `redacted` would
    // re-execute the sample->dedup->regex subtree on both join sides
    CorpusOps
      .packSequences(
        redacted,
        "doc_id",
        size(TextAnalysis.tokens(col("redacted"))),
        budget = 512,
        nShards = 4,
        carryCols = Seq("redacted_md5"))
      .select(
        col("doc_id"),
        col("shard"),
        col("n_tokens"),
        col("seq_id"),
        col("seq_offset"),
        col("redacted_md5"))
  }

  lazy val dCorpusAssemblySql: String = {
    val rateCase = mixRates
      .map { case (k, v) => s"WHEN '$k' THEN $v" }
      .mkString("CASE lang ", " ", s" ELSE $mixDefault END")
    val Seq(email, ipv4, digits) = TextAnalysis.piiPatterns.map(_._2)
    s"""WITH sampled AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ${hash60Sql("lang || '|' || CAST(doc_id AS VARCHAR)")} % 1000000
       |        < CAST(floor(($rateCase) * 1e6) AS BIGINT)),
       |kept AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |    FROM sampled)
       |  WHERE keep_id = doc_id),
       |red AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<EMAIL>', 'g'),
       |      '$ipv4', '<IP>', 'g'),
       |      '$digits', '<NUM>', 'g') AS redacted
       |  FROM kept),
       |tok AS (
       |  SELECT doc_id, doc_id % 4 AS shard, redacted,
       |    len(list_filter(regexp_split_to_array(redacted, '\\s+'), x -> x <> '')) AS n_tokens
       |  FROM red),
       |c AS (
       |  SELECT *,
       |    COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM tok)
       |SELECT doc_id, shard, n_tokens,
       |  CAST(shard * 17592186044416 + CAST(floor(cum_before / 512) AS BIGINT) AS BIGINT) AS seq_id,
       |  CAST(cum_before % 512 AS BIGINT) AS seq_offset,
       |  md5(redacted) AS redacted_md5
       |FROM c""".stripMargin
  }

  // --------------------------------------------------- decontamination
  /** Benchmark decontamination: docs with doc_id % 97 == 0 stand in for the
    * eval set; every other doc sharing a word 4-gram with it is flagged
    * with its distinct-hit count.
    */
  def dDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Decontaminate.hits(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", n = 4)
  }

  val dDecontaminateSql: String =
    s"""WITH $toksCte,
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(t)-3, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+3), ' '))) AS g
       |  FROM toks),
       |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
       |SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hits
       |FROM grams JOIN bg USING (g)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id""".stripMargin

  /** Graded decontamination: the overlap FRACTION of each train doc's
    * distinct word 3-grams against the eval set, thresholded at 5% — the
    * graded form of [[dDecontaminate]]'s any-hit flag (a doc sharing one
    * coincidental gram scores near zero; true contamination concentrates
    * mass). Every doc with at least one gram appears — the output is a
    * per-doc contamination report, not just the flagged set.
    */
  def dDecontaminateOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Decontaminate.overlap(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", n = 3, threshold = 0.05)
  }

  val dDecontaminateOverlapSql: String =
    s"""WITH $toksCte,
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(t)-2, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+2), ' ')))) AS g
       |  FROM toks),
       |ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams WHERE doc_id % 97 <> 0 GROUP BY doc_id),
       |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
       |h AS (
       |  SELECT doc_id, COUNT(*) AS n_hits FROM grams JOIN bg USING (g)
       |  WHERE doc_id % 97 <> 0 GROUP BY doc_id)
       |SELECT ng.doc_id, CAST(ng.n_grams AS BIGINT) AS n_grams,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ng.n_grams AS overlap,
       |  (CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ng.n_grams) >= 0.05 AS contaminated
       |FROM ng LEFT JOIN h ON ng.doc_id = h.doc_id""".stripMargin

  /** Multi-benchmark face: three eval sets carved on coprime moduli, the
    * rest of the corpus screened against all three in one scan. Word
    * 3-grams so every set produces a real hit population at sf0.01.
    */
  def dDecontaminateMulti(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def slice(m: Int) = docs.filter(pmod(col("doc_id"), lit(m)) === 0)
    val train = docs.filter(
      pmod(col("doc_id"), lit(97)) =!= 0 &&
        pmod(col("doc_id"), lit(89)) =!= 0 &&
        pmod(col("doc_id"), lit(83)) =!= 0)
    Decontaminate.hitsMulti(
      train,
      Seq("evalA" -> slice(97), "evalB" -> slice(89), "evalC" -> slice(83)),
      "doc_id", "text", n = 3)
  }

  val dDecontaminateMultiSql: String =
    s"""WITH $toksCte,
       |$shCte,
       |bg AS (
       |  SELECT 'evalA' AS eval_set, sh FROM (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
       |  UNION ALL
       |  SELECT 'evalB' AS eval_set, sh FROM (SELECT DISTINCT sh FROM sh WHERE doc_id % 89 = 0)
       |  UNION ALL
       |  SELECT 'evalC' AS eval_set, sh FROM (SELECT DISTINCT sh FROM sh WHERE doc_id % 83 = 0))
       |SELECT doc_id, eval_set, CAST(COUNT(*) AS BIGINT) AS n_hits
       |FROM sh JOIN bg USING (sh)
       |WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0 AND doc_id % 83 <> 0
       |GROUP BY doc_id, eval_set""".stripMargin

  /** The bloom-pruned face of decontamination at word 3-grams (shorter
    * grams -> 171 contaminated docs at sf0.01, a real result set where the
    * 4-gram exact face sees 8): identical output contract to
    * [[dDecontaminate]] — the bloom is a pure pruner; the exact join
    * decides — verified against the same exact-SQL oracle shape.
    */
  /** The bloom model is built ONCE per (corpus snapshot, n) campaign and reused
    * across runs (reference operational shape: one fixed eval set, many
    * training batches). The scalar-subquery build path stays exercised by
    * DataOpsSpec; rebuilding it per run was the measured data-proportional
    * cost of this query's sf1 probe.
    */
  def dDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val model = ModelStore.get(ModelStore.jvm[Array[Byte]], dir, "documents", "bloom-session-n3")(
      Decontaminate.buildBloomModel(bench, "text", n = 3))
    Decontaminate.hitsBloomWith(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      bench, "doc_id", "text", n = 3, model)
  }

  val dDecontaminateBloomSql: String =
    s"""WITH $toksCte,
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(t)-2, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+2), ' '))) AS g
       |  FROM toks),
       |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
       |SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hits
       |FROM grams JOIN bg USING (g)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id""".stripMargin

  /** The CAMPAIGN face of bloom decontamination: the model comes from the
    * persistent [[ModelStore]] (train-once-per-corpus-snapshot), so every
    * run after the first — in ANY JVM — pays only the corpus probe + exact
    * join, never the eval-set scans that size and build the filter. Output
    * is byte-identical to [[dDecontaminateBloom]] (same grams, same exact
    * join decides; the bloom only prunes), so both faces share one oracle
    * shape. The store's in-JVM layer makes repeat runs skip even the file
    * read.
    */
  private def campaignBloom(dir: String, bench: DataFrame): Array[Byte] =
    ModelStore.get(ModelStore.bytes, dir, "documents", "bloom-n3")(
      Decontaminate.buildBloomModel(bench, "text", n = 3))

  def dDecontaminateCampaign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val model = campaignBloom(dir, bench)
    Decontaminate.hitsBloomWith(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      bench, "doc_id", "text", n = 3, model)
  }

  val dDecontaminateCampaignSql: String = dDecontaminateBloomSql

  /** The decontaminate-on-ingest capstone as a batch-face entry: the
    * CAMPAIGN bloom model (ModelStore-persisted, shared with
    * `d_decontaminate_campaign` via the same store entry) rides the
    * [[CorpusIngest.verdict]] gate over the corpus — cheap token/lang
    * gates first, then the at-ingest contamination probe, first failing
    * gate named in `reject_reason`.
    *
    * Deliberately NO oracle SQL: unlike the `d_decontaminate*` faces
    * (where the bloom only PRUNES and an exact join decides), the ingest
    * gate REJECTS on the bloom verdict itself — false positives included,
    * the documented ingest trade — and Spark's BloomFilter bit layout is
    * not replayable in DuckDB. The driver records the rows-only check;
    * StreamingIngestSpec pins the semantic contract (contaminated ⊇
    * exact-join hits, FP-bounded, batch ≡ streaming) at bench scale.
    */
  def dIngestGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val model = campaignBloom(dir, bench)
    CorpusIngest.verdict(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      "text", allowedLangs = Seq("en"), minTokens = 5,
      decontamination = Some((model, 3)))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("reject_reason"))
  }

  /** The AUDIT sibling of [[dIngestGate]]: identical plumbing through
    * [[CorpusIngest]] (same cheap gates, gate order, output shape) but the
    * contamination verdict is EXACT n-gram membership against the eval
    * slice ([[CorpusIngest.verdictExact]]) instead of the bloom probe — no
    * false positives, fully DuckDB-replayable, so the gate's tokenize /
    * lang-id / reject-reason logic carries a full rows+schema+hash
    * correctness row (the bloom face stays rows-only by design: its bit
    * layout is not oracle-replayable and its FPs are the documented
    * ingest trade).
    */
  def dIngestGateExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    CorpusIngest.verdictExact(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      "doc_id", "text", allowedLangs = Seq("en"), minTokens = 5,
      bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      benchTextCol = "text", n = 3)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("reject_reason"))
  }

  val dIngestGateExactSql: String =
    s"""WITH $toksCte,
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(t)-2, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+2), ' '))) AS g
       |  FROM toks),
       |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
       |cont AS (
       |  SELECT DISTINCT doc_id FROM grams JOIN bg USING (g) WHERE doc_id % 97 <> 0),
       |scored AS (
       |  SELECT doc_id, t, len(t) AS n_tokens, $langScoreExprsSql
       |  FROM toks WHERE doc_id % 97 <> 0)
       |SELECT doc_id,
       |  $langCaseSql AS lang,
       |  n_tokens,
       |  CASE WHEN t IS NULL OR n_tokens < 5 THEN 'too_short'
       |    WHEN ($langCaseSql) <> 'en' THEN 'lang'
       |    WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
       |  END AS reject_reason
       |FROM scored""".stripMargin

  // ------------------------------------------------------ BM25 ranking
  /** Top-50 docs for a 3-term topic query, rational-idf BM25 (see
    * [[TextAnalysis.bm25TopK]] for why the log-free variant hash-matches).
    */
  def tBm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(
      Tables.documents(spark, dir), "doc_id", "text",
      queryTerms = Seq("filter", "hash", "vector"), topK = 50)

  // constants interpolated from the SAME Scala doubles the operator uses:
  // Double.toString round-trips exactly, so both engines parse the
  // identical bit pattern (a hand-typed "2.2" could round differently
  // from Scala's 1.2 + 1.0)
  val tBm25Sql: String = {
    val (k1, b) = (1.2, 0.75)
    def s(term: String, dfc: String): String =
      s"""((((CAST(n AS DOUBLE) - CAST($dfc AS DOUBLE)) + 0.5) / (CAST($dfc AS DOUBLE) + 0.5))
         | * (CAST(len(list_filter(t, x -> x = '$term')) AS DOUBLE) * ${k1 + 1.0})
         | / (CAST(len(list_filter(t, x -> x = '$term')) AS DOUBLE)
         |    + $k1 * (${1.0 - b} + ($b * CAST(len(t) AS DOUBLE)) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))""".stripMargin
    s"""WITH $toksCte,
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(len(t)) AS BIGINT) AS sumdl,
       |         CAST(SUM(CASE WHEN list_contains(t, 'filter') THEN 1 ELSE 0 END) AS BIGINT) AS df0,
       |         CAST(SUM(CASE WHEN list_contains(t, 'hash') THEN 1 ELSE 0 END) AS BIGINT) AS df1,
       |         CAST(SUM(CASE WHEN list_contains(t, 'vector') THEN 1 ELSE 0 END) AS BIGINT) AS df2
       |  FROM toks),
       |scored AS (
       |  SELECT doc_id,
       |    ((${s("filter", "df0")}
       |     + ${s("hash", "df1")})
       |     + ${s("vector", "df2")}) AS total
       |  FROM toks, stats)
       |SELECT doc_id, CAST(floor(total * 1000000.0) AS BIGINT) AS bm25_e6
       |FROM scored
       |ORDER BY bm25_e6 DESC, doc_id
       |LIMIT 50""".stripMargin
  }

  // ------------------------------------------------- repetition profile
  def tRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(Tables.documents(spark, dir), "doc_id", "text")

  // top_word_n replayed as max multiplicity over distinct words (the Spark
  // side computes it as the longest run of the sorted array — same value)
  val tRepetitionSql: String =
    s"""WITH $toksCte
       |SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_words,
       |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_words,
       |  CAST(CASE WHEN len(t) >= 2 THEN len(t)-1 ELSE 0 END AS BIGINT) AS n_2grams,
       |  CAST(len(list_distinct(list_transform(
       |    range(1, greatest(len(t)-1, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+1), ' ')))) AS BIGINT) AS n_distinct_2grams,
       |  CAST(COALESCE(list_max(list_transform(
       |    list_distinct(t), x -> len(list_filter(t, y -> y = x)))), 0) AS BIGINT) AS top_word_n
       |FROM toks""".stripMargin

  // ----------------------------------------------------- corpus shuffle
  /** Seeded deterministic shuffle into 8 reader shards. */
  def dCorpusShuffle(spark: SparkSession, dir: String): DataFrame =
    CorpusOps
      .shuffleShards(Tables.documents(spark, dir), "doc_id", "ep0", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  val dCorpusShuffleSql: String =
    s"""SELECT doc_id, h % 8 AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM (SELECT doc_id, ${hash60Sql("'ep0|' || CAST(doc_id AS VARCHAR)")} AS h
       |      FROM documents)""".stripMargin

  // --------------------------------------------------- sliding chunking
  /** 8-token chunks every 4 tokens (2× overlap). */
  def dChunk(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.chunkDocs(Tables.documents(spark, dir), "doc_id", "text",
      chunkTokens = 8, strideTokens = 4)

  val dChunkSql: String =
    s"""WITH $toksCte,
       |k AS (
       |  SELECT doc_id, t,
       |    unnest(range(0, (greatest(len(t) - 8, 0) + 3) // 4 + 1)) AS chunk_idx
       |  FROM toks WHERE len(t) > 0)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  array_to_string(list_slice(t, chunk_idx*4 + 1, chunk_idx*4 + 8), ' ') AS chunk,
       |  CAST(len(list_slice(t, chunk_idx*4 + 1, chunk_idx*4 + 8)) AS BIGINT) AS n_chunk_tokens
       |FROM k""".stripMargin

  // ------------------------------------------------- corpus filter verdict
  /** The Gopher-style KEEP/DROP verdict — the filter step a corpus pipeline
    * actually runs, composed from the repetition profile. Every rule is an
    * integer CROSS-MULTIPLICATION (`top_word_n * 8 > n_words` instead of
    * `top_word_frac > 0.125`), so the verdict is integer-exact and
    * replayable with no float drift. Rules (thresholds tuned so each fires
    * on this corpus; production uses Gopher's): 20..100k words; top word
    * < 12.5%; distinct 2-grams > 90% of 2-grams; drop reasons kept as
    * flags so the query doubles as a filter AUDIT (why did we drop what we
    * dropped — the operational question at 100 TB).
    */
  def tQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val prof = TextAnalysis.repetitionProfile(Tables.documents(spark, dir), "doc_id", "text")
    prof.select(
      col("doc_id"),
      (col("n_words") < 20 || col("n_words") > 100000).as("bad_length"),
      (col("top_word_n") * 8 > col("n_words")).as("bad_top_word"),
      (col("n_2grams") > 0 && col("n_distinct_2grams") * 10 <= col("n_2grams") * 9)
        .as("bad_2gram_rep"))
      .withColumn("keep", !col("bad_length") && !col("bad_top_word") && !col("bad_2gram_rep"))
  }

  val tQualityFilterSql: String =
    s"""WITH $toksCte,
       |p AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    CAST(CASE WHEN len(t) >= 2 THEN len(t)-1 ELSE 0 END AS BIGINT) AS n_2grams,
       |    CAST(len(list_distinct(list_transform(
       |      range(1, greatest(len(t)-1, 0)+1),
       |      i -> array_to_string(list_slice(t, i, i+1), ' ')))) AS BIGINT) AS n_distinct_2grams,
       |    CAST(COALESCE(list_max(list_transform(
       |      list_distinct(t), x -> len(list_filter(t, y -> y = x)))), 0) AS BIGINT) AS top_word_n
       |  FROM toks)
       |SELECT doc_id,
       |  (n_words < 20 OR n_words > 100000) AS bad_length,
       |  (top_word_n * 8 > n_words) AS bad_top_word,
       |  (n_2grams > 0 AND n_distinct_2grams * 10 <= n_2grams * 9) AS bad_2gram_rep,
       |  (NOT (n_words < 20 OR n_words > 100000)
       |   AND NOT (top_word_n * 8 > n_words)
       |   AND NOT (n_2grams > 0 AND n_distinct_2grams * 10 <= n_2grams * 9)) AS keep
       |FROM p""".stripMargin

  // --------------------------------------------- token-budget selection
  /** Fill a 15k-token budget with the highest-n_chars docs (greedy prefix;
    * ~55% of the sf0.01 corpus tokens). The oracle replays the equivalent
    * GLOBAL greedy cumsum; the operator computes the same set with only
    * the boundary band windowed.
    */
  def dTokenBudget(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.selectByTokenBudget(
      Tables.documents(spark, dir),
      "doc_id",
      col("n_chars"),
      size(TextAnalysis.tokens(col("text"))),
      budget = 15000L,
      bandWidth = 50L)

  val dTokenBudgetSql: String =
    s"""WITH $toksCte,
       |s AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
       |    CAST(len(t) AS BIGINT) AS n_tokens
       |  FROM toks),
       |c AS (
       |  SELECT *, SUM(n_tokens) OVER (
       |    ORDER BY score DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM s)
       |SELECT doc_id, score, n_tokens FROM c WHERE cum <= 15000""".stripMargin

  // ------------------------------------------------ bigram commonness
  /** Corpus-trained bigram commonness (the integer-exact LM-filter proxy). */
  def tBigramCommonness(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramCommonness(Tables.documents(spark, dir), "doc_id", "text")

  val tBigramCommonnessSql: String =
    s"""WITH $toksCte,
       |g AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(t)-1, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+1), ' '))) AS gr
       |  FROM toks),
       |c AS (SELECT gr, COUNT(*) AS c FROM g GROUP BY 1),
       |s AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(c) AS BIGINT) AS freq_sum, CAST(MIN(c) AS BIGINT) AS freq_min
       |  FROM g JOIN c USING (gr) GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(n_bigrams, 0) AS n_bigrams,
       |  COALESCE(freq_sum, 0) AS freq_sum,
       |  COALESCE(freq_min, 0) AS freq_min
       |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin

  // --------------------------------------------- paragraph-level dedup
  /** Duplicate-paragraph signal (the paragraph-dedup quality pass):
    * non-overlapping 10-token chunks stand in for paragraphs; a chunk is a
    * duplicate if the same token run appeared in ANY doc with a smaller
    * (doc_id, chunk_idx). Emits exact per-doc counts: chunks and duplicate
    * chunks — the dup-paragraph fraction is their ratio. Pure composition:
    * chunkDocs → min-owner window over the chunk hash → per-doc count.
    * Scale shape: the window shuffles (hash, ids) — 16 bytes a chunk — and
    * the chunk text never leaves the map side (hashed in-scan).
    */
  def dDupParagraphs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = CorpusOps
      .chunkDocs(Tables.documents(spark, dir), "doc_id", "text",
        chunkTokens = 10, strideTokens = 10)
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk")).as("h"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("_rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
  }

  val dDupParagraphsSql: String =
    s"""WITH $toksCte,
       |k AS (
       |  SELECT doc_id, t, unnest(range(0, (len(t) + 9) // 10)) AS chunk_idx
       |  FROM toks WHERE len(t) > 0),
       |c AS (
       |  SELECT doc_id, chunk_idx,
       |    md5(array_to_string(list_slice(t, chunk_idx*10 + 1, chunk_idx*10 + 10), ' ')) AS h
       |  FROM k),
       |r AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
       |  FROM c)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       |FROM r GROUP BY 1""".stripMargin

  // ------------------------------------------- exact-substring dedup
  /** Shared spans pipeline for the two exact-substring faces: sliding
    * k=10-token windows → first-occurrence rule → per-doc island merge
    * (the CTE chain mirrors [[graft.data.Dedup.exactSubstringSpans]]
    * step for step).
    */
  private val substrSpansCtes: String =
    s"""w10 AS (
       |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(t, i+1, i+10), ' ')) AS h
       |  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 9, 0))) AS i FROM toks)),
       |r10 AS (
       |  SELECT doc_id, pos, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM w10),
       |d10 AS (SELECT doc_id, pos FROM r10 WHERE rn > 1),
       |b10 AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10 THEN 1 ELSE 0 END AS brk
       |  FROM d10),
       |i10 AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
       |  FROM b10),
       |spans10 AS (
       |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 10 AS span_end,
       |    CAST(COUNT(*) AS BIGINT) AS n_windows
       |  FROM i10 GROUP BY doc_id, g)""".stripMargin

  /** Exact-substring duplicated spans (the Lee et al. ACL'22 sliding-window
    * grain; fixture k=10 words — see [[graft.data.Dedup.exactSubstringSpans]]).
    */
  def dSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstringSpans(Tables.documents(spark, dir), "doc_id", "text", k = 10)

  val dSubstringSpansSql: String =
    s"""WITH $toksCte,
       |$substrSpansCtes
       |SELECT doc_id, span_start, span_end, n_windows FROM spans10""".stripMargin

  /** Exact-substring trim: duplicated spans' tokens removed, first
    * occurrence kept (see [[graft.data.Dedup.exactSubstringTrim]]).
    */
  def dSubstringTrim(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstringTrim(Tables.documents(spark, dir), "doc_id", "text", k = 10)

  // DuckDB lambda indexes are 1-based (Spark's are 0-based): the span test
  // uses i - 1. array_to_string of an EMPTY list is NULL in DuckDB ('' in
  // Spark's array_join) — the COALESCE pins the fully-trimmed-doc arm.
  val dSubstringTrimSql: String =
    s"""WITH $toksCte,
       |$substrSpansCtes,
       |sp10 AS (
       |  SELECT doc_id, list(struct_pack(s := span_start, e := span_end)) AS ss
       |  FROM spans10 GROUP BY doc_id),
       |j10 AS (
       |  SELECT toks.doc_id, toks.t, COALESCE(sp10.ss, []) AS ss
       |  FROM toks LEFT JOIN sp10 ON toks.doc_id = sp10.doc_id),
       |k10 AS (
       |  SELECT doc_id, t,
       |    list_filter(t, (x, i) -> len(list_filter(ss, s -> i - 1 >= s.s AND i - 1 < s.e)) = 0) AS kept
       |  FROM j10)
       |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
       |  COALESCE(array_to_string(kept, ' '), '') AS text_trimmed
       |FROM k10""".stripMargin

  // -------------------------------------------------------------- multimodal
  def mMultimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.metadata(
      Tables.documents(spark, dir).withColumn("bin", col("text").cast("binary")),
      "doc_id",
      "bin"
    )

  val mMultimodalSql: String = {
    val frames = (0 until 4)
      .map(i => s"lower(hex(encode(substring(text, ${1 + 32 * i}, 4))))")
      .mkString(", ")
    s"""SELECT doc_id,
       |  octet_length(encode(text)) AS byte_len,
       |  lower(hex(encode(substring(text, 1, 16)))) AS header_hex,
       |  concat_ws('-', $frames) AS frames_hex,
       |  md5(text) AS fingerprint
       |FROM documents""".stripMargin
  }

  /** SQL replay of [[Multimodal.perceptualHash]]: the same strided
    * hex-pair samples over the payload bytes and the same lexicographic
    * two-char compares, folded with bitwise OR. Bit constants are emitted
    * as precomputed BIGINT literals (DuckDB's `<<` range-checks `1 << 63`;
    * the VALUE is what must match, not the shift). Expects a CTE exposing
    * `(doc_id, len BIGINT, h)` = byte length + full lowercase hex.
    */
  private val phashSqlExpr: String = {
    def sample(g: Int) =
      s"substr(h, CAST(floor(($g * len) / 72) AS BIGINT) * 2 + 1, 2)"
    (for { r <- 0 until 8; c <- 0 until 8 } yield {
      val b = r * 8 + c
      s"(CASE WHEN ${sample(r * 9 + c)} < ${sample(r * 9 + c + 1)} " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      // the OR operator rides at END of line: this fragment is spliced into
      // stripMargin'd oracle strings, where a leading | would be eaten as a
      // margin marker
    }).mkString("(", " |\n    ", ")")
  }
  private val phashBytesCte: String =
    s"""pb AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len,
       |    lower(hex(encode(text))) AS h
       |  FROM documents)""".stripMargin

  /** Per-doc perceptual fingerprint — the feature-extraction face. */
  def mPhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        Multimodal.perceptualHash(col("text").cast("binary")).as("phash"))

  val mPhashSql: String =
    s"""WITH $phashBytesCte
       |SELECT doc_id, $phashSqlExpr AS phash FROM pb""".stripMargin

  /** Perceptual near-dup pairs over the binary column
    * ([[Multimodal.perceptualPairs]]) under the SCALE-DERIVED geometry
    * ([[phashGeo]], VERDICT r19 #1): at the fixture/oracle scales the
    * derivation lands 8-bit bands with radius-1 probes, hamming ≤ 15
    * (pigeonhole-exact: 15 < 8 bands · 2) — the exact configuration the
    * static oracle SQL below replays — and at organic sf10 it lands the
    * (16, 1, ≤ 7) configuration that clears the duplicity flood the 8-bit
    * default hit there (SCALE.md r19). The fixture-scale threshold is wide
    * because the fixture's "images" are text bytes whose near-dup edits
    * SHIFT the strided samples (measured: closest fixture pair at
    * hamming 13; a ≤7 threshold returns zero rows here, which would make
    * the oracle row empty-vs-empty evidence). DataOpsSpec pins the
    * derivation ladder and the radius-0/radius-1 equivalence on crafted
    * near-images.
    */
  def mPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val g = phashGeo(spark, dir)
    Multimodal.perceptualPairs(
      Tables.documents(spark, dir).withColumn("bin", col("text").cast("binary")),
      "doc_id", "bin",
      maxHamming = g.maxHamming, bandBits = g.bandBits, probeRadius = g.probeRadius)
  }

  val mPhashPairsSql: String =
    s"""WITH $phashBytesCte,
       |fp AS (SELECT doc_id, $phashSqlExpr AS fp FROM pb),
       |bands AS (SELECT doc_id, fp, unnest(range(8)) AS bi FROM fp),
       |stored AS (SELECT doc_id, fp, bi, (fp >> (bi * 8)) & 255 AS bval FROM bands),
       |probes AS (SELECT unnest(range(9)) AS p),
       |probed AS (
       |  SELECT doc_id, fp, bi,
       |    CASE WHEN p = 0 THEN bval ELSE xor(bval, (1::BIGINT << (p - 1))) END AS bval
       |  FROM stored CROSS JOIN probes),
       |cand AS (
       |  SELECT a.doc_id AS a_id, bb.doc_id AS b_id,
       |    bit_count(xor(a.fp, bb.fp)) AS ham
       |  FROM probed a JOIN stored bb ON a.bi = bb.bi AND a.bval = bb.bval AND a.doc_id < bb.doc_id)
       |SELECT DISTINCT a_id, b_id, CAST(ham AS BIGINT) AS hamming
       |FROM cand WHERE ham <= 15""".stripMargin

  /** The persisted pHash MIH band index for the documents-as-media fixture
    * ([[Multimodal.phashBandIndex]]): the (sid, band, bucket, fp) frame
    * materialized ONCE per documents stamp as a table BUCKETED BY `bucket`
    * — the layout [[Multimodal.perceptualPairsIndexed]] serves pairs and
    * clusters from without re-fingerprinting the binary column per call
    * (VERDICT r17 #2: `m_phash_clusters`/`m_phash_pairs` were the two
    * heaviest faces and both rebuilt their band frames from the media
    * bytes every query). 64 buckets: the ann_imipq rule — bucket count
    * must exceed executor cores or the index read caps scan parallelism.
    */
  private def phashIndexFor(
      spark: SparkSession,
      dir: String
  ): (DataFrame, Option[String], Multimodal.PhashGeometry) = {
    val g = phashGeo(spark, dir)
    val path = s"${graft.connectors.Bucketing.indexDirFor(dir)}/phash_bands"
    val idx = graft.connectors.Bucketing.ensureBucketed(
      spark,
      Multimodal.phashBandIndex(
        Tables.documents(spark, dir).withColumn("bin", col("text").cast("binary")),
        "doc_id", "bin", bandBits = g.bandBits),
      path, "bucket", 64,
      // bandBits is the index identity (the phashBandIndex scaladoc): the
      // stamp rebuilds on a parameter change — INCLUDING a scale-derived
      // escalation as the corpus grows past the 8-bit geometry — and the
      // query validates its own bandBits against the same stamp
      sourceStamp =
        s"${Multimodal.phashStamp(g.bandBits)}|" +
          graft.connectors.Bucketing.cachedStamp(s"$dir/documents.parquet"))
    (idx, graft.connectors.Bucketing.readStamp(path), g)
  }

  /** [[mPhashPairs]] served from the persisted MIH band index
    * ([[Multimodal.perceptualPairsIndexed]]): identical pairs (the SAME
    * oracle SQL gates it — the index must never change the answer), but
    * both join sides are skinny index reads and the media bytes are never
    * touched — the per-call fingerprint re-scan the inline face pays is
    * structurally gone (VERDICT r17 #2).
    */
  def mPhashIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (idx, stamp, g) = phashIndexFor(spark, dir)
    Multimodal.perceptualPairsIndexed(
      idx, maxHamming = g.maxHamming, bandBits = g.bandBits, probeRadius = g.probeRadius,
      indexStamp = stamp)
  }

  /** [[mPhashClusters]] served from the persisted index: connected
    * components over [[mPhashIndexed]]'s pair list — same clusters oracle
    * as the inline face.
    */
  def mPhashClustersIdx(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(
      mPhashIndexed(spark, dir).select(col("a_id").as("i"), col("b_id").as("j")))

  /** Media-ingest gate verdict ([[Multimodal.mediaVerdict]]) — the binary
    * analogue of the corpus ingest gate, oracle-pinning the gate ORDER
    * (`too_small` before `too_large` before `mime`) and the NULL
    * handling. The fixture derives a deterministic mime from the doc id
    * (every third doc a disallowed `image/gif`) since the documents table
    * carries none; crafted sizes for the `too_large` arm live in
    * StreamingIngestSpec.
    */
  def mMediaGate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("bin", col("text").cast("binary"))
      .withColumn(
        "mime",
        concat(lit("image/"),
          when(col("doc_id") % 3 === 0, lit("png"))
            .when(col("doc_id") % 3 === 1, lit("jpeg"))
            .otherwise(lit("gif"))))
    Multimodal
      .mediaVerdict(d, "bin", "mime", Seq("image/png", "image/jpeg"),
        minBytes = 64, maxBytes = 100000L)
      .select(col("doc_id"), col("byte_len"), col("mime"), col("reject_reason"))
  }

  val mMediaGateSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       |    'image/' || CASE WHEN doc_id % 3 = 0 THEN 'png'
       |                     WHEN doc_id % 3 = 1 THEN 'jpeg'
       |                     ELSE 'gif' END AS mime
       |  FROM documents)
       |SELECT doc_id, byte_len, mime,
       |  CASE WHEN text IS NULL OR byte_len < 64 THEN 'too_small'
       |       WHEN byte_len > 100000 THEN 'too_large'
       |       WHEN mime IS NULL OR mime NOT IN ('image/png', 'image/jpeg') THEN 'mime'
       |  END AS reject_reason
       |FROM b""".stripMargin

  /** The MEDIA-index gated-ingest capstone (VERDICT r18 #3) — the
    * [[dIngestIndexCapstone]] production loop run against the THIRD heavy
    * index family, the pHash MIH band index: one media batch flows
    *
    *  1. GATE: [[Multimodal.mediaVerdict]] over the ingest batch (every
    *     third doc as media bytes, a fixture mime derived from the id) —
    *     too_small/too_large/mime in gate order.
    *  2. APPEND: the accepted rows' pHash BANDS
    *     ([[Multimodal.phashBandIndex]]) are appended to this face's
    *     persisted MIH index via
    *     [[graft.connectors.Bucketing.appendBucketedExactlyOnce]] — the
    *     marker-stamp fence, with the MEDIA-GATE configuration derived
    *     into the stamps from the SAME named values the gate consumes
    *     (the r18 stamp lesson: a gate change under an unchanged corpus
    *     stamp must never hit the postStamp skip arm and serve a stale
    *     accepted set).
    *  3. SERVE: [[Multimodal.perceptualPairsIndexed]] candidates from the
    *     POST-APPEND index — accepted media pair with their corpus
    *     originals through the rows this very call appended, and the
    *     media bytes are never touched on the serve path.
    *
    * Output: `(a_id, b_id, phase, info)` — gate verdicts (`b_id = -1`,
    * info = `accepted` or the reject reason) plus the served pairs
    * (info = hamming). The oracle replays the whole chain: the gate, the
    * accepted set, and the MIH pairs over corpus ∪ accepted (append ≡
    * rebuild makes the persisted index equal that logical union).
    */
  def mIngestIndexCapstone(spark: SparkSession, dir: String): DataFrame = {
    import graft.connectors.Bucketing
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .withColumn("bin", col("text").cast("binary"))
    // named gate parameters — these SAME values feed the mediaVerdict call
    // AND the fence stamps below (the dIngestIndexCapstone discipline);
    // bandBits likewise feeds build, stamp, AND serve from one value — a
    // drifted literal would build one geometry, stamp another, and let the
    // serve's stamp validation pass while the banded join silently returns
    // near-zero pairs (code-review r19)
    val gateAllowed = Seq("image/png", "image/jpeg")
    val gateMinBytes = 64
    val gateMaxBytes = 100000L
    val mimeMod = 9
    // geometry is SCALE-DERIVED from the stored-side corpus count
    // ([[phashGeo]], VERDICT r19 #1); the serve threshold derives from
    // the SAME geometry's pigeonhole bound (ADVICE r19 — a hardcoded 15
    // next to a derived bandBits would trip the serve's exactness require
    // the moment the derivation escalates)
    val geo = phashGeo(spark, dir)
    val bandBits = geo.bandBits
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .withColumn("bin", col("text").cast("binary"))
      .withColumn(
        "mime",
        concat(lit("image/"),
          when(pmod(col("doc_id"), lit(mimeMod)) === 0, lit("png"))
            .when(pmod(col("doc_id"), lit(mimeMod)) === 3, lit("jpeg"))
            .otherwise(lit("gif"))))
    // 1) gate — checkpointed once (skinny: id + reason), two consumers
    // (the gate phase of the output and the accepted-set semi-join)
    val gated = Multimodal
      .mediaVerdict(batch, "bin", "mime", gateAllowed,
        minBytes = gateMinBytes, maxBytes = gateMaxBytes)
      .select(col("doc_id"), col("reject_reason"))
      .localCheckpoint()
    val out = CorpusOps.releaseOnFailure(gated) {
      val acceptedIds = gated.filter(col("reject_reason").isNull).select(col("doc_id"))
      val acceptedDocs = batch.join(acceptedIds, Seq("doc_id"), "left_semi")
      val docsStamp = Bucketing.cachedStamp(s"$dir/documents.parquet")
      val gateCfg = s"mediagate(allowed=${gateAllowed.mkString("+")}," +
        s"min=$gateMinBytes,max=$gateMaxBytes,mimeMod=$mimeMod)"
      val path = s"${Bucketing.indexDirFor(dir)}/capstone_phash"
      val pre = s"${Multimodal.phashStamp(bandBits)}|$docsStamp|$gateCfg|pre"
      val post = s"${Multimodal.phashStamp(bandBits)}|$docsStamp|$gateCfg|ingested"
      def bandsOf(df: DataFrame) =
        Multimodal.phashBandIndex(df, "doc_id", "bin", bandBits = bandBits)
      if (!Bucketing.readStamp(path).contains(post))
        Bucketing.ensureBucketed(
          spark, bandsOf(corpus), path, "bucket", 64, sourceStamp = pre)
      // 2) the fenced append: replayed batch skips, torn append rebuilds
      val postIdx = Bucketing.appendBucketedExactlyOnce(
        spark,
        delta = bandsOf(acceptedDocs),
        rebuildPre = bandsOf(corpus),
        rebuildPost = bandsOf(corpus.unionByName(acceptedDocs.drop("mime"))),
        path, "bucket", 64, pre, post)
      // 3) serve from the post-append index — same parameters as the
      // m_phash_indexed face; the stamp validates bandBits per query
      val pairs = Multimodal.perceptualPairsIndexed(
        postIdx, maxHamming = geo.maxHamming, bandBits = bandBits, probeRadius = geo.probeRadius,
        indexStamp = Bucketing.readStamp(path))
      gated.select(
        col("doc_id").as("a_id"),
        lit(-1L).as("b_id"),
        lit("gate").as("phase"),
        coalesce(col("reject_reason"), lit("accepted")).as("info"))
        .unionByName(pairs.select(
          col("a_id"), col("b_id"),
          lit("pairs").as("phase"),
          col("hamming").cast("string").as("info")))
        .localCheckpoint()
    }
    graft.core.Checkpoints.release(gated)
    out
  }

  lazy val mIngestIndexCapstoneSql: String =
    s"""WITH batch AS (
       |  SELECT doc_id, text,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       |    'image/' || CASE WHEN doc_id % 9 = 0 THEN 'png'
       |                     WHEN doc_id % 9 = 3 THEN 'jpeg'
       |                     ELSE 'gif' END AS mime
       |  FROM documents WHERE doc_id % 3 = 0),
       |gate AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR byte_len < 64 THEN 'too_small'
       |         WHEN byte_len > 100000 THEN 'too_large'
       |         WHEN mime IS NULL OR mime NOT IN ('image/png', 'image/jpeg') THEN 'mime'
       |    END AS reason
       |  FROM batch),
       |media AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
       |  UNION ALL
       |  SELECT b.doc_id, b.text FROM batch b JOIN gate g USING (doc_id)
       |  WHERE g.reason IS NULL),
       |pb AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len,
       |    lower(hex(encode(text))) AS h
       |  FROM media),
       |fp AS (SELECT doc_id, $phashSqlExpr AS fp FROM pb),
       |bands AS (SELECT doc_id, fp, unnest(range(8)) AS bi FROM fp),
       |stored AS (SELECT doc_id, fp, bi, (fp >> (bi * 8)) & 255 AS bval FROM bands),
       |probes AS (SELECT unnest(range(9)) AS p),
       |probed AS (
       |  SELECT doc_id, fp, bi,
       |    CASE WHEN p = 0 THEN bval ELSE xor(bval, (1::BIGINT << (p - 1))) END AS bval
       |  FROM stored CROSS JOIN probes),
       |cand AS (
       |  SELECT a.doc_id AS a_id, bb.doc_id AS b_id,
       |    bit_count(xor(a.fp, bb.fp)) AS ham
       |  FROM probed a JOIN stored bb ON a.bi = bb.bi AND a.bval = bb.bval AND a.doc_id < bb.doc_id),
       |pairs AS (SELECT DISTINCT a_id, b_id, CAST(ham AS BIGINT) AS hamming FROM cand WHERE ham <= 15)
       |SELECT doc_id AS a_id, CAST(-1 AS BIGINT) AS b_id, 'gate' AS phase,
       |  coalesce(reason, 'accepted') AS info
       |FROM gate
       |UNION ALL
       |SELECT a_id, b_id, 'pairs' AS phase, CAST(hamming AS VARCHAR) AS info FROM pairs""".stripMargin

  /** Batch replay of the streaming MinHash near-dup GATE
    * ([[graft.data.Dedup.nearDupGateBatch]] ≡ one micro-batch of
    * `streamingNearDupCandidates` against empty state, spec-pinned):
    * per band bucket the minimum sid owns it, every other member emits
    * one (sid, dup_of) hit per colliding bucket. The oracle replays the
    * proven signature CTEs plus the streaming bucket-string format
    * (`band_h₀_h₁`) and the first-seen-owner rule.
    */
  def dNearDupGate(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupGateBatch(Tables.documents(spark, dir), "doc_id", "text")

  val dNearDupGateSql: String = {
    val bandSelects = (0 until K / 2)
      .map(b => s"SELECT sid, '${b}_' || h${2 * b} || '_' || h${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH $toksCte, $shCte, $mhCte,
       |banded AS (
       |  $bandSelects),
       |owners AS (SELECT bucket, MIN(sid) AS dup_of FROM banded GROUP BY 1)
       |SELECT b.sid, o.dup_of
       |FROM banded b JOIN owners o ON b.bucket = o.bucket
       |WHERE b.sid != o.dup_of""".stripMargin
  }

  /** Batch replay of the MEDIA-ingest hit stream — [[Multimodal.ingest]]'s
    * composition under one micro-batch: the [[mMediaGate]] accept filter
    * (only clean rows reach band state), then the perceptual band gate
    * ([[Multimodal.perceptualGateBatch]] ≡ `streamingPerceptualDupCandidates`
    * against empty state, spec-pinned). The oracle replays the accept
    * predicate, the perceptual hash, the `p`-namespaced 8-bit band
    * buckets, and the first-seen-owner rule.
    */
  def mIngestHits(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("bin", col("text").cast("binary"))
      .withColumn(
        "mime",
        concat(lit("image/"),
          when(col("doc_id") % 3 === 0, lit("png"))
            .when(col("doc_id") % 3 === 1, lit("jpeg"))
            .otherwise(lit("gif"))))
    val accepted = Multimodal
      .mediaVerdict(d, "bin", "mime", Seq("image/png", "image/jpeg"),
        minBytes = 64, maxBytes = 100000L)
      .filter(col("reject_reason").isNull)
    Multimodal.perceptualGateBatch(
      accepted.select(col("doc_id"), col("bin")), "doc_id", "bin", bandBits = 8)
  }

  val mIngestHitsSql: String = {
    val bandSelects = (0 until 8)
      .map(b => s"SELECT doc_id AS sid, 'p${b}_' || CAST((phash >> ${b * 8}) & 255 AS VARCHAR) AS bucket FROM ph")
      .mkString("\n  UNION ALL ")
    s"""WITH pb AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len,
       |    lower(hex(encode(text))) AS h
       |  FROM documents
       |  WHERE text IS NOT NULL
       |    AND octet_length(encode(text)) BETWEEN 64 AND 100000
       |    AND doc_id % 3 IN (0, 1)),
       |ph AS (SELECT doc_id, $phashSqlExpr AS phash FROM pb),
       |banded AS (
       |  $bandSelects),
       |owners AS (SELECT bucket, MIN(sid) AS dup_of FROM banded GROUP BY 1)
       |SELECT b.sid, o.dup_of
       |FROM banded b JOIN owners o ON b.bucket = o.bucket
       |WHERE b.sid != o.dup_of""".stripMargin
  }

  /** Batch replay of the streaming Misra-Gries heavy-hitters monitor
    * ([[graft.stateful.Processors.heavyHittersBatch]] ≡ one micro-batch
    * of `heavyHitters` against empty state, spec-pinned) over the events
    * feed: group = event_type, item = user_id, k = 8 counters per group
    * (150 distinct users per group at sf, so the summary genuinely
    * decrements). The oracle replays the EXACT sequential MG fold —
    * items ascending by string, run-length closed form — as a
    * recursive CTE carrying the counter list as a struct array.
    */
  def aHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.stateful.Processors
      .heavyHittersBatch(Tables.events(spark, dir), "event_type", "user_id", k = 8)
      .select(
        col("group").as("grp"),
        col("item"),
        col("estimate"),
        col("groupTotal").as("group_total"))

  val aHeavyHittersSql: String =
    """WITH RECURSIVE obs AS (
      |  SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS item FROM events),
      |runs AS (
      |  SELECT grp, item, COUNT(*) AS c,
      |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY item) AS rn
      |  FROM obs GROUP BY 1, 2),
      |nrun AS (SELECT grp, COUNT(*) AS nr, SUM(c) AS n FROM runs GROUP BY 1),
      |fold AS (
      |  SELECT grp, 0::BIGINT AS rn, []::STRUCT(item VARCHAR, cnt BIGINT)[] AS st
      |  FROM nrun
      |  UNION ALL
      |  SELECT f.grp, r.rn,
      |    CASE
      |      WHEN len(list_filter(f.st, s -> s.item = r.item)) > 0 THEN
      |        list_transform(f.st, s -> CASE WHEN s.item = r.item
      |          THEN {'item': s.item, 'cnt': s.cnt + r.c} ELSE s END)
      |      WHEN len(f.st) < 8 THEN
      |        list_append(f.st, {'item': r.item, 'cnt': r.c})
      |      WHEN r.c > list_min(list_transform(f.st, s -> s.cnt)) THEN
      |        list_append(
      |          list_filter(
      |            list_transform(f.st, s -> {'item': s.item,
      |              'cnt': s.cnt - list_min(list_transform(f.st, s2 -> s2.cnt))}),
      |            s -> s.cnt > 0),
      |          {'item': r.item, 'cnt': r.c - list_min(list_transform(f.st, s2 -> s2.cnt))})
      |      ELSE
      |        list_filter(list_transform(f.st, s -> {'item': s.item, 'cnt': s.cnt - r.c}),
      |          s -> s.cnt > 0)
      |    END
      |  FROM fold f JOIN runs r ON r.grp = f.grp AND r.rn = f.rn + 1),
      |final AS (
      |  SELECT f.grp, f.st FROM fold f JOIN nrun x ON x.grp = f.grp AND f.rn = x.nr)
      |SELECT u.grp, u.item, u.cnt AS estimate,
      |  CAST(x.n AS BIGINT) AS group_total
      |FROM (SELECT grp, UNNEST(st, recursive := true) FROM final) u
      |JOIN nrun x ON x.grp = u.grp""".stripMargin

  /** Perceptual duplicate CLUSTERS — the image-dedup impact report:
    * connected components over the Hamming-banded pair list
    * ([[Dedup.duplicateClusters]] min-label propagation), min-id canonical
    * representative per component. Composes the two proven blocks: the
    * `m_phash_pairs` candidate SQL and the `d_dup_clusters` recursive-CTE
    * component replay.
    */
  def mPhashClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(
      mPhashPairs(spark, dir).select(col("a_id").as("i"), col("b_id").as("j")))

  val mPhashClustersSql: String =
    spliceSql(
      // the reach CTE needs the RECURSIVE keyword on the WITH head
      spliceSql(mPhashPairsSql, "WITH pb AS", "WITH RECURSIVE pb AS"),
      """SELECT DISTINCT a_id, b_id, CAST(ham AS BIGINT) AS hamming
        |FROM cand WHERE ham <= 15""".stripMargin,
      """,pairs AS (SELECT DISTINCT a_id AS i, b_id AS j FROM cand WHERE ham <= 15),
        |edges AS (SELECT i AS src, j AS dst FROM pairs UNION SELECT j, i FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin)

  /** Boilerplate strip face: 10-token chunks shared by ≥2 distinct docs are
    * removed everywhere and the doc is rebuilt from the survivors.
    */
  def dBoilerplateStrip(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.stripBoilerplate(
      Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 10, minDocs = 2)

  val dBoilerplateStripSql: String =
    s"""WITH $toksCte,
       |k AS (
       |  SELECT doc_id, t, unnest(range(0, (len(t) + 9) // 10)) AS chunk_idx
       |  FROM toks WHERE len(t) > 0),
       |c AS (
       |  SELECT doc_id, chunk_idx,
       |    array_to_string(list_slice(t, chunk_idx*10 + 1, chunk_idx*10 + 10), ' ') AS chunk
       |  FROM k),
       |ch AS (SELECT doc_id, chunk_idx, chunk, ${hash60Sql("chunk")} AS h FROM c),
       |bp AS (
       |  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
       |  WHERE nd >= 2),
       |rem AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
       |  FROM ch WHERE h IN (SELECT h FROM bp) GROUP BY 1),
       |agg AS (
       |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS cleaned
       |  FROM ch WHERE h NOT IN (SELECT h FROM bp) GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST((len(t.t) + 9) // 10 AS BIGINT) AS n_chunks,
       |  COALESCE(r.n_removed, 0) AS n_removed,
       |  COALESCE(a.cleaned, '') AS cleaned
       |FROM toks t
       |LEFT JOIN rem r USING (doc_id)
       |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Stable train/val/test assignment at 90/5/5 under seed "split0". */
  def dSplitAssign(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.assignSplits(
      Tables.documents(spark, dir).select(col("doc_id")),
      "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      seed = "split0")

  val dSplitAssignSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN t < 900000 THEN 'train'
       |       WHEN t < 950000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id,
       |    ${hash60Sql("'split0|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS t
       |  FROM documents)""".stripMargin

  // ------------------------------------------------------ incremental corpus
  /** Shared prev/curr snapshot carving for the diff + rebuild faces (one
    * definition so the two faces and their SQL oracles can't drift):
    * "prev" is the corpus minus the docs crawled since (doc_id % 7 == 3),
    * holding an older revision of every 11th doc; "curr" drops the docs
    * deleted since (doc_id % 13 == 5). Pure function of doc_id, so the
    * oracle replays it exactly.
    */
  private def snapshotCarving(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val prev = docs
      .filter(pmod(col("doc_id"), lit(7)) =!= 3)
      .withColumn(
        "text",
        when(pmod(col("doc_id"), lit(11)) === 0, concat(col("text"), lit("|v0")))
          .otherwise(col("text")))
    val curr = docs.filter(pmod(col("doc_id"), lit(13)) =!= 5)
    (prev, curr)
  }

  /** Snapshot diff face over [[snapshotCarving]]. */
  def dSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (prev, curr) = snapshotCarving(spark, dir)
    SnapshotOps.snapshotDiff(prev, curr, "doc_id", "text")
  }

  val dSnapshotDiffSql: String =
    """WITH prev AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 11 = 0 THEN text || '|v0' ELSE text END) AS prev_hash
      |  FROM documents WHERE doc_id % 7 <> 3),
      |curr AS (
      |  SELECT doc_id, md5(text) AS curr_hash
      |  FROM documents WHERE doc_id % 13 <> 5)
      |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
      |  CASE WHEN p.doc_id IS NULL THEN 'added'
      |       WHEN c.doc_id IS NULL THEN 'removed'
      |       WHEN prev_hash IS NOT DISTINCT FROM curr_hash THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id""".stripMargin

  /** Incremental dedup face: every third doc arrives as the delta batch,
    * deduped against the rest of the corpus as the pre-ingested index. A
    * recrawl slice (doc_id % 5 == 1, re-submitted under a new id) rides
    * along in the delta so every verdict branch fires: recrawls of ingested
    * docs → `dup_corpus`, recrawls of docs also in this delta →
    * `dup_delta`, the rest → `new`.
    */
  def dDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val recrawl = docs
      .filter(pmod(col("doc_id"), lit(5)) === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    SnapshotOps.incrementalDedup(
      corpusIndex = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(recrawl),
      idCol = "doc_id",
      textCol = "text")
  }

  /** NEAR-dup incremental face ([[SnapshotOps.incrementalNearDup]]): the
    * same delta/recrawl fixture as `d_dedup_incremental`, gated at the
    * MinHash-LSH grain — recrawls verify at jaccard 1 against their
    * originals (in corpus → `dup_corpus`, in delta → `dup_delta`), and
    * the corpus's organic near-dups exercise the sub-1.0 band. Oracle
    * replays banding over the tagged union and verifies with the
    * all-pairs jaccard CTE restricted to collisions.
    */
  def dNearDupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val recrawl = docs
      .filter(pmod(col("doc_id"), lit(5)) === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    SnapshotOps.incrementalNearDup(
      corpusIndex = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(recrawl),
      idCol = "doc_id",
      textCol = "text")
  }

  /** The persisted near-dup BAND INDEX for the incremental fixture's corpus
    * slice ([[SnapshotOps.nearDupBandIndex]]): the (sid, band, bucket) frame
    * materialized ONCE per documents stamp as a table BUCKETED BY `bucket`
    * — the layout [[SnapshotOps.incrementalNearDupIndexed]] probes
    * bucket-pruned. 64 buckets: the ann_imipq rule — bucket count must
    * exceed executor cores or the index read caps scan parallelism.
    */
  private def nearDupIndexFor(spark: SparkSession, dir: String): (DataFrame, Option[String]) = {
    val path = s"${graft.connectors.Bucketing.indexDirFor(dir)}/neardup_bands"
    val idx = graft.connectors.Bucketing.ensureBucketed(
      spark,
      SnapshotOps.nearDupBandIndex(
        Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(3)) =!= 0),
        "doc_id", "text"),
      path, "bucket", 64,
      // the banding triple is part of the index identity (the
      // incrementalNearDupIndexed scaladoc): carrying it in the stamp makes
      // a parameter change REBUILD instead of silently probing a
      // differently-banded layout — and the query validates its own
      // parameters against the SAME stamp (readStamp below), replacing the
      // per-call max-band index scan (ADVICE r17)
      sourceStamp =
        s"${SnapshotOps.bandStamp(3, 16, 2)}|" +
          graft.connectors.Bucketing.cachedStamp(s"$dir/documents.parquet"))
    (idx, graft.connectors.Bucketing.readStamp(path))
  }

  /** [[dNearDupIncremental]] served from the persisted band index
    * ([[SnapshotOps.incrementalNearDupIndexed]]): identical verdicts (the
    * SAME oracle SQL gates it — the index must never change the answer),
    * but the corpus side is a 3-skinny-column bucketed read with the
    * delta's buckets pushed as bucket pruning, and corpus TEXT is touched
    * only for collided candidates — the last "re-scan corpus text per
    * delta batch" shape removed (VERDICT r16 #1).
    */
  def dNearDupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val recrawl = docs
      .filter(pmod(col("doc_id"), lit(5)) === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val (idx, stamp) = nearDupIndexFor(spark, dir)
    SnapshotOps.incrementalNearDupIndexed(
      bandIndex = idx,
      corpusText = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(recrawl),
      idCol = "doc_id",
      textCol = "text",
      indexStamp = stamp)
  }

  /** [[dNearDupIndexed]] served from a COMPACTED index
    * ([[graft.connectors.Bucketing.compactBucketed]]): the same corpus-side
    * band index, but built the way a production pipeline actually grows it
    * — bootstrap over half the corpus, a fenced
    * ([[graft.connectors.Bucketing.appendBucketedExactlyOnce]]) append of
    * the other half, then compaction back to one file per bucket. Append ≡
    * rebuild makes the logical index equal [[dNearDupIndexed]]'s, and
    * compaction is physical-only, so the SAME oracle gates all three faces
    * — the maintenance chain (build → append → compact → serve) must never
    * change an answer. What this face adds over `d_neardup_indexed` is the
    * small-files story: per-batch appends land ~nBuckets files each, and
    * at production cadence the index read pays thousands of file opens per
    * bucket until compaction folds them back (SCALE.md "r18:
    * bucketed-index compaction" records the decay and the win).
    */
  def dNearDupCompacted(spark: SparkSession, dir: String): DataFrame = {
    import graft.connectors.Bucketing
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val recrawl = docs
      .filter(pmod(col("doc_id"), lit(5)) === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val path = s"${Bucketing.indexDirFor(dir)}/neardup_bands_compact"
    val docsStamp = Bucketing.cachedStamp(s"$dir/documents.parquet")
    val pre = s"${SnapshotOps.bandStamp(3, 16, 2)}|$docsStamp|half"
    val post = s"${SnapshotOps.bandStamp(3, 16, 2)}|$docsStamp|full"
    val even = corpus.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = corpus.filter(pmod(col("doc_id"), lit(2)) === 1)
    if (!Bucketing.readStamp(path).contains(post))
      Bucketing.ensureBucketed(
        spark, SnapshotOps.nearDupBandIndex(even, "doc_id", "text"),
        path, "bucket", 64, sourceStamp = pre)
    Bucketing.appendBucketedExactlyOnce(
      spark,
      delta = SnapshotOps.nearDupBandIndex(odd, "doc_id", "text"),
      rebuildPre = SnapshotOps.nearDupBandIndex(even, "doc_id", "text"),
      rebuildPost = SnapshotOps.nearDupBandIndex(corpus, "doc_id", "text"),
      path, "bucket", 64, pre, post)
    // idempotent maintenance call: folds the append's files on first run,
    // skips (≤1 file/bucket already) on every later one — marker/stamp
    // byte-identical either way, so the fences above keep skipping too
    val idx = Bucketing.compactBucketed(spark, path, "bucket", 64)
    SnapshotOps.incrementalNearDupIndexed(
      bandIndex = idx,
      corpusText = corpus,
      delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(recrawl),
      idCol = "doc_id",
      textCol = "text",
      indexStamp = Bucketing.readStamp(path))
  }

  /** [[dNearDupIndexed]] served from a MULTI-WRITER-grown index
    * ([[graft.connectors.MultiWriterIndex]], VERDICT r19 #6): the same
    * corpus-side band index, but grown the way N CONCURRENT ingest streams
    * grow one index — two writers (`even`: two epochs, `odd`: one) each
    * commit their slice's band rows to the index's delta log exactly-once
    * (the TxnLogSink manifest race; replayed epochs skip on their
    * manifests, so repeat face runs move zero data), a fold absorbs the
    * committed prefix into the bucketed base under the marker fence
    * (stamp = the per-writer high-water vector + this face's band/corpus
    * identity), and the serve probes the folded base. Band-row content is
    * a pure function of each doc's own text (append ≡ rebuild,
    * spec-pinned), so log-fragment union ≡ the one-shot build and the
    * SAME oracle gates this face as `d_neardup_indexed`/`_compacted` —
    * the multi-writer growth path must never change an answer.
    *
    * The operator identity (band triple + corpus stamp) rides BOTH in the
    * fold-stamp suffix (validated per call) and in the index DIRECTORY:
    * the log's rows are the writers' product, so an identity change must
    * land in a fresh log+base pair, not a fold (stale generations under
    * the old dir are stranded cache, the ModelStore trade).
    */
  def dNearDupMultiWriter(spark: SparkSession, dir: String): DataFrame = {
    import graft.connectors.{Bucketing, MultiWriterIndex}
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val recrawl = docs
      .filter(pmod(col("doc_id"), lit(5)) === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val docsStamp = Bucketing.cachedStamp(s"$dir/documents.parquet")
    val identity = s"${SnapshotOps.bandStamp(3, 16, 2)}|$docsStamp"
    val idxDir = s"${Bucketing.indexDirFor(dir)}/neardup_mw/$docsStamp"
    def bands(df: DataFrame) = SnapshotOps.nearDupBandIndex(df, "doc_id", "text")
    val even = corpus.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = corpus.filter(pmod(col("doc_id"), lit(2)) === 1)
    MultiWriterIndex.appendDelta(
      bands(even.filter(pmod(col("doc_id"), lit(4)) === 0)), idxDir, "even", 0L)
    MultiWriterIndex.appendDelta(
      bands(even.filter(pmod(col("doc_id"), lit(4)) === 2)), idxDir, "even", 1L)
    MultiWriterIndex.appendDelta(bands(odd), idxDir, "odd", 0L)
    val idx = MultiWriterIndex.fold(spark, idxDir, "bucket", 64, stampSuffix = identity)
    SnapshotOps.incrementalNearDupIndexed(
      bandIndex = idx,
      corpusText = corpus,
      delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(recrawl),
      idCol = "doc_id",
      textCol = "text",
      indexStamp = MultiWriterIndex.baseStamp(idxDir))
  }

  val dNearDupIncrementalSql: String = {
    val tok = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    val bandSelects = (0 until K / 2)
      .map(b => s"SELECT sid, $b AS band, h${2 * b} || '_' || h${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, $tok AS t FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, $tok AS t FROM documents WHERE doc_id % 5 = 1),
       |tags AS (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'd' ELSE 'c' END AS tag FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'd' AS tag FROM documents WHERE doc_id % 5 = 1),
       |$shCte, $mhCte, $jaccardPairsSql,
       |bands AS (
       |  $bandSelects),
       |tb AS (SELECT b.sid, b.band, b.bucket, g.tag FROM bands b JOIN tags g ON g.doc_id = b.sid),
       |candc AS (
       |  SELECT DISTINCT
       |    CASE WHEN x.tag = 'd' THEN x.sid ELSE y.sid END AS did,
       |    CASE WHEN x.tag = 'd' THEN y.sid ELSE x.sid END AS cid
       |  FROM tb x JOIN tb y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.sid < y.sid AND x.tag <> y.tag),
       |corpus_dup AS (
       |  SELECT DISTINCT c.did
       |  FROM candc c JOIN jac
       |    ON jac.i = least(c.did, c.cid) AND jac.j = greatest(c.did, c.cid)
       |  WHERE jac.jaccard >= 0.8),
       |candd AS (
       |  SELECT DISTINCT x.sid AS i, y.sid AS j
       |  FROM tb x JOIN tb y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.sid < y.sid
       |      AND x.tag = 'd' AND y.tag = 'd'),
       |delta_dup AS (
       |  SELECT DISTINCT c.j AS did
       |  FROM candd c JOIN jac ON jac.i = c.i AND jac.j = c.j
       |  WHERE jac.jaccard >= 0.8)
       |SELECT t.doc_id,
       |  CASE WHEN cd.did IS NOT NULL THEN 'dup_corpus'
       |       WHEN dd.did IS NOT NULL THEN 'dup_delta'
       |       ELSE 'new' END AS verdict
       |FROM tags t
       |LEFT JOIN corpus_dup cd ON cd.did = t.doc_id
       |LEFT JOIN delta_dup dd ON dd.did = t.doc_id
       |WHERE t.tag = 'd'""".stripMargin
  }

  /** The gated-ingest INDEX-MAINTENANCE capstone (VERDICT r17 #3): one
    * batch flows gate → exactly-once index append → post-append serve, the
    * production loop a live training-data feed runs per micro-batch.
    *
    *  1. GATE: [[CorpusIngest.verdictExact]] over the ingest batch (the
    *     near-dup fixture's delta: every third doc + a recrawl slice) —
    *     too_short/lang/contaminated, the audit-exact contamination arm.
    *  2. APPEND: the accepted rows' near-dup BANDS and IMI-PQ CODES are
    *     appended to this face's persisted indexes via
    *     [[graft.connectors.Bucketing.appendBucketedExactlyOnce]] — the
    *     marker-stamp fence (TxnLogSink's committed-manifest skip): a
    *     replayed batch reads back and moves no data, a torn append
    *     rebuilds, spec-pinned under simulated kill-and-resume
    *     (ScaleMechanicsSpec). Both indexes advance WITH the corpus text
    *     in the same pass — the structural form of the index ⊆ corpusText
    *     contract ([[SnapshotOps]] coverage guard scaladoc).
    *  3. SERVE: a second (probe) batch runs
    *     [[SnapshotOps.incrementalNearDupIndexed]] against the POST-APPEND
    *     band index — probes whose originals were accepted in step 2
    *     verdict `dup_corpus` through the rows this very call appended.
    *
    * Output: `(doc_id, phase, verdict)` — gate verdicts (`accepted` or the
    * reject reason) plus the probe batch's near-dup verdicts. The oracle
    * replays the whole chain: the exact gate, the accepted set, and the
    * near-dup of the probe against corpus ∪ accepted (append ≡ rebuild
    * makes the persisted index equal that logical union).
    */
  def dIngestIndexCapstone(spark: SparkSession, dir: String): DataFrame = {
    import graft.connectors.Bucketing
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val recrawl = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(recrawl)
    // named gate parameters: the SAME values feed the verdictExact call AND
    // the fence stamps below, so a gate change cannot leave the stamp
    // behind (code-review r18 — a hand-written stamp literal was itself
    // the drift hazard the stamp exists to close)
    val gateLangs = Seq("en")
    val gateMinTokens = 5
    val gateBenchMod = 97
    val gateNgram = 3
    val bench = docs.filter(pmod(col("doc_id"), lit(gateBenchMod)) === 0)
    // 1) gate — checkpointed once (skinny: id + reason), five consumers
    val gated = CorpusIngest.verdictExact(
      batch, "doc_id", "text", allowedLangs = gateLangs, minTokens = gateMinTokens,
      bench = bench, benchTextCol = "text", n = gateNgram)
      .select(col("doc_id"), col("reject_reason"))
      .localCheckpoint()
    val out = CorpusOps.releaseOnFailure(gated) {
      val acceptedIds = gated.filter(col("reject_reason").isNull).select(col("doc_id"))
      val acceptedDocs = batch.join(acceptedIds, Seq("doc_id"), "left_semi")
      val docsStamp = Bucketing.cachedStamp(s"$dir/documents.parquet")
      // the GATE configuration is part of the index identity too: the
      // appended rows are the gate's ACCEPTED set, so a gate change (langs,
      // minTokens, bench slice, n-gram grain) under an unchanged corpus
      // stamp would otherwise hit the postStamp skip arm and serve a stale
      // corpus ∪ old-accepted index against the NEW accepted corpusText —
      // the silent index ⊄ corpusText miss the stamp discipline exists to
      // prevent (code-review r18); derived from the SAME named values the
      // gate call consumes, never a hand-written literal
      val gateCfg =
        s"gate(langs=${gateLangs.mkString("+")},min=$gateMinTokens,bench=$gateBenchMod,ngram=$gateNgram)"
      // 2a) near-dup band index: bootstrap the PRE state once per corpus
      // stamp, then the fenced append per batch
      val bandPath = s"${Bucketing.indexDirFor(dir)}/capstone_bands"
      val bandPre = s"${SnapshotOps.bandStamp(3, 16, 2)}|$docsStamp|$gateCfg|pre"
      val bandPost = s"${SnapshotOps.bandStamp(3, 16, 2)}|$docsStamp|$gateCfg|ingested"
      if (!Bucketing.readStamp(bandPath).contains(bandPost))
        Bucketing.ensureBucketed(
          spark, SnapshotOps.nearDupBandIndex(corpus, "doc_id", "text"),
          bandPath, "bucket", 64, sourceStamp = bandPre)
      val postIdx = Bucketing.appendBucketedExactlyOnce(
        spark,
        delta = SnapshotOps.nearDupBandIndex(acceptedDocs, "doc_id", "text"),
        rebuildPre = SnapshotOps.nearDupBandIndex(corpus, "doc_id", "text"),
        rebuildPost = SnapshotOps.nearDupBandIndex(
          corpus.unionByName(acceptedDocs), "doc_id", "text"),
        bandPath, "bucket", 64, bandPre, bandPost)
      // 2b) IMI-PQ ANN index: the accepted rows that HAVE embeddings (the
      // recrawl ids are text-only) get their codes appended under the same
      // fence — one gated batch updates BOTH heavy index families
      val emb = Tables.embeddings(spark, dir)
      val corpusEmb = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
      val batchEmb = emb.join(
        acceptedIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      val annFence = Fence.Imi(imiCodebooksFor(spark, dir, ImiKSub))
      val annScorer = Scorer.Adc(codebooksFor(spark, dir, m = PqM, k = PqK))
      val annPath = s"${Bucketing.indexDirFor(dir)}/capstone_ann"
      val embStamp = Bucketing.cachedStamp(s"$dir/embeddings.parquet")
      val annPre = s"imipq($ImiKSub,$PqM,$PqK)|$embStamp|$gateCfg|pre"
      val annPost = s"imipq($ImiKSub,$PqM,$PqK)|$embStamp|$gateCfg|ingested"
      if (!Bucketing.readStamp(annPath).contains(annPost))
        Bucketing.ensureBucketed(
          spark, Similarity.encode(corpusEmb, "vec_id", "embedding", annFence, annScorer),
          annPath, "n_bk", 64, sourceStamp = annPre)
      Bucketing.appendBucketedExactlyOnce(
        spark,
        delta = Similarity.encode(batchEmb, "vec_id", "embedding", annFence, annScorer),
        rebuildPre = Similarity.encode(corpusEmb, "vec_id", "embedding", annFence, annScorer),
        rebuildPost = Similarity.encode(
          corpusEmb.unionByName(batchEmb), "vec_id", "embedding", annFence, annScorer),
        annPath, "n_bk", 64, annPre, annPost)
      // 3) serve: the probe batch gated against the POST-APPEND band index;
      // corpusText advanced in lockstep (the coverage contract, held
      // structurally — both sides grew by the same accepted rows)
      val probe = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
        .withColumn("doc_id", col("doc_id") + lit(2000000L))
      val nd = SnapshotOps.incrementalNearDupIndexed(
        bandIndex = postIdx,
        corpusText = corpus.unionByName(acceptedDocs),
        delta = probe,
        idCol = "doc_id",
        textCol = "text",
        indexStamp = Bucketing.readStamp(bandPath))
      // nd is itself a checkpoint frame (incrementalNearDupIndexed's
      // contract); it is intermediate here, so release it once the union
      // has checkpointed — on failure too (code-review r18)
      val fused = CorpusOps.releaseOnFailure(nd) {
        gated.select(
          col("doc_id"),
          lit("gate").as("phase"),
          coalesce(col("reject_reason"), lit("accepted")).as("verdict"))
          .unionByName(nd.select(col("doc_id"), lit("neardup").as("phase"), col("verdict")))
          .localCheckpoint()
      }
      // guard the fused result against the nd release itself throwing —
      // the rethrow through the outer guard must not strand it
      CorpusOps.releaseOnFailure(fused) {
        graft.core.Checkpoints.release(nd)
        fused
      }
    }
    graft.core.Checkpoints.release(gated)
    out
  }

  lazy val dIngestIndexCapstoneSql: String = {
    val tok = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    val bandSelects = (0 until K / 2)
      .map(b => s"SELECT sid, $b AS band, h${2 * b} || '_' || h${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 1),
       |btoks AS (SELECT doc_id, text, $tok AS t FROM batch),
       |bgrams AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(t)-2, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+2), ' '))) AS g
       |  FROM btoks),
       |evt AS (SELECT $tok AS t FROM documents WHERE doc_id % 97 = 0),
       |evalg AS (
       |  SELECT DISTINCT unnest(list_transform(
       |    range(1, greatest(len(t)-2, 0)+1),
       |    i -> array_to_string(list_slice(t, i, i+2), ' '))) AS g
       |  FROM evt),
       |cont AS (SELECT DISTINCT doc_id FROM bgrams JOIN evalg USING (g)),
       |gscored AS (SELECT doc_id, t, len(t) AS n_tokens, $langScoreExprsSql FROM btoks),
       |gate AS (
       |  SELECT doc_id,
       |    CASE WHEN t IS NULL OR n_tokens < 5 THEN 'too_short'
       |      WHEN ($langCaseSql) <> 'en' THEN 'lang'
       |      WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
       |    END AS reason
       |  FROM gscored),
       |accepted AS (
       |  SELECT b.doc_id, b.text FROM batch b JOIN gate g USING (doc_id)
       |  WHERE g.reason IS NULL),
       |toks AS (
       |  SELECT doc_id, $tok AS t FROM documents WHERE doc_id % 3 <> 0
       |  UNION ALL
       |  SELECT doc_id, $tok AS t FROM accepted
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, $tok AS t FROM documents WHERE doc_id % 7 = 2),
       |tags AS (
       |  SELECT doc_id, 'c' AS tag FROM documents WHERE doc_id % 3 <> 0
       |  UNION ALL
       |  SELECT doc_id, 'c' AS tag FROM accepted
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, 'd' AS tag FROM documents WHERE doc_id % 7 = 2),
       |$shCte, $mhCte, $jaccardPairsSql,
       |bands AS (
       |  $bandSelects),
       |tb AS (SELECT b.sid, b.band, b.bucket, g.tag FROM bands b JOIN tags g ON g.doc_id = b.sid),
       |candc AS (
       |  SELECT DISTINCT
       |    CASE WHEN x.tag = 'd' THEN x.sid ELSE y.sid END AS did,
       |    CASE WHEN x.tag = 'd' THEN y.sid ELSE x.sid END AS cid
       |  FROM tb x JOIN tb y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.sid < y.sid AND x.tag <> y.tag),
       |corpus_dup AS (
       |  SELECT DISTINCT c.did
       |  FROM candc c JOIN jac
       |    ON jac.i = least(c.did, c.cid) AND jac.j = greatest(c.did, c.cid)
       |  WHERE jac.jaccard >= 0.8),
       |candd AS (
       |  SELECT DISTINCT x.sid AS i, y.sid AS j
       |  FROM tb x JOIN tb y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.sid < y.sid
       |      AND x.tag = 'd' AND y.tag = 'd'),
       |delta_dup AS (
       |  SELECT DISTINCT c.j AS did
       |  FROM candd c JOIN jac ON jac.i = c.i AND jac.j = c.j
       |  WHERE jac.jaccard >= 0.8)
       |SELECT doc_id, 'gate' AS phase, COALESCE(reason, 'accepted') AS verdict FROM gate
       |UNION ALL
       |SELECT t.doc_id, 'neardup' AS phase,
       |  CASE WHEN cd.did IS NOT NULL THEN 'dup_corpus'
       |       WHEN dd.did IS NOT NULL THEN 'dup_delta'
       |       ELSE 'new' END AS verdict
       |FROM tags t
       |LEFT JOIN corpus_dup cd ON cd.did = t.doc_id
       |LEFT JOIN delta_dup dd ON dd.did = t.doc_id
       |WHERE t.tag = 'd'""".stripMargin
  }

  val dDedupIncrementalSql: String =
    """WITH corpus AS (
      |  SELECT DISTINCT md5(text) AS content_hash
      |  FROM documents WHERE doc_id % 3 <> 0),
      |delta AS (
      |  SELECT doc_id, md5(text) AS content_hash
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS content_hash
      |  FROM documents WHERE doc_id % 5 = 1),
      |marked AS (
      |  SELECT d.doc_id, d.content_hash,
      |    (c.content_hash IS NOT NULL) AS in_corpus,
      |    MIN(d.doc_id) OVER (PARTITION BY d.content_hash) AS keep_id
      |  FROM delta d LEFT JOIN corpus c USING (content_hash))
      |SELECT doc_id, content_hash,
      |  CASE WHEN in_corpus THEN 'dup_corpus'
      |       WHEN doc_id <> keep_id THEN 'dup_delta'
      |       ELSE 'new' END AS verdict
      |FROM marked""".stripMargin

  /** The incremental-rebuild capstone — the nightly job of a living corpus,
    * composing the r8 ops end-to-end in ONE plan: snapshot diff (what
    * changed since the last crawl) → delta-vs-store incremental dedup
    * (never re-dedup the ingested corpus) → light quality gate → stable
    * split assignment for the accepted rows. Output is exactly what the
    * training store ingests: (doc_id, content_hash, split) for new, unique,
    * quality-passing content. Every stage is the already-verified operator;
    * the oracle replays the whole chain.
    */
  def dIncrementalRebuild(spark: SparkSession, dir: String): DataFrame = {
    val (prev, curr) = snapshotCarving(spark, dir)
    val diff = SnapshotOps.snapshotDiff(prev, curr, "doc_id", "text")
    val delta = curr.join(diff.filter(col("status").isin("added", "changed")), Seq("doc_id"))
    val store = curr.join(diff.filter(col("status") === "unchanged"), Seq("doc_id"))
    val fresh = delta.join(
      SnapshotOps.incrementalDedup(store, delta, "doc_id", "text")
        .filter(col("verdict") === "new")
        .select(col("doc_id"), col("content_hash")),
      Seq("doc_id"))
    val gated = fresh
      .filter(col("n_chars") >= 80 && col("lang").isin("en", "de", "es", "fr"))
      .select(col("doc_id"), col("content_hash"))
    CorpusOps.assignSplits(
      gated, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = "split0")
  }

  val dIncrementalRebuildSql: String =
    s"""WITH prev AS (
       |  SELECT doc_id,
       |    md5(CASE WHEN doc_id % 11 = 0 THEN text || '|v0' ELSE text END) AS prev_hash
       |  FROM documents WHERE doc_id % 7 <> 3),
       |curr AS (
       |  SELECT doc_id, lang, n_chars, md5(text) AS curr_hash
       |  FROM documents WHERE doc_id % 13 <> 5),
       |diff AS (
       |  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
       |    CASE WHEN p.doc_id IS NULL THEN 'added'
       |         WHEN c.doc_id IS NULL THEN 'removed'
       |         WHEN prev_hash IS NOT DISTINCT FROM curr_hash THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id),
       |store AS (
       |  SELECT DISTINCT curr_hash AS content_hash
       |  FROM curr JOIN diff USING (doc_id) WHERE status = 'unchanged'),
       |delta AS (
       |  SELECT c.doc_id, c.curr_hash AS content_hash, c.lang, c.n_chars
       |  FROM curr c JOIN diff USING (doc_id) WHERE status IN ('added', 'changed')),
       |marked AS (
       |  SELECT d.doc_id, d.content_hash, d.lang, d.n_chars,
       |    (s.content_hash IS NOT NULL) AS in_corpus,
       |    MIN(d.doc_id) OVER (PARTITION BY d.content_hash) AS keep_id
       |  FROM delta d LEFT JOIN store s USING (content_hash)),
       |gated AS (
       |  SELECT doc_id, content_hash FROM marked
       |  WHERE NOT in_corpus AND doc_id = keep_id
       |    AND n_chars >= 80 AND lang IN ('en', 'de', 'es', 'fr'))
       |SELECT doc_id, content_hash,
       |  CASE WHEN t < 900000 THEN 'train'
       |       WHEN t < 950000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, content_hash,
       |    ${hash60Sql("'split0|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS t
       |  FROM gated)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_incremental_rebuild" -> dIncrementalRebuild,
    "d_snapshot_diff" -> dSnapshotDiff,
    "d_dedup_incremental" -> dDedupIncremental,
    "d_neardup_incremental" -> dNearDupIncremental,
    "d_neardup_indexed" -> dNearDupIndexed,
    "d_neardup_compacted" -> dNearDupCompacted,
    "d_neardup_multiwriter" -> dNearDupMultiWriter,
    "d_boilerplate_strip" -> dBoilerplateStrip,
    "d_decontaminate_multi" -> dDecontaminateMulti,
    "d_split_assign" -> dSplitAssign,
    "t_quality" -> tQuality,
    "t_quality_model" -> tQualityModel,
    "d_quality_cut" -> dQualityCut,
    "d_quality_cut_by_source" -> dQualityCutBySource,
    "d_quality_gate" -> dQualityGate,
    "d_curation_pipeline" -> dCurationPipeline,
    "d_source_cap" -> dSourceCap,
    "t_langid" -> tLangId,
    "t_fingerprint" -> tFingerprint,
    "t_term_freq" -> tTermFreq,
    "d_clean_corpus" -> dCleanCorpus,
    "d_clean_corpus_best" -> dCleanCorpusBest,
    "d_decontaminate_overlap" -> dDecontaminateOverlap,
    "e_embed_stats" -> eEmbedStats,
    "d_dedup_exact" -> dExact,
    "d_dedup_priority" -> dDedupPriority,
    "d_ngram_jaccard" -> dJaccard,
    "d_ngram_jaccard_scoped" -> dJaccardScoped,
    "d_minhash_sig" -> dMinhashSig,
    "d_minhash_pairs" -> dMinhashPairs,
    "d_simhash" -> dSimhash,
    "d_dup_clusters" -> dDupClusters,
    "d_dup_clusters_alt" -> dDupClustersAlt,
    "d_dup_cluster_stats" -> dDupClusterStats,
    "d_embed_pairs" -> dEmbedPairs,
    "s_ann_brute" -> sAnnBrute,
    "s_ann_ivf" -> sAnnIvf,
    "s_ann_ivf_seeded" -> sAnnIvfSeeded,
    "s_ann_imi" -> sAnnImi,
    "s_ann_lsh" -> sAnnLsh,
    "s_ann_pq" -> sAnnPq,
    "s_ann_pq_ivf" -> sAnnPqIvf,
    "s_ann_pq_imi" -> sAnnPqImi,
    "s_ann_fence_cost" -> sAnnFenceCost,
    "s_ann_probe_plan" -> sAnnProbePlan,
    "s_ann_pq_imi_rr" -> sAnnPqImiRr,
    "s_ann_pq_imi_idx" -> sAnnPqImiIdx,
    "s_ann_pq_imi_t" -> sAnnPqImiT,
    "s_ann_pq_imi_r" -> sAnnPqImiR,
    "s_ann_int8_imi" -> sAnnInt8Imi,
    "s_ann_int8" -> sAnnInt8,
    "s_ann_int8_ivf" -> sAnnInt8Ivf,
    "s_ann_lsh_multiprobe" -> sAnnLshMultiprobe,
    "d_stratified_sample" -> dStratifiedSample,
    "d_importance_weights" -> dImportanceWeights,
    "d_importance_select" -> dImportanceSelect,
    "d_importance_campaign" -> dImportanceCampaign,
    "d_importance_resample" -> dImportanceResample,
    "d_mix_plan" -> dMixPlan,
    "d_mix_apply" -> dMixApply,
    "d_dsir_pipeline" -> dDsirPipeline,
    "d_seq_pack" -> dSeqPack,
    "t_redact" -> tRedact,
    "d_corpus_assembly" -> dCorpusAssembly,
    "d_decontaminate" -> dDecontaminate,
    "d_decontaminate_bloom" -> dDecontaminateBloom,
    "d_decontaminate_campaign" -> dDecontaminateCampaign,
    "d_ingest_gate" -> dIngestGate,
    "d_ingest_gate_exact" -> dIngestGateExact,
    "d_ingest_index_capstone" -> dIngestIndexCapstone,
    "d_semdedup" -> dSemDedup,
    "d_semdedup_probe2" -> dSemDedupProbe2,
    "d_semdedup_imi" -> dSemDedupImi,
    "d_semdedup_imi_probe" -> dSemDedupImiProbe,
    "t_bm25" -> tBm25,
    "t_repetition" -> tRepetition,
    "d_corpus_shuffle" -> dCorpusShuffle,
    "d_chunk" -> dChunk,
    "d_dup_paragraphs" -> dDupParagraphs,
    "d_substring_spans" -> dSubstringSpans,
    "d_substring_trim" -> dSubstringTrim,
    "t_quality_filter" -> tQualityFilter,
    "t_bigram_commonness" -> tBigramCommonness,
    "d_token_budget" -> dTokenBudget,
    "m_multimodal" -> mMultimodal,
    "m_phash" -> mPhash,
    "m_phash_pairs" -> mPhashPairs,
    "m_phash_clusters" -> mPhashClusters,
    "m_phash_indexed" -> mPhashIndexed,
    "m_phash_clusters_idx" -> mPhashClustersIdx,
    "m_media_gate" -> mMediaGate,
    "m_ingest_index_capstone" -> mIngestIndexCapstone,
    "d_neardup_gate" -> dNearDupGate,
    "m_ingest_hits" -> mIngestHits,
    "a5_heavy_hitters" -> aHeavyHitters
  )

  val oracles: Map[String, String] = Map(
    "d_incremental_rebuild" -> dIncrementalRebuildSql,
    "d_snapshot_diff" -> dSnapshotDiffSql,
    "d_dedup_incremental" -> dDedupIncrementalSql,
    "d_neardup_incremental" -> dNearDupIncrementalSql,
    // the index must never change the answer: the indexed face is gated by
    // the SAME oracle as the inline face (the s_ann_pq_imi_idx rule)
    "d_neardup_indexed" -> dNearDupIncrementalSql,
    // build → exactly-once append → compact → serve: maintenance is
    // physical-only end to end, so the inline oracle still gates it
    "d_neardup_compacted" -> dNearDupIncrementalSql,
    // the multi-writer growth path must never change the answer: same oracle
    "d_neardup_multiwriter" -> dNearDupIncrementalSql,
    "d_boilerplate_strip" -> dBoilerplateStripSql,
    "d_decontaminate_multi" -> dDecontaminateMultiSql,
    "d_split_assign" -> dSplitAssignSql,
    "t_quality" -> tQualitySql,
    "t_quality_model" -> tQualityModelSql,
    "d_quality_cut" -> dQualityCutSql,
    "d_quality_cut_by_source" -> dQualityCutBySourceSql,
    "d_quality_gate" -> dQualityGateSql,
    "d_curation_pipeline" -> dCurationPipelineSql,
    "d_source_cap" -> dSourceCapSql,
    "t_langid" -> tLangIdSql,
    "t_fingerprint" -> tFingerprintSql,
    "t_term_freq" -> tTermFreqSql,
    "d_clean_corpus" -> dCleanCorpusSql,
    "d_clean_corpus_best" -> dCleanCorpusBestSql,
    "d_decontaminate_overlap" -> dDecontaminateOverlapSql,
    "e_embed_stats" -> eEmbedStatsSql,
    "d_dedup_exact" -> dExactSql,
    "d_dedup_priority" -> dDedupPrioritySql,
    "d_ngram_jaccard" -> dJaccardSql,
    "d_ngram_jaccard_scoped" -> dJaccardScopedSql,
    "d_minhash_sig" -> dMinhashSigSql,
    "d_minhash_pairs" -> dMinhashPairsSql,
    "d_simhash" -> dSimhashSql,
    "d_dup_clusters" -> dDupClustersSql,
    "d_dup_clusters_alt" -> dDupClustersAltSql,
    "d_dup_cluster_stats" -> dDupClusterStatsSql,
    "d_embed_pairs" -> dEmbedPairsSql,
    "s_ann_brute" -> sAnnBruteSql,
    "s_ann_ivf" -> sAnnIvfSql,
    "s_ann_ivf_seeded" -> sAnnIvfSeededSql,
    "s_ann_imi" -> sAnnImiSql,
    "s_ann_lsh" -> sAnnLshSql,
    "s_ann_pq" -> sAnnPqSql,
    "s_ann_pq_ivf" -> sAnnPqIvfSql,
    "s_ann_pq_imi" -> sAnnPqImiSql,
    "s_ann_fence_cost" -> sAnnFenceCostSql,
    "s_ann_probe_plan" -> sAnnProbePlanSql,
    "s_ann_pq_imi_rr" -> sAnnPqImiRrSql,
    "s_ann_pq_imi_idx" -> sAnnPqImiIdxSql,
    "s_ann_pq_imi_t" -> sAnnPqImiTSql,
    "s_ann_pq_imi_r" -> sAnnPqImiRSql,
    "s_ann_int8_imi" -> sAnnInt8ImiSql,
    "s_ann_int8" -> sAnnInt8Sql,
    "s_ann_int8_ivf" -> sAnnInt8IvfSql,
    "s_ann_lsh_multiprobe" -> sAnnLshMultiprobeSql,
    "d_stratified_sample" -> dStratifiedSampleSql,
    "d_importance_weights" -> dImportanceWeightsSql,
    "d_importance_select" -> dImportanceSelectSql,
    "d_importance_campaign" -> dImportanceCampaignSql,
    "d_importance_resample" -> dImportanceResampleSql,
    "d_mix_plan" -> dMixPlanSql,
    "d_mix_apply" -> dMixApplySql,
    "d_dsir_pipeline" -> dDsirPipelineSql,
    "d_seq_pack" -> dSeqPackSql,
    "t_redact" -> tRedactSql,
    "d_corpus_assembly" -> dCorpusAssemblySql,
    "d_decontaminate" -> dDecontaminateSql,
    "d_decontaminate_bloom" -> dDecontaminateBloomSql,
    "d_decontaminate_campaign" -> dDecontaminateCampaignSql,
    "d_ingest_gate_exact" -> dIngestGateExactSql,
    "d_ingest_index_capstone" -> dIngestIndexCapstoneSql,
    "d_semdedup" -> dSemDedupSql,
    "d_semdedup_probe2" -> dSemDedupProbe2Sql,
    "d_semdedup_imi" -> dSemDedupImiSql,
    "d_semdedup_imi_probe" -> dSemDedupImiProbeSql,
    "t_bm25" -> tBm25Sql,
    "t_repetition" -> tRepetitionSql,
    "d_corpus_shuffle" -> dCorpusShuffleSql,
    "d_chunk" -> dChunkSql,
    "d_dup_paragraphs" -> dDupParagraphsSql,
    "d_substring_spans" -> dSubstringSpansSql,
    "d_substring_trim" -> dSubstringTrimSql,
    "t_quality_filter" -> tQualityFilterSql,
    "t_bigram_commonness" -> tBigramCommonnessSql,
    "d_token_budget" -> dTokenBudgetSql,
    "m_multimodal" -> mMultimodalSql,
    "m_phash" -> mPhashSql,
    "m_phash_pairs" -> mPhashPairsSql,
    "m_phash_clusters" -> mPhashClustersSql,
    // the indexed faces answer the SAME questions — one oracle each pair
    // (the d_neardup_indexed precedent: the index must never change the answer)
    "m_phash_indexed" -> mPhashPairsSql,
    "m_phash_clusters_idx" -> mPhashClustersSql,
    "m_media_gate" -> mMediaGateSql,
    "m_ingest_index_capstone" -> mIngestIndexCapstoneSql,
    "d_neardup_gate" -> dNearDupGateSql,
    "m_ingest_hits" -> mIngestHitsSql,
    "a5_heavy_hitters" -> aHeavyHittersSql
  )
}
