package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off sf0.1 → sf1 scale probe: replicates the sf0.1 tables `factor`
  * times with shifted keys (id spaces AND key cardinalities scale linearly,
  * as the generator's own sf scaling does: user_id 150 → 1500 between
  * sf0.01 and sf0.1), runs a representative query set warm at BOTH scales
  * in one JVM, and prints per-query ratios. Purpose: turn the "linear at
  * 100×" plan claims into a measured data point (SCALE.md records the
  * result). This is a throughput probe, not an oracle input — correctness
  * stays gated on the driver-generated fixtures.
  *
  * usage: runMain graft.ScaleProbe [srcDir] [outDir] [factor] [query...]
  * (trailing query names restrict the sweep — fast targeted re-measurement
  * of one family after a change, same idea as Verify's trailing filter)
  */
object ScaleProbe {

  /** (table, columns to shift by i*stride — id spaces that must not collide
    * across copies and must stay join-consistent between tables)
    */
  private val ShiftRules: Seq[(String, Map[String, Long])] = Seq(
    "events" -> Map("event_id" -> 10000000L, "user_id" -> 1000000L),
    "documents" -> Map("doc_id" -> 10000000L),
    "embeddings" -> Map("vec_id" -> 10000000L),
    "lineitem" -> Map("l_orderkey" -> 100000000L),
    "orders" -> Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L),
    "customer" -> Map("c_custkey" -> 10000000L),
    // dims stay single-copy (joins against them remain valid)
    "nation" -> Map.empty,
    "region" -> Map.empty,
    "part" -> Map.empty,
    "supplier" -> Map.empty
  )

  /** Family-representative queries (the r5 warm top-10 plus q1 and the
    * cluster-propagation op, extended with the r6/r7 additions) — every
    * major shuffle/broadcast/state shape. `j4_asof_stream` carries a fixed
    * stream-start cost (RocksDB init, two streams) that does NOT scale with
    * data — read its ratio against that floor.
    */
  private val Probes = Seq(
    "events_by_type", "q1_pricing_summary",
    "j4_asof_join", "j4_asof_broadcast", "j5_range_join",
    "a3_merger", "p2_cdc_parse", "job_sessions", "job_mongo_to_kafka",
    "d_clean_corpus", "d_decontaminate_bloom", "d_dup_clusters",
    "s_ann_lsh_multiprobe",
    // r6/r7 additions (VERDICT r6 #5)
    "j4_asof_stream", "s_ann_pq", "s_ann_pq_ivf",
    "d_semdedup", "d_semdedup_probe2",
    "q_sketch_countmin", "q18_large_orders", "q_outliers",
    "s_ann_int8", "s_ann_int8_ivf", "d_dedup_priority",
    "q8_market_share", "q13_order_distribution",
    // r8 additions: incremental-corpus ops + the bucketed co-located join
    "d_snapshot_diff", "d_dedup_incremental", "d_boilerplate_strip",
    "q_bucketed_join", "d_decontaminate_multi", "d_incremental_rebuild",
    "d_split_assign",
    // r9: the ModelStore-backed campaign bloom face
    "d_decontaminate_campaign",
    // r11: the decontaminate-on-ingest gate (campaign bloom riding the
    // CorpusIngest verdict) and an IMI-branch auto-k face
    "d_ingest_gate", "s_ann_ivf_seeded",
    // r12: the composed IMI-pruned ANN faces (cell fence + ADC / int8
    // scoring — the auto-k form of the s_ann_pq_ivf / s_ann_int8_ivf
    // shape), the graded decontamination report, and the quality-aware
    // cluster representative
    "s_ann_pq_imi", "s_ann_int8_imi",
    "d_decontaminate_overlap", "d_clean_corpus_best",
    // r15: the IVFADC+R refinement face + its fence-cost estimator, and
    // the batch replays of the three streaming-only gates
    "s_ann_pq_imi_rr", "s_ann_fence_cost",
    "d_neardup_gate", "m_ingest_hits", "a5_heavy_hitters",
    // r15: the fence planner (priced sweep → pSub decision), the
    // diameter-independent connected-components face, and the
    // importance-selection faces
    "s_ann_probe_plan", "d_dup_clusters_alt",
    "d_importance_weights", "d_importance_select",
    // r16: the DSIR resampling step (distributed prefix-sum comb), the
    // budget-driven mixture planner/apply pair, and the persisted
    // cell-bucketed ANN index face
    "d_importance_resample", "d_mix_plan", "d_mix_apply",
    "s_ann_pq_imi_idx", "d_neardup_incremental", "d_quality_cut",
    "d_curation_pipeline",
    // r17: the persisted near-dup band index face, the streaming quality
    // gate's batch replay, the composed DSIR selection capstone, and the
    // grown full-lineitem top-per-group window
    "d_neardup_indexed", "d_quality_gate", "d_dsir_pipeline",
    "q_top_per_group",
    // r18: the persisted pHash MIH index faces and the gated-ingest
    // index-maintenance capstone
    "m_phash_indexed", "m_phash_clusters_idx", "d_ingest_index_capstone"
  )

  /** A table is reused only when its completion marker exists AND records
    * the same replication factor — a partially-written dir from a crashed
    * run, or one built with a different factor, is rebuilt instead of
    * silently corrupting the measurement (ADVICE r6). The marker is written
    * strictly AFTER the parquet commit.
    */
  def buildScaled(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      factor: Int,
      only: Set[String] = Set.empty
  ): Unit =
    ShiftRules.filter(r => only.isEmpty || only(r._1)).foreach { case (table, shifts) =>
      val target = new java.io.File(s"$outDir/$table.parquet")
      val marker = new java.io.File(target, s"_GRAFT_FACTOR_$factor")
      if (!marker.exists()) {
        if (target.exists())
          org.apache.commons.io.FileUtils.deleteDirectory(target)
        val src = spark.read.parquet(s"$srcDir/$table.parquet")
        val scaled =
          if (shifts.isEmpty) src
          else if (factor >= 1000)
            // a factor-way union is a 10⁴-branch Catalyst plan (analysis
            // alone chokes) — generate copies as a DISTRIBUTED range ×
            // broadcast source instead: parallelism comes from the range
            // partitions, each task stamps its copy indexes onto the
            // broadcast rows. Only the small probe tables (embeddings at
            // the k-growth fourth decade) take this path, so the
            // broadcast stays model-sized.
            shifts.foldLeft(
              spark.range(0, factor, 1, spark.sparkContext.defaultParallelism)
                .select(col("id").as("_ci"))
                .crossJoin(broadcast(src))) { case (df, (c, stride)) =>
              df.withColumn(c, col(c) + col("_ci") * stride)
            }.drop("_ci")
          else
            (0 until factor).map { i =>
              shifts.foldLeft(src) { case (df, (c, stride)) =>
                df.withColumn(c, col(c) + lit(i * stride))
              }
            }.reduce(_ unionByName _)
        scaled.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
        // failure direction is safe (rebuild next run) but must be loud —
        // a silently unwritable marker means paying a full rebuild forever
        if (!marker.createNewFile())
          System.err.println(
            s"[scaleprobe] WARNING: could not write completion marker $marker — " +
              s"$table will rebuild on every run")
      }
    }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession.getOrCreate("graft-scaleprobe")
    buildScaled(spark, srcDir, outDir, factor)
    // fixtures for both scales built outside the timers, as Bench does
    SparkEntry.warm(spark, srcDir)
    SparkEntry.warm(spark, outDir)

    // a failing probe records NaN and the sweep CONTINUES — one broken
    // query must not abort the measurement of everything after it, and a
    // NaN line is loud in the table (same failure contract as Bench)
    def timeWarm(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      try { once(); math.min(once(), once()) } // 1 codegen rep + min of 2 warm
      catch {
        case e: Throwable =>
          System.err.println(s"[scaleprobe] $name failed in $dir: ${e.getMessage}")
          Double.NaN
      } finally {
        // Bench's in-pass hygiene lesson, learned here the hard way too:
        // without it a preceding query's cached relations / broadcast
        // debris inflate the NEXT query at the big scale — d_ingest_gate
        // measured 3.9x in a 5-query sweep vs 1.5x isolated (r12); the
        // min-of-2-warm can't discard an artifact that persists across
        // both reps. Runs OUTSIDE the timers.
        spark.catalog.clearCache()
        System.gc()
      }
    }

    val selected =
      if (args.length > 3) {
        val want = args.drop(3).toSet
        val unknown = want -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown probe queries: ${unknown.mkString(", ")}")
        want.toSeq.sorted
      } else Probes
    println(f"${"query"}%-24s ${"sf0.1(s)"}%10s ${"sf1(s)"}%10s ${"ratio"}%8s")
    val rows = selected.map { name =>
      val small = timeWarm(name, srcDir)
      val big = timeWarm(name, outDir)
      val ratio = big / small
      println(f"$name%-24s $small%10.2f $big%10.2f $ratio%8.1f")
      (name, small, big, ratio)
    }
    val ok = rows.filterNot(r => r._2.isNaN || r._3.isNaN)
    val failed = rows.filterNot(r => ok.contains(r)).map(_._1)
    val flagged = ok.filter(_._4 > 12.0)
    println(f"TOTAL ${ok.map(_._2).sum}%10.2f ${ok.map(_._3).sum}%10.2f")
    if (failed.nonEmpty) println(s"FAILED (excluded from totals): ${failed.mkString(", ")}")
    if (flagged.nonEmpty)
      println(s"SUPERLINEAR (>12x): ${flagged.map(r => f"${r._1}:${r._4}%.1fx").mkString(", ")}")
    spark.stop()
  }
}
