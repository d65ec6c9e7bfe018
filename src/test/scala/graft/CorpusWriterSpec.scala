package graft

import org.apache.spark.sql.functions._
import graft.connectors.CorpusWriter
import graft.joins.StaticJoiner

class CorpusWriterSpec extends SparkSpec {
  import spark.implicits._

  test("time-partitioned write: partition pruning reaches the scan") {
    val out = tmpDir("corpus").toString + "/events"
    CorpusWriter.writeTimePartitioned(
      graft.core.Tables.events(spark, sf), out, tsCol = "ts", keyCol = "user_id", filesPerDay = 4)
    val back = spark.read.parquet(out)
    assert(back.count() === graft.core.Tables.events(spark, sf).count())
    // partition pruning: a date filter must prune partitions at planning time
    val pruned = back.filter($"_date" === "2024-01-15")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_date"), plan.take(1200))
    assert(pruned.count() > 0)
  }

  test("stream-static enrichment: StaticJoiner works inside a streaming query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val ref = Seq(("u1", "gold"), ("u2", "silver")).toDF("r_key", "tier")
    val mem = MemoryStream[(String, Int)]
    val enriched = StaticJoiner("user", "r_key")
      .enrich(mem.toDF().toDF("user", "amount"), ref, Seq("tier"))
    val q = enriched.writeStream.format("memory").queryName("ss_enrich").outputMode("append").start()
    try {
      mem.addData(("u1", 10), ("u3", 30))
      q.processAllAvailable()
      val got = spark.table("ss_enrich").select("user", "tier")
        .as[(String, Option[String])].collect().toMap
      assert(got === Map("u1" -> Some("gold"), "u3" -> None)) // miss passes through
    } finally q.stop()
  }

  test("compact: many small files become few target-sized files, content preserved") {
    val base = tmpDir("compact").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    // simulate a micro-batch-fragmented table: 40 files for a small table
    graft.core.Tables.events(spark, sf).repartition(40).write.parquet(src)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
    val before = parquetFiles(src)
    assert(before.length === 40)
    val total = before.map(_.length).sum
    // target ~quarter of the table per file → expect ~4 files
    CorpusWriter.compact(spark, src, dst, targetFileBytes = total / 4)
    val after = parquetFiles(dst)
    assert(after.length < 10, s"still fragmented: ${after.length} files")
    // content identical
    val a = spark.read.parquet(src).select($"event_id").as[Long].collect().sorted
    val b = spark.read.parquet(dst).select($"event_id").as[Long].collect().sorted
    assert(a === b)
  }

  test("compact with partitionCols: partitioned layout survives the rewrite") {
    val base = tmpDir("compact_part").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    CorpusWriter.writeTimePartitioned(
      graft.core.Tables.events(spark, sf), src, tsCol = "ts", keyCol = "user_id", filesPerDay = 8)
    CorpusWriter.compact(spark, src, dst, targetFileBytes = Long.MaxValue,
      keyCols = Seq("user_id"), partitionCols = Seq("_date"))
    // partition dirs preserved → a date filter still prunes at planning time
    assert(new java.io.File(dst).listFiles.exists(_.getName.startsWith("_date=")),
      "compacted table lost its partition layout")
    val pruned = spark.read.parquet(dst).filter($"_date" === "2024-01-15")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(_date"))
    assert(spark.read.parquet(dst).count() === graft.core.Tables.events(spark, sf).count())
  }

  test("compact with a single-value key column still honors targetFileBytes") {
    // low-cardinality order columns alone cannot form nFiles distinct
    // ranges — the row-id tiebreaker in the range distribution must split
    // WITHIN the constant key so file sizing holds
    val base = tmpDir("compact_const").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    graft.core.Tables.events(spark, sf)
      .withColumn("const_key", lit(1L))
      .repartition(40).write.parquet(src)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
    val total = parquetFiles(src).map(_.length).sum
    CorpusWriter.compact(spark, src, dst, targetFileBytes = total / 4, keyCols = Seq("const_key"))
    val after = parquetFiles(dst)
    assert(after.length >= 3 && after.length < 10,
      s"constant key collapsed the range distribution: ${after.length} files")
    assert(spark.read.parquet(dst).count() === graft.core.Tables.events(spark, sf).count())
  }

  test("compact: MapType columns are excluded from the hash tiebreaker, not fatal") {
    // xxhash64 rejects MapType — the tiebreaker must restrict itself to the
    // hashable columns instead of failing the whole compaction (ADVICE r10;
    // the r10 switch from monotonically_increasing_id was schema-independent)
    val base = tmpDir("compact_map").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    graft.core.Tables.events(spark, sf)
      .withColumn("attrs", map(lit("uid"), $"user_id".cast("string")))
      .repartition(40).write.parquet(src)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
    val total = parquetFiles(src).map(_.length).sum
    CorpusWriter.compact(spark, src, dst, targetFileBytes = total / 4, keyCols = Seq("user_id"))
    assert(parquetFiles(dst).length < 12, s"still fragmented: ${parquetFiles(dst).length} files")
    val a = spark.read.parquet(src).select($"event_id").as[Long].collect().sorted
    val b = spark.read.parquet(dst).select($"event_id").as[Long].collect().sorted
    assert(a === b)
    // and the map content itself round-trips
    val m = spark.read.parquet(dst).select($"attrs"("uid").cast("long") === $"user_id")
      .as[Boolean].collect()
    assert(m.forall(identity))
  }

  test("compact with keyCols: re-sorted layout restores row-group skipping stats") {
    val base = tmpDir("compact_sorted").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    graft.core.Tables.events(spark, sf).repartition(20).write.parquet(src)
    CorpusWriter.compact(spark, src, dst, targetFileBytes = Long.MaxValue, keyCols = Seq("user_id"))
    // single file, range-sorted: its min/max footer covers the full range but
    // rows are in user_id order — verify the sort actually happened
    val rows = spark.read.parquet(dst).select($"user_id").as[Long].collect()
    assert(rows.sameElements(rows.sorted), "keyCols compaction did not sort")
    assert(spark.read.parquet(dst).count() === graft.core.Tables.events(spark, sf).count())
  }
}
