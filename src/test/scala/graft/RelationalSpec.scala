package graft

import graft.queries.Relational

class RelationalSpec extends SparkSpec {

  test("q1 pricing summary: 6 flag/status groups, totals positive") {
    val rows = Relational.q1PricingSummary(spark, sf).collect()
    assert(rows.length === 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total > 1000)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Double]("avg_price") > 0)
    }
  }

  test("q3 top revenue: 10 rows, strictly ordered by revenue desc") {
    val rows = Relational.q3TopRevenue(spark, sf).collect()
    assert(rows.length === 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("q5 local supplier volume: nation revenue non-negative") {
    val rows = Relational.q5LocalSupplierVolume(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("revenue") >= 0))
  }

  test("events by type: 5 types, counts sum to table size") {
    val rows = Relational.eventsByType(spark, sf).collect()
    assert(rows.length === 5)
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n === graft.core.Tables.events(spark, sf).count())
  }

  test("sketch cardinality: HLL within the error band on every group") {
    val rows = Relational.qSketchCardinality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hll_ok"), s"sketch out of band for ${r.getAs[String]("event_type")}")
      assert(r.getAs[Long]("exact_users") > 0)
    }
  }

  test("cube/grouping-sets: marginals consistent, one Expand + one agg exchange") {
    val cube = Relational.qCube(spark, sf)
    val rows = cube.collect()
    // CUBE = detail + nation marginals + year marginals + grand total;
    // grand total row (both flags 1) counts every order exactly once
    val grand = rows.filter(r => r.getAs[Long]("g_nation") == 1 && r.getAs[Long]("g_year") == 1)
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_orders") === graft.core.Tables.orders(spark, sf).count())
    val detailN = rows.filter(r => r.getAs[Long]("g_nation") == 0 && r.getAs[Long]("g_year") == 0)
      .map(_.getAs[Long]("n_orders")).sum
    assert(detailN === grand.head.getAs[Long]("n_orders"))
    // grouping sets expand BEFORE the shuffle: one Expand node, and only the
    // aggregate's single hash exchange beyond the two broadcasts
    // AQE's toString repeats the plan ("== Initial Plan ==") — count only
    // the final plan section
    val plan = cube.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("Expand"), plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan.take(2000))
    // grouping-sets face drops only the grand total vs CUBE
    val gs = Relational.qGroupingSets(spark, sf).collect()
    assert(gs.length === rows.length - 1)
    assert(!gs.exists(r => r.getAs[Long]("g_nation") == 1 && r.getAs[Long]("g_year") == 1))
  }

  test("q8/q13/q15/q17/q19: results sane, dims broadcast, facts never nested-loop") {
    import org.apache.spark.sql.functions._
    // q8: shares are valid ppm fractions and the nation sum never exceeds total
    val q8 = Relational.q8MarketShare(spark, sf).collect()
    assert(q8.nonEmpty)
    q8.foreach { r =>
      val ppm = r.getAs[Long]("share_ppm")
      assert(ppm >= 0 && ppm <= 1000000)
      assert(r.getAs[Long]("nation_cents") <= r.getAs[Long]("total_cents"))
    }
    // q13: distribution covers every customer exactly once (including 0-order)
    val q13 = Relational.q13OrderDistribution(spark, sf).collect()
    assert(q13.map(_.getAs[Long]("custdist")).sum ===
      graft.core.Tables.customer(spark, sf).count())
    // q15: the max-revenue join keeps ties, never fabricates rows
    val q15 = Relational.q15TopSupplier(spark, sf).collect()
    assert(q15.nonEmpty)
    assert(q15.map(_.getAs[Long]("total_cents")).distinct.length === 1)
    // q17: integer cross-multiplied 0.2·avg filter yields a subset sum
    val q17 = Relational.q17SmallQuantity(spark, sf).collect()
    assert(q17.length === 1)
    // q19: the disjunction filters, never explodes
    val q19 = Relational.q19DisjunctiveRevenue(spark, sf).collect()
    assert(q19.length === 1 && q19.head.getAs[Long]("revenue_cents") > 0)
    // plan shapes: dims ride broadcast joins; no nested loop / cartesian
    Seq(
      "q8" -> Relational.q8MarketShare(spark, sf),
      "q15" -> Relational.q15TopSupplier(spark, sf),
      "q17" -> Relational.q17SmallQuantity(spark, sf),
      "q19" -> Relational.q19DisjunctiveRevenue(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: ${plan.take(1200)}")
      assert(!plan.toLowerCase.contains("cartesian") && !plan.toLowerCase.contains("nestedloop"),
        s"$name: ${plan.take(1200)}")
    }
  }

  test("q2/q9/q11/q12/q16/q20/q21: invariants hold, dims broadcast, q21 shares one order-key exchange") {
    // sf0.01: the sf0.001 slice is too thin for some filters (NATION_7 has
    // zero suppliers there, so q11's value set is empty)
    val dir = "/root/testdata/sf0.01"
    // q2: within a part, only min-cost rows survive (ties kept — one
    // distinct cost per part), and the acctbal sort is monotone
    val q2 = Relational.q2MinCostSupplier(spark, dir).collect()
    assert(q2.nonEmpty)
    q2.groupBy(_.getAs[Long]("p_partkey")).foreach { case (pk, rs) =>
      assert(rs.map(_.getAs[Long]("cost_cents")).distinct.length === 1, s"part $pk mixed costs")
    }
    val bals = q2.map(_.getAs[Double]("s_acctbal"))
    assert(bals.zip(bals.tail).forall { case (a, b) => a >= b })
    // q9: (nation, year) grain is unique and every profit is positive
    val q9 = Relational.q9ProductProfit(spark, dir).collect()
    assert(q9.nonEmpty)
    assert(q9.map(r => (r.getAs[String]("nation"), r.getAs[Int]("o_year"))).distinct.length === q9.length)
    q9.foreach(r => assert(r.getAs[Long]("profit_e4") > 0))
    // q11: survivors exist and the global threshold kept a strict subset
    val q11 = Relational.q11ImportantParts(spark, dir).collect()
    assert(q11.nonEmpty)
    q11.foreach(r => assert(r.getAs[Long]("value_cents") > 0))
    // q12: the pivot partitions the late lines — high + low equals the
    // join-side count recomputed independently
    val q12 = Relational.q12LatePriority(spark, dir).collect()
    assert(q12.nonEmpty)
    assert(q12.map(r => r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")).sum > 0)
    // q16: supplier variety can never exceed the supplier population
    val nSupp = graft.core.Tables.supplier(spark, dir).count()
    val q16 = Relational.q16PartSupplierVariety(spark, dir).collect()
    assert(q16.nonEmpty)
    q16.foreach(r => assert(r.getAs[Long]("supplier_cnt") >= 1 && r.getAs[Long]("supplier_cnt") <= nSupp))
    // q20: output is a subset of NATION_3's suppliers
    import org.apache.spark.sql.functions.col
    val nation3 = graft.core.Tables.supplier(spark, dir)
      .join(graft.core.Tables.nation(spark, dir).filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    val q20 = Relational.q20ExcessShippers(spark, dir).collect()
    q20.foreach(r => assert(nation3.contains(r.getAs[Long]("s_suppkey"))))
    // q21: numwait descending; a supplier can wait at most once per F order
    val q21 = Relational.q21WaitingSupplier(spark, dir).collect()
    assert(q21.nonEmpty)
    val waits = q21.map(_.getAs[Long]("numwait"))
    assert(waits.zip(waits.tail).forall { case (a, b) => a >= b })
    val fOrders = graft.core.Tables.orders(spark, dir).filter(col("o_orderstatus") === "F").count()
    assert(waits.sum <= fOrders)
    // plan shapes: dims ride broadcast joins, facts never nested-loop
    Seq(
      "q2" -> Relational.q2MinCostSupplier(spark, dir),
      "q9" -> Relational.q9ProductProfit(spark, dir),
      "q16" -> Relational.q16PartSupplierVariety(spark, dir),
      "q20" -> Relational.q20ExcessShippers(spark, dir)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: ${plan.take(1200)}")
      assert(!plan.toLowerCase.contains("cartesian") && !plan.toLowerCase.contains("nestedloop"),
        s"$name: ${plan.take(1200)}")
    }
    // q21 partial-aggregates BEFORE its first exchange (map-side combine —
    // the fact never crosses the wire at line grain) and never nested-loops
    val q21plan = Relational.q21WaitingSupplier(spark, dir)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(q21plan.contains("partial_max") || q21plan.contains("partial("), q21plan.take(2000))
    assert(!q21plan.toLowerCase.contains("cartesian") && !q21plan.toLowerCase.contains("nestedloop"),
      q21plan.take(2000))
  }

  test("q_outliers: zero-variance group drops cleanly; squared-cents overflow fails LOUD") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def writeEvents(dir: String, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("event_id", "event_type", "value")
        .withColumn("ts", timestamp_micros($"event_id" * 1000000L))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // a constant-value group has sd = 0 — it must DROP (exact n·s2 = s1²
    // guard), not surface NaN/inf rows, while the varying group still
    // reports its genuine outlier (values 9×0 + 100: mean 10, sd 30, z = 3)
    val dir1 = tmpDir("qoutliers_var").toString
    writeEvents(dir1,
      (1L to 5L).map(i => (i, "const", 7.0)) ++
        (10L until 19L).map(i => (i, "var", 0.0)) :+ ((19L, "var", 100.0)))
    val got = Relational.qOutliers(spark, dir1).collect()
    assert(!got.exists(_.getAs[String]("event_type") == "const"), "zero-variance rows leaked")
    assert(got.map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("z_e6"))).toSeq ===
      Seq((19L, 3000000L)))
    // sum(cents²) beyond DECIMAL(38): two rows of value 9e16 (cents 9e18,
    // cents² 8.1e37 each) overflow the accumulator — the job must FAIL, not
    // return a silently-wrapped variance
    val dir2 = tmpDir("qoutliers_ovf").toString
    writeEvents(dir2, Seq((1L, "huge", 9.0e16), (2L, "huge", 9.0e16), (3L, "huge", 1.0)))
    val loud = intercept[Exception] {
      Relational.qOutliers(spark, dir2).collect()
    }
    val msg = String.valueOf(loud.getMessage) + String.valueOf(loud.getCause)
    assert(
      msg.contains("overflow") || msg.contains("Overflow") ||
        msg.contains("DECIMAL(38") || msg.contains("cannot be represented"),
      s"expected a loud decimal overflow, got: $msg")
  }

  test("q1 plan: filter pushed to parquet scan, aggregate is partial+final") {
    val plan = Relational.q1PricingSummary(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(2000))
  }

  test("q4/q22 plans: EXISTS becomes a semi join, NOT EXISTS an anti join — never a cartesian") {
    val p4 = Relational.q4PriorityExists(spark, sf).queryExecution.executedPlan.toString
    assert(p4.contains("LeftSemi"), p4.take(2000))
    assert(!p4.contains("Cartesian"), p4.take(2000))
    val p22 = Relational.q22NoOrders(spark, sf).queryExecution.executedPlan.toString
    assert(p22.contains("LeftAnti"), p22.take(2000))
    assert(!p22.contains("Cartesian"), p22.take(2000))
    // the anti join probes only high-value orders: the price filter sits on
    // the orders side below the join
    assert(p22.contains("400000"), p22.take(2000))
    // results are real, not vacuous: some customers lack a 400k+ order
    assert(
      Relational.q22NoOrders(spark, sf)
        .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n")))
        .head().getLong(0) > 0)
  }
}
