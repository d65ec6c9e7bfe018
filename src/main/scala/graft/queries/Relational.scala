package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Headline relational queries over the TPC-H-ish corpus.
  *
  * Determinism strategy (must hash-match a DuckDB oracle): money columns are
  * converted to integer cents (`round(x*100)::long`) before aggregation so sums
  * are order-independent exact integers; a single final cast/division to double
  * is IEEE-deterministic in both engines. Never sum raw doubles.
  *
  * Scale notes: every query is a single shuffle (groupBy on the grouped keys)
  * over a filtered+pruned parquet scan; dimension joins are broadcast.
  */
object Relational {

  /** Integer cents: exact, order-independent under aggregation. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Percent units (discount/tax 0.00-0.99 -> 0-99). */
  private def pct(c: Column): Column = round(c * 100).cast("long")

  private def asDouble(c: Column): Column = c.cast("double")

  /** TPC-H Q1-style pricing summary. One partial-agg + final-agg shuffle. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        (asDouble(sum(cents($"l_quantity"))) / 100.0).as("sum_qty"),
        (asDouble(sum(cents($"l_extendedprice"))) / 100.0).as("sum_base_price"),
        (asDouble(sum(cents($"l_extendedprice") * (lit(100) - pct($"l_discount")))) / 10000.0)
          .as("sum_disc_price"),
        (asDouble(
          sum(cents($"l_extendedprice") * (lit(100) - pct($"l_discount")) * (lit(100) + pct($"l_tax")))
        ) / 1000000.0).as("sum_charge"),
        (asDouble(sum(cents($"l_quantity"))) / count(lit(1)) / 100.0).as("avg_qty"),
        (asDouble(sum(cents($"l_extendedprice"))) / count(lit(1)) / 100.0).as("avg_price"),
        count(lit(1)).as("count_order")
      )
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))*(100+CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style: top-10 open orders by revenue for one market segment.
    * customer is broadcast; ties broken by orderkey for determinism.
    */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables
      .customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val ord = Tables
      .orders(spark, dir)
      .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val li = Tables
      .lineitem(spark, dir)
      .filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(sum(cents($"l_extendedprice") * (lit(100) - pct($"l_discount"))).as("rev_e4"))
      .orderBy($"rev_e4".desc, $"o_orderkey".asc)
      .limit(10)
      .select(
        $"o_orderkey",
        (asDouble($"rev_e4") / 10000.0).as("revenue"),
        unix_micros($"o_orderdate".cast("timestamp")).as("o_orderdate_us")
      )
  }

  val q3Sql: String =
    """SELECT o_orderkey,
      |  CAST(rev_e4 AS DOUBLE)/10000.0 AS revenue,
      |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS o_orderdate_us
      |FROM (
      |  SELECT o_orderkey, o_orderdate,
      |    SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS rev_e4
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'BUILDING'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |    AND l_shipdate > TIMESTAMP '1998-01-01'
      |  GROUP BY o_orderkey, o_orderdate
      |  ORDER BY rev_e4 DESC, o_orderkey ASC
      |  LIMIT 10
      |)""".stripMargin

  /** TPC-H Q5-style: revenue by nation where customer and supplier share the
    * nation. All dimension tables broadcast; single shuffle on the fact agg.
    */
  def q5LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dims = Tables
      .customer(spark, dir)
      .select($"c_custkey", $"c_nationkey")
    val sup = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
    val reg = Tables.region(spark, dir).select($"r_regionkey", $"r_name")
    val ord = Tables
      .orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
      .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    Tables
      .lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(dims), $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(
        (asDouble(sum(cents($"l_extendedprice") * (lit(100) - pct($"l_discount")))) / 10000.0)
          .as("revenue"),
        count(lit(1)).as("n_items")
      )
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  /** Event-stream rollup by type (the batch view of the observability agg). */
  def eventsByType(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .events(spark, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        (asDouble(sum(cents($"value"))) / 100.0).as("sum_value"),
        countDistinct($"user_id").as("n_users")
      )
  }

  val eventsByTypeSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type""".stripMargin

  /** TPC-H Q6-style forecasting filter-agg: the pure pushdown/codegen probe. */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .filter(
        $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .agg(
        (asDouble(sum(cents($"l_extendedprice") * pct($"l_discount"))) / 10000.0).as("revenue"),
        count(lit(1)).as("n"))
  }

  val q6Sql: String =
    """SELECT
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Top-3 line items per order by price — ranking window coverage. */
  /** Top-3 line items per order over the FULL lineitem table — one
    * exchange on the group key, rank never leaves its task. Grown from a
    * 2% orderkey slice in r17 (VERDICT r16 #3): the sliced face's 0.25 s
    * floor sat under bench_compare's 0.3 s noise cutoff, so it printed the
    * round's highest ratios while being structurally un-gateable; at full
    * table the floor clears the cutoff and the window path participates
    * in the regression gate.
    */
  def qTopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_orderkey")
      .orderBy($"price_c".desc, $"l_linenumber".asc)
    Tables
      .lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", cents($"l_extendedprice").as("price_c"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
  }

  val qTopPerGroupSql: String =
    """SELECT l_orderkey, l_linenumber, price_c, rnk FROM (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |      ORDER BY CAST(round(l_extendedprice*100) AS BIGINT) DESC, l_linenumber ASC) AS rnk
      |  FROM lineitem)
      |WHERE rnk <= 3""".stripMargin

  /** Tumbling event-time window rollup over the event stream (the batch face
    * of the streaming windowed aggregation).
    */
  def qTumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .events(spark, dir)
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"), (asDouble(sum(cents($"value"))) / 100.0).as("sum_value"))
      .select(
        unix_micros($"window.start").as("w_start_us"),
        $"event_type",
        $"n",
        $"sum_value")
  }

  val qTumblingWindowSql: String =
    """SELECT
      |  epoch_us(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP))) AS w_start_us,
      |  event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q7-style bi-nation shipping volume: supplier nation ↔ customer
    * nation pairs, revenue by year. Dimension chain broadcast; one shuffle
    * for the final (nation, nation, year) aggregate.
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.nation(spark, dir).select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(spark, dir).select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
    val sup = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    Tables
      .lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount", $"l_shipdate")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"s_nk")
      .join(broadcast(n2), $"c_nationkey" === $"c_nk")
      .filter(
        ($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
          ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate".cast("timestamp")).as("l_year"))
      .agg(
        (asDouble(sum(cents($"l_extendedprice") * (lit(100) - pct($"l_discount")))) / 10000.0)
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  year(CAST(l_shipdate AS TIMESTAMP)) AS l_year,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3""".stripMargin

  /** HyperLogLog sketch cardinalities — the 100 TB path for distinct counts
    * (exact countDistinct shuffles every value; HLL ships fixed-size
    * sketches).
    *
    * DuckDB can't replay Spark's HLL bit-for-bit, so the oracle is an
    * error-band contract instead of a value match: Spark emits
    * `hll_ok = |approx − exact| ≤ ε·exact` (ε = 3×rsd) next to the exact
    * count, and the oracle asserts the same rows with `hll_ok = TRUE` — an
    * out-of-band sketch flips the flag and fails the hash match, so the
    * entry is a real pass/fail signal, not a rows-only check. (The exact
    * count exists only to feed the band; the production 100 TB path is the
    * sketch alone.)
    */
  def qSketchCardinality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .events(spark, dir)
      .groupBy($"event_type")
      .agg(
        approx_count_distinct($"user_id", rsd = 0.02).as("approx_users"),
        countDistinct($"user_id").as("exact_users")
      )
      .select(
        $"event_type",
        $"exact_users",
        (abs($"approx_users" - $"exact_users") <= lit(0.06) * $"exact_users").as("hll_ok")
      )
  }

  val qSketchCardinalitySql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
      |FROM events GROUP BY 1""".stripMargin

  /** Count-min sketch over user activity — the third sketch face
    * (frequencies, next to HLL cardinalities and GK quantiles): depth=4
    * md5-seeded hash rows × width=256 counters, estimate = min over rows.
    * Because the hash family is the deterministic cross-engine md5-60, the
    * ESTIMATES themselves hash-match exactly (not just an error band), and
    * the one-sided guarantee est ≥ exact ships as an always-TRUE flag the
    * oracle asserts. Plan: the sketch build is one explode(depth) +
    * partial+final count — the 1024-counter table is model-sized and
    * broadcast back onto the (tiny) top-k probe frame. At 100 TB the
    * sketch replaces the full user histogram (distinct-user-sized) with a
    * constant 1024 counters; the exact count here exists only to feed the
    * invariant flag and the top-k selection.
    */
  def qSketchCountMin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val width = 256L
    val depth = 4
    def buckets(u: org.apache.spark.sql.Column) =
      array((0 until depth).map { j =>
        struct(lit(j).as("j"), pmod(graft.data.Hashing.hash60Seeded(j, u), lit(width)).as("b"))
      }: _*)
    val ev = Tables.events(spark, dir).select($"user_id", $"user_id".cast("string").as("u"))
    val cms = ev
      .select(explode(buckets($"u")).as("jb"))
      .groupBy($"jb.j".as("j"), $"jb.b".as("b"))
      .agg(count(lit(1)).as("cnt"))
    val top = ev
      .groupBy($"user_id", $"u")
      .agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"user_id".asc)
      .limit(20)
    top
      .select($"user_id", $"exact_n", explode(buckets($"u")).as("jb"))
      .select($"user_id", $"exact_n", $"jb.j".as("j"), $"jb.b".as("b"))
      .join(broadcast(cms), Seq("j", "b"))
      .groupBy($"user_id", $"exact_n")
      .agg(min($"cnt").as("est_n"))
      .select($"user_id", $"exact_n", $"est_n", ($"est_n" >= $"exact_n").as("cms_ok"))
  }

  val qSketchCountMinSql: String = {
    val b = (e: String) =>
      s"CAST(('0x'||substr(md5(CAST(j AS VARCHAR) || '#' || $e),1,15)) AS BIGINT) % 256"
    s"""WITH ev AS (SELECT user_id, CAST(user_id AS VARCHAR) AS u FROM events),
       |cms AS (
       |  SELECT j, ${b("u")} AS bk, COUNT(*) AS cnt
       |  FROM ev CROSS JOIN (SELECT unnest(range(4)) AS j)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT user_id, u, COUNT(*) AS exact_n
       |  FROM ev GROUP BY 1, 2
       |  ORDER BY exact_n DESC, user_id ASC LIMIT 20)
       |SELECT user_id, exact_n, MIN(cnt) AS est_n, MIN(cnt) >= exact_n AS cms_ok
       |FROM (
       |  SELECT t.user_id, t.exact_n, c.cnt
       |  FROM (SELECT user_id, exact_n, j, ${b("u")} AS bk
       |        FROM top CROSS JOIN (SELECT unnest(range(4)) AS j)) t
       |  JOIN cms c ON t.j = c.j AND t.bk = c.bk)
       |GROUP BY 1, 2""".stripMargin
  }

  /** Quantile sketch (Greenwald-Khanna `approx_percentile`) — the 100 TB
    * path for percentiles (exact quantiles sort every value; GK ships a
    * fixed-size summary with rank error ≤ N/accuracy).
    *
    * Same error-band-contract shape as the HLL entry: for each group and
    * p ∈ {0.5, 0.95, 0.99}, the sketch's returned value must be an actual
    * element whose exact-rank interval [count(<v)+1, count(≤v)] intersects
    * [(p−ε)·N − 1, (p+ε)·N + 1] (ε = 1/accuracy). Spark computes the exact
    * ranks by joining the three quantile values back per group; the oracle
    * asserts the same rows with every flag TRUE — an out-of-bound sketch
    * flips a flag and fails the hash match.
    */
  def qSketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val acc = 1000
    val eps = 1.0 / acc
    val cents = round($"value" * 100).cast("long")
    val e = Tables.events(spark, dir).select($"event_type", cents.as("cents"))
    val sketched = e
      .groupBy($"event_type")
      .agg(
        percentile_approx($"cents", array(lit(0.5), lit(0.95), lit(0.99)), lit(acc)).as("qs"),
        count(lit(1)).as("n"))
    val perP = sketched.select(
      $"event_type",
      $"n",
      posexplode($"qs").as(Seq("pi", "qv")))
    val ranks = perP
      .join(e, Seq("event_type"))
      .groupBy($"event_type", $"n", $"pi", $"qv")
      .agg(
        sum(when($"cents" < $"qv", 1L).otherwise(0L)).as("rank_lt"),
        sum(when($"cents" <= $"qv", 1L).otherwise(0L)).as("rank_le"))
      .withColumn("p", element_at(array(lit(0.5), lit(0.95), lit(0.99)), $"pi" + 1))
      .withColumn(
        "ok",
        ($"rank_lt" + 1 <= ($"p" + eps) * $"n" + 1) && ($"rank_le" >= ($"p" - eps) * $"n" - 1))
    ranks
      .groupBy($"event_type", $"n")
      .agg(
        max(when($"pi" === 0, $"ok")).as("ok_p50"),
        max(when($"pi" === 1, $"ok")).as("ok_p95"),
        max(when($"pi" === 2, $"ok")).as("ok_p99"))
      .select($"event_type", $"n", $"ok_p50", $"ok_p95", $"ok_p99")
  }

  val qSketchQuantilesSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  TRUE AS ok_p50, TRUE AS ok_p95, TRUE AS ok_p99
      |FROM events GROUP BY 1""".stripMargin

  /** TPC-H Q4-style order-priority check: orders with at least one line
    * shipped after the order date (correlated EXISTS → LEFT SEMI join;
    * Catalyst plans the semi join on l_orderkey with the date comparison as
    * the join condition — the lineitem side never widens the output).
    */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_shipdate")
    Tables
      .orders(spark, dir)
      .join(l, $"l_orderkey" === $"o_orderkey" && $"l_shipdate" > $"o_orderdate", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q22-style anti join: customers with no high-value order
    * (> 400k), counted per nation (NOT EXISTS → LEFT ANTI join on the
    * customer key; the orders side is filtered BEFORE the join, so the
    * anti-join probe side carries only high-value keys).
    */
  def q22NoOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter($"o_totalprice" > 400000).select($"o_custkey"),
        $"c_custkey" === $"o_custkey",
        "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"))
  }

  val q22Sql: String =
    """SELECT c_nationkey, COUNT(*) AS n
      |FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |GROUP BY 1""".stripMargin

  /** ROLLUP revenue by (nation, order year): subtotals per nation and the
    * grand total in one pass — Spark expands grouping sets inside a single
    * partial+final aggregate, no extra shuffle per level. Explicit
    * per-column GROUPING flags (not a combined grouping_id) so a genuine
    * NULL key can never be confused with a rolled-up level.
    */
  /** Q10-style returned-item losses: revenue of 'R'-flagged lineitems per
    * customer, top 20. Plan shape worth pinning at 100 TB: AGGREGATE FIRST
    * (lineitem⋈orders shrinks to one row per customer), THEN enrich the
    * small aggregate with the customer/nation dims via broadcast — the
    * reverse order would drag dim columns through the big join and the
    * shuffle. Top-20 is TakeOrderedAndProject with the unique custkey
    * tiebreak.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey",
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev_cents"))
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"rev_cents").as("rev_cents"))
    rev
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_name", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir).select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"rev_cents")
      .orderBy($"rev_cents".desc, $"c_custkey".asc)
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, n_name, rev_cents
      |FROM (
      |  SELECT o_custkey, CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |  GROUP BY o_custkey)
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY rev_cents DESC, c_custkey ASC
      |LIMIT 20""".stripMargin

  /** Per-group outlier detection over the event stream: events whose value
    * deviates more than 2σ from their type's mean. The moments come from
    * EXACT integer sums (cents, cents² — both fit long comfortably at this
    * value range), so mean/σ/z are single fixed float expression trees over
    * exact inputs — bit-identical across engines, hash-matchable. Plan:
    * one partial+final aggregate (5 rows) broadcast-joined back onto the
    * scan — the classic two-pass z-score at 100 TB, no window over the
    * whole table.
    */
  def qOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"event_type", cents($"value").as("c"))
    // sum(c²) over BIGINT cents wraps SILENTLY around ~1e10 high-value rows
    // (the one query in the cents family that squares before summing) —
    // accumulate in DECIMAL(38,0) instead, the analogue of the oracle's
    // HUGEINT sum: exact to 1e38, and overflow is LOUD (ANSI arithmetic
    // error; the assert below keeps it loud even with ANSI off, where a
    // decimal overflow degrades to NULL).
    val cDec = $"c".cast("decimal(19,0)")
    val stats = ev.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"c").as("s1"),
      sum(cDec * cDec).as("s2"),
      min($"c").as("_cmin"),
      max($"c").as("_cmax"))
      // The overflow assert sits FIRST in the filter conjunction — with
      // ANSI off a decimal overflow degrades to NULL, and a bare
      // comparison on NULL would drop the group silently instead of
      // failing the job.
      // Zero-variance guard: sd == 0 ⟺ every c in the group is equal
      // ⟺ min(c) == max(c). Exact, CANNOT overflow (the earlier
      // n·s2 > s1² cross-multiplication form could itself exceed
      // DECIMAL(38)/HUGEINT around n ~ 1e10 of c ~ 3e9 and NULL-drop or
      // error divergently), and degenerate groups drop IDENTICALLY on
      // both engines — unguarded, Spark yields z = NaN (rows silently
      // filtered) while DuckDB divides by zero to ±inf and errors on the
      // BIGINT cast.
      .filter(
        coalesce(
          assert_true($"s2".isNotNull, lit("qOutliers: sum(cents²) overflowed DECIMAL(38)"))
            .cast("boolean"),
          lit(true)) &&
        $"_cmin" < $"_cmax")
      .drop("_cmin", "_cmax")
    val mu = $"s1".cast("double") / $"n"
    val sd = sqrt($"s2".cast("double") / $"n" - mu * mu)
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", ($"c" - mu) / sd)
      .filter(abs($"z") > 2.0)
      .select($"event_id", $"event_type", $"c".as("cents"),
        floor($"z" * 1e6).cast("long").as("z_e6"))
  }

  val qOutliersSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(c) AS BIGINT) AS s1, SUM(CAST(c AS HUGEINT) * c) AS s2
      |  FROM ev GROUP BY event_type
      |  HAVING MIN(c) < MAX(c))
      |SELECT event_id, ev.event_type, c AS cents,
      |  CAST(floor((c - CAST(s1 AS DOUBLE) / n)
      |    / sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |    * 1e6) AS BIGINT) AS z_e6
      |FROM ev JOIN stats ON ev.event_type = stats.event_type
      |WHERE abs((c - CAST(s1 AS DOUBLE) / n)
      |  / sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) > 2.0""".stripMargin

  /** Q18-style large-volume customers: orders whose total lineitem quantity
    * exceeds a threshold, with customer context. Plan shape: the HAVING
    * subquery is an aggregate-then-filter on lineitem that REUSES the
    * orders join only for survivors — at 100 TB the heavy groupBy output
    * shrinks to the rare qualifying orders before any wide row is built.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigOrders = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity".cast("long")).as("total_qty"))
      .filter($"total_qty" > 200)
    bigOrders
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey", $"o_totalprice"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_name")),
        $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"l_orderkey".as("o_orderkey"),
        cents($"o_totalprice").as("price_cents"), $"total_qty")
  }

  val q18Sql: String =
    """SELECT c_custkey, c_name, o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |  CAST(total_qty AS BIGINT) AS total_qty
      |FROM (
      |  SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 200)
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Q14-style promo revenue share: conditional aggregation — the share of
    * revenue from one part-type family in one shipping month. Integer-cents
    * sums with ONE final division keep it hash-matchable.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate".cast("timestamp") >= lit("1995-09-01") &&
        $"l_shipdate".cast("timestamp") < lit("1995-10-01"))
      .select($"l_partkey",
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev_cents"))
    li.join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .agg(
        sum(when($"p_type".startsWith("PROMO"), $"rev_cents").otherwise(lit(0L))).as("promo_cents"),
        sum($"rev_cents").as("total_cents"))
      .select($"promo_cents", $"total_cents",
        // integer parts-per-million, not a float ratio: integral division
        // is exact and engine-independent, so the oracle hash-matches (div,
        // not /: Spark's / returns DOUBLE). DECIMAL(38) widen before the
        // ×1e6 — a BIGINT multiply wraps past ~9.2e12 cents of promo
        // volume while the DuckDB side is HUGEINT-exact.
        expr("CAST(promo_cents AS DECIMAL(38,0)) * 1000000 div total_cents")
          .as("promo_share_ppm"))
  }

  val q14Sql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev_cents ELSE 0 END) AS BIGINT) AS promo_cents,
      |  CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev_cents ELSE 0 END) * 1000000
      |    // SUM(rev_cents) AS BIGINT) AS promo_share_ppm
      |FROM (
      |  SELECT l_partkey,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS rev_cents
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1995-09-01'
      |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1995-10-01')
      |JOIN part ON l_partkey = p_partkey""".stripMargin

  /** Shared input of the grouping-sets family: orders dimensioned by nation
    * and order year, both dims via broadcast.
    */
  private def joinedOrdersByNation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir).select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .withColumn("yr", year($"o_orderdate".cast("timestamp")).cast("long"))
  }

  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    joinedOrdersByNation(spark, dir)
      .rollup($"n_name", $"yr")
      .agg(
        // grouping() is only legal inside the grouping-sets aggregate
        grouping($"n_name").cast("long").as("g_nation"),
        grouping($"yr").cast("long").as("g_year"),
        sum(cents($"o_totalprice")).as("rev_cents"),
        count(lit(1)).as("n_orders"))
  }

  val qRollupSql: String =
    """SELECT n_name, yr,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
      |  CAST(GROUPING(yr) AS BIGINT) AS g_year,
      |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders
      |FROM (
      |  SELECT n_name,
      |    CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |GROUP BY ROLLUP (n_name, yr)""".stripMargin

  /** CUBE over (nation, order year): every marginal — per-nation, per-year,
    * and the grand total — in the same single partial+final aggregate as
    * [[qRollup]] (Spark expands the 4 grouping sets before the shuffle, so
    * the exchange is still one hashpartitioning over the expanded keys).
    * Same integer-cents determinism and per-column GROUPING flags.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    joinedOrdersByNation(spark, dir)
      .cube($"n_name", $"yr")
      .agg(
        grouping($"n_name").cast("long").as("g_nation"),
        grouping($"yr").cast("long").as("g_year"),
        sum(cents($"o_totalprice")).as("rev_cents"),
        count(lit(1)).as("n_orders"))
  }

  val qCubeSql: String =
    """SELECT n_name, yr,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
      |  CAST(GROUPING(yr) AS BIGINT) AS g_year,
      |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders
      |FROM (
      |  SELECT n_name,
      |    CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |GROUP BY CUBE (n_name, yr)""".stripMargin

  /** Explicit GROUPING SETS — the user-chosen-marginals face between ROLLUP
    * and CUBE: (nation, year) detail plus each single-dimension marginal,
    * WITHOUT the grand total. Still one expanded aggregate, one exchange.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    joinedOrdersByNation(spark, dir)
      .groupingSets(
        Seq(Seq($"n_name", $"yr"), Seq($"n_name"), Seq($"yr")),
        $"n_name", $"yr")
      .agg(
        grouping($"n_name").cast("long").as("g_nation"),
        grouping($"yr").cast("long").as("g_year"),
        sum(cents($"o_totalprice")).as("rev_cents"),
        count(lit(1)).as("n_orders"))
  }

  val qGroupingSetsSql: String =
    """SELECT n_name, yr,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
      |  CAST(GROUPING(yr) AS BIGINT) AS g_year,
      |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders
      |FROM (
      |  SELECT n_name,
      |    CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |GROUP BY GROUPING SETS ((n_name, yr), (n_name), (yr))""".stripMargin

  /** Analytic window functions over the order history: per-customer price
    * rank, previous order value, running revenue, and quartile — the
    * rank/lag/running-sum/ntile surface a reference user reaches for first.
    * Both windows share ONE partition key (c_custkey), so the plan is a
    * single exchange + two in-partition sorts; every ordering carries
    * o_orderkey as the unique tiebreak, which is what makes rank/lag/ntile
    * deterministic and hash-matchable.
    */
  def qWindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val byPrice = Window.partitionBy($"o_custkey")
      .orderBy($"price_cents".desc, $"o_orderkey")
    val byDate = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("price_cents", cents($"o_totalprice"))
      .select(
        $"o_orderkey", $"o_custkey",
        rank().over(byPrice).cast("long").as("price_rank"),
        lag($"price_cents", 1).over(byDate).as("prev_cents"),
        sum($"price_cents")
          .over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("run_cents"),
        ntile(4).over(byDate).cast("long").as("quartile"))
  }

  val qWindowFuncsSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(RANK() OVER (PARTITION BY o_custkey
      |    ORDER BY cents DESC, o_orderkey) AS BIGINT) AS price_rank,
      |  LAG(cents, 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS prev_cents,
      |  CAST(SUM(cents) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents,
      |  CAST(NTILE(4) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS quartile
      |FROM (
      |  SELECT o_orderkey, o_custkey, o_orderdate,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)""".stripMargin

  /** EXACT discrete quartiles per group (percentile_disc semantics: the
    * element at rank ceil(p*n) under a unique ordering) — the exact
    * counterpart of the GK-sketch entry, and unlike interpolated
    * percentiles it is integer end-to-end, so it hash-matches. Plan: one
    * exchange on the group key, one in-partition sort shared by the
    * row_number and the count, then an ordinary aggregate — exact
    * distributed medians without ever collecting a group.
    */
  def qQuartilesDisc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"cents", $"event_id")
    Tables.events(spark, dir)
      .select($"event_type", cents($"value").as("cents"), $"event_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg(
        // ceil(k*n/4) in pure integer arithmetic: (k*n + 3) DIV 4
        max(when($"rn" === expr("(n + 3) DIV 4"), $"cents")).as("p25_cents"),
        max(when($"rn" === expr("(n + 1) DIV 2"), $"cents")).as("p50_cents"),
        max(when($"rn" === expr("(3 * n + 3) DIV 4"), $"cents")).as("p75_cents"),
        count(lit(1)).as("n"))
  }

  val qQuartilesDiscSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, event_id
      |  FROM events),
      |r AS (
      |  SELECT event_type, cents,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e)
      |SELECT event_type,
      |  MAX(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS p25_cents,
      |  MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
      |  MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS p75_cents,
      |  COUNT(*) AS n
      |FROM r GROUP BY event_type""".stripMargin

  /** TPC-H Q8-style national market share: of the PROMO-part volume sold to
    * customers in one region, the yearly fraction supplied from one nation.
    * Plan shape: ONE real shuffle (lineitem ⋈ orders on orderkey — the two
    * fact tables); part prunes lineitem FIRST via broadcast, and the
    * customer-region gate and supplier-nation tag are broadcast maps. The
    * share is integer parts-per-million (the q14 pattern — BIGINT div is
    * exact and engine-independent).
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val regionCust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
      .join(broadcast(Tables.nation(spark, dir).select($"n_nationkey", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey")
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name".as("supp_nation"))),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"supp_nation")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter($"p_type" === "PROMO").select($"p_partkey")),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"l_suppkey",
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("vol_cents"))
    li.join(
        Tables.orders(spark, dir).select(
          $"o_orderkey", $"o_custkey",
          year($"o_orderdate".cast("timestamp")).cast("long").as("o_year")),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(regionCust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"o_year")
      .agg(
        sum(when($"supp_nation" === "NATION_2", $"vol_cents").otherwise(lit(0L)))
          .as("nation_cents"),
        sum($"vol_cents").as("total_cents"))
      .select($"o_year", $"nation_cents", $"total_cents",
        // DECIMAL(38) widen before the ×1e6: a BIGINT multiply wraps
        // negative once a year-group's nation volume passes ~9.2e12 cents
        // (~sf70+) while the DuckDB side is HUGEINT-exact — same regime,
        // same answer, at every SF
        expr("CAST(nation_cents AS DECIMAL(38,0)) * 1000000 div total_cents")
          .as("share_ppm"))
  }

  val q8Sql: String =
    """SELECT o_year,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol_cents ELSE 0 END) AS BIGINT) AS nation_cents,
      |  CAST(SUM(vol_cents) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol_cents ELSE 0 END) * 1000000
      |    // SUM(vol_cents) AS BIGINT) AS share_ppm
      |FROM (
      |  SELECT year(CAST(o.o_orderdate AS TIMESTAMP)) AS o_year, sn.n_name AS supp_nation,
      |    CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT) AS vol_cents
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
      |GROUP BY o_year""".stripMargin

  /** TPC-H Q13-style customer order-count distribution: how many customers
    * placed exactly k orders (k = 0 included via the left join). Plan shape:
    * two aggregates — per-customer count (shuffle on custkey), then the
    * distribution over counts (tiny second shuffle). The distribution of a
    * distribution is the classic "aggregate the aggregate" at 100 TB: the
    * second pass input is |customers| rows, never the order fact.
    */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select($"c_custkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q15-style top supplier: the supplier(s) with maximum revenue in
    * a quarter. Plan shape: one shuffle aggregate over the filtered scan to
    * supplier grain, then the max is a one-row broadcast joined back — the
    * "argmax over an aggregate" without a global sort, and ties surface
    * (the spec's correlated = max subquery), not tie-broken away.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_shipdate".cast("timestamp") >= lit("1996-01-01") &&
        $"l_shipdate".cast("timestamp") < lit("1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("total_cents"))
    rev.join(broadcast(rev.agg(max($"total_cents").as("max_cents"))),
        $"total_cents" === $"max_cents")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_cents")
  }

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
      |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_cents
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_cents = (SELECT MAX(total_cents) FROM rev)""".stripMargin

  /** TPC-H Q17-style small-quantity revenue: lineitems of SMALL-type parts
    * whose quantity is below 20% of that part's average quantity. The
    * correlated average is an aggregate-then-broadcast-back (part grain is
    * model-sized next to the fact), and the 0.2·avg comparison is EXACT
    * integer cross-multiplication (5·qty·n < Σqty in cents) — no float
    * ratio to diverge engines. Output follows the spec's sum/7 yearly
    * average, as integer-cents div.
    */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val smallParts = Tables.part(spark, dir)
      .filter($"p_type" === "SMALL").select($"p_partkey")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(smallParts), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", cents($"l_quantity").as("qty_cents"),
        cents($"l_extendedprice").as("price_cents"))
    val stats = li.groupBy($"l_partkey".as("stat_partkey"))
      .agg(count(lit(1)).as("n"), sum($"qty_cents").as("sum_qty_cents"))
    li.join(broadcast(stats), $"l_partkey" === $"stat_partkey")
      .filter($"qty_cents" * 5 * $"n" < $"sum_qty_cents")
      .agg(sum($"price_cents").as("sum_cents"))
      .select($"sum_cents", expr("sum_cents div 7").as("avg_yearly_cents"))
  }

  val q17Sql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'),
      |stats AS (
      |  SELECT l_partkey AS stat_partkey, COUNT(*) AS n,
      |    CAST(SUM(qty_cents) AS BIGINT) AS sum_qty_cents
      |  FROM li GROUP BY l_partkey)
      |SELECT CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(price_cents) // 7 AS BIGINT) AS avg_yearly_cents
      |FROM li JOIN stats ON l_partkey = stat_partkey
      |WHERE qty_cents * 5 * n < sum_qty_cents""".stripMargin

  /** TPC-H Q19-style disjunctive-predicate revenue: three OR'd
    * (brand, size-range, quantity-range) clauses over the part equi-join.
    * The interesting plan property: the equi-join key stays a hash join
    * (never a nested loop), the disjunction rides as a residual filter,
    * and the per-branch part predicates still prune the broadcast side.
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val branch1 = $"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
      $"l_quantity".between(1, 20)
    val branch2 = $"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
      $"l_quantity".between(10, 30)
    val branch3 = $"p_brand" === "Brand#5" && $"p_size".between(1, 35) &&
      $"l_quantity".between(20, 40)
    Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity",
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev_cents"))
      .join(broadcast(Tables.part(spark, dir)
          .filter($"p_brand".isin("Brand#12", "Brand#23", "Brand#5") && $"p_size".between(1, 35))
          .select($"p_partkey", $"p_brand", $"p_size")),
        $"l_partkey" === $"p_partkey")
      .filter(branch1 || branch2 || branch3)
      .agg(sum($"rev_cents").as("revenue_cents"))
  }

  val q19Sql: String =
    """SELECT CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  // --------------------------------------------------------------------
  // Remaining TPC-H-style queries (Q2/Q9/Q11/Q12/Q16/Q20/Q21), adapted to
  // this corpus's thinner schema: there is no partsupp table (the distinct
  // (l_partkey, l_suppkey) pairs in lineitem ARE the part-supplier
  // relation), no ps_supplycost (min observed shipment price stands in),
  // and lineitem carries no commitdate/receiptdate/shipmode (ship-vs-order
  // delay and linestatus stand in). Each adaptation keeps the original
  // query's plan-defining structure: the correlated min (Q2), the
  // multi-dim star profit rollup (Q9), the global-threshold scalar
  // subquery (Q11), the CASE-sum pivot (Q12), the distinct-pair relation
  // scan (Q16), the correlated-share semi-join (Q20), and the
  // argmax-per-group exists/not-exists (Q21).
  // --------------------------------------------------------------------

  /** TPC-H Q2-style min-cost supplier: for every STANDARD part of size ≤ 15,
    * the EUROPE supplier(s) offering it at the lowest observed price
    * (min cents over that pair's lineitems — the ps_supplycost stand-in).
    * Plan: dims (100 suppliers, filtered parts) broadcast; ONE shuffle on
    * the (part, supplier) offer grain; the correlated per-part min is an
    * aggregate-then-broadcast-back (part grain is model-sized next to the
    * fact). Ties at the min are kept, exactly like the spec; the sort key
    * chain (acctbal, n_name, s_name, partkey) is row-unique so the
    * LIMIT 100 cut is deterministic.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val euroSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(
        broadcast(Tables.region(spark, dir).filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val parts = Tables.part(spark, dir)
      .filter($"p_size" <= 15 && $"p_type" === "STANDARD")
      .select($"p_partkey", $"p_brand")
    val offers = Tables.lineitem(spark, dir)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(euroSupp.select($"s_suppkey")), $"l_suppkey" === $"s_suppkey", "left_semi")
      .groupBy($"l_partkey", $"l_suppkey", $"p_brand")
      .agg(min(cents($"l_extendedprice")).as("cost_cents"))
    val minCost = offers.groupBy($"l_partkey".as("m_partkey"))
      .agg(min($"cost_cents").as("min_cents"))
    offers
      .join(broadcast(minCost),
        $"l_partkey" === $"m_partkey" && $"cost_cents" === $"min_cents")
      .join(broadcast(euroSupp), $"l_suppkey" === $"s_suppkey")
      .select($"s_acctbal", $"s_name", $"n_name",
        $"l_partkey".as("p_partkey"), $"p_brand", $"cost_cents")
      .orderBy($"s_acctbal".desc, $"n_name".asc, $"s_name".asc, $"p_partkey".asc)
      .limit(100)
  }

  val q2Sql: String =
    """WITH es AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
      |offers AS (
      |  SELECT l_partkey, l_suppkey, p_brand,
      |    CAST(MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cost_cents
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_size <= 15 AND p_type = 'STANDARD'
      |  WHERE l_suppkey IN (SELECT s_suppkey FROM es)
      |  GROUP BY 1, 2, 3)
      |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, p_brand, cost_cents
      |FROM offers o JOIN es ON l_suppkey = s_suppkey
      |WHERE cost_cents = (
      |  SELECT MIN(cost_cents) FROM offers i WHERE i.l_partkey = o.l_partkey)
      |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
      |LIMIT 100""".stripMargin

  /** TPC-H Q9-style product-type profit by nation and order year, for parts
    * whose name carries one color word ('red'). No ps_supplycost exists, so
    * profit is the discounted revenue (e4 fixed-point, exact integers).
    * Plan: part filter and supplier→nation broadcast; the one fact-fact
    * join (lineitem⋈orders) shuffles on the order key; final rollup is one
    * partial+final aggregate on (nation, year).
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val redParts = Tables.part(spark, dir)
      .filter($"p_name".contains("red")).select($"p_partkey")
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    Tables.lineitem(spark, dir)
      .join(broadcast(redParts), $"l_partkey" === $"p_partkey", "left_semi")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .join(
        Tables.orders(spark, dir).select($"o_orderkey",
          year($"o_orderdate".cast("timestamp")).cast("int").as("o_year")),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name".as("nation"), $"o_year")
      .agg(sum(cents($"l_extendedprice") * (lit(100) - pct($"l_discount"))).as("profit_e4"))
  }

  val q9Sql: String =
    """SELECT n_name AS nation,
      |  CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS INT) AS o_year,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS profit_e4
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q11-style important stock: parts whose shipped value from one
    * nation's suppliers exceeds 0.1% of that nation's total. The global
    * threshold is the classic scalar subquery — computed as a one-row
    * broadcast fanned onto the per-part aggregate (never a driver
    * collect), and the 0.1% comparison is exact integer
    * cross-multiplication (value·1000 > total), no float ratio.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter($"n_name" === "NATION_7")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val vals = Tables.lineitem(spark, dir)
      .join(broadcast(natSupp), $"l_suppkey" === $"s_suppkey", "left_semi")
      .groupBy($"l_partkey")
      .agg(sum(cents($"l_extendedprice")).as("value_cents"))
    vals
      .crossJoin(broadcast(vals.agg(sum($"value_cents").as("total_cents"))))
      .filter($"value_cents" * 1000 > $"total_cents")
      .select($"l_partkey".as("p_partkey"), $"value_cents")
  }

  val q11Sql: String =
    """WITH v AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |  FROM lineitem
      |  WHERE l_suppkey IN (
      |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |    WHERE n_name = 'NATION_7')
      |  GROUP BY 1)
      |SELECT l_partkey AS p_partkey, value_cents
      |FROM v
      |WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM v)""".stripMargin

  /** TPC-H Q12-style late-shipment priority pivot: lineitems shipped more
    * than 90 days after their order date (the commit/receipt-date stand-in)
    * in 1996-1997, pivoted into high/low order-priority counts per
    * linestatus (the shipmode stand-in). One fact-fact join on the order
    * key; the pivot is two CASE-sums inside a single aggregate.
    */
  def q12LatePriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate".cast("timestamp") >= lit("1996-01-01") &&
        $"l_shipdate".cast("timestamp") < lit("1998-01-01"))
      .select($"l_orderkey", $"l_linestatus", $"l_shipdate")
    val highPrio = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    li.join(
        Tables.orders(spark, dir)
          .select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .filter($"l_shipdate".cast("timestamp") >
        $"o_orderdate".cast("timestamp") + expr("INTERVAL 90 DAYS"))
      .groupBy($"l_linestatus")
      .agg(
        sum(when(highPrio, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(highPrio, 0L).otherwise(1L)).as("low_line_count"))
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
      |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
      |  AND CAST(l_shipdate AS TIMESTAMP) > CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 DAY
      |GROUP BY 1""".stripMargin

  /** TPC-H Q16-style supplier variety per (brand, type, size): how many
    * distinct suppliers ship each part profile, excluding one brand, one
    * type, off-list sizes, and suppliers in deficit (the "customer
    * complaints" exclusion — s_comment does not exist, a negative account
    * balance stands in). The part-supplier relation IS the distinct
    * (l_partkey, l_suppkey) projection of lineitem — but no explicit
    * `.distinct()` appears: COUNT(DISTINCT suppkey) deduplicates inside
    * its own aggregate, so a pre-distinct would only add a full-fact
    * shuffle for rows the broadcast part filter is about to drop (~86%
    * of them — 7 sizes of 50). The fact shuffles once, post-prune, on
    * the profile key.
    */
  def q16PartSupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val goodSupp = Tables.supplier(spark, dir)
      .filter($"s_acctbal" >= 0).select($"s_suppkey")
    val parts = Tables.part(spark, dir)
      .filter($"p_brand" =!= "Brand#5" && $"p_type" =!= "PROMO" &&
        $"p_size".isin(1, 4, 9, 16, 25, 36, 49))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(goodSupp), $"l_suppkey" === $"s_suppkey", "left_semi")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(count_distinct($"l_suppkey").as("supplier_cnt"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      |  AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q20-style excess-share suppliers: NATION_3 suppliers that
    * shipped MORE THAN HALF of some 'old…' part's 1997 volume (the
    * availqty/2 correlated threshold re-expressed against observed volume
    * — exact integer cross-multiplication, 2·pair > part total). Two
    * co-keyed aggregates ((part,supp) then part), the correlated total
    * broadcast back, and the supplier set reached via semi-joins only —
    * the fact table's text never leaves the scan.
    */
  def q20ExcessShippers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val oldParts = Tables.part(spark, dir)
      .filter($"p_name".startsWith("old")).select($"p_partkey")
    val pairQty = Tables.lineitem(spark, dir)
      .filter($"l_shipdate".cast("timestamp") >= lit("1997-01-01") &&
        $"l_shipdate".cast("timestamp") < lit("1998-01-01"))
      .join(broadcast(oldParts), $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum(cents($"l_quantity")).as("qty_cents"))
    val partTot = pairQty.groupBy($"l_partkey".as("t_partkey"))
      .agg(sum($"qty_cents").as("tot_cents"))
    val dominant = pairQty
      .join(broadcast(partTot),
        $"l_partkey" === $"t_partkey" && $"qty_cents" * 2 > $"tot_cents")
      .select($"l_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter($"n_name" === "NATION_3")),
        $"s_nationkey" === $"n_nationkey")
      .join(dominant, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name")
  }

  val q20Sql: String =
    """WITH y AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
      |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
      |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'old%')
      |  GROUP BY 1, 2),
      |t AS (
      |  SELECT l_partkey AS t_partkey, CAST(SUM(qty_cents) AS BIGINT) AS tot_cents
      |  FROM y GROUP BY 1)
      |SELECT s_suppkey, s_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM y JOIN t ON l_partkey = t_partkey
      |  WHERE qty_cents * 2 > tot_cents)""".stripMargin

  /** TPC-H Q21-style waiting supplier: in finished multi-supplier orders,
    * the supplier whose final shipment came STRICTLY last (every other
    * supplier was already done — the exists/not-exists pair re-expressed
    * as a per-order argmax with a uniqueness guard, since lineitem has no
    * receipt/commit dates). Plan note: an explicit
    * `repartition(l_orderkey)` WOULD let the aggregate and both windows
    * share one exchange, but it was measured slower — it ships the full
    * fact through the wire, where Catalyst's own plan partial-aggregates
    * (map-side combine) BEFORE its first exchange and every later exchange
    * moves only the order×supplier grain (~12× fewer rows here, more at
    * 100 TB where orders have many lines). Exchange count is the wrong
    * currency; bytes-through-the-wire is the one that matters, and
    * partial aggregation wins it.
    */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_orderkey")
    val perSupp = Tables.lineitem(spark, dir)
      .join(
        Tables.orders(spark, dir).filter($"o_orderstatus" === "F").select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"l_shipdate").as("last_ship"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("order_last", max($"last_ship").over(w))
      .withColumn("n_at_last",
        sum(when($"last_ship" === $"order_last", 1L).otherwise(0L)).over(w))
      .filter($"n_supp" > 1 && $"last_ship" === $"order_last" && $"n_at_last" === 1)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name".asc)
      .limit(100)
  }

  val q21Sql: String =
    """WITH f AS (
      |  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS last_ship
      |  FROM lineitem
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT *,
      |    COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
      |    MAX(last_ship) OVER (PARTITION BY l_orderkey) AS order_last
      |  FROM f),
      |x AS (
      |  SELECT *,
      |    SUM(CASE WHEN last_ship = order_last THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY l_orderkey) AS n_at_last
      |  FROM w)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM x JOIN supplier ON l_suppkey = s_suppkey
      |WHERE n_supp > 1 AND last_ship = order_last AND n_at_last = 1
      |GROUP BY 1
      |ORDER BY numwait DESC, s_name ASC
      |LIMIT 100""".stripMargin

  /** The co-located fact-fact join: lineitem⋈orders on the orderkey both
    * tables are BUCKETED by ([[graft.connectors.Bucketing.ensureBucketed]],
    * write-once under /tmp), aggregated to revenue per order priority.
    * With both sides clustered+sorted into the same 16 buckets the
    * sort-merge join plans with ZERO Exchange on either side
    * (ScaleMechanicsSpec pins that plan shape; the residual Sort is a
    * local pass over one pre-sorted task-sized file — Spark 3+ re-sorts
    * bucketed scans rather than trust file order) — at 100 TB this is the
    * layout that turns the every-run two-sided fact shuffle into a
    * write-once cost. The `merge` hint keeps the comparison honest
    * (broadcast would hide the exchange question); the oracle replays the
    * identical join over the flat tables — bucketing must never change
    * results, only the plan.
    */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.connectors.Bucketing.indexDirFor(dir)
    // source stamps invalidate the cached layout when the fixture data at
    // `dir` is regenerated (e.g. a ScaleProbe rebuild at a new factor)
    val li = graft.connectors.Bucketing.ensureBucketed(
      spark, Tables.lineitem(spark, dir), s"$base/lineitem", "l_orderkey", 16,
      sourceStamp = graft.connectors.Bucketing.cachedStamp(s"$dir/lineitem.parquet"))
    val ord = graft.connectors.Bucketing.ensureBucketed(
      spark, Tables.orders(spark, dir), s"$base/orders", "o_orderkey", 16,
      sourceStamp = graft.connectors.Bucketing.cachedStamp(s"$dir/orders.parquet"))
    li.hint("merge")
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        (asDouble(sum(cents($"l_extendedprice") * (lit(100) - pct($"l_discount")))) / 10000.0)
          .as("revenue"))
  }

  val qBucketedJoinSql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Prebuild the write-once bucketed layout outside bench timers —
    * `ensureBucketed` materializes eagerly at DataFrame-construction time,
    * so building the query (not running it) is enough.
    */
  def warm(spark: SparkSession, dir: String): Unit = { qBucketedJoin(spark, dir); () }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> q2MinCostSupplier,
    "q9_product_profit" -> q9ProductProfit,
    "q11_important_parts" -> q11ImportantParts,
    "q12_late_priority" -> q12LatePriority,
    "q16_part_supplier_variety" -> q16PartSupplierVariety,
    "q20_excess_shippers" -> q20ExcessShippers,
    "q21_waiting_supplier" -> q21WaitingSupplier,
    "q8_market_share" -> q8MarketShare,
    "q13_order_distribution" -> q13OrderDistribution,
    "q15_top_supplier" -> q15TopSupplier,
    "q_bucketed_join" -> qBucketedJoin,
    "q17_small_quantity" -> q17SmallQuantity,
    "q19_disjunctive_revenue" -> q19DisjunctiveRevenue,
    "q_quartiles_disc" -> qQuartilesDisc,
    "q_rollup" -> qRollup,
    "q_window_funcs" -> qWindowFuncs,
    "q4_priority_exists" -> q4PriorityExists,
    "q22_no_orders" -> q22NoOrders,
    "q_sketch_cardinality" -> qSketchCardinality,
    "q_sketch_countmin" -> qSketchCountMin,
    "q_sketch_quantiles" -> qSketchQuantiles,
    "q6_forecast" -> q6Forecast,
    "q7_nation_volume" -> q7NationVolume,
    "q_top_per_group" -> qTopPerGroup,
    "q_tumbling_window" -> qTumblingWindow,
    "q1_pricing_summary" -> q1PricingSummary,
    "q3_top_revenue" -> q3TopRevenue,
    "q5_local_supplier_volume" -> q5LocalSupplierVolume,
    "q10_returned_items" -> q10ReturnedItems,
    "q18_large_orders" -> q18LargeOrders,
    "q14_promo_share" -> q14PromoShare,
    "q_outliers" -> qOutliers,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "events_by_type" -> eventsByType
  )

  val oracles: Map[String, String] = Map(
    "q2_min_cost_supplier" -> q2Sql,
    "q9_product_profit" -> q9Sql,
    "q11_important_parts" -> q11Sql,
    "q12_late_priority" -> q12Sql,
    "q16_part_supplier_variety" -> q16Sql,
    "q20_excess_shippers" -> q20Sql,
    "q21_waiting_supplier" -> q21Sql,
    "q8_market_share" -> q8Sql,
    "q13_order_distribution" -> q13Sql,
    "q15_top_supplier" -> q15Sql,
    "q17_small_quantity" -> q17Sql,
    "q19_disjunctive_revenue" -> q19Sql,
    "q_quartiles_disc" -> qQuartilesDiscSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q10_returned_items" -> q10Sql,
    "q18_large_orders" -> q18Sql,
    "q14_promo_share" -> q14Sql,
    "q_outliers" -> qOutliersSql,
    "q_window_funcs" -> qWindowFuncsSql,
    "q4_priority_exists" -> q4Sql,
    "q22_no_orders" -> q22Sql,
    "q_sketch_cardinality" -> qSketchCardinalitySql,
    "q_sketch_countmin" -> qSketchCountMinSql,
    "q_sketch_quantiles" -> qSketchQuantilesSql,
    "q6_forecast" -> q6Sql,
    "q7_nation_volume" -> q7Sql,
    "q_top_per_group" -> qTopPerGroupSql,
    "q_tumbling_window" -> qTumblingWindowSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_top_revenue" -> q3Sql,
    "q5_local_supplier_volume" -> q5Sql,
    "q_bucketed_join" -> qBucketedJoinSql,
    "events_by_type" -> eventsByTypeSql
  )
}
