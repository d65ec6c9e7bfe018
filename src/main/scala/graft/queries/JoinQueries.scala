package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.joins.{AsOfJoin, DynamicJoiner, RangeJoin, SaltedJoin, StaticJoiner}

/** Verification queries for the join operators (SURVEY §2.5 J1/J2). */
object JoinQueries {

  private val envCte = s"WITH env AS (${Tables.envelopesSql})"

  // ------------------------------------------------- J2 static broadcast join
  /** Enrich lineitem with a filtered part dim; misses pass through with null
    * (reference miss-passthrough behavior).
    */
  def j2StaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val ref = Tables.part(spark, dir).filter(col("p_size") < 30)
    StaticJoiner("l_partkey", "p_partkey")
      .enrich(li, ref, Seq("p_brand"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"))
  }

  val j2Sql: String =
    """SELECT l_orderkey, l_linenumber, p_brand
      |FROM lineitem
      |LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size < 30) p
      |  ON l_partkey = p_partkey""".stripMargin

  /** Last-write-wins compaction of a keyed changelog (the BroadcastState
    * replacement semantics): newest event payload per user.
    */
  def j2RefLww(spark: SparkSession, dir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, dir)
    StaticJoiner("user", "primaryKey")
      .latestPerKey(env, "eventTime", "event_id")
      .select(
        col("primaryKey"),
        get_json_object(col("payloadJson"), "$.k").as("latest_k"),
        unix_micros(col("eventTime")).as("ts_us")
      )
  }

  val j2LwwSql: String =
    s"""$envCte
       |SELECT primaryKey, json_extract_string(payloadJson, '$$.k') AS latest_k,
       |  epoch_us(eventTime) AS ts_us
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY primaryKey ORDER BY eventTime DESC, event_id DESC) AS rn
       |  FROM env)
       |WHERE rn = 1""".stripMargin

  // --------------------------------------------- J1 dynamic (TTL-window) join
  /** clicks LEFT-joined to purchases of the same user within ±30 min —
    * the order/payment join shape (N:M within TTL, unmatched left emitted).
    */
  def j1DynamicJoin(spark: SparkSession, dir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, dir)
    val clicks = env
      .filter(col("source") === "click")
      .select(
        col("primaryKey").as("l_key"),
        col("event_id").as("l_id"),
        col("eventTime").as("l_ts")
      )
    val purchases = env
      .filter(col("source") === "purchase")
      .select(
        col("primaryKey").as("r_key"),
        col("event_id").as("r_id"),
        col("eventTime").as("r_ts")
      )
    DynamicJoiner("l_key", "r_key", "l_ts", "r_ts", ttlMs = 30 * 60 * 1000, joinType = "left_outer")
      .batch(clicks, purchases)
      .select(
        col("l_id"),
        col("r_id"),
        unix_micros(col("l_ts")).as("l_us"),
        unix_micros(col("r_ts")).as("r_us")
      )
  }

  val j1Sql: String =
    s"""$envCte,
       |l AS (SELECT primaryKey AS l_key, event_id AS l_id, eventTime AS l_ts
       |      FROM env WHERE source = 'click'),
       |r AS (SELECT primaryKey AS r_key, event_id AS r_id, eventTime AS r_ts
       |      FROM env WHERE source = 'purchase')
       |SELECT l_id, r_id, epoch_us(l_ts) AS l_us, epoch_us(r_ts) AS r_us
       |FROM l LEFT JOIN r
       |  ON l_key = r_key
       | AND epoch_us(r_ts) >= epoch_us(l_ts) - 1800000000
       | AND epoch_us(r_ts) <= epoch_us(l_ts) + 1800000000""".stripMargin

  /** Full-outer variant: both unmatched sides surface (reference RIGHT/FULL
    * via RightEmitFunction; here the join emits them natively).
    */
  def j1DynamicFull(spark: SparkSession, dir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, dir)
    val signups = env
      .filter(col("source") === "signup")
      .select(col("primaryKey").as("l_key"), col("event_id").as("l_id"), col("eventTime").as("l_ts"))
    val errors = env
      .filter(col("source") === "error")
      .select(col("primaryKey").as("r_key"), col("event_id").as("r_id"), col("eventTime").as("r_ts"))
    DynamicJoiner("l_key", "r_key", "l_ts", "r_ts", ttlMs = 10 * 60 * 1000, joinType = "full_outer")
      .batch(signups, errors)
      .select(col("l_id"), col("r_id"))
  }

  val j1FullSql: String =
    s"""$envCte,
       |l AS (SELECT primaryKey AS l_key, event_id AS l_id, eventTime AS l_ts
       |      FROM env WHERE source = 'signup'),
       |r AS (SELECT primaryKey AS r_key, event_id AS r_id, eventTime AS r_ts
       |      FROM env WHERE source = 'error')
       |SELECT l_id, r_id
       |FROM l FULL OUTER JOIN r
       |  ON l_key = r_key
       | AND epoch_us(r_ts) >= epoch_us(l_ts) - 600000000
       | AND epoch_us(r_ts) <= epoch_us(l_ts) + 600000000""".stripMargin

  /** Arrival-time-axis face (VERDICT r2 #6): the reference's TTL actually
    * runs on PROCESSING-time arrival distance (DynamicJoiner.java:206-229),
    * not event time. [[DynamicJoiner.stampArrival]] stamps wall-clock at
    * ingest — non-oracle-able — so this query stamps a DETERMINISTIC
    * synthetic arrival (eventTime + per-row ingest delay, out-of-order by
    * construction: delay varies per event) and passes the stamped column as
    * the join axis. Pairs match on arrival distance, NOT event-time
    * distance: two events 1 ms apart in event time can miss when their
    * ingest delays differ by more than the TTL, exactly the reference's
    * buffer behavior.
    */
  def j1DynamicArrival(spark: SparkSession, dir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, dir)
    // synthetic ingest delay: 0-6 min, keyed off event_id (deterministic)
    def stamped(src: String, prefix: String) = env
      .filter(col("source") === src)
      .withColumn(
        "_arr",
        timestamp_micros(unix_micros(col("eventTime")) + (col("event_id") % 7) * 60000000L))
      .select(
        col("primaryKey").as(s"${prefix}_key"),
        col("event_id").as(s"${prefix}_id"),
        col("_arr").as(s"${prefix}_arr"))
    DynamicJoiner("l_key", "r_key", "l_arr", "r_arr", ttlMs = 10 * 60 * 1000, joinType = "left_outer")
      .batch(stamped("click", "l"), stamped("purchase", "r"))
      .select(
        col("l_id"),
        col("r_id"),
        unix_micros(col("l_arr")).as("l_us"),
        unix_micros(col("r_arr")).as("r_us")
      )
  }

  val j1ArrivalSql: String =
    s"""$envCte,
       |l AS (SELECT primaryKey AS l_key, event_id AS l_id,
       |             epoch_us(eventTime) + (event_id % 7) * 60000000 AS l_us
       |      FROM env WHERE source = 'click'),
       |r AS (SELECT primaryKey AS r_key, event_id AS r_id,
       |             epoch_us(eventTime) + (event_id % 7) * 60000000 AS r_us
       |      FROM env WHERE source = 'purchase')
       |SELECT l_id, r_id, l_us, r_us
       |FROM l LEFT JOIN r
       |  ON l_key = r_key
       | AND r_us >= l_us - 600000000
       | AND r_us <= l_us + 600000000""".stripMargin

  // ------------------------------------------------------ J3 skew-salted join
  /** Worst-case key distribution: two-thirds of ALL events collapse onto ONE
    * join key ("hot"), then enrich against a per-key dim through
    * [[SaltedJoin]] — the static escape hatch when even AQE skew splitting
    * can't save a single dominant key. The oracle replays the plain
    * (unsalted) join, proving salting changes partitioning, never results;
    * ScaleMechanicsSpec asserts the exchange actually fans the hot key out
    * across salt partitions.
    */
  def j3SkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val env = Tables.eventsAsEnvelopes(spark, dir)
    val hotKey = when(col("primaryKey").cast("long") % 3 =!= 0, lit("hot"))
      .otherwise(col("primaryKey"))
    val skewed = env.select(hotKey.as("k"), col("traceId"), col("event_id"))
    val dim = skewed.select(col("k")).distinct()
      .withColumn("dim_tag", concat(lit("ref:"), col("k")))
    SaltedJoin.join(skewed, dim, "k", saltBy = col("event_id"), n = 8, joinType = "left_outer")
      .select(col("traceId"), col("k"), col("dim_tag"))
  }

  val j3SkewSaltedSql: String =
    s"""$envCte,
       |sk AS (
       |  SELECT CASE WHEN CAST(primaryKey AS BIGINT) % 3 <> 0 THEN 'hot'
       |              ELSE primaryKey END AS k,
       |         traceId
       |  FROM env)
       |SELECT traceId, k, 'ref:' || k AS dim_tag FROM sk""".stripMargin

  // ------------------------------------------------------- J4 as-of join
  /** Config-version history derived from events (every 17th event updates a
    * config for the given key column), deduped to one version per (key, ts).
    */
  private def cfgHistory(spark: SparkSession, dir: String, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key), col("ts"))
      .orderBy(col("event_id").desc)
    Tables.events(spark, dir)
      .filter(col("event_id") % 17 === 0)
      .withColumn("version", round(col("value") * 100).cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(key), col("ts"), col("version"))
  }

  /** Every event enriched with its USER's config version in force at event
    * time (latest cfg.ts <= ev.ts per user; NULL before the first config).
    * Keyed on `user_id` — high cardinality (scales linearly with SF), the
    * regime the window formulation is FOR: the single hash exchange fans
    * out across all partitions instead of concentrating into one task per
    * key. The low-cardinality `event_type` key lives on the broadcast face
    * below ([[j4AsOfBroadcast]]); r5 benched this face on event_type (5
    * distinct values = 5 tasks), pairing the faces backwards.
    */
  def j4AsOfJoin(spark: SparkSession, dir: String): DataFrame =
    AsOfJoin
      .latestAsOf(
        Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("ts")),
        cfgHistory(spark, dir, "user_id"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightVals = Seq("version"))
      .select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ev_us"),
        unix_micros(col("asof_ts")).as("cfg_us"),
        col("asof_version").as("cfg_version"))

  /** The broadcast face on the same data — event_type has 5 distinct
    * values, exactly the low-cardinality-key case it exists for (the
    * window face would sort everything in 5 tasks; this one stays
    * shuffle-free on the event side).
    */
  def j4AsOfBroadcast(spark: SparkSession, dir: String): DataFrame =
    AsOfJoin
      .latestAsOfBroadcast(
        Tables.events(spark, dir).select(col("event_id"), col("event_type"), col("ts")),
        cfgHistory(spark, dir, "event_type"),
        keys = Seq("event_type"), leftTs = "ts", rightTs = "ts",
        rightVals = Seq("version"))
      .select(
        col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ev_us"),
        unix_micros(col("asof_ts")).as("cfg_us"),
        col("asof_version").as("cfg_version"))

  /** DuckDB's native ASOF LEFT JOIN is the independent formulation. */
  private def asofSql(key: String): String =
    s"""WITH cfg0 AS (
       |  SELECT $key, ts, CAST(round(value * 100) AS BIGINT) AS version,
       |         ROW_NUMBER() OVER (PARTITION BY $key, ts ORDER BY event_id DESC) AS rn
       |  FROM events WHERE event_id % 17 = 0),
       |cfg AS (SELECT $key, ts, version FROM cfg0 WHERE rn = 1)
       |SELECT e.event_id, e.$key,
       |  epoch_us(CAST(e.ts AS TIMESTAMP)) AS ev_us,
       |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS cfg_us,
       |  c.version AS cfg_version
       |FROM events e ASOF LEFT JOIN cfg c
       |  ON e.$key = c.$key AND e.ts >= c.ts""".stripMargin

  val j4Sql: String = asofSql("user_id")
  val j4BroadcastSql: String = asofSql("event_type")

  private val streamQueryCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fixture staging for [[j4AsOfStream]] memoized per dir: the collect()s
    * feed MemoryStream (driver-side by definition) and are harness work —
    * Bench pre-warms them outside the timers, like every other fixture.
    */
  private val asofStreamFixture = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[graft.joins.StreamingAsOfJoiner.AsOfVersion], Seq[graft.joins.StreamingAsOfJoiner.AsOfEvent])]

  def warm(spark: SparkSession, dir: String): Unit = {
    asofStreamFixtureFor(spark, dir)
    ()
  }

  private def asofStreamFixtureFor(spark: SparkSession, dir: String) =
    asofStreamFixture.getOrElseUpdate(dir, {
      import spark.implicits._
      import graft.joins.StreamingAsOfJoiner.{AsOfEvent, AsOfVersion}
      val versions = cfgHistory(spark, dir, "user_id")
        .select(col("user_id").cast("string"), unix_micros(col("ts")), col("version").cast("string"))
        .as[(String, Long, String)].collect()
        .map { case (k, ts, v) => AsOfVersion(k, ts, v) }.toSeq
      // deterministic 1/10 slice: the fixture (and the memory-sink result
      // table) is collect()ed to the driver and memoized per dir, so it must
      // stay driver-sized as SF grows — the oracle applies the same
      // predicate (ADVICE r6). Versions stream in FULL: history size is the
      // operator's real state axis.
      val events = Tables.events(spark, dir)
        .filter(col("event_id") % 10 === 0)
        .select(col("user_id").cast("string"), unix_micros(col("ts")), col("event_id").cast("string"))
        .as[(String, Long, String)].collect()
        .map { case (k, ts, p) => AsOfEvent(k, ts, p) }.toSeq
      (versions, events)
    })

  /** The STREAMING face ([[graft.joins.StreamingAsOfJoiner]]) against the
    * same DuckDB ASOF oracle: the per-user config history streams in first
    * (one micro-batch), then every event streams through and probes the
    * transformWithState version state — once all versions have arrived the
    * enrichment must be bit-identical to the batch faces. The collect()s
    * stage the fixture into MemoryStream (driver-side by definition — the
    * production wiring reads the CDC source); the operator itself runs
    * distributed over the keyed state. The session must carry the RocksDB
    * state store ([[graft.core.GraftSession]] sets it): transformWithState
    * fails loudly without it.
    */
  def j4AsOfStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.joins.StreamingAsOfJoiner.{AsOfEvent, AsOfVersion}
    val (versions, events) = asofStreamFixtureFor(spark, dir)
    implicit val sqlCtx = spark.sqlContext
    val vMem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsOfVersion]
    val eMem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsOfEvent]
    val enriched = graft.joins.StreamingAsOfJoiner.enrich(eMem.toDS(), vMem.toDS())
    val runId = streamQueryCounter.incrementAndGet()
    // each run leaves a memory-sink table behind (the returned DataFrame
    // reads it) — drop the PREVIOUS run's table so repeated bench passes
    // hold at most one result in driver memory
    if (runId > 1) spark.catalog.dropTempView(s"j4_asof_stream_${runId - 1}")
    val qname = s"j4_asof_stream_$runId"
    val q = enriched.writeStream.format("memory").queryName(qname).outputMode("append").start()
    try {
      vMem.addData(versions)
      q.processAllAvailable()
      eMem.addData(events)
      q.processAllAvailable()
    } finally {
      q.stop()
      // unload the RocksDB providers + maintenance threads NOW: the
      // memory-sink table is already materialized, and leaving native
      // RocksDB state behind measurably taxes UNRELATED queries later in
      // a bench pass (SCALE.md, "Measured (local[32], sf0.1)": leftover
      // providers slowed later queries 2-2.8×). unloadAll is JVM-global —
      // it would force a concurrently running streaming query into a
      // checkpoint reload mid-run — so only fire when no OTHER stream is
      // active (ours is already stopped above).
      if (spark.streams.active.isEmpty)
        org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
    }
    spark.table(qname).select(
      col("payload").cast("long").as("event_id"),
      col("key").cast("long").as("user_id"),
      col("tsUs").as("ev_us"),
      col("asofTsUs").as("cfg_us"),
      col("asofValue").cast("long").as("cfg_version"))
  }

  // ------------------------------------------------------ J5 range join
  /** Campaign windows derived from events: every 211th event opens a
    * [ts, ts + (1..7) hours] window for its event_type. Bounds in micros —
    * integral end to end.
    */
  private val HourUs = 3600L * 1000 * 1000

  private def campaignWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id") % 211 === 0)
      .select(
        col("event_id").as("window_id"),
        col("event_type"),
        unix_micros(col("ts")).as("ws_us"),
        (unix_micros(col("ts")) + (col("event_id") % 7 + 1) * HourUs).as("we_us"))

  /** Events aggregated into every same-type campaign window containing
    * them (N:M — windows overlap). Bucketed interval join, 1 h buckets.
    */
  def j5RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type"),
      unix_micros(col("ts")).as("ev_us"),
      round(col("value") * 100).cast("long").as("cents"))
    RangeJoin
      .intervalJoin(
        ev, "ev_us",
        campaignWindows(spark, dir), "ws_us", "we_us",
        keys = Seq("event_type"), bucketWidth = HourUs)
      .groupBy(col("window_id"), col("event_type"), col("ws_us"), col("we_us"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents_sum"))
  }

  val j5Sql: String =
    """WITH w AS (
      |  SELECT event_id AS window_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS ws_us,
      |         epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 7 + 1) * 3600000000 AS we_us
      |  FROM events WHERE event_id % 211 = 0)
      |SELECT w.window_id, w.event_type, w.ws_us, w.we_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
      |FROM w JOIN events e
      |  ON e.event_type = w.event_type
      | AND epoch_us(CAST(e.ts AS TIMESTAMP)) BETWEEN w.ws_us AND w.we_us
      |GROUP BY 1, 2, 3, 4""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j4_asof_join" -> j4AsOfJoin,
    "j4_asof_broadcast" -> j4AsOfBroadcast,
    "j4_asof_stream" -> j4AsOfStream,
    "j5_range_join" -> j5RangeJoin,
    "j3_skew_salted" -> j3SkewSalted,
    "j2_static_enrich" -> j2StaticEnrich,
    "j2_ref_lww" -> j2RefLww,
    "j1_dynamic_join" -> j1DynamicJoin,
    "j1_dynamic_full" -> j1DynamicFull,
    "j1_dynamic_arrival" -> j1DynamicArrival
  )

  /** Same ASOF oracle as the batch face, restricted to the fixture's
    * deterministic event slice (versions are NOT sliced — the full history
    * still streams into state).
    */
  val j4StreamSql: String = asofSql("user_id") + "\nWHERE e.event_id % 10 = 0"

  val oracles: Map[String, String] = Map(
    "j4_asof_join" -> j4Sql,
    "j4_asof_broadcast" -> j4BroadcastSql,
    "j4_asof_stream" -> j4StreamSql,
    "j5_range_join" -> j5Sql,
    "j3_skew_salted" -> j3SkewSaltedSql,
    "j2_static_enrich" -> j2Sql,
    "j2_ref_lww" -> j2LwwSql,
    "j1_dynamic_join" -> j1Sql,
    "j1_dynamic_full" -> j1FullSql,
    "j1_dynamic_arrival" -> j1ArrivalSql
  )
}
