package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.StreamEnvelop
import graft.stateful.Processors

/** transformWithState (Spark 4 StatefulProcessor) operator faces, on the
  * RocksDB state store the shared GraftSession test session carries.
  */
class ProcessorsSpec extends SparkSpec {
  import spark.implicits._

  private def mkEnv(op: String, pk: String, payload: String, tsSec: Long): StreamEnvelop =
    StreamEnvelop(op, "src", payload, new Timestamp(tsSec * 1000), new Timestamp(tsSec * 1000), s"t-$pk-$tsSec", pk, Map.empty)

  test("Processors.dedup (transformWithState): first-seen-wins across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.dedup(mem.toDS(), _.primaryKey, ttlMs = 0)
    val q = out.writeStream.format("memory").queryName("tws_dedup").outputMode("append").start()
    try {
      mem.addData(mkEnv("i", "a", "{}", 1), mkEnv("i", "a", "{}", 2), mkEnv("i", "b", "{}", 3))
      q.processAllAvailable()
      mem.addData(mkEnv("i", "a", "{}", 4), mkEnv("i", "c", "{}", 5))
      q.processAllAvailable()
      val got = spark.table("tws_dedup").select("primaryKey").as[String].collect().sorted
      assert(got === Array("a", "b", "c"))
    } finally q.stop()
  }

  test("Processors.dedup TTL: a duplicate inside the TTL is dropped without postponing expiry; the key re-emits after it") {
    // TTL state is anchored to the first sighting's batch: a duplicate
    // reads state but never writes it, so it cannot move the expiry. Every
    // wait keeps >= 1 s between the batch that decides and the deadline it
    // is tested against. Polled, not processAllAvailable: with a
    // processing-time TTL the engine keeps running no-data batches and
    // processAllAvailable never returns.
    //
    // Processors.suppress runs the same feed as a second query, on a second
    // MemoryStream fed in lockstep (a MemoryStream trims the batches one
    // query commits, so two queries cannot share one). An unchanged
    // payload is its duplicate, so key "a" must behave as above. Key "c"
    // changes its payload in the duplicate batch: an accepted write, which
    // re-anchors c's TTL, so c's last row — sent after the first
    // sighting's expiry but before the re-anchored one — stays suppressed.
    implicit val sc = spark.sqlContext
    val ttlMs = 10000L
    val mems = Seq(MemoryStream[StreamEnvelop], MemoryStream[StreamEnvelop])
    def feed(rows: StreamEnvelop*): Unit = mems.foreach(_.addData(rows: _*))
    def start(out: org.apache.spark.sql.Dataset[StreamEnvelop], table: String) =
      out.writeStream.format("memory").queryName(table).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
        .start()
    val qs = Seq(
      start(Processors.dedup(mems(0).toDS(), _.primaryKey, ttlMs), "tws_dedup_ttl"),
      start(Processors.suppress(mems(1).toDS(), _.primaryKey, ttlMs, Set.empty), "tws_suppress_ttl"))
    try {
      def keys(table: String) = spark.table(table).select("primaryKey").as[String].collect().toSeq
      def await(what: String, tables: String*)(cond: Seq[String] => Boolean): Long = {
        val deadline = System.currentTimeMillis() + 30000
        def ok = tables.forall(t => cond(keys(t)))
        while (!ok && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(ok, s"timed out waiting for $what: ${tables.map(keys)}")
        System.currentTimeMillis()
      }
      val both = Seq("tws_dedup_ttl", "tws_suppress_ttl")
      // first sighting: its batch runs between `sent` and `seen`, so the
      // state expires between sent + ttl and seen + ttl
      val sent = System.currentTimeMillis()
      feed(mkEnv("i", "a", "{}", 1), mkEnv("i", "c", """{"x": 1}""", 1))
      val seen = await("first sighting", both: _*)(_.sorted == Seq("a", "c"))
      // duplicate 3 s later, well inside the TTL. The marker key "b" rides
      // in the same micro-batch, so its arrival proves the duplicate was
      // processed.
      Thread.sleep(3000)
      val dupSent = System.currentTimeMillis()
      feed(mkEnv("i", "a", "{}", 2), mkEnv("i", "b", "{}", 3), mkEnv("i", "c", """{"x": 2}""", 3))
      val dupDone = await("duplicate batch", both: _*)(_.contains("b"))
      assert(dupDone - sent < ttlMs - 1000, "duplicate batch ran too close to expiry to test it")
      both.foreach(t => assert(keys(t).count(_ == "a") === 1, s"$t: duplicate inside the TTL was emitted"))
      assert(keys("tws_suppress_ttl").count(_ == "c") === 2, "a changed payload was suppressed")
      // 1 s past the first sighting's expiry, and ~2 s before the expiry
      // the duplicate would have set had it re-anchored the TTL: the key
      // re-emits only if the duplicate did not postpone it
      Thread.sleep(math.max(0L, seen + ttlMs + 1000 - System.currentTimeMillis()))
      feed(mkEnv("i", "a", "{}", 4), mkEnv("i", "c", """{"x": 2}""", 4))
      val reDone = await("re-emission after expiry", both: _*)(_.count(_ == "a") == 2)
      // c's accepted write in the duplicate batch re-anchored its expiry
      // past dupSent + ttl, and this batch ran before that
      assert(reDone - dupSent < ttlMs, "re-emission batch ran past the re-anchored expiry")
      assert(keys("tws_suppress_ttl").count(_ == "c") === 2,
        "an accepted write did not re-anchor the TTL")
    } finally qs.foreach(_.stop())
  }

  test("Processors.cdcPipeline: DELETE after a payload-equal update is not suppressed") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.cdcPipeline(mem.toDS(), ttlMs = 0, Set("updatedAt"))
    val q = out.writeStream.format("memory").queryName("tws_cdc_op").outputMode("append").start()
    try {
      // update canonicalizes to {"_id": 1} after exclusion — equal to the
      // delete's documentKey payload; __op in the composite keeps the
      // DELETE flowing (ADVICE r1 high)
      mem.addData(
        mkEnv("update", "1", """{"_id": 1, "updatedAt": 100}""", 1),
        mkEnv("delete", "1", """{"_id": 1}""", 2))
      q.processAllAvailable()
      val got = spark.table("tws_cdc_op").select("operation").as[String].collect().sorted
      assert(got === Array("delete", "update"))
    } finally q.stop()
  }

  test("Processors.cdcPipeline: distinct same-millisecond events both survive dedup") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.cdcPipeline(mem.toDS(), ttlMs = 0, Set.empty)
    val q = out.writeStream.format("memory").queryName("tws_cdc_us").outputMode("append").start()
    try {
      // 100 µs and 900 µs into the same millisecond: the batch face keys
      // dedup on the full microsecond timestamp, so the streaming face
      // must too (a getTime-only key silently drops the second event)
      def at(us: Int, payload: String) = {
        val t = new Timestamp(1000L)
        t.setNanos(us * 1000)
        mkEnv("u", "k", payload, 1).copy(eventTime = t)
      }
      mem.addData(at(100, """{"v": 1}"""), at(900, """{"v": 2}"""))
      q.processAllAvailable()
      val got = spark.table("tws_cdc_us")
        .select(org.apache.spark.sql.functions.get_json_object($"payloadJson", "$.v"))
        .as[String].collect().sorted
      assert(got === Array("1", "2"), "same-millisecond distinct events were merged")
    } finally q.stop()
  }

  test("Processors.cdcPipeline: null-key rows pass through untouched and never reach state") {
    implicit val sc = spark.sqlContext
    // Processors.suppress keeps the same rule: for this feed, its
    // unchanged-payload suppression drops exactly what cdcPipeline's
    // (key, eventTime) dedup drops
    type Face = org.apache.spark.sql.Dataset[StreamEnvelop] => org.apache.spark.sql.Dataset[StreamEnvelop]
    val faces = Seq[(String, Face)](
      "tws_cdc_nullkey" -> (Processors.cdcPipeline(_, ttlMs = 0, Set.empty)),
      "tws_suppress_nullkey" -> (Processors.suppress(_, _.primaryKey, ttlMs = 0, Set.empty)))
    faces.foreach { case (table, face) =>
      val mem = MemoryStream[StreamEnvelop]
      val q = face(mem.toDS()).writeStream.format("memory").queryName(table).outputMode("append").start()
      try {
        // same (null key, eventTime) and same payload twice: nothing to
        // dedup or suppress against, so both flow through as they came
        val nullRows = Seq(mkEnv("insert", null, """{"v": 1}""", 1), mkEnv("insert", null, """{"v": 1}""", 1))
        mem.addData(nullRows: _*)
        q.processAllAvailable()
        assert(spark.table(table).as[StreamEnvelop].collect().toSeq === nullRows, table)
        assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum === 0L, s"$table: null-key rows wrote state")
        // a real "" key shares the null rows' group and is still deduped
        mem.addData(mkEnv("insert", "", """{"v": 2}""", 1), mkEnv("insert", "", """{"v": 2}""", 1),
          mkEnv("insert", null, """{"v": 1}""", 1))
        q.processAllAvailable()
        val got = spark.table(table)
          .select($"primaryKey", $"payloadJson").as[(String, String)].collect().toSeq
        assert(got.count(_._1 == null) === 3, table)
        assert(got.filter(_._1 != null) === Seq(("", """{"v": 2}""")), table)
        // the zero above is a real count: the "" key's state shows up
        assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum > 0L, table)
      } finally q.stop()
    }
  }

  test("Processors.materialize (transformWithState): changelog with delete reset") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.materialize(mem.toDS(), _.operation == "delete", ttlMs = 0)
    val q = out.writeStream.format("memory").queryName("tws_mat").outputMode("append").start()
    try {
      mem.addData(mkEnv("insert", "a", """{"v":1}""", 1))
      q.processAllAvailable()
      mem.addData(mkEnv("update", "a", """{"v":2}""", 2), mkEnv("delete", "a", null, 3))
      q.processAllAvailable()
      mem.addData(mkEnv("insert", "a", """{"v":3}""", 4))
      q.processAllAvailable()
      val got = spark.table("tws_mat").as[graft.model.ChangelogEvent].collect().sortBy(_.timestamp.getTime)
      assert(got.map(_.changeType).toSeq === Seq("INSERT", "UPDATE", "DELETE", "INSERT"))
      assert(got(1).before === Some("""{"v":1}"""))
      assert(got(2).before === Some("""{"v":2}""") && got(2).after === None)
      assert(got(3).before === None)
    } finally q.stop()
  }

  test("Processors.sessionsWithLateness: late event within allowedLateness re-fires the session") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.sessionsWithLateness(mem.toDS(), gapMs = 10000, latenessMs = 60000)
    val q = out.writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    try {
      mem.addData(mkEnv("a1", "u1", "{}", 100), mkEnv("a2", "u1", "{}", 104))
      q.processAllAvailable() // watermark after this batch: 104
      mem.addData(mkEnv("x", "u2", "{}", 150))
      q.processAllAvailable() // watermark -> 150; u1 timer (114) not yet eligible in-batch
      mem.addData(mkEnv("y", "u2", "{}", 151))
      q.processAllAvailable() // batch runs at wm=150 >= 114 -> u1 session FIRES (count 2)
      mem.addData(mkEnv("a3", "u1", "{}", 106))
      q.processAllAvailable() // late (106 < wm 151) but within 60 s lateness -> RE-FIRE (count 3)
      val u1 = spark.table("sess_late").filter($"key" === "u1")
        .select("firing", "eventCount", "actions").as[(Int, Long, String)].collect().toSet
      assert(u1.contains((1, 2L, "a1,a2")), s"initial firing missing: $u1")
      assert(u1.contains((2, 3L, "a1,a2,a3")), s"lateness re-fire missing: $u1")
      // an event BEYOND the lateness horizon is dropped, no further firing
      mem.addData(mkEnv("z", "u2", "{}", 400)) // wm -> 400
      q.processAllAvailable()
      mem.addData(mkEnv("a4", "u1", "{}", 107)) // 107+10+60=177 < 400 -> dropped
      q.processAllAvailable()
      val after = spark.table("sess_late").filter($"key" === "u1").count()
      assert(after === 2)
    } finally q.stop()
  }

  test("sessionsWithLateness: gap-band sliver row is absorbed exactly like Flink, not watermark-dropped") {
    // Flink admits a session event while ts + gap + lateness > flinkWm;
    // Spark's plain lateness-delayed watermark dropped the band
    // [flinkWm - gap - lateness, flinkWm - lateness). With the delay
    // widened by gap: ts=104 at flinkWm=165 (gap 10 s, lateness 60 s) is
    // INSIDE that band (104 < 165 - 60) and must merge + re-fire, while
    // ts=94 (94 + 70 < 165) stays dropped on both engines.
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.sessionsWithLateness(mem.toDS(), gapMs = 10000, latenessMs = 60000)
    val q = out.writeStream.format("memory").queryName("sess_sliver").outputMode("append").start()
    try {
      mem.addData(mkEnv("a1", "u1", "{}", 100), mkEnv("a2", "u1", "{}", 104))
      q.processAllAvailable()
      mem.addData(mkEnv("x", "u2", "{}", 165)) // flinkWm -> 165
      q.processAllAvailable()
      mem.addData(mkEnv("y", "u2", "{}", 166))
      q.processAllAvailable() // u1 [100,114) fires (firing 1, count 2)
      // sliver row: older than flinkWm - lateness = 105, within window+lateness
      mem.addData(mkEnv("a3", "u1", "{}", 104))
      q.processAllAvailable()
      val u1 = spark.table("sess_sliver").filter($"key" === "u1")
        .select("firing", "eventCount", "actions").as[(Int, Long, String)].collect().toSet
      assert(u1.contains((1, 2L, "a1,a2")), s"initial firing missing: $u1")
      assert(u1.contains((2, 3L, "a1,a2,a3")), s"sliver row not absorbed: $u1")
      // beyond window end + lateness on BOTH engines: dropped, no firing
      mem.addData(mkEnv("a4", "u1", "{}", 94))
      q.processAllAvailable()
      assert(spark.table("sess_sliver").filter($"key" === "u1").count() === 2)
    } finally q.stop()
  }

  test("Processors.flowDisruption (transformWithState): timer fires DISRUPTED, next event RECOVERED") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEnvelop]
    val out = Processors.flowDisruption(mem.toDS(), _.source, timeoutMs = 1500)
    val q = out.writeStream.format("memory").queryName("tws_flow").outputMode("append").start()
    try {
      // NOTE: no processAllAvailable here — in processing-time mode the
      // engine runs continuous timer batches which starve it; poll instead.
      mem.addData(mkEnv("i", "a", "{}", 1))
      val deadline = System.currentTimeMillis() + 30000
      def signals() = spark.table("tws_flow").select("kind").as[String].collect().toSeq
      while (!signals().contains("DISRUPTED") && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(signals().contains("DISRUPTED"), s"timer never fired: ${signals()}")
      mem.addData(mkEnv("i", "a", "{}", 2))
      val deadline2 = System.currentTimeMillis() + 30000
      while (!signals().contains("RECOVERED") && System.currentTimeMillis() < deadline2)
        Thread.sleep(250)
      assert(signals().contains("RECOVERED"), s"no recovery: ${signals()}")
    } finally q.stop()
    // timeoutMs = 0 disables detection: no timers, so a synchronous drive
    // works and a healthy flow emits no signal at all
    val memOff = MemoryStream[StreamEnvelop]
    val qOff = Processors.flowDisruption(memOff.toDS(), _.source, timeoutMs = 0)
      .writeStream.format("memory").queryName("tws_flow_off").outputMode("append").start()
    try {
      memOff.addData(mkEnv("i", "a", "{}", 1), mkEnv("i", "b", "{}", 2))
      qOff.processAllAvailable()
      memOff.addData(mkEnv("i", "a", "{}", 3))
      qOff.processAllAvailable()
      assert(spark.table("tws_flow_off").count() === 0)
    } finally qOff.stop()
  }

  test("Processors.heavyHitters: MG guarantees hold across batches, state stays bounded") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[graft.model.ItemObservation]
    val hh = graft.stateful.Processors.heavyHitters(mem.toDS(), k = 4)
    val q = hh.writeStream.format("memory").queryName("hh").outputMode("append").start()
    try {
      def obs(item: String, times: Int) =
        Seq.fill(times)(graft.model.ItemObservation("g", item))
      // batch 1: a dominates, plus singletons that should wash out
      mem.addData(obs("a", 20) ++ obs("b", 6) ++ Seq("c", "d", "e", "f", "g2")
        .flatMap(obs(_, 1)): _*)
      q.processAllAvailable()
      // batch 2: more of a, a new mid-weight item — plus an item equal to
      // the reserved total key's bare name: item keys are "i"-prefixed in
      // state, so "t" must flow as ordinary data, never crash or corrupt
      // the total
      mem.addData(obs("a", 10) ++ obs("h", 4) ++ obs("t", 1): _*)
      q.processAllAvailable()
      val rows = spark.table("hh")
        .as[graft.model.HeavyHitter].collect()
      val total = rows.map(_.groupTotal).max // final n for group g
      assert(total === 46)
      val finalSummary = rows.filter(_.groupTotal == total)
      // bounded state: at most k counters survive
      assert(finalSummary.length <= 4, s"summary exceeds k: ${finalSummary.toSeq}")
      val trueCounts = Map("a" -> 30L, "b" -> 6L, "h" -> 4L, "t" -> 1L,
        "c" -> 1L, "d" -> 1L, "e" -> 1L, "f" -> 1L, "g2" -> 1L)
      // every item with true count > n/k MUST be present (MG guarantee);
      // n/k = 46/4 = 11.5 → "a" is guaranteed
      val est = finalSummary.map(r => r.item -> r.estimate).toMap
      assert(est.contains("a"), s"guaranteed heavy item missing: $est")
      // estimates never overcount and undercount by at most n/k
      finalSummary.foreach { r =>
        val t = trueCounts(r.item)
        assert(r.estimate <= t, s"${r.item} overcounted: ${r.estimate} > $t")
        assert(r.estimate >= t - total / 4, s"${r.item} undercounted past n/k: ${r.estimate} vs $t")
      }
      // deterministic replay: within-batch fold order is pinned, so the
      // same feed reproduces the same estimates (checked per run by the
      // fixed assertions above rather than a second stream here)
    } finally q.stop()
  }

  test("Processors.heavyHittersBatch ≡ the streaming gate's single-batch output, row for row") {
    // the contract the a5_heavy_hitters oracle row rests on: the batch
    // face IS the deterministic replay of one micro-batch against empty
    // state — same items, same MG estimates, same totals, per group
    implicit val sc = spark.sqlContext
    def obs(g: String, item: String, times: Int) =
      Seq.fill(times)(graft.model.ItemObservation(g, item))
    // g1 forces decrements and min-slot evictions past k=4; g2 stays
    // under k; g3 is the degenerate all-singletons wash-out
    val feed = obs("g1", "a", 20) ++ obs("g1", "b", 6) ++
      Seq("c", "d", "e", "f", "g2", "h", "i", "j").flatMap(obs("g1", _, 1)) ++
      obs("g2", "x", 3) ++ obs("g2", "y", 2) ++ obs("g2", "z", 1) ++
      Seq("p", "q", "r", "s", "t").flatMap(obs("g3", _, 1))
    val mem = MemoryStream[graft.model.ItemObservation]
    val hh = graft.stateful.Processors.heavyHitters(mem.toDS(), k = 4)
    val q = hh.writeStream.format("memory").queryName("hh_replay").outputMode("append").start()
    val streamed = try {
      mem.addData(feed: _*)
      q.processAllAvailable()
      spark.table("hh_replay").as[graft.model.HeavyHitter].collect()
        .map(h => (h.group, h.item, h.estimate, h.groupTotal)).toVector.sorted
    } finally q.stop()
    val batch = graft.stateful.Processors
      .heavyHittersBatch(feed.toDF(), "group", "item", k = 4)
      .collect()
      .map(h => (h.group, h.item, h.estimate, h.groupTotal)).toVector.sorted
    assert(batch.nonEmpty)
    assert(batch === streamed, s"batch replay diverged: batch=$batch streamed=$streamed")
  }

  test("Processors.heavyHitters: TTL expires counters, total, AND version marker atomically") {
    // All entries — k counters, the reserved total, and the layout-version
    // marker — live in ONE MapState rewritten every batch, so a TTL firing
    // must take the whole summary or none of it. A partial expiry would
    // either (a) leave a stale total over reset counters (groupTotal for
    // the post-expiry batch would read old+new), or (b) strip the marker
    // from surviving counters (the restore guard would throw). Both are
    // observable below.
    implicit val sc = spark.sqlContext
    // changelog checkpointing: with processing-time TTL the default
    // trigger runs EMPTY micro-batches continuously during the expiry
    // sleep, and under full-snapshot checkpointing each one pays a
    // RocksDB snapshot zip — hundreds of batches turn this test into a
    // filesystem stress test. Changelog checkpointing makes each empty
    // commit a small delta append. (A throttled ProcessingTime trigger
    // was tried instead and processAllAvailable never unblocked under
    // it with TTL state in this Spark build — default trigger it is.)
    val clKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val clPrev = spark.conf.getOption(clKey)
    spark.conf.set(clKey, "true")
    try {
    val mem = MemoryStream[graft.model.ItemObservation]
    val hh = graft.stateful.Processors.heavyHitters(mem.toDS(), k = 4, ttlMs = 900L)
    val q = hh.writeStream.format("memory").queryName("hh_ttl").outputMode("append")
      .start()
    try {
      def obs(item: String, times: Int) =
        Seq.fill(times)(graft.model.ItemObservation("g", item))
      // poll the sink rather than processAllAvailable: with TTL state the
      // processing-time batch loop never satisfies processAllAvailable's
      // completion check in this Spark build (parks forever while the
      // stream idles) — the sink rows are the observable truth anyway
      def awaitSink(what: String)(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
        assert(cond, s"timed out waiting for $what")
      }
      def rows() = spark.table("hh_ttl").as[graft.model.HeavyHitter].collect()
      mem.addData(obs("a", 5) ++ obs("b", 2): _*)
      awaitSink("batch-1 summary")(rows().exists(_.groupTotal == 7))
      Thread.sleep(2000) // > ttl: the whole batch-1 summary expires together
      mem.addData(obs("c", 1): _*)
      awaitSink("post-expiry summary")(rows().exists(_.item == "c"))
      val afterExpiry = rows().filter(_.item == "c")
      // atomic expiry: the new batch starts from an EMPTY summary — total
      // is 1 (not 8 = stale total + 1), and the absent marker on truly
      // empty state must not trip the restore guard
      assert(afterExpiry.length === 1)
      assert(afterExpiry.head.groupTotal === 1,
        s"stale total survived expiry: ${afterExpiry.head}")
      assert(afterExpiry.head.estimate === 1)
    } finally q.stop()
    } finally clPrev match {
      case Some(v) => spark.conf.set(clKey, v)
      case None => spark.conf.unset(clKey)
    }
  }

  // ------------------------------------------------- streaming quality gate

  test("qualityGate: hand-checked running-quantile verdicts; batch replay ≡ one streaming micro-batch; sources isolated") {
    implicit val sc = spark.sqlContext
    // keep top 50%, bins of 10 over [0, 100): verdicts hand-derived in
    // the comments (quota floor admits the cold start; same-bin ties are
    // not "better"; the quota grows with the running count)
    val docs = Seq(
      graft.model.ScoredDoc(1L, "s", 95L), // nPrev 0, quota 1, nBetter 0 -> keep
      graft.model.ScoredDoc(2L, "s", 50L), // nPrev 1, quota 1, nBetter 1 -> drop
      graft.model.ScoredDoc(3L, "s", 96L), // same bin as 95: nBetter 0   -> keep
      graft.model.ScoredDoc(4L, "s", 10L), // nPrev 3, quota 2, nBetter 3 -> drop
      graft.model.ScoredDoc(5L, "s", 94L), // nPrev 4, quota 2, nBetter 0 -> keep
      graft.model.ScoredDoc(10L, "t", 5L)) // other source: cold start    -> keep
    val mem = MemoryStream[graft.model.ScoredDoc]
    val out = Processors.qualityGate(
      mem.toDS(), keepPpm = 500000L, binLo = 0L, binWidth = 10L, nBins = 10)
    val q = out.writeStream.format("memory").queryName("qgate1").outputMode("append").start()
    val streamed = try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      spark.table("qgate1").as[graft.model.QualityVerdict].collect().toVector.sortBy(_.sid)
    } finally q.stop()
    assert(streamed.map(v => v.sid -> v.keep) ===
      Vector(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true, 10L -> true))
    // the batch face IS the one-micro-batch replay, row for row — the
    // contract the d_quality_gate oracle row rests on
    val batch = Processors.qualityGateBatch(
        docs.toDF(), "sid", "source", "score",
        keepPpm = 500000L, binLo = 0L, binWidth = 10L, nBins = 10)
      .collect().toVector.sortBy(_.sid)
    assert(batch === streamed,
      s"batch replay diverged:\nbatch   =$batch\nstreamed=$streamed")
  }

  test("qualityGate: state carries across micro-batches — sid-ordered batches fold ≡ one batch over the concatenation; kill-and-resume ≡ uninterrupted") {
    implicit val sc = spark.sqlContext
    // deterministic scores, two sources, split into sid-ordered phases —
    // the sequential-fold property makes phase-split streaming equal one
    // fold over the concatenation (and the batch face computes that fold)
    val all = (1L to 60L).map { i =>
      graft.model.ScoredDoc(i, if (i % 3 == 0) "a" else "b", (i * 37) % 100)
    }
    val (phase1, phase2) = all.partition(_.sid <= 30L)
    val expect = Processors.qualityGateBatch(
        all.toDF(), "sid", "source", "score",
        keepPpm = 300000L, binLo = 0L, binWidth = 5L, nBins = 20)
      .collect().toVector.sortBy(_.sid)

    val base = tmpDir("qgate_endure").toString
    def run(tag: String, kill: Boolean): Vector[graft.model.QualityVerdict] = {
      val out = s"$base/$tag/out"; val ckpt = s"$base/$tag/ckpt"
      val mem = MemoryStream[graft.model.ScoredDoc]
      val gated = Processors.qualityGate(
        mem.toDS(), keepPpm = 300000L, binLo = 0L, binWidth = 5L, nBins = 20)
      def start() = gated.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      try { mem.addData(phase1: _*); q1.processAllAvailable() } finally if (kill) q1.stop()
      if (kill) {
        mem.addData(phase2: _*) // lands while the query is DOWN
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      } else {
        try { mem.addData(phase2: _*); q1.processAllAvailable() } finally q1.stop()
      }
      spark.read.parquet(out).as[graft.model.QualityVerdict]
        .collect().toVector.sortBy(_.sid)
    }
    val straight = run("straight", kill = false)
    assert(straight === expect,
      "two sid-ordered micro-batches diverged from the single concatenated fold")
    val interrupted = run("killed", kill = true)
    assert(interrupted === straight,
      s"kill-and-resume diverged from the uninterrupted run")
    // exactly-once across the kill, and the gate actually discriminates
    assert(interrupted.map(_.sid).distinct.length === interrupted.length)
    assert(interrupted.exists(_.keep) && interrupted.exists(!_.keep))
  }
}
