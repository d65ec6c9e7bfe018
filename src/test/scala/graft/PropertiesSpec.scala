package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.stateful.StatefulMerger

class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def holds(p: Prop): Boolean =
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p).passed

  private val fieldGen = Gen.oneOf("a", "b", "c", "updatedAt", "modifiedAt")
  private val payloadGen: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(fieldGen, Gen.choose(0, 9).map(_.toString)))

  private def renderJson(m: Map[String, String], order: Seq[String]): String =
    order.filter(m.contains).map(k => s""""$k": ${m(k)}""").mkString("{", ", ", "}")

  test("property: payload hash is invariant under key order and excluded-field noise") {
    val excluded = Set("updatedAt", "modifiedAt")
    val p = Prop.forAll(payloadGen, Gen.choose(0, 999)) { (m, noise) =>
      val base = m -- excluded
      val orders = base.keys.toSeq.permutations.take(3).toSeq
      val noisy = base + ("updatedAt" -> noise.toString)
      val h0 = StatefulMerger.hashPayload(renderJson(base, base.keys.toSeq.sorted), excluded)
      orders.forall { o =>
        StatefulMerger.hashPayload(renderJson(noisy, o :+ "updatedAt"), excluded) == h0
      }
    }
    assert(holds(p))
  }

  test("property: payloads differing on a kept field hash differently") {
    val p = Prop.forAll(payloadGen.suchThat(_.contains("a"))) { m =>
      val base = renderJson(m, m.keys.toSeq.sorted)
      val changed = m.updated("a", (m("a").toInt + 1).toString)
      StatefulMerger.hashPayload(base, Set.empty) !=
        StatefulMerger.hashPayload(renderJson(changed, changed.keys.toSeq.sorted), Set.empty)
    }
    assert(holds(p))
  }

  // Spark-level properties on seeded random frames (few cases, real plans)
  private def randomEvents(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      (s"k${rnd.nextInt(5)}", rnd.nextInt(20).toLong, i.toLong, s"""{"v": ${rnd.nextInt(3)}}""")
    }.toDF("k", "sec", "tie", "payload").withColumn("ts", timestamp_seconds($"sec"))
  }

  test("property: dedup is idempotent and keeps exactly one row per key") {
    Seq(1L, 7L, 42L).foreach { seed =>
      val df = randomEvents(seed, 60)
      val d = graft.stateful.Deduplicator(Seq("k"))
      val once = d.batch(df, "ts", "tie")
      val twice = d.batch(once, "ts", "tie")
      assert(once.count() === df.select("k").distinct().count(), s"seed=$seed")
      assert(
        once.select("k", "tie").as[(String, Long)].collect().toSet ===
          twice.select("k", "tie").as[(String, Long)].collect().toSet,
        s"seed=$seed")
    }
  }

  test("property: merger output never has two consecutive equal payloads per key") {
    Seq(3L, 9L, 99L).foreach { seed =>
      val df = randomEvents(seed, 80)
      val kept = StatefulMerger(Seq("k"), "payload").batch(df, "ts", "tie")
      val seqs = kept
        .select($"k", unix_micros($"ts"), $"tie", $"payload").as[(String, Long, Long, String)]
        .collect().groupBy(_._1).values
      seqs.foreach { rows =>
        val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
        ordered.sliding(2).foreach {
          case Array(a, b) => assert(a !== b, s"seed=$seed")
          case _ =>
        }
      }
    }
  }

  test("property: session_window matches an independent gaps-and-islands reference") {
    val gapSec = 60L
    Seq(11L, 23L, 77L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val events = (1 to 120).map(i => (s"u${rnd.nextInt(4)}", rnd.nextInt(2000).toLong, i.toLong))
      // independent reference: sort per user, split where gap >= gapSec
      val expected = events.groupBy(_._1).flatMap { case (u, es) =>
        val sorted = es.map(e => (e._2, e._3)).sortBy(identity)
        val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, Long)]]) { (acc, e) =>
          if (acc.nonEmpty && e._1 - acc.last.last._1 <= gapSec) acc.init :+ (acc.last :+ e)
          else acc :+ Vector(e)
        }
        sessions.map(s => (u, s.head._1 * 1000000L, (s.last._1 + gapSec) * 1000000L, s.size.toLong))
      }.toSet
      val df = events.toDF("user", "sec", "tie")
        .withColumn("ts", timestamp_seconds($"sec"))
      val got = graft.stateful.SessionAnalyzer("user", "ts", "60 seconds")
        .analyze(df, "user", "tie")
        .select("key", "session_start_us", "session_end_us", "event_count")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("property: DynamicJoiner batch matches an independent nested-loop reference") {
    Seq(2L, 31L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def side(n: Int, idBase: Int) =
        (1 to n).map(i => (s"k${rnd.nextInt(6)}", idBase + i, rnd.nextInt(500).toLong))
      val ls = side(40, 0)
      val rs = side(40, 1000)
      val ttlSec = 30L
      val expected: Set[(Int, Option[Int])] = ls.flatMap { l =>
        val matches = rs.filter(r => r._1 == l._1 && math.abs(r._3 - l._3) <= ttlSec)
        if (matches.isEmpty) Seq((l._2, None)) else matches.map(r => (l._2, Some(r._2)))
      }.toSet
      val lDf = ls.toDF("l_key", "l_id", "sec").withColumn("l_ts", timestamp_seconds($"sec"))
      val rDf = rs.toDF("r_key", "r_id", "sec").withColumn("r_ts", timestamp_seconds($"sec"))
      val got = graft.joins.DynamicJoiner("l_key", "r_key", "l_ts", "r_ts", ttlSec * 1000, "left_outer")
        .batch(lDf, rDf)
        .select("l_id", "r_id").as[(Int, Option[Int])].collect().toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("property: duplicateClustersAlternating matches a driver union-find reference") {
    Seq(7L, 19L, 43L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 60 + rnd.nextInt(60)
      // mixed topology: sparse random edges + one deliberate hub + one chain
      val es = (Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        (1 to 8).map(i => (500L, 500L + i)) ++
        (600L until 615L).map(i => (i, i + 1)))
        .filter { case (a, b) => a != b }
      // driver reference: textbook union-find, labels = component min
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      val got = graft.data.Dedup.duplicateClustersAlternating(es.toDF("i", "j"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"seed=$seed n=$n")
    }
  }

  test("property: stripBoilerplate matches a driver-side mirror and strip∘strip = strip") {
    // idempotence is structural: removal is by WHOLE chunk, so surviving
    // chunks keep their boundaries, their content, and their global doc
    // sets — every kept chunk's count stays below minDocs on a second pass
    val c = 5
    val minDocs = 2
    Seq(11L, 23L, 59L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 40).map(i => s"w$i")
      val boiler = (0 until c).map(i => s"B$i").mkString(" ")
      val docs = (1L to 40L).map { id =>
        val body = Seq.fill(rnd.nextInt(5) * c + rnd.nextInt(c + 1))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
        // chunk-aligned plant at position 0 in ~half the docs
        (id, if (rnd.nextBoolean()) s"$boiler $body".trim else body)
      }
      def chunksOf(t: String) =
        t.split("\\s+").filter(_.nonEmpty).grouped(c).map(_.mkString(" ")).toVector
      val nDocs = docs.flatMap { case (id, t) => chunksOf(t).distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val boilerSet = nDocs.filter(_._2 >= minDocs).keySet
      assert(boilerSet.contains(boiler), s"seed=$seed: planted boilerplate not detected by mirror")
      val expect = docs.map { case (id, t) =>
        val cs = chunksOf(t)
        val kept = cs.filterNot(boilerSet)
        id -> (cs.size.toLong, (cs.size - kept.size).toLong, kept.mkString(" "))
      }.toMap
      val got = graft.data.CorpusOps
        .stripBoilerplate(docs.toDF("doc_id", "text"), "doc_id", "text", c, minDocs)
        .select($"doc_id", $"n_chunks", $"n_removed", $"cleaned")
        .as[(Long, Long, Long, String)].collect()
        .map { case (id, nc, nr, cl) => id -> (nc, nr, cl) }.toMap
      assert(got === expect, s"seed=$seed")
      assert(got.exists(_._2._2 > 0), s"seed=$seed: nothing stripped — vacuous case")
      // doc untouched ⇔ none of its chunks are in the boilerplate set
      docs.foreach { case (id, t) =>
        val shares = chunksOf(t).exists(boilerSet)
        assert((got(id)._2 > 0) === shares, s"seed=$seed doc=$id untouched⇔no-shared-chunk broken")
      }
      // strip∘strip = strip: the second pass removes nothing and is a no-op
      val again = graft.data.CorpusOps
        .stripBoilerplate(
          got.toSeq.map { case (id, (_, _, cl)) => (id, cl) }.toDF("doc_id", "text"),
          "doc_id", "text", c, minDocs)
        .select($"doc_id", $"n_removed", $"cleaned").as[(Long, Long, String)].collect()
      again.foreach { case (id, nr, cl) =>
        assert(nr === 0L, s"seed=$seed: second strip removed chunks for doc $id")
        assert(cl === got(id)._3, s"seed=$seed: second strip changed doc $id")
      }
    }
  }

  test("property: replayDlq of a replay converges — counter monotone per round, no loss, fixpoint until fixed") {
    import graft.jobs.{JobFixtures, KafkaToMongoJob}
    val ref = graft.core.Tables.eventsAsEnvelopes(spark, sf).filter($"source" === "signup")
    val refs = Seq("Ref1" -> ref)
    Seq((7, 3), (11, 4)).foreach { case (mod, rounds) =>
      val raw = JobFixtures.rawEnvelopes(spark, sf)
      val pk = get_json_object($"value", "$.primaryKey").cast("long")
      val poisoned = raw.select(
        when(pk % mod === 0, concat(lit("CORRUPT|"), $"value")).otherwise($"value").as("value"))
      val (_, dlqOpt) = KafkaToMongoJob.build(poisoned, refs, JobFixtures.fixedClock)
      var dead = dlqOpt.get.cache()
      val n0 = dead.count()
      assert(n0 > 0, s"mod=$mod produced no dead letters — vacuous")
      val attemptOf = regexp_extract($"errorMessage", "replay attempt (\\d+)", 1).cast("int")
      (1 to rounds).foreach { r =>
        val (good, still) = KafkaToMongoJob.replayDlq(dead, refs, JobFixtures.fixedClock)
        assert(good.count() === 0, s"mod=$mod round $r recovered unfixed rows")
        dead = still.cache()
        // no loss, and EVERY row's counter equals the round — monotone by
        // exactly one per replay, with no stalls and no extra counters
        assert(dead.count() === n0, s"mod=$mod round $r lost/duplicated rows")
        assert(dead.filter(attemptOf === r).count() === n0, s"mod=$mod round $r counter wrong")
        assert(
          dead.filter($"errorMessage".contains("replay attempt") &&
            !($"errorMessage".rlike("\\(replay attempt \\d+\\)$"))).count() === 0,
          s"mod=$mod round $r counter not a single trailing suffix")
      }
      // the operator's fix recovers every row; the DLQ drains completely
      val fixedRaw = dead.withColumn("rawEvent", regexp_replace($"rawEvent", "^CORRUPT\\|", ""))
      val (rec, still) = KafkaToMongoJob.replayDlq(fixedRaw, refs, JobFixtures.fixedClock)
      assert(rec.count() === n0 && still.count() === 0, s"mod=$mod fixed replay did not drain")
    }
  }

  test("property: bloom screen loses no true bench gram and bounds false positives") {
    import graft.data.{Decontaminate, TextAnalysis}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    Seq(1L, 17L, 101L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(3) // gram size 1..3
      def doc(words: Int, base: Int) =
        Seq.fill(words)(s"w${base + rnd.nextInt(400)}").mkString(" ")
      // every 3rd train doc embeds a bench doc VERBATIM (plus tail noise),
      // so shared n-grams are guaranteed at any n <= 8 — same-vocab random
      // docs alone can miss sharing a single bigram at some seeds
      val benchRows = (1 to 30).map(i => (i.toLong, doc(8, 0)))
      val bench = benchRows.toDF("doc_id", "text")
      val train = (1 to 60)
        .map { i =>
          val t =
            if (i % 3 == 0) s"${benchRows((i / 3 - 1) % 30)._2} ${doc(4, 100000)}"
            else doc(10, 100000)
          (i.toLong, t)
        }
        .toDF("doc_id", "text")
      // end-to-end: bloom prunes, exact join decides -> byte-identical hits
      val exact = Decontaminate.hits(train, bench, "doc_id", "text", n)
        .as[(Long, Long)].collect().toMap
      assert(exact.nonEmpty, s"seed=$seed n=$n: no contamination — vacuous")
      val model = Decontaminate.buildBloomModel(bench, "text", n)
      val bloom = Decontaminate
        .hitsBloomWith(train, bench, "doc_id", "text", n, model)
        .as[(Long, Long)].collect().toMap
      assert(bloom === exact, s"seed=$seed n=$n: bloom face diverged from exact")
      // probe-level: NO false negatives (every bench gram passes its own
      // bloom — the superset guarantee the pruning correctness rests on),
      // and the FP rate on known non-members stays within bound
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("_toks", TextAnalysis.tokens($"text"))
        .select(explode(TextAnalysis.ngrams($"_toks", n)).as("_g"))
        .distinct()
      val probe = ColumnBridge.column(BloomFilterMightContain(
        Literal(model, org.apache.spark.sql.types.BinaryType),
        new XxHash64(Seq(ColumnBridge.expression($"_g")))))
      val benchGrams = grams(bench)
      assert(benchGrams.filter(!probe).count() === 0,
        s"seed=$seed n=$n: bloom rejected a true bench gram")
      val benchSet = benchGrams.as[String].collect().toSet
      val nonMembers = grams(train).filter(!$"_g".isin(benchSet.toSeq: _*))
      val total = nonMembers.count()
      val pass = nonMembers.filter(probe).count()
      // default sizing targets 3% fpp; 15% is a generous noise-proof bound
      assert(total > 50, s"seed=$seed n=$n: too few non-members to measure FP rate")
      assert(pass.toDouble / total <= 0.15,
        s"seed=$seed n=$n: FP rate ${pass.toDouble / total} above bound ($pass/$total)")
    }
  }

  test("property: two racing ModelStore writers — one winner, reader never torn") {
    import graft.data.ModelStore
    (1 to 4).foreach { round =>
      val base = tmpDir(s"race-$round").toString
      val path = s"$base/model"
      val mA = Seq(Seq(1.0 + round, 2.0), Seq(3.0, 4.0))
      val mB = Seq(Seq(9.0 + round, 8.0), Seq(7.0, 6.0))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(mA, mB).map { m =>
        new Thread(() =>
          try { barrier.await(); ModelStore.centroidsOrTrain(spark, path)(m); () }
          catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      // neither racer may fail: a lost first-writer race is benign
      assert(errs.isEmpty, s"round=$round racer threw: ${errs.peek()}")
      // exactly one COMPLETE model on disk — one of the two, never a blend
      val winner = ModelStore.loadCentroids(spark, path)
      assert(winner === mA || winner === mB, s"round=$round torn model: $winner")
      // and later readers reuse it without retraining
      val again = ModelStore.centroidsOrTrain(spark, path)(sys.error("must not retrain"))
      assert(again === winner, s"round=$round reload mismatch")
      // no stage debris left behind
      val debris = new java.io.File(base).listFiles().map(_.getName).filter(_.contains(".stage-"))
      assert(debris.isEmpty, s"round=$round stage debris: ${debris.toSeq}")
    }
    // bytes input: the same two racers, with a third thread evicting the
    // model underneath them (another JVM's evictStale) — a model vanishing
    // between the existence check and the read must retrain, never throw
    (1 to 4).foreach { round =>
      val path = s"${tmpDir(s"race-bytes-$round")}/model"
      val mA = Array.fill[Byte](4096)(round.toByte)
      val mB = Array.fill[Byte](4096)((round + 100).toByte)
      ModelStore.saveBytes(path, mA)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val torn = new java.util.concurrent.atomic.AtomicInteger()
      val racers = Seq(mA, mB).map { m =>
        new Thread(() =>
          try (1 to 2000).foreach { _ =>
            val got = ModelStore.bytesOrTrain(path)(m)
            if (!(got.sameElements(mA) || got.sameElements(mB))) torn.incrementAndGet()
          } catch { case t: Throwable => errs.add(t) })
      }
      val evictor = new Thread(() =>
        while (!stop.get()) java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path)): Unit)
      evictor.start()
      racers.foreach(_.start())
      racers.foreach(_.join(60000))
      stop.set(true)
      evictor.join(60000)
      assert(errs.isEmpty, s"round=$round bytes racer threw under eviction: ${errs.peek()}")
      assert(torn.get() === 0, s"round=$round bytes reader saw a torn model")
    }
  }

  test("evict-under-reader: a model vanishing mid-read falls back to retrain, not a crash") {
    import graft.data.ModelStore
    val m = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val m2 = Seq(Seq(5.0, 6.0), Seq(7.0, 8.0))
    // shape 1: eviction mid-delete — parquet data files gone, _SUCCESS
    // still present (deleteQuietly removes children in listing order, so a
    // concurrent reader can observe exactly this). done() passes, the read
    // fails on missing data, and the contract is retrain-and-persist.
    val base1 = tmpDir("evict-read-1").toString
    val p1 = s"$base1/model"
    ModelStore.saveCentroids(spark, p1, m)
    new java.io.File(p1).listFiles().filter(_.getName != "_SUCCESS").foreach(_.delete())
    assert(new java.io.File(p1, "_SUCCESS").exists(), "precondition: marker lingers")
    val recovered = ModelStore.centroidsOrTrain(spark, p1)(m2)
    assert(recovered === m2, "reader must retrain when the model vanished underneath")
    // and the retrained model was re-persisted for the next reader
    assert(ModelStore.centroidsOrTrain(spark, p1)(sys.error("must not retrain")) === m2)
    // shape 2: same race for codebooks, directory fully gone after done()
    // is indistinguishable from first-run (covered by the !done branch) —
    // here pin the mid-delete shape for the codebook loader too
    val base2 = tmpDir("evict-read-2").toString
    val p2 = s"$base2/model"
    val cb = Seq(Seq(Seq(1.0, 2.0)), Seq(Seq(3.0, 4.0)))
    val cb2 = Seq(Seq(Seq(9.0, 9.0)), Seq(Seq(8.0, 8.0)))
    ModelStore.saveCodebooks(spark, p2, cb)
    new java.io.File(p2).listFiles().filter(_.getName != "_SUCCESS").foreach(_.delete())
    assert(ModelStore.codebooksOrTrain(spark, p2)(cb2) === cb2)
    // a corrupt-but-present model must STILL rethrow (not silently retrain)
    val base3 = tmpDir("evict-read-3").toString
    val p3 = s"$base3/model"
    ModelStore.saveCentroids(spark, p3, m)
    new java.io.File(p3).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](64)(0x5a))
    }
    val ex = intercept[Exception] {
      ModelStore.centroidsOrTrain(spark, p3)(sys.error("RETRAIN-SENTINEL"))
    }
    // the rethrow must be the decode failure, not the retrain path firing
    assert(!String.valueOf(ex.getMessage).contains("RETRAIN-SENTINEL"),
      "corrupt-but-present model silently retrained instead of rethrowing")
  }

  test("property: compact preserves the exact row multiset under heavy duplication") {
    // exact duplicate rows share one xxhash64 tiebreaker value — the
    // retry-determinism trade-off must never cost a row or mint one
    import graft.connectors.CorpusWriter
    Seq(5L, 29L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val base = tmpDir(s"compact-dup-$seed").toString
      val src = s"$base/src"
      val dst = s"$base/dst"
      // 4000 rows over 15 distinct values -> ~266 copies of each row
      (1 to 4000).map(_ => (s"k${rnd.nextInt(3)}", rnd.nextInt(5)))
        .toDF("k", "v").repartition(25).write.parquet(src)
      def parquetBytes(p: String) = new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      CorpusWriter.compact(spark, src, dst, targetFileBytes = parquetBytes(src) / 4,
        keyCols = Seq("k"))
      val before = spark.read.parquet(src).groupBy("k", "v").count()
        .as[(String, Int, Long)].collect().toSet
      val after = spark.read.parquet(dst).groupBy("k", "v").count()
        .as[(String, Int, Long)].collect().toSet
      assert(after === before, s"seed=$seed: row multiset changed")
    }
  }

  test("property: run-length-collapsed MG fold == arrival-by-arrival Misra-Gries, all feeds") {
    // pins the closed-form algebra both heavy-hitters faces (and the batch
    // face's DuckDB oracle) rest on: a run of c identical arrivals folds to
    // the same summary as c single arrivals, for every feed shape — full
    // summary evictions, c == mmin boundary, empty-summary wipeouts
    // included — from every prior summary the streaming processor can
    // restore (empty for the batch face; up to k + 1 counters, as after a
    // restart with a smaller k)
    val feedGen = for {
      nItems <- Gen.choose(1, 12)
      len <- Gen.choose(0, 120)
      items <- Gen.listOfN(len, Gen.choose(0, nItems - 1).map(i => s"i$i"))
      k <- Gen.choose(1, 6)
      priorSize <- Gen.choose(0, k + 1)
      priorItems <- Gen.pick(priorSize, (0 until 14).map(i => s"i$i"))
      priorCounts <- Gen.listOfN(priorSize, Gen.choose(1L, 20L))
      priorExtra <- Gen.choose(0L, 30L)
    } yield (items, k, priorItems.toList.zip(priorCounts), priorExtra)
    val p = Prop.forAll(feedGen) { case (items, k, prior, priorExtra) =>
      val priorTotal = prior.map(_._2).sum + priorExtra
      // reference: the arrival-by-arrival fold over batch-sorted rows,
      // starting from the prior summary
      val m = scala.collection.mutable.HashMap.from(prior)
      items.sorted.foreach { it =>
        m.get(it) match {
          case Some(c) => m(it) = c + 1
          case None if m.size < k => m(it) = 1L
          case None =>
            m.keysIterator.toVector.foreach { ki =>
              val c = m(ki) - 1
              if (c == 0) m.remove(ki) else m(ki) = c
            }
        }
      }
      val ref = m.toVector.sortBy { case (i, c) => (-c, i) }
      val runs = items.groupBy(identity).view.mapValues(_.size.toLong)
        .toVector.sortBy(_._1)
      val (got, total) = graft.stateful.Processors.mgFoldRuns(runs.iterator, k, prior, priorTotal)
      got == ref && total == priorTotal + items.length
    }
    assert(holds(p))
  }

  test("property: upsert applyBatch is idempotent (replay converges)") {
    Seq(5L, 13L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val updates = (1 to 40).map { i =>
        val op = if (rnd.nextInt(4) == 0) "DELETE" else "insert"
        (s"k${rnd.nextInt(8)}", op, s"""{"v": $i}""",
          new java.sql.Timestamp(1000L * rnd.nextInt(100)), s"t$i")
      }.toDF("primaryKey", "operation", "payloadJson", "eventTime", "traceId")
      val empty = graft.connectors.UpsertSink.emptyTable(spark)
      val once = graft.connectors.UpsertSink.applyBatch(empty, updates, "eventTime", "traceId")
      val twice = graft.connectors.UpsertSink.applyBatch(once, updates, "eventTime", "traceId")
      assert(
        once.select("_id", "doc").as[(String, String)].collect().toSet ===
          twice.select("_id", "doc").as[(String, String)].collect().toSet,
        s"seed=$seed")
    }
  }
}
