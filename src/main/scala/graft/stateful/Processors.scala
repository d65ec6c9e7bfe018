package graft.stateful

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._
import graft.model.{ChangelogEvent, StreamEnvelop}

/** Spark-4-native stateful operators on `transformWithState`
  * (`StatefulProcessor` + per-key state with built-in TTL + timers) — the
  * direct replacement for Flink's `KeyedProcessFunction` + `StateTtlConfig`
  * the reference uses (SURVEY §4.2). These are the only streaming faces of
  * the dedup, change-suppression, materialize and flow-disruption
  * operators; Deduplicator, StatefulMerger, Materializer and
  * FlowDisruptionDetector hold their batch faces. Every keyed streaming
  * operator in the codebase, [[graft.joins.StreamingAsOfJoiner]]'s
  * included, runs through the one wiring [[keyed]].
  *
  * transformWithState needs the RocksDB state store provider, which every
  * [[graft.core.GraftSession]] session carries.
  */
object Processors {

  /** Epoch MICROS of a Timestamp — `getTime` alone truncates to millis,
    * which would collapse distinct same-millisecond events and diverge from
    * the batch faces' microsecond columns (fixtures carry true micros).
    */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The one keyed-state wiring: group `ds` by `key` and run the processor
    * `processor` builds from the state TTL, in append mode. The clock is
    * event time when the processor's timers are (`eventTime`), processing
    * time when it has a state TTL (`ttlMs > 0`) or a processing-time timer
    * (`timeoutMs > 0`), and none otherwise: a processing-time query keeps
    * running no-data batches, which is waste when nothing can expire.
    */
  private[graft] def keyed[I, K: Encoder, O: Encoder](
      ds: Dataset[I],
      ttlMs: Long = 0L,
      timeoutMs: Long = 0L,
      eventTime: Boolean = false
  )(key: I => K)(processor: TTLConfig => StatefulProcessor[K, I, O]): Dataset[O] = {
    val ttl = if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs)) else TTLConfig.NONE
    val timeMode =
      if (eventTime) TimeMode.EventTime()
      else if (ttlMs > 0 || timeoutMs > 0) TimeMode.ProcessingTime()
      else TimeMode.None()
    ds.groupByKey(key).transformWithState(processor(ttl), timeMode, OutputMode.Append())
  }

  /** Streaming near-dup candidate detection, keyed by LSH band bucket:
    * the first doc to claim a bucket owns it (ValueState[Long]); every
    * later doc hitting the bucket emits a [[graft.model.NearDupHit]]
    * pointing at the owner. Within one micro-batch, rows sort by sid so
    * the lowest id deterministically becomes the owner. Re-processing the
    * owner itself is silent (idempotent replay). State is one long per
    * live bucket, TTL-bounded.
    */
  class NearDupProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, graft.model.BandRow, graft.model.NearDupHit] {
    @transient private var owner: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long]("owner", Encoders.scalaLong, ttl)

    override def handleInputRows(
        key: String,
        rows: Iterator[graft.model.BandRow],
        timerValues: TimerValues
    ): Iterator[graft.model.NearDupHit] = {
      val sorted = rows.toVector.sortBy(_.sid)
      val out = Vector.newBuilder[graft.model.NearDupHit]
      var own: Option[Long] = if (owner.exists()) Some(owner.get()) else None
      sorted.foreach { r =>
        own match {
          case None =>
            owner.update(r.sid); own = Some(r.sid)
          case Some(o) if o != r.sid =>
            out += graft.model.NearDupHit(r.sid, o)
          case _ => ()
        }
      }
      out.result().iterator
    }
  }

  def nearDupBands(
      ds: Dataset[graft.model.BandRow],
      ttlMs: Long
  ): Dataset[graft.model.NearDupHit] = {
    import ds.sparkSession.implicits._
    keyed(ds, ttlMs)(_.bucket)(new NearDupProcessor(_))
  }

  /** Streaming heavy hitters per group (Misra-Gries summary in MapState):
    * the "domain flood / trending token" monitor of a crawl-ingest
    * pipeline. State per group is AT MOST k counters no matter how many
    * distinct items flow through — the property that makes the gate viable
    * on an unbounded stream — and every reported `estimate` obeys
    * `true - groupTotal/k <= estimate <= true`, so any item with true
    * frequency above groupTotal/k is guaranteed present in the summary.
    *
    * Each micro-batch emits the group's full updated summary (append mode:
    * monitoring reads the rows with the highest `groupTotal` per group).
    * Within a batch, rows fold in item order so replays are deterministic
    * under any partitioning (MG estimates are order-sensitive; pinning the
    * fold order pins the output): the batch's runs of equal items fold
    * through [[mgFoldRuns]], seeded with the restored summary — the one
    * fold [[heavyHittersBatch]] runs too. The decrement step costs O(k) —
    * the classic MG trade for bounded memory.
    */
  class HeavyHittersProcessor(k: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, graft.model.ItemObservation, graft.model.HeavyHitter] {
    require(k >= 1, s"heavyHitters: k must be >= 1, got $k")
    @transient private var counters: MapState[String, Long] = _

    /** Item keys are stored under an "i" prefix and the total under bare
      * "t", so NO input string can collide with the reserved entry — a
      * crash-on-collision require would turn a valid data row into a
      * checkpoint-replayed poison pill.
      *
      * The group total lives as a RESERVED key in the SAME MapState as the
      * counters (not a sibling ValueState): every batch clears and rewrites
      * the whole map, so all entries — counters and total — carry the same
      * TTL deadline and expire atomically. Split across two states, a TTL
      * firing between their expiries could leave a surviving total over
      * reset counters (or vice versa), silently voiding the MG bound
      * `true - groupTotal/k <= estimate`.
      */
    private val TotalKey = "t"

    /** Explicit layout-version marker, rewritten with every batch. The
      * key-shape guard below is only probabilistic against the pre-r9
      * UNPREFIXED layout: an old item literally named "iphone" parses as a
      * new-layout entry (mangled to "phone"), and an old item "t" reads as
      * the group total. Requiring this marker on every non-empty restore
      * turns those silent corruptions into the same fail-fast the shape
      * guard gives (ADVICE r10).
      */
    private val VersionKey = "v"
    private val LayoutVersion = 2L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[String, Long](
        "mg", Encoders.STRING, Encoders.scalaLong, ttl)

    override def handleInputRows(
        key: String,
        rows: Iterator[graft.model.ItemObservation],
        timerValues: TimerValues
    ): Iterator[graft.model.HeavyHitter] = {
      val prior = Vector.newBuilder[(String, Long)]
      var n = 0L
      var sawVersion = false
      var sawAny = false
      counters.iterator().foreach { e =>
        sawAny = true
        e match {
          case (VersionKey, ver) =>
            if (ver != LayoutVersion)
              throw new IllegalStateException(
                s"heavyHitters: state layout version $ver != $LayoutVersion — " +
                  "this checkpoint was written by an incompatible state " +
                  "layout; restart the query from a fresh checkpoint location")
            sawVersion = true
          case (TotalKey, c) => n = c
          case (ki, c) if ki.startsWith("i") => prior += ki.drop(1) -> c
          case (ki, _) =>
            // Shape guard: the pre-r9 layout stored item keys UNPREFIXED
            // (total in a sibling "total" ValueState). Restoring such a
            // checkpoint under this layout would silently mangle every
            // counter key via drop(1) and read an item named "t" as the
            // group total — fail fast instead; the layout change is
            // checkpoint-incompatible and needs a fresh checkpoint.
            throw new IllegalStateException(
              s"heavyHitters: state entry '$ki' is not 'i'-prefixed — this " +
                "checkpoint was written by an older, incompatible state " +
                "layout; restart the query from a fresh checkpoint location")
        }
      }
      if (sawAny && !sawVersion)
        // non-empty state without the marker: every entry happened to parse
        // under the new shape, but the writer predates the marker — the
        // probabilistic hole the marker exists to close; fail fast.
        throw new IllegalStateException(
          "heavyHitters: restored state lacks the layout-version marker — " +
            "this checkpoint was written by an older, incompatible state " +
            "layout; restart the query from a fresh checkpoint location")
      val runs = rows.toVector.groupMapReduce(_.item)(_ => 1L)(_ + _).toVector.sortBy(_._1)
      val (summary, total) = mgFoldRuns(runs.iterator, k, prior.result(), n)
      counters.clear()
      counters.updateValue(VersionKey, LayoutVersion)
      counters.updateValue(TotalKey, total)
      summary.foreach { case (i, c) => counters.updateValue("i" + i, c) }
      summary.iterator.map { case (i, c) => graft.model.HeavyHitter(key, i, c, total) }
    }
  }

  /** [[HeavyHittersProcessor]] wired to a stream of observations. */
  def heavyHitters(
      ds: Dataset[graft.model.ItemObservation],
      k: Int,
      ttlMs: Long = 0L
  ): Dataset[graft.model.HeavyHitter] = {
    import ds.sparkSession.implicits._
    keyed(ds, ttlMs)(_.group)(new HeavyHittersProcessor(k, _))
  }

  /** The deterministic BATCH replay of [[heavyHitters]] — one logical
    * micro-batch holding the whole frame, empty prior state: exactly the
    * rows the streaming processor would emit for that batch
    * (spec-pinned equality in ProcessorsSpec, oracle-replayed by a
    * recursive-CTE MG fold in DuckDB). This is what gives the
    * streaming-only gate a three-check oracle row.
    *
    * The fold is the processor's, [[mgFoldRuns]] over the item-sorted
    * runs, from an empty summary.
    *
    * Scale shape: one (group,item) count aggregation (map-side combined),
    * then a secondary-sorted per-group fold (`flatMapSortedGroups`) that
    * streams runs through O(k) state — no group ever materializes in
    * memory, so a group with 10⁹ distinct items costs k counters, same
    * as the streaming state bound.
    */
  def heavyHittersBatch(
      df: org.apache.spark.sql.DataFrame,
      groupCol: String,
      itemCol: String,
      k: Int
  ): Dataset[graft.model.HeavyHitter] = {
    require(k >= 1, s"heavyHittersBatch: k must be >= 1, got $k")
    import df.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    df.select(col(groupCol).cast("string").as("grp"), col(itemCol).cast("string").as("item"))
      .groupBy(col("grp"), col("item"))
      .agg(count(lit(1)).as("c"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("item")) { (g, it) =>
        val (summary, n) = mgFoldRuns(it.map { case (_, item, c) => (item, c) }, k)
        summary.map { case (i, c) => graft.model.HeavyHitter(g, i, c, n) }.iterator
      }
  }

  /** The one Misra-Gries fold, behind both heavy-hitters faces: fold
    * `runs` of (item, arrivals), item-ASCENDING, into the `prior` summary
    * of `priorTotal` arrivals. A run of c arrivals folds in closed form,
    * exactly as c single arrivals would (PropertiesSpec pins it against the
    * arrival-by-arrival fold over random priors and feeds). Returns
    * (summary sorted by (-estimate, item), total arrivals).
    */
  private[graft] def mgFoldRuns(
      runs: Iterator[(String, Long)],
      k: Int,
      prior: Iterable[(String, Long)] = Nil,
      priorTotal: Long = 0L
  ): (Vector[(String, Long)], Long) = {
    val m = scala.collection.mutable.HashMap.from(prior)
    var n = priorTotal
    runs.foreach { case (item, c) =>
      n += c
      m.get(item) match {
        case Some(cur) => m(item) = cur + c
        case None =>
          // an absent item against a full summary: each arrival decrements
          // every counter, so the first min(left, mmin) arrivals drop every
          // counter by that much and evict the zeros; once a slot is free
          // the next arrival inserts and the rest increment, so the item
          // enters at whatever is left
          var left = c
          while (left > 0 && m.size >= k) {
            val drop = math.min(left, m.valuesIterator.min)
            m.keysIterator.toVector.foreach { ki =>
              val nc = m(ki) - drop
              if (nc == 0) m.remove(ki) else m(ki) = nc
            }
            left -= drop
          }
          if (left > 0) m(item) = left
      }
    }
    (m.toVector.sortBy { case (i, c) => (-c, i) }, n)
  }

  /** Streaming per-source QUALITY GATE against the running score
    * distribution — the streaming face of the corpus top-fraction cut
    * (VERDICT r16 #6): [[graft.data.CorpusOps.topFraction]] needs the whole
    * corpus before it can rank; an ingest pipeline must verdict each
    * arrival NOW. The gate keeps a doc iff it would rank within the top
    * `keepPpm`/1e6 of everything its source has streamed so far:
    *
    *   keep ⇔ nBetter < max(1, (nPrev + 1) · keepPpm div 1e6)
    *
    * where nBetter counts previously-seen docs in strictly HIGHER score
    * bins. State per source is a fixed `nBins`-bin histogram + count —
    * bounded on an unbounded stream, the MG-summary property (a GK sketch
    * bounds rank error tighter per byte, but the binned rule is EXACT on
    * its own bin grain, which is what makes the face oracle-replayable in
    * SQL — the integer tree and the bin function replay bit-for-bit).
    * The quota floor of 1 admits each source's first arrival (cold start:
    * nothing to rank against yet, so the gate trusts it). Bins:
    * `min((max(score − binLo, 0)) div binWidth, nBins−1)` — the clamp
    * keeps both operands non-negative so truncating and floor division
    * agree across engines. Rows fold in sid order within a batch (the
    * NearDupProcessor rule), so replays are deterministic under any
    * partitioning, and the sequential fold makes multi-batch streaming ≡
    * one fold over the concatenated arrivals (spec-pinned).
    */
  class QualityGateProcessor(
      keepPpm: Long, binLo: Long, binWidth: Long, nBins: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, graft.model.ScoredDoc, graft.model.QualityVerdict] {
    @transient private var st: ValueState[graft.model.QualityGateState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[graft.model.QualityGateState](
        "hist", Encoders.product[graft.model.QualityGateState], ttl)

    override def handleInputRows(
        key: String,
        rows: Iterator[graft.model.ScoredDoc],
        timerValues: TimerValues
    ): Iterator[graft.model.QualityVerdict] = {
      val cur =
        if (st.exists()) st.get()
        else graft.model.QualityGateState(new Array[Long](nBins), 0L)
      val bins = cur.bins.clone() // never mutate a state-store-owned array
      var n = cur.n
      val out = rows.toVector.sortBy(_.sid).map { r =>
        val v = qualityFoldOne(bins, n, r.sid, key, r.score, keepPpm, binLo, binWidth)
        n += 1
        v
      }
      st.update(graft.model.QualityGateState(bins, n))
      out.iterator
    }
  }

  def qualityGate(
      ds: Dataset[graft.model.ScoredDoc],
      keepPpm: Long,
      binLo: Long,
      binWidth: Long,
      nBins: Int,
      ttlMs: Long = 0L
  ): Dataset[graft.model.QualityVerdict] = {
    require(keepPpm >= 0 && keepPpm <= 1000000L, s"qualityGate: keepPpm=$keepPpm outside [0, 1e6]")
    require(binWidth > 0 && nBins > 0, s"qualityGate: need positive binWidth/nBins")
    import ds.sparkSession.implicits._
    keyed(ds, ttlMs)(_.source)(new QualityGateProcessor(keepPpm, binLo, binWidth, nBins, _))
  }

  /** The deterministic BATCH replay of [[qualityGate]] — one logical
    * micro-batch holding the whole frame, empty prior state (the
    * [[heavyHittersBatch]] / nearDupGateBatch rule): exactly the verdicts
    * the streaming gate emits for that batch, which is what gives the
    * streaming-only operator a three-check oracle row (`d_quality_gate`).
    *
    * Scale shape: ONE exchange on the source key, then a sid-sorted
    * per-source fold through O(nBins) state via `flatMapSortedGroups` —
    * the group streams, never materializes, so a source with 10⁹ docs
    * costs nBins longs, the same bound as the streaming state. The
    * imperative fold is the operator: arrival i's verdict depends on the
    * folded histogram of arrivals < i, which no window expression can
    * carry without materializing a per-row histogram. High-cardinality
    * grouping contract (sources/domains), like [[graft.data.CorpusOps.topFractionByGroup]].
    */
  def qualityGateBatch(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      srcCol: String,
      scoreCol: String,
      keepPpm: Long,
      binLo: Long,
      binWidth: Long,
      nBins: Int
  ): Dataset[graft.model.QualityVerdict] = {
    require(keepPpm >= 0 && keepPpm <= 1000000L,
      s"qualityGateBatch: keepPpm=$keepPpm outside [0, 1e6]")
    require(binWidth > 0 && nBins > 0, s"qualityGateBatch: need positive binWidth/nBins")
    import df.sparkSession.implicits._
    import org.apache.spark.sql.functions.col
    df.select(
        col(srcCol).cast("string").as("source"),
        col(idCol).cast("long").as("sid"),
        col(scoreCol).cast("long").as("score"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("sid")) { (src, it) =>
        val bins = new Array[Long](nBins)
        var n = 0L
        it.map { case (_, sid, score) =>
          val v = qualityFoldOne(bins, n, sid, src, score, keepPpm, binLo, binWidth)
          n += 1
          v
        }
      }
  }

  /** One arrival of the quality-gate fold, shared verbatim by the
    * streaming processor and the batch replay so the two faces can never
    * drift: verdict against the pre-arrival histogram, then the arrival
    * enters its bin (mutates `bins`). `(nPrev+1)·keepPpm` stays in 64-bit
    * to ~9.2e12 arrivals per source — beyond any real stream.
    */
  private[graft] def qualityFoldOne(
      bins: Array[Long],
      nPrev: Long,
      sid: Long,
      source: String,
      score: Long,
      keepPpm: Long,
      binLo: Long,
      binWidth: Long
  ): graft.model.QualityVerdict = {
    val bin = math.min(math.max(score - binLo, 0L) / binWidth, (bins.length - 1).toLong).toInt
    var nBetter = 0L
    var b = bin + 1
    while (b < bins.length) { nBetter += bins(b); b += 1 }
    val quota = math.max(1L, (nPrev + 1) * keepPpm / 1000000L)
    val keep = nBetter < quota
    bins(bin) += 1
    graft.model.QualityVerdict(sid, source, score, nPrev, nBetter, keep)
  }

  /** First-seen-wins dedup: ValueState[Boolean] "seen" with native state TTL
    * (reference pattern/dedup/Deduplicator.java:18-72).
    */
  class DedupProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, StreamEnvelop, StreamEnvelop] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, ttl)

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEnvelop],
        timerValues: TimerValues
    ): Iterator[StreamEnvelop] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        if (rows.hasNext) Iterator.single(rows.next()) else Iterator.empty
      }
    }
  }

  def dedup(
      ds: Dataset[StreamEnvelop],
      key: StreamEnvelop => String,
      ttlMs: Long
  ): Dataset[StreamEnvelop] = {
    import ds.sparkSession.implicits._
    keyed(ds, ttlMs)(key)(new DedupProcessor(_))
  }

  /** Latest-value-per-key changelog materialization: ValueState[String]
    * payload with native TTL (reference pattern/materialization/
    * Materializer.java:19-166). LWW merge; delete clears state.
    */
  class MaterializeProcessor(ttl: TTLConfig, isDelete: StreamEnvelop => Boolean)
      extends StatefulProcessor[String, StreamEnvelop, ChangelogEvent] {
    @transient private var current: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      current = getHandle.getValueState[String]("current", Encoders.STRING, ttl)

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEnvelop],
        timerValues: TimerValues
    ): Iterator[ChangelogEvent] =
      rows.flatMap { e =>
        val existing = if (current.exists()) Option(current.get()) else None
        if (isDelete(e)) {
          current.clear()
          existing.map(b => ChangelogEvent("DELETE", key, Some(b), None, e.eventTime))
        } else {
          current.update(e.payloadJson)
          existing match {
            case None => Some(ChangelogEvent("INSERT", key, None, Some(e.payloadJson), e.eventTime))
            case Some(b) => Some(ChangelogEvent("UPDATE", key, Some(b), Some(e.payloadJson), e.eventTime))
          }
        }
      }
  }

  def materialize(
      ds: Dataset[StreamEnvelop],
      isDelete: StreamEnvelop => Boolean,
      ttlMs: Long
  ): Dataset[ChangelogEvent] = {
    import ds.sparkSession.implicits._
    keyed(ds, ttlMs)(_.primaryKey)(new MaterializeProcessor(_, isDelete))
  }

  /** Fused CDC pipeline state: dedup-by-(key,eventTime) AND payload
    * change-suppression in ONE keyed state pass — what MongoToKafka's
    * Deduplicator→StatefulMerger chain becomes when productionized (one
    * shuffle, one state lookup per event, instead of two stateful hops;
    * the engine also does not support chaining two arbitrary per-group
    * stateful operators, so fusing is the correct streaming shape).
    * MapState tracks seen event-times per key, ValueState the last payload
    * hash, both with native TTL.
    *
    * A row with a NULL primaryKey (a payload without `_id`) has nothing to
    * dedup or suppress against: it passes through untouched and never
    * reads or writes state. The check is on the row itself, not on the
    * group key — [[cdcPipeline]] groups null keys under a placeholder that
    * a real key can equal, and those real rows are deduped as usual.
    */
  class CdcPipelineProcessor(ttl: TTLConfig, excludedFields: Set[String])
      extends StatefulProcessor[String, StreamEnvelop, StreamEnvelop] {
    @transient private var seenTs: MapState[Long, Boolean] = _
    @transient private var lastHash: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seenTs = getHandle.getMapState[Long, Boolean](
        "seenTs", Encoders.scalaLong, Encoders.scalaBoolean, ttl)
      lastHash = getHandle.getValueState[Long]("lastHash", Encoders.scalaLong, ttl)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEnvelop],
        timerValues: TimerValues
    ): Iterator[StreamEnvelop] =
      rows.filter { e =>
        lazy val ts = micros(e.eventTime) // micros: ms would merge distinct events
        if (e.primaryKey == null) true // no key: pass through, state untouched
        else if (seenTs.containsKey(ts)) false // duplicate (key, eventTime)
        else {
          seenTs.updateValue(ts, true)
          // __op joins the composite (reference MongoToKafkaJob buildChain):
          // a DELETE whose payload canonicalizes equal to the prior event's
          // payload must still reach the sink.
          changed(lastHash, e, excludedFields, Some(e.operation))
        }
      }.toVector.iterator
  }

  /** The change-suppression step of a keyed row, shared by
    * [[CdcPipelineProcessor]] and [[SuppressProcessor]]: true iff the
    * row's payload hash (`op` joining the composite) differs from the last
    * one its key emitted. Only an accepted row writes the hash, so a
    * suppressed row never postpones the state's TTL and an accepted one
    * re-anchors it (the reference's `OnCreateAndWrite`).
    */
  private def changed(
      lastHash: ValueState[Long],
      e: StreamEnvelop,
      excludedFields: Set[String],
      op: Option[String]
  ): Boolean = {
    val h = StatefulMerger.hashPayload(e.payloadJson, excludedFields, op)
    val differs = !lastHash.exists() || lastHash.get() != h
    if (differs) lastHash.update(h)
    differs
  }

  /** Group key for null-key rows: a null grouping key crashes
    * transformWithState (INTERNAL_ERROR_TWS "implicit key not found").
    */
  private val NullKeyGroup = ""

  def cdcPipeline(
      ds: Dataset[StreamEnvelop],
      ttlMs: Long,
      excludedFields: Set[String]
  ): Dataset[StreamEnvelop] = {
    import ds.sparkSession.implicits._
    keyed(ds, ttlMs)(e => if (e.primaryKey == null) NullKeyGroup else e.primaryKey)(
      new CdcPipelineProcessor(_, excludedFields))
  }

  /** Change suppression on its own — the streaming face of
    * [[StatefulMerger]] (reference pattern/merge/StatefulMerger.java:25-122):
    * a row passes iff its canonical payload, minus `excludedFields`,
    * differs from the last one its key emitted. State is that hash per
    * key, with native TTL re-anchored by accepted rows only (see
    * [[changed]]).
    *
    * A row whose key is null has nothing to suppress against: it groups
    * under the [[cdcPipeline]] placeholder, passes through untouched and
    * never reads or writes state.
    */
  class SuppressProcessor(
      ttl: TTLConfig,
      rowKey: StreamEnvelop => String,
      excludedFields: Set[String])
      extends StatefulProcessor[String, StreamEnvelop, StreamEnvelop] {
    @transient private var lastHash: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastHash = getHandle.getValueState[Long]("lastHash", Encoders.scalaLong, ttl)

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEnvelop],
        timerValues: TimerValues
    ): Iterator[StreamEnvelop] =
      rows.filter(e => rowKey(e) == null || changed(lastHash, e, excludedFields, None))
        .toVector.iterator
  }

  def suppress(
      ds: Dataset[StreamEnvelop],
      key: StreamEnvelop => String,
      ttlMs: Long,
      excludedFields: Set[String]
  ): Dataset[StreamEnvelop] = {
    import ds.sparkSession.implicits._
    keyed(ds, ttlMs)(e => Option(key(e)).getOrElse(NullKeyGroup))(
      new SuppressProcessor(_, key, excludedFields))
  }

  /** One update of one session window (a changelog of session results):
    * `firing` = 1 for the on-close emission, 2+ for allowedLateness
    * re-firings caused by late events.
    */
  final case class SessionUpdate(
      key: String,
      sessionStartUs: Long,
      sessionEndUs: Long,
      eventCount: Long,
      durationMs: Long,
      actions: String,
      firing: Int
  )

  private[stateful] final case class SessEvent(tsUs: Long, tie: String, action: String)
  private[stateful] final case class SessWindow(
      startUs: Long,
      endUs: Long, // last event + gap
      events: Seq[SessEvent],
      firings: Int // 0 = not yet fired
  )
  private[stateful] final case class SessState(windows: Seq[SessWindow])

  /** Event-time session windows WITH Flink's `allowedLateness` re-firing
    * (reference pattern/session/SessionAnalyzer.java:76-78): the built-in
    * `session_window` fires once on close (append-only), so this face keeps
    * session buffers in transformWithState state with event-time timers.
    *
    * Spark drops input rows older than the stream's watermark before they
    * reach a stateful operator, so the engine watermark is DELAYED by
    * lateness + gap (withWatermark delay = out-of-orderness + lateness +
    * gap) and every timer compensates by firing `lateness + gap` early:
    * with flinkWm = sparkWm + lateness + gap,
    *
    *  - close timer at (end − lateness − gap) ⇔ flinkWm ≥ end → session
    *    fires (firing 1) exactly when Flink's on-watermark firing would
    *  - a late event that passed the filter and lands in a FIRED session
    *    merges into the kept buffer and RE-FIRES immediately (firing 2, 3…)
    *  - cleanup timer at (end − gap) ⇔ flinkWm ≥ end + lateness — Flink's
    *    state cleanup horizon
    *  - admission boundary: Spark's filter drops ts < flinkWm − lateness −
    *    gap ⇔ ts + gap + lateness < flinkWm — BYTE-EXACT Flink semantics
    *    (Flink keeps a session row while its window is within lateness:
    *    ts + gap + lateness > flinkWm). The extra gap in the delay exists
    *    purely to close what used to be a gap-width dropped sliver; it
    *    admits no row the operator doesn't immediately absorb or re-fire
    *
    * Emits an update stream (append sink of session-result versions keyed
    * by (key, sessionStartUs); downstream compacts last-firing-wins —
    * note a late MERGE that shifts a fired window's start emits under the
    * new identity and leaves the old row stale, exactly as Flink does).
    *
    * State shape: the per-key window buffer lives in ONE ValueState, so a
    * batch pays O(buffered events) ser/de per touched key. Right for
    * session-sized buffers (the operator's contract); a workload buffering
    * thousands of events per key should move the event lists to ListState
    * (append-only delta writes) and keep only window bounds here.
    */
  class SessionLatenessProcessor(gapMs: Long, latenessMs: Long)
      extends StatefulProcessor[String, StreamEnvelop, SessionUpdate] {
    @transient private var st: ValueState[SessState] = _

    /** Every timer fires this much earlier than its Flink-time meaning —
      * the exact lag [[sessionsWithLateness]] adds to the watermark delay.
      */
    private val wmLagMs = latenessMs + gapMs

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState]("sessions", Encoders.product[SessState], TTLConfig.NONE)

    private def result(key: String, w: SessWindow): SessionUpdate = {
      val sorted = w.events.sortBy(e => (e.tsUs, e.tie))
      SessionUpdate(
        key, w.startUs, w.endUs, w.events.size.toLong,
        (w.endUs - w.startUs) / 1000L,
        sorted.map(_.action).mkString(","),
        w.firings)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEnvelop],
        timerValues: TimerValues
    ): Iterator[SessionUpdate] = {
      val gapUs = gapMs * 1000L
      var windows = if (st.exists()) st.get().windows else Seq.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
      rows.foreach { e =>
        val tsUs = micros(e.eventTime) // micros: batch face orders/bounds in µs
        val ev = SessEvent(tsUs, e.traceId, e.operation)
        // touch-merge every window overlapping [ts, ts+gap] (same boundary
        // semantics as session_window / the batch face)
        val (overlapping, rest) = windows.partition(w =>
          tsUs <= w.endUs && tsUs + gapUs >= w.startUs)
        // superseded components' pending timers would otherwise accumulate
        // one per extension and fire useless handleExpiredTimer passes;
        // same-key windows can't share an expiry (disjoint ⇒ distinct ends)
        overlapping.foreach { w =>
          if (w.firings == 0) getHandle.deleteTimer(w.endUs / 1000L - wmLagMs)
          else getHandle.deleteTimer(w.endUs / 1000L - gapMs)
        }
        val merged = SessWindow(
          startUs = (tsUs +: overlapping.map(_.startUs)).min,
          endUs = ((tsUs + gapUs) +: overlapping.map(_.endUs)).max,
          events = overlapping.flatMap(_.events) :+ ev,
          // max, not sum: merging two fired components must yield the NEXT
          // firing number (…, n, n+1), not a skip
          firings = (0 +: overlapping.map(_.firings)).max
        )
        if (merged.firings > 0) {
          // late event into an already-fired session: re-fire NOW. Like
          // Flink, a merge that shifts the window start emits under the NEW
          // (key, startUs) identity and the previously-fired row goes stale
          // (Flink does not retract either); downstream last-firing-wins
          // compaction supersedes same-identity rows only.
          val refired = merged.copy(firings = merged.firings + 1)
          out += result(key, refired)
          windows = rest :+ refired
          getHandle.registerTimer(refired.endUs / 1000L - gapMs) // fresh cleanup horizon
        } else {
          windows = rest :+ merged
          getHandle.registerTimer(merged.endUs / 1000L - wmLagMs) // close (wmLag-early)
        }
      }
      st.update(SessState(windows))
      out.iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo
    ): Iterator[SessionUpdate] = {
      val expiry = expiredTimerInfo.getExpiryTimeInMs()
      if (!st.exists()) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
      var windows = st.get().windows
      // first firing: flink-watermark passed lastEvent+gap
      windows = windows.map { w =>
        if (w.firings == 0 && w.endUs / 1000L - wmLagMs <= expiry) {
          val fired = w.copy(firings = 1)
          out += result(key, fired)
          getHandle.registerTimer(w.endUs / 1000L - gapMs) // cleanup (= end+lateness in flink time)
          fired
        } else w
      }
      // cleanup: flink-watermark passed end + lateness
      windows = windows.filterNot(w => w.firings > 0 && w.endUs / 1000L - gapMs <= expiry)
      if (windows.isEmpty) st.clear() else st.update(SessState(windows))
      out.iterator
    }
  }

  /** See [[SessionLatenessProcessor]]. Applies the lateness-delayed
    * watermark itself; needs the RocksDB state store provider, which
    * [[graft.core.GraftSession]] sessions carry.
    */
  def sessionsWithLateness(
      ds: Dataset[StreamEnvelop],
      gapMs: Long,
      latenessMs: Long,
      outOfOrdernessMs: Long = 0
  ): Dataset[SessionUpdate] = {
    import ds.sparkSession.implicits._
    // delay = ooo + lateness + GAP: the gap term admits the band of
    // very-late rows Flink would still absorb into a session within
    // lateness (ts + gap + lateness > flinkWm) — see the processor scaladoc
    val watermarked =
      ds.withWatermark("eventTime", s"${outOfOrdernessMs + latenessMs + gapMs} milliseconds")
    keyed(watermarked, eventTime = true)(_.primaryKey)(_ =>
      new SessionLatenessProcessor(gapMs, latenessMs))
  }

  /** Per-key silence detector with REAL timers: every event re-arms a
    * processing-time timer; expiry emits DISRUPTED, the next event after a
    * disruption emits RECOVERED (reference pattern/observability/
    * FlowDisruptionDetector.java:17-91 — registerTimer is the exact
    * `ctx.timerService().registerProcessingTimeTimer` analogue).
    */
  class FlowProcessor(timeoutMs: Long)
      extends StatefulProcessor[String, StreamEnvelop, FlowSignal] {
    @transient private var st: ValueState[FlowState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FlowState](
        "flow",
        Encoders.product[FlowState],
        TTLConfig.NONE
      )

    override def handleInputRows(
        key: String,
        rows: Iterator[StreamEnvelop],
        timerValues: TimerValues
    ): Iterator[FlowSignal] = {
      val wasDisrupted = st.exists() && st.get().disrupted
      val lastTs = rows.foldLeft(0L)((acc, e) => math.max(acc, e.eventTime.getTime))
      // re-arm: drop old timers, register a fresh one. timeoutMs <= 0
      // disables detection (no timers, so synchronous drives with
      // processAllAvailable work) — an always-now timer would otherwise
      // emit a DISRUPTED/RECOVERED storm every batch.
      if (timeoutMs > 0) {
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + timeoutMs)
      }
      st.update(FlowState(lastTs, disrupted = false))
      if (wasDisrupted)
        Iterator.single(
          FlowSignal(key, new Timestamp(lastTs),
            new Timestamp(timerValues.getCurrentProcessingTimeInMs()), "RECOVERED"))
      else Iterator.empty
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo
    ): Iterator[FlowSignal] = {
      val s = if (st.exists()) st.get() else FlowState(0L, disrupted = false)
      st.update(s.copy(disrupted = true))
      Iterator.single(
        FlowSignal(key, new Timestamp(s.lastEventMs),
          new Timestamp(timerValues.getCurrentProcessingTimeInMs()), "DISRUPTED"))
    }
  }

  def flowDisruption(
      ds: Dataset[StreamEnvelop],
      key: StreamEnvelop => String,
      timeoutMs: Long
  ): Dataset[FlowSignal] = {
    import ds.sparkSession.implicits._
    keyed(ds, timeoutMs = timeoutMs)(key)(_ => new FlowProcessor(timeoutMs))
  }
}
