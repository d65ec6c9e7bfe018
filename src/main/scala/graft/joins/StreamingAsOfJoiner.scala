package graft.joins

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming as-of enrichment — the time-versioned sibling of
  * [[StaticJoiner]]'s last-write-wins reference view, and the streaming face
  * of [[AsOfJoin]]: a CDC stream of versioned reference rows (rates, configs,
  * dimension versions) is folded into per-key version HISTORY in
  * `transformWithState` state, and each arriving event probes that history
  * for the latest version at-or-before its event time (the stateful analogue
  * of [[graft.functions.AsOfPick]]'s binary-search probe).
  *
  * Reference relationship: the reference's StaticJoiner
  * (pattern/enrich/StaticJoiner.java:18-172) keeps only the LATEST value per
  * key in BroadcastState — enriching an event with whatever version happens
  * to be current at PROCESSING time. This operator keeps the full history so
  * the probe is by EVENT time: a late-arriving event is still enriched with
  * the version that was in force when it happened, which is what a
  * training-data pipeline needs for point-in-time-correct features.
  *
  * Arrival semantics (inherent to streaming): an event can only see versions
  * that have ARRIVED by its micro-batch. Within one batch, all version rows
  * apply before any event probes (deterministic, replay-stable); once every
  * version has arrived, the enrichment of subsequent events is bit-identical
  * to the batch face — `j4_asof_stream` pins that against the same DuckDB
  * ASOF oracle as the batch entries, and StreamingAsOfSpec pins the
  * mid-stream axis (a version arriving between two batches changes the
  * second batch's answers, never the already-emitted first).
  *
  * Ties on version time are last-write-wins: histories keep append order for
  * equal timestamps and the probe takes the last qualifying entry — a
  * re-published version for the same instant supersedes the old one, same
  * contract as the reference's BroadcastState overwrite.
  *
  * 100 TB shape: both streams hash-shuffle once on the key (state locality —
  * the same single exchange the batch window face pays); each event's probe
  * is O(log h) against its local history, no broadcast, no per-batch rescan
  * of the reference. State is one ListState row per version per key —
  * config/dimension-sized; bound it with the TTL, the `compactLagUs`
  * event-time compaction horizon (drops versions the advancing probe
  * frontier can no longer reach, keeping the latest at-or-before it), or by
  * compacting upstream (e.g. [[Materializer]]) before entering.
  */
object StreamingAsOfJoiner {

  /** Event to enrich: `payload` is opaque and travels unchanged. */
  final case class AsOfEvent(key: String, tsUs: Long, payload: String)

  /** Version row for the reference history (value as of `tsUs`). */
  final case class AsOfVersion(key: String, tsUs: Long, value: String)

  /** Union row — versions and events share one keyed stream so a single
    * state pass sees both (Spark cannot co-group two streams statefully).
    */
  final case class AsOfInput(key: String, tsUs: Long, isVersion: Boolean, payload: String)

  private[joins] final case class VersionRow(tsUs: Long, value: String)

  /** Enriched event: `asofTsUs`/`asofValue` are the matched version (None
    * when no version at-or-before the event time has arrived yet).
    */
  final case class AsOfEnriched(
      key: String,
      tsUs: Long,
      payload: String,
      asofTsUs: Option[Long],
      asofValue: Option[String])

  /** @param compactLagUs event-time compaction horizon: after probing, a
    *                      key's history drops every version OLDER than
    *                      (max event ts probed so far − lag), KEEPING the
    *                      latest version at-or-before that horizon — it is
    *                      still the answer for probes in the gap up to the
    *                      next version. Answers stay exact for every event
    *                      no more than `compactLagUs` behind the key's
    *                      newest event (this batch's events always probe
    *                      the UNCOMPACTED history); stragglers beyond the
    *                      lag may see the compacted floor instead of an
    *                      older version — the same contract as a watermark.
    *                      Negative = unbounded (compact upstream).
    */
  class AsOfProcessor(ttl: TTLConfig, compactLagUs: Long = -1L)
      extends StatefulProcessor[String, AsOfInput, AsOfEnriched] {
    @transient private var hist: ListState[VersionRow] = _
    @transient private var maxProbe: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      hist = getHandle.getListState[VersionRow]("hist", Encoders.product[VersionRow], ttl)
      if (compactLagUs >= 0)
        maxProbe = getHandle.getValueState[Long]("maxProbe", Encoders.scalaLong, ttl)
    }

    /** Last index with tsUs <= probe; equal-ts runs keep append order, so
      * the last qualifying index is also the newest write (LWW).
      */
    private def pick(h: Vector[VersionRow], tsUs: Long): Option[VersionRow] = {
      var lo = 0
      var hi = h.length - 1
      var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (h(mid).tsUs <= tsUs) { ans = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      if (ans >= 0) Some(h(ans)) else None
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[AsOfInput],
        timerValues: TimerValues
    ): Iterator[AsOfEnriched] = {
      val (versions, events) = rows.toVector.partition(_.isVersion)
      if (versions.nonEmpty) {
        // stable sort: same-ts versions keep their input order (LWW tail)
        hist.appendList(
          versions.sortBy(_.tsUs).map(v => VersionRow(v.tsUs, v.payload)).toArray)
      }
      if (events.isEmpty) {
        // Version-only batch: the probe frontier did not advance, but the
        // EXISTING high-water mark still bounds what future probes can reach
        // — compact against it so a key fed only version rows for many
        // batches cannot grow state unboundedly while waiting for its next
        // event (the horizon just doesn't advance until one arrives).
        if (compactLagUs >= 0 && versions.nonEmpty && maxProbe.exists()) {
          val h = {
            val buf = Vector.newBuilder[VersionRow]
            hist.get().foreach(buf += _)
            buf.result().sortBy(_.tsUs)
          }
          compactBehind(h, maxProbe.get() - compactLagUs)
        }
        Iterator.empty
      } else {
        // one state read per touched key per batch; appends above keep the
        // list sorted only per-append, so order once here (out-of-order
        // version arrival across batches is legal)
        val h = {
          val buf = Vector.newBuilder[VersionRow]
          hist.get().foreach(buf += _)
          buf.result().sortBy(_.tsUs) // stable: append order survives ties
        }
        // probe against the FULL history first — this batch's answers are
        // always exact — then compact behind the advanced horizon
        val out = events.sortBy(_.tsUs).map { e =>
          val hit = pick(h, e.tsUs)
          AsOfEnriched(e.key, e.tsUs, e.payload, hit.map(_.tsUs), hit.map(_.value))
        }
        if (compactLagUs >= 0) {
          val hwm = math.max(
            if (maxProbe.exists()) maxProbe.get() else Long.MinValue,
            events.iterator.map(_.tsUs).max)
          maxProbe.update(hwm)
          compactBehind(h, hwm - compactLagUs)
        }
        out.iterator
      }
    }

    /** Drop every version older than `horizon`, KEEPING the latest
      * at-or-before it (the gap-filler — still the answer for probes
      * between the horizon and the next version).
      */
    private def compactBehind(h: Vector[VersionRow], horizon: Long): Unit = {
      // first index with tsUs > horizon; keep from idx-1 onward
      val idx = h.indexWhere(_.tsUs > horizon) match {
        case -1 => h.length
        case i => i
      }
      val from = math.max(idx - 1, 0)
      if (from > 0) {
        hist.clear()
        hist.appendList(h.drop(from).toArray)
      }
    }
  }

  /** Wire the two streams through one keyed state pass
    * ([[graft.stateful.Processors.keyed]]). Needs the RocksDB state store
    * provider (as all transformWithState operators do), which
    * [[graft.core.GraftSession]] sessions carry.
    *
    * @param ttlMs state TTL for version history; 0 = keep forever
    * @param compactLagUs event-time compaction horizon for version history
    *                     (see [[AsOfProcessor]]); negative = keep every
    *                     version forever
    */
  def enrich(
      events: Dataset[AsOfEvent],
      versions: Dataset[AsOfVersion],
      ttlMs: Long = 0,
      compactLagUs: Long = -1L
  ): Dataset[AsOfEnriched] = {
    import events.sparkSession.implicits._
    val unioned = events
      .map(e => AsOfInput(e.key, e.tsUs, isVersion = false, e.payload))
      .unionByName(versions.map(v => AsOfInput(v.key, v.tsUs, isVersion = true, v.value)))
    graft.stateful.Processors.keyed(unioned, ttlMs)(_.key)(new AsOfProcessor(_, compactLagUs))
  }
}
