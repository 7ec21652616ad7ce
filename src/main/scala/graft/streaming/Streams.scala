package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.sinks.MergeByKey

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference's two incremental flows map directly:
  *  1. news ingestion (ref newsflow_scraper.py): repeated scrape → dedup
  *     against all-time seen URLs → append. Here: `readStream` →
  *     `withWatermark` + `dropDuplicatesWithinWatermark` → append sink.
  *     The watermark bounds the seen-key state store — the scalable
  *     replacement for the reference's re-reading the full URL set from
  *     the DB each run (newsflow_scraper.py:243-272).
  *  2. batch-cadence upsert (ref cron + uploadtodb.py): `foreachBatch` +
  *     the MergeByKey sink gives exactly-once-per-batch merge semantics,
  *     with Trigger.AvailableNow for catch-up runs.
  */
object Streams {

  /** Watermarked streaming dedup on `key`. `eventTime` must be a
    * timestamp column; keys older than the watermark are evicted from
    * state, keeping memory bounded at any scale. */
  def dedupByKey(stream: DataFrame, key: String, eventTime: String,
      watermark: String): DataFrame =
    stream.withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark(key)

  /** Watermarked tumbling-window counts/sums per key — the streaming twin
    * of `Sessionize.tumbling`. */
  def windowedAgg(stream: DataFrame, eventTime: String, windowLen: String,
      watermark: String, keyCols: Seq[String], valueCol: String): DataFrame =
    stream.withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), windowLen) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("value_sum"))

  /** Windowed APPROXIMATE-DISTINCT via the HLL register sketch — the
    * streaming form of the q109 per-group HLL: per (event-time
    * window, keys), the 256-register array accumulates in the state
    * store (TypedImperativeAggregate buffers are mergeable, so
    * partial aggregation and state-store merges are lossless — the
    * q114 rollup property), and each closed window ships its
    * registers for the caller to summarize. State is one 256-byte
    * array per OPEN (window, key) — constant per key regardless of
    * distinct-value volume, the reason a 100 TB/day stream can
    * afford per-window uniques at all. The sketch is md5-based and
    * deterministic, so a batch oracle reproduces it bit for bit. */
  def windowedHllDistinct(stream: DataFrame, eventTime: String,
      windowLen: String, watermark: String, keyCols: Seq[String],
      idCol: String): DataFrame =
    stream.withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), windowLen) +: keyCols.map(col): _*)
      .agg(graft.expressions.HllSketch.hll_registers(col(idCol))
        .as("regs"))
      .select(unix_timestamp(col("window.start")).as("win_start") +:
        keyCols.map(col) :+ col("regs"): _*)

  /** SLIDING-window counts/sums per key: each event lands in
    * `windowLen / slideLen` overlapping windows (Spark generates them
    * with one Expand — no self-join), each window emitting once its
    * end passes the watermark. Late-data semantics follow the
    * per-generated-window admission rule: because the Expand runs
    * BEFORE the aggregation's late-row filter, one late event can be
    * merged into its still-open later window while being dropped for
    * the already-emitted earlier one — the oracle must apply the
    * window-end test per (event, window) pair, not per event. State is
    * one row per open (window, key): bounded by watermark horizon ×
    * slide count, independent of stream length. */
  def slidingWindowedAgg(stream: DataFrame, eventTime: String,
      windowLen: String, slideLen: String, watermark: String,
      keyCols: Seq[String], valueCol: String): DataFrame =
    stream.withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), windowLen, slideLen) +:
        keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("value_sum"))

  /** Custom-state stateful streaming: gap-based sessionization with
    * `flatMapGroupsWithState` (the KeyValueGroupedDataset custom-state
    * API). A session CLOSES — and emits — when a later event arrives
    * more than `gapSec` after the session's last event; the open session
    * rides in the state store (one small record per active user, bounded
    * state). The batch twin is `operators/Sessionize`.
    */
  case class SessionEvent(userId: Long, tsSec: Long, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class ClosedSession(userId: Long, start: Long, end: Long, n: Long, sum: Double)

  def statefulSessions(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapSec: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[StateEnvelope, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[StateEnvelope]) =>
          val sorted = batch.toSeq.sortBy(e => (e.tsSec, e.value))
          var cur = state.getOption.map(SessionStateCodec.unwrap)
          val closed = Seq.newBuilder[ClosedSession]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.tsSec - s.last > gapSec =>
                closed += ClosedSession(userId, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(e.tsSec, e.tsSec, 1, e.value))
              case Some(s) =>
                cur = Some(SessionState(s.start, math.max(s.last, e.tsSec),
                  s.n + 1, s.sum + e.value))
              case None =>
                cur = Some(SessionState(e.tsSec, e.tsSec, 1, e.value))
            }
          }
          cur.foreach(s => state.update(SessionStateCodec.wrap(s)))
          closed.result().iterator
      }
  }

  /** Streaming one-sided CUSUM — the stateful twin of
    * [[graft.operators.EventAnalytics.cusumDaily]]: per group the
    * state is ONE record (current day, its running count, the CUSUM
    * level), updated by the textbook recursion
    * S ← max(0, S + n_day − k) each time a later day's first event
    * closes the current day; the closed day emits
    * (group, day, n_events, k, cusum, alarm). The allowance k per
    * group arrives as a precomputed map (in production, calibrated on
    * a reference window; in the gate, the batch formula — which makes
    * stream output equal the batch operator row-for-row). Feed
    * batches must be day-ordered (the value-slice stager) and the
    * final real day closes via a sentinel event on a later day, which
    * itself rides in state and never emits — the q78 flush contract.
    * A day straddling two micro-batches is safe: its count simply
    * keeps accumulating in state. */
  case class DayEvent(group: String, day: Long)
  case class CusumState(day: Long, cnt: Long, s: Long)
  case class CusumPoint(group: String, day: Long, n_events: Long,
    k: Long, cusum: Long, alarm: Boolean)

  /** Streaming THROTTLE / minimum-spacing filter — the stateful twin
    * of [[graft.operators.EventAnalytics.throttle]] (q150's
    * double-fire debounce): per key, an event is kept iff it arrives
    * MORE than `minGapSeconds` after the key's previous RAW event;
    * state is one long (the last raw timestamp), advanced by every
    * event whether kept or dropped — exactly the batch lag rule, so a
    * per-key time-ordered feed reproduces the batch operator
    * row-for-row and the two share one oracle. Kept events emit
    * immediately (no window close), so no sentinel flush is needed;
    * an inter-event gap straddling two micro-batches is safe — the
    * last timestamp rides in state. */
  case class SpacedEvent(key: String, tsNanos: Long, eventId: Long)
  case class ThrottleState(lastTs: Long)

  def streamingThrottle(events: org.apache.spark.sql.Dataset[SpacedEvent],
      minGapSeconds: Long): org.apache.spark.sql.Dataset[SpacedEvent] = {
    require(minGapSeconds >= 1, "minGapSeconds must be >= 1")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gap = minGapSeconds * 1000000000L
    events.groupByKey(_.key)
      .flatMapGroupsWithState[StateEnvelope, SpacedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[SpacedEvent],
            state: GroupState[StateEnvelope]) =>
          val out = Seq.newBuilder[SpacedEvent]
          var last = state.getOption.map(ThrottleStateCodec.unwrap)
            .map(_.lastTs)
          batch.toSeq.sortBy(e => (e.tsNanos, e.eventId)).foreach { e =>
            if (last.forall(l => e.tsNanos - l > gap)) out += e
            last = Some(e.tsNanos)
          }
          last.foreach(l =>
            state.update(ThrottleStateCodec.wrap(ThrottleState(l))))
          out.result().iterator
      }
  }

  case class TypedEvent(key: String, tsNanos: Long, eventId: Long,
    etype: String)
  /** Two-slot anchor state: `aTs`/`aId` is the latest A by (ts, id);
    * `prevTs`/`prevId` (valid iff `hasPrev`) is the latest A whose ts
    * is STRICTLY below `aTs` — the fallback anchor for a B that shares
    * a timestamp with the latest A. Still O(1) per key.
    *
    * STATE-SCHEMA COMPATIBILITY: this case class grew from 2 to 5
    * fields in r16 (the equal-timestamp shadow fix) — a checkpoint
    * written by the raw 2-field encoder would NOT restore into this
    * shape. Since r18 the detector stores its state through
    * [[StateEnvelope]] with [[PatternStateCodec]]: the STORE schema is
    * frozen at (version, payload) so Spark's state-schema check never
    * trips on FUTURE payload evolutions — a v1-tagged payload decodes
    * to the 5-field shape with `hasPrev = false`, and an unknown
    * version fails loudly instead of misreading bytes. NOTE the
    * envelope protects evolutions from r18 FORWARD only: pre-r18
    * checkpoints stored the raw case class, not (version, payload), so
    * switching to the envelope was itself a one-time state-schema
    * break — a deployment holding a live pre-r18 checkpoint needs a
    * fresh checkpoint location for this upgrade; its v1 decode branch
    * exists for payloads an r18+ job explicitly wrote as v1, not for
    * raw pre-envelope checkpoints (r18 ADVICE). */
  case class PatternState(aTs: Long, aId: Long,
    prevTs: Long, prevId: Long, hasPrev: Boolean)

  /** Versioned state envelope (r17 verdict #6): stateful operators
    * store `(version, payload)` instead of their state case class, so
    * the state-store schema NEVER changes across deploys — evolution
    * happens in the codec, where old versions get an explicit decoder
    * (restore-by-design) and unknown versions get an explicit error
    * (fail-loudly-by-design), not Spark's opaque schema-check abort. */
  case class StateEnvelope(version: Int, payload: Array[Byte])

  /** A codec for one operator's state: `encode` writes the CURRENT
    * version's payload; `decode` must handle every version ever
    * shipped (or throw with the version named). Payloads are
    * fixed-layout ByteBuffer fields, not Java serialization — the
    * bytes are a contract. */
  trait VersionedStateCodec[S] extends Serializable {
    def currentVersion: Int
    def encode(s: S): Array[Byte]
    def decode(version: Int, payload: Array[Byte]): S
    final def wrap(s: S): StateEnvelope =
      StateEnvelope(currentVersion, encode(s))
    final def unwrap(e: StateEnvelope): S = decode(e.version, e.payload)
    protected final def unknownVersion(v: Int): Nothing =
      throw new IllegalStateException(
        s"${getClass.getSimpleName.stripSuffix("$")} payload version $v " +
          s"is newer than this decoder (knows <= $currentVersion) — " +
          "upgrade the job before restoring this checkpoint")
  }

  /** v1 (r15, 16 bytes): aTs, aId — the pre-shadow-fix anchor pair.
    * v2 (r16+, 33 bytes): aTs, aId, prevTs, prevId, hasPrev. A v1
    * payload restores as v2 with no fallback slot — bit-for-bit what
    * a v1 checkpoint knew. */
  object PatternStateCodec extends VersionedStateCodec[PatternState] {
    val currentVersion = 2
    def encode(s: PatternState): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(33)
      b.putLong(s.aTs).putLong(s.aId).putLong(s.prevTs).putLong(s.prevId)
      b.put(if (s.hasPrev) 1.toByte else 0.toByte)
      b.array()
    }
    def decode(version: Int, payload: Array[Byte]): PatternState = {
      val b = java.nio.ByteBuffer.wrap(payload)
      version match {
        case 1 => PatternState(b.getLong(), b.getLong(), 0L, 0L,
          hasPrev = false)
        case 2 => PatternState(b.getLong(), b.getLong(), b.getLong(),
          b.getLong(), b.get() != 0.toByte)
        case v => unknownVersion(v)
      }
    }
  }

  /** v1 codecs for the remaining stateful operators — every stateful
    * op stores through the envelope since r18, so the NEXT shape
    * change on any of them is a new decoder case, not a checkpoint
    * break. Doubles encode as raw IEEE-754 bits (bit-exact round
    * trips, NaN-safe); maps encode key-sorted (canonical bytes). */
  object ThrottleStateCodec extends VersionedStateCodec[ThrottleState] {
    val currentVersion = 1
    def encode(s: ThrottleState): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(s.lastTs).array()
    def decode(version: Int, payload: Array[Byte]): ThrottleState =
      version match {
        case 1 => ThrottleState(java.nio.ByteBuffer.wrap(payload).getLong())
        case v => unknownVersion(v)
      }
  }

  object SessionStateCodec extends VersionedStateCodec[SessionState] {
    val currentVersion = 1
    def encode(s: SessionState): Array[Byte] =
      java.nio.ByteBuffer.allocate(32).putLong(s.start).putLong(s.last)
        .putLong(s.n)
        .putLong(java.lang.Double.doubleToRawLongBits(s.sum)).array()
    def decode(version: Int, payload: Array[Byte]): SessionState =
      version match {
        case 1 =>
          val b = java.nio.ByteBuffer.wrap(payload)
          SessionState(b.getLong(), b.getLong(), b.getLong(),
            java.lang.Double.longBitsToDouble(b.getLong()))
        case v => unknownVersion(v)
      }
  }

  object CusumStateCodec extends VersionedStateCodec[CusumState] {
    val currentVersion = 1
    def encode(s: CusumState): Array[Byte] =
      java.nio.ByteBuffer.allocate(24).putLong(s.day).putLong(s.cnt)
        .putLong(s.s).array()
    def decode(version: Int, payload: Array[Byte]): CusumState =
      version match {
        case 1 =>
          val b = java.nio.ByteBuffer.wrap(payload)
          CusumState(b.getLong(), b.getLong(), b.getLong())
        case v => unknownVersion(v)
      }
  }

  object EwmaStateCodec extends VersionedStateCodec[EwmaState] {
    val currentVersion = 1
    def encode(s: EwmaState): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 + 16 * s.ring.size + 16)
      b.putInt(s.ring.size)
      s.ring.foreach { dc => b.putLong(dc.day); b.putLong(dc.n) }
      b.putLong(s.curDay).putLong(s.curCnt)
      b.array()
    }
    def decode(version: Int, payload: Array[Byte]): EwmaState =
      version match {
        case 1 =>
          val b = java.nio.ByteBuffer.wrap(payload)
          val ring = Seq.fill(b.getInt())(DayCount(b.getLong(), b.getLong()))
          EwmaState(ring, b.getLong(), b.getLong())
        case v => unknownVersion(v)
      }
  }

  object HHStateCodec extends VersionedStateCodec[HHState] {
    val currentVersion = 1
    def encode(s: HHState): Array[Byte] = {
      val entries = s.counters.toSeq.sortBy(_._1)
      val keyBytes = entries.map(_._1.getBytes("UTF-8"))
      val b = java.nio.ByteBuffer.allocate(
        12 + keyBytes.map(_.length + 12).sum)
      b.putLong(s.n).putInt(entries.size)
      entries.zip(keyBytes).foreach { case ((_, w), kb) =>
        b.putInt(kb.length); b.put(kb); b.putLong(w)
      }
      b.array()
    }
    def decode(version: Int, payload: Array[Byte]): HHState =
      version match {
        case 1 =>
          val b = java.nio.ByteBuffer.wrap(payload)
          val n = b.getLong()
          val counters = Seq.fill(b.getInt()) {
            val kb = new Array[Byte](b.getInt()); b.get(kb)
            new String(kb, "UTF-8") -> b.getLong()
          }.toMap
          HHState(n, counters)
        case v => unknownVersion(v)
      }
  }
  case class PatternHit(key: String, a_event_id: Long,
    b_event_id: Long, gap_nanos: Long)

  /** Streaming A→B PATTERN DETECTION — per key, every `bType` event
    * matched to the LATEST `aType` event STRICTLY before it and
    * within `windowNanos` (the streaming twin of the q237/q273
    * attribution anchor: "which view triggered this purchase, live?").
    * A events are NOT consumed — several Bs may share an anchor.
    *
    * Determinism: events are processed in (tsNanos, eventId) order
    * (batch-internal sort; the feed contract is time-ordered batches,
    * the [[streamingThrottle]] harness). The batch mirror is the
    * row_number()=1 pick over (a.ts DESC, a.id DESC) among As with
    * a.ts STRICTLY below b.ts — so an A that shares b's timestamp
    * must not SHADOW an older in-window A. The state therefore keeps
    * two anchors: the latest A by (ts, id) and the latest A whose ts
    * is strictly below it; a B matches the latest anchor whose ts is
    * strictly below its own. Because any older A only widens the gap,
    * "latest strictly-earlier A, if within window" equals "latest
    * strictly-earlier A within window".
    *
    * State is O(1) per key — two fixed-size (ts, id) slots — so the
    * detector is watermark-free by construction; at 100 TB/day the
    * state store holds |keys| fixed-size entries. */
  def streamingPatternDetect(
      events: org.apache.spark.sql.Dataset[TypedEvent], aType: String,
      bType: String, windowNanos: Long)
      : org.apache.spark.sql.Dataset[PatternHit] = {
    require(windowNanos >= 1, "windowNanos must be >= 1")
    require(aType != bType, "aType and bType must differ")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.key)
      .flatMapGroupsWithState[StateEnvelope, PatternHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[TypedEvent],
            state: GroupState[StateEnvelope]) =>
          val out = Seq.newBuilder[PatternHit]
          var st: Option[PatternState] =
            state.getOption.map(PatternStateCodec.unwrap)
          batch.toSeq.sortBy(e => (e.tsNanos, e.eventId)).foreach { e =>
            if (e.etype == bType) st.foreach { a =>
              // Anchor = latest A strictly before this B; fall back to
              // the strictly-earlier slot when the latest A shares
              // this B's timestamp (the batch oracle's a.ts < b.ts).
              val (anchorTs, anchorId, ok) =
                if (a.aTs < e.tsNanos) (a.aTs, a.aId, true)
                else if (a.hasPrev && a.prevTs < e.tsNanos)
                  (a.prevTs, a.prevId, true)
                else (0L, 0L, false)
              if (ok && e.tsNanos - anchorTs <= windowNanos)
                out += PatternHit(key, anchorId, e.eventId,
                  e.tsNanos - anchorTs)
            }
            if (e.etype == aType) st = Some(st match {
              case Some(a) if e.tsNanos > a.aTs =>
                // Old latest becomes the strictly-earlier fallback.
                PatternState(e.tsNanos, e.eventId, a.aTs, a.aId, true)
              case Some(a) => // same ts (sorted ⇒ larger id wins)
                PatternState(e.tsNanos, e.eventId,
                  a.prevTs, a.prevId, a.hasPrev)
              case None =>
                PatternState(e.tsNanos, e.eventId, 0L, 0L, false)
            })
          }
          st.foreach(s => state.update(PatternStateCodec.wrap(s)))
          out.result().iterator
      }
  }

  /** Streaming EWMA daily series — the stateful twin of
    * [[graft.operators.EventAnalytics.ewmaDailySeries]] (q190): per
    * group, state is the trailing ring of observed (day, count)
    * entries within the decay horizon plus the open day's running
    * count; when a LATER day arrives (or the sentinel flushes), the
    * closed day joins the ring, its EWMA
    * Σ_{age ≤ maxAge} n(day−age)·powersE6(age) emits — the exact e6
    * integer table shared with the batch operator and its oracle —
    * and ring entries older than the horizon evict, so state is
    * bounded at maxAge+1 entries per key regardless of stream length.
    * Same feed contract as [[streamingCusum]]: day-ordered batches,
    * sentinel closes the final real day and itself never emits. */
  case class DayCount(day: Long, n: Long)
  case class EwmaState(ring: Seq[DayCount], curDay: Long, curCnt: Long)
  case class EwmaPoint(group: String, day: Long, n_events: Long,
    ewma_e6: Long)

  def streamingEwma(events: org.apache.spark.sql.Dataset[DayEvent],
      powersE6: Seq[Long]): org.apache.spark.sql.Dataset[EwmaPoint] = {
    require(powersE6.nonEmpty, "need at least the age-0 power")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val maxAge = powersE6.length - 1
    events.groupByKey(_.group)
      .flatMapGroupsWithState[StateEnvelope, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (group: String, batch: Iterator[DayEvent],
            state: GroupState[StateEnvelope]) =>
          val out = Seq.newBuilder[EwmaPoint]
          var st = state.getOption.map(EwmaStateCodec.unwrap)
            .getOrElse(EwmaState(Nil, Long.MinValue, 0L))
          def close(s: EwmaState): EwmaState = {
            val ring = (s.ring :+ DayCount(s.curDay, s.curCnt))
              .filter(dc => s.curDay - dc.day <= maxAge)
            val ewma = ring.map(dc =>
              dc.n * powersE6((s.curDay - dc.day).toInt)).sum
            out += EwmaPoint(group, s.curDay, s.curCnt, ewma)
            EwmaState(ring, Long.MinValue, 0L)
          }
          batch.toSeq.sortBy(_.day).foreach { e =>
            if (st.curDay == e.day) st = st.copy(curCnt = st.curCnt + 1L)
            else {
              if (st.curDay != Long.MinValue) st = close(st)
              st = st.copy(curDay = e.day, curCnt = 1L)
            }
          }
          state.update(EwmaStateCodec.wrap(st))
          out.result().iterator
      }
  }

  def streamingCusum(events: org.apache.spark.sql.Dataset[DayEvent],
      allowance: Map[String, Long],
      hMult: Long): org.apache.spark.sql.Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.group)
      .flatMapGroupsWithState[StateEnvelope, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (group: String, batch: Iterator[DayEvent],
            state: GroupState[StateEnvelope]) =>
          val k = allowance.getOrElse(group, 1L)
          val out = Seq.newBuilder[CusumPoint]
          var cur = state.getOption.map(CusumStateCodec.unwrap)
          batch.toSeq.sortBy(_.day).foreach { e =>
            cur match {
              case Some(st) if e.day == st.day =>
                cur = Some(st.copy(cnt = st.cnt + 1))
              case Some(st) =>
                val s2 = math.max(0L, st.s + st.cnt - k)
                out += CusumPoint(group, st.day, st.cnt, k, s2,
                  s2 > k * hMult)
                cur = Some(CusumState(e.day, 1L, s2))
              case None =>
                cur = Some(CusumState(e.day, 1L, 0L))
            }
          }
          cur.foreach(s => state.update(CusumStateCodec.wrap(s)))
          out.result().iterator
      }
  }

  /** [[statefulSessions]] with WATERMARK-driven closure
    * (GroupStateTimeout.EventTimeTimeout): instead of a sentinel row
    * flushing open sessions, each update arms an event-time timeout at
    * last + gap; when the watermark passes it, Spark re-invokes the
    * function with an empty batch and `state.hasTimedOut`, and the
    * session closes and emits THEN — the production shape where open
    * sessions survive in the state store across runs and close
    * themselves as event time advances, with no artificial flush
    * traffic. `events` must already carry a watermark on its
    * event-time column (`withWatermark` upstream); timestamps inside
    * the state stay integer seconds. */
  /** [[SessionEvent]] plus the WATERMARKED event-time column — the
    * typed row must keep `ts` or the projection strips the watermark
    * the event-time timeout requires. */
  case class TimedSessionEvent(userId: Long, tsSec: Long, value: Double,
      ts: java.sql.Timestamp)

  def statefulSessionsTimeout(
      events: org.apache.spark.sql.Dataset[TimedSessionEvent],
      gapSec: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[StateEnvelope, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[TimedSessionEvent],
            state: GroupState[StateEnvelope]) =>
          if (state.hasTimedOut) {
            val s = SessionStateCodec.unwrap(state.get)
            state.remove()
            Iterator.single(ClosedSession(userId, s.start, s.last, s.n, s.sum))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.tsSec, e.value))
            var cur = state.getOption.map(SessionStateCodec.unwrap)
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.tsSec - s.last > gapSec =>
                  closed += ClosedSession(userId, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(e.tsSec, e.tsSec, 1, e.value))
                case Some(s) =>
                  cur = Some(SessionState(s.start, math.max(s.last, e.tsSec),
                    s.n + 1, s.sum + e.value))
                case None =>
                  cur = Some(SessionState(e.tsSec, e.tsSec, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(SessionStateCodec.wrap(s))
              // close when event time passes last + gap (seconds -> ms)
              state.setTimeoutTimestamp((s.last + gapSec) * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming heavy hitters: a Misra–Gries summary as PER-GROUP stream
    * state via `mapGroupsWithState` — the streaming twin of
    * [[graft.operators.FrequentItems]]. State per group is at most `k`
    * (item, weight) counters regardless of stream length (the property
    * that makes frequency tracking viable in a state store at all), and
    * the update per micro-batch is the same decrement rule as the batch
    * aggregate, so the bound — every item with frequency > N/(k+1) is
    * tracked — carries over. Emits the group's current summary each
    * trigger (Update mode): (group, total seen, tracked items sorted).
    * A NULL item is skipped, as pandas `value_counts` drops NaN: it is
    * neither tracked nor counted in `n`, which is the number of non-NULL
    * items seen. */
  case class ItemEvent(group: String, item: String)
  case class HHState(n: Long, counters: Map[String, Long])
  case class HHSummary(group: String, n: Long, items: Map[String, Long])

  def streamingHeavyHitters(events: org.apache.spark.sql.Dataset[ItemEvent],
      k: Int): org.apache.spark.sql.Dataset[HHSummary] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.groupByKey(_.group)
      .mapGroupsWithState[StateEnvelope, HHSummary](GroupStateTimeout.NoTimeout) {
        (group: String, batch: Iterator[ItemEvent],
            state: GroupState[StateEnvelope]) =>
          val st = state.getOption.map(HHStateCodec.unwrap)
            .getOrElse(HHState(0L, Map.empty))
          var n = st.n
          val buf = new java.util.HashMap[String, Long](k * 2)
          st.counters.foreach { case (it, w) => buf.put(it, w) }
          batch.filter(_.item != null).foreach { e =>
            n += 1
            val cur = buf.get(e.item)
            if (cur != 0L || buf.containsKey(e.item)) buf.put(e.item, cur + 1)
            else if (buf.size < k) buf.put(e.item, 1L)
            else {
              // classic MG decrement: spend this occurrence against one
              // unit of every tracked counter
              val it = buf.entrySet().iterator()
              while (it.hasNext) {
                val en = it.next()
                if (en.getValue == 1L) it.remove() else en.setValue(en.getValue - 1)
              }
            }
          }
          val m = scala.collection.immutable.TreeMap.newBuilder[String, Long]
          buf.forEach((it, w) => m += (it -> w))
          val counters = m.result()
          state.update(HHStateCodec.wrap(HHState(n, counters)))
          HHSummary(group, n, counters)
      }
  }

  /** Stream-stream INNER join within a time gap — the streaming twin
    * of [[graft.operators.IntervalJoin]]: same key, right event inside
    * [left, left + gapSeconds). Both sides carry the same watermark
    * delay, which (with the range condition) bounds BOTH state stores:
    * a left row is evictable once the watermark passes left + gap (no
    * admissible right row can still match it), a right row once the
    * watermark passes it. Emission happens in the micro-batch where
    * the LATER side arrives — no flush sentinel needed for matches
    * whose both sides arrive while the stream runs. */
  /** `joinType` "inner" emits matches only; "leftOuter" additionally
    * emits a null-extended row for a left event whose state is
    * evicted without ever having matched — the "click with no
    * purchase inside the window" stream, produced incrementally as
    * the watermark closes each left row's window. */
  def joinWithinGap(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, gapSeconds: Long,
      watermark: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTime, watermark).alias("l")
    val r = right.withWatermark(rightTime, watermark).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTime >= l.$leftTime AND " +
        s"r.$rightTime < l.$leftTime + interval $gapSeconds seconds"),
      joinType)
      // one key column whichever side a null-extended row kept (on a
      // fullOuter join l.key is NULL for right-only rows)
      .withColumn("graft_join_key__",
        coalesce(col(s"l.$key"), col(s"r.$key")))
      .drop(col(s"l.$key")).drop(col(s"r.$key"))
      .withColumnRenamed("graft_join_key__", key)
  }

  /** Upsert sink: every micro-batch merges into the parquet dir by key
    * (S7 as a streaming sink; ref batched REST upsert). */
  def mergeSink(stream: DataFrame, path: String, key: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MergeByKey.upsert(batch.sparkSession, batch, path, key)
      }

  /** Streaming decontamination sink: per micro-batch, run the exact
    * n-gram containment check against a STATIC benchmark corpus and
    * append only clean rows to `path`. The batch-side operator
    * ([[graft.operators.Decontaminate]]) is reused verbatim inside
    * foreachBatch — the benchmark gram side is recomputed per batch by
    * the operator (a production deployment passes a pre-built gram
    * table the same way mergeSink passes a path); no stream-side state
    * beyond the checkpoint. The streaming twin of q51.
    *
    * Delivery is AT-LEAST-ONCE (the mergeSink caveat): the plain
    * append parquet write is not idempotent under micro-batch retry —
    * a batch that commits files but fails before the checkpoint
    * records it is replayed and appends its clean rows again. Exactly-
    * once needs a batchId-keyed write (partition the sink by batchId
    * and overwrite that partition on replay) or a downstream
    * dedup-on-read by `idCol`. */
  def decontaminateSink(stream: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, path: String, n: Int = 5,
      threshold: Double = 0.5): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Decontaminate
          .clean(batch, bench, idCol, textCol, n, threshold)
          .write.mode("append").parquet(path)
        ()
      }

  /** EXACTLY-ONCE append sink: each micro-batch lands in its own
    * `graft_batch_id=N` partition via DYNAMIC partition overwrite, so
    * a replayed batch (committed files but a checkpoint that never
    * recorded them — the failure window that makes a plain parquet
    * append at-least-once) OVERWRITES its own partition instead of
    * appending next to its first attempt. Readers scan `path`
    * normally; the partition column is harness metadata. This is the
    * batchId-keyed idempotent write the [[decontaminateSink]] caveat
    * prescribes, packaged as the general sink. */
  def idempotentAppendSink(stream: DataFrame,
      path: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, path)
      }

  /** The per-batch idempotent write — exposed so a spec can replay a
    * batch id directly and assert no duplication. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long,
      path: String): Unit =
    batch.withColumn("graft_batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("graft_batch_id")
      .parquet(path)

  /** Stream-static enrichment: join a stream against a (small) dimension
    * table with a broadcast hint — each micro-batch hash-joins against
    * the broadcast dim, no stream-side state. The streaming twin of the
    * J1/J2 sector/industry score joins. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String,
      joinType: String = "left"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), joinType)

  /** One-shot catch-up run (the cron-cadence shape): process whatever is
    * available, then stop. */
  def runAvailableNow(writer: DataStreamWriter[Row], checkpoint: String): StreamingQuery =
    writer.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Harness feed: materialize `df` as ONE parquet file per `batchCol`
    * value under `dir`, file mtimes ascending in batch order, so a
    * `readStream.parquet(dir)` with `maxFilesPerTrigger=1` +
    * `Trigger.AvailableNow` replays it as DETERMINISTIC micro-batches —
    * the file-shaped feed of the reference's news flow (one scrape file
    * per cron tick), with zero driver-side data materialization: rows
    * move executor→disk→stream source, never through the driver.
    *
    * One file per batch is guaranteed by repartitioning on the batch
    * column before the partitioned write (each batch's rows land in
    * exactly one task, which writes exactly one file into that batch's
    * partition directory); the driver then renames each part file into
    * the flat `batch-NNNNN.parquet` layout and stamps mtimes 2 s apart
    * (FileStreamSource orders by modification time; distinct stamps
    * make that order total). Returns the number of staged files. */
  def stageBatchFiles(df: DataFrame, batchCol: String, dir: String): Int = {
    val spark = df.sparkSession
    val tmp = s"$dir/_staging"
    df.repartition(col(batchCol)).write.mode("overwrite")
      .partitionBy(batchCol).parquet(tmp)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A NULL batch value lands in Hive's default partition; name it as
    // a harness error rather than failing on the number parse below
    def batchOf(st: org.apache.hadoop.fs.FileStatus): Long = {
      val v = st.getPath.getName.stripPrefix(s"$batchCol=")
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"staged batch values must be non-NULL integers, got $batchCol=$v " +
          s"in $tmp — drop or assign the rows whose $batchCol is NULL " +
          "before staging"))
    }
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$batchCol="))
      .sortBy(batchOf)
    // The streaming oracles (q169/q175/q177/q181/q182/q192) pin
    // micro-batch numbering to the staged-file order, which assumes
    // every batch value 0..k-1 actually produced a file — a missing
    // value silently renumbers the engine's batches but not the
    // oracle's (r12 advice). Fail fast as a HARNESS error instead:
    val staged = batchDirs.map(batchOf).toSeq
    require(staged == staged.indices.map(_.toLong),
      s"staged batch values must be contiguous 0..k-1, got $staged — " +
        "a missing/empty batch would desync engine and oracle batch " +
        "numbering")
    // ...and the previous-batch-watermark / AvailableNow-timeout-pass
    // pinnings were validated against Spark 4.1.x micro-batch
    // internals; surface a version bump as a harness error, not an
    // oracle diff
    require(spark.version.startsWith("4.1."),
      s"streaming-oracle batch pinning validated on Spark 4.1.x; " +
        s"running ${spark.version} — re-validate the q169/q175/q177/" +
        "q181/q182 oracles before trusting their gates")
    val base = System.currentTimeMillis() - (batchDirs.length + 2) * 2000L
    batchDirs.zipWithIndex.foreach { case (bd, i) =>
      val parts = fs.listStatus(bd.getPath)
        .filter(_.getPath.getName.startsWith("part-"))
      require(parts.length == 1,
        s"expected one file per batch dir, got ${parts.length} in ${bd.getPath}")
      val dest = new org.apache.hadoop.fs.Path(root, f"batch-$i%05d.parquet")
      fs.rename(parts(0).getPath, dest)
      fs.setTimes(dest, base + i * 2000L, -1)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    batchDirs.length
  }
}
