package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Row/state shapes for the arbitrary-stateful operator. */
case class SeqEvent(ts: java.sql.Timestamp, user_id: Long, event_id: Long)
case class SeqOut(user_id: Long, event_id: Long, seq: Long)

/** Row shapes for the stateful streaming near-dup operator. */
case class BandDoc(doc_id: Long, band: Int, band_key: Long, sig: Long)
case class NearDup(doc_id: Long, band: Int, dup_of: Long)

/** Output shape for the incremental EWMA operator (input rides
  * [[TwsEvent]], the shared (ts, user_id, event_id, value) row). */
case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)

/** Row/state shapes for the streaming CDC-apply operator. */
case class AnomState(last_ts_us: Long, n: Long, s: Long, q: Long)
case class AnomOut(user_id: Long, event_id: Long, gap_s: Long, n_prior: Long,
    is_anomaly: Boolean)
case class CdcEvent(ts: java.sql.Timestamp, user_id: Long, event_id: Long,
    event_type: String, value: Double)
case class CdcState(ts_us: Long, event_id: Long, op: String, value: Double)
case class CdcOut(user_id: Long, last_event_id: Long, last_op: String, cur_value: Double)

/** Row/state shapes for the streaming transition-feed operator. */
case class GapPairState(buf: List[(Long, Long, String)]) // (ts_us, event_id, type), ascending
case class GapPairOut(user_id: Long, eta: String, etb: String)

/** Output shape for the SpaceSaving heavy-hitters operator:
  * est overestimates the true count by at most err. */
case class HHOut(user_id: Long, est: Long, err: Long)

/** Row/state shapes for the transformWithState running-stats operator. */
case class TwsEvent(ts: java.sql.Timestamp, user_id: Long, event_id: Long, value: Double)
case class TwsStats(cnt: Long, mx: Double)
case class TwsOut(user_id: Long, event_id: Long, run_cnt: Long, run_max: Double)

/** The Spark 4 `StatefulProcessor` behind [[Streaming.runningStats]]:
  * per-user running event count and running max value, held in a single
  * typed [[ValueState]] through the StatefulProcessorHandle — the
  * transformWithState API surface (explicit named state, TTL hooks,
  * timer support) that supersedes flatMapGroupsWithState. Rows are
  * folded in (event-time, event_id) order inside each invocation, so a
  * batch run (one invocation per key) and an in-order multi-batch
  * stream (state carrying across invocations) emit identical feeds. */
class RunningStatsProcessor extends StatefulProcessor[Long, TwsEvent, TwsOut] {
  @transient private var stats: ValueState[TwsStats] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    stats = getHandle.getValueState[TwsStats]("stats",
      org.apache.spark.sql.Encoders.product[TwsStats], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
      timers: TimerValues): Iterator[TwsOut] = {
    var st = Option(stats.get()).getOrElse(TwsStats(0L, Double.NegativeInfinity))
    val out = rows.toSeq.sortBy(e => (Streaming.micros(e.ts), e.event_id)).map { e =>
      st = TwsStats(st.cnt + 1, math.max(st.mx, e.value))
      TwsOut(e.user_id, e.event_id, st.cnt, st.mx)
    }
    stats.update(st)
    out.iterator
  }
}

/** State/output shapes for the timer-closed session operator. */
case class TwsSession(cnt: Long, last_ms: Long)
case class SessionOut(user_id: Long, n_events: Long)

/** EVENT-TIME TIMER sessionization — the transformWithState tier the
  * running-stats processor doesn't touch: per-user event counts held in
  * [[ValueState]], a timer re-registered at (last event time + gap) on
  * every arrival, and the session EMITTED FROM `handleExpiredTimer` when
  * the WATERMARK passes that instant — push-based session close (state
  * cleared on emit), vs `session_window`'s pull-based merge. TimeMode
  * .EventTime requires a watermark on the input stream; timers and state
  * both live in the state store, so expiry survives restarts.
  *
  * An arriving event whose ms-gap from the held session exceeds `gapMs`
  * closes that session INLINE (late close) before starting its own:
  * without this, a session whose timer had not yet fired when the next
  * burst arrived would silently merge into it, making the output depend
  * on watermark pacing rather than the data. With it, once every timer
  * has fired the emitted multiset is exactly ms-grain gap
  * sessionization — the contract the declared `stream_session_timer`
  * key states in batch and the DuckDB oracle checks. */
class SessionTimerProcessor(gapMs: Long)
    extends StatefulProcessor[Long, TwsEvent, SessionOut] {
  @transient private var sess: ValueState[TwsSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[TwsSession]("sess",
      org.apache.spark.sql.Encoders.product[TwsSession], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
      timers: TimerValues): Iterator[SessionOut] = {
    var st = Option(sess.get()).getOrElse(TwsSession(0L, 0L))
    val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    // event-time order within the invocation so the gap test sees the
    // same consecutive-ms sequence the batch window function sees
    rows.toSeq.sortBy(e => (Streaming.micros(e.ts), e.event_id)).foreach { e =>
      val ms = e.ts.getTime
      if (st.cnt > 0L && ms - st.last_ms > gapMs) {
        closed += SessionOut(key, st.cnt) // late close: timer hadn't fired
        st = TwsSession(0L, 0L)
      }
      st = TwsSession(st.cnt + 1, math.max(st.last_ms, ms))
    }
    sess.update(st)
    // one live timer per key: slide the close-out to the new session end
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(st.last_ms + gapMs)
    closed.iterator
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
    // stale-timer guard: if a late close already replaced the session
    // this timer was registered for, the held session ends AFTER the
    // expired instant and must not be flushed prematurely
    val out = Option(sess.get())
      .filter(s => s.cnt > 0L && s.last_ms + gapMs <= expired.getExpiryTimeInMs)
      .map(s => SessionOut(key, s.cnt))
    if (out.nonEmpty) sess.clear()
    out.iterator
  }
}

/** Output shape for the list/map-state history operator (input rides
  * [[TransEvent]], the shared (ts, user_id, event_id, event_type) row). */
case class HistOut(user_id: Long, event_id: Long, prev1: String, prev2: String,
    type_seen: Long)

/** LIST + MAP STATE through transformWithState — the remaining typed
  * state shapes next to [[RunningStatsProcessor]]'s ValueState: a
  * [[ListState]] holds each user's last-2 event-type history (bounded by
  * construction — the operator trims as it appends), a [[MapState]] the
  * per-event-type arrival counts (bounded by the type dimension). Each
  * event is emitted with its two predecessors and its within-type
  * ordinal, folded in (event-time, event_id) order — so batch (one
  * invocation per key) and an in-order stream (state across
  * invocations) agree, and the window-function oracle (lag ×2 +
  * row_number per type) states the same feed. */
class HistoryProcessor extends StatefulProcessor[Long, TransEvent, HistOut] {
  @transient private var hist: org.apache.spark.sql.streaming.ListState[String] = _
  @transient private var seen: org.apache.spark.sql.streaming.MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val enc = org.apache.spark.sql.Encoders
    hist = getHandle.getListState[String]("hist", enc.STRING, TTLConfig.NONE)
    seen = getHandle.getMapState[String, Long]("seen", enc.STRING, enc.scalaLong,
      TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[TransEvent],
      timers: TimerValues): Iterator[HistOut] = {
    var h = hist.get().toList // oldest-first, length ≤ 2
    // state-store reads are the per-row cost that matters here (a point
    // lookup each): counts are read from the store at most once per
    // DISTINCT type per invocation and written back once per type, with
    // the per-row increments served from this local map
    val local = scala.collection.mutable.Map.empty[String, Long]
    rows.toSeq.sortBy(e => (Streaming.micros(e.ts), e.event_id)).map { e =>
      val n = local.getOrElse(e.event_type,
        if (seen.containsKey(e.event_type)) seen.getValue(e.event_type) else 0L) + 1L
      local(e.event_type) = n
      val o = HistOut(e.user_id, e.event_id,
        h.lastOption.orNull, h.dropRight(1).lastOption.orNull, n)
      h = (h :+ e.event_type).takeRight(2)
      o
    } match { case out =>
      local.foreach { case (t, n) => seen.updateValue(t, n) }
      hist.put(h.toArray)
      out.iterator
    }
  }
}

case class TransEvent(ts: java.sql.Timestamp, user_id: Long, event_id: Long,
    event_type: String)
case class TransState(event_type: String)
case class TransOut(user_id: Long, from_type: String, to_type: String)

/** §E — streaming surface (SURVEY.md §2.1.E).
  *
  * Each operator exists twice:
  *  1. the *transform* (`xxxStream`) — applied to any events-shaped
  *     DataFrame, batch or streaming; the streaming path adds watermarks
  *     and runs under Structured Streaming's IncrementalExecution
  *     (micro-batch state in the StateStore). StreamingSpec drives these
  *     through MemoryStream and asserts batch/stream equivalence plus
  *     late-data drop semantics.
  *  2. the declared *batch-equivalent query* (oracle-checked): identical
  *     results expressed over the static events table so the driver's
  *     DuckDB gate can hash-match it.
  *
  * Scale posture: all grouping keys are (bounded time bucket × small
  * dimension) or user_id — state per key is bounded; watermarks bound
  * total state; session logic is lag+cumsum (one shuffle by user) in
  * batch and `session_window` (state-store merge) in streaming.
  *
  * Determinism: window starts are epoch-aligned in both engines
  * (Spark `window` ≡ DuckDB `time_bucket`, probed); timestamp gaps are
  * compared in integer microseconds (events.ts is µs-aligned).
  *
  * SINK SEMANTICS (the first operational question a deployment hits).
  * Structured Streaming replays an uncommitted micro-batch on recovery
  * with the same batchId, so exactly-once at the sink = deterministic
  * replay (all operators here sort per batch — given) + an idempotent
  * sink write. Two emission contracts exist in this surface:
  *
  *  - APPEND-ONLY FEEDS — each row is emitted exactly once per logical
  *    event/pair/adjacency: `stream_running_seq`, `stream_ewma`,
  *    `stream_markov`'s transition feed, `stream_seq_gap`'s pair feed,
  *    `stream_neardup`, and the watermark-governed built-ins
  *    (`stream_tumbling`, `stream_sliding`, `stream_session`,
  *    `stream_stateful_dedup`, `stream_stream_join`,
  *    `stream_static_join`, `stream_window_topk`'s per-batch rank).
  *    Idempotent-sink-safe via overwrite-by-batchId (foreachBatch
  *    writing `mode("overwrite")` into a batchId-keyed location —
  *    StreamingSpec's replay test drives exactly this pattern);
  *    a plain append sink instead yields at-least-once (duplicated
  *    rows for a replayed batch).
  *
  *  - LAST-EMISSION-PER-KEY — each touched key re-emits its CURRENT
  *    state every batch; the sink is read through "latest row per key":
  *    `stream_cdc_apply` (tombstone rows make deletes observable, so
  *    the contract is total) and `stream_heavyhitters` (contract holds
  *    only for keys present in the latest summary — see the eviction
  *    caveat on [[heavyHittersStream]]). Replay rewrites the same
  *    current-state rows, so these are idempotent under overwrite AND
  *    self-healing under append (a duplicate emission is the same
  *    key-state pair; the latest-row read collapses it).
  */
object Streaming {

  /** Microsecond instant of a Timestamp — THE event-time sort key of
    * every stateful fold here (events.ts is µs-grained: getTime alone
    * would collapse sub-ms neighbors and diverge from the oracles'
    * full-precision ORDER BY ts). One definition; a per-closure copy
    * already drifted once (runningSeq used lossy getTime). */
  private[graft] def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  // ------------------------------------------------------ stream transforms

  /** Tumbling 1-hour counts + value sums per event_type. */
  def tumblingStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("val_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("val_sum"))

  /** Sliding 1-hour window, 30-minute slide. */
  def slidingStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cnt"))

  /** Session windows per user, 30-minute inactivity gap. */
  def sessionStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("cnt"))

  /** First arrival per (user_id, event_type) within the watermark. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))

  /** BOUNDED-STATE streaming dedup — `dropDuplicatesWithinWatermark`,
    * the production form of [[dedupStream]]: dedup keys are guaranteed
    * unique only WITHIN the watermark delay, which lets the state store
    * EVICT keys once the watermark passes them (plain dropDuplicates
    * keys grow without bound on an unbounded key stream — the state-OOM
    * a 100 TB deployment hits first). The visible semantic difference —
    * a key recurring far beyond the delay is re-emitted as new — is
    * exactly what StreamingSpec pins down. */
  def dedupWithinWatermarkStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))

  /** Stream-stream interval join (click→purchase attribution): purchases
    * joined to the same user's clicks within the preceding 30 minutes.
    * Both sides carry watermarks so the state store can evict expired
    * click rows — the canonical watermarked stream-stream join.
    * Input frames must have columns (user_id, cts, click_id) and
    * (uid_p, pts, purchase_id). Batch and streaming give identical
    * pairs (StreamingSpec). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("cts", "1 hour").join(
      purchases.withWatermark("pts", "1 hour"),
      expr("""user_id = uid_p AND pts > cts AND
              pts <= cts + interval 30 minutes"""))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("cts"), col("pts"))

  /** Stream-static enrichment join: a (possibly streaming) event frame
    * joined to a static broadcast dimension — stateless on the stream
    * side, the standard fact→dim enrichment. Works identically batch
    * and streaming (StreamingSpec). */
  def enrichJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim("c_custkey"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        col("c_mktsegment"))

  /** Arbitrary stateful processing via `flatMapGroupsWithState`: per-user
    * running sequence numbers carried in explicit GroupState. The same
    * function runs over a batch Dataset (the declared oracle-checked
    * query) and under Structured Streaming's IncrementalExecution
    * (StreamingSpec) — state per key is one long, bounded.
    * Events are sorted (ts, event_id) inside each group buffer because
    * per-group iterator order is not guaranteed.
    *
    * MEMORY ASSUMPTION (deliberate): `it.toSeq.sortBy` buffers one
    * user's events *per micro-batch* (streaming) or one user's whole
    * partition slice (batch) in executor memory. That is bounded by
    * events-per-user-per-batch, NOT by total stream length — fine for
    * user-keyed activity streams (thousands of events per user per
    * batch), and StreamingSpec pins behavior on a pathologically hot
    * single key. If a key could see millions of events per batch,
    * pre-sort with a window rank instead (`stream_stateful_dedup`'s
    * shape) or salt the key. */
  def runningSeq(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id")).as[SeqEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[SeqEvent], state: GroupState[Long]) => {
          val start = state.getOption.getOrElse(0L)
          val sorted = it.toSeq.sortBy(e => (Streaming.micros(e.ts), e.event_id))
          state.update(start + sorted.size)
          sorted.iterator.zipWithIndex.map { case (e, i) =>
            SeqOut(uid, e.event_id, start + i + 1)
          }
        })
      .toDF()
  }

  /** Per-row 64-bit SimHash as a PURE PROJECTION — no aggregation, so it
    * can run ahead of a stateful streaming operator. Same majority-vote
    * definition as the batch `llm_simhash` fused-aggregate form
    * (StreamingSpec pins them bit-identical). Single-definition
    * reference form; kept for the spec's ground truth. The operator
    * itself uses the staged form below — hash once per token, THEN take
    * the 64 bit-majorities over the hash array — because this inlined
    * form recomputes xxhash64 per (token × bit): 64× redundant hashing
    * (measured ~4 s for the sf0.1 key vs ~1 s staged). */
  private[graft] val SimhashExprSql =
    """aggregate(
      |  transform(sequence(0, 63), b ->
      |    CASE WHEN 2 * size(filter(split(text, ' '),
      |                       t -> (shiftright(xxhash64(t), b) & 1) = 1))
      |              > size(split(text, ' '))
      |         THEN shiftleft(1L, b) ELSE 0L END),
      |  0L, (acc, v) -> acc + v)""".stripMargin

  /** Bit-majority SimHash over a precomputed token-hash array column
    * `hs` — the hot-path form: O(tokens) hashing + O(64·tokens) cheap
    * bit tests per row. CollapseProject keeps the `hs` projection
    * separate (non-cheap alias referenced 65×), so hashes really are
    * computed once. */
  private[graft] val SimhashFromHashesSql =
    """aggregate(
      |  transform(sequence(0, 63), b ->
      |    CASE WHEN 2 * size(filter(hs, h -> (shiftright(h, b) & 1) = 1))
      |              > size(hs)
      |         THEN shiftleft(1L, b) ELSE 0L END),
      |  0L, (acc, v) -> acc + v)""".stripMargin

  /** Per-bucket signature-state cap — the streaming analogue of the
    * batch near-dup bucket cap: a degenerate 16-bit bucket must not
    * accumulate unbounded state. Docs past the cap are still CHECKED
    * against the retained signatures, just not added (proven a no-op at
    * test SFs — max bucket occupancy ≪ 1024; a production deployment
    * would evict by event-time watermark instead). */
  private val NeardupStateCap = 1024

  /** Stateful streaming NEAR-dedup — the incremental analogue of the
    * batch near-dup family, beyond exact-key `dropDuplicates`: each doc's
    * 64-bit SimHash is banded into 4 × 16-bit bucket keys (pigeonhole:
    * exact for hamming ≤ 3, same scheme as `llm_simhash_neardup`); the
    * state store holds the signatures seen per bucket; an arriving doc
    * that lands within hamming ≤ 3 of a retained prior signature emits
    * (doc_id, band, dup_of = smallest such prior doc). Grouping is by
    * band bucket, so state lookups touch one bucket, never the corpus —
    * the LSH property is what makes streaming near-dup feasible at all.
    * Batch and streaming runs agree when docs arrive in doc_id order
    * (StreamingSpec feeds multi-batch MemoryStream and asserts equality
    * with this transform over the static frame, and with a pure
    * relational banded-join formulation). */
  def neardupStream(docs: DataFrame): DataFrame =
    neardupStreamCapped(docs, NeardupStateCap)

  /** [[neardupStream]] with an explicit per-bucket state cap —
    * StreamingSpec drives this at a shrunk cap to prove the eviction
    * contract live: past-cap docs are still CHECKED against retained
    * signatures (dups keep emitting) but are NOT added, so a later
    * near-dup of an un-retained doc stays silent. */
  private[graft] def neardupStreamCapped(docs: DataFrame, stateCap: Int): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val banded = docs
      .select(col("doc_id"),
        expr("transform(split(text, ' '), t -> xxhash64(t))").as("hs"))
      // native one-pass signature (r19 opt): the SQL HOF form re-scans
      // the hash array 64 times per doc through interpreted lambdas;
      // graft_simhash is one tight pass (pinned equal in StreamingSpec,
      // incl. the null-text → 0 case the coalesce preserves)
      .select(col("doc_id"),
        coalesce(graft.expressions.SimHashBits.simhash(col("hs")), lit(0L)).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("band").cast("int").as("band"),
        expr("shiftright(sig, CAST(band * 16 AS INT)) & 65535").as("band_key"),
        col("sig"))
      .as[BandDoc]
    banded.groupByKey(d => (d.band, d.band_key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), it: Iterator[BandDoc],
         state: GroupState[List[(Long, Long)]]) => {
          var seen = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[NearDup]
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            val hits = seen.collect { case (pid, psig)
              if pid < d.doc_id && java.lang.Long.bitCount(psig ^ d.sig) <= 3 => pid }
            if (hits.nonEmpty) out += NearDup(d.doc_id, d.band, hits.min)
            if (seen.size < stateCap) seen = (d.doc_id, d.sig) :: seen
          }
          state.update(seen)
          out.result().iterator
        })
      .toDF()
  }

  /** Incremental EWMA (α = 0.5) per user via `flatMapGroupsWithState` —
    * the streaming form of the `rel_ewma` fold: state is one
    * (seeded?, current) pair per user, each arriving event emits the
    * updated smoothed value. The recurrence is associative-free (order
    * matters), so events are sorted (µs, event_id) inside each batch
    * buffer and correctness across batches follows from the carried
    * state — StreamingSpec proves a multi-batch MemoryStream run is
    * row-identical to this same function over the static frame. Same
    * per-batch buffering envelope as [[runningSeq]] (bounded by
    * events-per-user-per-batch). α = 0.5 multiplies exactly, so batch,
    * stream, and the DuckDB prefix-fold oracle agree bit-for-bit. */
  def ewmaStream(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id"), col("value"))
      .as[TwsEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[TwsEvent], state: GroupState[(Boolean, Double)]) => {
          var (seeded, cur) = state.getOption.getOrElse((false, 0.0))
          val out = it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
            cur = if (seeded) cur * 0.5 + e.value * 0.5 else e.value
            seeded = true
            EwmaOut(uid, e.event_id, cur)
          }
          state.update((seeded, cur))
          out.iterator
        })
      .toDF()
  }

  /** Streaming INTER-ARRIVAL ANOMALY detector — per-user online z-score
    * on inter-event gaps with EXACT INTEGER moments: state per user is
    * (last_ts_us, n, Σgap, Σgap²) — four longs regardless of stream
    * length — and an arriving event's gap is flagged when it sits more
    * than 2σ from the mean of the user's PRIOR gaps, via the
    * cross-multiplied test (n·g − S)² > 4·(n·Q − S²) — no division, no
    * sqrt, no float state, so stream ≡ batch ≡ oracle bit-for-bit (a
    * Welford float recurrence would be batch-boundary-dependent).
    * Gaps are floor-seconds (exact integer µs division); the square is
    * taken in BigInt (the batch form uses DECIMAL(38,0)) because
    * (n·g−S)² can exceed int64 at real per-user event counts. Needs
    * n ≥ 2 prior gaps (a 1-gap σ is degenerate). Same in-order
    * envelope as [[ewmaStream]]/[[runningSeq]]. */
  def anomalyStream(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id"), col("value"))
      .as[TwsEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[TwsEvent], state: GroupState[AnomState]) => {
          var st = state.getOption.getOrElse(AnomState(Long.MinValue, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[AnomOut]()
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val tu = micros(e.ts)
            if (st.last_ts_us == Long.MinValue) st = AnomState(tu, 0L, 0L, 0L)
            else {
              val g = math.floorDiv(tu - st.last_ts_us, 1000000L)
              if (st.n >= 2L) {
                val a = BigInt(st.n) * BigInt(g) - BigInt(st.s)
                val b = BigInt(4) *
                  (BigInt(st.n) * BigInt(st.q) - BigInt(st.s) * BigInt(st.s))
                out += AnomOut(uid, e.event_id, g, st.n, a * a > b)
              }
              st = AnomState(tu, st.n + 1L, st.s + g, st.q + g * g)
            }
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  /** Declared batch form of [[anomalyStream]]: the same exact-integer
    * 2σ gap test stated with lag + prior-frame windows — n/S/Q are
    * `rows between unbounded preceding and 1 preceding` sums over the
    * per-user gap sequence, and the comparison squares in DECIMAL(38,0)
    * (the oracle's HUGEINT) because (n·g−S)² exceeds int64 within
    * real per-user histories. */
  def streamAnomaly(s: SparkSession, dir: String): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wPrior = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val gaps = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(wOrd))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_s", expr("(ts_us - prev_us) div 1000000"))
    gaps
      .withColumn("n_prior", count("gap_s").over(wPrior))
      .withColumn("s_prior", sum("gap_s").over(wPrior))
      .withColumn("q_prior", sum(col("gap_s") * col("gap_s")).over(wPrior))
      .filter(col("n_prior") >= 2)
      .select(col("user_id"), col("event_id"), col("gap_s"), col("n_prior"),
        ((d38(col("n_prior") * col("gap_s") - col("s_prior"))
          * d38(col("n_prior") * col("gap_s") - col("s_prior")))
          > d38(lit(4)) * (d38(col("n_prior")) * d38(col("q_prior"))
            - d38(col("s_prior")) * d38(col("s_prior"))))
          .as("is_anomaly"))
      .orderBy("user_id", "event_id")
  }

  /** Streaming TRANSITION FEED — the incremental form of
    * [[graft.operators.Mining.fpmMarkovTransition]]'s lead() pass: state
    * per user is ONE (ts_us, event_id, event_type) tuple (the last event
    * seen), each batch sorts its per-user buffer in the deterministic
    * (µs, event_id) event order and emits one (from_type, to_type) row
    * per adjacent step, chaining across batches through the carried
    * state. The downstream count/probability aggregation is an ordinary
    * (streaming) aggregate over this feed. Same in-order-across-batches
    * envelope as [[runningSeq]]/[[ewmaStream]] (a cross-batch
    * out-of-order event would retroactively change an already-emitted
    * adjacency — the same reason the batch key uses lead(), not state);
    * StreamingSpec proves a multi-batch run emits exactly the static
    * run's transition multiset. */
  def transitionStream(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[TransEvent], state: GroupState[TransState]) => {
          var last = state.getOption.orNull
          val out = it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).flatMap { e =>
            val r =
              if (last == null) Nil
              else List(TransOut(uid, last.event_type, e.event_type))
            last = TransState(e.event_type)
            r
          }
          state.update(last)
          out.iterator
        })
      .toDF()
  }

  /** Streaming GAP-PAIR FEED — the incremental form of
    * [[graft.operators.Mining.fpmSeqGap]]'s hour-bin range join: state
    * per user is the SLIDING-WINDOW BUFFER of events from the last hour
    * (exactly the state a stream-stream interval join keeps, with the
    * gap as its watermark-style TTL — pruned to `ts ≥ newest − gap`
    * after every event, so state is bounded by one hour of per-user
    * activity, never the history). Each batch sorts its per-user rows
    * in the deterministic (µs, event_id) order and emits one
    * (eta, etb) row per within-gap ordered pair against the buffer,
    * chaining across batches through the carried window. Same
    * in-order-across-batches envelope as [[transitionStream]] (a
    * cross-batch out-of-order event would pair against an
    * already-pruned window); StreamingSpec proves a multi-batch run
    * emits exactly the static run's pair multiset, including a pair
    * whose endpoints arrive in different batches and a beyond-gap pair
    * that must NOT emit. */
  def seqGapStream(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    val gapUs = 3600000000L // 1 hour, matching the batch key
    events.select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[TransEvent], state: GroupState[GapPairState]) => {
          var buf = state.getOption.map(_.buf).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[GapPairOut]
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val us = micros(e.ts)
            buf.foreach { case (aus, aeid, atype) =>
              if ((aus < us || (aus == us && aeid < e.event_id)) &&
                us <= aus + gapUs)
                out += GapPairOut(uid, atype, e.event_type)
            }
            buf = (buf :+ ((us, e.event_id, e.event_type)))
              .filter(_._1 >= us - gapUs)
          }
          state.update(GapPairState(buf))
          out.iterator
        })
      .toDF()
  }

  // ------------------------------------------- declared batch equivalents

  /** REAL STREAMING EXECUTION through the fimi connector, end to end:
    * events are staged as one-basket-per-event fimi lines
    * ([event_type, u<user_id mod 10>]), a `readStream.format("fimi")`
    * micro-batch scan filters the purchase baskets in-flight, and the
    * EXACTLY-ONCE streaming sink (`writeStream.format("fimi")`,
    * sources/fimi/FimiStreamingWrite.scala — epoch-manifest two-phase
    * commit) lands them; the sink table is then read back and mined for
    * item frequencies. Unlike the other `stream_*` keys (declared batch
    * equivalents whose stream forms are proven in StreamingSpec), this
    * key RUNS the stream on every call — the oracle compares the
    * DuckDB-side purchase counts against rows that actually traversed
    * readStream→filter→epoch-committed sink, so any loss or duplication
    * anywhere in the connector's streaming path fails the hash at every
    * SF the driver sweeps.
    *
    * Scale posture: the source is the connector's split-planned text
    * scan (micro-batched), the transform is a stateless filter, and the
    * sink's per-epoch driver work is one names-only log listing + one
    * manifest write + |tasks| renames — manifest CONTENT opens are O(1)
    * per epoch for the stream's whole lifetime (FimiLog's incremental
    * fold + periodic checkpoints; spec-counted in FimiLogSpec), so each
    * epoch's cost is O(its own data), the streaming invariant. The work
    * dir is rebuilt each call so epochs and checkpoints are
    * deterministic. */
  def streamFimiSink(s: SparkSession, dir: String): DataFrame = {
    val root = new java.io.File(
      Tables.workRoot(s, "graft_fimi_sink"),
      new java.io.File(dir).getName).getAbsolutePath
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(root))
    Tables.load(s, dir, "events")
      .select(array(col("event_type"),
        concat(lit("u"), (col("user_id") % 10).cast("string"))).as("items"))
      .write.format("fimi").mode("overwrite").save(s"$root/src")
    val q = s.readStream.format("fimi").load(s"$root/src")
      .filter(array_contains(col("items"), "purchase"))
      .select(col("items"))
      .writeStream.format("fimi").outputMode("append")
      .option("checkpointLocation", s"$root/ck")
      .start(s"$root/sink")
    try q.processAllAvailable() finally q.stop()
    val back = s.read.format("fimi").load(s"$root/sink")
    back.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("freq"))
      .orderBy("item")
  }

  /** CATALOG-MANAGED streaming end to end — [[streamFimiSink]]'s
    * pipeline re-expressed through table IDENTIFIERS instead of paths
    * (the form a governed deployment runs: sources and sinks addressed
    * through the catalog, never raw paths): the staged event baskets
    * become `readStream.table("<cat>.<ns>.src")`, the sink is a
    * `CREATE TABLE ... USING fimi` snapshot table written with
    * `writeStream.toTable("<cat>.<ns>.sink")` (each epoch an exactly-
    * once STREAMING APPEND manifest commit), and the read-back + mine
    * go through `spark.table` on the same identifier. The oracle is the
    * same purchase-count SQL as the path form, so any loss/duplication
    * introduced by the catalog resolution layer (table loading, option
    * threading, strictSchema write resolution) fails the hash at every
    * SF the driver sweeps.
    *
    * Scale posture: identical to [[streamFimiSink]] — the catalog adds
    * one name→path resolution per query, zero per-row work; the
    * streaming source/sink plumbing is byte-for-byte the connector's
    * (same discovery log, same epoch ledger). */
  def streamFimiTable(s: SparkSession, dir: String): DataFrame = {
    // Tables.fimiWorkCatalog holds the shared invariant: the per-SF
    // component is the NAMESPACE, never the catalog root (the root is
    // pinned at the catalog's first instantiation in a session)
    val wc = Tables.fimiWorkCatalog(s, "graft_fimi_tbl", "graft_stbl", dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(wc.nsDir))
    new java.io.File(wc.nsDir).mkdirs()
    val src = s"${wc.prefix}.src"
    val sink = s"${wc.prefix}.sink"
    Tables.load(s, dir, "events")
      .select(array(col("event_type"),
        concat(lit("u"), (col("user_id") % 10).cast("string"))).as("items"))
      .write.format("fimi").mode("overwrite").save(s"${wc.nsDir}/src.fimi")
    s.sql(s"DROP TABLE IF EXISTS $sink")
    s.sql(s"CREATE TABLE $sink (tid BIGINT, items ARRAY<STRING>) USING fimi")
    val q = s.readStream.table(src)
      .filter(array_contains(col("items"), "purchase"))
      .select(col("tid"), col("items"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"${wc.nsDir}/ck")
      .toTable(sink)
    try q.processAllAvailable() finally q.stop()
    s.table(sink)
      .select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("freq"))
      .orderBy("item")
  }

  /** STREAMING CHANGE-DATA-FEED consumption — the incremental-pipeline
    * shape downstream of a mutated table (`spark.readStream
    * .format("fimi").option("changesFrom", v)` — see
    * [[graft.sources.fimi.FimiChangesMicroBatchStream]]): the staged
    * event baskets become a snapshot table (v0), copy-on-write DML
    * mutates it (v1 deletes every purchase basket; v2 marks every
    * surviving u3 basket with `zz_s`), and a real AvailableNow
    * streaming query drains commits 1..2 as VERSION-ALIGNED
    * micro-batches under a `maxFilesPerTrigger` cap, netting each
    * batch's copy-on-write carryover with
    * [[graft.sources.fimi.FimiChanges.net]] in foreachBatch (exact
    * because a batch is always a whole number of commits) and
    * accumulating per-(version, side, item) counts. The oracle
    * re-derives both commits' net content changes from the events
    * parquet, so a lost commit, a split version, carryover leaking
    * through the per-batch netting, or an offset replay defect all
    * shift a count and fail the hash.
    *
    * Scale posture: per trigger one names-only log listing + cached
    * manifest-fold diff; batches read only the files their commits
    * touched — consumption cost tracks the churn, never the table.
    *
    * Bench honesty (r18 VERDICT task 1): the fixture — staging the
    * event baskets as a snapshot table and running the two
    * copy-on-write commits — is provisioned ONCE per (session, corpus)
    * by [[cdcFixture]] and shared across calls (the feed only reads
    * manifest history), so this key's bench number prices the
    * STREAMING DRAIN (offset planning, version-aligned batches,
    * per-batch netting), not table provisioning. Each call still runs
    * a fresh checkpoint, so the full offset replay is measured. */
  def streamFimiChanges(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.fimi.FimiChanges
    val (path, ckRoot) = cdcFixture(s, dir)
    // each call replays the full feed from a FRESH checkpoint; the
    // previous call's checkpoint is deleted here rather than
    // accumulating one ck-<uuid> dir per call under the long-lived
    // fixture namespace
    val ck = new java.io.File(ckRoot, "ck")
    def rmCk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmCk)
      f.delete(): Unit
    }
    rmCk(ck)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val q = s.readStream.format("fimi")
      .option(FimiChanges.FromOption, 1)
      .option("maxFilesPerTrigger", 8)
      .load(path)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = FimiChanges.net(bdf)
          .select(col(FimiChanges.VersionCol).as("version"),
            col(FimiChanges.ChangeTypeCol).as("change"),
            explode(col("items")).as("item"),
            col("n_baskets"))
          .groupBy("version", "change", "item")
          .agg(sum(col("n_baskets")).as("n"))
          .collect()
        acc.synchronized {
          acc ++= rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val sp = s
    import sp.implicits._
    acc.synchronized(acc.toSeq).toDF("version", "change", "item", "n")
      .orderBy("version", "change", "item")
  }

  /** One-time per (session, corpus) PROVISIONED change-feed source for
    * [[streamFimiChanges]]: event baskets staged as a snapshot table
    * (v0), copy-on-write DELETE (v1) and UPDATE (v2) — the commit
    * history every call's drain replays. Returns (table path, the
    * namespace dir fresh per-call checkpoints go under). The
    * `_cdc_ready` marker holds the corpus fingerprint and is written
    * AFTER the second DML lands: a crash mid-provision (or a corpus
    * regenerated mid-session) rebuilds instead of serving a
    * half-mutated fixture. */
  private val cdcFixtureLock = new Object
  private def cdcFixture(s: SparkSession, dir: String): (String, String) =
    cdcFixtureLock.synchronized {
      val wc = Tables.fimiWorkCatalog(s, "graft_fimi_cdc", "graft_scdc", dir)
      val path = s"${wc.nsDir}/src.fimi"
      val ready = new java.io.File(wc.nsDir, "_cdc_ready")
      val fp = Tables.fingerprint(dir)
      val current = ready.isFile &&
        new String(java.nio.file.Files.readAllBytes(ready.toPath), "UTF-8") == fp
      if (!current) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(wc.nsDir))
        new java.io.File(wc.nsDir).mkdirs()
        val src = s"${wc.prefix}.src"
        Tables.load(s, dir, "events")
          .select(array(col("event_type"),
            concat(lit("u"), (col("user_id") % 10).cast("string"))).as("items"))
          .repartition(4)
          .write.format("fimi").option("snapshots", "true")
          .mode("overwrite").save(path)                                      // v0
        s.sql(s"DELETE FROM $src WHERE array_contains(items, 'purchase')")   // v1
        s.sql(s"UPDATE $src SET items = array_union(items, array('zz_s')) " +
          "WHERE array_contains(items, 'u3')")                               // v2
        java.nio.file.Files.write(ready.toPath, fp.getBytes("UTF-8"))
      }
      (path, wc.nsDir)
    }

  def streamRunningSeq(s: SparkSession, dir: String): DataFrame =
    runningSeq(Tables.load(s, dir, "events"))
      .orderBy("user_id", "seq")

  def streamTumbling(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("val_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("val_sum"))
      .orderBy("window_start", "event_type")

  /** Per-window top-k: tumbling 1-day counts ranked within each window
    * (top-2 event types per day) — the trending-items query. In a live
    * stream the rank runs per micro-batch over the windowed aggregate
    * (foreachBatch; chained streaming aggregations are unsupported) —
    * StreamingSpec proves the foreachBatch form reproduces this batch
    * equivalent. */
  def streamWindowTopk(s: SparkSession, dir: String): DataFrame =
    windowTopk(Tables.load(s, dir, "events"))
      .orderBy("window_start", "rnk")

  /** The window-topk transform over any events frame (batch or a
    * foreachBatch sink table). */
  def windowTopk(events: DataFrame): DataFrame = {
    val counts = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))
    val w = Window.partitionBy("window_start")
      .orderBy(col("cnt").desc, col("event_type"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("window_start"), col("rnk").cast("long").as("rnk"),
        col("event_type"), col("cnt"))
  }

  def streamSliding(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cnt"))
      .orderBy("window_start")

  /** Batch sessionization: lag + cumulative-sum of gap starts — proven
    * equivalent to `session_window` by StreamingSpec. */
  def streamSession(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .withColumn("pts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_s",
        when(col("pts").isNull
          || unix_micros(col("ts")) - unix_micros(col("pts")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("cnt"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** Declared batch equivalent of [[timerSessions]] — the session
    * multiset [[SessionTimerProcessor]] emits once every timer has
    * fired: ms-grain gap sessionization (the processor compares
    * `Timestamp.getTime` milliseconds, NOT the µs grain
    * [[streamSession]] uses) projected to the processor's output shape
    * (user_id, n_events). StreamingSpec proves the equivalence by
    * driving the real stream per-burst and flushing the tail sessions
    * with a far-future sentinel. Duplicate (user, count) rows across a
    * user's sessions are identical rows, so the (user_id, n_events)
    * ORDER BY is hash-stable. */
  def streamSessionTimer(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .withColumn("ms", expr("unix_micros(ts) DIV 1000"))
      .withColumn("pms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_s",
        when(col("pms").isNull || col("ms") - col("pms") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
      .orderBy("user_id", "n_events")
  }

  /** Declared batch equivalent of [[attributionJoin]], aggregated to
    * per-user attributed-pair counts (bounded output). One shuffle by
    * user_id; the time predicate is evaluated in integer microseconds
    * (events.ts is µs-aligned — engine-identical). */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("uid_p"), col("ts").as("pts"),
        col("event_id").as("purchase_id"))
    attributionJoin(clicks, purchases)
      .groupBy("user_id")
      .agg(count(lit(1)).as("attributed_pairs"))
      .orderBy("user_id")
  }

  /** Declared batch equivalent of [[enrichJoin]] + segment rollup. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    enrichJoin(ev, cust)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("val_sum"))
      .orderBy("c_mktsegment")
  }

  def streamStatefulDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.load(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts").as("first_ts"))
      .orderBy("user_id", "event_type")
  }

  /** Declared batch run of [[neardupStream]] over the static documents
    * table. Rows-only (xxhash64 signatures — no DuckDB oracle); gated in
    * StreamingSpec by multi-batch stream ≡ batch ≡ relational-join
    * equivalence. */
  def streamNeardup(s: SparkSession, dir: String): DataFrame =
    neardupStream(Tables.load(s, dir, "documents").select("doc_id", "text"))
      .orderBy("doc_id", "band")

  /** Declared batch run of [[ewmaStream]] — per-event smoothed values
    * over the static events table, ordered for the hash compare. */
  def streamEwma(s: SparkSession, dir: String): DataFrame =
    ewmaStream(Tables.load(s, dir, "events"))
      .orderBy("user_id", "event_id")

  /** Streaming CDC APPLY — materialize current state from a change
    * STREAM: per-key latest-wins in (ts, event_id) order, 'error'
    * events as tombstones; the incremental form of
    * [[graft.operators.Relational.relCdcApply]] (which re-ranks the
    * whole log each run). State per key is ONE (ts, event_id, op,
    * value) tuple regardless of stream length — the CDC state a table
    * format's continuous MERGE maintains. Each batch that touches a key
    * re-emits that key's current row (update-style emission through the
    * append-mode API; the sink contract is last-emission-per-key =
    * current state). A tombstoned key EMITS ITS TOMBSTONE (a marker row
    * with last_op='error') — suppressing emission would leave the
    * sink's last row for the key its stale pre-delete state, so the
    * delete would never propagate downstream; consumers drop keys whose
    * last row is the marker. The tombstone also STAYS in state so a
    * late out-of-order pre-tombstone change cannot resurrect the key. */
  def cdcApplyStream(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id"),
        col("event_type"), col("value"))
      .as[CdcEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[CdcEvent], state: GroupState[CdcState]) => {
          var cur = state.getOption.orNull
          it.foreach { e =>
            val tu = micros(e.ts)
            if (cur == null || tu > cur.ts_us
                || (tu == cur.ts_us && e.event_id > cur.event_id))
              cur = CdcState(tu, e.event_id, e.event_type, e.value)
          }
          state.update(cur)
          Iterator.single(CdcOut(uid, cur.event_id, cur.op, cur.value))
        })
      .toDF()
  }

  /** Declared batch run of [[cdcApplyStream]] — the window-rank
    * latest-event-per-key materialization INCLUDING tombstone marker
    * rows (last_op='error'), where `rel_cdc_apply` post-filters them:
    * the stream key is the change FEED (deletes must be observable),
    * the relational key is the materialized TABLE (deletes are
    * absent). */
  def streamCdcApply(s: SparkSession, dir: String): DataFrame =
    cdcApplyStream(Tables.load(s, dir, "events"))
      .orderBy("user_id")

  /** Declared batch run of [[transitionStream]] + the count/probability
    * rollup — equals `fpm_markov_transition` row for row (same oracle
    * text): the stateful feed replaces the lead() window, the aggregate
    * is identical. */
  def streamMarkov(s: SparkSession, dir: String): DataFrame = {
    val tw = Window.partitionBy("from_type")
    transitionStream(Tables.load(s, dir, "events"))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("out_total", sum(col("cnt")).over(tw))
      .select(col("from_type"), col("to_type"), col("cnt"),
        (col("cnt").cast("double") / col("out_total").cast("double")).as("prob"))
      .orderBy("from_type", "to_type")
  }

  /** Key-space shards for the heavy-hitter sketch: each shard holds ONE
    * SpaceSaving summary, so shards = the operator's parallelism. A user
    * hashes to exactly one shard, so shard summaries partition the key
    * space and the union of shard outputs covers the stream. */
  private val HHShards = 32
  /** Per-shard SpaceSaving capacity. The guarantee (Metwally et al.,
    * ICDT 2005): any key with true count > N_shard/capacity is retained,
    * and every estimate overestimates by at most its recorded err. At
    * the test SFs (≤1500 users) no counter is ever evicted, so est is
    * the exact count and err = 0 — which is what makes the DuckDB hash
    * oracle possible; shrunk-capacity eviction semantics are proven in
    * StreamingSpec. At production cardinality the cap is what bounds
    * state: 32 shards × 8192 counters regardless of user count. */
  private val HHCapacity = 8192

  /** Streaming HEAVY HITTERS — SpaceSaving (Metwally et al., ICDT 2005)
    * per key-space shard behind `flatMapGroupsWithState`: state is the
    * shard's counter summary (≤ capacity entries of (user, est, err));
    * each arriving event increments its user's counter, a novel user
    * beyond capacity REPLACES the minimum-count counter (est = min+1,
    * err = min — the classic overestimate bookkeeping). Every batch the
    * shard re-emits its current summary; the sink contract is
    * last-emission-per-key = current estimate FOR KEYS PRESENT IN THE
    * SHARD'S LATEST SUMMARY ONLY. An EVICTED key's earlier emission
    * remains its last sink record — a stale count with err=0 — because
    * no retraction row is emitted for it (unlike [[cdcApplyStream]]'s
    * tombstones, a SpaceSaving eviction is not a semantic delete: the
    * key may re-enter later with inherited err). Consumers must
    * therefore anti-join their last-emission view against the latest
    * summary's key set (each batch re-emits the WHOLE summary of every
    * touched shard, so "latest summary" is recoverable from the sink
    * by max batch per shard) — or treat est at face value only where
    * no eviction can have fired, as at the tested SFs. Events fold in
    * (ts_us, event_id) order and eviction ties break by
    * (count, user_id), so the summary is bit-deterministic in any
    * engine.
    *
    * Cost envelope: an arrival that hits an existing counter is O(1);
    * only a NOVEL key at full capacity pays an O(capacity) min scan —
    * on the skewed streams heavy-hitter sketches exist for, the hot
    * keys are in-summary by definition, so evictions are the rare path
    * (the paper's stream-summary linked-bucket structure makes eviction
    * O(1) too; worth adopting only if profiles show novel-key churn).
    * Per-batch buffering is the same events-per-shard-per-batch
    * envelope as [[runningSeq]]'s per-user buffer. */
  def heavyHittersStream(events: DataFrame, shards: Int = HHShards,
      capacity: Int = HHCapacity): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id")).as[SeqEvent]
      .groupByKey(e => math.floorMod(scala.util.hashing.byteswap64(e.user_id), shards.toLong))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[SeqEvent], state: GroupState[List[(Long, Long, Long)]]) => {
          val m = scala.collection.mutable.HashMap[Long, (Long, Long)]()
          state.getOption.getOrElse(Nil).foreach { case (u, c, r) => m(u) = (c, r) }
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { ev =>
            m.get(ev.user_id) match {
              case Some((c, r)) => m(ev.user_id) = (c + 1, r)
              case None if m.size < capacity => m(ev.user_id) = (1L, 0L)
              case None =>
                val (vu, (vc, _)) = m.minBy { case (u, (c, _)) => (c, u) }
                m.remove(vu)
                m(ev.user_id) = (vc + 1, vc)
            }
          }
          val lst = m.toList.map { case (u, (c, r)) => (u, c, r) }
          state.update(lst)
          lst.sortBy(_._1).map { case (u, c, r) => HHOut(u, c, r) }.iterator
        })
      .toDF()
  }

  /** Declared batch run of [[heavyHittersStream]] + the threshold
    * filter: users whose event count exceeds 1.2× the global per-user
    * mean (the corpus is near-uniform, so a φN threshold would select
    * nobody; 1.2× mean lands mid-distribution — ~5 % of users pass,
    * measured at every SF). The filter is exact integer arithmetic
    * (10·est·U > 12·N) on the broadcast one-row totals frame; at test
    * SFs the un-evicted summary makes est the exact count, so the
    * DuckDB hash oracle applies in full. */
  def streamHeavyhitters(s: SparkSession, dir: String): DataFrame = {
    val tot = Tables.load(s, dir, "events")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
    heavyHittersStream(Tables.load(s, dir, "events"))
      .crossJoin(broadcast(tot))
      .filter(col("est") * col("u") * 10 > col("n") * 12)
      .select(col("user_id"), col("est"), col("err"))
      .orderBy("user_id")
  }

  /** Declared batch run of [[seqGapStream]] + the distinct-user support
    * rollup — equals `fpm_seq_gap` row for row (same oracle text): the
    * sliding-window state replaces the hour-bin range join, the
    * aggregate and integer threshold are identical. */
  def streamSeqGap(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.load(s, dir, "events")
      .select(countDistinct(col("user_id")).as("n_users"))
    seqGapStream(Tables.load(s, dir, "events"))
      .groupBy("eta", "etb").agg(countDistinct(col("user_id")).as("users"))
      .crossJoin(broadcast(users))
      .filter(col("users") * 100 >= col("n_users") * 18)
      .select(col("eta"), col("etb"), col("users"))
      .orderBy("eta", "etb")
  }

  /** The transformWithState transform over any events-shaped frame —
    * batch or streaming (the streaming run needs the RocksDB state
    * store provider, which the TWS operator requires; batch uses the
    * session default store). APPEND-ONLY FEED sink contract: one row
    * per event, exactly-once under overwrite-by-batchId like the other
    * arbitrary-stateful feeds. */
  def runningStats(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id"), col("value"))
      .as[TwsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor, TimeMode.None, OutputMode.Append)
      .toDF()
  }

  /** Timer-closed sessions over a WATERMARKED events stream (see
    * [[SessionTimerProcessor]]) — streaming-only (event-time timers);
    * StreamingSpec drives watermark advancement and asserts push-based
    * session emission + state clearing. */
  def timerSessions(events: DataFrame, gapMs: Long): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.withWatermark("ts", "10 minutes")
      .select(col("ts"), col("user_id"), col("event_id"), col("value"))
      .as[TwsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime, OutputMode.Append)
      .toDF()
  }

  /** The list/map-state history transform over any events-shaped frame
    * (see [[HistoryProcessor]]); APPEND-ONLY FEED sink contract. */
  def historyFeed(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .transformWithState(new HistoryProcessor, TimeMode.None, OutputMode.Append)
      .toDF()
  }

  /** Declared BATCH run of [[historyFeed]] — same batch-TWS execution
    * contract as [[streamTransformWithState]] (coordinator endpoint via
    * the Bridge, real operator under the window-function oracle). */
  def streamTwsHistory(s: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.Bridge.ensureStateStoreCoordinator(s)
    historyFeed(Tables.load(s, dir, "events"))
      .orderBy("user_id", "event_id")
  }

  /** Declared BATCH run of [[runningStats]] — Spark 4 executes
    * `transformWithState` in batch too (one processor invocation per
    * key over a throwaway state store), so the oracle-checked key runs
    * the REAL operator, not a window-function restatement. The one
    * batch-specific requirement is the driver-side StateStoreCoordinator
    * RPC endpoint, which only streaming queries create lazily —
    * [[org.apache.spark.sql.graft.Bridge.ensureStateStoreCoordinator]]
    * registers it idempotently first.
    *
    * Scale posture: one shuffle by user_id, per-key state is a single
    * (count, max) pair, per-invocation sort is bounded by per-user
    * activity — the same envelope as the flatMapGroupsWithState feeds. */
  def streamTransformWithState(s: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.Bridge.ensureStateStoreCoordinator(s)
    runningStats(Tables.load(s, dir, "events"))
      .orderBy("user_id", "event_id")
  }

  /** LATE-DATA DROP REPORT — the watermark audit a pipeline publishes
    * for a replayed stream: feed events as a DETERMINISTIC two-batch
    * arrival (batch 2 = `event_id % 3 == 0` — arrival order is an
    * ingestion property, so a fixed id rule stands in for it), run the
    * [[tumblingStream]] aggregation (1 h windows per event_type,
    * 10-minute watermark, append mode), and report per window cell the
    * count the stream emits plus how many batch-2 arrivals the
    * watermark dropped.
    *
    * The drop rule is Spark's own, restated as exact integer µs
    * arithmetic so a DuckDB oracle can verify it: after batch 1 the
    * watermark is `max(batch-1 event time)` — tracked by the engine in
    * MILLISECONDS — minus the 10-minute delay, and a batch-2 row is
    * dropped iff its window END (hour truncation + 1 h) is ≤ that
    * watermark (the same predicate that evicts closed window state;
    * batch-1 rows see watermark 0 and always land). StreamingSpec
    * replays the same two batches through a real MemoryStream (plus a
    * sentinel flush batch that closes every window) and proves the
    * emitted multiset equals this report's cnt>0 rows and the fed−
    * emitted difference equals Σ n_dropped.
    *
    * Scale posture: one broadcast 1-row watermark frame, one map-side-
    * combined aggregate keyed by (hour, type) — calendar-bounded output
    * regardless of event volume, the same envelope as stream_tumbling. */
  def streamLateData(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("ts"), col("event_type"), col("event_id"))
    val isB2 = col("event_id") % 3 === 0
    val wm1 = ev.filter(!isB2).agg(
      (expr("unix_micros(max(ts)) DIV 1000 * 1000") - lit(600000000L))
        .as("wm_us"))
    ev.crossJoin(broadcast(wm1))
      .withColumn("dropped",
        isB2 && (unix_micros(date_trunc("hour", col("ts"))) + lit(3600000000L)
          <= col("wm_us")))
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(sum(when(col("dropped"), 0L).otherwise(1L)).as("cnt"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("window_start", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_late_data" -> (streamLateData _),
    "stream_transform_with_state" -> (streamTransformWithState _),
    "stream_tws_history"   -> (streamTwsHistory _),
    "stream_heavyhitters"  -> (streamHeavyhitters _),
    "stream_seq_gap"       -> (streamSeqGap _),
    "stream_markov"        -> (streamMarkov _),
    "stream_cdc_apply"     -> (streamCdcApply _),
    "stream_ewma"          -> (streamEwma _),
    "stream_window_topk"   -> (streamWindowTopk _),
    "stream_neardup"        -> (streamNeardup _),
    "stream_running_seq"    -> (streamRunningSeq _),
    "stream_tumbling"       -> (streamTumbling _),
    "stream_sliding"        -> (streamSliding _),
    "stream_session"        -> (streamSession _),
    "stream_session_timer"  -> (streamSessionTimer _),
    "stream_stateful_dedup" -> (streamStatefulDedup _),
    "stream_anomaly"        -> (streamAnomaly _),
    "stream_stream_join"    -> (streamStreamJoin _),
    "stream_static_join"    -> (streamStaticJoin _),
    "stream_fimi_sink"      -> (streamFimiSink _),
    "stream_fimi_table"     -> (streamFimiTable _),
    "stream_fimi_changes"   -> (streamFimiChanges _),
  )

  val oracle: Map[String, String] = Map(
    "stream_late_data" ->
      """WITH wm AS (
        |  SELECT epoch_us(max(ts)) // 1000 * 1000 - 600000000 AS wm_us
        |  FROM events WHERE event_id % 3 <> 0),
        |f AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |         (event_id % 3 = 0) AND
        |         (epoch_us(date_trunc('hour', ts)) + 3600000000
        |            <= (SELECT wm_us FROM wm)) AS dropped
        |  FROM events)
        |SELECT window_start, event_type,
        |       CAST(sum(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS cnt,
        |       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM f GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,

    "stream_anomaly" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (
        |  SELECT user_id, event_id, ts_us,
        |         (ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |              ORDER BY ts_us, event_id)) // 1000000 AS gap_s
        |  FROM ev),
        |p AS (
        |  SELECT user_id, event_id, gap_s,
        |         CAST(count(gap_s) OVER w AS BIGINT) AS n_prior,
        |         CAST(sum(gap_s) OVER w AS BIGINT) AS s_prior,
        |         CAST(sum(gap_s * gap_s) OVER w AS BIGINT) AS q_prior
        |  FROM g WHERE gap_s IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, gap_s, n_prior,
        |       CAST(n_prior * gap_s - s_prior AS HUGEINT)
        |         * CAST(n_prior * gap_s - s_prior AS HUGEINT)
        |       > 4 * (CAST(n_prior AS HUGEINT) * CAST(q_prior AS HUGEINT)
        |              - CAST(s_prior AS HUGEINT) * CAST(s_prior AS HUGEINT))
        |         AS is_anomaly
        |FROM p WHERE n_prior >= 2
        |ORDER BY user_id, event_id""".stripMargin,

    "stream_transform_with_state" ->
      """SELECT user_id, event_id,
        |       CAST(row_number() OVER w AS BIGINT) AS run_cnt,
        |       max(value) OVER w AS run_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "stream_tws_history" ->
      """SELECT user_id, event_id,
        |       lag(event_type, 1) OVER w AS prev1,
        |       lag(event_type, 2) OVER w AS prev2,
        |       CAST(row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts, event_id) AS BIGINT) AS type_seen
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "stream_heavyhitters" ->
      """WITH tot AS (SELECT count(*) AS n, count(DISTINCT user_id) AS u
        |             FROM events),
        |     pc AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id)
        |SELECT pc.user_id, CAST(pc.c AS BIGINT) AS est, CAST(0 AS BIGINT) AS err
        |FROM pc, tot WHERE pc.c * tot.u * 10 > tot.n * 12
        |ORDER BY user_id""".stripMargin,

    "stream_seq_gap" ->
      """SELECT a.event_type AS eta, b.event_type AS etb,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS users
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND (epoch_us(a.ts) < epoch_us(b.ts)
        |      OR (epoch_us(a.ts) = epoch_us(b.ts) AND a.event_id < b.event_id))
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
        |GROUP BY a.event_type, b.event_type
        |HAVING count(DISTINCT a.user_id) * 100 >=
        |       18 * (SELECT count(DISTINCT user_id) FROM events)
        |ORDER BY eta, etb""".stripMargin,

    "stream_markov" ->
      """WITH tr AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
        |      FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |       CAST(cnt AS DOUBLE)
        |         / CAST(sum(cnt) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "stream_cdc_apply" ->
      """SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_op, value AS cur_value
        |FROM (SELECT user_id, event_id, event_type, value,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "stream_ewma" ->
      """WITH pre AS (
        |  SELECT user_id, event_id,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING
        |                           AND CURRENT ROW) AS vs
        |  FROM events)
        |SELECT user_id, event_id,
        |       list_reduce(vs, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
        |FROM pre ORDER BY user_id, event_id""".stripMargin,

    "stream_running_seq" ->
      """SELECT user_id, event_id,
        |       CAST(row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS BIGINT) AS seq
        |FROM events ORDER BY user_id, seq""".stripMargin,

    "stream_window_topk" ->
      """WITH w AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |         event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start,
        |       CAST(row_number() OVER (PARTITION BY window_start
        |                               ORDER BY cnt DESC, event_type) AS BIGINT) AS rnk,
        |       event_type, cnt
        |FROM w QUALIFY rnk <= 2
        |ORDER BY window_start, rnk""".stripMargin,

    // Content-identity oracle for the streaming fimi sink: item counts
    // over the baskets that traversed readStream→filter→exactly-once
    // sink must equal the purchase-event counts computed from parquet.
    "stream_fimi_sink" ->
      """SELECT item, CAST(count(*) AS BIGINT) AS freq FROM (
        |  SELECT event_type AS item FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT 'u' || CAST(user_id % 10 AS VARCHAR) FROM events
        |  WHERE event_type = 'purchase')
        |GROUP BY item ORDER BY item""".stripMargin,

    // Same content-identity oracle through CATALOG identifiers:
    // readStream.table -> toTable must land exactly the purchase
    // baskets the path-based form lands.
    "stream_fimi_table" ->
      """SELECT item, CAST(count(*) AS BIGINT) AS freq FROM (
        |  SELECT event_type AS item FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT 'u' || CAST(user_id % 10 AS VARCHAR) FROM events
        |  WHERE event_type = 'purchase')
        |GROUP BY item ORDER BY item""".stripMargin,

    // Streaming change-feed ground truth: each commit's NET content
    // change re-derived from the events parquet — v1 net-deletes every
    // purchase basket; v2 net-deletes each surviving u3 basket's
    // pre-image and net-inserts its post-image (+ zz_s marker). A lost
    // commit, a split version, carryover leaking through the per-batch
    // netting, or a replayed-offset defect shifts a count.
    "stream_fimi_changes" ->
      """WITH b AS (SELECT event_type AS et,
        |                  'u' || CAST(user_id % 10 AS VARCHAR) AS ub
        |           FROM events),
        |del AS (SELECT * FROM b WHERE et = 'purchase'),
        |upd AS (SELECT * FROM b WHERE et <> 'purchase' AND ub = 'u3')
        |SELECT version, change, item, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, 'delete' AS change, et AS item FROM del
        |  UNION ALL SELECT CAST(1 AS BIGINT), 'delete', ub FROM del
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'delete', et FROM upd
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'delete', ub FROM upd
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'insert', et FROM upd
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'insert', ub FROM upd
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'insert', 'zz_s' FROM upd
        |) GROUP BY 1, 2, 3
        |ORDER BY version, change, item""".stripMargin,

    "stream_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "stream_sliding" ->
      """SELECT window_start, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP) AS window_start FROM events
        |  UNION ALL
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS TIMESTAMP) FROM events)
        |GROUP BY window_start ORDER BY window_start""".stripMargin,

    "stream_session" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |         CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 1800000000
        |              THEN 1 ELSE 0 END AS new_s,
        |         event_id
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM y)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "stream_session_timer" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id
        |  FROM events),
        |y AS (
        |  SELECT user_id, ms, event_id,
        |         CASE WHEN lag(ms) OVER w IS NULL
        |                OR ms - lag(ms) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |z AS (
        |  SELECT user_id,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM y)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, n_events""".stripMargin,

    "stream_stream_join" ->
      """SELECT a.user_id, CAST(count(*) AS BIGINT) AS attributed_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts > a.ts
        | AND epoch_us(b.ts) - epoch_us(a.ts) <= 1800000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,

    "stream_static_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "stream_stateful_dedup" ->
      """SELECT user_id, event_type, event_id, ts AS first_ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
  )
}
