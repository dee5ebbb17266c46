package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table shape.
  *
  * The reference is pure batch (`@monthly` Airflow DAG,
  * `Lucas files/finalversion:431`; SURVEY.md §2.9) — this module is the
  * strictly-additive streaming surface: the same 5-minute windowed
  * aggregation as the batch `events_window` query, plus per-user
  * sessionization with custom state. Transform logic takes a DataFrame so
  * the identical plan runs over `readStream` sources in production and
  * `MemoryStream` in tests.
  *
  * Scale notes: the windowed agg shuffles on (window, event_type) with
  * map-side partial aggregation; the watermark bounds state to 10 minutes of
  * event-time per key. Sessionization state is one small struct per active
  * user, dropped by processing-time timeout.
  */
object EventsStream {

  /** Event row as arriving on the stream (ts is a real event-time column —
    * the batch parquet's TIMESTAMP(NANOS) lands here as timestamp).
    */
  case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, n_events: Long, sum_value: Double,
      closed: Boolean)

  // public: Catalyst's generated deserializer instantiates it reflectively
  case class SessionState(n: Long, sum: Double)

  /** The fallback watermark delay when nothing has been measured — a
    * guess, and documented as one. Every transform below accepts an
    * explicit delay; [[run]] replaces this default with
    * [[derivedWatermarkDelay]] measured from the landed data.
    */
  val DefaultWatermarkDelay = "10 minutes"

  /** The measured lateness quantile of an events frame, in microseconds —
    * per event, lateness = (max event-time seen so far in its user's
    * arrival order) − (its own event-time), the same disorder the
    * registered `events_lateness` audit histograms. `None` when the frame
    * is empty (deploy-before-data). Uses `approx_percentile`: a bounded-
    * memory sketch per partition + merge, so the measurement pass scales
    * like any other aggregate (an exact percentile would sort the full
    * lateness column to find one number).
    */
  def measuredLatenessMicros(events: DataFrame,
      quantile: Double = 0.99): Option[Long] = {
    require(quantile > 0 && quantile < 1, s"quantile must be in (0,1): $quantile")
    val byArrival = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val row = events
      .select((unix_micros(max(col("ts")).over(byArrival)) -
        unix_micros(col("ts"))).as("late_us"))
      .agg(expr(s"approx_percentile(late_us, $quantile)").as("q"))
      .first()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Watermark delay DERIVED from measured disorder instead of guessed
    * (r8 verdict task #7 — the same knob-free philosophy as the LSH
    * geometry auto-sizing): the `quantile` lateness observed in `events`,
    * rounded UP to a whole minute with one extra minute of margin, so at
    * least `quantile` of historically-observed events would land inside
    * the watermark. Floored at 1 minute (an all-in-order history still
    * needs a nonzero horizon for clock skew); `None`-lateness (no data
    * yet) falls back to [[DefaultWatermarkDelay]]. Returns a Spark
    * interval string, directly usable by `withWatermark`.
    */
  def derivedWatermarkDelay(events: DataFrame,
      quantile: Double = 0.99): String =
    measuredLatenessMicros(events, quantile) match {
      case None => DefaultWatermarkDelay
      case Some(us) =>
        val minuteUs = 60000000L
        val mins = math.max(1L, (us + minuteUs - 1) / minuteUs + 1L)
        s"$mins minutes"
    }

  /** 5-minute tumbling-window count/sum per event type with a watermark —
    * the streaming twin of the batch `events_window` query
    * (graft.operators.Analytics.eventsWindow). Late rows beyond the
    * watermark are dropped; state per (window, type) is evicted once the
    * watermark passes the window end. The delay defaults to the fallback
    * guess; production ([[run]]) passes the measured
    * [[derivedWatermarkDelay]] and deployments can inject any explicit
    * value.
    */
  def windowedCounts(events: DataFrame,
      watermarkDelay: String = DefaultWatermarkDelay): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup: first event per (user_id, event_type) within
    * the watermark horizon survives; replays/duplicates are dropped with
    * per-key state evicted as the watermark advances — the streaming twin
    * of the batch dedup family (graft.operators.Dedup). At 100 TB/day the
    * watermark bound is what keeps dedup state finite.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Per-user running session state via mapGroupsWithState: accumulates
    * event count + value sum per user, closing the session after 30 minutes
    * of processing-time inactivity (SURVEY.md §2.9's "custom state" slot).
    *
    * `timeout` is injectable: production uses the default
    * ProcessingTimeTimeout (idle sessions close + state is evicted — at
    * scale unbounded state is a leak); tests pass NoTimeout because a
    * pending timeout keeps the no-data micro-batch loop spinning, which
    * deadlocks `processAllAvailable`.
    */
  def sessionize(events: Dataset[Event],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val usesTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(userId, s.n, s.sum, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0))
            val (n, sum) = rows.foldLeft((prev.n, prev.sum)) {
              case ((c, v), e) => (c + 1, v + e.value)
            }
            state.update(SessionState(n, sum))
            if (usesTimeout) state.setTimeoutDuration("30 minutes")
            SessionUpdate(userId, n, sum, closed = false)
          }
      }
  }

  /** Native session windows on a STREAM — the same
    * `session_window(ts, gap)` aggregation the batch
    * `events_session_builtin` query plans (UpdatingSessionsExec with
    * merging session buffers IS the streaming-capable operator; this
    * wires it through a watermark so it actually streams). Sessions
    * close and emit in Append mode once the watermark passes their end;
    * open sessions live in keyed state, merged as late-but-in-horizon
    * events extend them, and are evicted on close — the built-in
    * counterpart of [[sessionize]]'s hand-rolled mapGroupsWithState.
    * Output schema matches the batch twin (unix-micro session bounds +
    * event count), so stream≡batch parity is directly assertable, and
    * runs unchanged on either state-store provider (EventsStreamSpec
    * asserts both).
    *
    * Scale shape: one user-keyed exchange into the session merge (the
    * same single shuffle as the batch plan), state bounded by open
    * sessions inside the watermark horizon per user.
    */
  def sessionWindowStream(events: DataFrame,
      watermarkDelay: String = DefaultWatermarkDelay,
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("session_start_us"),
        expr("unix_micros(w.end)").as("session_end_us"),
        col("n_events"))

  /** Streaming distinct-count sketch — the online twin of the batch
    * `distinct_sketch` query: per micro-batch, fold arriving events into
    * the (event_type, bucket) → max-rho register table via a plain
    * streaming max aggregation. No watermark and no eviction are NEEDED:
    * unlike row-keyed state, the register table's domain is bounded by
    * construction (|types| × 64 rows — the whole point of a sketch), so
    * "unbounded" state here is a few KB forever. Registers merge across
    * restarts, days, and with the batch-built partials by the same max —
    * the mergeability the batch gate proves algebraically. Register
    * arithmetic is [[graft.operators.Sampling.withSketchRho]], shared
    * with the batch side so the two cannot drift.
    *
    * Sink contract: a watermarkless aggregation emits in Update/Complete
    * mode (memory/console/foreachBatch) — an append-only file sink needs
    * the foreachBatch route, e.g. [[UpsertSink]] keyed on (event_type,
    * bucket), which the register table's max-merge idempotence suits
    * exactly.
    */
  def sketchStream(events: DataFrame): DataFrame =
    graft.operators.Sampling.withSketchRho(
        events.select(col("event_type"), col("user_id")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))

  /** Day length in MICROS — quantStream keys state off TimestampType
    * event time (µs precision), unlike the batch side's raw-nanos floor;
    * both floors land on the same day integer.
    */
  private val DayMicros = 86400L * 1000000L

  /** Streaming maintenance of the batch `quantile_sketch` day-grain COUNT
    * registers — the percentile complement of [[sketchStream]]: arriving
    * events fold into the (event_type, day, bucket) → count table via a
    * plain streaming count aggregation. Like the rho registers, the state
    * domain is bounded by construction (|types| × |days in horizon| × ≤512
    * log-buckets — see [[graft.operators.Sampling.withQuantBucket]], the
    * SHARED bucket arithmetic, so stream and batch cannot drift); a
    * nightly consumer folds any day range with a register-domain sum and
    * reads p50/p90/p99 without touching the corpus.
    *
    * Sink contract: counts (unlike max-rho) are not re-apply-idempotent,
    * so the emit path must be keyed REPLACEMENT of register rows — the
    * streaming aggregation state holds true totals, and Update/Complete
    * into a keyed sink ([[UpsertSink]] on (event_type, day, bucket))
    * replays safely: re-delivering a row overwrites it with the same
    * total.
    */
  def quantStream(events: DataFrame): DataFrame =
    graft.operators.Sampling.withQuantBucket(
        events.select(col("event_type"), col("ts"), col("value")))
      .withColumn("day", expr(
        s"(unix_micros(ts) - pmod(unix_micros(ts), ${DayMicros}L)) div ${DayMicros}L"))
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Streaming maintenance of the batch `sketch_cms` day-grain COUNT-MIN
    * registers — the frequency complement of [[sketchStream]] (distinct)
    * and [[quantStream]] (percentiles), completing the sketch-triple's
    * online half: arriving events fold into the (day, r, bucket) → count
    * cell table via a plain streaming count aggregation over the cells
    * [[graft.operators.Sampling.withCmsCells]] explodes — the SHARED
    * geometry rendering, so stream and batch cannot drift. State is
    * bounded by construction at |days in horizon| × 4 × 256 integer
    * cells; a point query for ANY key is minᵣ cell[r, hᵣ(key)] over the
    * day-summed registers, no corpus rescan, never undershooting.
    *
    * Sink contract: counts are not re-apply-idempotent (the
    * [[quantStream]] argument) — emit via keyed REPLACEMENT of cell rows
    * (Update/Complete into [[UpsertSink]] on (day, r, bucket)); the
    * aggregation state holds true totals so replays overwrite with the
    * same value.
    */
  def cmsStream(events: DataFrame): DataFrame =
    graft.operators.Sampling.withCmsCells(
        events.select(col("user_id"), col("ts")))
      .withColumn("day", expr(
        s"(unix_micros(ts) - pmod(unix_micros(ts), ${DayMicros}L)) div ${DayMicros}L"))
      .groupBy(col("day"), col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Online maintenance of the `join_size_est` count-sketch registers —
    * sketch linearity is the whole trick: each arriving event adds ±1 to
    * its [[graft.operators.Sampling.withJseCells]] cells (the SHARED
    * geometry rendering), and because the sketch of per-key counts is
    * the sum of per-event contributions, the streaming aggregation state
    * IS the batch sketch of the running key-count table. A planner can
    * then price "stream ⋈ static" joins online — register inner product
    * against a static relation's sketch — without ever scanning the
    * stream's history. State is 5 × 256 signed+unsigned integer cells,
    * bounded by construction; counts are not re-apply-idempotent, so the
    * emit path is keyed replacement on (r, b) (the [[quantStream]] sink
    * contract).
    */
  def jseStream(events: DataFrame): DataFrame =
    graft.operators.Sampling.withJseCells(
        events.select(col("user_id").as("k")))
      .groupBy(col("r"), col("b"))
      .agg(sum(col("sgn")).as("v"), count(lit(1)).as("u"))

  case class RateVerdict(user_id: Long, ts_us: Long, n_window: Long,
      limited: Boolean)

  // public: Catalyst's generated deserializer instantiates it reflectively
  case class RateState(recent: List[Long])

  /** Streaming per-user rate limiting — the online half of the batch
    * `events_rolling` trailing-window features: every event is annotated
    * with how many events its user produced in the trailing `windowMicros`
    * (event-time, inclusive, current event counted — the IDENTICAL frame
    * the batch RANGE window computes) and flagged once that count exceeds
    * `maxInWindow`. The abuse/flood gate a 100 TB/day ingest runs inline.
    *
    * State per user is ONLY the in-window timestamp list, evicted as
    * events age past the window — not a growing history. The bound is
    * the user's actual in-window event count: honest users hold
    * ≤ maxInWindow+ε entries, and even a flooding key holds exactly what
    * the BATCH sliding RANGE frame would buffer for the same data — the
    * streaming state is never worse than the batch window's working set
    * for that key (cap the list and saturate the verdict if a deployment
    * wants a hard ceiling at the cost of exact counts above it). DORMANT
    * keys free their state via an event-time timeout at (newest entry +
    * window): once the watermark passes it, every buffered timestamp is
    * outside any future event's trailing window, so eviction cannot
    * change a verdict — a user's first event after dormancy recreates
    * state from scratch, exactly what the fold would have computed
    * anyway. Eviction is asserted against the operator's state metrics
    * in EventsStreamSpec.
    * The per-batch fold is a head-drop on a mutable deque (timestamps
    * are processed sorted, so expiry only ever removes from the front):
    * O(batch + evictions) per key, not O(len²) list rebuilds.
    * Rows inside a micro-batch are event-time-sorted per user
    * before folding; cross-batch order is the source's responsibility
    * (in-order per user ⇒ stream output ≡ batch rolling count, asserted
    * in EventsStreamSpec).
    */
  def rateLimit(events: Dataset[Event], windowMicros: Long, maxInWindow: Int)
      : Dataset[RateVerdict] = {
    import events.sparkSession.implicits._
    def micros(e: Event): Long =
      (e.ts.getTime / 1000L) * 1000000L + (e.ts.getNanos / 1000L)
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[RateState]) =>
          if (state.hasTimedOut) {
            // watermark passed (newest entry + window): no future event's
            // trailing window can reach any buffered timestamp
            state.remove()
            Iterator.empty
          } else {
            val recent = scala.collection.mutable.ArrayDeque
              .from(state.getOption.map(_.recent).getOrElse(Nil))
            val out = rows.toSeq.map(e => (micros(e), e)).sortBy(_._1).map {
              case (t, _) =>
                recent.append(t)
                while (recent.head < t - windowMicros) recent.removeHead()
                RateVerdict(userId, t, recent.size.toLong,
                  recent.size > maxInWindow)
            }
            if (recent.nonEmpty) {
              state.update(RateState(recent.toList))
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1,
                recent.last / 1000L + windowMicros / 1000L + 1))
            }
            out.iterator
          }
      }
  }

  case class Attribution(user_id: Long, ts_us: Long, attribution: String,
      value: Double)

  // public: Catalyst's generated deserializer instantiates it reflectively
  case class TouchState(lastClickUs: Long)

  /** Streaming last-touch attribution — the online half of the batch
    * `events_attribution` query: every purchase is emitted with the lag
    * bucket to its user's most recent preceding click (<1 h / 1 h–24 h /
    * 1 d–7 d / organic), using the IDENTICAL inclusive thresholds the
    * batch running-max window evaluates, so stream and batch agree
    * row-for-row on in-order input (asserted in EventsStreamSpec).
    *
    * State per user is ONE long (the last click's event-time micros) —
    * constant regardless of history length, the smallest state any
    * attribution join can carry: where [[clickPurchaseJoin]] buffers a
    * watermark horizon of BOTH streams, the last-touch rule is a running
    * fold, so flatMapGroupsWithState with a scalar state replaces the
    * join entirely. A click older than the 7-day organic horizon can
    * never change a verdict, so state for dormant users is BOUNDED by an
    * event-time timeout at (last click + 7 days): once the watermark
    * passes it, any future purchase's lag exceeds the organic horizon,
    * so eviction produces the identical "organic" verdict the retained
    * click would have — TTL is semantics-free by construction, and the
    * eviction itself is asserted against the operator's state metrics in
    * EventsStreamSpec.
    * Rows inside a micro-batch are event-time-sorted per user (stable,
    * so a same-timestamp click counts when the source delivers it before
    * the purchase — the batch (ts, event_id) tiebreak's contract);
    * cross-batch order is the source's responsibility.
    */
  def lastTouch(events: Dataset[Event]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    def micros(e: Event): Long =
      (e.ts.getTime / 1000L) * 1000000L + (e.ts.getNanos / 1000L)
    val (hourUs, dayUs, weekUs) =
      (3600000000L, 86400000000L, 604800000000L)
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            // watermark passed (click + 7 days): every future purchase is
            // "organic" with or without this state
            state.remove()
            Iterator.empty
          } else {
            var lastClick = state.getOption.map(_.lastClickUs)
            val out = rows.toSeq.sortBy(micros).flatMap { e =>
              val t = micros(e)
              e.event_type match {
                case "click" =>
                  lastClick = Some(t); None
                case "purchase" =>
                  val bucket = lastClick match {
                    case Some(c) if t - c <= hourUs => "lt_1h"
                    case Some(c) if t - c <= dayUs => "1h_24h"
                    case Some(c) if t - c <= weekUs => "1d_7d"
                    case _ => "organic"
                  }
                  Some(Attribution(userId, t, bucket, e.value))
                case _ => None
              }
            }
            lastClick.foreach { c =>
              state.update(TouchState(c))
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1,
                c / 1000L + weekUs / 1000L + 1))
            }
            out.iterator
          }
      }
  }

  /** Stream-STATIC enrichment join + per-segment windowed aggregation —
    * the third join shape of the streaming matrix (stateful fold:
    * [[lastTouch]]; stream-stream: [[clickPurchaseJoin]]; stream-static:
    * here). The dimension is a plain batch frame: Spark re-resolves it
    * per micro-batch and the explicit `broadcast` ships it map-side, so
    * the STREAM side never shuffles for the join and the operator holds
    * NO join state at all (the canonical 100 TB/day enrichment: dim
    * updates become visible on the next micro-batch for free).
    * Unmatched users fall into an UNKNOWN segment rather than dropping —
    * an enrichment must never lose fact rows.
    *
    * Batch-identical by construction: the registered
    * `events_segment_window` query runs THIS transform over the batch
    * events table (watermarks eliminate to no-ops in batch), so the
    * DuckDB oracle gates the one shared plan — the events_clickjoin
    * contract. The DECIMAL(18,2) sum keeps the aggregate exact and
    * hash-stable cross-engine.
    */
  def segmentWindowCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").cast("long").as("bucket"), col("segment"),
        col("n"), col("sum_value"))

  /** Stream-stream interval join: every `click` joins the same user's
    * `purchase` events that arrive within the 10 minutes AFTER the click —
    * the attribution join a real event pipeline runs continuously. Both
    * sides carry watermarks and the join condition bounds purchase time
    * relative to click time, so Spark can size and EVICT both state
    * buffers (state ≈ one watermark horizon per side per user); without
    * the time bound + watermarks, a stream-stream inner join must buffer
    * both streams forever — the canonical streaming state leak at scale.
    * Self-joining one filtered source stream twice is the supported
    * append-mode layout.
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("click_value"), col("purchase_value"))
  }

  /** LEFT OUTER watermarked interval join — the abandoned-click stream.
    * Same band as [[clickPurchaseJoin]], but a click with NO purchase in
    * its 10-minute window must still be emitted (purchase columns null) —
    * and in a stream that answer is only knowable once the watermark has
    * passed the window's end, so the engine holds the click in state
    * exactly that long and emits the null row on watermark advance. That
    * deferred-null semantics is THE capability inner joins don't
    * exercise; conversion-rate and remarketing pipelines are built on it.
    * State stays watermark-bounded on both sides, identical to the inner
    * form — at 100 TB/day the horizon, not the corpus, sizes state.
    */
  def clickPurchaseJoinOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("click_value"), col("purchase_value"))
  }

  /** `foreachBatch` sink wiring: each micro-batch arrives as a plain
    * DataFrame plus a monotonically increasing `batchId` — the pattern for
    * sinks Spark has no native connector for (JDBC upsert, bulk indexers
    * like [[graft.sources.bulksink.BulkSink]]). Exactly-once lands on the
    * CALLER's idempotence: after a crash the engine replays the last
    * uncommitted batch with the SAME batchId, so a writer that keys on
    * (batchId) or upserts by natural key deduplicates the replay — that
    * contract is what the batchId parameter exists for.
    */
  def runForeachBatch(events: DataFrame, checkpointDir: String)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    windowedCounts(events).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(write)
      .start()

  case class CepMatch(user_id: Long, view_us: Long, click_us: Long,
      purchase_us: Long)

  // public: Catalyst's generated deserializer instantiates it reflectively
  case class CepState(buffer: List[(Long, String)], pendingViewUs: Long,
      pendingClickUs: Long)

  /** Streaming complex-event pattern matching — the greedy CONSUME-ONCE
    * variant of the batch [[graft.operators.Analytics.eventsCep]] (which
    * counts click-anchored matches declaratively): per user, emit one
    * match per completed view → click → purchase chain with both hops
    * inside `bandMicros`, each event consumed by at most one match.
    * Greedy sequential semantics need per-key ordered iteration — exactly
    * what batch SQL cannot express without iterative bookkeeping and what
    * `flatMapGroupsWithState` exists for.
    *
    * Event-time correctness under disorder: arrivals buffer in state and
    * are processed ONLY once the watermark passes them (sealed events are
    * sorted by (ts, type) — a deterministic total order — and fed to the
    * matcher; later-arriving earlier events can therefore still take
    * their rightful place). The state machine is scalar: the LATEST
    * in-band view is kept while awaiting a click (optimal — a click in
    * band of any earlier view is in band of the latest one), the latest
    * in-band click while awaiting the purchase; an out-of-band follower
    * restarts the pattern, views during a click-armed pattern are
    * ignored (pattern in flight holds), and a completed match resets the
    * machine — consume-once.
    *
    * State is bounded by the watermark: the buffer holds only events
    * newer than the watermark (the same bound a stream-stream join's
    * buffer obeys), plus two scalar timestamps. An event-time timeout at
    * the earliest buffered event re-invokes the matcher when the
    * watermark advances with no new arrivals for the key; empty idle
    * state is removed.
    */
  def cepStream(events: Dataset[Event], bandMicros: Long,
      watermarkDelay: String = "10 minutes"): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    def micros(e: Event): Long =
      (e.ts.getTime / 1000L) * 1000000L + (e.ts.getNanos / 1000L)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, CepMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[CepState]) =>
          val st = state.getOption.getOrElse(CepState(Nil, -1L, -1L))
          val buffer = st.buffer ++
            rows.map(e => (micros(e), e.event_type)).toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, open) = buffer.partition(_._1 < wmUs)
          var pv = st.pendingViewUs
          var pc = st.pendingClickUs
          val out = List.newBuilder[CepMatch]
          ripe.sorted.foreach { case (t, ty) =>
            ty match {
              case "view" =>
                if (pc < 0) pv = t // latest view is the optimal anchor
              case "click" =>
                if (pv >= 0 && t - pv <= bandMicros) pc = t
                else if (pv >= 0 && pc < 0) pv = -1 // unarmed anchor is
                // unreachable for every future click (later t, worse gap);
                // an ARMED pattern ignores stray clicks — its purchase
                // deadline depends on pc alone
              case "purchase" =>
                if (pc >= 0) {
                  if (t - pc <= bandMicros) {
                    out += CepMatch(userId, pv, pc, t)
                  }
                  // matched → consumed; expired → pattern restarts
                  pv = -1; pc = -1
                }
              case _ => // other event types don't participate
            }
          }
          // dormant-anchor eviction: Spark drops events below the
          // watermark before they reach this function, so every FUTURE
          // processed event has ts ≥ wm — an armed click (or unarmed
          // view) older than wm − band can never satisfy its band again
          // and is dead state. Prune it here, and when only pendings
          // remain set a timeout at (pending + band) so the prune fires
          // on watermark progress even with no new arrivals — without
          // this, one abandoned view per user would pin scalar state
          // forever (the lastTouch age-out lesson).
          if (pc >= 0 && pc < wmUs - bandMicros) { pv = -1; pc = -1 }
          else if (pv >= 0 && pc < 0 && pv < wmUs - bandMicros) pv = -1
          if (open.isEmpty && pv < 0 && pc < 0) state.remove()
          else {
            state.update(CepState(open, pv, pc))
            val wake =
              if (open.nonEmpty) open.map(_._1).min / 1000L + 1
              else math.max(pv, pc) / 1000L + bandMicros / 1000L + 1
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, wake))
          }
          out.result().iterator
      }
  }

  /** Production wiring: stream the events directory as it grows (new parquet
    * files per micro-batch), aggregate, write parquet with checkpointing.
    * Returns the started query; callers own its lifecycle.
    *
    * The engine's events parquet carries TIMESTAMP(NANOS), which the
    * repo-wide `nanosAsLong` sessions read as raw int64 — so the stream
    * schema declares BIGINT nanos and converts to a micros timestamp (the
    * finest Spark TimestampType resolution) before watermarking.
    */
  def run(spark: SparkSession, eventsDir: String, outDir: String,
      checkpointDir: String,
      watermarkDelay: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the raw int64 unit depends on the file's physical timestamp type
    // (nanos vs micros vs millis — see Tables.eventsTsNanosFactor). When
    // files exist, pin the exact factor into the plan. When the landing
    // dir is still EMPTY (deploy-before-data), the plan is built once and
    // lives for the query's lifetime — baking a guessed factor would
    // misread whichever unit actually lands by 1000×; instead branch PER
    // ROW on magnitude: int64 NANOS are ≥ 1e17 from 1973-03 onward while
    // MICROS stay < 1e17 until year ~5138, so any plausible event time
    // decides unambiguously (and mixed-unit landings each convert
    // correctly).
    val decidedFactor = graft.sources.Tables
      .eventsTsNanosFactorIfDecidable(spark, eventsDir)
    val tsNanosExpr = decidedFactor match {
      case Some(f) => s"(ts * ${f}L)"
      case None => "(CASE WHEN ts < 100000000000000000L THEN ts * 1000L ELSE ts END)"
    }
    def microsTs(c: String) = expr(
      s"timestamp_micros(${graft.sources.Tables.nanosToMicrosSql(c)})")
    // watermark delay: explicit injection wins; otherwise MEASURE the
    // already-landed history's lateness quantile (the events_lateness
    // disorder, one aggregate pass over the landing dir) and size the
    // delay from it; an empty dir falls back to the documented default.
    val delay = watermarkDelay.getOrElse(decidedFactor match {
      case Some(f) =>
        val landed = spark.read
          .schema("event_id BIGINT, ts BIGINT, user_id BIGINT")
          .parquet(eventsDir)
          .withColumn("ts", microsTs(s"(ts * ${f}L)"))
        derivedWatermarkDelay(landed)
      case None => DefaultWatermarkDelay
    })
    val input = spark.readStream
      .schema("ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(eventsDir)
      // shared floor-conversion (see Tables.nanosToMicros scaladoc) keeps
      // window membership identical to the batch events_window bucketing
      .withColumn("ts", microsTs(tsNanosExpr))
    windowedCounts(input, delay).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
