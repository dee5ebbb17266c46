package graft.operators

import graft.Q
import graft.plans.BandedIntervalJoin
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternal

/** As-of (point-in-time) join — the canonical operator Spark's built-in
  * join set lacks (SURVEY-adjacent extension; the brief's "compose existing
  * ops if semantics allow" case). For every event, find the user's most
  * recent order at or before the event time.
  *
  * Spark-first formulation: tag both sides, UNION them, and run ONE
  * running-`last` window per key ordered by time — each event row picks up
  * the latest order seen so far in its partition. Cost: a single shuffle
  * on the join key + a per-partition sort, i.e. exactly a sort-merge
  * join's exchange — no range-join explosion, no per-row subquery. This
  * is the standard distributed as-of layout (same shape Flink/kdb use).
  *
  * The DuckDB oracle is the engine's native `ASOF LEFT JOIN` — an
  * independent implementation of the same semantics. The matched ORDER
  * DATE (not orderkey) is emitted so ties among same-timestamp orders
  * can't make the comparison nondeterministic.
  */
object AsofJoin {

  /** One oracle for BOTH as-of formulations (composed window and native
    * exec): DuckDB's own ASOF LEFT JOIN — a third independent
    * implementation of the semantics gating the other two.
    */
  private val asofOracle: String =
    """SELECT e.event_id, e.user_id,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS matched_odate
      |FROM events e ASOF LEFT JOIN orders o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  val asof: Q = Q("asof_join", asofOracle) { (s, dir) =>
    // common clock: microseconds since epoch (events carry int64 nanos —
    // floor-divide via pmod so pre-1970 values round toward -inf)
    val orders = Tables.load(s, dir, "orders").select(
      col("o_custkey").as("key"),
      unix_micros(col("o_orderdate")).as("t"),
      lit(1).as("is_order"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
      lit(null).cast("long").as("event_id"))
      .filter(col("key").isNotNull)
    val events = Tables.load(s, dir, "events").select(
      col("user_id").as("key"),
      Tables.nanosToMicros("ts").as("t"),
      lit(0).as("is_order"),
      lit(null).cast("string").as("odate"),
      col("event_id"))
      // NULL keys: the window would group them into one partition and
      // match them against NULL-key orders, but the equi-join oracle never
      // matches NULL = NULL — drop them like the join does
      .filter(col("key").isNotNull)
    // at equal t the order sorts FIRST (is_order desc) so `>=` semantics
    // hold; within equal (t, is_order) the window then sees the latest
    // odate-tagged row, but all such rows share the same date → the emitted
    // value is deterministic
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t"), col("is_order").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionByName(events)
      .withColumn("matched_odate",
        last(when(col("is_order") === 1, col("odate")), ignoreNulls = true).over(w))
      .filter(col("is_order") === 0)
      .select(col("event_id"), col("key").as("user_id"), col("matched_odate"))
      .orderBy(col("event_id"))
  }

  /** The SAME as-of semantics through the engine's native whole-operator
    * extension ([[graft.plans.AsofJoinNode]] → strategy → merge exec, the
    * brief's option (c)) instead of the composed union+window: one
    * declared key-clustered (key, time)-sorted requirement per side, one
    * streaming merge pass per partition, constant state. Gated by the
    * identical DuckDB ASOF JOIN oracle as [[asof]] — three independent
    * implementations of one semantics must agree bit-for-bit at every SF.
    * Plan shape (exchanges placed by EnsureRequirements, AsofJoinExec in
    * the executed plan) is asserted in NativeAsofJoinSpec.
    */
  val asofNative: Q = Q("asof_native", asofOracle) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders").select(
      col("o_custkey").as("okey"),
      unix_micros(col("o_orderdate")).as("ot"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .filter(col("okey").isNotNull)
    val events = Tables.load(s, dir, "events").select(
      col("event_id"),
      col("user_id").as("key"),
      Tables.nanosToMicros("ts").as("t"))
      .filter(col("key").isNotNull)
    graft.plans.AsofJoinNode
      .asofJoin(events, "key", "t", orders, "okey", "ot", "odate", "matched_odate")
      .select(col("event_id"), col("key").as("user_id"), col("matched_odate"))
      .orderBy(col("event_id"))
  }

  /** Key + range join: per order, how many of the customer's events landed
    * in the 24h after the order.
    *
    * Pair-free formulation (round 19): the declared COUNT over the keyed
    * 24h interval is read off each user's event-time CDF — every order
    * contributes two boundary PROBES (t0 and t0+24h) into ONE per-key
    * window pass over events ∪ probes, and its count is the running-count
    * difference F(t0+24h) − F(t0). Per-key work is O((n+m)·log) where the
    * previous equi-join + residual-filter plan enumerated n·m pairs per
    * key before counting. Uniform corpora never notice (bounded per-key
    * histories); the Zipf ×100 gate's hottest keys (~2.6e5 orders ×
    * 1.7e5 events on ONE user_id, necessarily one partition) turned the
    * join plan into a 46-minute single-task straggler (thread-dumped in
    * the hash-agg probe stage) — a single enormous key, which AQE skew
    * handling cannot split (guide §2.5): the fix must be algorithmic.
    *
    * Count semantics replayed exactly: `count(e.event_id)` counts rows
    * with non-null event_id whose user matches (NULLs never equal) and
    * whose ts lands in [t0, t0+24h) (NULL ts/orderdate compare false) —
    * so the event side keeps only rows with all three non-null, and
    * orders with a NULL custkey or date flow through the zero branch.
    * Probes sort BEFORE same-instant events (the (t, ind) ordering), so
    * a probe at x reads F(x) = #{events: et < x}: the lower bound stays
    * inclusive and the upper exclusive, exactly the declared predicate.
    * Duplicate orderkeys collapse in the final SUM like they did in the
    * final COUNT.
    */
  val rangeJoin: Q = Q("range_join",
    """SELECT o.o_orderkey, count(e.event_id) AS n_events_24h
      |FROM orders o LEFT JOIN events e
      |  ON e.user_id = o.o_custkey
      |  AND e.ts >= o.o_orderdate
      |  AND e.ts < o.o_orderdate + INTERVAL 24 HOURS
      |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
    val DayMicros = 86400L * 1000000L
    val orders = Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      unix_micros(col("o_orderdate")).as("t0"))
    val keyType = orders.schema("o_orderkey").dataType
    val zeroOrders = orders
      .filter(col("o_custkey").isNull || col("t0").isNull)
      .select(col("o_orderkey"), lit(0L).as("c"))
    val probes = orders
      .filter(col("o_custkey").isNotNull && col("t0").isNotNull)
      .select(col("o_orderkey"), col("o_custkey").as("key"),
        explode(array(
          struct((col("t0") + lit(DayMicros)).as("t"), lit(1L).as("sign")),
          struct(col("t0").as("t"), lit(-1L).as("sign")))).as("p"))
      .select(col("o_orderkey"), col("key"), col("p.t").as("t"),
        col("p.sign").as("sign"), lit(0L).as("ind"))
    val events = Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select(lit(null).cast(keyType).as("o_orderkey"),
        col("user_id").as("key"),
        Tables.nanosToMicros("ts").as("t"),
        lit(0L).as("sign"), lit(1L).as("ind"))
      .filter(col("t").isNotNull)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t"), col("ind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probes.unionByName(events)
      .withColumn("f", sum(col("ind")).over(w))
      .filter(col("ind") === 0)
      .select(col("o_orderkey"), (col("sign") * col("f")).as("c"))
      .unionByName(zeroOrders)
      .groupBy(col("o_orderkey"))
      .agg(sum(col("c")).as("n_events_24h"))
      .orderBy(col("o_orderkey"))
  }

  private val BandSeconds = 600L
  private val BandMicros = BandSeconds * 1000000L

  /** Exposed for SlidingCountSpec's window-vs-composed parity replay. */
  def BandMicrosForSpec: Long = BandMicros

  /** [[bandCount]]'s partition width, in windows. Each row lands in its
    * home band and, when its ±W span crosses a band edge (a 2/32 chance),
    * in one neighbouring band as well. Wider bands cut that ghost share;
    * narrower ones cut the rows one window task sorts. */
  private val BandWindows = 32L

  /** Per row of `df`, the count of OTHER rows whose `tCol` lies within ±`w`
    * — `band_join`'s semantics, read off running counts instead of pairs:
    * n = F(t+w) − F(t−w−1) − 1, where F(x) counts the rows with time ≤ x.
    *
    *   - Each row explodes into the bands ⌊(t−w)/B⌋ … ⌊(t+w)/B⌋ with
    *     B = 32·w, so every row within ±w of a row shares that row's home
    *     band ⌊t/B⌋. The band arithmetic is [[BandedIntervalJoin]]'s exact
    *     floor division and overflow-clamped shift.
    *   - ONE window partitioned by band and ordered by t holds both F
    *     frames. They are `UNBOUNDED PRECEDING` frames, which Spark
    *     evaluates incrementally; a sliding ±w frame would re-aggregate
    *     its buffer at every row, so its cost would grow with density.
    *   - Only home-band rows are kept. NULL-t rows land in one NULL band
    *     (`explode_outer`) and emit 0; NULL ids are never counted
    *     (`count(id)`) and emit 0, as SQL comparison semantics give.
    *
    * Long time column only (timestamps convert to epoch micros upstream).
    * The count is row-local: every row counts the other rows in its frame.
    * It equals the `GROUP BY id` oracle when ids are unique, as
    * `event_id` (the events key) is; rows sharing an id would each count
    * the other, where the oracle merges them.
    */
  def bandCount(df: DataFrame, idCol: String, tCol: String, w: Long,
      as: String): DataFrame = {
    require(w > 0L, s"bandCount: window must be positive, got $w")
    val b = BandWindows * w
    def bandOf(shift: Long): Column = GraftInternal.column(BandedIntervalJoin.floorDiv(
      BandedIntervalJoin.safeShift(UnresolvedAttribute.quoted(tCol), shift), b))
    val (id, t) = (col(idCol), col(tCol))
    val byT = Window.partitionBy(col("band")).orderBy(t)
    df.select(id, t, bandOf(0L).as("home"),
        explode_outer(sequence(bandOf(-w), bandOf(w))).as("band"))
      .withColumn("n",
        count(id).over(byT.rangeBetween(Window.unboundedPreceding, w)) -
          count(id).over(byT.rangeBetween(Window.unboundedPreceding, -(w + 1L))) - 1L)
      .filter(col("band") <=> col("home"))
      .select(id, when(id.isNull || t.isNull, 0L).otherwise(col("n")).as(as))
  }

  /** Proximity self-count with NO equi-key: for every event, count the
    * other events within ±10 minutes. As a join it is a pure inequality,
    * which Spark can only plan as a nested loop over the cross product;
    * [[bandCount]] reads it off one band-partitioned running-count window
    * instead, so the work is a sort of each band, never a pair per
    * neighbour. [[graft.plans.BandedIntervalJoin]] keeps the composed
    * banded-join rewrite for joins that output pairs, and SlidingCountSpec
    * asserts that the two agree on real data.
    */
  val bandJoin: Q = Q("band_join",
    s"""WITH near AS (
       |  SELECT a.event_id AS id, count(*) AS n_near
       |  FROM events a JOIN events b
       |    ON b.ts BETWEEN a.ts - INTERVAL $BandSeconds SECOND
       |                AND a.ts + INTERVAL $BandSeconds SECOND
       |   AND b.event_id != a.event_id
       |  GROUP BY a.event_id)
       |SELECT e.event_id, coalesce(n.n_near, 0) AS n_near
       |FROM events e LEFT JOIN near n ON n.id = e.event_id
       |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), Tables.nanosToMicros("ts").as("t"))
    bandCount(ev, "event_id", "t", BandMicros, "n_near")
      .orderBy(col("event_id"))
  }

  /** Incremental maintenance of the proximity counts — the
    * [[graft.operators.Dedup]] `dedup_incr_index` contract applied to
    * [[bandCount]]: an append-only event log should update its ±W
    * neighbor counts by touching the APPENDED span and the W-wide seam,
    * not by recounting history. The corpus splits at its time
    * midpoint into base (history) and delta (the append); the merged
    * verdict is
    *
    *   counts(base ∪ δ) = counts(base) ⊎ counts(δ) ⊎ cross-seam pairs,
    *
    * where the cross term only involves rows with time within W of the
    * split (both half filters PUSH DOWN to the scans — seam volume is the
    * row density of a 2W span, corpus-size-invariant), joined through the
    * banded equi-key so no nested loop appears at any scale. The oracle
    * replays the ONE-SHOT recompute over the full table — the hash gate
    * proves merge ≡ rebuild, per event, at every SF.
    *
    * Scale shape: two band counts (one band-partitioned window over each
    * half), a seam join bounded by 2W of density, and a union-free merge
    * (the halves are disjoint by construction, so the seam additions
    * LEFT-join onto the concatenated half counts).
    */
  val proxIncr: Q = Q("prox_incr_merge",
    s"""WITH near AS (
       |  SELECT a.event_id AS id, count(*) AS n_near
       |  FROM events a JOIN events b
       |    ON b.ts BETWEEN a.ts - INTERVAL $BandSeconds SECOND
       |                AND a.ts + INTERVAL $BandSeconds SECOND
       |   AND b.event_id != a.event_id
       |  GROUP BY a.event_id)
       |SELECT e.event_id, coalesce(n.n_near, 0) AS n_near
       |FROM events e LEFT JOIN near n ON n.id = e.event_id
       |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    // The halves and the seam filter on the RAW int64 ts so the bounds
    // reach the parquet scan as PushedFilters (row-group stats skipping)
    // — filtering the normalized-micros EXPRESSION would evaluate at the
    // scan but never push. t(r) = ⌊r·f/1000⌋ is monotone in r, so every
    // micros threshold A maps to the exact raw threshold
    // R(A) = ⌈1000·A/f⌉ with t ≥ A ⇔ r ≥ R(A) — no secondary filter
    // needed. f is the per-directory footer-pinned unit factor.
    val path = s"$dir/events.parquet"
    val f = Tables.eventsTsNanosFactor(s, path)
    val raw = s.read.schema(Tables.schemas("events")).parquet(path)
      .select(col("event_id"), col("ts"))
    val tExpr = expr(
      s"((ts * ${f}L) - pmod(ts * ${f}L, 1000)) div 1000")
    // NULL-ts rows match nothing under SQL comparison semantics but must
    // still APPEAR with n_near = 0 (the oracle's LEFT JOIN keeps them):
    // the half filters below would silently drop them, so they rejoin
    // through this pushed-down IsNull branch. (NULL-id rows with a valid
    // ts need no branch — bandCount already emits them once with
    // count 0 and never counts them as neighbors, matching the oracle's
    // `b.event_id != a.event_id` null semantics.) All-null corpora
    // short-circuit here (no split point exists — or is needed).
    val nullRows = raw
      .filter(col("ts").isNull)
      .select(col("event_id"), lit(0L).as("n_near"))
    // 1-row bounded collect: the split point (the bounded-model rule —
    // the same midpoint idiom as dedup_incr_index / ann_incr_index)
    val mm = raw.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    if (mm.isNullAt(0)) nullRows.orderBy(col("event_id")) else {
    def tOf(r: Long): Long = Math.floorDiv(r * f, 1000L)
    val mid = (tOf(mm.getLong(0)) + tOf(mm.getLong(1))) / 2
    def rOf(a: Long): Long = -Math.floorDiv(-1000L * a, f) // ceil(1000a/f)
    val (rMid, rLo, rHi) =
      (rOf(mid), rOf(mid - BandMicros), rOf(mid + BandMicros))
    def half(pred: org.apache.spark.sql.Column) =
      raw.filter(pred).select(col("event_id"), tExpr.as("t"))
    val cb = bandCount(half(col("ts") < rMid), "event_id", "t", BandMicros, "n_half")
    val cd = bandCount(half(col("ts") >= rMid), "event_id", "t", BandMicros, "n_half")
    // seam: base rows within W below the split × delta rows within W
    // above it — both raw bounds push to the scans; the pair join keys
    // on the delta row's band (≤2 probe bands per base row), so the seam
    // work is density(2W)², never |base|·|δ|. NULL-id rows are excluded
    // from BOTH sides (a null id never forms a pair in the oracle), where
    // the half counts get the same exclusion from bandCount.
    val bb = half(col("ts") < rMid && col("ts") >= rLo)
      .filter(col("event_id").isNotNull)
      .select(col("event_id").as("b_id"), col("t").as("b_t"),
        explode(sequence(
          expr(s"t div ${BandMicros}L"),
          expr(s"(t + ${BandMicros}L) div ${BandMicros}L"))).as("band"))
    val db = half(col("ts") >= rMid && col("ts") < rHi)
      .filter(col("event_id").isNotNull)
      .select(col("event_id").as("d_id"), col("t").as("d_t"),
        expr(s"t div ${BandMicros}L").as("band"))
    val seam = bb.join(db, Seq("band"))
      .filter(col("d_t") - col("b_t") <= BandMicros)
    val seamAdd = seam.select(col("b_id").as("event_id"))
      .unionByName(seam.select(col("d_id").as("event_id")))
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_cross"))
    // broadcast the seam (a 2W span of rows): a shuffled join would
    // re-shuffle every half count on event_id
    cb.unionByName(cd)
      .join(broadcast(seamAdd), Seq("event_id"), "left")
      .select(col("event_id"),
        (col("n_half") + coalesce(col("n_cross"), lit(0L))).as("n_near"))
      .unionByName(nullRows)
      .orderBy(col("event_id"))
    }
  }

  /** SCD type-2 history build — run-length compression of a per-key state
    * stream into versioned validity intervals: for each user, consecutive
    * events with the SAME `event_type` collapse into one row carrying
    * `[effective_from, effective_to)` and a version number; the last
    * version stays open (NULL `effective_to`). This is the change-data-
    * capture → dimension-history operator every warehouse pipeline needs
    * and the temporal complement of [[asof]] (an as-of probe into the
    * produced intervals returns exactly the state current at probe time).
    *
    * Shape: two window passes — change detection (`lag`) and interval
    * stitching (`lead` + `row_number`) — over the SAME (user_id → tus,
    * event_id) partitioning and ordering, with a filter between them; the
    * plan pays ONE exchange + sort for the whole query, the filter and
    * second window run on the already-sorted stream. Ordering ties are
    * impossible (event_id is unique), so every window function is
    * deterministic. Time arithmetic is the shared exact nanos→µs floor
    * ([[Tables.nanosToMicros]] ≡ DuckDB's TIMESTAMP(NANOS)→µs coercion).
    * At 100 TB the cost is exactly a sort-merge regrouping by user — no
    * self-join, no per-version scan; a 1000-executor run shuffles each
    * user's events once and emits the compressed history map-side.
    */
  val scd2: Q = Q("scd2_history",
    """WITH d AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
      |  FROM events),
      |c AS (SELECT user_id, tus, event_id, event_type,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
      |    END AS chg
      |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |k AS (SELECT user_id, tus, event_id, event_type FROM c WHERE chg = 1)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  event_type AS state, tus AS effective_from,
      |  lead(tus) OVER w AS effective_to
      |FROM k WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
      |ORDER BY user_id, version""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(w)
    Tables.load(s, dir, "events")
      .select(col("user_id"), Tables.nanosToMicros("ts").as("tus"),
        col("event_id"), col("event_type"))
      .withColumn("chg",
        when(prev.isNull || prev =!= col("event_type"), 1).otherwise(0))
      .where(col("chg") === 1)
      .select(col("user_id"),
        row_number().over(w).cast("long").as("version"),
        col("event_type").as("state"),
        col("tus").as("effective_from"),
        lead(col("tus"), 1).over(w).as("effective_to"))
      .orderBy(col("user_id"), col("version"))
  }

  val all: Seq[Q] = Seq(asof, asofNative, rangeJoin, bandJoin, proxIncr, scd2)
}
