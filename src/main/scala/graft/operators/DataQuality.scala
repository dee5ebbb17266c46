package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared-constraint data-quality audit over the warehouse tables — the
  * dbt-test / Great-Expectations capability class: referential integrity
  * (FK orphan counts), key uniqueness (PK duplicate counts), and domain
  * rules (non-positive quantities/totals), reported as one (check,
  * n_violations) row per declared constraint. Complements
  * [[Analytics.tableStats]] (per-column profiling for the optimizer) with
  * the pass/fail contract a pipeline gates on before publishing a table.
  *
  * Scale shape — bounded scans, and the fact never shuffles at row
  * grain: FK probes LEFT-JOIN against the parent's DISTINCT key set
  * (distinct-ing first keeps the probe 1:1 even when the parent's own PK
  * is dirty — precisely the situation an audit must survive; a raw join
  * would multiply probe rows and corrupt every co-riding count), and
  * dimension key sets broadcast, so the dimension FKs + domain rules are
  * ONE exchange-free conditional-aggregate scan per table. The lineitem
  * checks that genuinely involve order keys (the fact-to-fact orders FK
  * probe and the composite-PK dup count) collapse to ORDER GRAIN before
  * anything shuffles — see the inline note at `perOrder` — so the one
  * fact exchange carries ~|orders| narrow partial-aggregate rows, never
  * the fact itself. The dup count is NONZERO on this corpus: the
  * testdata's composite lineitem key is genuinely non-unique (the repo's
  * window queries carry a tiebreaker for the same reason), so the oracle
  * gate discriminates real counting, not all-zero echoes. Output is
  * |checks| rows at any corpus size.
  */
object DataQuality {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The lineitem dimension-FK + domain-rule scan: broadcast probes
    * feeding one map-side conditional aggregate — zero exchanges. */
  private[graft] def liDimChecks(s: SparkSession, dir: String): DataFrame = {
    val pkeys = t(s, dir, "part").select(col("p_partkey")).distinct()
    val skeys = t(s, dir, "supplier").select(col("s_suppkey")).distinct()
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .join(broadcast(pkeys), col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(skeys), col("l_suppkey") === col("s_suppkey"), "left")
      .agg(
        sum(when(col("p_partkey").isNull, 1L).otherwise(0L)).as("fk_p"),
        sum(when(col("s_suppkey").isNull, 1L).otherwise(0L)).as("fk_s"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("dom"))
  }

  /** The order-grain rollup carrying the orders-FK orphan count and the
    * composite-PK dup count (bitmask distinct — see the inline note in
    * [[audit]]); the one fact exchange in the audit. */
  private[graft] def liKeyChecks(s: SparkSession, dir: String): DataFrame =
    liKeyChecksOn(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber")),
      t(s, dir, "orders").select(col("o_orderkey")).distinct())

  /** [[liKeyChecks]] over any (l_orderkey, l_linenumber) frame + distinct
    * parent-key frame — factored so the spec can drive the out-of-domain
    * and NULL-key correction branches with constructed fixtures (the real
    * corpus never exercises them: that is the point of the pruned-branch
    * design). */
  private[graft] def liKeyChecksOn(li: DataFrame, okeys: DataFrame): DataFrame = {
    // Main rollup: count + bitmask + NULL flag are all DECLARATIVE
    // aggregates, so the fact-wide partial aggregation runs inside
    // whole-stage codegen. The former shape computed the out-of-domain
    // distinct count here too, via collect_set — a TypedImperative
    // aggregate that forces the ENTIRE rollup (all four functions, both
    // partial and final) through interpreted ObjectHashAggregate; at ×100
    // that non-codegen pass over 60M rows was the query's dominant stage
    // (li_key_rollup 12.5 s of 18). The correction moved to the
    // pruned branch below.
    val perOrderMain = li
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n"),
        expr("bit_or(CASE WHEN l_linenumber BETWEEN 0 AND 63 THEN " +
          "shiftleft(CAST(1 AS BIGINT), CAST(l_linenumber AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END)").as("mask"),
        max(when(col("l_linenumber").isNull, 1L).otherwise(0L)).as("null_g"))
    // Out-of-domain correction as its own FILTERED branch: the pushed
    // predicate (l_linenumber < 0 OR > 63) misses every parquet row
    // group's [min, max] on any sane corpus, so this second "scan" is
    // metadata-only — and the distinct + count aggregates run over ~zero
    // rows. Exactness is preserved on precisely the dirty keys the audit
    // exists to find: any out-of-domain lineno lands here and is counted
    // DISTINCT per order, identical to the former size(collect_set(...)).
    // The join is null-safe (<=>) so a NULL-orderkey group keeps its
    // correction, exactly as the single-aggregate shape grouped it.
    val badPerOrder = li
      .select(col("l_orderkey").as("bad_okey"), col("l_linenumber"))
      .filter(col("l_linenumber").isNotNull &&
        (col("l_linenumber") < 0 || col("l_linenumber") > 63))
      .select(col("bad_okey"), col("l_linenumber")).distinct()
      .groupBy(col("bad_okey")).agg(count(lit(1)).as("bad_g"))
    val perOrder = perOrderMain
      .join(badPerOrder, col("l_orderkey") <=> col("bad_okey"), "left")
      .withColumn("groups",
        expr("CAST(bit_count(mask) AS BIGINT)")
          + coalesce(col("bad_g"), lit(0L)) + col("null_g"))
    perOrder
      .join(okeys, col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        sum(when(col("o_orderkey").isNull, col("n")).otherwise(0L)).as("fk_o"),
        (sum(col("n")) - sum(col("groups"))).as("dup"))
  }

  val audit: Q = Q("dq_audit",
    """WITH lj AS (SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
      |    o.o_orderkey AS ok, p.p_partkey AS pk, s.s_suppkey AS sk
      |  FROM lineitem l
      |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey
      |  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON l.l_partkey = p.p_partkey
      |  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s ON l.l_suppkey = s.s_suppkey)
      |SELECT 'fk_lineitem_orders' AS "check",
      |    count(*) FILTER (WHERE ok IS NULL) AS n_violations FROM lj
      |UNION ALL SELECT 'fk_lineitem_part', count(*) FILTER (WHERE pk IS NULL) FROM lj
      |UNION ALL SELECT 'fk_lineitem_supplier', count(*) FILTER (WHERE sk IS NULL) FROM lj
      |UNION ALL SELECT 'pk_dup_lineitem',
      |  (SELECT count(*) FROM lineitem)
      |    - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
      |UNION ALL SELECT 'dom_lineitem_nonpos_qty', count(*) FILTER (WHERE l_quantity <= 0) FROM lj
      |UNION ALL SELECT 'fk_orders_customer',
      |  (SELECT count(*) FROM orders o2
      |    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o2.o_custkey = c.c_custkey
      |    WHERE c.c_custkey IS NULL)
      |UNION ALL SELECT 'pk_dup_orders',
      |  (SELECT count(*) FROM orders) - (SELECT count(DISTINCT o_orderkey) FROM orders)
      |UNION ALL SELECT 'dom_orders_nonpos_total',
      |  (SELECT count(*) FILTER (WHERE o_totalprice <= 0) FROM orders)
      |UNION ALL SELECT 'fk_customer_nation',
      |  (SELECT count(*) FROM customer c2
      |    LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n ON c2.c_nationkey = n.n_nationkey
      |    WHERE n.n_nationkey IS NULL)
      |UNION ALL SELECT 'pk_dup_customer',
      |  (SELECT count(*) FROM customer) - (SELECT count(DISTINCT c_custkey) FROM customer)
      |UNION ALL SELECT 'fk_supplier_nation',
      |  (SELECT count(*) FROM supplier s2
      |    LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n2 ON s2.s_nationkey = n2.n_nationkey
      |    WHERE n2.n_nationkey IS NULL)
      |UNION ALL SELECT 'pk_dup_supplier',
      |  (SELECT count(*) FROM supplier) - (SELECT count(DISTINCT s_suppkey) FROM supplier)
      |ORDER BY "check"""".stripMargin) { (s, dir) =>
    val nkeys = t(s, dir, "nation").select(col("n_nationkey")).distinct()
    val ckeys = t(s, dir, "customer").select(col("c_custkey")).distinct()

    // lineitem checks in TWO column-pruned scans, neither shuffling the
    // fact at row grain (round 18, the ×100-floor attack):
    //  - dimension FKs + the domain rule: broadcast probes feeding one
    //    map-side conditional aggregate — zero exchanges;
    //  - orders FK + composite-PK dup: collapse to ORDER GRAIN first.
    //    groupBy(l_orderkey) partially aggregates map-side, so the one
    //    exchange carries ~|orders| narrow rows instead of the wide fact
    //    (the former shape shuffled every lineitem row into the orderkey
    //    join). The per-order distinct-(lineno) count rides the SAME
    //    aggregate as a bounded-domain BITMASK — bit_count(bit_or(1 <<
    //    lineno)) is exact for linenos in [0, 63] — plus an exact
    //    correction for out-of-domain values (collect_set, empty on any
    //    sane corpus) and a NULL flag (NULL groups as its own key, like
    //    the oracle's DISTINCT): the audit stays exact on precisely the
    //    dirty keys it exists to find, without the distinct-agg rewrite's
    //    Expand + second fact-wide exchange. dup = Σn − Σ per-order
    //    groups ≡ the former (okey, lineno) two-level rollup; the orphan
    //    probe then joins two order-grain frames.
    val liChecks = liKeyChecks(s, dir).crossJoin(broadcast(liDimChecks(s, dir)))
      .select(expr(
        """stack(5,
          |  'fk_lineitem_orders', fk_o,
          |  'fk_lineitem_part', fk_p,
          |  'fk_lineitem_supplier', fk_s,
          |  'pk_dup_lineitem', dup,
          |  'dom_lineitem_nonpos_qty', dom
          |) as (check, n_violations)""".stripMargin))

    // same two-level dup shape: the groupBy(oid) exchange carries the
    // fact once where the distinct-agg expand shipped it twice
    val ordChecks = t(s, dir, "orders")
      .select(col("o_orderkey").as("oid"), col("o_custkey"), col("o_totalprice"))
      .join(broadcast(ckeys), col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("oid"))
      .agg(
        count(lit(1)).as("n_g"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("fk_c_g"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("dom_g"))
      .agg(
        sum(col("fk_c_g")).as("fk_c"),
        (sum(col("n_g")) - count(lit(1))).as("dup"),
        sum(col("dom_g")).as("dom"))
      .select(expr(
        """stack(3,
          |  'fk_orders_customer', fk_c,
          |  'pk_dup_orders', dup,
          |  'dom_orders_nonpos_total', dom
          |) as (check, n_violations)""".stripMargin))

    val custChecks = t(s, dir, "customer")
      .select(col("c_custkey").as("cid"), col("c_nationkey"))
      .join(broadcast(nkeys), col("c_nationkey") === col("n_nationkey"), "left")
      .agg(
        sum(when(col("n_nationkey").isNull, 1L).otherwise(0L)).as("fk_n"),
        (count(lit(1)) - countDistinct(col("cid"))).as("dup"))
      .select(expr(
        """stack(2,
          |  'fk_customer_nation', fk_n,
          |  'pk_dup_customer', dup
          |) as (check, n_violations)""".stripMargin))

    val suppChecks = t(s, dir, "supplier")
      .select(col("s_suppkey").as("sid"), col("s_nationkey"))
      .join(broadcast(nkeys.select(col("n_nationkey").as("nk2"))),
        col("s_nationkey") === col("nk2"), "left")
      .agg(
        sum(when(col("nk2").isNull, 1L).otherwise(0L)).as("fk_n"),
        (count(lit(1)) - countDistinct(col("sid"))).as("dup"))
      .select(expr(
        """stack(2,
          |  'fk_supplier_nation', fk_n,
          |  'pk_dup_supplier', dup
          |) as (check, n_violations)""".stripMargin))

    liChecks.unionAll(ordChecks).unionAll(custChecks).unionAll(suppChecks)
      .orderBy(col("check"))
  }

  /** Distribution-drift report between the corpus' earlier and later
    * halves (split at the orders' own midpoint day, the
    * [[Analytics.incrAgg]] cutoff idiom) — the data-drift monitor a
    * recurring pipeline runs before trusting "this week looks like last
    * week": per o_orderpriority bucket, counts and shares on each side
    * and the absolute share delta, all in EXACT integer ppm (the
    * L1/total-variation family rather than log-based PSI — no libm in
    * the gate). A drifted ingest (a dropped source, a priority-skewed
    * backfill) shows as a delta_ppm spike on exactly the affected
    * buckets.
    *
    * Scale shape: ONE conditional-aggregate scan (the [[audit]] idiom —
    * both sides of the split are columns of the same aggregate, not two
    * passes), collapsing to |priorities| rows; the midpoint and the side
    * totals are broadcast 1-row frames. Adding a monitored dimension
    * costs one more groupBy column, not a pass.
    */
  val drift: Q = Q("dq_drift",
    """WITH o AS (SELECT o_orderpriority AS pri,
      |    epoch(o_orderdate) // 86400 AS day FROM orders),
      |m AS (SELECT (min(day) + max(day)) // 2 AS mid FROM o),
      |c AS (SELECT pri,
      |    count(*) FILTER (day < (SELECT mid FROM m)) AS n_before,
      |    count(*) FILTER (day >= (SELECT mid FROM m)) AS n_after
      |  FROM o GROUP BY pri),
      |t AS (SELECT sum(n_before) AS tb, sum(n_after) AS ta FROM c)
      |SELECT pri AS o_orderpriority,
      |  CAST(n_before AS BIGINT) AS n_before, CAST(n_after AS BIGINT) AS n_after,
      |  CAST(n_before * 1000000 // tb AS BIGINT) AS share_before_ppm,
      |  CAST(n_after * 1000000 // ta AS BIGINT) AS share_after_ppm,
      |  CAST(abs(n_before * 1000000 // tb - n_after * 1000000 // ta) AS BIGINT)
      |    AS delta_ppm
      |FROM c, t ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders").select(
      col("o_orderpriority").as("pri"),
      expr("unix_micros(o_orderdate) div 86400000000L").as("day"))
    val mid = o.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val c = o.crossJoin(broadcast(mid))
      .groupBy(col("pri"))
      .agg(sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("n_before"),
        sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("n_after"))
    val totals = c.agg(sum(col("n_before")).as("tb"), sum(col("n_after")).as("ta"))
    c.crossJoin(broadcast(totals))
      .select(col("pri").as("o_orderpriority"),
        col("n_before"), col("n_after"),
        expr("n_before * 1000000L div tb").as("share_before_ppm"),
        expr("n_after * 1000000L div ta").as("share_after_ppm"),
        abs(expr("n_before * 1000000L div tb - n_after * 1000000L div ta"))
          .as("delta_ppm"))
      .orderBy(col("o_orderpriority"))
  }

  /** k for [[kanon]]: the conventional release threshold. */
  private val KAnon = 5

  /** K-ANONYMITY audit — the data-release gate [[audit]]'s row-level
    * rules don't cover: group the table by its quasi-identifier
    * combination (nation × market segment × $1000 account-balance band —
    * the attributes an attacker can link from outside) and flag every
    * group smaller than k=[[KAnon]]: those customers are re-identifiable
    * and must be suppressed or generalized before the table ships. The
    * balance band uses the sign-correct pmod floor (negative balances
    * band correctly and identically in both engines).
    *
    * Scale shape: one scan, one grouped aggregate with map-side partials;
    * the output is the QI-domain-sized group frame (bounded by the
    * attribute domains, not the row count), ready for a suppression join.
    */
  val kanon: Q = Q("dq_kanon",
    s"""WITH q AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
      |b AS (SELECT c_nationkey, c_mktsegment,
      |    (cents - ((cents % 100000 + 100000) % 100000)) // 100000 AS bal_band
      |  FROM q)
      |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |  c_mktsegment AS segment, CAST(bal_band AS BIGINT) AS bal_band,
      |  count(*) AS n, count(*) >= $KAnon AS k_anonymous
      |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("segment"),
        expr("""(CAST(round(c_acctbal * 100) AS BIGINT)
          | - pmod(CAST(round(c_acctbal * 100) AS BIGINT), 100000L))
          | div 100000L""".stripMargin).as("bal_band"))
      .groupBy(col("nationkey"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
      .withColumn("k_anonymous", col("n") >= KAnon)
      .orderBy(col("nationkey"), col("segment"), col("bal_band"))
  }

  /** l for [[ldiversity]]: every QI group must see at least this many
    * distinct sensitive values before the release ships. */
  private val LDiv = 3

  /** L-DIVERSITY audit — the release gate [[kanon]] cannot express: a
    * group can be k-anonymous (≥5 members) yet leak its sensitive
    * attribute outright when every member SHARES one value (the
    * homogeneity attack k-anonymity famously misses). The released table
    * here is orders enriched with the customer quasi-identifiers
    * ([[kanon]]'s nation × market segment × $1000 balance band), the
    * sensitive attribute is the order priority; each QI group reports its
    * distinct-sensitive count (distinct l-diversity, l=[[LDiv]]) plus the
    * most-common value's share in ppm — the observable the stricter
    * recursive (c,l) variants threshold on.
    *
    * Scale shape: one orders scan, one customer scan, one keyed join on
    * custkey (both sides data-sized — nothing broadcasts), then a
    * two-level aggregate: the first GROUP BY (QI, priority) collapses
    * map-side to the QI-domain × |priorities| frame, so the distinct
    * count, the group total and the max share all ride the SECOND
    * aggregate over that bounded frame — the corpus is never re-scanned
    * per statistic and no data-sized distinct reaches the wire.
    */
  val ldiversity: Q = Q("dq_ldiversity",
    s"""WITH rel AS (SELECT c.c_nationkey, c.c_mktsegment,
      |    (CAST(round(c.c_acctbal * 100) AS BIGINT)
      |      - ((CAST(round(c.c_acctbal * 100) AS BIGINT) % 100000 + 100000) % 100000)) // 100000 AS bal_band,
      |    o.o_orderpriority AS sens
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |pc AS (SELECT c_nationkey, c_mktsegment, bal_band, sens,
      |    count(*) AS c
      |  FROM rel GROUP BY 1, 2, 3, 4)
      |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |  c_mktsegment AS segment, CAST(bal_band AS BIGINT) AS bal_band,
      |  CAST(sum(c) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS n_sensitive,
      |  CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_ppm,
      |  count(*) >= $LDiv AS l_diverse
      |FROM pc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val qi = t(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("segment"),
        expr("""(CAST(round(c_acctbal * 100) AS BIGINT)
          | - pmod(CAST(round(c_acctbal * 100) AS BIGINT), 100000L))
          | div 100000L""".stripMargin).as("bal_band"))
    val pc = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority").as("sens"))
      .join(qi, col("o_custkey") === col("c_custkey"))
      .groupBy(col("nationkey"), col("segment"), col("bal_band"), col("sens"))
      .agg(count(lit(1)).as("c"))
    pc.groupBy(col("nationkey"), col("segment"), col("bal_band"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).cast("long").as("n_sensitive"),
        expr("max(c) * 1000000 div sum(c)").as("top_share_ppm"),
        (count(lit(1)) >= LDiv).as("l_diverse"))
      .orderBy(col("nationkey"), col("segment"), col("bal_band"))
  }

  /** t for [[tcloseness]], in ppm of total-variation distance: a QI
    * group's sensitive distribution may sit at most this far from the
    * corpus-wide one. 0.2 is the Li et al. paper's running example. */
  private val TClosePpm = 200000L

  /** T-CLOSENESS audit — the third rung of the release ladder after
    * [[kanon]] (groups big enough) and [[ldiversity]] (values varied
    * enough): a group can pass both yet still leak by SKEW — 10 members,
    * 3 distinct priorities, but 8-of-10 'URGENT' against a uniform corpus
    * tells an attacker plenty (the skewness attack l-diversity misses).
    * Per QI group this reports the total-variation distance between the
    * group's sensitive distribution and the global one, for categorical
    * ground distance: TVD = ½ Σ_v |q(v) − p(v)|, computed over per-value
    * shares quantized to ppm (one floor per share, then exact integer
    * sums — both engines replay the identical quantization; the ±|V|-ppm
    * quantization error is far below any meaningful t). Values ABSENT
    * from a group contribute their full global share WITHOUT generating
    * absent rows: Σ_absent p = Σ_all p − Σ_present p, with Σ_all p a
    * 1-row broadcast constant.
    *
    * Scale shape: [[ldiversity]]'s exactly — one keyed join, first
    * GROUP BY collapses map-side to the QI × |priorities| frame; the
    * global distribution is a |priorities|-row broadcast model and every
    * statistic after rides the bounded domain frame.
    */
  val tcloseness: Q = Q("dq_tcloseness",
    s"""WITH rel AS (SELECT c.c_nationkey, c.c_mktsegment,
      |    (CAST(round(c.c_acctbal * 100) AS BIGINT)
      |      - ((CAST(round(c.c_acctbal * 100) AS BIGINT) % 100000 + 100000) % 100000)) // 100000 AS bal_band,
      |    o.o_orderpriority AS sens
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |pc AS (SELECT c_nationkey, c_mktsegment, bal_band, sens,
      |    count(*) AS c
      |  FROM rel GROUP BY 1, 2, 3, 4),
      |gt AS (SELECT c_nationkey, c_mktsegment, bal_band,
      |    CAST(sum(c) AS BIGINT) AS n
      |  FROM pc GROUP BY 1, 2, 3),
      |gl AS (SELECT sens, CAST(sum(c) AS BIGINT) AS g FROM pc GROUP BY 1),
      |tt AS (SELECT CAST(sum(g) AS BIGINT) AS t FROM gl),
      |pp AS (SELECT sens, g * 1000000 // t AS p_ppm FROM gl, tt),
      |sp AS (SELECT CAST(sum(p_ppm) AS BIGINT) AS sum_p FROM pp),
      |j AS (SELECT pc.c_nationkey, pc.c_mktsegment, pc.bal_band,
      |    abs(pc.c * 1000000 // gt.n - pp.p_ppm) AS d, pp.p_ppm
      |  FROM pc
      |  JOIN gt ON gt.c_nationkey = pc.c_nationkey
      |    AND gt.c_mktsegment = pc.c_mktsegment AND gt.bal_band = pc.bal_band
      |  JOIN pp ON pp.sens = pc.sens),
      |ag AS (SELECT c_nationkey, c_mktsegment, bal_band,
      |    CAST(sum(d) AS BIGINT) AS sd, CAST(sum(p_ppm) AS BIGINT) AS spres
      |  FROM j GROUP BY 1, 2, 3)
      |SELECT CAST(ag.c_nationkey AS BIGINT) AS nationkey,
      |  ag.c_mktsegment AS segment, CAST(ag.bal_band AS BIGINT) AS bal_band,
      |  gt.n,
      |  CAST((ag.sd + sp.sum_p - ag.spres) // 2 AS BIGINT) AS tvd_ppm,
      |  (ag.sd + sp.sum_p - ag.spres) // 2 <= $TClosePpm AS t_close
      |FROM ag JOIN gt ON gt.c_nationkey = ag.c_nationkey
      |  AND gt.c_mktsegment = ag.c_mktsegment AND gt.bal_band = ag.bal_band
      |CROSS JOIN sp
      |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val qi = t(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("segment"),
        expr("""(CAST(round(c_acctbal * 100) AS BIGINT)
          | - pmod(CAST(round(c_acctbal * 100) AS BIGINT), 100000L))
          | div 100000L""".stripMargin).as("bal_band"))
    val pc = graft.Scratch.track(t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority").as("sens"))
      .join(qi, col("o_custkey") === col("c_custkey"))
      .groupBy(col("nationkey"), col("segment"), col("bal_band"), col("sens"))
      .agg(count(lit(1)).as("c")))
    val gt = pc.groupBy(col("nationkey"), col("segment"), col("bal_band"))
      .agg(sum(col("c")).as("n"))
    val gl = pc.groupBy(col("sens")).agg(sum(col("c")).as("g"))
    val tt = gl.agg(sum(col("g")).as("t"))
    val pp = gl.crossJoin(broadcast(tt))
      .select(col("sens"), expr("g * 1000000 div t").as("p_ppm"))
    val sp = pp.agg(sum(col("p_ppm")).as("sum_p"))
    val j = pc.join(gt, Seq("nationkey", "segment", "bal_band"))
      .join(broadcast(pp), Seq("sens"))
      .select(col("nationkey"), col("segment"), col("bal_band"),
        abs(expr("c * 1000000 div n") - col("p_ppm")).as("d"), col("p_ppm"))
    j.groupBy(col("nationkey"), col("segment"), col("bal_band"))
      .agg(sum(col("d")).as("sd"), sum(col("p_ppm")).as("spres"))
      .join(gt, Seq("nationkey", "segment", "bal_band"))
      .crossJoin(broadcast(sp))
      .select(col("nationkey"), col("segment"), col("bal_band"), col("n"),
        expr("(sd + sum_p - spres) div 2").as("tvd_ppm"),
        (expr("(sd + sum_p - spres) div 2") <= TClosePpm).as("t_close"))
      .orderBy(col("nationkey"), col("segment"), col("bal_band"))
  }

  /** Benford first-digit expectation, in exact ppm: log₁₀(1 + 1/d)
    * pre-rendered as integer literals (they sum to exactly 10⁶), so
    * neither engine ever evaluates a logarithm — the repo's no-float rule
    * applied to the one audit whose textbook definition is a log.
    */
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Leading significant digit of positive bigint `c` as a CASE ladder —
    * no log10, no string cast (both are dialect-divergent); 17 rungs
    * cover the full int64 range. `intdiv` renders the dialect's integer
    * division (Spark `div`, DuckDB `//` — positive operands only here,
    * so truncation vs floor cannot diverge).
    */
  private def leadDigitSql(c: String, intdiv: String): String = {
    val rungs = (17 to 1 by -1).map { k =>
      val p = "1" + "0" * k
      s"WHEN $c >= $p THEN ($c) $intdiv $p"
    }.mkString(" ")
    s"(CASE $rungs ELSE $c END)"
  }

  /** Benford's-law audit of order totals — the classic fabricated-data /
    * corrupted-feed screen a financial DQ pipeline runs: naturally
    * occurring multi-magnitude amounts put ~30.1% of leading digits at 1,
    * and a feed whose digit histogram deviates hard from log₁₀(1+1/d) was
    * generated, truncated, or double-counted. Digits come from exact
    * integer cents via a CASE ladder (no log, no string cast), observed
    * shares are exact ppm, and the report is |digit| rows: observed vs
    * expected ppm and the absolute deviation, plus the corpus-level mean
    * absolute deviation replayed on every row (the single number a gate
    * thresholds on). Uniform synthetic prices WILL deviate — the audit
    * reports it; the gate tests the measurement, not the data's virtue.
    *
    * Shape: one scan collapsing map-side to ≤ 9 digit groups; everything
    * after is arithmetic on a 9-row frame against the broadcast literal
    * expectation. Output is 9 rows at any corpus size.
    */
  val benford: Q = {
    val expectCase = BenfordPpm
      .map { case (d, p) => s"WHEN digit = $d THEN $p" }.mkString(" ")
    Q("dq_benford",
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT ${leadDigitSql("cents", "//")} AS digit FROM c),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT sum(n) AS tot FROM g),
        |x AS (SELECT digit, n, n * 1000000 // tot AS obs_ppm,
        |    CAST(CASE $expectCase END AS BIGINT) AS exp_ppm
        |  FROM g CROSS JOIN t),
        |m AS (SELECT sum(abs(obs_ppm - exp_ppm)) // count(*) AS mad_ppm FROM x)
        |SELECT CAST(digit AS BIGINT) AS digit, n, CAST(obs_ppm AS BIGINT) AS obs_ppm,
        |  exp_ppm, CAST(abs(obs_ppm - exp_ppm) AS BIGINT) AS dev_ppm,
        |  CAST(mad_ppm AS BIGINT) AS mad_ppm
        |FROM x CROSS JOIN m ORDER BY digit""".stripMargin) { (s, dir) =>
      val g = t(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .select(expr(leadDigitSql("cents", "div")).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = g.agg(sum(col("n")).as("tot"))
      val x = g.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 1000000 div tot").as("obs_ppm"),
          expr(s"CAST(CASE $expectCase END AS BIGINT)").as("exp_ppm"))
      val m = x.agg(expr("sum(abs(obs_ppm - exp_ppm)) div count(*)").as("mad_ppm"))
      x.crossJoin(broadcast(m))
        .select(col("digit").cast("long").as("digit"), col("n"),
          col("obs_ppm"), col("exp_ppm"),
          abs(col("obs_ppm") - col("exp_ppm")).as("dev_ppm"), col("mad_ppm"))
        .orderBy(col("digit"))
    }
  }

  /** Robust outlier screening via MAD (median absolute deviation) — the
    * DQ rule mean/stddev z-scores cannot provide, because outliers
    * corrupt the very mean and stddev that are supposed to flag them
    * (one 10⁹ row drags the mean toward itself and inflates σ until
    * nothing is an outlier); the median and MAD have a 50% breakdown
    * point. Per event_type: the exact lower median of cent-quantized
    * values, the exact lower median of absolute deviations from it, and
    * how many rows sit beyond the standard 3×MAD fence, as count and
    * exact ppm. Degenerate MAD = 0 (a majority-constant column) fences
    * everything off the median — the conventional strict-> reading, same
    * in both engines.
    *
    * Shape: [[Analytics]]'s group_median histogram discipline twice —
    * per-(type, value) counts, cumulative windows PARTITIONED BY type
    * over each type's value domain (never corpus rows), the same again
    * over the deviation domain — plus one fence count; medians are
    * integer-rank element picks (`(n+1) div 2`), no interpolation, no
    * float.
    */
  val outlierMad: Q = Q("dq_outlier_mad",
    """WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |h AS (SELECT event_type, v, count(*) AS cnt FROM c GROUP BY 1, 2),
      |cum AS (SELECT event_type, v, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
      |med AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |    min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
      |  FROM cum GROUP BY event_type),
      |d AS (SELECT c.event_type, abs(c.v - m.med) AS dev
      |  FROM c JOIN med m USING (event_type)),
      |dh AS (SELECT event_type, dev, count(*) AS cnt FROM d GROUP BY 1, 2),
      |dcum AS (SELECT event_type, dev, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM dh),
      |mad AS (SELECT event_type,
      |    min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
      |  FROM dcum GROUP BY event_type),
      |f AS (SELECT d.event_type,
      |    CAST(count(*) FILTER (WHERE d.dev > 3 * a.mad) AS BIGINT) AS n_outliers
      |  FROM d JOIN mad a USING (event_type) GROUP BY 1)
      |SELECT m.event_type, m.n, m.med AS med_cents, a.mad AS mad_cents,
      |  f.n_outliers, CAST(f.n_outliers * 1000000 // m.n AS BIGINT) AS outlier_ppm
      |FROM med m JOIN mad a USING (event_type) JOIN f USING (event_type)
      |ORDER BY m.event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val h = df.groupBy(col("event_type"), col(valueCol))
        .agg(count(lit(1)).as("cnt"))
      h.withColumn("cum", sum(col("cnt"))
          .over(Window.partitionBy(col("event_type")).orderBy(col(valueCol))))
        .withColumn("n", sum(col("cnt"))
          .over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col(valueCol))).as(out))
    }
    val med = lowerMedian(c, "v", "med")
    val d = graft.Scratch.track(c.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("v") - col("med")).as("dev")))
    val mad = lowerMedian(d, "dev", "mad").select(col("event_type"), col("mad"))
    val f = d.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(coalesce(sum(when(col("dev") > lit(3) * col("mad"), 1L)), lit(0L))
        .as("n_outliers"))
    med.join(mad, Seq("event_type")).join(f, Seq("event_type"))
      .select(col("event_type"), col("n"), col("med").as("med_cents"),
        col("mad").as("mad_cents"), col("n_outliers"),
        expr("n_outliers * 1000000 div n").as("outlier_ppm"))
      .orderBy(col("event_type"))
  }

  val all: Seq[Q] =
    Seq(audit, drift, kanon, ldiversity, tcloseness, benford, outlierMad)
}
