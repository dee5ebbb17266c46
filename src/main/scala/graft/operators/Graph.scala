package graft.operators

import graft.Q
import graft.SessionMemos.{GraphEdges, releaseCheckpoint}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the trade network implied by the TPC-H-ish tables:
  * nodes are nations, and a lineitem whose order was placed by a customer
  * in nation u against a supplier in nation s contributes an edge u → s.
  * Complements the dedup family's connected-components search
  * ([[Dedup]], pointer-jumping) with the other canonical iterative graph
  * primitive, PageRank.
  *
  * Scale shape — "aggregate to model size, then iterate": the 100 TB-heavy
  * part is the 4-way fact join (lineitem⋈orders⋈customer⋈supplier; shuffle
  * joins on the fact keys, AQE free to pick strategies) and the edge
  * aggregation, which touches every lineitem exactly once. What survives is
  * the |V|² ≤ 625-row transition matrix — the iterations run over THAT,
  * persisted once, with the 25-row rank vector broadcast into each round
  * (the same legitimacy argument as [[Similarity]]'s IVF centroid model:
  * iterating on the aggregated model is not a driver-side loop over data).
  *
  * Cross-engine exactness: ranks are fixed-point integers (1.0 ≡ 10¹²) and
  * every transition probability is integer parts-per-million, so each
  * iteration is pure BIGINT arithmetic with explicit floor division —
  * bit-identical on Spark and DuckDB, with no float summation order or libm
  * in the path. The deliberate truncation (≤ 1 ppm per edge per round)
  * loses a little rank mass instead of determinism.
  */
object Graph {

  private val Scale = 1000000000000L // rank fixed-point: 1.0 ≡ 10^12
  private val Damp = 85L             // damping 0.85 as an integer percent
  private val Iters = 5

  /** One DuckDB power-iteration round: contributions through the ppm
    * transition matrix, floor-divided exactly as the Spark side does. */
  private def iterSql(i: Int): String = {
    val prev = if (i == 1) "r0" else s"r${i - 1}"
    s"""c$i AS (SELECT pe.dst, CAST(sum((r.r * pe.p_ppm) // 1000000) AS BIGINT) AS csum
       |  FROM pe JOIN $prev r ON pe.src = r.node GROUP BY pe.dst),
       |r$i AS (SELECT p.node,
       |    CAST((15 * $Scale) // (100 * nn.n) + ($Damp * coalesce(c.csum, 0)) // 100 AS BIGINT) AS r
       |  FROM $prev p CROSS JOIN nn LEFT JOIN c$i c ON p.node = c.dst)""".stripMargin
  }

  private val pagerankOracle: String =
    s"""WITH e AS (SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |    CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS w
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY src),
       |pe AS (SELECT src, dst, CAST((w * 1000000) // wsum AS BIGINT) AS p_ppm
       |  FROM e JOIN ow USING (src)),
       |nn AS (SELECT count(*) AS n FROM nation),
       |r0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
       |    CAST($Scale // nn.n AS BIGINT) AS r FROM nation CROSS JOIN nn),
       |${(1 to Iters).map(iterSql).mkString(",\n")}
       |SELECT r$Iters.node AS nationkey, n.n_name, r$Iters.r AS pr
       |FROM r$Iters JOIN nation n ON r$Iters.node = n.n_nationkey
       |ORDER BY pr DESC, nationkey""".stripMargin

  val pagerank: Q = Q("graph_pagerank", pagerankOracle) { (s, dir) =>
    def t(name: String): DataFrame = Tables.load(s, dir, name)
    val edges = graft.Scratch.track(
      t("lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t("orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t("customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t("supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))
      // persisted single-partition (|V|² ≤ 625 rows): BOTH consumers below
      // (row weights and the transition join) read the cached matrix, so
      // the expensive 4-way fact join executes exactly once — without
      // this the outW branch re-derives it (measured 65 s → 24 s at the
      // ×100 smoke); Scratch-tracked → released after the result lands
      .coalesce(1))
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    // The aggregated model the iterations run over — single-partition so
    // every iteration is a one-task job instead of a 32-task shuffle.
    val pe = graft.Scratch.track(edges.join(broadcast(outW), Seq("src"))
      .select(col("src"), col("dst"), expr("(w * 1000000L) div wsum").as("p_ppm"))
      .coalesce(1))
    val nations = t("nation")
      .select(col("n_nationkey").cast("long").as("node"), col("n_name"))
    val nn = nations.select(count(lit(1)).as("n"))
    var r = nations.select(col("node")).crossJoin(broadcast(nn))
      .select(col("node"), expr(s"${Scale}L div n").as("r"))
      .coalesce(1).localCheckpoint()
    for (_ <- 1 to Iters) {
      val contrib = pe.join(broadcast(r), col("src") === col("node"))
        .select(col("dst"), expr("(r * p_ppm) div 1000000L").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      // Eager per-round materialization (the Dedup CC idiom): without it,
      // round k's broadcast re-derives rounds 1..k-1 from scratch — an
      // O(k²) blowup in tiny jobs that dominated the first bench run.
      r = nations.select(col("node")).crossJoin(broadcast(nn))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (expr(s"(15L * ${Scale}L) div (100L * n)") +
            expr(s"(${Damp}L * coalesce(csum, 0L)) div 100L")).as("r"))
        .coalesce(1).localCheckpoint()
    }
    r.join(broadcast(nations), Seq("node"))
      .select(col("node").as("nationkey"), col("n_name"), col("r").as("pr"))
      .orderBy(col("pr").desc, col("nationkey"))
  }

  private val triOracle: String =
    """WITH d AS (SELECT DISTINCT
      |    CAST(least(c.c_nationkey, s.s_nationkey) AS BIGINT) AS u,
      |    CAST(greatest(c.c_nationkey, s.s_nationkey) AS BIGINT) AS v
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM d e1 JOIN d e2 ON e1.v = e2.u
      |  JOIN d e3 ON e3.u = e1.u AND e3.v = e2.v),
      |m AS (SELECT a AS x FROM t UNION ALL SELECT b FROM t
      |  UNION ALL SELECT c FROM t),
      |cnt AS (SELECT x, count(*) AS tri FROM m GROUP BY x)
      |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey, n.n_name,
      |  CAST(coalesce(c.tri, 0) AS BIGINT) AS tri
      |FROM nation n LEFT JOIN cnt c ON n.n_nationkey = c.x
      |ORDER BY nationkey""".stripMargin

  /** Per-nation triangle counting over the (undirected) trade graph — the
    * third canonical iterative-graph primitive next to [[Dedup]]'s
    * connected components and [[pagerank]]. An edge {u,v} exists when any
    * lineitem links a customer nation to a different supplier nation.
    *
    * Scale shape — same split as [[pagerank]]: the 100 TB-heavy stage is
    * the edge DERIVATION (4-way fact join, shuffle-parallel, collapsed by
    * a DISTINCT whose partial aggregation dedups nation pairs map-side
    * before the exchange); what survives is the ≤ |V|²/2 canonical edge
    * set. Enumeration orients every edge low-key → high-key, so each
    * triangle a<b<c is produced exactly once as the wedge (a,b)+(b,c)
    * closed by (a,c) — no ×6 overcount, no post-hoc dedup. At real |V|
    * the orientation of choice is by DEGREE (low → high), which bounds
    * wedge fan-out at O(m^{3/2}) even on power-law graphs and turns the
    * worst skew (a hub's neighbor list) into the BUILD side of the join;
    * with |V| ≤ 25 nations the key orientation is equivalent and the
    * whole model fits in one broadcast — both self-joins run
    * broadcast-hash with zero shuffle over the persisted edge list.
    */
  val triangles: Q = Q("graph_triangles", triOracle) { (s, dir) =>
    def t(name: String): DataFrame = Tables.load(s, dir, name)
    val edges = graft.Scratch.track(
      t("lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t("orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t("customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t("supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .select(
        least(col("c_nationkey"), col("s_nationkey")).cast("long").as("u"),
        greatest(col("c_nationkey"), col("s_nationkey")).cast("long").as("v"))
      .distinct()
      // the aggregated model (≤ |V|²/2 rows) consumed by three join legs:
      // persist (Scratch-tracked) so the fact join runs once, single-
      // partition so the enumeration is broadcast work, not a shuffle
      .coalesce(1))
    val tri = edges.as("e1")
      .join(broadcast(edges.as("e2")), col("e1.v") === col("e2.u"))
      .join(broadcast(edges.as("e3")),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val members = tri.select(col("a").as("x"))
      .unionAll(tri.select(col("b").as("x")))
      .unionAll(tri.select(col("c").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("tri"))
    t("nation")
      .select(col("n_nationkey").cast("long").as("nationkey"), col("n_name"))
      .join(broadcast(members), col("nationkey") === col("x"), "left")
      .select(col("nationkey"), col("n_name"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .orderBy(col("nationkey"))
  }

  /** Per-node neighbor cap for [[trianglesBig]]'s k-NN sparsification:
    * keeps the enumerated wedge volume at C(k,2)·|V| — linear in the
    * corpus with a small constant — while retaining each node's
    * strongest co-purchase ties (the same top-k-neighbors construction
    * an embedding similarity graph uses before community analysis).
    */
  private val TriK = 8

  /** Shared DuckDB CTE chain: the co-purchase k-NN edge set (weighted
    * basket pairs → per-node top-[[TriK]] → canonical u < v, distinct) —
    * ends with MATERIALIZED `e`. The SQL twin of [[coPurchaseEdges]],
    * shared by [[trianglesBig]] and [[lpa]] so the two graph queries run
    * over the identical similarity graph.
    */
  private val coPurchaseEdgesSql: String =
    s"""pw AS (SELECT CAST(l1.l_partkey AS BIGINT) AS u,
       |    CAST(l2.l_partkey AS BIGINT) AS v, count(*) AS w
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
       |  GROUP BY 1, 2),
       |sym AS (SELECT u AS x, v AS y, w FROM pw
       |  UNION ALL SELECT v, u, w FROM pw),
       |knn AS (SELECT x, y FROM (SELECT x, y,
       |    row_number() OVER (PARTITION BY x ORDER BY w DESC, y) AS rn
       |  FROM sym) WHERE rn <= $TriK),
       |e AS MATERIALIZED (SELECT DISTINCT least(x, y) AS u,
       |    greatest(x, y) AS v FROM knn)""".stripMargin

  private val triBigOracle: String =
    s"""WITH $coPurchaseEdgesSql,
       |deg AS (SELECT x, count(*) AS dg FROM
       |    (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x),
       |o AS MATERIALIZED (SELECT
       |    CASE WHEN a.dg <= b.dg THEN e.u ELSE e.v END AS s,
       |    CASE WHEN a.dg <= b.dg THEN e.v ELSE e.u END AS t,
       |    CASE WHEN a.dg <= b.dg THEN b.dg ELSE a.dg END AS dt
       |  FROM e JOIN deg a ON e.u = a.x JOIN deg b ON e.v = b.x),
       |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
       |  FROM o e1 JOIN o e2 ON e1.s = e2.s
       |    AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))
       |  JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t),
       |cnt AS (SELECT x, count(*) AS tri FROM (SELECT a AS x FROM tri
       |    UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
       |  GROUP BY x)
       |SELECT CAST(x AS BIGINT) AS node, CAST(tri AS BIGINT) AS tri
       |FROM cnt ORDER BY tri DESC, node LIMIT 100""".stripMargin

  /** Degree-ordered triangle enumeration over any canonical (u < v,
    * distinct) edge frame — the partitioned core of [[trianglesBig]],
    * factored out so specs can drive constructed graphs and assert the
    * plan. Every edge is oriented from its lower-(degree, key) endpoint
    * to the higher one, so each triangle is produced exactly once as a
    * wedge at its minimum-rank apex closed by the (b, c) edge — the
    * classic O(m^{3/2}) bound that also turns hub skew into bounded
    * fan-out. All three legs are keyed SHUFFLE joins over the oriented
    * list (persisted once, partitioned by wedge apex); nothing
    * broadcasts the edge set and nothing coalesces, so the same plan
    * runs at any |E|.
    */
  private[operators] def triangleCounts(edgesIn: DataFrame): DataFrame = {
    // persist the canonical edge set: FIVE reads below (both union legs
    // of the degree count, the orientation join, and deg's two join legs
    // each re-deriving it) would otherwise re-run the whole upstream
    // derivation per read
    val edges = graft.Scratch.track(edgesIn)
    val deg = graft.Scratch.track(
      edges.select(col("u").as("x"))
        .unionByName(edges.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("dg")))
    val o = edges
      .join(deg.select(col("x").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("s"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("t"),
        when(col("du") <= col("dv"), col("dv")).otherwise(col("du")).as("dt"))
    // one persisted layout keyed by the wedge apex: both wedge legs read
    // it co-partitioned; only the closing join re-keys by (b, c)
    val oP = graft.Scratch.track(o.repartition(col("s")))
    val wedges = oP.as("e1").join(oP.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.dt") < col("e2.dt") ||
            (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tri = wedges
      .join(oP.select(col("s").as("b"), col("t").as("c")), Seq("b", "c"))
    tri.select(col("a").as("x"))
      .unionByName(tri.select(col("b").as("x")))
      .unionByName(tri.select(col("c").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("tri"))
  }

  /** Big-|V| triangle census — the partitioned twin of [[triangles]]
    * (whose ≤ 25-node nation model legitimately broadcasts): nodes are
    * PARTS (growing with the corpus), edges the k-strongest co-purchase
    * ties per part. The pipeline is the similarity-graph construction a
    * training-data curator runs at 100 TB: weighted co-occurrence pairs
    * from a basket self-join (fan-out bounded by order size), per-node
    * top-k by a node-partitioned row_number window (per-node co-purchase
    * degree is corpus-size-invariant, so frames stay bounded),
    * union-symmetrized back to a canonical edge set, then
    * [[triangleCounts]]'s degree-ordered enumeration. Wedge volume is
    * ≤ C(k,2)·|V| by construction — linear in the corpus — and every
    * stage is a keyed shuffle with map-side partials; output is the
    * top-100 triangle-participation slice (TakeOrderedAndProject).
    */
  /** The co-purchase k-NN similarity graph as a canonical (u < v,
    * distinct) edge frame — shared by [[trianglesBig]] and [[lpa]].
    * Pair generation aggregates each order's parts list once and
    * explodes intra-list index pairs (i < j, canonical a < b) — the
    * same (u, v, w) multiset as the oracle's basket self-join, computed
    * with ONE orderkey exchange instead of the join's two-sided
    * build/probe over the fact (measured 4.4 → 2.5 s at sf0.1; fan-out
    * stays bounded by order size either way). The weighted pair frame is
    * persisted (the symmetrization reads it twice); per-node top-k runs
    * in a node-partitioned window (per-node co-purchase degree is
    * corpus-size-invariant, so frames stay bounded).
    */
  /** Session memos ([[graft.SessionMemos.GraphEdges]]) of the family's
    * two shared edge derivations — the [[Dedup]] pair-frame contract: six
    * registered queries re-derived their edge set independently (~1–2 s
    * of repeated orderkey exchange + wedge truncation each at sf0.1) while
    * the dedup family shared its candidate materializations session-wide.
    * First consumer pays the derivation (first-payer honesty, visible in
    * the bench sidecar's raw passes); later consumers read an
    * edge-set-sized persisted frame.
    */
  private[operators] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    GraphEdges.frame(s, dir, "copurchase")(buildCoPurchaseEdges(s, dir))

  private def buildCoPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = graft.Scratch.track(
      li.groupBy(col("l_orderkey"))
        .agg(collect_list(col("l_partkey").cast("long")).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (a, i) ->
            |  filter(transform(ps, (b, j) ->
            |      IF(j > i AND a < b, struct(a AS u, b AS v),
            |        IF(j > i AND b < a, struct(b AS u, a AS v), null))),
            |    x -> x IS NOT NULL)))""".stripMargin)).as("p"))
        .groupBy(col("p.u").as("u"), col("p.v").as("v"))
        .agg(count(lit(1)).as("w")))
    val sym = pairs.select(col("u").as("x"), col("v").as("y"), col("w"))
      .unionByName(pairs.select(col("v").as("x"), col("u").as("y"), col("w")))
    sym
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("x")).orderBy(col("w").desc, col("y"))))
      .filter(col("rn") <= TriK)
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
  }

  val trianglesBig: Q = Q("graph_triangles_big", triBigOracle) { (s, dir) =>
    triangleCounts(coPurchaseEdges(s, dir))
      .orderBy(col("tri").desc, col("x")).limit(100)
      .select(col("x").as("node"), col("tri"))
  }

  private val CoreK = 3
  private val MaxPeel = 25 // ≥ |V|: peeling converges in < |V| rounds

  /** One DuckDB peeling round: restrict edges to surviving nodes,
    * recompute degrees, keep nodes with degree ≥ k. Rounds after the
    * fixpoint are no-ops, so unrolling MaxPeel rounds is exact. Every
    * n$i is MATERIALIZED — each round references its predecessor twice
    * (both join legs), so inlining would replicate the chain 2^rounds
    * times. */
  private def peelSql(i: Int): String = {
    val prev = if (i == 1) "n0" else s"n${i - 1}"
    s"""d$i AS (SELECT d.u, d.v FROM d
       |  JOIN $prev a ON d.u = a.x JOIN $prev b ON d.v = b.x),
       |g$i AS (SELECT x, count(*) AS deg FROM
       |    (SELECT u AS x FROM d$i UNION ALL SELECT v FROM d$i) GROUP BY x),
       |n$i AS MATERIALIZED (SELECT x FROM g$i WHERE deg >= $CoreK)""".stripMargin
  }

  private val kcoreOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT
       |    CAST(least(c.c_nationkey, s.s_nationkey) AS BIGINT) AS u,
       |    CAST(greatest(c.c_nationkey, s.s_nationkey) AS BIGINT) AS v,
       |    count(*) AS w
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey
       |  GROUP BY 1, 2),
       |stat AS (SELECT count(*) AS ne, CAST(sum(w) AS BIGINT) AS sw FROM e),
       |d AS MATERIALIZED (SELECT u, v FROM e CROSS JOIN stat WHERE w * ne > sw),
       |n0 AS MATERIALIZED (SELECT DISTINCT x FROM
       |    (SELECT u AS x FROM d UNION ALL SELECT v FROM d)),
       |${(1 to MaxPeel).map(peelSql).mkString(",\n")},
       |fd AS (SELECT x, count(*) AS deg FROM (
       |    SELECT d.u AS x FROM d
       |      JOIN n$MaxPeel a ON d.u = a.x JOIN n$MaxPeel b ON d.v = b.x
       |    UNION ALL
       |    SELECT d.v FROM d
       |      JOIN n$MaxPeel a ON d.u = a.x JOIN n$MaxPeel b ON d.v = b.x)
       |  GROUP BY x)
       |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey, n.n_name,
       |  (fd.x IS NOT NULL) AS in_core,
       |  CAST(coalesce(fd.deg, 0) AS BIGINT) AS core_deg
       |FROM nation n LEFT JOIN fd ON n.n_nationkey = fd.x
       |ORDER BY nationkey""".stripMargin

  /** k-core decomposition (k = $CoreK) of the trade graph, on edges with
    * strictly above-average weight — the density-based community
    * primitive next to [[pagerank]] and [[triangles]]: which nations sit
    * in a mutually-dense trading cluster once weak links are pruned.
    *
    * Scale shape — same "aggregate to model size" split as [[pagerank]]:
    * the 100 TB stage is the 4-way fact join + weighted edge aggregation
    * (touches every lineitem once, shuffle-parallel). What survives is a
    * ≤ |V|²/2-row edge model on ONE partition — and unlike pagerank
    * (whose 5 rounds each reshape a rank VECTOR the oracle replays
    * round-for-round), peeling is a closed computation on that model, so
    * the whole fixpoint runs inside a single `mapPartitions` task:
    * executor-local, one Spark job, no per-round scheduling. (A previous
    * formulation ran each round as broadcast semijoins + localCheckpoint
    * + count — ~3 jobs × up to 25 rounds of pure scheduler overhead for
    * a 325-row model; 5.1 s → this version, one job.) This is NOT a
    * driver collect: the model stays on the executor, and its size is
    * bounded by |V|², not the corpus. The peel itself early-exits on the
    * exact fixpoint; the oracle unrolls MaxPeel rounds, and post-fixpoint
    * rounds are identity, so fixed-unroll and early-exit agree exactly.
    * The above-average edge filter is pure integer cross-multiplication
    * (w · ne > sw) — no float threshold to diverge between engines, and
    * it sparsifies proportionally at ANY scale factor.
    */
  val kcore: Q = Q("graph_kcore", kcoreOracle) { (s, dir) =>
    def t(name: String): DataFrame = Tables.load(s, dir, name)
    val edges = graft.Scratch.track(
      t("lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t("orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t("customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t("supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(
        least(col("c_nationkey"), col("s_nationkey")).cast("long").as("u"),
        greatest(col("c_nationkey"), col("s_nationkey")).cast("long").as("v"))
      .agg(count(lit(1)).as("w"))
      .coalesce(1))
    val stat = edges.agg(count(lit(1)).as("ne"), sum(col("w")).as("sw"))
    val d = edges.crossJoin(broadcast(stat))
      .where(col("w") * col("ne") > col("sw"))
      .select(col("u"), col("v"))
      .coalesce(1)
    import s.implicits._
    val fd = d.as[(Long, Long)].mapPartitions { it =>
      val es = it.toArray
      def degreesOf(alive: Set[Long]): Map[Long, Long] = {
        val deg = scala.collection.mutable.Map.empty[Long, Long]
        es.foreach { case (u, v) =>
          if (alive(u) && alive(v)) {
            deg(u) = deg.getOrElse(u, 0L) + 1L
            deg(v) = deg.getOrElse(v, 0L) + 1L
          }
        }
        deg.toMap
      }
      var alive: Set[Long] = es.flatMap { case (u, v) => Seq(u, v) }.toSet
      var converged = false
      for (_ <- 1 to MaxPeel if !converged) {
        val deg = degreesOf(alive)
        val next = alive.filter(x => deg.getOrElse(x, 0L) >= CoreK)
        converged = next.size == alive.size
        alive = next
      }
      degreesOf(alive).iterator
    }.toDF("x", "deg")
    t("nation")
      .select(col("n_nationkey").cast("long").as("nationkey"), col("n_name"))
      .join(broadcast(fd), col("nationkey") === col("x"), "left")
      .select(col("nationkey"), col("n_name"),
        col("x").isNotNull.as("in_core"),
        coalesce(col("deg"), lit(0L)).as("core_deg"))
      .orderBy(col("nationkey"))
  }

  /** Big-|V| connected components over the customer↔supplier bipartite
    * graph — the proof that the engine's iterative-graph machinery runs
    * PARTITIONED, not on a coalesced |V|²-row model like the nation-graph
    * trio above (|V| = 25 there; here |V| is 150k customers + 10k
    * suppliers at sf1 and grows with the corpus). Nodes are encoded into
    * one id space as 2·custkey / 2·suppkey+1; an edge links a customer to
    * a supplier they traded with, restricted to the deterministic
    * l_partkey ≡ 0 (mod 997) lineitem slice so the graph is SPARSE
    * (average degree < 1 at every SF — the regime where component
    * structure is non-trivial, and where the oracle's transitive-closure
    * replay stays |component|²-bounded).
    *
    * Scale shape: edge derivation is a broadcast join (the filtered
    * lineitem slice is ~0.1% of the fact table) against orders, collapsed
    * by a map-side-partial DISTINCT; the component search is
    * [[Dedup.connectedComponents]] — per-round (vertex, label) shuffles
    * joined against the persisted edge list with pointer jumping, O(log
    * diameter) rounds, lineage cut per round. NOTHING in the path
    * coalesces to one partition: the same search that labels near-dup
    * clusters labels a 100×-bigger trade graph unchanged (asserted
    * partitioned in GraphSpec).
    */
  val components: Q = Q("graph_components",
    """WITH RECURSIVE raw AS (SELECT DISTINCT
      |    CAST(o.o_custkey AS BIGINT) * 2 AS a,
      |    CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS b
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_partkey % 997 = 0),
      |edges AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
      |reach(a, b) AS (SELECT a, b FROM edges
      |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |labels AS (SELECT a AS node, min(b) AS lbl FROM reach GROUP BY a),
      |asg AS (SELECT node, least(node, lbl) AS component_id FROM labels),
      |sz AS (SELECT component_id, count(*) AS comp_size FROM asg
      |  GROUP BY component_id)
      |SELECT a.node, a.component_id, CAST(s.comp_size AS BIGINT) AS comp_size
      |FROM asg a JOIN sz s USING (component_id)
      |ORDER BY a.node""".stripMargin) { (s, dir) =>
    def t(name: String): DataFrame = Tables.load(s, dir, name)
    val slice = t("lineitem")
      .where(col("l_partkey") % 997 === 0)
      .select(col("l_orderkey"), col("l_suppkey"))
    val edges = broadcast(slice)
      .join(t("orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("id1"),
        (col("l_suppkey").cast("long") * 2 + 1).as("id2"))
      .distinct()
    val labels = graft.Scratch.trackCheckpointed(
      Dedup.connectedComponents(edges))
    val asg = labels.select(col("id").as("node"),
      least(col("id"), col("label")).as("component_id"))
    // two-phase size count, not a window — same mega-component argument
    // as Dedup.clusters
    val sizes = asg.groupBy(col("component_id"))
      .agg(count(lit(1)).as("comp_size"))
    asg.join(sizes, Seq("component_id"))
      .select(col("node"), col("component_id"), col("comp_size"))
      .orderBy(col("node"))
  }

  private val pagerankBigOracle: String =
    s"""WITH raw AS (SELECT DISTINCT CAST(o.o_custkey AS BIGINT) * 2 AS a,
       |    CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS b
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM raw
       |  UNION ALL SELECT b, a FROM raw),
       |ow AS (SELECT src, CAST(count(*) AS BIGINT) AS wsum
       |  FROM edges GROUP BY src),
       |pe AS (SELECT src, dst, CAST(1000000 // wsum AS BIGINT) AS p_ppm
       |  FROM edges JOIN ow USING (src)),
       |nn AS (SELECT count(*) AS n FROM ow),
       |r0 AS (SELECT src AS node, CAST($Scale // nn.n AS BIGINT) AS r
       |  FROM ow CROSS JOIN nn),
       |${(1 to Iters).map(iterSql).mkString(",\n")}
       |SELECT node, r AS pr FROM r$Iters
       |ORDER BY pr DESC, node LIMIT 100""".stripMargin

  /** One un-checkpointed power-iteration round over a PARTITIONED rank
    * vector — factored out so [[pagerankBig]] and the GraphSpec plan
    * assertions run the identical step. `pe` is the persisted transition
    * list (src, dst, p_ppm) partitioned by src; `nodes` the persisted
    * vertex frame; `teleport` the constant per-node teleport mass
    * ((15·Scale) div (100·|V|)) — |V| is ONE scalar counted once up
    * front, so folding it driver-side is the IVF-centroid legitimacy
    * argument, not a data collect, and it saves a broadcast + aggregate
    * job per round; `r` the incoming (node, r) vector. Same ppm
    * fixed-point arithmetic as [[pagerank]]'s model-sized loop.
    */
  private[operators] def prRound(pe: DataFrame, nodes: DataFrame,
      teleport: Long, r: DataFrame): DataFrame = {
    // SHUFFLE_HASH on the vector sides (round 19, guide §3.1): the rank
    // vector is a stats-less checkpoint, so the static planner's default
    // is sort-merge — which re-SORTS the persisted |E|-row transition
    // list EVERY round. The hint builds the per-partition hash table
    // from the |V|-row vector instead (tiny per partition at any scale)
    // and streams `pe` in its persisted src partitioning, unsorted and
    // unmoved. Still no broadcast anywhere — the vector stays
    // distributed (plan-asserted in GraphSpec).
    val contrib = pe
      .join(r.select(col("node").as("src"), col("r")).hint("shuffle_hash"),
        Seq("src"))
      .select(col("dst"), expr("(r * p_ppm) div 1000000L").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
    nodes
      .join(contrib.hint("shuffle_hash"), col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(teleport) +
          expr(s"(${Damp}L * coalesce(csum, 0L)) div 100L")).as("r"))
  }

  /** Big-|V| PageRank over the customer↔supplier bipartite trade graph —
    * the partitioned-iteration twin of [[pagerank]] (r8 verdict task #3).
    * [[pagerank]] iterates over a ≤ |V|² ≤ 625-row NATION model where the
    * per-round broadcast of a 25-row rank vector is legitimate;
    * here |V| is every trading customer and supplier (~16k at sf0.1,
    * ~160k at sf1, growing with the corpus), so the rank vector itself is
    * data-sized and must stay distributed. Every round is therefore a
    * keyed SHUFFLE join: the transition list `pe` is persisted
    * pre-partitioned by src (one layout, reused all rounds — only the
    * rank side exchanges), contributions aggregate by dst with map-side
    * partials, and the new vector joins back to the persisted vertex
    * frame. The ONLY broadcasts are the 1-row node-count frame; no
    * coalesce(1), no rank-vector broadcast anywhere (plan-asserted in
    * GraphSpec). Per-round `localCheckpoint` cuts lineage exactly like
    * [[Dedup.connectedComponents]], with each round's blocks released
    * eagerly.
    *
    * Node encoding, edge derivation and exact integer ppm arithmetic
    * match [[components]] / [[pagerank]]: ids are 2·custkey / 2·suppkey+1,
    * edges are DISTINCT trading pairs made symmetric (so the graph is
    * undirected and dangling-node mass never arises), ranks are 10¹²
    * fixed-point with floor division — bit-identical on DuckDB, which
    * replays the identical unrolled iteration. Output is the top-100
    * vector slice (TakeOrderedAndProject — model-sized result, full
    * vector never collected).
    */
  /** The customer–supplier bipartite trade graph as a symmetrized
    * (src, dst) frame, src-partitioned and session-memoized
    * ([[graft.SessionMemos.GraphEdges]]) — shared by [[pagerankBig]] and
    * [[bfs]], which each re-derived the same distinct + union + exchange
    * chain. Partitioning by src is the layout both consumers' per-round joins
    * key on.
    */
  private[operators] def bipartiteEdges(s: SparkSession, dir: String): DataFrame =
    GraphEdges.frame(s, dir, "bipartite")(
      buildBipartiteEdges(s, dir).repartition(col("src")))

  private def buildBipartiteEdges(s: SparkSession, dir: String): DataFrame = {
    def t(name: String): DataFrame = Tables.load(s, dir, name)
    val raw = t("lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t("orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b"))
      .distinct()
    raw.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(raw.select(col("b").as("src"), col("a").as("dst")))
  }

  val pagerankBig: Q = Q("graph_pagerank_big", pagerankBigOracle) { (s, dir) =>
    val edges = bipartiteEdges(s, dir)
    val ow = edges.groupBy(col("src")).agg(count(lit(1)).as("wsum"))
    // persisted transition layout, partitioned by the per-round join key:
    // the expensive derivation runs once and the per-round join reuses
    // this partitioning — only the (node, r) side moves each round
    val pe = graft.Scratch.track(edges.join(ow, Seq("src"))
      .select(col("src"), col("dst"), expr("1000000L div wsum").as("p_ppm"))
      .repartition(col("src")))
    val nodes = graft.Scratch.track(ow.select(col("src").as("node")))
    // |V| is one scalar — count it once (bounded output by construction)
    // and fold the constant teleport term into every round's projection
    val n = nodes.count()
    val teleport = (15L * Scale) / (100L * n)
    var r = nodes.select(col("node"), lit(Scale / n).as("r"))
      .localCheckpoint()
    for (_ <- 1 to Iters) {
      val next = prRound(pe, nodes, teleport, r).localCheckpoint()
      releaseCheckpoint(r)
      r = next
    }
    r.orderBy(col("r").desc, col("node")).limit(100)
      .select(col("node"), col("r").as("pr"))
  }

  /** Degree statistics over the FULL customer↔supplier bipartite graph —
    * no sparsifying filter: every distinct (customer, supplier) trading
    * pair at sf0.1 is ~600k edges over 16k nodes, and the operator's
    * output is the supplier-side degree HISTOGRAM (how many suppliers
    * serve exactly k distinct customers), the |V|-independent summary a
    * pipeline owner actually reads.
    *
    * Scale shape: three shuffles, each with map-side partial aggregation
    * — pair DISTINCT on (custkey, suppkey), per-supplier count, histogram
    * on the count — and every intermediate after the first is bounded by
    * |suppliers|, then by the degree domain. No joins, no model
    * materialization, nothing driver-side: the canonical two-phase
    * aggregation ladder that survives any corpus size.
    */
  val bipartiteDegree: Q = Q("graph_degree",
    """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |d AS (SELECT s, count(*) AS n_customers FROM e GROUP BY s)
      |SELECT CAST(n_customers AS BIGINT) AS n_customers,
      |  CAST(count(*) AS BIGINT) AS n_suppliers
      |FROM d GROUP BY n_customers
      |ORDER BY n_customers""".stripMargin) { (s, dir) =>
    // read the session-memoized symmetrized frame ([[bipartiteEdges]]):
    // supplier nodes carry odd ids (suppkey*2+1), their out-edges in the
    // sym frame are exactly the distinct (supplier, customer) pairs, so
    // per-odd-src counts ARE the supplier degrees — the memo already
    // holds the distinct pair set this query's first two shuffles built
    bipartiteEdges(s, dir)
      .filter(col("src") % 2 === 1)
      .groupBy(col("src")).agg(count(lit(1)).as("n_customers"))
      .groupBy(col("n_customers")).agg(count(lit(1)).as("n_suppliers"))
      .orderBy(col("n_customers"))
  }

  /** Hop bound for [[bfs]]: the bipartite trade graph's giant component
    * has diameter ~4 (customer→supplier→customer chains), so 8 covers
    * every reachable node with headroom while keeping the oracle's
    * recursion finite (the bound is what terminates the recursive CTE on
    * a cyclic graph — (node, d) pairs are finite only with d capped).
    */
  private val BfsMaxHops = 8

  /** Per-round broadcast cap for the BFS level frames ([[bfsDistances]] /
    * [[closeness]]): ≤2²⁰ rows of (s, node, dist) is a ≤~25 MiB hash
    * relation — comfortable on any driver — and every sf ≤ ×100 frontier
    * except the peak hops stays under it. Above the cap the round's joins
    * take the SHUFFLE_HASH side instead: the frontier exchanges to the
    * edge frame's existing src partitioning and builds per-partition hash
    * tables, so the corpus-sized edge frame is never sorted and never
    * moved — the honest cluster shape when the frontier no longer fits
    * one node. Decided from the round's EXACT count (the materializing
    * action), not an estimate.
    */
  private val BfsBroadcastRows = 1L << 20

  /** One BFS expansion round over the src-partitioned edge frame — shared
    * by [[bfsDistances]] (keyed = false: plain (node) frontier) and
    * [[closeness]] (keyed = true: per-source (s, node) frontier). Join
    * strategies are picked from the EXACT frontier/seen counts (guide
    * §3.1): broadcast under [[BfsBroadcastRows]], SHUFFLE_HASH above —
    * either way the persisted edge frame is never sorted and never
    * re-exchanged.
    */
  private[operators] def expandRound(edges: DataFrame, frontier: DataFrame,
      seen0: DataFrame, nFrontier: Long, nSeen: Long, hop: Long,
      keyed: Boolean): DataFrame = {
    val seen =
      if (nSeen <= BfsBroadcastRows) broadcast(seen0)
      else seen0.hint("shuffle_hash")
    val front =
      if (nFrontier <= BfsBroadcastRows) broadcast(frontier)
      else frontier.hint("shuffle_hash")
    val joined = front.join(edges, front("node") === edges("src"))
    if (keyed)
      joined.select(front("s"), col("dst").as("node")).distinct()
        .join(seen, Seq("s", "node"), "left_anti")
        .select(col("s"), col("node"), lit(hop).as("dist"))
    else
      joined.select(col("dst").as("node")).distinct()
        .join(seen, Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("dist"))
  }

  private val bfsOracle: String =
    s"""WITH RECURSIVE raw AS (SELECT DISTINCT
       |    CAST(o.o_custkey AS BIGINT) * 2 AS a,
       |    CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS b
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM raw
       |  UNION ALL SELECT b, a FROM raw),
       |seed AS (SELECT min(src) AS node FROM edges),
       |reach(node, d) AS (
       |  SELECT node, 0 FROM seed
       |  UNION
       |  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
       |  WHERE r.d < $BfsMaxHops)
       |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM reach
       |GROUP BY node ORDER BY node""".stripMargin

  /** Single-source BFS over the full customer↔supplier bipartite graph —
    * the frontier-expansion Pregel shape next to [[pagerankBig]]'s
    * fixed-size power iteration and [[components]]' label propagation:
    * per round the work is the CURRENT FRONTIER, not |V|, so rounds cost
    * what they reach. Source: the minimum node id (deterministic at any
    * corpus). Distances are exact hop counts; nodes beyond
    * [[BfsMaxHops]] stay unreported in BOTH engines (the oracle replays
    * the identical bound in its recursive CTE).
    *
    * Scale shape: the edge list is persisted pre-partitioned by src once
    * (the [[pagerankBig]] layout argument) so each round's expansion
    * shuffles only the frontier; the visited set grows to |V| and meets
    * the frontier in a keyed anti-join. Per-round `localCheckpoint` cuts
    * lineage, early-stop ends the loop the round the frontier empties —
    * on this graph's ~4 diameter that is 5 rounds, not the worst-case 8.
    */
  val bfs: Q = Q("graph_bfs", bfsOracle) { (s, dir) =>
    val edges = bipartiteEdges(s, dir)
    val seeds = edges.agg(min(col("src")).as("node"))
    bfsDistances(edges, seeds)
  }

  /** [[bfs]]'s frontier loop over any symmetric (src, dst) edge frame and
    * (node) seed frame — separated so specs drive constructed graphs.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = BfsMaxHops): DataFrame = {
    // Level-synchronous BFS keeping ONE checkpointed frame per level.
    // The visited-set anti-join tests candidates against the LAST TWO
    // levels only (round 19): a candidate expanded from level h−1 is
    // adjacent to a node at distance h−1, so its own distance is ≥ h−2 —
    // an already-visited candidate can only sit in level h−2 or h−1,
    // never deeper (exact for ANY graph, by the level-synchronous
    // induction: L_h = N(L_{h−1}) \ (L_{h−2} ∪ L_{h−1})). The former
    // shape re-checkpointed the ENTIRE growing visited frame every round
    // (one extra full materialization job per hop) and anti-joined the
    // expansion against O(|visited|) rows; now the anti-join side is
    // O(|frontier|) and the level frames union ONCE, lazily, after the
    // loop — the union is evaluated by the caller's single action.
    // Per-round job shape: the level is checkpointed LAZILY and its
    // `count()` is the one ACTION that materializes it (one action per
    // hop, where eager-checkpoint + isEmpty was two). Under AQE that
    // action still runs several Spark jobs — each broadcast build and
    // shuffle stage is a job of its own (graph_closeness at sf0.1: 30 jobs
    // for six counts, about five per hop). The exact count then
    // picks the round's join strategies DELIBERATELY (guide §3.1) — a
    // checkpointed frame is a stats-less LogicalRDD, so the static
    // planner falls back to sort-merge, which re-SORTS the persisted
    // edge frame every round: broadcast the frontier under
    // [[BfsBroadcastRows]], shuffled-hash it above (the edge side is
    // never sorted and never re-exchanged — it is already
    // src-partitioned), scale-adaptive from exact counts rather than a
    // local-mode constant.
    var frontier = seeds.select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(eager = false)
    var nFrontier = frontier.count()
    var nPrev = 0L
    var prev: DataFrame = null
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var hop = 1L
    var growing = nFrontier > 0
    while (hop <= maxHops && growing) {
      val seen0 =
        if (prev == null) frontier.select(col("node"))
        else prev.select(col("node")).unionByName(frontier.select(col("node")))
      val next = expandRound(edges, frontier, seen0, nFrontier,
        nPrev + nFrontier, hop, keyed = false)
        .localCheckpoint(eager = false)
      val n = next.count()
      if (n == 0) {
        growing = false
        releaseCheckpoint(next)
      } else {
        levels += next
        prev = frontier
        nPrev = nFrontier
        frontier = next
        nFrontier = n
      }
      hop += 1
    }
    // every level frame stays checkpointed until the caller's action has
    // consumed the union — total resident rows equal the old growing
    // visited frame, just split across per-level blocks
    levels.reduce(_ unionByName _).orderBy(col("node"))
  }

  /** Sources for [[closeness]]: a FIXED-size probe set (the 5 smallest
    * node ids — deterministic at any corpus), because exact all-sources
    * centrality is O(|V|·|E|) and no one runs it at scale; sampled-source
    * centrality is the standard estimator (Eppstein–Wang) and its cost is
    * |sources| BFS sweeps, each a frontier loop like [[bfs]].
    */
  private val ClosenessSources = 5

  private val closenessOracle: String =
    s"""WITH RECURSIVE raw AS (SELECT DISTINCT
       |    CAST(o.o_custkey AS BIGINT) * 2 AS a,
       |    CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS b
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM raw
       |  UNION ALL SELECT b, a FROM raw),
       |seeds AS (SELECT src AS s FROM (
       |    SELECT DISTINCT src FROM edges ORDER BY src LIMIT $ClosenessSources)),
       |reach(s, node, d) AS (
       |  SELECT s, s, 0 FROM seeds
       |  UNION
       |  SELECT r.s, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
       |  WHERE r.d < $BfsMaxHops),
       |m AS (SELECT s, node, min(d) AS d FROM reach GROUP BY 1, 2)
       |SELECT s AS src, CAST(count(*) - 1 AS BIGINT) AS reached,
       |  CAST(sum(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END) AS BIGINT) AS harmonic_ppm
       |FROM m GROUP BY s ORDER BY src""".stripMargin

  /** Harmonic centrality from [[ClosenessSources]] sampled sources — the
    * sampled-BFS centrality estimate (Eppstein–Wang) a graph pipeline
    * runs where exact closeness is O(|V|·|E|)-impossible: per source,
    * one multi-source BFS sweep yields hop distances, and the centrality
    * is Σ 1/d over reached nodes — harmonic, not classic closeness,
    * because harmonic handles disconnected remainders without a
    * convention (unreached nodes contribute 0, no ∞). 1/d is exact
    * integer ppm (`1000000 div d` — d is a hop count ≤ [[BfsMaxHops]]),
    * so both engines agree bit-exactly.
    *
    * Scale shape: ONE frontier loop carries all sources simultaneously,
    * keyed (source, node) — the frontier join stays on the memoized
    * src-partitioned edge frame ([[bipartiteEdges]]), per-round work is
    * |frontier|·|sources|, and the visited set meets expansion in a
    * keyed anti-join exactly like [[bfs]]. Early-stop ends the loop when
    * every source's frontier empties.
    */
  val closeness: Q = Q("graph_closeness", closenessOracle) { (s, dir) =>
    val edges = bipartiteEdges(s, dir)
    val seeds = edges.select(col("src")).distinct()
      .orderBy(col("src")).limit(ClosenessSources)
      .select(col("src").as("s"))
    // the [[bfsDistances]] last-two-levels shape, keyed (s, node): the
    // anti-join side is the previous two frontiers, not the growing
    // visited frame, and the per-hop re-checkpoint of that frame is gone
    // — per hop ONE materializing action over O(|frontier|) rows, which
    // AQE runs as several jobs (round 19; job shape and exactness
    // argument at [[bfsDistances]], per source s here)
    var frontier = seeds.select(col("s"), col("s").as("node"), lit(0L).as("dist"))
      .localCheckpoint(eager = false)
    var nFrontier = frontier.count()
    var nPrev = 0L
    var prev: DataFrame = null
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var hop = 1L
    var growing = nFrontier > 0
    while (hop <= BfsMaxHops && growing) {
      val seen0 =
        if (prev == null) frontier.select(col("s"), col("node"))
        else prev.select(col("s"), col("node"))
          .unionByName(frontier.select(col("s"), col("node")))
      val next = expandRound(edges, frontier, seen0, nFrontier,
        nPrev + nFrontier, hop, keyed = true)
        .localCheckpoint(eager = false)
      val n = next.count()
      if (n == 0) {
        growing = false
        releaseCheckpoint(next)
      } else {
        levels += next
        prev = frontier
        nPrev = nFrontier
        frontier = next
        nFrontier = n
      }
      hop += 1
    }
    levels.reduce(_ unionByName _).groupBy(col("s").as("src"))
      .agg((count(lit(1)) - 1).as("reached"),
        sum(when(col("dist") > 0, expr("1000000L div dist")).otherwise(lit(0L)))
          .as("harmonic_ppm"))
      .orderBy(col("src"))
  }

  private val LpaIters = 4

  /** One DuckDB LPA round: count neighbor labels, keep the most frequent
    * (ties to the smallest label) — the exact [[lpaRound]] semantics. */
  private def lpaIterSql(i: Int): String = {
    val mat = if (i == LpaIters) "MATERIALIZED " else ""
    s"""m$i AS (SELECT s.y AS node, l.lbl, count(*) AS c
       |  FROM se s JOIN l${i - 1} l ON s.x = l.node GROUP BY 1, 2),
       |l$i AS $mat(SELECT node, lbl FROM (SELECT node, lbl,
       |    row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |  FROM m$i) WHERE rn = 1)""".stripMargin
  }

  private val lpaOracle: String =
    s"""WITH $coPurchaseEdgesSql,
       |se AS MATERIALIZED (SELECT u AS x, v AS y FROM e
       |  UNION ALL SELECT v, u FROM e),
       |l0 AS (SELECT DISTINCT x AS node, x AS lbl FROM se),
       |${(1 to LpaIters).map(lpaIterSql).mkString(",\n")},
       |cs AS (SELECT lbl, count(*) AS csz FROM l$LpaIters GROUP BY lbl)
       |SELECT CAST(l.node AS BIGINT) AS node, CAST(l.lbl AS BIGINT) AS community,
       |  CAST(c.csz AS BIGINT) AS csz
       |FROM l$LpaIters l JOIN cs c USING (lbl) ORDER BY node""".stripMargin

  /** One synchronous label-propagation round over a symmetric (x, y) edge
    * frame: every node adopts its neighbors' most frequent label, ties to
    * the smallest label — all-integer (count-max then label-min via one
    * struct max), so DuckDB replays it bit-for-bit. Factored out so
    * [[lpa]] and the GraphSpec plan assertion run the identical step.
    * Two keyed exchanges per round: the label vector joins the
    * src-partitioned edge list (only the |V|-sized vector moves), and the
    * message count re-keys by destination with map-side partials. Nothing
    * broadcasts — the vector is data-sized (plan-asserted).
    */
  private[operators] def lpaRound(se: DataFrame, labels: DataFrame): DataFrame =
    // SHUFFLE_HASH on the label vector (round 19): same argument as
    // [[prRound]] — the vector is a stats-less checkpoint and the SMJ
    // default re-sorted the persisted symmetric edge list every round;
    // the hint builds the hash from the |V|-row vector per partition and
    // streams `se` in its persisted x partitioning. No broadcast.
    se.join(labels.select(col("node").as("x"), col("lbl")).hint("shuffle_hash"),
        Seq("x"))
      .groupBy(col("y"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("y"))
      .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
      .select(col("y").as("node"), (-col("m.nl")).as("lbl"))

  /** Community detection by synchronous label propagation (Raghavan et al.
    * 2007) over the co-purchase k-NN similarity graph — the third Pregel
    * shape in the graph family beside [[pagerankBig]] (fixed rounds over a
    * value vector) and [[components]] (converging pointer-jumping): LPA's
    * per-round state is a LABEL vector updated by a neighborhood VOTE.
    * [[LpaIters]] synchronous rounds from self-labels; the deterministic
    * count-desc/label-asc tie-break makes the unrolled oracle replay exact
    * (synchronous LPA on a fixed round budget needs no convergence
    * argument — oscillation, its known failure mode, is simply truncated
    * identically in both engines).
    *
    * Scale shape, per the [[pagerankBig]] contract: the edge list is
    * persisted pre-partitioned by the join key once and every round moves
    * only the (node, lbl) vector through two keyed exchanges
    * ([[lpaRound]]); per-round `localCheckpoint` cuts lineage with eager
    * release of the previous vector; community sizes are a two-phase
    * count (no window over the data-sized label frame). Output is the
    * full per-node assignment — the frame a curation pipeline joins back
    * against the corpus to stratify by community.
    */
  val lpa: Q = Q("graph_lpa", lpaOracle) { (s, dir) =>
    val edges = coPurchaseEdges(s, dir)
    val se = graft.Scratch.track(
      edges.select(col("u").as("x"), col("v").as("y"))
        .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
        .repartition(col("x")))
    var r = se.select(col("x").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    for (_ <- 1 to LpaIters) {
      val next = lpaRound(se, r).localCheckpoint()
      releaseCheckpoint(r)
      r = next
    }
    graft.Scratch.trackCheckpointed(r)
    val sizes = r.groupBy(col("lbl")).agg(count(lit(1)).as("csz"))
    r.join(sizes, Seq("lbl"))
      .select(col("node"), col("lbl").as("community"), col("csz"))
      .orderBy(col("node"))
  }

  /** Link prediction by common-neighbor Jaccard — the graph-ML readout
    * after the family's analytics (triangles/k-core), structure
    * (components) and communities (lpa): for every NON-edge pair at
    * distance 2 in the co-purchase k-NN graph, score
    * J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| and keep the top-100 — the
    * "parts bought together with your parts" recommendation candidates.
    * Exact integers throughout: the intersection is a wedge count, the
    * union is d(a)+d(b)−cn, the score `cn·10⁶ div union` with (a,b)
    * tie-break.
    *
    * Scale shape: the same bounded-wedge economics as [[trianglesBig]] —
    * the shared degree-capped edge derivation bounds every adjacency
    * list, so wedge volume is Σ_w d(w)² ≤ cap²·|V|, never all-pairs;
    * existing edges drop via an anti-join on the canonical (u<v) key;
    * degrees join as a |V|-sized frame; the only unbounded-looking
    * ORDER BY is the final top-100, a TakeOrderedAndProject.
    */
  val jaccard: Q = Q("graph_jaccard",
    s"""WITH $coPurchaseEdgesSql,
       |adj AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT x, count(*) AS dg FROM adj GROUP BY x),
       |wdg AS (SELECT s1.y AS a, s2.y AS b FROM adj s1
       |  JOIN adj s2 ON s2.x = s1.x AND s1.y < s2.y),
       |cn AS (SELECT a, b, count(*) AS cn FROM wdg GROUP BY 1, 2),
       |cand AS (SELECT cn.a, cn.b, cn.cn FROM cn
       |  ANTI JOIN e ON e.u = cn.a AND e.v = cn.b),
       |j AS (SELECT c.a, c.b, c.cn, da.dg + db.dg - c.cn AS un
       |  FROM cand c JOIN deg da ON da.x = c.a JOIN deg db ON db.x = c.b)
       |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |  CAST(cn AS BIGINT) AS cn, CAST(un AS BIGINT) AS un,
       |  CAST(cn * 1000000 // un AS BIGINT) AS jac_ppm
       |FROM j ORDER BY jac_ppm DESC, a, b LIMIT 100""".stripMargin) { (s, dir) =>
    val e = graft.Scratch.track(coPurchaseEdges(s, dir))
    val sym = graft.Scratch.track(
      e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y"))))
    val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("dg"))
    val cn = sym.as("s1")
      .join(sym.as("s2"),
        col("s2.x") === col("s1.x") && col("s1.y") < col("s2.y"))
      .select(col("s1.y").as("a"), col("s2.y").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    val cand = cn.join(e,
      e("u") === cn("a") && e("v") === cn("b"), "left_anti")
    cand
      .join(deg.select(col("x").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("x").as("b"), col("dg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        (col("da") + col("db") - col("cn")).as("un"))
      .withColumn("jac_ppm", expr("cn * 1000000 div un"))
      .orderBy(col("jac_ppm").desc, col("a"), col("b")).limit(100)
  }

  val all: Seq[Q] = Seq(pagerank, pagerankBig, triangles, trianglesBig,
    kcore, components, bipartiteDegree, bfs, closeness, lpa, jaccard)
}
