package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DayTimeIntervalType, LongType, TimestampType}

/** Catalyst optimizer rule: plan time-proximity joins as banded equi-joins.
  *
  * Two join shapes hide a time-band equi-key that Spark's join selection
  * cannot see, and this rule surfaces it on the LOGICAL plan so users write
  * the natural inequality and the engine picks the scalable layout:
  *
  * 1. **Keyless proximity** — `abs(l.t - r.t) <= W` on long columns with
  *    no cross-side equi-conjunct. Join selection has nothing to hash or
  *    sort on and falls back to BroadcastNestedLoopJoin: O(|L|·|R|)
  *    comparisons regardless of cluster size. Quantizing time into
  *    width-W bands turns it into a shuffled hash join (≤3 probe bands
  *    per row).
  *
  * 2. **Keyed interval window** — `r.t ∈ [l.t + lo, l.t + hi]` (one-sided
  *    bounds spelled as two comparison conjuncts, on long OR timestamp
  *    columns) RIDING ON equi keys, the attribution-join shape:
  *    `user_id = p_user_id AND purchase_ts >= click_ts AND purchase_ts <=
  *    click_ts + INTERVAL 10 MINUTES`. Spark plans the equi keys as a
  *    hash/sort-merge join with the bounds as a residual — fine until the
  *    per-key history grows: a sort-merge inner join scans each key
  *    group's full cross product, O(clicks·purchases) PER KEY, which is
  *    quadratic in retention length for an append-forever event log (the
  *    ×10→×100 scale smoke measured 15.5× growth for 10× data on exactly
  *    this query). APPENDING a width-(hi−lo) band key to the equi keys
  *    bounds each scanned group by the window's row density instead —
  *    cost: ≤2 probe rows per input row; benefit: per-key work linear in
  *    history. The equi keys stay in the join, so the plan remains a
  *    hash/sort-merge join — just on (keys…, band) instead of (keys…).
  *
  *   Join(L, R, bound ∧ rest)
  *     ⇒ Project(origOutput,
  *         Join(Generate(explode(sequence(⌊(xt+lo)/W⌋, ⌊(xt+hi)/W⌋)), X),
  *              Project(Y.* :+ ⌊yt/W⌋ as band, Y),
  *              band_probe = band ∧ bound ∧ rest))
  *
  * Correctness: floor-division is monotone, so yt ∈ [xt+lo, xt+hi] implies
  * ⌊yt/W⌋ ∈ [⌊(xt+lo)/W⌋, ⌊(xt+hi)/W⌋] — every qualifying pair survives,
  * the re-applied original bound discards band-mates outside the interval,
  * and each pair appears exactly once (the build side has ONE band per
  * row). Strict (`<`/`>`) bounds participate relaxed to their inclusive
  * form — a superset of bands is correct for the same reason. NULL times
  * drop on both paths (null condition in the original join; null band key
  * / exploded-null sequence here). Timestamps band on their physical
  * epoch-microsecond longs (`UnixMicros`); `DayTimeIntervalType` offsets
  * are already microsecond longs, so both domains share one arithmetic.
  *
  * Scope: INNER joins on non-streaming children only. Outer joins would
  * need probe-side dedup of unmatched rows; streaming joins must keep the
  * exact watermark-analyzable condition shape Spark's state eviction
  * planner recognizes, so the streaming twin of an attribution join is
  * left untouched (its state is bounded by watermarks instead). The
  * abs-form keeps its no-equi-key guard: an abs window WITH equi keys is
  * `range_join`'s shape, already measured linear at ×100, and re-banding
  * it would churn an established plan for no demonstrated win. The rule
  * is idempotent under the optimizer's fixed-point re-runs: the abs path
  * exits via its no-equi-key guard (the rewrite adds a cross equality),
  * and the interval path — whose bounds survive as their own residual —
  * exits via the minted `__band_probe` equality marker.
  *
  * Known limitation (like every banded join): the rewrite assumes the
  * window ≪ the column's value range. A window on the order of the whole
  * data span lands every row in ~one band, degrading to a single hot key —
  * worse than the nested loop when one side was broadcast-small. Column
  * ranges aren't available at optimization time without CBO histograms,
  * so the rule cannot self-disable; opt out for such a query with
  * spark.sql.optimizer.excludedRules=graft.plans.BandedIntervalJoin.
  * The same rewrite is available as a manual composition in
  * `graft.operators.AsofJoin.bandJoin`.
  */
object BandedIntervalJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** abs(x - y) <= w  |  w >= abs(x - y), with long-typed operands. */
  private object ProximityBound {
    def unapply(e: Expression): Option[(Expression, Expression, Long)] = e match {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), Literal(w: Long, LongType))
          if w > 0 && x.dataType == LongType && y.dataType == LongType =>
        Some((x, y, w))
      case GreaterThanOrEqual(Literal(w: Long, LongType), Abs(Subtract(x, y, _), _))
          if w > 0 && x.dataType == LongType && y.dataType == LongType =>
        Some((x, y, w))
      case _ => None
    }
  }

  private def fromSide(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  private def crossEqui(conjuncts: Seq[Expression], l: LogicalPlan,
      r: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (fromSide(a, l) && fromSide(b, r)) || (fromSide(a, r) && fromSide(b, l))
      case EqualNullSafe(a, b) =>
        (fromSide(a, l) && fromSide(b, r)) || (fromSide(a, r) && fromSide(b, l))
      case _ => false
    }

  /** Split `base + literal-offset` into (base, offset-in-long-domain):
    * a timestamp shifted by a day-time interval literal (offsets are
    * physical microseconds) or a long shifted by a long literal. Any other
    * expression is its own base with offset 0. `Long.MinValue` offsets are
    * left unsplit — their negation overflows.
    */
  private def shifted(e: Expression): (Expression, Long) = e match {
    case TimestampAddInterval(b, Literal(v: Long, _: DayTimeIntervalType), _) =>
      (b, v)
    case Add(b, Literal(c: Long, LongType), _) => (b, c)
    case Add(Literal(c: Long, LongType), b, _) => (b, c)
    case Subtract(b, Literal(c: Long, LongType), _) if c != Long.MinValue =>
      (b, -c)
    case _ => (e, 0L)
  }

  /** Both operands live in the same long-band domain: raw longs, or
    * timestamps (banded on epoch micros).
    */
  private def compatible(a: Expression, b: Expression): Boolean =
    (a.dataType, b.dataType) match {
      case (LongType, LongType) => true
      case (TimestampType, TimestampType) => true
      case _ => false
    }

  /** Normalize one comparison conjunct to canonical upper bounds
    * `u − v ≤ δ` (strict forms relaxed — the original conjunct re-applies
    * as the residual). Offsets that fall outside the long range are
    * dropped, not clamped: a wrong δ would band incorrectly.
    */
  private def upperBounds(c: Expression): Seq[(Expression, Expression, Long)] = {
    def mk(a: Expression, b: Expression): Seq[(Expression, Expression, Long)] = {
      val (ab, ao) = shifted(a)
      val (bb, bo) = shifted(b)
      val d = BigInt(bo) - BigInt(ao)
      if (compatible(ab, bb) && d.isValidLong && ab.deterministic &&
        bb.deterministic) Seq((ab, bb, d.toLong))
      else Nil
    }
    c match {
      case LessThanOrEqual(a, b) => mk(a, b)
      case LessThan(a, b) => mk(a, b)
      case GreaterThanOrEqual(a, b) => mk(b, a)
      case GreaterThan(a, b) => mk(b, a)
      case _ => Nil
    }
  }

  /** Find a finite cross-side window: bases (y, x) with `y − x ∈ [lo, hi]`
    * assembled from one upper bound on y − x and one on x − y. Returns
    * (xProbe, yBuild, lo, hi) with x and y on opposite sides.
    */
  private def intervalWindow(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Long, Long)] = {
    val ups = conjuncts.flatMap(upperBounds).filter { case (u, v, _) =>
      (fromSide(u, left) && fromSide(v, right)) ||
        (fromSide(u, right) && fromSide(v, left))
    }
    // second bound must be the OPPOSITE orientation on the same bases:
    // (y,x,hi) says y−x ≤ hi; (u2,v2,negLo) with u2≃x, v2≃y says
    // x−y ≤ negLo, i.e. y−x ≥ −negLo. Requiring u2≃x (not ≃y) is what
    // stops a lone one-sided bound from pairing with itself into a bogus
    // width-0 window.
    val found = for {
      (y, x, hi) <- ups.view
      (u2, v2, negLo) <- ups
      if u2.semanticEquals(x) && v2.semanticEquals(y)
      // finite, non-empty window whose width fits a long
      if BigInt(hi) + BigInt(negLo) >= 0
      if (BigInt(hi) + BigInt(negLo)).isValidLong
      if negLo != Long.MinValue
    } yield (x, y, -negLo, hi)
    found.headOption
  }

  /** The interval bounds survive as the residual of their own rewrite, so
    * unlike the abs path (whose no-equi-key guard doubles as its
    * fixed-point exit) the interval path needs an explicit marker: a
    * rewritten join's condition carries the minted `__band_probe`
    * equality. User columns can't collide — the attribute is created
    * here, never resolved from a child schema.
    */
  private def alreadyBanded(conjuncts: Seq[Expression]): Boolean =
    conjuncts.exists {
      case EqualTo(a: AttributeReference, _) if a.name == "__band_probe" => true
      case EqualTo(_, a: AttributeReference) if a.name == "__band_probe" => true
      case _ => false
    }

  /** ⌊e/w⌋ as exact integer floor division (sign-correct for negatives).
    *
    * Built WITHOUT a subtract: the naive `(e - pmod(e, w)) div w` wraps
    * below Long.MinValue (or throws under ANSI) for e within w of the long
    * range floor, because pmod is positive there — exactly the sentinel
    * values the band rewrite must survive. `e div w` truncates toward
    * zero, so floor = trunc − 1 when the remainder is negative; neither
    * intermediate can overflow for w > 0 (div shrinks magnitude, and the
    * −1 correction only applies when |div| < |e|).
    */
  private def floorDiv(e: Expression, w: Long): Expression = {
    val lw = Literal(w, LongType)
    Add(
      IntegralDivide(e, lw),
      If(LessThan(Remainder(e, lw), Literal(0L, LongType)),
        Literal(-1L, LongType), Literal(0L, LongType)))
  }

  /** `e + c` with e clamped so the add cannot wrap — clamping only WIDENS
    * the probe range for rows near the long-range edges (a superset of
    * bands is correct; the original bound re-applies as the residual).
    *
    * The clamp is an `If`, NOT `Least`/`Greatest`: those skip NULL inputs
    * (they return the non-null extreme), so a NULL time would clamp to the
    * long-range edge constant and the probe Sequence would try to explode
    * ~2^64/w bands — a runtime crash on exactly the rows that must simply
    * not join. `If`'s predicate is NULL for NULL e, which falls to the
    * else branch and keeps e — NULL propagates through the shift, the
    * floorDiv, and Sequence (null-explodes to no rows), dropping the row
    * like the original join condition did.
    */
  private def safeShift(e: Expression, c: Long): Expression =
    if (c == 0L) e
    else if (c > 0L) {
      val cap = Literal(Long.MaxValue - c, LongType)
      Add(If(GreaterThan(e, cap), cap, e), Literal(c, LongType))
    } else {
      val floor = Literal(Long.MinValue - c, LongType)
      Add(If(LessThan(e, floor), floor, e), Literal(c, LongType))
    }

  /** The probe/build expressions in the shared long band domain. */
  private def toLong(e: Expression): Expression = e.dataType match {
    case TimestampType => UnixMicros(e)
    case _ => e
  }

  /** Rewrite `j` so the build side carries ⌊yt/w⌋ and the probe side
    * explodes the bands overlapping [xt+lo, xt+hi]; the original condition
    * rides along as the residual. `probeIsLeft` keeps the children in
    * their original join positions.
    */
  private def rewriteBanded(j: Join, xt: Expression, yt: Expression,
      lo: Long, hi: Long, w: Long, probeIsLeft: Boolean): LogicalPlan = {
    val Join(left, right, _, Some(cond), hint) = j: @unchecked
    val probeChild = if (probeIsLeft) left else right
    val buildChild = if (probeIsLeft) right else left
    // Sequence is TimeZoneAwareExpression: without a timezone it reports
    // unresolved and the optimizer's plan-integrity check rejects the
    // rewrite (the tz is irrelevant for long sequences but required for
    // resolution)
    val xl = toLong(xt)
    val probeBands = Explode(Sequence(
      floorDiv(safeShift(xl, lo), w),
      floorDiv(safeShift(xl, hi), w),
      Some(Literal(1L, LongType)), Some(conf.sessionLocalTimeZone)))
    val elem = probeBands.elementSchema.head
    val bandProbe =
      AttributeReference("__band_probe", elem.dataType, elem.nullable)()
    val probed = Generate(probeBands, unrequiredChildIndex = Nil,
      outer = false, qualifier = None,
      generatorOutput = Seq(bandProbe), child = probeChild)
    val bandKey = Alias(floorDiv(toLong(yt), w), "__band_key")()
    val keyed = Project(buildChild.output :+ bandKey, buildChild)
    val (newLeft, newRight) = if (probeIsLeft) (probed, keyed) else (keyed, probed)
    val banded = Join(newLeft, newRight, Inner,
      Some(And(EqualTo(bandProbe, bandKey.toAttribute), cond)), hint)
    Project(j.output, banded)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(left, right, Inner, Some(cond), _)
        if !left.isStreaming && !right.isStreaming =>
      val conjuncts = splitConjunctivePredicates(cond)
      val absBound = conjuncts.collectFirst {
        case ProximityBound(x, y, w)
            if (fromSide(x, left) && fromSide(y, right)) ||
              (fromSide(x, right) && fromSide(y, left)) =>
          if (fromSide(x, left)) (x, y, w) else (y, x, w)
      }
      absBound match {
        case Some((lt, rt, w)) if !crossEqui(conjuncts, left, right) =>
          // keyless proximity: band width w, ≤3 probe bands per row
          rewriteBanded(j, lt, rt, -w, w, w, probeIsLeft = true)
        case _ if alreadyBanded(conjuncts) => j
        case _ =>
          intervalWindow(conjuncts, left, right) match {
            case Some((x, y, lo, hi)) =>
              // keyed (or keyless) one-sided window: band width = window
              // width (≤2 probe bands); width-0 windows (pure shifted
              // equality) band at width 1 (1 band)
              val w = math.max(hi - lo, 1L)
              rewriteBanded(j, x, y, lo, hi, w,
                probeIsLeft = fromSide(x, left))
            case None => j
          }
      }
  }
}
