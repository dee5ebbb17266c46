package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, BindReferences,
  Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** The engine's one WHOLE-OPERATOR Catalyst extension (the brief's option
  * (c): custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, registered
  * via `SparkSessionExtensions`): a native sort-merge AS-OF join.
  *
  * Spark's join set has no as-of; [[graft.operators.AsofJoin.asof]]
  * COMPOSES one (union + running-`last` window) and that remains the
  * "compose existing ops" reference implementation. This node is the
  * engine-grade alternative: both sides hash-clustered on the key and
  * sorted by (key, time) — requirements DECLARED to the planner, so
  * EnsureRequirements/AQE place (and validate) the exchanges exactly as
  * they do for SortMergeJoin — then ONE streaming merge pass per
  * partition emits every left row with the payload of the latest right
  * row at-or-before its time. No union materialization, no window state
  * beyond a single buffered payload value, zipPartitions on
  * co-partitioned children (SortMergeJoinExec's own execution shape).
  *
  * Determinism contract: among right rows tying on (key, time) the LAST
  * in sort order wins, so the payload must be functionally dependent on
  * (key, time) for a deterministic result — the registered query's
  * payload (the order DATE, which the time is derived from) satisfies it,
  * the same contract the composed form documents.
  */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    payload: Expression,
    matched: AttributeReference)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ matched

  override def producedAttributes: AttributeSet = AttributeSet(matched)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsofJoinNode {

  /** Public construction surface: an as-of LEFT join of `left` to the
    * latest `right` row per `key` with `rightTime <= leftTime`, emitting
    * `left.*` plus `payload AS as`. Attributes resolve by NAME against the
    * analyzed children — the helper is called on finished frames, exactly
    * like a join API.
    */
  def asofJoin(left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String,
      payload: String, as: String): DataFrame = {
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    // The exec builds its key/time orderings from the LEFT types and applies
    // them to right-side values — require the pairs to agree at construction
    // rather than ClassCastException at runtime.
    def sameType(what: String, a: Attribute, b: Attribute): Unit =
      require(a.dataType == b.dataType,
        s"asofJoin: $what types differ — left ${a.name}: ${a.dataType}, " +
          s"right ${b.name}: ${b.dataType}")
    // Self-joins (or shared lineage) would put duplicate exprIds across the
    // two children; re-project the right side through fresh Aliases (new
    // exprIds) so attribute binding stays unambiguous — the same dedup
    // Dataset.join performs.
    val lp0 = left.queryExecution.analyzed
    val rp0 = {
      val lIds = lp0.outputSet
      if (right.queryExecution.analyzed.output.exists(lIds.contains)) {
        import org.apache.spark.sql.functions.col
        right.select(right.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
          .queryExecution.analyzed
      } else right.queryExecution.analyzed
    }
    val lKeyA = attr(lp0, leftKey); val rKeyA = attr(rp0, rightKey)
    val lTimeA = attr(lp0, leftTime); val rTimeA = attr(rp0, rightTime)
    sameType("key", lKeyA, rKeyA)
    sameType("time", lTimeA, rTimeA)
    val pay = attr(rp0, payload)
    val node = AsofJoinNode(lp0, rp0,
      lKeyA, lTimeA, rKeyA, rTimeA,
      pay, AttributeReference(as, pay.dataType, nullable = true)())
    org.apache.spark.sql.graft.GraftInternal.ofRows(left.sparkSession, node)
  }
}

/** Plans [[AsofJoinNode]] as [[AsofJoinExec]]; injected session-wide by
  * [[GraftSparkExtensions]].
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.leftTime, n.rightKey, n.rightTime, n.payload,
        n.matched) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge join. Children arrive hash-clustered on the key
  * and sorted by (key, time) — declared below, enforced by
  * EnsureRequirements and re-validated by AQE after partition coalescing,
  * the identical machinery SortMergeJoinExec rides. Each partition is one
  * forward merge: the right iterator is consumed AT MOST ONCE, and the
  * only state is the latest payload value for the key currently being
  * merged (copied out of the row buffer — UnsafeRow iterators reuse
  * backing memory).
  */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    payload: Expression,
    matched: AttributeReference)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ matched

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  // the merge emits left rows unchanged and in order
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rPay = BindReferences.bindReference(payload, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val outputAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val joined = new JoinedRow
      val payRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      new Iterator[InternalRow] {
        // the un-consumed head of the right side, pre-evaluated to values
        private var rLive = false
        private var rK: Any = null
        private var rT: Any = null
        private var rP: Any = null
        private def advanceRight(): Unit = {
          rLive = false
          while (!rLive && ri.hasNext) {
            val r = ri.next()
            val k = rKey.eval(r)
            val t = rTime.eval(r)
            // null right keys/times can never match (join semantics): skip
            if (k != null && t != null) {
              // COPY everything buffered across advanceRight(): the
              // UnsafeRow iterator reuses its backing memory, so an
              // uncopied UTF8String key would be silently overwritten.
              rK = InternalRow.copyValue(k)
              rT = InternalRow.copyValue(t)
              rP = InternalRow.copyValue(rPay.eval(r))
              rLive = true
            }
          }
        }
        advanceRight()
        // latest payload seen for the key currently being merged
        private var curKey: Any = null
        private var curPay: Any = null
        override def hasNext: Boolean = li.hasNext
        override def next(): InternalRow = {
          val l = li.next()
          val lK = lKey.eval(l)
          var out: Any = null
          val lT = if (lK != null) lTime.eval(l) else null
          // a null left time never matches (SQL comparison semantics):
          // skip the merge loop entirely and emit the unmatched row
          if (lK != null && lT != null) {
            // consume right rows that can no longer matter to any FUTURE
            // left row (left is sorted: future keys >= lK, future times of
            // the same key >= lT)
            var continue = rLive
            while (continue) {
              val kc = keyOrd.compare(rK, lK)
              if (kc < 0) {
                // right key already passed by the left cursor: drop
                advanceRight()
                continue = rLive
              } else if (kc == 0 && timeOrd.compare(rT, lT) <= 0) {
                curKey = rK
                curPay = rP
                advanceRight()
                continue = rLive
              } else {
                continue = false
              }
            }
            if (curKey != null && keyOrd.compare(curKey, lK) == 0) out = curPay
          }
          payRow.update(0, out)
          numOutputRows += 1
          resultProj(joined(l, payRow))
        }
      }
    }
  }
}
