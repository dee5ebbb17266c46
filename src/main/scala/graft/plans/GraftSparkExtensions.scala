package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, IntegerType, TimestampType}

import graft.functions.{BloomMightContainStr, BpeTokenCount, CentroidSims, HyperplaneBuckets, PqAdc, PqCodes, PqDtab, ProbeBucket, RaceTimeFormat, RaceTimeSeconds, RaceTimeStr, RandomSignProject}

/** Catalyst optimizer rule: rewrite `year(col) <cmp> <int literal>` filters
  * into sargable range predicates on the underlying date/timestamp column.
  *
  * `year()` wraps the column in a function, so the comparison can never
  * reach the parquet scan as a pushed filter — the scan reads every
  * row-group and the filter runs post-scan. The equivalent range predicate
  * (`year(d) >= 1998` ⇔ `d >= DATE'1998-01-01'`; year is monotonic in the
  * date) is pushable, which at 100 TB turns a full scan into row-group /
  * partition skipping. The reference's weather query (`finalversion:363`)
  * writes exactly this shape.
  *
  * Conservative scope: integer literals only, `year` over a plain
  * date/timestamp column (possibly behind the analyzer-inserted cast), the
  * five comparison shapes, both operand orders. Null semantics are
  * preserved (both forms are null iff the column is null).
  */
object SargableYearFilter extends Rule[LogicalPlan] {

  /** year(...) over a date column or an analyzer-cast timestamp column. */
  private object YearOf {
    def unapply(e: Expression): Option[(Expression, Boolean)] = e match {
      case Year(Cast(a, DateType, _, _)) if a.dataType == TimestampType =>
        Some((a, true))
      case Year(a) if a.dataType == DateType => Some((a, false))
      case _ => None
    }
  }

  /** Integer literal within a safely-rewritable year range: both y and y+1
    * must be representable as dates/parseable timestamps. Out-of-range
    * years (year(d) > 2_000_000_000, negative years) simply keep the
    * original predicate — correct, just not pushed.
    */
  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) if v >= 1 && v < 9998 => Some(v)
      case _ => None
    }
  }

  /** First instant of `year`, typed to match the column side. */
  private def startOf(year: Int, isTs: Boolean): Expression =
    if (isTs)
      Cast(Literal(f"$year%04d-01-01"), TimestampType, Some(conf.sessionLocalTimeZone))
    else
      Literal(java.time.LocalDate.of(year, 1, 1).toEpochDay.toInt, DateType)

  private def ge(a: Expression, isTs: Boolean, y: Int) =
    GreaterThanOrEqual(a, startOf(y, isTs))
  private def lt(a: Expression, isTs: Boolean, y: Int) =
    LessThan(a, startOf(y, isTs))

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformAllExpressions {
    case GreaterThanOrEqual(YearOf(a, ts), IntLit(y)) => ge(a, ts, y)
    case GreaterThan(YearOf(a, ts), IntLit(y)) => ge(a, ts, y + 1)
    case LessThanOrEqual(YearOf(a, ts), IntLit(y)) => lt(a, ts, y + 1)
    case LessThan(YearOf(a, ts), IntLit(y)) => lt(a, ts, y)
    case EqualTo(YearOf(a, ts), IntLit(y)) => And(ge(a, ts, y), lt(a, ts, y + 1))
    // reversed operand order: lit <cmp> year(col)
    case GreaterThanOrEqual(IntLit(y), YearOf(a, ts)) => lt(a, ts, y + 1)
    case GreaterThan(IntLit(y), YearOf(a, ts)) => lt(a, ts, y)
    case LessThanOrEqual(IntLit(y), YearOf(a, ts)) => ge(a, ts, y)
    case LessThan(IntLit(y), YearOf(a, ts)) => ge(a, ts, y + 1)
    case EqualTo(IntLit(y), YearOf(a, ts)) => And(ge(a, ts, y), lt(a, ts, y + 1))
  }
}

/** Session-wide wiring (`spark.sql.extensions=graft.plans.GraftSparkExtensions`):
  * the sargable-year optimizer rule plus the engine's native expressions as
  * SQL functions — no per-query registration needed.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      (exprs: Seq[Expression]) => builder(exprs))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SargableYearFilter)
    e.injectOptimizerRule(_ => BandedIntervalJoin)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    e.injectFunction(fn("race_time_seconds", xs => RaceTimeSeconds(xs.head)))
    e.injectFunction(fn("race_time_format", xs => RaceTimeFormat(xs.head)))
    e.injectFunction(fn("race_time_str", xs => RaceTimeStr(xs(0), xs(1), xs(2))))
    e.injectFunction(fn("hyperplane_buckets", xs => HyperplaneBuckets(xs.head)))
    e.injectFunction(fn("centroid_sims", xs => CentroidSims(xs(0), xs(1))))
    e.injectFunction(fn("random_project", xs => RandomSignProject(xs.head)))
    e.injectFunction(fn("probe_bucket", xs => ProbeBucket(xs.head)))
    e.injectFunction(fn("might_contain_bloom", xs => BloomMightContainStr(xs(0), xs(1))))
    e.injectFunction(fn("bpe_token_count", xs => BpeTokenCount(xs.head)))
    e.injectFunction(fn("pq_codes", xs => PqCodes(xs(0), xs(1))))
    e.injectFunction(fn("pq_dtab", xs => PqDtab(xs(0), xs(1))))
    e.injectFunction(fn("pq_adc", xs => PqAdc(xs(0), xs(1))))
  }
}
