package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: rewrite comparisons on a µs-truncated ns timestamp into
  * comparisons on the RAW int64-nanos column, so they become
  * data-source-pushable parquet filters.
  *
  * The events table is stored with ns timestamps that Spark 4 can only
  * read as raw longs (SURVEY §7 H1); `Tables.load` converts with
  * `timestamp_micros(ts div 1000)`. A user predicate
  * `converted_ts >= T` then reaches the scan as
  * `MicrosToTimestamp(IntegralDivide(ts, 1000)) >= lit` — not a bare
  * attribute, so the parquet source cannot push it and every row is
  * decoded. This rule replaces the truncation arithmetic with the exact
  * raw-range equivalent (for n = raw nanos, t = literal micros ≥ 0):
  *
  *   trunc(n/1000) >= t  ⇔  n >= 1000t
  *   trunc(n/1000) >  t  ⇔  n >  1000t + 999
  *   trunc(n/1000) <= t  ⇔  n <= 1000t + 999
  *   trunc(n/1000) <  t  ⇔  n <  1000t
  *   trunc(n/1000) =  t  ⇔  n ∈ [1000t, 1000t + 999]
  *
  * Guard: literals must be ≥ 0 (for negative nanos `div` truncates toward
  * zero, not floor, and the equivalences above would be wrong). This is
  * the engine form of the reference's server-side `AT_TIMESTAMP` offset
  * (reference `main.go:300-305`) made automatic for every query.
  */
object NsTimestampPushdown extends Rule[LogicalPlan] {

  private object ConvertedTs {
    /** Matches timestamp_micros(raw div 1000) and returns `raw`. */
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(IntegralDivide(raw, Literal(1000L, LongType), _))
          if raw.dataType == LongType => Some(raw)
      case _ => None
    }
  }

  private object MicrosLit {
    /** Matches a non-negative timestamp literal, as epoch micros. */
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) if v >= 0 => Some(v)
      case _ => None
    }
  }

  private def ns(v: Long): Literal = Literal(v, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case GreaterThanOrEqual(ConvertedTs(raw), MicrosLit(t)) =>
        GreaterThanOrEqual(raw, ns(1000L * t))
      case GreaterThan(ConvertedTs(raw), MicrosLit(t)) =>
        GreaterThan(raw, ns(1000L * t + 999L))
      case LessThanOrEqual(ConvertedTs(raw), MicrosLit(t)) =>
        LessThanOrEqual(raw, ns(1000L * t + 999L))
      case LessThan(ConvertedTs(raw), MicrosLit(t)) =>
        LessThan(raw, ns(1000L * t))
      case EqualTo(ConvertedTs(raw), MicrosLit(t)) =>
        And(GreaterThanOrEqual(raw, ns(1000L * t)),
          LessThanOrEqual(raw, ns(1000L * t + 999L)))
      case EqualTo(MicrosLit(t), ConvertedTs(raw)) =>
        And(GreaterThanOrEqual(raw, ns(1000L * t)),
          LessThanOrEqual(raw, ns(1000L * t + 999L)))
      // Catalyst adds IsNotNull(converted) to every filter on the column;
      // timestamp_micros never nulls a non-null long, so the check moves
      // to the raw attribute and becomes pushable too.
      case IsNotNull(ConvertedTs(raw)) => IsNotNull(raw)
      // Mirrored literal-first forms.
      case LessThanOrEqual(MicrosLit(t), ConvertedTs(raw)) =>
        GreaterThanOrEqual(raw, ns(1000L * t))
      case LessThan(MicrosLit(t), ConvertedTs(raw)) =>
        GreaterThan(raw, ns(1000L * t + 999L))
      case GreaterThanOrEqual(MicrosLit(t), ConvertedTs(raw)) =>
        LessThanOrEqual(raw, ns(1000L * t + 999L))
      case GreaterThan(MicrosLit(t), ConvertedTs(raw)) =>
        LessThan(raw, ns(1000L * t))
    }
}

/** `spark.sql.extensions` entry point registering the engine's rules and
  * native functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NsTimestampPushdown)
    ext.injectFunction(graft.functions.DotProduct.description)
    ext.injectFunction(graft.functions.SortedIntersectCount.description)
    ext.injectFunction(graft.functions.PolyFingerprint.description)
    ext.injectFunction(graft.functions.AsciiSanitize.description)
    ext.injectFunction(graft.functions.GoTimeString.description)
    // Spark ships BloomFilterAggregate/BloomFilterMightContain as
    // internal expressions (used by its own runtime-filter rule) without
    // public SQL registration; expose them for the i68 prescreen join.
    ext.injectFunction(GraftExtensions.bloomAggDescription)
    ext.injectFunction(GraftExtensions.mightContainDescription)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, BloomFilterMightContain}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  val bloomAggDescription: (FunctionIdentifier,
      ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_agg"),
    new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
    (children: Seq[Expression]) => children match {
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
      case Seq(c) => new BloomFilterAggregate(c)
      case cs => throw new IllegalArgumentException(
        s"graft_bloom_agg takes 1 or 3 arguments, got ${cs.length}")
    }
  )

  val mightContainDescription: (FunctionIdentifier,
      ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName,
      "graft_might_contain"),
    (children: Seq[Expression]) => children match {
      case Seq(bf, v) => BloomFilterMightContain(bf, v)
      case cs => throw new IllegalArgumentException(
        s"graft_might_contain takes exactly 2 arguments, got ${cs.length}")
    }
  )
}
