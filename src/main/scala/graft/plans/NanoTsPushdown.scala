package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Predicate pushdown for nanosecond-long event timestamps.
  *
  * `events.ts` arrives as a nanosecond INT64 (TIMESTAMP(NANOS) parquet,
  * read via nanosAsLong) and is normalized to a µs TimestampType with
  * `timestamp_micros(ts div 1000)`. Any comparison against that
  * expression is opaque to the parquet datasource — the scan gets only
  * `IsNotNull(ts)` and a 100 TB time-travel query degenerates to a full
  * scan. This rule rewrites, in the long domain (floor-division
  * algebra, so exact for the full int64 range ≥ 0):
  *
  *   timestamp_micros(ts div 1000) <= T  ==>  ts <= T_us*1000 + 999
  *   timestamp_micros(ts div 1000) <  T  ==>  ts <  T_us*1000
  *   timestamp_micros(ts div 1000) >= T  ==>  ts >= T_us*1000
  *   timestamp_micros(ts div 1000) >  T  ==>  ts >  T_us*1000 + 999
  *
  * after which the comparison sits directly on the scanned column and
  * reaches the reader as a pushed filter (row-group / partition
  * pruning). The reference gets the same effect from its B-tree index
  * on (record_id, timestamp) (reference app/models.py:22); this is the
  * columnar-scan equivalent.
  */
object NanoTsPushdown extends Rule[LogicalPlan] {

  /** Matches timestamp_micros(<expr> div 1000) and yields <expr>. */
  private object NanosToTs {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(d: IntegralDivide)
          if d.right.foldable && d.right.dataType == LongType &&
            d.right.eval() == 1000L && d.left.dataType == LongType =>
        Some(d.left)
      case _ => None
    }
  }

  /** Timestamp literal as epoch micros. */
  private object TsLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(us: Long, TimestampType) => Some(us)
      case _ => None
    }
  }

  // Safe only when T_us*1000 (+999) cannot overflow; modern timestamps
  // are ~1.7e15 µs, far from Long.MaxValue/1000.
  private def nanosOf(us: Long): Option[Long] =
    if (us >= 0 && us < Long.MaxValue / 1000 - 1) Some(us * 1000L) else None

  /** Matches cast(<ntz expr> AS TIMESTAMP) under a FIXED-OFFSET session
    * zone (UTC in every graft session) and yields (<ntz expr>, zone).
    * The newer driver testdata ships events.ts as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) = TIMESTAMP_NTZ; Tables.events normalizes
    * with this cast, which — like the nanos wrapper — otherwise hides
    * every ts comparison from the parquet scan. Under a fixed offset
    * the cast is a bijection (strictly monotone), so comparisons move
    * onto the raw column with the literal shifted by the offset; zones
    * with DST are left untouched (the cast is not monotone across a
    * backward transition). */
  private object NtzToTs {
    def unapply(e: Expression): Option[(Expression, java.time.ZoneId)] = e match {
      case c @ Cast(child, TimestampType, _, _) if child.dataType == TimestampNTZType =>
        c.timeZoneId.map(java.time.ZoneId.of)
          .filter(_.getRules.isFixedOffset).map(z => (child, z))
      case _ => None
    }
  }

  /** LTZ epoch-micros literal → NTZ micros literal in fixed-offset zone. */
  private def ntzLit(us: Long, zone: java.time.ZoneId): Literal = {
    val offUs = zone.getRules
      .getOffset(java.time.Instant.ofEpochSecond(0)).getTotalSeconds * 1000000L
    Literal(us + offUs, TimestampNTZType)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(NanosToTs(ts), TsLit(us)) if nanosOf(us).isDefined =>
      LessThanOrEqual(ts, Literal(nanosOf(us).get + 999L, LongType))
    case LessThan(NanosToTs(ts), TsLit(us)) if nanosOf(us).isDefined =>
      LessThan(ts, Literal(nanosOf(us).get, LongType))
    case GreaterThanOrEqual(NanosToTs(ts), TsLit(us)) if nanosOf(us).isDefined =>
      GreaterThanOrEqual(ts, Literal(nanosOf(us).get, LongType))
    case GreaterThan(NanosToTs(ts), TsLit(us)) if nanosOf(us).isDefined =>
      GreaterThan(ts, Literal(nanosOf(us).get + 999L, LongType))
    // mirrored literal-first forms
    case GreaterThanOrEqual(TsLit(us), NanosToTs(ts)) if nanosOf(us).isDefined =>
      GreaterThanOrEqual(Literal(nanosOf(us).get + 999L, LongType), ts)
    case GreaterThan(TsLit(us), NanosToTs(ts)) if nanosOf(us).isDefined =>
      GreaterThan(Literal(nanosOf(us).get, LongType), ts)
    case LessThanOrEqual(TsLit(us), NanosToTs(ts)) if nanosOf(us).isDefined =>
      LessThanOrEqual(Literal(nanosOf(us).get, LongType), ts)
    case LessThan(TsLit(us), NanosToTs(ts)) if nanosOf(us).isDefined =>
      LessThan(Literal(nanosOf(us).get + 999L, LongType), ts)
    // TIMESTAMP_NTZ column cast to TIMESTAMP, compared to a literal:
    // the fixed-offset cast is monotone, so the comparison operator is
    // preserved and only the literal moves into the NTZ domain.
    case cmp: BinaryComparison => (cmp.left, cmp.right) match {
      case (NtzToTs(ts, zone), TsLit(us)) =>
        cmp.withNewChildren(Seq(ts, ntzLit(us, zone)))
      case (TsLit(us), NtzToTs(ts, zone)) =>
        cmp.withNewChildren(Seq(ntzLit(us, zone), ts))
      case _ => cmp
    }
  }
}

/** Session extensions: every graft session registers them through
  * [[graft.Session.local]].
  * Installs the pushdown rule and exposes the native expressions to
  * SQL as `word_shingles(text, n)` and `cosine_sim(a, b)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.functions.expressions.{CosineSim, Md5Prefix60, WordShingles}

  def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => NanoTsPushdown)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectFunction((
      FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      (args: Seq[Expression]) => args match {
        case Seq(x) => Md5Prefix60(x)
        case _ => throw new IllegalArgumentException(
          "md5_prefix60(x) expects one string column")
      }))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text, Literal(n: Int, _)) => WordShingles(text, n)
        case _ => throw new IllegalArgumentException(
          "word_shingles(text, n) expects a string column and an int literal")
      }))
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => CosineSim(a, b)
        case _ => throw new IllegalArgumentException(
          "cosine_sim(a, b) expects two array columns")
      }))
  }
}
