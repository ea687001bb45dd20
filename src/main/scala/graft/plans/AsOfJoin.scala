package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native AS-OF join — the whole-operator Catalyst path (custom
  * LogicalPlan + Strategy + SparkPlan) for the temporal primitive the
  * built-ins lack: for each left row, attach the latest right row with
  * the same key and right.ts <= left.ts.
  *
  * Physical semantics: both sides hash-partition on the key (ONE
  * exchange each, inserted by EnsureRequirements) and sort by
  * (key, ts, tie); the exec merges the two sorted streams per
  * partition in a single linear pass, carrying only the last matching
  * right row — O(1) state, no window buffering, no union detour. This
  * is the plan shape a 100 TB as-of join wants: it never materializes
  * the union and never re-sorts the left side for output (left
  * ordering/partitioning are preserved for downstream reuse).
  *
  * The specs check it against the brute-force inequality join with
  * max_by and against the union + window composition. Right-side columns must be pre-renamed to avoid collisions
  * (AsOfJoinDsl handles it).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    leftTie: Attribute, rightTie: Attribute) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsOfJoinPlan = copy(left = l, right = r)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    leftTie: Attribute, rightTie: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending),
      SortOrder(leftTie, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending),
      SortOrder(leftTie, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExpr = leftKey; val rKeyExpr = rightKey
    val lTsExpr = leftTs; val lTieExpr = leftTie
    val rTsExpr = rightTs; val rTieExpr = rightTie
    val keyType = leftKey.dataType
    val tsType = leftTs.dataType
    val tieType = leftTie.dataType
    val rWidth = rOut.size

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lKeyP = UnsafeProjection.create(Seq(lKeyExpr), lOut)
      val rKeyP = UnsafeProjection.create(Seq(rKeyExpr), rOut)
      val lOrdP = UnsafeProjection.create(Seq(lTsExpr, lTieExpr), lOut)
      val rOrdP = UnsafeProjection.create(Seq(rTsExpr, rTieExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType, tieType))
      val rBuf = ri.buffered
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rWidth)
      var last: InternalRow = null
      var lastKey: InternalRow = null

      li.map { lrow =>
        val lk = lKeyP(lrow)
        val lo = lOrdP(lrow)
        var advance = true
        while (advance && rBuf.hasNext) {
          val peek = rBuf.head
          val cmp = keyOrd.compare(rKeyP(peek), lk)
          if (cmp < 0) {
            rBuf.next() // right row belongs to an earlier key: discard
          } else if (cmp == 0 && tsOrd.compare(rOrdP(peek), lo) <= 0) {
            last = peek.copy()
            lastKey = rKeyP(last).copy()
            rBuf.next()
          } else {
            advance = false // right stream is ahead of this left row
          }
        }
        if (last != null && lastKey != null && keyOrd.compare(lastKey, lk) == 0)
          joined(lrow, last)
        else
          joined(lrow, nullRight)
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, lte, rte) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, lte, rte) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level entry: `asof(left, right, key, ts, tie)` — right
  * columns come back prefixed `right_`. */
object AsOfJoinDsl {
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
           tie: String, rightPrefix: String = "right_"): DataFrame = {
    val renamed = right.toDF(right.columns.map(c => rightPrefix + c): _*)
    val lp = left.queryExecution.analyzed
    val rp = renamed.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val node = AsOfJoinPlan(lp, rp,
      attr(lp, key), attr(rp, rightPrefix + key),
      attr(lp, ts), attr(rp, rightPrefix + ts),
      attr(lp, tie), attr(rp, rightPrefix + tie))
    ColumnBridge.ofRows(left.sparkSession, node)
  }
}
