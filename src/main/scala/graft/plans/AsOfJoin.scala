package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Custom whole-operator extension: AS-OF join as a first-class plan node
  * (logical node → strategy → physical exec), the deepest of the three
  * extension tiers (expression < optimizer rule < operator). Spark has no
  * native as-of join; the composed alternative (union + last_value window,
  * `ops.Analytics.asofLastOrder` / j6) materializes a merged stream and
  * windows over it. This node instead declares the textbook distributed
  * shape and lets the planner provide it:
  *
  *  - `requiredChildDistribution`: both sides clustered on the join key —
  *    EnsureRequirements inserts (or reuses) the hash exchanges, exactly
  *    as it would for a SortMergeJoin, so the operator composes with AQE
  *    and co-partitioned/bucketed inputs for free;
  *  - `requiredChildOrdering`: (key, time) ascending on both sides — the
  *    planner inserts local sorts only when the child isn't already
  *    sorted (a time-clustered table like src11's comes in pre-sorted);
  *  - `doExecute`: one forward-only merge pass per co-partition, O(|L|+|R|)
  *    with O(1) state (the last right row seen per key) — no window
  *    buffer, no per-key collect, nothing data-sized on any single task.
  *
  * Semantics: LEFT OUTER as-of — every left row pairs with the LATEST
  * right row of the same key whose time ≤ the left time, or nulls if none.
  * Keys and times must be 64-bit-backed types (long, timestamp); nulls in
  * key/time are not matched (documented contract, enforced by the caller
  * projecting them out).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) :: Nil

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKey
    val rk = rightKey
    val lt = leftTime
    val rt = rightTime
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // (key, time) extractors; projection output rows are reused, so
      // read the longs immediately after each call
      val lProj = UnsafeProjection.create(Seq(lk, lt), leftOut)
      val rProj = UnsafeProjection.create(Seq(rk, rt), rightOut)
      val joined = new JoinedRow
      // right side marked nullable in BOTH the expressions and the bind
      // schema: the unmatched path feeds an all-null row, and a
      // projection built against non-nullable fields would skip the
      // null checks and read garbage
      val outAttrs = leftOut ++ rightOut.map(_.withNullability(true))
      val outProj = UnsafeProjection.create(
        outAttrs.map(_.asInstanceOf[Expression]), outAttrs)
      val nullRight = new GenericInternalRow(rightOut.length)
      val rBuf = rIt.buffered
      new Iterator[InternalRow] {
        // the candidate: last right row consumed whose key matched the
        // current left key — COPIED, because shuffle/sort iterators reuse
        // row buffers across next() calls
        private var matchRow: InternalRow = _
        private var matchKey: Long = 0L
        private var hasMatch = false
        override def hasNext: Boolean = lIt.hasNext
        override def next(): InternalRow = {
          val l = lIt.next()
          val lkt = lProj(l)
          val k = if (lkt.isNullAt(0)) Long.MinValue else lkt.getLong(0)
          val t = if (lkt.isNullAt(1)) Long.MinValue else lkt.getLong(1)
          // advance the right side through every row at or before (k, t)
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val h = rProj(rBuf.head)
            val hk = if (h.isNullAt(0)) Long.MinValue else h.getLong(0)
            val ht = if (h.isNullAt(1)) Long.MinValue else h.getLong(1)
            if (hk < k || (hk == k && ht <= t)) {
              val consumed = rBuf.next()
              if (hk == k && !h.isNullAt(0)) {
                matchRow = consumed.copy()
                matchKey = hk
                hasMatch = true
              }
            } else advancing = false
          }
          val rightSide =
            if (hasMatch && matchKey == k && !lkt.isNullAt(0)) matchRow
            else nullRight
          outProj(joined(l, rightSide))
        }
      }
    }
  }
}

/** Dataset-level entry point for the custom node. */
object AsOf {

  /** The exec reads keys and times as raw 64-bit longs
    * (`UnsafeRow.getLong`), so only 64-bit-backed types are sound:
    * LongType and TimestampType(_NTZ) (micros since epoch). DateType is
    * int DAYS — `getLong` on it would silently compare garbage widths
    * and units, so it is widened to a timestamp here; anything else is
    * rejected at plan time rather than producing wrong matches at run
    * time.
    */
  private def normalized(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case LongType | TimestampType | TimestampNTZType => df
      case DateType => df.withColumn(name, col(name).cast(TimestampType))
      case dt => throw new IllegalArgumentException(
        s"as-of column '$name' has type ${dt.simpleString}: the merge exec " +
          "compares 64-bit values, so only bigint / timestamp (or date, " +
          "which is widened) keys and times are supported — cast explicitly")
    }
  }

  /** LEFT OUTER as-of join: every `left` row + the latest `right` row
    * with the same `key` whose `time` is ≤ the left `time` (nulls when
    * none). The right side is re-aliased column-by-column so its
    * attribute ids are fresh — self-joins (events-to-events) would
    * otherwise carry conflicting ids into the custom node, which has no
    * analyzer dedup rule of its own.
    */
  def join(leftDf0: DataFrame, rightDf0: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val leftDf = normalized(normalized(leftDf0, leftKey), leftTime)
    val rightDf = normalized(normalized(rightDf0, rightKey), rightTime)
    val spark = leftDf.sparkSession
    val freshRight = rightDf.select(
      rightDf.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = freshRight.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not found in ${p.output.map(_.name).mkString(",")}"))
    org.apache.spark.sql.GraftColumns.ofRows(spark,
      AsOfJoin(lPlan, rPlan,
        attr(lPlan, leftKey), attr(rPlan, rightKey),
        attr(lPlan, leftTime), attr(rPlan, rightTime)))
  }
}
