package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport,
  SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import ExecCodegen.ordinal

/** Whole-operator custom plan: backward as-of join — the §2.C stretch
  * rung of the custom-operator ladder (logical node + SparkStrategy +
  * physical exec, the (c) option of the design guide; the engine's
  * Expression / Generator / optimizer-Rule rungs live in
  * `graft.functions` / [[DotProductRewrite]]).
  *
  * Semantics: for every left row, attach the LATEST right row of the
  * same key with `rightTs` STRICTLY before `leftTs` (nulls when none) —
  * the event-to-most-recent-feature lookup. The composed alternative
  * (`q_join_asof`: union + conditional-max running window) answers the
  * same query but drags the packed candidate key through a whole-union
  * window; this operator is the plan a native engine would pick:
  *
  *  - each side hash-clustered on its key (EnsureRequirements
  *    co-partitions the two shuffles) and sorted (key, ts);
  *  - one O(n+m) forward merge per partition with O(1) state — the
  *    single retained candidate row — versus the window's
  *    sort-of-the-union;
  *  - streaming output in left order, no buffering, so the exec
  *    composes with downstream limit/agg without a re-sort on key.
  *
  * Contract (deliberately concrete): key and ts are BIGINT columns —
  * the training-data case (entity ids, packed µs-epoch sort keys).
  * Everything else (row width, nullability, column names) is free.
  *
  * At 100 TB: two linear shuffles (the joins' inherent cost), then
  * merge work proportional to partition size with constant memory —
  * no per-key state map, no window buffer, no skew amplification
  * (a hot key costs its own rows, nothing quadratic).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. Injected declaratively
  * by `graft.GraftExtensions` and idempotently by the imperative
  * builder (`org.apache.spark.sql.graft.GraftFunctions.asofJoin`). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right), p.leftKey,
        p.leftTs, p.rightKey, p.rightTs) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext,
      "left rows with an as-of match"))

  /** Both children clustered on their key: EnsureRequirements inserts
    * the two hash exchanges AND aligns their partition counts, so
    * `zipPartitions` below pairs co-keyed partitions. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)),
      ClusteredDistribution(Seq(rightKey)))

  /** (key, ts) ascending on both sides — the merge's only precondition;
    * EnsureRequirements adds the SortExec when the child isn't already
    * in that order (e.g. a bucketed+sorted source arrives sort-free). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  /** Rows stream out in left order with left's clustering intact —
    * declaring it lets downstream per-key operators reuse the exchange
    * and sort instead of re-shuffling. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  // ---- whole-stage codegen (round 12, r10 verdict item #6) --------
  // The SortMergeJoin produce-side recipe: the two sorted children
  // execute as this stage's input iterators (they are not fused — the
  // merge consumes whole rows), the O(1)-state merge loop is generated
  // Java, and the output columns flow as locals straight into the
  // parent's consume — no JoinedRow, no per-row UnsafeProjection, no
  // null-row sentinel. Right-side columns guard on the match flag, so
  // the miss case never touches the retained candidate row.

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // both children arrive as stage inputs, so this node owns its stage's
  // data-producing loop the way a leaf does: a LIMIT above the stage may
  // stop it through `limitNotReachedCond`
  override def canCheckLimitNotReached: Boolean = true

  // output vars reference the retained candidate row, which mutates as
  // the loop advances — a buffering parent must copy
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val lkIdx = ordinal(left.output, leftKey, "as-of left key")
    val ltIdx = ordinal(left.output, leftTs, "as-of left ts")
    val rkIdx = ordinal(right.output, rightKey, "as-of right key")
    val rtIdx = ordinal(right.output, rightTs, "as-of right ts")
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "asofLeftInput", v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator",
      "asofRightInput", v => s"$v = inputs[1];")
    val rRow = ctx.addMutableState("InternalRow", "asofRightRow")
    val m = ctx.addMutableState("InternalRow", "asofCandidate")
    val mKey = ctx.addMutableState(CodeGenerator.JAVA_LONG, "asofCandidateKey")
    val initDone = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      "asofInitDone")
    val leftRow = ctx.freshName("leftRow")
    val lk = ctx.freshName("lk")
    val lt = ctx.freshName("lt")
    val rk = ctx.freshName("rk")
    val hit = ctx.freshName("hit")
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numMatched = metricTerm(ctx, "numMatched")
    // eager column locals: left columns from the current left row,
    // right columns from the candidate guarded by the hit flag
    val leftVars = ExecCodegen.colVars(ctx, leftRow, left.output)
    val rightVars = ExecCodegen.colVars(ctx, m,
      output.drop(left.output.size), Some(hit))
    val outVars = leftVars ++ rightVars
    s"""
       |if (!$initDone) {
       |  $rRow = $rightInput.hasNext()
       |    ? (InternalRow) $rightInput.next() : null;
       |  $initDone = true;
       |}
       |while ($limitNotReachedCond $leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  long $lk = $leftRow.getLong($lkIdx);
       |  long $lt = $leftRow.getLong($ltIdx);
       |  while ($rRow != null) {
       |    long $rk = $rRow.getLong($rkIdx);
       |    if ($rk < $lk || ($rk == $lk && $rRow.getLong($rtIdx) < $lt)) {
       |      if ($rk == $lk) { $m = $rRow.copy(); $mKey = $lk; }
       |      $rRow = $rightInput.hasNext()
       |        ? (InternalRow) $rightInput.next() : null;
       |    } else break;
       |  }
       |  boolean $hit = $m != null && $mKey == $lk;
       |  if ($hit) $numMatched.add(1);
       |  $numOutputRows.add(1);
       |  ${evaluateVariables(outVars)}
       |  ${consume(ctx, outVars)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val lkIdx = ordinal(left.output, leftKey, "as-of left key")
    val ltIdx = ordinal(left.output, leftTs, "as-of left ts")
    val rkIdx = ordinal(right.output, rightKey, "as-of right key")
    val rtIdx = ordinal(right.output, rightTs, "as-of right ts")
    val rightWidth = right.output.size
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // per-output unsafe projection: downstream operators may hold a
      // reference across next() calls on non-buffering paths; the
      // projection gives them the standard reused-UnsafeRow contract
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRow: InternalRow = new GenericInternalRow(rightWidth)
      var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
      // O(1) merge state: the latest right row seen for mKey. copy()
      // is required — the child iterator reuses its row buffer.
      var m: InternalRow = null
      var mKey = 0L
      lIter.map { l =>
        val lk = l.getLong(lkIdx)
        val lt = l.getLong(ltIdx)
        // advance the right cursor through every row that is now in the
        // past (key already passed, or same key strictly before lt);
        // left rows arrive (key, ts)-ascending, so the cursor never
        // moves backwards — each right row is touched exactly once
        while (rRow != null && {
          val rk = rRow.getLong(rkIdx)
          rk < lk || (rk == lk && rRow.getLong(rtIdx) < lt)
        }) {
          if (rRow.getLong(rkIdx) == lk) { m = rRow.copy(); mKey = lk }
          rRow = if (rIter.hasNext) rIter.next() else null
        }
        val hit = m != null && mKey == lk
        if (hit) numMatched += 1
        numOutputRows += 1
        proj(joined(l, if (hit) m else nullRow))
      }
    }
  }
}
