package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan,
  SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import ExecCodegen.ordinal

/** Whole-operator custom plan: gaps-and-islands sessionization — the
  * second rung-(c) native operator after [[AsOfJoinPlan]], following
  * the same logical-node + SparkStrategy + physical-exec ladder.
  *
  * Semantics: rows are grouped per `key`, ordered by (`ts`, `tie`),
  * and each row gains a LongType `session_idx` (1-based per key) that
  * increments whenever the time gap to the previous same-key row
  * exceeds `gapMicros` — exactly the lag-indicator + running-sum
  * window composition (`q_sessionize`), but in ONE streaming pass:
  *
  *  - one hash exchange on key + one (key, ts, tie) sort — the same
  *    irreducible cost the window form pays;
  *  - then O(1) state per partition (previous key + previous ts)
  *    instead of TWO WindowExec passes, each of which buffers every
  *    partition's frame before emitting a single row;
  *  - rows stream out in child order with the child's clustering and
  *    ordering declared intact, so the canonical downstream
  *    `groupBy(key, session_idx)` rollup plans WITHOUT a second
  *    exchange (HashPartitioning(key) satisfies the rollup's
  *    clustering) and the session aggregate becomes a sort-free
  *    partial+final pair on the already-sessionized stream.
  *
  * Contract (deliberately concrete, mirroring the as-of operator):
  * `key`, `ts` and `tie` are non-null BIGINT columns — entity ids,
  * µs-epoch timestamps and a deterministic tiebreak id. Everything
  * else about the row is free.
  *
  * At 100 TB: one linear shuffle + sort (inherent to any per-entity
  * ordered pass), constant memory per partition, no per-key state map
  * — a hot key costs its own rows only, and the operator never holds
  * more than one row of state, so executor memory sizing is
  * independent of session length and key skew.
  */
case class SessionizePlan(
    child: LogicalPlan,
    key: Attribute,
    ts: Attribute,
    tie: Attribute,
    gapMicros: Long,
    sessionAttr: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ sessionAttr
  /** `sessionAttr` is born here, not consumed — without this the
    * analyzer counts it as a missing input (it is a constructor
    * Expression, so it lands in `references`). */
  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(sessionAttr)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): SessionizePlan = copy(child = newChild)
}

/** Plans [[SessionizePlan]] as [[SessionizeExec]]. Injected
  * declaratively by `graft.GraftExtensions` and idempotently by the
  * imperative builder
  * (`org.apache.spark.sql.graft.GraftFunctions.sessionize`). */
object SessionizeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: SessionizePlan =>
      SessionizeExec(planLater(p.child), p.key, p.ts, p.tie,
        p.gapMicros, p.sessionAttr) :: Nil
    case _ => Nil
  }
}

case class SessionizeExec(
    child: SparkPlan,
    key: Attribute,
    ts: Attribute,
    tie: Attribute,
    gapMicros: Long,
    sessionAttr: Attribute) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output :+ sessionAttr
  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(sessionAttr)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numSessions" -> SQLMetrics.createMetric(sparkContext,
      "number of sessions opened"))

  /** Key-clustered child: EnsureRequirements inserts the one hash
    * exchange; [[outputPartitioning]] re-exports it so the downstream
    * per-(key, session) rollup reuses it instead of re-shuffling. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(key)))

  /** (key, ts, tie) ascending — the linear pass's only precondition;
    * EnsureRequirements adds the SortExec when the child isn't
    * already in that order. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending), SortOrder(ts, Ascending),
      SortOrder(tie, Ascending)))

  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(
      newChild: SparkPlan): SessionizeExec = copy(child = newChild)

  // ---- whole-stage codegen (round 12, r10 verdict item #6) --------
  // The operator is map-like with three scalars of state, so it
  // compiles into the parent's consume loop: the session ordinal is a
  // plain long local fed straight into downstream codegen — no
  // JoinedRow, no UnsafeProjection, no row materialization at this
  // node at all (the interpreted doExecute below pays all three).
  // State lives in generated mutable fields, reset per partition by
  // codegen's standard init path. Child is the SortExec that
  // EnsureRequirements planned, itself codegen-producing.

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val kEv = input(ordinal(child.output, key, "sessionize key"))
    val tEv = input(ordinal(child.output, ts, "sessionize ts"))
    val havePrev = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      "sessHavePrev")
    val prevKey = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sessPrevKey")
    val prevTs = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sessPrevTs")
    val idx = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sessIdx")
    val sessVar = ctx.freshName("sessionIdx")
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numSessions = metricTerm(ctx, "numSessions")
    val sessEv = ExprCode.forNonNullValue(
      JavaCode.variable(sessVar, LongType))
    s"""
       |${evaluateVariables(Seq(kEv, tEv))}
       |if (!$havePrev || ${kEv.value} != $prevKey) {
       |  $idx = 1L; $numSessions.add(1);
       |} else if (${tEv.value} - $prevTs > ${gapMicros}L) {
       |  $idx += 1L; $numSessions.add(1);
       |}
       |$havePrev = true;
       |$prevKey = ${kEv.value};
       |$prevTs = ${tEv.value};
       |final long $sessVar = $idx;
       |$numOutputRows.add(1);
       |${consume(ctx, input :+ sessEv)}
     """.stripMargin
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val kIdx = ordinal(child.output, key, "sessionize key")
    val tIdx = ordinal(child.output, ts, "sessionize ts")
    val outAttrs = output
    val gap = gapMicros
    val numOutputRows = longMetric("numOutputRows")
    val numSessions = longMetric("numSessions")
    child.execute().mapPartitions({ iter =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val sess = new GenericInternalRow(1)
      // O(1) merge state: the previous row's (key, ts) — rows arrive
      // (key, ts)-ascending, so a key change or an over-gap step is
      // exactly a session boundary
      var havePrev = false
      var prevKey = 0L
      var prevTs = 0L
      var idx = 0L
      iter.map { r =>
        val k = r.getLong(kIdx)
        val t = r.getLong(tIdx)
        if (!havePrev || k != prevKey) { idx = 1L; numSessions += 1 }
        else if (t - prevTs > gap) { idx += 1L; numSessions += 1 }
        havePrev = true; prevKey = k; prevTs = t
        sess.setLong(0, idx)
        numOutputRows += 1
        proj(joined(r, sess))
      }
    }, preservesPartitioning = true)
  }
}
