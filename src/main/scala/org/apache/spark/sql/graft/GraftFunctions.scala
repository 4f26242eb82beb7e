package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.classic
import graft.plans.{AsOfJoinPlan, BandJoinPlan, SessionizePlan}

/** DataFrame builders for the native operators. Each returns a logical
  * node that the planner strategies injected by `graft.GraftExtensions`
  * turn into its exec. Lives in the sql package for `Dataset.ofRows` +
  * analyzed-plan access.
  */
object GraftFunctions {
  /** Backward as-of join through the native operator
    * ([[graft.plans.AsOfJoinExec]]): every `left` row gains `right`'s
    * columns from the latest same-key right row strictly before its
    * timestamp (nulls when none). `key`/`ts` columns must be BIGINT on
    * both sides (see the operator scaladoc). */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession.asInstanceOf[classic.SparkSession]
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    // self-join hygiene: when both inputs descend from the same base
    // relation their attributes share exprIds, and a binary node with
    // duplicate ids across children is ambiguous (the analyzer's
    // DeduplicateRelations never sees this custom node) — re-alias the
    // right side into fresh ids unconditionally
    val rp: LogicalPlan =
      Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, n: String, side: String) =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asofJoin: no column '$n' on the $side side " +
          s"(have ${p.output.map(_.name).mkString(", ")})"))
    classic.Dataset.ofRows(spark, AsOfJoinPlan(lp, rp,
      attr(lp, leftKey, "left"), attr(lp, leftTs, "left"),
      attr(rp, rightKey, "right"), attr(rp, rightTs, "right")))
  }

  /** FORWARD as-of join: every `left` row gains `right`'s columns from
    * the EARLIEST same-key right row strictly AFTER its timestamp
    * (nulls when none) — the "next event / next observation" lookup.
    * Implemented by ts-negation over the backward operator (the sort
    * order flips, strictly-before becomes strictly-after, latest
    * becomes earliest), so ONE exec covers both directions; the
    * scratch negated columns never escape. Same BIGINT contract as
    * [[asofJoin]]. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ln = s"__graft_neg_$leftTs"
    val rn = s"__graft_neg_$rightTs"
    asofJoin(left.withColumn(ln, -col(leftTs)),
        right.withColumn(rn, -col(rightTs)),
        leftKey, ln, rightKey, rn)
      .drop(ln, rn)
  }

  /** Inner BAND JOIN through the native operator
    * ([[graft.plans.BandJoinExec]]): every (`left`, `right`) pair with
    * `right.rightVal BETWEEN left.leftVal*loFactor AND
    * left.leftVal*hiFactor`. This builder constructs the bin columns —
    * the left row exploded into every fixed-width value bin its band
    * overlaps, the right row keyed by its home bin (a pair meets
    * exactly once, in the right row's home bin) — and the exec replaces
    * the composed shape's per-bin hash join + post-filter with a
    * per-bin sort-merge band sweep (see the operator scaladoc).
    * Value columns must be non-negative DOUBLEs;
    * 0 ≤ loFactor ≤ hiFactor; binWidth > 0 (≥ the widest band keeps
    * left replication ≤ 2 bins/row). */
  def bandJoin(left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      loFactor: Double, hiFactor: Double, binWidth: Double): DataFrame =
    bandJoinAffine(left, leftVal, right, rightVal,
      loFactor, hiFactor, 0.0, 0.0, binWidth)

  /** ADDITIVE band join — the true temporal interval join: every
    * (`left`, `right`) pair with `right.rightVal BETWEEN
    * left.leftVal+loOffset AND left.leftVal+hiOffset` (offsets in the
    * value's own unit — e.g. µs on packed time keys, with
    * `loOffset = −Δ, hiOffset = +Δ` for a symmetric ±Δ window). A
    * multiplicative band cannot express this constant-width window
    * (the factor would have to vary per row); the affine exec runs it
    * natively with factors 1. Values may be ANY doubles including
    * negatives (an equal-factor band never flips — both execs and the
    * binning handle negative values/bins); binWidth ≥
    * hiOffset−loOffset keeps left replication ≤ 2 bins per row. */
  def bandJoinOffset(left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      loOffset: Double, hiOffset: Double, binWidth: Double): DataFrame = {
    require(hiOffset >= loOffset,
      s"bandJoinOffset requires loOffset <= hiOffset; " +
        s"got ($loOffset, $hiOffset)")
    bandJoinAffine(left, leftVal, right, rightVal,
      1.0, 1.0, loOffset, hiOffset, binWidth)
  }

  private def bandJoinAffine(left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      loFactor: Double, hiFactor: Double,
      loOffset: Double, hiOffset: Double, binWidth: Double): DataFrame = {
    require(loFactor >= 0 && hiFactor >= loFactor && binWidth > 0,
      s"bandJoin requires 0 <= loFactor <= hiFactor and binWidth > 0; " +
        s"got ($loFactor, $hiFactor, $binWidth)")
    val spark = left.sparkSession.asInstanceOf[classic.SparkSession]
    import org.apache.spark.sql.functions.{col, explode, floor, sequence}
    val lBin = "__graft_band_bin_l"
    val rBin = "__graft_band_bin_r"
    val lExp = left.withColumn(lBin, explode(sequence(
      floor((col(leftVal) * loFactor + loOffset) / binWidth).cast("long"),
      floor((col(leftVal) * hiFactor + hiOffset) / binWidth).cast("long"))))
    val rExp = right.withColumn(rBin,
      floor(col(rightVal) / binWidth).cast("long"))
    val lp = lExp.queryExecution.analyzed
    val rp0 = rExp.queryExecution.analyzed
    // self-join hygiene (see asofJoin): fresh exprIds on the right
    val rp: LogicalPlan =
      Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, n: String, side: String) =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"bandJoin: no column '$n' on the $side side " +
          s"(have ${p.output.map(_.name).mkString(", ")})"))
    classic.Dataset.ofRows(spark, BandJoinPlan(lp, rp,
      attr(lp, lBin, "left"), attr(lp, leftVal, "left"),
      attr(rp, rBin, "right"), attr(rp, rightVal, "right"),
      loFactor, hiFactor, loOffset, hiOffset))
      .drop(lBin, rBin)
  }

  /** Gaps-and-islands sessionization through the native operator
    * ([[graft.plans.SessionizeExec]]): every `df` row gains a LongType
    * `outCol` — the 1-based per-`key` session ordinal, incremented
    * when the (`ts`) gap to the previous same-key row (ordered by
    * `ts`, `tie`) exceeds `gapMicros`. `key`/`ts`/`tie` must be
    * non-null BIGINT (see the operator scaladoc). Same session-state
    * answer as the lag + running-sum window composition, in one
    * streamed pass. */
  def sessionize(df: DataFrame, key: String, ts: String, tie: String,
      gapMicros: Long, outCol: String = "session_idx"): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val p = df.queryExecution.analyzed
    def attr(n: String) =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"sessionize: no column '$n' " +
          s"(have ${p.output.map(_.name).mkString(", ")})"))
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    classic.Dataset.ofRows(spark, SessionizePlan(p,
      attr(key), attr(ts), attr(tie), gapMicros,
      AttributeReference(outCol, LongType, nullable = false)()))
  }
}
