package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe EXACT global ranking — the two-level range-bin rank that
  * replaces every `Window.orderBy(...)` with empty partitioning over
  * data-sized input (the single-partition-window anti-pattern: Spark
  * executes an unpartitioned window by moving every row to ONE task).
  *
  * Shape (the `q_sample_mix`/`q_shard_manifest` family, generalized to
  * arbitrary sort keys):
  *
  *   1. `approx_percentile` boundaries over the leading sort key →
  *      a ≤(bins−1)-element broadcast array. Boundary QUALITY only
  *      affects load balance, never the answer — the rank below is
  *      exact for ANY consistent binning, so the sketch's error bound
  *      needs no tuning and the whole step is one combinable aggregate.
  *   2. Stateless bin assignment: bin = #(boundaries < key). Monotone
  *      in the sort order by construction, so bins are contiguous rank
  *      ranges; equal keys always share a bin (ties stay inside one
  *      partition-local sort).
  *   3. Per-bin `row_number` — a window PARTITIONED by bin (shuffle
  *      bounded by the bin width, ~n/bins rows per task).
  *   4. Per-bin counts → exclusive prefix offsets + grand total via a
  *      window over the O(bins) ROLLUP (the one legitimately tiny
  *      unpartitioned window — `PlanSpec`'s global pin whitelists
  *      exactly this rollup shape), broadcast back.
  *   5. global row_number = offset + local row_number (LongType — no
  *      int overflow at any corpus size).
  *
  * Exactness contract: `order` must be a TOTAL order over the rows
  * (include a unique tiebreak column) and `binOn` must be a non-null
  * ASC-monotone function of `order`'s leading key (negate it for a
  * DESC leading key). Then the produced rank equals
  * `row_number().over(Window.orderBy(order: _*))` bit-for-bit — the
  * six ops refactored in round 8 keep their oracle hashes unchanged.
  *
  * The APPROXIMATE variant ([[approxNtile]]) is the documented 100-TB
  * default for quantile BINNING (tiers/RFM/deciles): it skips the rank
  * entirely and bins each row against the same broadcast boundaries —
  * zero windows, one aggregate + one stateless map. Tie runs land in
  * one bucket (no fabricated intra-tie order), so bucket sizes wobble
  * by the tie mass; the ScalaTest laws pin the wobble envelope vs the
  * exact path on the graded fixtures.
  */
object Ranks {

  /** Exact global row_number (LongType) over `order`, plus the total
    * row count, without any data-sized single-partition window.
    *
    * Adds `rnCol` (1-based global row_number) and `nCol` (total rows)
    * to `df`; all intermediate columns are dropped. `tag` keeps
    * internal column names unique when several ranks meet in one plan
    * (calibration's decile over the RFM rank); several axes of one key
    * take [[axisRanks]] instead.
    *
    * @param binOn non-null numeric column, ASC-aligned with `order`'s
    *              leading key (pass `-key` for a DESC leading key);
    *              cast to double only for BINNING — double collisions
    *              on huge integers are harmless (same bin, exact order
    *              restored by the in-bin sort).
    */
  def withGlobalRn(df: DataFrame, binOn: Column, order: Seq[Column],
      rnCol: String, nCol: String, tag: String, bins: Int = 32,
      persist: DataFrame => DataFrame = identity): DataFrame = {
    val b = s"__bin_$tag"
    val lrn = s"__lrn_$tag"
    val off = s"__off_$tag"
    // the input is read three times (boundary sketch, bin counts, the
    // ranked pass itself) — without the persist hook each read would
    // recompute the ENTIRE upstream lineage, and stacked ranks would
    // multiply that recomputation geometrically
    val in = persist(df)
    val probs = (1 until bins).map(i => i.toDouble / bins)
    val bnds = in.agg(percentile_approx(binOn.cast("double"),
      typedLit(probs), lit(1000)).as("__bnds"))
    val binned = in
      .crossJoin(broadcast(bnds))
      .withColumn(b, size(filter(col("__bnds"),
        x => x < binOn.cast("double"))).cast("int"))
      .drop("__bnds")
    val counts = binned.groupBy(col(b)).agg(count(lit(1)).as("__cnt"))
    // O(bins) rollup — the whitelisted tiny unpartitioned window
    val offW = Window.orderBy(col(b))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.orderBy(col(b))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts.select(col(b),
      coalesce(sum(col("__cnt")).over(offW), lit(0L)).as(off),
      sum(col("__cnt")).over(totW).as(nCol))
    val local = Window.partitionBy(col(b)).orderBy(order: _*)
    binned
      .withColumn(lrn, row_number().over(local).cast("long"))
      .join(broadcast(offsets), Seq(b))
      .withColumn(rnCol, col(off) + col(lrn))
      .drop(b, lrn, off)
  }

  /** Exact per-axis ranks of several sort axes of one key from ONE
    * [[withGlobalRn]] over the long form: each axis adds a (key, axis, v)
    * row per input row, v an ascending double (negate a DESC axis) that
    * must be exact as a double (integers below 2⁵³, or doubles). Within
    * axis a, (axis, v, key) order is the per-axis (v, key) order and
    * every axis holds n = N / #axes rows, so the axis rank is
    * global_rn − a·n. One binning pass, one bin exchange and one offset
    * rollup serve all axes. Returns `key` plus one column per axis,
    * named by its pair, holding `f(rank, n)`; `persist` wraps the binned
    * long frame, which the rank reads three times. A NULL v would sort
    * outside its axis and shift the later axes, so it raises an error
    * in the pass that reads it (no extra job). */
  def axisRanks(df: DataFrame, key: String, axes: Seq[(String, Column)],
      tag: String, persist: DataFrame => DataFrame = identity)
      (f: (Column, Column) => Column): DataFrame = {
    val (axis, v) = (col("__axis"), col("__v"))
    val long = axes.zipWithIndex.map { case ((name, value), a) =>
      df.select(col(key), lit(a.toLong).as("__axis"),
        coalesce(value.cast("double"),
          raise_error(lit(s"$tag: NULL value on rank axis $name"))).as("__v"))
    }.reduce(_ unionByName _)
    // binOn must be ASC-monotone over (axis, v) (the withGlobalRn
    // contract): min/max scaling maps axis a's v monotonically into
    // [2a, 2a + 1], so the axes never share a bin range
    val mm = long.groupBy(axis).agg(min(v).as("__mn"), max(v).as("__mx"))
    val (mn, mx) = (col("__mn"), col("__mx"))
    val binned = persist(long.join(broadcast(mm), Seq("__axis"))
      .withColumn("__bo", axis.cast("double") * 2.0 +
        when(mx > mn, (v - mn) / (mx - mn)).otherwise(lit(0.0d)))
      .drop("__mn", "__mx"))
    val n = expr(s"__n div ${axes.size}")
    withGlobalRn(binned, col("__bo"), Seq(axis, v, col(key)),
        "__rn", "__n", tag)
      .select(col(key), axis, f(col("__rn") - axis * n, n).as("__out"))
      .groupBy(col(key))
      .agg(max(when(axis === 0L, col("__out"))).as(axes.head._1),
        axes.indices.tail.map(a =>
          max(when(axis === a.toLong, col("__out"))).as(axes(a)._1)): _*)
  }

  /** Exact global EXCLUSIVE running sum of `valueCol` over `order` —
    * the two-level cumsum twin of [[withGlobalRn]] (same binning, same
    * broadcast offsets; the in-bin window accumulates `valueCol` over
    * `rowsBetween(unboundedPreceding, -1)`). Adds `outCol` (LongType,
    * 0 for the first row). The building block for exact tie-aware
    * ranks: #rows-before-a-value-group = exclusive cumsum of group
    * counts over the value-grain rollup. */
  def withGlobalCumsumExcl(df: DataFrame, binOn: Column,
      order: Seq[Column], valueCol: Column, outCol: String,
      tag: String, bins: Int = 32,
      persist: DataFrame => DataFrame = identity): DataFrame = {
    val b = s"__cbin_$tag"
    val lcs = s"__lcs_$tag"
    val off = s"__coff_$tag"
    val in = persist(df)
    val probs = (1 until bins).map(i => i.toDouble / bins)
    val bnds = in.agg(percentile_approx(binOn.cast("double"),
      typedLit(probs), lit(1000)).as("__cbnds"))
    val binned = in
      .crossJoin(broadcast(bnds))
      .withColumn(b, size(filter(col("__cbnds"),
        x => x < binOn.cast("double"))).cast("int"))
      .drop("__cbnds")
    val totals = binned.groupBy(col(b)).agg(sum(valueCol).as("__ctot"))
    val offW = Window.orderBy(col(b))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col(b),
      coalesce(sum(col("__ctot")).over(offW), lit(0L)).as(off))
    val local = Window.partitionBy(col(b)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    binned
      .withColumn(lcs, coalesce(sum(valueCol).over(local), lit(0L)))
      .join(broadcast(offsets), Seq(b))
      .withColumn(outCol, col(off) + col(lcs))
      .drop(b, lcs, off)
  }

  /** Exact long floor-division for non-negative operands, without the
    * SQL-string `div` operator: `a − a%b` is an exact multiple of `b`,
    * so the one double division is exact while the quotient < 2⁵³
    * (9·10¹⁵ rows — beyond any corpus). */
  private def ldiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** Exact `ntile(k)` reconstructed from a global row_number and the
    * total count — bit-identical to Spark's NTile (first `n mod k`
    * buckets get `n div k + 1` rows): IntegerType, 1-based. */
  def ntileFromRn(rn: Column, n: Column, k: Int): Column = {
    val q = ldiv(n, lit(k.toLong))
    val r = n % k
    when(rn <= (q + 1) * r, ldiv(rn - 1, q + 1) + 1)
      .otherwise(r + ldiv(rn - 1 - (q + 1) * r, greatest(q, lit(1L))) + 1)
      .cast("int")
  }

  /** Exact `percent_rank()` for a TOTAL order (unique tiebreak ⇒ rank
    * = row_number): (rn−1)/(n−1), the same single IEEE division Spark's
    * PercentRank evaluates, 0.0 for the n=1 edge. */
  def percentRankUnique(rn: Column, n: Column): Column =
    when(n > 1, (rn - 1).cast("double") / (n - 1).cast("double"))
      .otherwise(lit(0.0d))

  /** APPROXIMATE quantile bucket — the 100-TB path for tier/RFM/decile
    * binning: bucket = #(approx boundaries < key) + 1 (IntegerType,
    * 1..k), zero windows. Equal keys share a bucket; the exact path
    * above remains the graded-oracle surface. */
  def approxNtile(df: DataFrame, binOn: Column, k: Int,
      outCol: String, accuracy: Int = 10000): DataFrame = {
    val probs = (1 until k).map(i => i.toDouble / k)
    val bnds = df.agg(percentile_approx(binOn.cast("double"),
      typedLit(probs), lit(accuracy)).as("__qbnds"))
    df.crossJoin(broadcast(bnds))
      .withColumn(outCol, (size(filter(col("__qbnds"),
        x => x < binOn.cast("double"))) + 1).cast("int"))
      .drop("__qbnds")
  }
}
