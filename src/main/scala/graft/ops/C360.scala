package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** The reference's end product (SURVEY §0.5): the enriched Customer-360
  * profile — demographics ⋈ geography ⋈ RFM ⋈ trailing-window spend ⋈
  * per-category activity pivot — as ONE wide row per customer, plus a
  * scored variant with the MLlib segment.
  *
  * Shape at scale: one shuffle per fact aggregation (orders by custkey,
  * events by user), then left joins onto the customer spine with the
  * dimension side broadcast. No data is scanned twice.
  */
object C360 extends OpModule {
  import Det._

  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  def profile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
    val n = Tables.t(s, dir, "nation")
    val r = Tables.t(s, dir, "region")
    val o = Tables.t(s, dir, "orders")
    val e = Tables.t(s, dir, "events")

    val maxd = o.agg(max($"o_orderdate").cast("date").as("maxd"))
    def win(days: Int): Column =
      datediff($"maxd", $"o_orderdate".cast("date")) < days
    val orderFeats = o.crossJoin(broadcast(maxd))
      .groupBy($"o_custkey")
      .agg(
        datediff(max($"maxd"), max($"o_orderdate".cast("date"))).as("recency_days"),
        count(lit(1)).as("frequency"),
        sumMoney($"o_totalprice").as("monetary"),
        count(when(win(30), lit(1))).as("n_30d"),
        coalesce(sum(when(win(90), d12($"o_totalprice"))).cast("double"), lit(0.0))
          .as("spend_90d"))

    val activity = e.groupBy($"user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)).as("cnt"))

    c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .join(orderFeats, $"c_custkey" === $"o_custkey", "left")
      .join(activity, $"c_custkey" === $"user_id", "left")
      .select(
        ($"c_custkey" +: $"c_name" +: $"c_mktsegment" +: $"n_name" +: $"r_name" +:
          coalesce($"recency_days", lit(-1)).as("recency_days") +:
          coalesce($"frequency", lit(0L)).as("frequency") +:
          coalesce($"monetary", lit(0.0)).as("monetary") +:
          coalesce($"n_30d", lit(0L)).as("n_30d") +:
          coalesce($"spend_90d", lit(0.0)).as("spend_90d") +:
          // single-agg pivot names columns by the pivot value alone
          eventTypes.map(t =>
            coalesce(col(t), lit(0L)).as(s"${t}_cnt"))): _*)
      .orderBy($"c_custkey")
  }

  /** Profile + KMeans RFM segment (fixed seed,
    * [[Embeddings.kmeansSegment]]) — the AML-scored profile analogue.
    * Trained model ⇒ non-oracled; golden-tested. */
  def scoredProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // registry persist (released via OpCache.clear) — a bare .persist
    // here leaked across the rest of a bench session
    val base = OpCache.cached(s, dir, "c360_base")(profile(s, dir))
    val segment = Embeddings.kmeansSegment(base,
      Seq("recency_days", "frequency", "monetary"))
    base.select($"c_custkey", $"c_mktsegment", $"recency_days", $"frequency",
        $"monetary", segment.as("segment"))
      .orderBy($"c_custkey")
  }

  /** Linear multi-touch attribution — the marketing-analytics core of a
    * customer-360: each purchase's value is split equally across the
    * user's non-purchase touches in the 7 days before it (up to the
    * purchase, exclusive), and credit is rolled up per touch type.
    *
    * Portability: (ts, event_id) packs into one BIGINT sort key (same
    * encoding as `q_join_asof` — event_id < 1e5 at every sf), so "the
    * purchase this touch leads to" is a single conditional-min forward
    * window; credit is integer micro-dollar floor division
    * (`ROUND(value×10⁴)` then `div n`), exact in both engines — the
    * remainder (< n µ$) is deliberately unassigned. The final credit is
    * one exact integer sum cast to double and divided once.
    *
    * Scale shape: one window over the events shuffle (user_id), one
    * equi-join back to purchases on the packed key (same user_id
    * partitioning — AQE sees co-partitioned children), one bounded
    * aggregation. No self-cartesian: each touch joins exactly one
    * purchase. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = lit(1704067200000000L) // unix_micros 2024-01-01T00:00Z
    val e = Tables.t(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value",
        unix_micros($"ts").as("us"))
      .withColumn("k", ($"us" - base) * 100000L + $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"k")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tagged = e.withColumn("next_pk",
      min(when($"event_type" === "purchase", $"k")).over(w))
    val purchases = tagged.filter($"event_type" === "purchase")
      .select($"k".as("pk"), $"user_id".as("p_user"),
        $"us".as("p_us"), $"value".as("p_value"))
    val credited = tagged
      .filter($"event_type" =!= "purchase" && $"next_pk".isNotNull)
      .join(purchases, $"next_pk" === $"pk" && $"user_id" === $"p_user")
      .filter($"p_us" - $"us" <= 604800000000L) // 7-day lookback, µs
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"pk")))
      .withColumn("v4", expr("CAST(ROUND(p_value * 10000, 0) AS BIGINT)"))
    credited.groupBy($"event_type")
      .agg(count(lit(1)).as("touches"),
        countDistinct($"pk").as("purchases"),
        (sum(expr("v4 div n")).cast("double") / 10000).as("credit"))
      .orderBy($"event_type")
  }

  /** Audience overlap matrix — for every pair of event types, how many
    * distinct users did both, plus the Jaccard overlap of the two
    * audiences. The set-intersection analytics primitive behind
    * campaign/segment overlap reports.
    *
    * Scale shape: one distinct shuffle to the (user, type) audience
    * table (|users|×|types| rows — far smaller than events), a
    * user-keyed self-join with fanout bounded by |types|² per user, and
    * broadcast per-type totals. At 100 TB the audience table is the
    * only big intermediate and it is linear in users. */
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ut = OpCache.cached(s, dir, "audience_ut")(
      Tables.t(s, dir, "events")
        .select($"user_id", $"event_type").distinct())
    val tot = ut.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val pairs = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("both_users"))
    pairs
      .join(broadcast(tot.select($"event_type".as("ta_t"), $"n".as("na"))),
        $"type_a" === $"ta_t")
      .join(broadcast(tot.select($"event_type".as("tb_t"), $"n".as("nb"))),
        $"type_b" === $"tb_t")
      .select($"type_a", $"type_b", $"both_users",
        r4($"both_users".cast("double") /
          ($"na" + $"nb" - $"both_users")).as("jaccard"))
      .orderBy($"type_a", $"type_b")
  }

  /** TPC-H Q3 shape — the classic 3-table "shipping priority" planner
    * showcase: filtered customer segment ⋈ pre-cutoff orders ⋈
    * post-cutoff lineitems, revenue top-10. Every filter is declarative
    * so it pushes to the parquet scans; the bounded customer side
    * broadcasts; the top-10 fuses to TakeOrderedAndProject (no global
    * sort). Revenue runs the [[Det]] decimal chain (price × (1−disc)
    * exact, ROUND 4 before the double cast); ties break on
    * (o_orderdate, l_orderkey) so row order is total. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("1997-06-01").cast("timestamp")
    val c = Tables.t(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val o = Tables.t(s, dir, "orders").filter($"o_orderdate" < cut)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val l = Tables.t(s, dir, "lineitem").filter($"l_shipdate" > cut)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val one = lit(1).cast(D6)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dbl4(sum(d12($"l_extendedprice") * (one - d6($"l_discount"))))
        .as("revenue"))
      .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
      .limit(10)
  }

  /** TPC-H Q5 shape — "local supplier volume": the 6-table star/snowflake
    * join (region → nation → customer/supplier ⋈ orders ⋈ lineitem) with
    * the customer-nation = supplier-nation locality predicate, revenue
    * per nation over one order year. The dimension chain (region,
    * nation, supplier) broadcasts end-to-end; the only shuffles are the
    * two fact joins and the final ≤|nations| aggregate — the plan a
    * 1000-executor cluster wants. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val r = Tables.t(s, dir, "region").filter($"r_name" === "ASIA")
    val n = Tables.t(s, dir, "nation")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val c = Tables.t(s, dir, "customer").select($"c_custkey", $"c_nationkey")
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      .select($"o_orderkey", $"o_custkey")
    val sup = Tables.t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
    val l = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
    val one = lit(1).cast(D6)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" === $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(dbl4(sum(d12($"l_extendedprice") * (one - d6($"l_discount"))))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** TPC-H Q10 shape — "returned items": the churn-risk readout of a
    * customer-360: customers ranked by revenue lost to returns
    * (l_returnflag = 'R') over one order year, with their geography.
    * The third classic planner shape next to Q3/Q5: two fact joins,
    * a customer-grain aggregate that carries the display columns in
    * the GROUP BY (no re-join), broadcast nation, and a top-20 that
    * fuses to TakeOrderedAndProject. Revenue runs the [[Det]] decimal
    * chain; (lost_revenue DESC, c_custkey) is a total order. */
  def returnedItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val c = Tables.t(s, dir, "customer")
    val n = Tables.t(s, dir, "nation")
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      .select($"o_orderkey", $"o_custkey")
    val l = Tables.t(s, dir, "lineitem").filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val one = lit(1).cast(D6)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"c_mktsegment", $"n_name")
      .agg(dbl4(sum(d12($"l_extendedprice") * (one - d6($"l_discount"))))
        .as("lost_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"lost_revenue".desc, $"c_custkey")
      .limit(20)
  }

  /** TPC-H Q4 shape — "order priority checking": per priority, how many
    * orders of one quarter had at least one SLOW line item (shipped
    * ≥ 90 days after the order date — the corpus's analogue of Q4's
    * commit-vs-receipt lateness). The EXISTS decorrelates to a LEFT
    * SEMI join: equi on the order key with the lateness range predicate
    * as the join residual — each order contributes at most once no
    * matter how many items were late, and the probe side carries only
    * (orderkey, shipdate). The fourth classic planner shape (semi-join
    * dedup) next to Q3/Q5/Q10. */
  def orderPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-07-01").cast("timestamp")
    val hi = lit("1996-10-01").cast("timestamp")
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val l = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_shipdate")
    o.join(l, $"o_orderkey" === $"l_orderkey" &&
        $"l_shipdate" >= $"o_orderdate" + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** TPC-H Q6 shape — the "forecast revenue change" single-row scan
    * aggregate, the canonical PUSHDOWN showcase: all three predicates
    * (ship year, discount band, quantity cap) are scan-level parquet
    * filters, so the plan is scan → one-stage partial+final agg with
    * no join, no shuffle beyond the O(partitions) agg merge. Revenue =
    * exact decimal Σ price·discount (the d12×d6 product stays well
    * inside the 38-digit cap), ROUND 4 before the double cast. */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lo && $"l_shipdate" < hi &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
        $"l_quantity" < 24)
      .agg(dbl4(sum(d12($"l_extendedprice") * d6($"l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q14 shape — "promo revenue share": the conditional-share
    * aggregate (what fraction of one month's revenue came from one
    * part type) with the part dimension BROADCAST into the filtered
    * fact scan. Both numerator and denominator ride the same exact
    * decimal sum in ONE pass (a conditional agg, not two scans); the
    * final share is a single double division on identical operands in
    * both engines, ROUND 4. */
  def typeShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-06-01").cast("timestamp")
    val hi = lit("1996-07-01").cast("timestamp")
    val p = Tables.t(s, dir, "part").select($"p_partkey", $"p_type")
    val one = lit(1).cast(D6)
    Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lo && $"l_shipdate" < hi)
      .join(broadcast(p), $"l_partkey" === $"p_partkey")
      .agg(
        dbl4(sum(when($"p_type" === "ECONOMY",
          d12($"l_extendedprice") * (one - d6($"l_discount")))))
          .as("promo_revenue"),
        dbl4(sum(d12($"l_extendedprice") * (one - d6($"l_discount"))))
          .as("total_revenue"))
      .select($"promo_revenue", $"total_revenue",
        r4($"promo_revenue" / $"total_revenue" * 100).as("promo_share_pct"))
  }

  /** TPC-H Q8 shape — "national market share": one supplier nation's
    * share of a region's customer revenue, per order year. The share
    * is a conditional decimal sum over the SAME aggregation pass
    * (numerator rides a CASE inside the denominator's groupBy — never
    * two scans), and the whole dimension chain (region → nation ×2)
    * broadcasts. Year extraction is calendar-exact on both engines.
    * Share is integer ppm (exact decimal÷decimal avoided: ppm =
    * num_cents·10⁶ div den_cents on the exact integer grid). */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = Tables.t(s, dir, "region").filter($"r_name" === "ASIA")
    val n = Tables.t(s, dir, "nation")
    val custN = Tables.t(s, dir, "customer")
      .join(broadcast(n.join(broadcast(r),
        $"n_regionkey" === $"r_regionkey").select($"n_nationkey")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val supN = Tables.t(s, dir, "supplier")
      .join(broadcast(n.select($"n_nationkey".as("sn_key"), $"n_name")),
        $"s_nationkey" === $"sn_key")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        year($"o_orderdate").as("o_year"))
    val l = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey",
        expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("rev_c"))
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(custN, $"o_custkey" === $"c_custkey")
      .join(broadcast(supN), $"l_suppkey" === $"s_suppkey")
      .groupBy($"o_year")
      .agg(sum(when($"supp_nation" === "NATION_3", $"rev_c").otherwise(0L))
        .as("nation_c"),
        sum($"rev_c").as("total_c"))
      .select($"o_year",
        ($"nation_c".cast("double") / 100.0).as("nation_revenue"),
        ($"total_c".cast("double") / 100.0).as("total_revenue"),
        expr("nation_c * 1000000 div total_c").as("share_ppm"))
      .orderBy($"o_year")
  }

  /** TPC-H Q19 shape — disjunctive bracket pricing: revenue from three
    * OR'd (brand, size-range, quantity-range) condition classes over
    * lineitem ⋈ part. The planner showcase here is predicate
    * DECOMPOSITION: the common parts of the disjunction
    * (quantity ≤ 30, size ≥ 1) are factored out and pushed to the
    * scans, while the cross-table OR evaluates post-join — exactly
    * what Catalyst's CNF conversion does with the declarative form.
    * Revenue runs the exact decimal chain. */
  def disjunctivePricing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.t(s, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_size")
    val l = Tables.t(s, dir, "lineitem")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
    val one = lit(1).cast(D6)
    val cls1 = $"p_brand" === "Brand#2" && $"p_size".between(1, 10) &&
      $"l_quantity".between(1, 11)
    val cls2 = $"p_brand" === "Brand#17" && $"p_size".between(1, 20) &&
      $"l_quantity".between(10, 20)
    val cls3 = $"p_brand" === "Brand#4" && $"p_size".between(1, 30) &&
      $"l_quantity".between(20, 30)
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .filter(cls1 || cls2 || cls3)
      .agg(dbl4(sum(d12($"l_extendedprice") * (one - d6($"l_discount"))))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q15 shape — "top supplier": revenue per supplier over one
    * quarter, then the supplier(s) achieving the GLOBAL max — the
    * aggregate-of-aggregate planner shape (the max is a 1-row
    * broadcast joined back by equality, never a global sort). Exact
    * integer-cents revenue keeps the max comparison exact (a double
    * tie at the top would be engine-dependent). */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val rev = Tables.t(s, dir, "lineitem").as("l")
      .join(Tables.t(s, dir, "orders").as("o"),
        $"l.l_orderkey" === $"o.o_orderkey")
      .filter($"o.o_orderdate" >= lo && $"o.o_orderdate" < hi)
      .groupBy($"l.l_suppkey".as("s_suppkey"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("rev_c"))
    val mx = rev.agg(max($"rev_c").as("max_c"))
    rev.join(broadcast(mx), $"rev_c" === $"max_c")
      .join(broadcast(Tables.t(s, dir, "supplier")
        .select($"s_suppkey".as("sk"), $"s_name")), $"s_suppkey" === $"sk")
      .select($"s_suppkey", $"s_name",
        ($"rev_c".cast("double") / 100.0).as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  /** TPC-H Q17 shape — "small-quantity-order revenue": line items
    * below 20% of their part's average quantity, total revenue ÷ 7
    * (the weekly-average convention). The correlated per-part average
    * decorrelates to one part-keyed aggregate joined back on the SAME
    * key partitioning; the threshold comparison is one fixed IEEE
    * chain (0.2 × avg on identical operands), and revenue runs the
    * exact decimal chain before the single ÷7. */
  def smallOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.t(s, dir, "lineitem")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val avgQ = l.groupBy($"l_partkey".as("pk"))
      .agg((sum(expr("CAST(ROUND(l_quantity) AS BIGINT)")).cast("double") /
        count(lit(1)).cast("double")).as("avg_qty"))
    l.join(avgQ, $"l_partkey" === $"pk")
      .filter($"l_quantity" < $"avg_qty" * 0.2)
      .agg(count(lit(1)).as("n_items"),
        r4(sum(d12($"l_extendedprice")).cast("double") / 7.0)
          .as("avg_weekly_revenue"))
  }

  /** TPC-H Q18 shape — "large-volume orders": orders whose TOTAL line
    * quantity clears a threshold (the HAVING-driven semi filter),
    * joined back to the customer, top-20 by quantity. The aggregate
    * feeds the join — not a correlated subquery — so the plan is one
    * orderkey-grain aggregation reused as the probe side. Quantity is
    * an exact integer sum; (qty DESC, orderkey) totals the order. */
  def bigOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables.t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sum(expr("CAST(ROUND(l_quantity) AS BIGINT)")).as("total_qty"))
      .filter($"total_qty" >= 180)
    Tables.t(s, dir, "orders")
      .join(q, $"o_orderkey" === $"l_orderkey")
      .join(Tables.t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
        $"total_qty")
      .orderBy($"total_qty".desc, $"o_orderkey")
      .limit(20)
  }

  /** TPC-H Q22 shape — "lapsed sales opportunity": customers with an
    * ABOVE-AVERAGE positive balance and NO order in the corpus's final
    * two years (the NOT-EXISTS anti join over a broadcast scalar
    * threshold — every corpus customer has SOME order, so the lapse
    * window is what makes the cohort real), counted per nation with
    * their aggregate balance. The scalar average is a 1-row
    * broadcast; the anti join probes only the recent-orders key set.
    * Exact integer-cents balance sums. */
  def lostProspects(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val avgBal = Tables.t(s, dir, "customer")
      .filter($"c_acctbal" > 0.0)
      .agg((sum(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
        .cast("double") / count(lit(1)).cast("double")).as("avg_c"))
    Tables.t(s, dir, "customer")
      .crossJoin(broadcast(avgBal))
      .filter(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)") > $"avg_c")
      .join(Tables.t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1999-08-01").cast("timestamp"))
        .select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_prospects"),
        (sum(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
          .cast("double") / 100.0).as("total_balance"))
      .orderBy($"c_nationkey")
  }

  /** TPC-H Q7 shape — cross-border trade flows: revenue shipped between
    * two chosen nations (supplier side vs customer side), per direction
    * per ship year. The planner showcase is the ASYMMETRIC dimension
    * treatment: the supplier→nation side is a bounded catalog dimension
    * (broadcast end-to-end), while the customer→nation side is
    * corpus-sized even after the 2-of-25-nations filter — it shuffles
    * on its join key like the fact it annotates. Fact side shuffles
    * exactly twice (orderkey, custkey); revenue on the exact
    * integer-cents grid. */
  def tradeFlows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.t(s, dir, "nation")
    val supN = Tables.t(s, dir, "supplier")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .filter($"n_name".isin("NATION_3", "NATION_8"))
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val custN = Tables.t(s, dir, "customer")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .filter($"n_name".isin("NATION_3", "NATION_8"))
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val li = Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
    li.join(broadcast(supN), $"l_suppkey" === $"s_suppkey")
      .join(Tables.t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(custN, $"o_custkey" === $"c_custkey")
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate".cast("date")).cast("int").as("ship_year"))
      .agg((sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .cast("double") / 100.0).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"supp_nation", $"cust_nation", $"ship_year")
  }

  /** TPC-H Q13 shape — customer order-count distribution: how many
    * customers placed 0, 1, 2, … qualifying orders (urgent orders
    * excluded — the Q13 filtered-join character; zero-order customers
    * are the point of the LEFT join). The classic two-phase aggregate:
    * orders collapse per custkey FIRST (map-combinable count — the
    * shuffle carries one row per customer, never raw orders), the
    * customer spine left-joins the counts on the same custkey
    * partitioning, and the O(distinct counts) histogram is a
    * near-free rollup. (custdist, c_count) descending is a total
    * order because c_count is the group key. */
  def orderDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ocnt = Tables.t(s, dir, "orders")
      .filter($"o_orderpriority" =!= "1-URGENT")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_ord"))
    Tables.t(s, dir, "customer")
      .join(ocnt, $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"n_ord", lit(0L)).as("c_count"))
      .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val queries: Map[String, Q] = Map(
    "q_c360_big_orders" -> (bigOrders _),
    "q_c360_lost_prospects" -> (lostProspects _),
    "q_c360_trade_flows" -> (tradeFlows _),
    "q_c360_order_dist" -> (orderDist _),
    "q_c360_top_supplier" -> (topSupplier _),
    "q_c360_small_orders" -> (smallOrders _),
    "q_c360_market_share" -> (marketShare _),
    "q_c360_disjunctive" -> (disjunctivePricing _),
    "q_c360_forecast_revenue" -> (forecastRevenue _),
    "q_c360_type_share" -> (typeShare _),
    "q_c360_order_priority" -> (orderPriority _),
    "q_c360_returns" -> (returnedItems _),
    "q_c360_shipping_priority" -> (shippingPriority _),
    "q_c360_local_volume" -> (localSupplierVolume _),
    "q_c360_profile" -> (profile _),
    "q_c360_scored" -> (scoredProfile _),
    "q_feat_attribution" -> (attribution _),
    "q_audience_overlap" -> (audienceOverlap _)
  )

  private val pivotCols = eventTypes.map(t =>
    s"  COALESCE(${t}_cnt, 0) AS ${t}_cnt").mkString(",\n")
  private val pivotAggs = eventTypes.map(t =>
    s"    COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS ${t}_cnt")
    .mkString(",\n")

  val oracle: Map[String, String] = Map(
    "q_c360_trade_flows" ->
      """WITH supN AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_8')),
        |custN AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_8'))
        |SELECT sn.supp_nation, cn.cust_nation,
        |  CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
        |  CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN supN sn ON l.l_suppkey = sn.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN custN cn ON o.o_custkey = cn.c_custkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND sn.supp_nation <> cn.cust_nation
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_c360_order_dist" ->
      """WITH ocnt AS (
        |  SELECT o_custkey, COUNT(*) AS n_ord FROM orders
        |  WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey)
        |SELECT COALESCE(n_ord, 0) AS c_count,
        |  COUNT(*) AS custdist
        |FROM customer LEFT JOIN ocnt ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_c360_big_orders" ->
      """WITH q AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) >= 180)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        |  q.total_qty
        |FROM orders o
        |JOIN q ON o.o_orderkey = q.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY q.total_qty DESC, o.o_orderkey
        |LIMIT 20""".stripMargin,
    "q_c360_lost_prospects" ->
      """WITH ab AS (
        |  SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
        |    AS DOUBLE) / COUNT(*) AS avg_c
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c.c_nationkey, COUNT(*) AS n_prospects,
        |  CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_balance
        |FROM customer c CROSS JOIN ab
        |WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) > ab.avg_c
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >=
        |                      TIMESTAMP '1999-08-01 00:00:00')
        |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin,
    "q_c360_top_supplier" ->
      """WITH rev AS (
        |  SELECT l.l_suppkey AS s_suppkey,
        |    CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1),
        |mx AS (SELECT MAX(rev_c) AS max_c FROM rev)
        |SELECT r.s_suppkey, s.s_name,
        |  CAST(r.rev_c AS DOUBLE) / 100.0 AS total_revenue
        |FROM rev r JOIN mx ON r.rev_c = mx.max_c
        |JOIN supplier s ON r.s_suppkey = s.s_suppkey
        |ORDER BY r.s_suppkey""".stripMargin,
    "q_c360_small_orders" ->
      """WITH avgq AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE)
        |      / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_items,
        |  ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4)))
        |    AS DOUBLE) / 7.0, 4) AS avg_weekly_revenue
        |FROM lineitem l JOIN avgq ON l.l_partkey = avgq.pk
        |WHERE l.l_quantity < avgq.avg_qty * 0.2""".stripMargin,
    "q_c360_market_share" ->
      """WITH custN AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |supN AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |j AS (
        |  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |    sn.supp_nation,
        |    CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
        |      AS BIGINT) AS rev_c
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN custN c ON o.o_custkey = c.c_custkey
        |  JOIN supN sn ON l.l_suppkey = sn.s_suppkey)
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0 END)
        |    AS DOUBLE) / 100.0 AS nation_revenue,
        |  CAST(SUM(rev_c) AS DOUBLE) / 100.0 AS total_revenue,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0 END)
        |    AS BIGINT) * 1000000 // CAST(SUM(rev_c) AS BIGINT) AS share_ppm
        |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_c360_disjunctive" ->
      """SELECT
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))),
        |    4) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 20
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 30
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_c360_forecast_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |    * CAST(l_discount AS DECIMAL(6,4))), 4) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_c360_type_share" ->
      """WITH m AS (
        |  SELECT
        |    CAST(ROUND(SUM(CASE WHEN p.p_type = 'ECONOMY'
        |      THEN CAST(l.l_extendedprice AS DECIMAL(12,4))
        |        * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))
        |      END), 4) AS DOUBLE) AS promo_revenue,
        |    CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |      * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))),
        |      4) AS DOUBLE) AS total_revenue
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1996-07-01 00:00:00')
        |SELECT promo_revenue, total_revenue,
        |  ROUND(promo_revenue / total_revenue * 100, 4) AS promo_share_pct
        |FROM m""".stripMargin,
    "q_c360_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_c360_returns" ->
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))),
        |    4) AS DOUBLE) AS lost_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY c.c_custkey, c.c_name, c.c_mktsegment, n.n_name
        |ORDER BY lost_revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin,
    "q_c360_shipping_priority" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))),
        |    4) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        |LIMIT 10""".stripMargin,
    "q_c360_local_volume" ->
      """SELECT n.n_name,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))),
        |    4) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND c.c_nationkey = s.s_nationkey
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n.n_name""".stripMargin,
    "q_feat_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000) * 100000
        |      + event_id AS k
        |  FROM events),
        |t AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN k END)
        |    OVER (PARTITION BY user_id ORDER BY k
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pk
        |  FROM e),
        |j AS (
        |  SELECT a.event_type, a.next_pk AS pk,
        |    CAST(ROUND(p.value * 10000, 0) AS BIGINT) AS v4
        |  FROM t a JOIN t p ON a.next_pk = p.k AND a.user_id = p.user_id
        |  WHERE a.event_type <> 'purchase' AND p.us - a.us <= 604800000000),
        |sized AS (
        |  SELECT event_type, pk, v4,
        |    COUNT(*) OVER (PARTITION BY pk) AS n
        |  FROM j)
        |SELECT event_type, COUNT(*) AS touches,
        |  COUNT(DISTINCT pk) AS purchases,
        |  CAST(SUM(v4 // n) AS DOUBLE) / 10000 AS credit
        |FROM sized GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS both_users
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, both_users,
        |  ROUND(CAST(both_users AS DOUBLE) / (ta.n + tb.n - both_users), 4)
        |    AS jaccard
        |FROM p JOIN tot ta ON type_a = ta.event_type
        |       JOIN tot tb ON type_b = tb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q_c360_profile" ->
      s"""WITH md AS (SELECT CAST(max(o_orderdate) AS DATE) AS maxd FROM orders),
         |of AS (
         |  SELECT o_custkey,
         |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)), max(maxd)) AS INTEGER) AS recency_days,
         |    COUNT(*) AS frequency,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS monetary,
         |    COUNT(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), maxd) < 30 THEN 1 END) AS n_30d,
         |    COALESCE(CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), maxd) < 90 THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE), 0.0) AS spend_90d
         |  FROM orders CROSS JOIN md GROUP BY o_custkey),
         |act AS (
         |  SELECT user_id,
         |$pivotAggs
         |  FROM events GROUP BY user_id)
         |SELECT c_custkey, c_name, c_mktsegment, n_name, r_name,
         |  COALESCE(recency_days, -1) AS recency_days,
         |  COALESCE(frequency, 0) AS frequency,
         |  COALESCE(monetary, 0.0) AS monetary,
         |  COALESCE(n_30d, 0) AS n_30d,
         |  COALESCE(spend_90d, 0.0) AS spend_90d,
         |$pivotCols
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |LEFT JOIN of ON c_custkey = o_custkey
         |LEFT JOIN act ON c_custkey = user_id
         |ORDER BY c_custkey""".stripMargin
  )
}
