package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** SURVEY.md §2.C — join surface.
  *
  * Scale notes (100 TB stance):
  *  - dims (region/nation/part-probe) are `broadcast()` — no shuffle of
  *    the fact side;
  *  - fact⋈fact equi-joins shuffle on their keys and AQE handles skew;
  *  - the theta/range join is BNLJ by nature, so the probe side is
  *    explicitly bounded (broadcast probe × streamed big side keeps pair
  *    count O(1e7) at bench scale);
  *  - the as-of join is the window formulation (sort within user
  *    partition), which scales as one shuffle by user_id — no native
  *    Spark as-of exists.
  */
object Joins extends OpModule {
  import Det._

  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.t(s, dir, "nation")
    val r = Tables.t(s, dir, "region")
    n.join(broadcast(r), $"n_regionkey" === $"r_regionkey", "inner")
      .select($"n_nationkey", $"n_name", $"r_regionkey", $"r_name")
      .orderBy($"n_nationkey")
  }

  def joinShuffleChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders")
    val l = Tables.t(s, dir, "lineitem")
    val one = lit(1).cast(D6)
    c.join(o, $"c_custkey" === $"o_custkey")
      .join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        dbl4(sum(d12($"l_extendedprice") * (one - d6($"l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"c_custkey")
  }

  def joinLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders")
    c.join(o, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count($"o_orderkey").as("n_orders"),
        coalesce(sumMoney($"o_totalprice"), lit(0.0)).as("spend"))
      .orderBy($"c_custkey")
  }

  def joinFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
      .filter($"c_acctbal" > 5000)
      .select($"c_custkey", $"c_acctbal")
    val ev = Tables.t(s, dir, "events")
      .filter($"user_id" < 1000)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sumMoney($"value").as("sum_value"))
    c.join(ev, $"c_custkey" === $"user_id", "full")
      .select(
        coalesce($"c_custkey", $"user_id").as("ukey"),
        $"c_acctbal", $"n_events", $"sum_value")
      .orderBy($"ukey")
  }

  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
    val purchases = Tables.t(s, dir, "events")
      .filter($"event_type" === "purchase")
    c.join(purchases, $"c_custkey" === $"user_id", "left_semi")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
    val big = Tables.t(s, dir, "orders").filter($"o_totalprice" > 100000)
    c.join(big, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  def joinCross(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = Tables.t(s, dir, "region")
    val sup = Tables.t(s, dir, "supplier")
    r.crossJoin(sup)
      .select($"r_regionkey", $"r_name", $"s_suppkey", $"s_name")
      .orderBy($"r_regionkey", $"s_suppkey")
  }

  /** Non-equi self-join: price-band pairs. Probe side bounded to
    * p_partkey < 500 so the BNLJ pair count stays ≤ 1e7 at bench scale;
    * the bounded probe is broadcast, the full table streams. */
  def joinThetaRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = Tables.t(s, dir, "part")
    val p1 = part.filter($"p_partkey" < 500)
      .select($"p_partkey".as("a_key"), $"p_retailprice".as("a_price"))
    val p2 = part
      .select($"p_partkey".as("b_key"), $"p_retailprice".as("b_price"))
    broadcast(p1).join(p2,
        $"b_price".between($"a_price" * 0.99, $"a_price" * 1.01) &&
        $"a_key" < $"b_key")
      .select($"a_key", $"b_key", $"a_price", $"b_price")
      .orderBy($"a_key", $"b_key")
  }

  /** The same price-band semantics as [[joinThetaRange]] but as a
    * BINNED EQUI-JOIN — the 100-TB shape for range joins. Each probe
    * row explodes into the fixed-width price bins its band overlaps
    * (2–3 bins at 1% width), the build side keys by its own bin, and
    * the exact BETWEEN predicate filters the equi-join's candidates.
    * Candidate count is rows × bins-per-row × rows-per-bin instead of
    * |probe|×|build| — which is why the probe bound can be 4× looser
    * than the BNLJ's and still run faster. A pair can only meet in the
    * build row's single home bin, so no dedup is needed. */
  def joinRangeBinned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val binW = 25.0
    val part = Tables.t(s, dir, "part")
    val a = part.filter($"p_partkey" < 2000)
      .select($"p_partkey".as("a_key"), $"p_retailprice".as("a_price"))
      .select($"a_key", $"a_price",
        explode(sequence(
          floor($"a_price" * 0.99 / binW).cast("long"),
          floor($"a_price" * 1.01 / binW).cast("long"))).as("bin"))
    val b = part
      .select($"p_partkey".as("b_key"), $"p_retailprice".as("b_price"),
        floor($"p_retailprice" / binW).cast("long").as("bin"))
    a.join(b, Seq("bin"))
      .filter($"b_price".between($"a_price" * 0.99, $"a_price" * 1.01) &&
        $"a_key" < $"b_key")
      .groupBy($"a_key")
      .agg(count(lit(1)).as("n_matches"),
        min($"b_key").as("min_b"), max($"b_key").as("max_b"),
        sum(Det.d12($"b_price")).cast("double").as("sum_b_price"))
      .orderBy($"a_key")
  }

  /** The SAME price-band semantics as [[joinRangeBinned]] through the
    * NATIVE band-join operator ([[graft.plans.BandJoinStrategy]] —
    * custom logical node + strategy + execs, the engine's third
    * whole-operator plan): identical binning and identical oracle
    * text, but the per-bin generic join + post-BETWEEN-filter is
    * replaced by a native band exec — a bounded right side
    * broadcasts, otherwise both sides shuffle on the bin into the
    * radix-sorted per-bin PROBE (binary search per left row, no
    * candidate over-emission). Hash-graded against the same DuckDB SQL
    * as the composition, so the two engines pin each other. */
  def joinRangeNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = Tables.t(s, dir, "part")
    val a = part.filter($"p_partkey" < 2000)
      .select($"p_partkey".as("a_key"), $"p_retailprice".as("a_price"))
    val b = part
      .select($"p_partkey".as("b_key"), $"p_retailprice".as("b_price"))
    org.apache.spark.sql.graft.GraftFunctions
      .bandJoin(a, "a_price", b, "b_price", 0.99, 1.01, 25.0)
      .filter($"a_key" < $"b_key")
      .groupBy($"a_key")
      .agg(count(lit(1)).as("n_matches"),
        min($"b_key").as("min_b"), max($"b_key").as("max_b"),
        sum(Det.d12($"b_price")).cast("double").as("sum_b_price"))
      .orderBy($"a_key")
  }

  /** Day-of-month-aligned event⋈order join (events are 2024, orders
    * 1995–2001, so a pure time-interval join is empty by construction —
    * see FIXTURES.md). Composite equi key (user, day) + value range. */
  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val o = Tables.t(s, dir, "orders")
    e.join(o,
        $"user_id" === $"o_custkey" &&
        dayofmonth($"ts") === dayofmonth($"o_orderdate") &&
        $"o_totalprice".between($"value" * 500, $"value" * 5000))
      .select($"event_id", $"o_orderkey", $"user_id")
      .orderBy($"event_id", $"o_orderkey")
  }

  /** TRUE temporal interval join, events × events (round 13 — the
    * capability [[joinInterval]] proves only indirectly, graded under
    * its own name now that both sides share an epoch): every error
    * event joined to every purchase event whose timestamp falls in
    * the error's ±1 h window — the incident-correlation primitive
    * ("what was bought around each failure") with NO equi key at all,
    * the shape that turns into a full cartesian BNLJ if written
    * naively. Answered by the native affine band join on packed µs
    * time keys ([[graft.plans.BandJoinStrategy]] with factors 1 and
    * offsets ∓3.6e9 µs): both sides bin by 2 h of time — bin width =
    * band width, so each error lands in ≤ 2 bins — and the native
    * exec's per-bin value index IS the ±1 h predicate. Candidates =
    * band occupancy, never |errors|×|purchases|; at 100 TB the only
    * movement is one time-binned shuffle per side (or a broadcast
    * when one side is bounded), and a hot bin costs its own
    * occupancy (one band wide), not |bin|². µs offsets are exact in
    * DOUBLE (month span ≪ 2^53), so the boundary semantics are
    * bit-identical to the oracle's timestamp BETWEEN. */
  def joinIntervalEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val base = lit(1704067200000000L) // unix_micros 2024-01-01T00:00Z
    val err = e.filter($"event_type" === "error")
      .select($"event_id".as("err_id"),
        (unix_micros($"ts") - base).cast("double").as("err_us"))
    val pur = e.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"),
        (unix_micros($"ts") - base).cast("double").as("p_us"))
    org.apache.spark.sql.graft.GraftFunctions
      .bandJoinOffset(err, "err_us", pur, "p_us",
        -3600e6, 3600e6, 7200e6)
      .groupBy($"err_id")
      .agg(count(lit(1)).as("n_purchases"),
        min($"p_id").as("min_p"), max($"p_id").as("max_p"))
      .orderBy($"err_id")
  }

  /** As-of: for each purchase event, the user's most recent strictly
    * prior event of any other type. (ts, event_id) is packed into one
    * BIGINT sort key (µs offset within 2024 × 1e5 + event_id, exact —
    * event_id < 1e5 at every sf) so a single conditional-max window
    * computes the arg-max portably in both engines. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val base = lit(1704067200000000L) // unix_micros 2024-01-01T00:00Z
    val key = when($"event_type" =!= "purchase",
      (unix_micros($"ts") - base) * 100000L + $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("prior_key", max(key).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id",
        ($"prior_key" % 100000L).as("prior_event_id"))
      .orderBy($"event_id")
  }

  /** As-of join WITH a staleness tolerance — the feature-store variant
    * every serving stack actually runs ([[joinAsof]] takes the last
    * prior touch no matter how old; a model must NOT join features
    * staler than its freshness SLA): same packed-key single-window
    * as-of, but the match is kept only when the prior touch is within
    * 1 hour of the purchase — older matches surface as NULL (feature
    * missing) rather than silently stale. The packed key already
    * carries the prior's µs offset (key div 10⁵), so staleness is one
    * exact integer subtraction — no second window, no join.
    *
    * Scale shape: identical to [[joinAsof]] — one user-bounded window
    * over the shared user exchange; the tolerance test is a stateless
    * map. */
  def joinAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val base = lit(1704067200000000L) // unix_micros 2024-01-01T00:00Z
    val key = when($"event_type" =!= "purchase",
      (unix_micros($"ts") - base) * 100000L + $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("prior_key", max(key).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("gap_us",
        (unix_micros($"ts") - base) - expr("prior_key div 100000"))
      .select($"event_id", $"user_id",
        when($"gap_us" <= 3600000000L, $"prior_key" % 100000L)
          .as("prior_event_id"),
        when($"gap_us" <= 3600000000L, $"gap_us").as("staleness_us"))
      .orderBy($"event_id")
  }

  /** The same as-of query as [[joinAsof]], answered by the NATIVE
    * operator ([[graft.plans.AsOfJoinExec]] via the imperative builder)
    * instead of the union+window composition: purchases as-of join the
    * non-purchase stream on (user, packed ts|id key). Same rows, same
    * oracle — the point is the PLAN: two co-partitioned sorts and one
    * O(n+m) constant-state merge per partition, no window over the
    * union (plan shape pinned in PlanSpec, equality with the window
    * form pinned in ScalaTest). */
  def joinAsofNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val base = lit(1704067200000000L)
    val packed = (unix_micros($"ts") - base) * 100000L + $"event_id"
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", packed.as("k"))
    val touches = e.filter($"event_type" =!= "purchase")
      .select($"user_id".as("r_user"), packed.as("r_k"))
    org.apache.spark.sql.graft.GraftFunctions.asofJoin(
        purchases, touches, "user_id", "k", "r_user", "r_k")
      .select($"event_id", $"user_id",
        ($"r_k" % 100000L).as("prior_event_id"))
      .orderBy($"event_id")
  }

  /** Nearest-event join — for each purchase, the temporally NEAREST
    * non-purchase event of the same user within ±1 hour (|Δus|; tie →
    * the earlier side; within a side, same-µs ties break by event_id
    * toward the packed-key order). Composed from TWO passes of the
    * native as-of operator: backward as-of for the latest prior touch,
    * then a forward as-of obtained by running backward as-of over the
    * NEGATED packed keys. The second pass's left side is the first
    * pass's output, whose exec preserves the hash(user) clustering —
    * so the purchases shuffle once and only re-sort for pass two
    * (pinned in PlanSpec: exactly 3 hash exchanges, one per scan). */
  /** FORWARD as-of through the native operator — the "next action
    * after the purchase" lookup ([[graft.plans.AsOfJoinExec]] via
    * `asofJoinForward`'s ts-negation, so the SAME exec serves both
    * directions): each purchase gains the EARLIEST same-user
    * non-purchase event strictly after it on the packed
    * (µs, event_id) key. Two key-clustered shuffles + one O(n+m)
    * merge per partition — identical scale shape to the backward op. */
  def joinAsofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val base = lit(1704067200000000L)
    val packed = (unix_micros($"ts") - base) * 100000L + $"event_id"
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", packed.as("k"))
    val touches = e.filter($"event_type" =!= "purchase")
      .select($"user_id".as("r_user"), packed.as("r_k"))
    org.apache.spark.sql.graft.GraftFunctions.asofJoinForward(
        purchases, touches, "user_id", "k", "r_user", "r_k")
      .select($"event_id", $"user_id",
        ($"r_k" % 100000L).as("next_event_id"))
      .orderBy($"event_id")
  }

  def joinNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val base = lit(1704067200000000L)
    val us = unix_micros($"ts")
    val packed = (us - base) * 100000L + $"event_id"
    val purch = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", us.as("pus"), packed.as("k"))
    val touchB = e.filter($"event_type" =!= "purchase")
      .select($"user_id".as("bu"), us.as("bus"), $"event_id".as("b_id"),
        packed.as("b_k"))
    val touchF = e.filter($"event_type" =!= "purchase")
      .select($"user_id".as("fu"), us.as("fus"), $"event_id".as("f_id"),
        (-packed).as("f_nk"))
    val back = org.apache.spark.sql.graft.GraftFunctions.asofJoin(
      purch, touchB, "user_id", "k", "bu", "b_k")
    val both = org.apache.spark.sql.graft.GraftFunctions.asofJoin(
      back.withColumn("nk", -$"k"), touchF, "user_id", "nk", "fu", "f_nk")
    val hour = 3600000000L
    val db = $"pus" - $"bus"
    val df_ = $"fus" - $"pus"
    val backOk = $"b_id".isNotNull && db <= hour
    val fwdOk = $"f_id".isNotNull && df_ <= hour
    both
      .filter(backOk || fwdOk)
      .select($"event_id", $"user_id",
        when(backOk && (!fwdOk || db <= df_), $"b_id").otherwise($"f_id")
          .as("nearest_event_id"),
        when(backOk && (!fwdOk || db <= df_), db).otherwise(df_)
          .as("delta_us"),
        when(backOk && (!fwdOk || db <= df_), lit("back"))
          .otherwise(lit("fwd")).as("dir"))
      .orderBy($"event_id")
  }

  /** Salted skew join, end-to-end: events (the big, potentially skewed
    * side) joined to customer through `SkewJoin.salted` — each hot
    * user_id is spread over 8 salt partitions, the dimension side is
    * exploded 8× with every salt. The aggregate is provably identical
    * to the plain join (the salt key is surgery on the key space, not
    * semantics; InfraSpec pins plain≡salted row equality). At 100 TB
    * this is the manual fallback when one pathological key defeats
    * AQE's post-shuffle skew split. */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events").select($"user_id", $"value")
    val c = Tables.t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
    graft.plans.SkewJoin.salted(e, c, "user_id", "c_custkey", 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sumMoney($"value").as("val_sum"))
      .orderBy($"c_mktsegment")
  }

  /** Bucketed co-located join, end-to-end in the graded path: both
    * sides are written `bucketBy(8, key).sortBy(key)` as managed
    * tables, then merge-joined and aggregated ON the bucket key — with
    * the co-bucketed layout the whole join+agg needs ZERO shuffle
    * exchanges (pinned in PlanSpec). This is the layout that turns the
    * recurring 100-TB fact⋈fact join into a map-side merge. The write
    * is part of the op (it is the layout under test), re-done per run. */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = dir.replaceAll("[^A-Za-z0-9]", "_")
    val db = "graft_t2"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val ot = s"orders_b_$key"
    val ct = s"customer_b_$key"
    val warehouse = new java.net.URI(
      s.conf.get("spark.sql.warehouse.dir")).getPath
    Seq(ot, ct).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $db.$t")
      // a crashed run can leave the managed location behind without a
      // catalog entry — clear it or the write fails (location derived
      // from the session's warehouse dir, not a cwd-relative guess)
      val loc = new java.io.File(s"$warehouse/$db.db/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Tables.t(s, dir, "orders").write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(s"$db.$ot")
    Tables.t(s, dir, "customer").write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(s"$db.$ct")
    s.table(s"$db.$ot")
      .hint("merge") // toy scale would broadcast; force the SMJ path
      .join(s.table(s"$db.$ct"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey")
      .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("spend"))
      .orderBy($"c_custkey")
  }

  /** Point-in-time training-set assembly — the feature-store join that
    * makes offline training match online serving: each label (purchase
    * event) is joined to the LATEST feature snapshot at-or-before its
    * timestamp, never a later one (leakage) and never a stale pick when
    * a newer snapshot exists. Two feature families ride one snapshot
    * table: lifetime counts/spend and a trailing-7-day activity window,
    * built for all four weekly cutoffs in ONE conditional-aggregation
    * pass over events (a per-cutoff filter loop would scan the 100-TB
    * log four times), then unpivoted map-side via inline.
    *
    * The as-of itself is the union+window form ([[joinAsof]]'s shape,
    * generalized to carry a PAYLOAD): snapshot rows (kind 0) and labels
    * (kind 1) interleave per user ordered by (time, kind), and
    * `last(snap, ignoreNulls)` over the preceding frame carries the
    * newest snapshot STRUCT forward — the whole-struct carry is what
    * keeps a legitimately-NULL feature (no purchases yet ⇒ null spend)
    * from being backfilled by an older snapshot's non-null value. One
    * shuffle by user_id, no range join, no per-label probe: the shape
    * that assembles a billion-label training set. Labels before the
    * first cutoff keep NULL features (they have no admissible
    * snapshot). */
  def featPitJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoffs = Seq("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")
    val e = Tables.t(s, dir, "events")
    val snapAggs = cutoffs.zipWithIndex.flatMap { case (d, i) =>
      val cut = lit(s"$d 00:00:00").cast("timestamp")
      val lo = cut - expr("INTERVAL 7 DAY")
      Seq(
        count(when($"ts" < cut, 1)).as(s"ne_$i"),
        sum(when($"ts" < cut && $"event_type" === "purchase",
          d12($"value"))).cast("double").as(s"sp_$i"),
        count(when($"ts" >= lo && $"ts" < cut, 1)).as(s"n7_$i"))
    }
    val snaps = e.groupBy($"user_id")
      .agg(snapAggs.head, snapAggs.tail: _*)
      .select($"user_id", inline(array(cutoffs.zipWithIndex.map {
        case (d, i) =>
          struct(lit(d).cast("date").as("snap_date"),
            col(s"ne_$i").as("f_events"),
            col(s"sp_$i").as("f_spend"),
            col(s"n7_$i").as("f_events_7d"))
      }: _*)))
    val snapRows = snaps.select($"user_id",
      $"snap_date".cast("timestamp").as("t"), lit(0).as("kind"),
      lit(null).cast("long").as("event_id"),
      struct($"snap_date", $"f_events", $"f_spend", $"f_events_7d")
        .as("snap"))
    val labels = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("t"), lit(1).as("kind"), $"event_id",
        lit(null).cast(snapRows.schema("snap").dataType).as("snap"))
    // kind orders a snapshot BEFORE labels at the same instant ⇒ a
    // label at exactly the cutoff sees that cutoff (>= semantics)
    val w = Window.partitionBy($"user_id")
      .orderBy($"t", $"kind", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    snapRows.unionByName(labels)
      .withColumn("g", last($"snap", ignoreNulls = true).over(w))
      .filter($"kind" === 1)
      .select($"event_id", $"user_id", $"g.snap_date".as("snap_date"),
        $"g.f_events".as("f_events"), $"g.f_spend".as("f_spend"),
        $"g.f_events_7d".as("f_events_7d"))
      .orderBy($"event_id")
  }

  /** Star-schema rollup — the canonical warehouse plan: one fact table
    * (lineitem) against a chain of ever-smaller dimensions
    * (orders→customer→nation→region), revenue by region and order year.
    * The two leaf dims are `broadcast()` (bounded by construction:
    * 25 nations, 5 regions — no fact shuffle for them, ever); the
    * fact⋈orders and ⋈customer hops are genuine key shuffles that AQE
    * re-plans at runtime. At 100 TB the shape is: big side shuffles
    * exactly twice (orderkey, custkey), dimension lookups ride the map
    * side — the plan every BI query on this engine should collapse to.
    * Revenue through DECIMAL (exact, order-insensitive), 4-dp double. */
  def joinStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val one = lit(1).cast(D6)
    Tables.t(s, dir, "lineitem")
      .join(Tables.t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables.t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.t(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.t(s, dir, "region")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", year($"o_orderdate").as("yr"))
      .agg(
        dbl4(sum(d12($"l_extendedprice") * (one - d6($"l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"yr")
  }

  /** Market-basket affinity — brand co-occurrence within an order, the
    * classic association-mining self-join done scalably: dedup to
    * (order, brand) FIRST (the blowup guard — pairs per order are then
    * bounded by C(brands-in-order, 2), not C(items, 2)), self-equi-join
    * on the order key with `brand_a < brand_b` so each unordered pair
    * counts once, then a Jaccard affinity from the pair count and the
    * two per-brand margins. Affinity is integer-scaled ppm
    * (n·10⁶ div (n_a + n_b − n)) — no float at the compare boundary.
    * The support gate is RELATIVE (n_both ≥ 2% of baskets, as integer
    * cross-multiply n_both·50 ≥ n_orders), so the op is scale-invariant:
    * the same query discriminates identically at any SF instead of a
    * constant silently passing everything as data grows.
    *
    * Scale shape: the self-join is an equi-join on l_orderkey — linear
    * in orders, never all-pairs across the corpus; the margin table is
    * bounded by the BRAND DOMAIN (O(25) rows), so both margin lookups
    * broadcast (contrast the O(corpus) count sides in
    * [[graft.ops.Dedup]], which are pinned never-broadcast). At 100 TB
    * the only big-data moves are the two hash exchanges of the deduped
    * (order, brand) table. */
  def basketAffinity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ob = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
      .join(broadcast(Tables.t(s, dir, "part")
        .select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand")
      .distinct()
    val margin = ob.groupBy($"p_brand").agg(count(lit(1)).as("n_m"))
    val tot = ob.agg(count_distinct($"l_orderkey").as("n_orders"))
    ob.select($"l_orderkey", $"p_brand".as("brand_a"))
      .join(ob.select($"l_orderkey", $"p_brand".as("brand_b")),
        Seq("l_orderkey"))
      .filter($"brand_a" < $"brand_b")
      .groupBy($"brand_a", $"brand_b")
      .agg(count(lit(1)).as("n_both"))
      .crossJoin(broadcast(tot))
      .filter($"n_both" * 50L >= $"n_orders")
      .join(broadcast(margin.select($"p_brand".as("brand_a"),
        $"n_m".as("n_a"))), Seq("brand_a"))
      .join(broadcast(margin.select($"p_brand".as("brand_b"),
        $"n_m".as("n_b"))), Seq("brand_b"))
      .select($"brand_a", $"brand_b", $"n_both", $"n_a", $"n_b",
        expr("n_both * 1000000 div (n_a + n_b - n_both)")
          .as("jaccard_ppm"))
      .orderBy($"brand_a", $"brand_b")
  }

  /** Runtime Bloom-filter join pruning — Spark's row-level runtime
    * filtering (the shuffle-join answer to DPP's partition pruning):
    * the selective dimension side builds a `bloom_filter_agg` at run
    * time and the fact scan probes it with `might_contain` BEFORE the
    * shuffle, so non-joining fact rows die at the scan instead of
    * crossing the wire — at 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the ~20% that can
    * join. Enabled on a CLONED session (application-side threshold
    * floored for the test corpus; broadcast disabled so the shuffle
    * join — the case runtime filtering exists for — is what's
    * exercised); the plan pin asserts both halves landed. Result ≡
    * the plain join (the filter is semantics-free). */
  def joinBloomFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ss = s.newSession()
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val o = Tables.tOn(s, ss, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.tOn(s, ss, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val one = lit(1).cast(D6)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(dbl4(sum(d12(col("l_extendedprice")) *
        (one - d6(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_year"))
  }

  val queries: Map[String, Q] = Map(
    "q_join_bloom_filtered" -> (joinBloomFiltered _),
    "q_basket_affinity" -> (basketAffinity _),
    "q_join_star" -> (joinStar _),
    "q_feat_pit_join" -> (featPitJoin _),
    "q_join_bucketed" -> (joinBucketed _),
    "q_join_salted" -> (joinSalted _),
    "q_join_broadcast" -> (joinBroadcast _),
    "q_join_shuffle_chain" -> (joinShuffleChain _),
    "q_join_left" -> (joinLeft _),
    "q_join_full" -> (joinFull _),
    "q_join_semi" -> (joinSemi _),
    "q_join_anti" -> (joinAnti _),
    "q_join_cross" -> (joinCross _),
    "q_join_theta_range" -> (joinThetaRange _),
    "q_join_range_binned" -> (joinRangeBinned _),
    "q_join_range_native" -> (joinRangeNative _),
    "q_join_interval" -> (joinInterval _),
    "q_join_interval_events" -> (joinIntervalEvents _),
    "q_join_asof" -> (joinAsof _),
    "q_join_asof_native" -> (joinAsofNative _),
    "q_join_asof_tolerance" -> (joinAsofTolerance _),
    "q_join_asof_forward" -> (joinAsofForward _),
    "q_join_nearest" -> (joinNearest _)
  )

  val oracle: Map[String, String] = Map(
    "q_join_bloom_filtered" ->
      """SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))),
        |    4) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q_basket_affinity" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT p_brand, COUNT(*) AS n_m FROM ob GROUP BY p_brand),
        |t AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
        |p AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.p_brand < b.p_brand
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) * 50 >= (SELECT n_orders FROM t))
        |SELECT brand_a, brand_b, n_both,
        |  CAST(ma.n_m AS BIGINT) AS n_a, CAST(mb.n_m AS BIGINT) AS n_b,
        |  CAST(n_both * 1000000 // (ma.n_m + mb.n_m - n_both) AS BIGINT)
        |    AS jaccard_ppm
        |FROM p
        |JOIN m ma ON ma.p_brand = p.brand_a
        |JOIN m mb ON mb.p_brand = p.brand_b
        |ORDER BY brand_a, brand_b""".stripMargin,
    "q_join_star" ->
      """SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
        |    (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4)
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, yr
        |ORDER BY r_name, yr""".stripMargin,
    // the oracle exploits the FIXED weekly cutoffs (greatest cutoff ≤ ts
    // is a CASE ladder) so the as-of reduces to an equi-join — portable,
    // window-free, and independent of the engine's union+window machinery
    "q_feat_pit_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |d AS (
        |  SELECT UNNEST([DATE '2024-01-08', DATE '2024-01-15',
        |                 DATE '2024-01-22', DATE '2024-01-29']) AS snap_date),
        |snaps AS (
        |  SELECT user_id, snap_date,
        |    CAST(COUNT(*) FILTER (ts < CAST(snap_date AS TIMESTAMP))
        |      AS BIGINT) AS f_events,
        |    CAST(SUM(CAST(value AS DECIMAL(12,4)))
        |      FILTER (event_type = 'purchase'
        |        AND ts < CAST(snap_date AS TIMESTAMP)) AS DOUBLE) AS f_spend,
        |    CAST(COUNT(*) FILTER (
        |      ts >= CAST(snap_date AS TIMESTAMP) - INTERVAL 7 DAY
        |      AND ts < CAST(snap_date AS TIMESTAMP)) AS BIGINT) AS f_events_7d
        |  FROM e CROSS JOIN d GROUP BY user_id, snap_date),
        |spine AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-29 00:00:00' THEN DATE '2024-01-29'
        |         WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN DATE '2024-01-22'
        |         WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN DATE '2024-01-15'
        |         WHEN ts >= TIMESTAMP '2024-01-08 00:00:00' THEN DATE '2024-01-08'
        |    END AS snap_date
        |  FROM e WHERE event_type = 'purchase')
        |SELECT s.event_id, s.user_id, s.snap_date,
        |  sn.f_events, sn.f_spend, sn.f_events_7d
        |FROM spine s LEFT JOIN snaps sn USING (user_id, snap_date)
        |ORDER BY s.event_id""".stripMargin,
    "q_join_bucketed" ->
      """SELECT c_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_salted" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_regionkey, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q_join_shuffle_chain" ->
      """SELECT c_custkey, c_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
        |    (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, c_name,
        |  COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE), 0.0) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    "q_join_full" ->
      """WITH c AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000),
        |ev AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        |  FROM events WHERE user_id < 1000 GROUP BY user_id)
        |SELECT COALESCE(c_custkey, user_id) AS ukey,
        |  c_acctbal, n_events, sum_value
        |FROM c FULL OUTER JOIN ev ON c_custkey = user_id
        |ORDER BY ukey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM events
        |  WHERE event_type = 'purchase' AND user_id = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_cross" ->
      """SELECT r_regionkey, r_name, s_suppkey, s_name
        |FROM region CROSS JOIN supplier
        |ORDER BY r_regionkey, s_suppkey""".stripMargin,
    "q_join_theta_range" ->
      """SELECT p1.p_partkey AS a_key, p2.p_partkey AS b_key,
        |  p1.p_retailprice AS a_price, p2.p_retailprice AS b_price
        |FROM (SELECT * FROM part WHERE p_partkey < 500) p1
        |JOIN part p2
        |  ON p2.p_retailprice BETWEEN p1.p_retailprice * 0.99
        |    AND p1.p_retailprice * 1.01
        |  AND p1.p_partkey < p2.p_partkey
        |ORDER BY a_key, b_key""".stripMargin,
    "q_join_range_binned" ->
      """SELECT p1.p_partkey AS a_key, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  MIN(p2.p_partkey) AS min_b, MAX(p2.p_partkey) AS max_b,
        |  CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS sum_b_price
        |FROM (SELECT * FROM part WHERE p_partkey < 2000) p1
        |JOIN part p2
        |  ON p2.p_retailprice BETWEEN p1.p_retailprice * 0.99
        |    AND p1.p_retailprice * 1.01
        |  AND p1.p_partkey < p2.p_partkey
        |GROUP BY p1.p_partkey
        |ORDER BY a_key""".stripMargin,
    // the native band-join engine grades against the SAME text as the
    // composition — the two engines pin each other
    "q_join_range_native" ->
      """SELECT p1.p_partkey AS a_key, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  MIN(p2.p_partkey) AS min_b, MAX(p2.p_partkey) AS max_b,
        |  CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS sum_b_price
        |FROM (SELECT * FROM part WHERE p_partkey < 2000) p1
        |JOIN part p2
        |  ON p2.p_retailprice BETWEEN p1.p_retailprice * 0.99
        |    AND p1.p_retailprice * 1.01
        |  AND p1.p_partkey < p2.p_partkey
        |GROUP BY p1.p_partkey
        |ORDER BY a_key""".stripMargin,
    "q_join_interval" ->
      """SELECT event_id, o_orderkey, user_id
        |FROM events JOIN orders
        |  ON user_id = o_custkey
        |  AND day(CAST(ts AS TIMESTAMP)) = day(o_orderdate)
        |  AND o_totalprice BETWEEN value * 500 AND value * 5000
        |ORDER BY event_id, o_orderkey""".stripMargin,
    "q_join_interval_events" ->
      """SELECT e.event_id AS err_id, count(*) AS n_purchases,
        |  min(p.event_id) AS min_p, max(p.event_id) AS max_p
        |FROM events e JOIN events p
        |  ON e.event_type = 'error' AND p.event_type = 'purchase'
        |  AND CAST(p.ts AS TIMESTAMP)
        |    BETWEEN CAST(e.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        |        AND CAST(e.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY err_id""".stripMargin,
    "q_join_asof" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |k AS (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type <> 'purchase'
        |      THEN (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) * 100000 + event_id END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_key
        |  FROM e)
        |SELECT event_id, user_id, prior_key % 100000 AS prior_event_id
        |FROM k WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q_join_asof_tolerance" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |k AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS us,
        |    max(CASE WHEN event_type <> 'purchase'
        |      THEN (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) * 100000 + event_id END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_key
        |  FROM e),
        |g AS (
        |  SELECT event_id, user_id, prior_key,
        |    us - (prior_key // 100000) AS gap_us
        |  FROM k WHERE event_type = 'purchase')
        |SELECT event_id, user_id,
        |  CASE WHEN gap_us <= 3600000000 THEN prior_key % 100000 END
        |    AS prior_event_id,
        |  CASE WHEN gap_us <= 3600000000 THEN gap_us END AS staleness_us
        |FROM g ORDER BY event_id""".stripMargin,
    "q_join_nearest" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000) * 100000
        |      + event_id AS k
        |  FROM events),
        |p AS (SELECT event_id, user_id, us AS pus, k AS pk FROM e
        |      WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS t_id, user_id, us AS tus, k AS tk FROM e
        |      WHERE event_type <> 'purchase'),
        |cand AS (
        |  SELECT p.event_id, p.user_id, t.t_id,
        |    CASE WHEN t.tk < p.pk THEN p.pus - t.tus ELSE t.tus - p.pus END AS d,
        |    CASE WHEN t.tk < p.pk THEN 0 ELSE 1 END AS side,
        |    CASE WHEN t.tk < p.pk THEN -t.tk ELSE t.tk END AS kord
        |  FROM p JOIN t ON p.user_id = t.user_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_id
        |    ORDER BY d, side, kord) AS rn
        |  FROM cand WHERE d <= 3600000000)
        |SELECT event_id, user_id, t_id AS nearest_event_id,
        |  CAST(d AS BIGINT) AS delta_us,
        |  CASE WHEN side = 0 THEN 'back' ELSE 'fwd' END AS dir
        |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // same query, native-operator path — identical oracle by design
    "q_join_asof_native" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |k AS (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type <> 'purchase'
        |      THEN (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) * 100000 + event_id END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_key
        |  FROM e)
        |SELECT event_id, user_id, prior_key % 100000 AS prior_event_id
        |FROM k WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q_join_asof_forward" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |k AS (
        |  SELECT event_id, user_id, event_type,
        |    min(CASE WHEN event_type <> 'purchase'
        |      THEN (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) * 100000 + event_id END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_key
        |  FROM e)
        |SELECT event_id, user_id, next_key % 100000 AS next_event_id
        |FROM k WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin
  )
}
