package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Data-pipeline operators a large-scale training-data / feature-store
  * build needs beyond the relational core: deterministic sampling and
  * dataset splits, incremental (partial-aggregate merge) computation,
  * snapshot diffing (CDC shape), a JSONL source/sink round trip, and
  * blocked fuzzy entity resolution.
  *
  * All six are exact/deterministic by construction (hash splits via the
  * portable md5 60-bit integer; systematic sampling via row_number on a
  * unique key; integer edit distances), so every one is DuckDB-oracled.
  */
object PipelineOps extends OpModule {
  import Det._

  /** Portable 60-bit hash — single definition in [[graft.Det.md5int60]]. */
  private def md5int(c: Column): Column = graft.Det.md5int60(c)

  /** Deterministic stratified (systematic) sampling: every 10th
    * customer per market segment in c_custkey order. One shuffle by
    * stratum; at 100 TB the same shape samples per partition with the
    * window bounded by the stratum key. For sampling that must avoid
    * even that shuffle, [[splitHash]] is the stateless alternative. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_custkey")
    Tables.t(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(($"rn" - 1) % 10 === 0)
      .orderBy($"c_custkey")
  }

  /** Deterministic train/val/test split assignment by content hash —
    * the standard reproducible-split recipe for training corpora.
    * Stateless and shuffle-free: each row's split is a pure function of
    * its key, so the same doc lands in the same split on any cluster,
    * any partitioning, any day. 80/10/10 via md5 bucket. */
  def splitHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select($"doc_id", (md5int($"doc_id".cast("string")) % 10).as("bucket"))
      .withColumn("split",
        when($"bucket" < 8, "train")
          .when($"bucket" === 8, "val")
          .otherwise("test"))
      .orderBy($"doc_id")
  }

  /** Incremental aggregation: two disjoint slices of lineitem are
    * aggregated INDEPENDENTLY, then their partial states are merged —
    * and the merge equals the direct aggregate (the oracle). This is
    * the algebraic-aggregate contract that makes incremental /
    * streaming / partition-parallel aggregation correct: COUNT merges
    * by sum, decimal SUM merges by sum (exact, order-insensitive).
    * At 100 TB this is how yesterday's aggregate plus today's delta
    * avoids rescanning the corpus. */
  def aggIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.t(s, dir, "lineitem")
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum(d12($"l_quantity")).as("qty"))
    val early = partial(li.filter($"l_shipdate" < "1996-01-01"))
    val late  = partial(li.filter($"l_shipdate" >= "1996-01-01"))
    early.unionAll(late)
      .groupBy($"l_returnflag")
      .agg(sum($"n").cast("long").as("n"),
        sum($"qty").cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** Snapshot diff (the CDC shape): per-customer order count + decimal
    * spend at two cutoff dates, full-outer joined; each customer is
    * `added` (absent from the old snapshot), `changed`, or `same`.
    * One shuffle per snapshot aggregate + one join on the entity key —
    * the scalable delta-detection pattern (never a row-level diff of
    * raw snapshots when an aggregate key exists). */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.t(s, dir, "orders")
    def snap(cut: String) =
      orders.filter($"o_orderdate" < cut)
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n"), sum(d12($"o_totalprice")).as("spend"))
    val a = snap("1997-01-01")
      .select($"o_custkey".as("custkey"), $"n".as("a_n"), $"spend".as("a_spend"))
    val b = snap("1998-01-01")
      .select($"o_custkey".as("custkey"), $"n".as("b_n"), $"spend".as("b_spend"))
    a.join(b, Seq("custkey"), "full")
      .select($"custkey",
        when($"a_n".isNull, "added")
          .when($"a_n" === $"b_n", "same")
          .otherwise("changed").as("status"),
        $"a_n".cast("long").as("a_n"), $"b_n".cast("long").as("b_n"),
        $"a_spend".cast("double").as("a_spend"),
        $"b_spend".cast("double").as("b_spend"))
      .orderBy($"custkey")
  }

  /** CDC snapshot APPLY — the second half of the incremental story
    * [[snapshotDiff]] starts: the base per-customer snapshot (orders
    * before 1997) plus the 1997 delta aggregate, full-outer merged with
    * coalesce into the NEXT snapshot. The oracle is the DIRECT
    * aggregate at the new cutoff, so the hash gate proves
    * merge(base, delta) == rebuild — the algebraic contract that lets a
    * 100-TB pipeline apply a day's delta instead of rescanning the
    * corpus (counts merge by sum; decimal sums merge exactly,
    * order-insensitive). Same shuffle shape as the diff: one aggregate
    * per side keyed on the entity, one full-outer join on that key. */
  def snapshotMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.t(s, dir, "orders")
    def agg(df: DataFrame) =
      df.groupBy($"o_custkey")
        .agg(count(lit(1)).as("n"), sum(d12($"o_totalprice")).as("spend"))
    val base = agg(orders.filter($"o_orderdate" < "1997-01-01"))
      .select($"o_custkey".as("custkey"), $"n".as("b_n"), $"spend".as("b_spend"))
    val delta = agg(orders.filter($"o_orderdate" >= "1997-01-01" &&
        $"o_orderdate" < "1998-01-01"))
      .select($"o_custkey".as("custkey"), $"n".as("d_n"), $"spend".as("d_spend"))
    base.join(delta, Seq("custkey"), "full")
      .select($"custkey",
        (coalesce($"b_n", lit(0L)) + coalesce($"d_n", lit(0L)))
          .cast("long").as("n_orders"),
        (coalesce($"b_spend", lit(0).cast("decimal(22,4)")) +
          coalesce($"d_spend", lit(0).cast("decimal(22,4)")))
          .cast("double").as("spend"))
      .orderBy($"custkey")
  }

  /** JSONL source/sink round trip: write documents as JSON lines, read
    * back with an EXPLICIT schema (schema inference over a 100-TB
    * directory is a full extra pass), aggregate with an exact integer
    * text witness (md5-derived) per (lang, source). The oracle reads
    * the original parquet — equality proves the text survived the
    * JSON escape/unescape loop byte-exactly. */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Tables.sinkPath("jsonl", dir, "documents_jsonl")
    val src = Tables.t(s, dir, "documents")
      .select($"doc_id", $"lang", $"source", $"n_chars", $"text")
    src.write.mode("overwrite").json(path)
    s.read.schema(src.schema).json(path)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"),
        sum($"n_chars").cast("long").as("chars"),
        sum(md5int($"text") % 1000000).cast("long").as("text_wit"))
      .orderBy($"lang", $"source")
  }

  /** Blocked fuzzy entity resolution: a deterministic "dirty" copy of
    * every customer name (one digit replaced by 'x' at a key-dependent
    * position) is matched back to the clean table. Blocking on the
    * unperturbed last-4-digit suffix turns the O(n²) all-pairs edit-
    * distance problem into an equi-join with ~1–2 candidates per block;
    * the levenshtein ≤ 1 verify runs on candidates only — the standard
    * block→verify ER plan that survives 100 TB (candidates bounded by
    * block size, shuffle on the block key). */
  def erBlocking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.t(s, dir, "customer")
    // c_name = 'Customer#%09d' (length 18); perturbed digit position is
    // 10 + custkey%5, so chars 15..18 (the block key) are never touched
    val dirty = cust.select(
      $"c_custkey".as("dirty_id"),
      expr("concat(substr(c_name, 1, cast(9 + c_custkey % 5 as int)), 'x'," +
        " substr(c_name, cast(11 + c_custkey % 5 as int)))").as("dirty_name"),
      substring($"c_name", 15, 4).as("blk"))
    val clean = cust.select($"c_custkey", $"c_name",
      substring($"c_name", 15, 4).as("blk"))
    // threshold form: early-exits once distance exceeds 1 (O(k·n) band
    // instead of the O(n²) full matrix — the verify stage's dominant
    // cost at scale), returns -1 past the bound, the true distance
    // within it — so kept rows carry exactly the oracle's value
    val lev = levenshtein($"dirty_name", $"c_name", 1)
    dirty.join(clean, Seq("blk"))
      .filter(lev >= 0)
      .select($"dirty_id", $"c_custkey".as("matched_id"), lev.as("dist"))
      .orderBy($"dirty_id", $"matched_id")
  }

  /** Data-quality profile — the feature-store admission gate (deequ
    * shape): per declared column, row count, null count, exact distinct
    * count, min/max (numeric and string surfaced in SEPARATE typed
    * columns — a float→string cast would reintroduce cross-engine
    * formatting drift), and a domain-violation count (nulls are counted
    * once, under n_null — a violation is a NON-null value outside its
    * declared domain).
    *
    * ONE aggregation pass per table for all its columns (the multiple
    * count_distinct's become a single Expand — still one scan of the
    * 100-TB table, the thing a per-column profiler loop gets wrong),
    * then the single profile row is unpivoted driver-free via
    * inline(array(struct…)). Exact distinct keeps the DuckDB oracle;
    * at 100 TB approx_count_distinct is the drop-in relaxation. */
  /** Declarative DQ EXPECTATIONS suite (the great-expectations-style
    * contract check a 100-TB ingest gate runs before promoting a
    * batch): named rules — not-null, positive, range, domain, cap —
    * each with a tolerated-violation budget in ppm, ALL evaluated in
    * ONE map-combinable aggregate pass over the table (rules compile
    * to conditional sums sharing a single scan; no per-rule jobs, no
    * shuffle beyond the 1-row final agg). Verdicts use the
    * cross-multiplied integer comparison (v·10⁶ ≤ tol·n) so no
    * division rounding can flip a boundary case. O(rules) output. */
  def dqExpectations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.t(s, dir, "lineitem")
    // (rule_id, violation predicate (null counts as violation), ppm budget)
    val rules: Seq[(String, Column, Long)] = Seq(
      ("orderkey_not_null", $"l_orderkey".isNull, 0L),
      ("quantity_positive",
        $"l_quantity".isNull || $"l_quantity" <= 0, 0L),
      ("discount_in_range",
        $"l_discount".isNull || $"l_discount" < 0 || $"l_discount" > 0.1,
        0L),
      ("returnflag_in_domain",
        $"l_returnflag".isNull || !$"l_returnflag".isin("A", "N", "R"),
        0L),
      ("price_below_cap",
        $"l_extendedprice".isNull || $"l_extendedprice" > 95000.0,
        10000L))
    val aggs = count(lit(1)).as("n_rows") +: rules.map {
      case (id, viol, _) =>
        sum(when(viol, 1L).otherwise(0L)).as(s"__v_$id")
    }
    li.agg(aggs.head, aggs.tail: _*)
      .select(inline(array(rules.map { case (id, _, tol) =>
        struct(lit(id).as("rule_id"),
          col("n_rows"),
          col(s"__v_$id").as("n_violations"),
          expr(s"`__v_$id` * 1000000 div n_rows").as("viol_ppm"),
          lit(tol).as("max_ppm"),
          (col(s"__v_$id") * 1000000L <= lit(tol) * col("n_rows"))
            .as("passed"))
      }: _*)))
      .orderBy($"rule_id")
  }

  def dqProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val types = Seq("click", "error", "purchase", "signup", "view")
    // (column, numeric?, domain-violation predicate on non-null values)
    def profile(df: DataFrame, tbl: String,
        cols: Seq[(String, Boolean, Column)]): DataFrame = {
      val aggs = count(lit(1)).as("nrows") +: cols.flatMap {
        case (name, isNum, viol) =>
          val c = df.col(name)
          Seq(
            sum(when(c.isNull, 1L).otherwise(0L)).cast("long")
              .as(s"${name}__nnull"),
            count_distinct(c).as(s"${name}__ndist"),
            (if (isNum) min(c).cast("double")
             else lit(null).cast("double")).as(s"${name}__minn"),
            (if (isNum) max(c).cast("double")
             else lit(null).cast("double")).as(s"${name}__maxn"),
            (if (isNum) lit(null).cast("string")
             else min(c).cast("string")).as(s"${name}__mins"),
            (if (isNum) lit(null).cast("string")
             else max(c).cast("string")).as(s"${name}__maxs"),
            sum(when(c.isNotNull && viol, 1L).otherwise(0L)).cast("long")
              .as(s"${name}__nviol"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .select(inline(array(cols.map { case (name, _, _) =>
          struct(lit(tbl).as("tbl"), lit(name).as("col"),
            col("nrows").as("n_rows"),
            col(s"${name}__nnull").as("n_null"),
            col(s"${name}__ndist").as("n_distinct"),
            col(s"${name}__minn").as("min_num"),
            col(s"${name}__maxn").as("max_num"),
            col(s"${name}__mins").as("min_str"),
            col(s"${name}__maxs").as("max_str"),
            col(s"${name}__nviol").as("n_violation"))
        }: _*)))
    }
    val cust = profile(Tables.t(s, dir, "customer"), "customer", Seq(
      ("c_custkey", true, $"c_custkey" <= 0L),
      ("c_acctbal", true, !$"c_acctbal".between(-1000.0, 10000.0)),
      ("c_mktsegment", false, !$"c_mktsegment".isin(segs: _*))))
    val ev = profile(Tables.t(s, dir, "events"), "events", Seq(
      ("event_type", false, !$"event_type".isin(types: _*)),
      ("user_id", true, $"user_id" < 0L),
      ("value", true, $"value" <= 0.0)))
    cust.unionAll(ev).orderBy($"tbl", $"col")
  }

  /** End-to-end training-data admission pipeline — the composed op a
    * corpus build actually runs, proving the stages COMPOSE into one
    * linear plan rather than N passes: C4-style quality filter (map,
    * stays in codegen) → exact dedup keeping the smallest doc_id per
    * text (one shuffle; `min_by` carries the survivor's metadata —
    * duplicates may disagree on lang, so the carry is deterministic by
    * doc_id) → reproducible hash split ([[splitHash]]'s md5 bucket,
    * stateless map) → per (split, lang) admission stats (second
    * shuffle, map-side combinable). Two shuffles total for the whole
    * pipeline; at 100 TB each stage's survivors shrink the next
    * stage's input, and nothing rescans the corpus. */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = split($"text", " ")
    val filtered = Tables.t(s, dir, "documents")
      .withColumn("n_tokens", size(words))
      .withColumn("n_stop",
        size(filter(words, w => w.isin(TextOps.stopwords: _*))))
      .filter($"n_tokens".between(40, 200) &&
        $"n_stop".cast("double") / $"n_tokens" <= 0.18)
    val survivors = filtered.groupBy($"text")
      .agg(
        min($"doc_id").as("doc_id"),
        expr("min_by(lang, doc_id)").as("lang"),
        min($"n_chars").as("n_chars"),
        min($"n_tokens").as("n_tokens"))
    survivors
      .withColumn("bucket", md5int($"doc_id".cast("string")) % 10)
      .withColumn("split",
        when($"bucket" < 8, "train")
          .when($"bucket" === 8, "val")
          .otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("chars"),
        sum($"n_tokens").cast("long").as("tokens"))
      .orderBy($"split", $"lang")
  }

  /** Data-drift anomaly flagging — the monitoring half of the
    * [[dqProfile]] admission gate: daily event volume vs its trailing
    * 7-day window, flagged when the day departs by more than 2 sample
    * standard deviations. The z-test runs in EXACT integer arithmetic —
    * |x−μ| > 2σ over a 7-day window is algebraically
    * 3·(7x−S)² > 14·(7Q−S²) with S=Σx, Q=Σx² — so both engines agree
    * bit-for-bit (a float σ rounds differently per sum order). Only
    * full windows (7 prior days) are eligible to flag.
    *
    * Scale shape: the raw 100-TB log collapses to O(days) rows in one
    * map-side-combinable aggregate; the unpartitioned trailing window
    * then runs over that tiny rollup (hundreds of rows on years of
    * data) — the single-partition window is on the ROLLUP, never the
    * log. Per-metric partitioning (`PARTITION BY metric`) is the
    * drop-in generalization when profiling many series at once. */
  def dqAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.t(s, dir, "events")
      .groupBy($"ts".cast("date").as("d"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy($"d").rowsBetween(-7, -1)
    daily
      .withColumn("win_n", count($"x").over(w))
      .withColumn("win_sum", sum($"x").over(w))
      .withColumn("win_sumsq", sum($"x" * $"x").over(w))
      .select($"d", $"x".as("n_events"), $"win_n",
        when($"win_n" === 7L, lit(7L) * $"x" - $"win_sum").as("dev7"),
        ($"win_n" === 7L &&
          lit(3L) * (lit(7L) * $"x" - $"win_sum") *
            (lit(7L) * $"x" - $"win_sum") >
          lit(14L) * (lit(7L) * $"win_sumsq" - $"win_sum" * $"win_sum"))
          .as("is_anomaly"))
      .orderBy($"d")
  }

  /** Consistent fixed-SIZE sample: the 100 customers with the smallest
    * md5 hash of their key — the "deterministic reservoir" every
    * engineer wants from `LIMIT`-after-`ORDER BY rand()` but stable:
    * the same rows come back on any cluster, any day, and the sample
    * only changes incrementally as keys are added/removed (hash order
    * is global, not data-order). Top-k by hash ⇒
    * TakeOrderedAndProject — no global sort. */
  /** Deterministic WEIGHTED sampling — the training-data mixing
    * primitive: each document is admitted with probability
    * p = min(n_chars, 400)/400 (longer docs up-weighted to the cap),
    * decided by hash threshold so the sample is reproducible on any
    * cluster and stable under re-partitioning. Acceptance is pure
    * INTEGER arithmetic (hash‰ · 400 < weight · 10⁶) — no float at the
    * accept/reject boundary, so both engines agree exactly. Survivors
    * carry the Horvitz-Thompson inverse-probability weight (1/p) so
    * downstream aggregates stay unbiased. Stateless map-side filter:
    * zero shuffle, and like [[splitHash]] the decision is a pure
    * function of the row — appendable and backfill-safe. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"lang", $"source", $"n_chars",
        (md5int($"doc_id".cast("string")) % 1000000L).as("hv"),
        least($"n_chars", lit(400L)).as("wnum"))
      .filter($"hv" * 400L < $"wnum" * 1000000L)
      .select($"doc_id", $"lang", $"source", $"n_chars",
        round(lit(400.0) / $"wnum".cast("double"), 4).as("ht_weight"))
      .orderBy($"doc_id")
  }

  def sampleConsistent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment",
        md5int($"c_custkey".cast("string")).as("hv"))
      .orderBy($"hv", $"c_custkey")
      .limit(100)
  }

  /** Per-GROUP deterministic reservoir: at most K=10 documents per
    * (lang, source) cell, chosen by md5-hash order — the domain-cap /
    * source-balancing primitive of a training-data recipe ("no single
    * domain may contribute more than K examples"). The hash order
    * makes each cell's sample uniform-without-replacement, stable
    * under re-partitioning, and INCREMENTAL: adding documents can only
    * displace the current ones hash-by-hash (the same property
    * [[sampleConsistent]] gives the global sample, applied per cell).
    *
    * Scale: the rank filter right above the row_number window compiles
    * to WindowGroupLimit — each shuffle partition keeps a K-row heap
    * per cell instead of materializing the full cell before ranking,
    * so per-cell skew never sorts more than it keeps. */
  def sampleReservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 10
    val w = Window.partitionBy($"lang", $"source").orderBy($"hv", $"doc_id")
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"lang", $"source",
        md5int($"doc_id".cast("string")).as("hv"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= k)
      .select($"lang", $"source", $"rn", $"doc_id", $"hv")
      .orderBy($"lang", $"source", $"rn")
  }

  /** Dataset-MIXTURE sampling — the "data recipe" step of an LLM
    * training build: tiers of sources get declared mixture weights
    * (web 50% / curated 30% / reference 20% ppm) of a global char
    * budget (half the corpus), and each tier is filled by a
    * deterministic hash-ordered greedy prefix, so the same recipe over
    * the same corpus yields the same dataset on any cluster, any
    * partitioning, any day.
    *
    * The scale story is the HIERARCHICAL prefix: a naive
    * cumsum-per-tier would total-order each tier's slice of a 100-TB
    * corpus through ~3 window partitions (single-reducer death). Here
    * the per-tier running sum is [[Ranks.runningSum]] binned by source
    * (sources hash-ordered, `within` the tier): the only per-row window
    * is the within-SOURCE cumsum (parallel across sources — and a
    * source outgrowing one reducer subdivides by hash prefix the same
    * way), and the source offsets come from the O(sources) rollup,
    * broadcast back; a doc is kept iff its running sum fits the tier
    * budget. No corpus-wide sort ever happens; the budget row and
    * offsets are broadcast; selection is one filter. */
  def sampleMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcn = expr("cast(substr(source, 4) as int)")
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", $"n_chars",
        when(srcn < 10, "web").when(srcn < 15, "curated")
          .otherwise("reference").as("tier"),
        md5int($"doc_id".cast("string")).as("dh"))
    val budget = docs.agg(
      expr("cast(sum(n_chars) as bigint) div 2").as("b"))
    val tiers = Seq(("web", 500000L), ("curated", 300000L),
      ("reference", 200000L)).toDF("tier", "w_ppm")
    val tb = tiers.crossJoin(broadcast(budget))
      .select($"tier", expr("b * w_ppm div 1000000").as("tier_budget"))
    Ranks.runningSum(docs, $"n_chars", "source", Seq($"dh", $"doc_id"),
        "cum", within = Seq("tier"),
        binOrder = Seq(md5int($"source"), $"source"))
      .join(broadcast(tb), Seq("tier"))
      .filter($"cum" <= $"tier_budget")
      .select($"doc_id", $"tier", $"n_chars".cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  /** CDC changelog APPLY — last-writer-wins materialization of a keyed
    * changelog with tombstones, the row-level complement of
    * [[snapshotMerge]]'s aggregate merge: the event stream is the
    * changelog (key = user_id, version order = (ts, event_id)), the
    * latest version wins, and an `error` event acts as a DELETE
    * tombstone that removes the key from the materialized state.
    * `value` is SELECTED from the winning row (never computed), so the
    * double passes through bit-exact.
    *
    * Scale shape: one shuffle on the key; the rank-1 filter compiles to
    * WindowGroupLimit, so each partition keeps one candidate row per key
    * before the window sort — the shuffle carries O(keys) rows, not the
    * changelog. This is exactly how a 100-TB table materializes a day of
    * CDC: partition by key, keep max-version, drop tombstones. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"event_type" =!= "error")
      .select($"user_id", $"ts".as("last_ts"), $"event_type".as("state"),
        $"value".as("last_value"))
      .orderBy($"user_id")
  }

  /** SCD type-2 dimension-history build — turn a change stream into
    * validity intervals: consecutive runs of the same per-user
    * event_type collapse to one version row with
    * [valid_from, valid_to) and an is_current flag (valid_to = next
    * version's valid_from, null on the open interval). Change detection
    * is lag-vs-current; version numbering is the running sum of change
    * flags (gaps-and-islands by CHANGE, where [[graft.ops.Windows]]'
    * sessionize islands by time gap).
    *
    * Scale shape: ONE shuffle total — both windows and the groupBy are
    * keyed on user_id (HashPartitioning(user_id) satisfies the
    * (user_id, ver) clustering), so Spark reuses the exchange across
    * lag → running-sum → group → lead. This is the feature-store
    * dimension-history build: at 100 TB the state stream collapses to
    * O(versions) rows in that single pass. */
  def scd2Build(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wv = Window.partitionBy($"user_id").orderBy($"ver")
    Tables.t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("chg",
        when(lag($"event_type", 1).over(w).isNull ||
          lag($"event_type", 1).over(w) =!= $"event_type", 1L).otherwise(0L))
      .withColumn("ver", sum($"chg").over(run))
      .groupBy($"user_id", $"ver")
      .agg(min($"event_type").as("state"),
        min($"ts").as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead($"valid_from", 1).over(wv))
      .select($"user_id", $"ver", $"state", $"valid_from", $"valid_to",
        $"valid_to".isNull.as("is_current"), $"n_events")
      .orderBy($"user_id", $"ver")
  }

  /** SCD2 READ side — the lookup [[scd2Build]] exists to serve: for
    * each (user, weekly cutoff) probe, the version active at that
    * instant (latest `valid_from` ≤ probe). Runs on the NATIVE as-of
    * operator ([[graft.plans.AsOfJoinExec]]) with the version table as
    * the wide right side — the case the operator is designed for: the
    * union+window alternative would drag every version column through
    * window state, the merge carries one buffered row. Probes pack the
    * cutoff as `(µs+1)·10⁵` so the strict `<` on packed keys is exactly
    * `valid_from ≤ cutoff` (event ids < 10⁵). Probes before a user's
    * first version drop (no admissible row — same leakage-safe rule as
    * `q_feat_pit_join`). */
  def scd2Asof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = 1704067200000000L
    val e = Tables.t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val versions = e
      .withColumn("chg",
        when(lag($"event_type", 1).over(w).isNull ||
          lag($"event_type", 1).over(w) =!= $"event_type", 1L).otherwise(0L))
      .withColumn("ver", sum($"chg").over(run))
      .select($"user_id".as("r_user"),
        ((unix_micros($"ts") - base) * 100000L + $"event_id").as("r_k"),
        $"event_type".as("state"), $"ver")
    val probes = e.select($"user_id").distinct()
      .crossJoin(broadcast(
        Seq("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")
          .toDF("d").select($"d".cast("date").as("snap_date"))))
      .withColumn("pk",
        (unix_micros($"snap_date".cast("timestamp")) - base + 1L) * 100000L)
    org.apache.spark.sql.graft.GraftFunctions.asofJoin(
        probes, versions, "user_id", "pk", "r_user", "r_k")
      .filter($"state".isNotNull)
      .select($"user_id", $"snap_date", $"state", $"ver")
      .orderBy($"user_id", $"snap_date")
  }

  /** Distribution-drift monitor between two table snapshots — the
    * admission-gate companion to [[dqProfile]] (is the schema sane) and
    * [[dqAnomaly]] (is today's volume sane): has the VALUE DISTRIBUTION
    * of a feature moved between the baseline window and the current
    * one. Orders are split at a fixed cutoff date, o_totalprice is
    * binned on the integer-cents grid (ROUND then `div`, the
    * [[graft.Det]] rule — never a float floor whose quotient can land
    * on a representation boundary), and each side's per-bin share is
    * scaled to INTEGER ppm with `1e6·n div total`, so the per-bin L1
    * drift — the discretized total-variation distance, the PSI
    * alternative that needs no logarithm — is exact on any engine.
    *
    * Scale shape: one map-side-combinable shuffle on O(bins) groups
    * for the whole corpus (the snapshot tag is computed in the scan
    * projection); the totals join is a broadcast of 2 rows, and the
    * base⋈current alignment joins O(bins) rows. Nothing downstream of
    * the first aggregate ever sees a data-sized row count, so the
    * monitor costs one scan at 100 TB. */
  def dqDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val binned = Tables.t(s, dir, "orders")
      .select(
        when($"o_orderdate" < lit("1997-01-01").cast("timestamp"), "base")
          .otherwise("current").as("snap"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 3000000")
          .as("bin"))
      .groupBy($"snap", $"bin").agg(count(lit(1)).as("c"))
    val tot = binned.groupBy($"snap").agg(sum($"c").as("n"))
    val ppm = binned.join(broadcast(tot), Seq("snap"))
      .select($"snap", $"bin", expr("1000000 * c div n").as("share_ppm"))
    val base = ppm.filter($"snap" === "base")
      .select($"bin", $"share_ppm".as("base_ppm"))
    val cur = ppm.filter($"snap" === "current")
      .select($"bin", $"share_ppm".as("cur_ppm"))
    base.join(cur, Seq("bin"), "full_outer")
      .select($"bin",
        coalesce($"base_ppm", lit(0L)).as("base_ppm"),
        coalesce($"cur_ppm", lit(0L)).as("cur_ppm"),
        abs(coalesce($"base_ppm", lit(0L)) - coalesce($"cur_ppm", lit(0L)))
          .as("drift_ppm"))
      .orderBy($"bin")
  }

  /** Population-stability index (PSI) — the industry-standard drift
    * score [[dqDrift]]'s L1 distance lacks: per price bin,
    * (p−q)·ln(p/q) between the base and current order snapshots, with
    * the headline PSI = Σ terms (PSI < 0.1 stable, > 0.25 action —
    * the scorecard-monitoring convention). Shares are exact integer
    * ppm floored at 1 ppm (the standard epsilon so an empty bin
    * contributes a finite penalty instead of ±∞); each term is
    * rounded to an e-6 INTEGER before any aggregation (the
    * `q_agg_entropy` recipe), so the sum is order-insensitive and the
    * single ln() runs on identical rational operands in both engines.
    *
    * Scale shape: identical to [[dqDrift]] — one map-combinable
    * (snap, bin) aggregate, O(snap) totals broadcast, full-outer on
    * O(bins). */
  def dqPsi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val binned = Tables.t(s, dir, "orders")
      .select(
        when($"o_orderdate" < lit("1997-01-01").cast("timestamp"), "base")
          .otherwise("current").as("snap"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 3000000")
          .as("bin"))
      .groupBy($"snap", $"bin").agg(count(lit(1)).as("c"))
    val tot = binned.groupBy($"snap").agg(sum($"c").as("n"))
    val ppm = binned.join(broadcast(tot), Seq("snap"))
      .select($"snap", $"bin",
        greatest(expr("1000000 * c div n"), lit(1L)).as("ppm"))
    val base = ppm.filter($"snap" === "base")
      .select($"bin", $"ppm".as("base_ppm"))
    val cur = ppm.filter($"snap" === "current")
      .select($"bin", $"ppm".as("cur_ppm"))
    base.join(cur, Seq("bin"), "full_outer")
      .select($"bin",
        coalesce($"base_ppm", lit(1L)).as("base_ppm"),
        coalesce($"cur_ppm", lit(1L)).as("cur_ppm"))
      .withColumn("psi_term_e6", expr(
        """CAST(ROUND((cur_ppm - base_ppm) / 1000000.0
          |* ln(CAST(cur_ppm AS DOUBLE) / base_ppm) * 1000000, 0)
          |AS BIGINT)""".stripMargin))
      .orderBy($"bin")
  }

  /** Temporal train/val/test split manifest — the split a TIME-SERIES
    * model must use (the hash split `q_split_hash` leaks future into
    * past): events ordered by (ts, event_id), first 80% of rows →
    * train, next 10% → val, last 10% → test, reported as per-split
    * counts + time boundaries. Boundary decisions are integer
    * cross-multiplications (rn·10 ≤ n·8 — no float at the cut, BIGINT
    * rn — no int overflow past 2³¹ events), so the assignment is exact
    * and append-stable up to the new data.
    *
    * Scale shape: the global (ts, event_id) rank is
    * [[Ranks.runningSum]] of 1 binned by calendar day — a monotone
    * prefix of the sort key — so rank = per-day running count (window
    * bounded by one day's events) + the day's broadcast offset from the
    * O(days) per-day-count rollup, which also yields the total. At
    * 100 TB the biggest sort any task runs is one day ÷ parallelism,
    * and the 80/10/10 integer cuts apply to the reconstructed rank
    * unchanged. */
  def splitTemporal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.t(s, dir, "events").select($"ts", $"event_id")
      .withColumn("__d", to_date($"ts"))
    Ranks.runningSum(ev, lit(1L), "__d", Seq($"ts", $"event_id"), "rn",
        total = Some("n_total"))
      .withColumn("split",
        when($"rn" * 10 <= $"n_total" * 8, "1_train")
          .when($"rn" * 10 <= $"n_total" * 9, "2_val")
          .otherwise("3_test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n"),
        min($"ts").as("min_ts"), max($"ts").as("max_ts"))
      .orderBy($"split")
  }

  /** Neyman (optimal) stratified-sample allocation — the survey-design
    * planner behind every stratified eval set: for a 1000-row budget,
    * allocate per market segment proportionally to N_h·S_h (stratum
    * size × spend std — sample variance from exact decimal moments),
    * the allocation that minimizes estimator variance at fixed budget.
    * Determinism: moments are exact integers; the std/weight/FLOOR
    * chain is one fixed IEEE expression on identical operands both
    * engines (floor of irrational-valued operands — no knife edge).
    *
    * Scale shape: one (custkey) combinable aggregate, one O(segments)
    * rollup, a broadcast 1-row weight total — no window, no sort. */
  def sampleNeyman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_custkey")
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("x"))
    val seg = per.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_h"), sum($"x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(25,0)) * x")).as("sxx"))
      .withColumn("s_h",
        sqrt(($"sxx".cast("double") -
          $"sx".cast("double") * $"sx".cast("double") / $"n_h") /
          ($"n_h" - 1)))
      // weight rounded to an exact integer BEFORE the cross-stratum
      // sum: a float Σ over strata would be order-sensitive (the one
      // place this op could diverge across engines/partitionings)
      .withColumn("w_h",
        expr("CAST(ROUND(CAST(n_h AS DOUBLE) * s_h) AS BIGINT)"))
    val totw = seg.agg(sum($"w_h").as("tot_w"))
    seg.crossJoin(broadcast(totw))
      .select($"c_mktsegment", $"n_h",
        round($"s_h" / 100.0, 4).as("spend_std"),
        floor(lit(1000.0) * $"w_h" / $"tot_w").cast("long").as("alloc"))
      .orderBy($"c_mktsegment")
  }

  /** Deterministic Poisson(1) bootstrap — resampling-by-WEIGHT, the
    * scalable form of the bootstrap: instead of materializing resampled
    * copies, each (row, replicate) draws k ~ Poisson(1) from the
    * portable md5 hash through an exact inverse-CDF ppm ladder, and the
    * replicate estimate is the k-weighted aggregate. 3 replicates of
    * per-status order totals; uncertainty = spread across replicates.
    * Scale shape: a 3× map-side expand (no shuffle growth — the
    * aggregate collapses it), one group-by; weights are BIGINT and the
    * weighted sum runs through exact decimal, so replicates are
    * bit-reproducible on any cluster topology. */
  def sampleBootstrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .withColumn("rep", explode(array(lit(0), lit(1), lit(2))))
    val u = md5int(concat($"o_orderkey".cast("string"), lit(":"),
      $"rep".cast("string"))) % 1000000L
    // Poisson(1) CDF in exact ppm: P(≤0)=.367879, ≤1=.735759,
    // ≤2=.919699, ≤3=.981012, ≤4=.996340; tail mass lumped into k=5
    val k = when(u < 367879L, 0L).when(u < 735759L, 1L)
      .when(u < 919699L, 2L).when(u < 981012L, 3L)
      .when(u < 996340L, 4L).otherwise(5L)
    o.withColumn("k", k)
      .groupBy($"rep", $"o_orderstatus")
      .agg(
        sum($"k").as("n_drawn"),
        sum($"k".cast("decimal(2,0)") * d12($"o_totalprice"))
          .cast("double").as("total"),
        count(lit(1)).as("n_orders"))
      .orderBy($"rep", $"o_orderstatus")
  }

  /** WebDataset-style shard-packing manifest — the training-loader
    * handoff every corpus build ends with: documents in a canonical
    * deterministic order (source, doc_id) are greedily packed into
    * ~10 KB shards by cumulative size, and the manifest reports each
    * shard's doc count, byte total, and id range. A doc lands in the
    * shard where its first byte falls, so the assignment is a pure
    * function of the corpus — rebuildable and diffable.
    *
    * Scale shape: the global running sum is [[Ranks.runningSum]]
    * binned by source, exactly like [[sampleMix]] — a per-source window
    * (shuffle bounded by the source partition) plus a BROADCAST
    * prefix-offset table built from the 20-row per-source totals. No
    * single-partition window ever sees the corpus; at 100 TB the
    * "source" level is whatever ingest partition the corpus already
    * has. */
  def shardManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", $"n_chars")
    Ranks.runningSum(docs, $"n_chars", "source", Seq($"doc_id"), "cum")
      .withColumn("shard_id", expr("(cum - n_chars) div 10000"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"shard_id")
  }

  /** k-anonymity audit — the privacy admission gate for releasing a
    * training extract: group customers by the quasi-identifier tuple
    * (nation, segment, coarse balance bin) and report, for k ∈
    * {2, 5, 10}, how many QI groups fall below k and how many rows
    * (ppm of the table) sit in those re-identifiable groups. Balance
    * binning is integer-cents (exact on both engines).
    *
    * Scale shape: one map-side-combinable groupBy on the QI tuple;
    * the threshold sweep joins the per-group sizes against a 3-row
    * BROADCAST k table, and the row total is a BROADCAST 1-row
    * aggregate. The O(groups) size table never broadcasts. */
  def privacyKanon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qi = Tables.t(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey", $"c_mktsegment",
        expr("(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) div 200000")
          .as("bal_bin"))
    val gs = qi.groupBy($"c_nationkey", $"c_mktsegment", $"bal_bin")
      .agg(count(lit(1)).as("gsz"))
    val tot = qi.agg(count(lit(1)).as("n_total"))
    val ks = Seq(2L, 5L, 10L).toDF("k")
    gs.join(broadcast(ks), $"gsz" < $"k", "right")
      .groupBy($"k")
      .agg(count($"gsz").as("n_groups_at_risk"),
        coalesce(sum($"gsz"), lit(0L)).as("n_rows_at_risk"))
      .crossJoin(broadcast(tot))
      .select($"k", $"n_groups_at_risk", $"n_rows_at_risk",
        expr("n_rows_at_risk * 1000000 div n_total").as("rows_ppm"))
      .orderBy($"k")
  }

  /** l-diversity audit — [[privacyKanon]]'s partner gate: k-anonymity
    * bounds GROUP SIZE, l-diversity bounds what a re-identified group
    * REVEALS: within each quasi-identifier group (nation, segment),
    * how many DISTINCT values of the sensitive attribute (the
    * customer's dominant order priority) appear. A group where l = 1
    * leaks the sensitive value of every member even at high k. Output
    * is the l histogram: for each observed l, the number of QI groups
    * and customers at that diversity (l = 0 ⇒ group has no order
    * history at all).
    *
    * The per-customer sensitive value is the mode of their order
    * priorities with lexicographic tiebreak — deterministic via the
    * (count DESC, priority) window, the [[q_agg_mode]] recipe.
    *
    * Scale shape: one custkey-keyed combinable aggregate for the mode,
    * one QI-keyed aggregate for (l, size), one O(distinct l) rollup —
    * three shuffles, each strictly smaller than the last; no joins
    * beyond the customer⋈mode equi-join on the shared custkey
    * partitioning. */
  def privacyLdiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pc = Tables.t(s, dir, "orders")
      .groupBy($"o_custkey", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"cnt".desc, $"o_orderpriority")
    val mode = pc.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderpriority".as("sensitive"))
    val groups = Tables.t(s, dir, "customer")
      .join(mode, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(countDistinct($"sensitive").as("l"),
        count(lit(1)).as("group_size"))
    groups.groupBy($"l")
      .agg(count(lit(1)).as("n_groups"),
        sum($"group_size").as("n_customers"),
        min($"group_size").as("min_group_size"))
      .orderBy($"l")
  }

  /** t-closeness audit — the third privacy gate beside
    * [[privacyKanon]] and [[privacyLdiversity]]: l-diversity counts
    * DISTINCT sensitive values, but a group can be "diverse" while its
    * DISTRIBUTION still gives the attacker a large posterior shift.
    * t-closeness bounds the Earth-Mover's Distance between each
    * quasi-identifier group's sensitive-attribute distribution and the
    * global one. The sensitive attribute is the customer's dominant
    * order priority (the [[q_agg_mode]] recipe, deterministic
    * tiebreak); priorities are ordinal ('1-URGENT' < … < '5-LOW'),
    * so EMD = Σ|cumulative diffs| / (L−1).
    *
    * Determinism: the EMD is computed by cross-multiplication on
    * exact integer counts — |cum_group·N − cum_global·gsz| summed
    * through DECIMAL(38,0) (a 10⁹-customer corpus squares past
    * BIGINT), then one positive-operand floor division onto the ppm
    * grid. No float anywhere.
    *
    * Scale shape: one custkey aggregate for the mode, one combinable
    * (QI, level) count, the O(levels) global distribution and the
    * O(groups) sizes broadcast back; the level-complete spine is
    * groups × 5 levels, and the cumsum window is partitioned BY GROUP
    * (parallel, never global). */
  def privacyTcloseness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pc = Tables.t(s, dir, "orders")
      .groupBy($"o_custkey", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val mw = Window.partitionBy($"o_custkey")
      .orderBy($"cnt".desc, $"o_orderpriority")
    val sens = pc.withColumn("rn", row_number().over(mw))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderpriority".as("sv"))
    val rows = Tables.t(s, dir, "customer")
      .join(sens, $"c_custkey" === $"o_custkey")
      .select($"c_nationkey", $"c_mktsegment", $"sv")
    val levels = rows.select($"sv").distinct()
    val glob = rows.groupBy($"sv").agg(count(lit(1)).as("g_cnt"))
    val gsz = rows.groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("gsz"))
    val cell = rows.groupBy($"c_nationkey", $"c_mktsegment", $"sv")
      .agg(count(lit(1)).as("cnt"))
    // level-complete spine: every (group, level) cell exists, so the
    // per-group cumulative distribution aligns level-by-level
    val spine = gsz.crossJoin(broadcast(levels))
      .join(cell, Seq("c_nationkey", "c_mktsegment", "sv"), "left")
      .join(broadcast(glob), Seq("sv"))
      .withColumn("cnt", coalesce($"cnt", lit(0L)))
    val cw = Window.partitionBy($"c_nationkey", $"c_mktsegment")
      .orderBy($"sv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = rows.agg(count(lit(1)).as("n_total"))
    spine
      .withColumn("cum_g", sum($"cnt").over(cw))
      .withColumn("cum_glob", sum($"g_cnt").over(cw))
      .crossJoin(broadcast(tot))
      // the last level's cumulative diff is identically 0 — the L−1
      // interior boundaries are the EMD terms
      .filter($"cum_glob" < $"n_total")
      .groupBy($"c_nationkey", $"c_mktsegment", $"gsz", $"n_total")
      .agg(sum(abs($"cum_g".cast("decimal(38,0)") * $"n_total" -
        $"cum_glob".cast("decimal(38,0)") * $"gsz")).as("num"))
      .select($"c_nationkey", $"c_mktsegment", $"gsz".as("group_size"),
        expr("CAST((num * 1000000) div (4 * gsz * n_total) AS BIGINT)")
          .as("t_ppm"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  /** Deterministic class-balanced downsampling — the label-skew fix
    * for training extracts: every event class is cut to the SMALLEST
    * class's size, members chosen by md5-hash order (hash, event_id
    * tiebreak) so the same corpus yields the same balanced set on any
    * cluster, and an appended corpus only changes the sample
    * incrementally. Completes the sampling family: stratified =
    * fixed-rate, weighted = probability, mix = byte budgets, balance =
    * equal-count classes.
    *
    * Scale shape: one shuffle on the class key; the per-class rank
    * compiles to a window over that partitioning and the min-class
    * size is an O(classes) BROADCAST aggregate — no global sort,
    * no second scan. */
  def sampleBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
      .select($"event_id", $"event_type",
        md5int($"event_id".cast("string")).as("hv"))
    val minN = e.groupBy($"event_type").agg(count(lit(1)).as("cn"))
      .agg(min($"cn").as("min_n"))
    val w = Window.partitionBy($"event_type").orderBy($"hv", $"event_id")
    e.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(minN))
      .filter($"rk" <= $"min_n")
      .select($"event_id", $"event_type")
      .orderBy($"event_id")
  }

  /** Referential-integrity audit — the fourth data-quality gate next
    * to [[dqProfile]] (schema/domains), [[dqAnomaly]] (volume) and
    * [[dqDrift]] (distribution): for every declared foreign-key edge
    * of the star schema, the child row count, rows whose FK is NULL,
    * and ORPHAN rows (non-null FK with no parent) — the join-safety
    * precondition every downstream feature join silently assumes.
    *
    * Scale shape: each edge is ONE left-anti-style aggregate — child
    * groupBy on the FK key joined against the parent key set; bounded
    * parents (nation) broadcast, large parents (orders, part) stay
    * shuffle equi-joins on the key — never a full-row join, the probe
    * carries (key, count) pairs only. */
  /** Per-user burstiness profile — the rate-limit / abuse-screening
    * readout a training-data pipeline runs before trusting behavioral
    * logs: per user, total events, active hours, the single worst
    * hour's event count, and the burst concentration (peak-hour share
    * of all activity, integer ppm). A scripted client shows
    * burst_ppm ≫ a human's; the op emits the full profile and leaves
    * the cut to policy (no magic threshold baked into the engine).
    *
    * Scale shape: two nested map-side-combinable aggregates — (user,
    * hour) then user; nothing else. The hour bucketing bounds state by
    * the calendar, and no window or join appears at any scale. */
  def dqBurstiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      .groupBy($"user_id", date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(sum($"c").as("total_events"),
        count(lit(1)).as("n_active_hours"),
        max($"c").as("peak_hour_events"))
      .select($"user_id", $"total_events", $"n_active_hours",
        $"peak_hour_events",
        expr("peak_hour_events * 1000000 div total_events")
          .as("burst_ppm"))
      .orderBy($"user_id")
  }

  /** Right-to-erasure propagation — the GDPR delete as a dataflow: a
    * deterministic tombstone cohort (5% of users by the portable hash)
    * is deleted from the event log and CASCADED through the order
    * graph (orders of tombstoned customers, then line items of those
    * orders), reported as per-table before/deleted/after counts plus
    * the post-delete ORPHAN count — which must be zero, making the op
    * self-auditing (the cascade proof rides in the result, ScalaTest
    * pins it).
    *
    * Scale shape: the tombstone set is a hash predicate (no
    * materialized list to broadcast — the filter is map-side
    * everywhere); the lineitem cascade is one semi-join against the
    * deleted-order keys; counts are combinable aggregates. At 100 TB
    * this is the delete-vector build every lakehouse erasure job
    * runs. */
  def privacyErasure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def tomb(c: org.apache.spark.sql.Column) =
      md5int(c.cast("string")) % 20L === 0L
    val ev = Tables.t(s, dir, "events")
    val o = Tables.t(s, dir, "orders")
    val li = Tables.t(s, dir, "lineitem")
    val deadOrders = o.filter(tomb($"o_custkey"))
      .select($"o_orderkey".as("dead_ok"))
    // fully declarative: every count is an aggregate subplan, nothing
    // reads through the driver
    def stats(table: String, before: DataFrame,
        deleted: DataFrame): DataFrame =
      before.agg(count(lit(1)).as("rows_before"))
        .crossJoin(deleted.agg(count(lit(1)).as("rows_deleted")))
        .select(lit(table).as("table_name"), $"rows_before",
          $"rows_deleted",
          ($"rows_before" - $"rows_deleted").as("rows_after"))
    val evDel = ev.filter(tomb($"user_id"))
    val liDel = li.join(deadOrders, $"l_orderkey" === $"dead_ok",
      "left_semi")
    // post-delete orphan audit: surviving lineitems must all join a
    // surviving order (0 expected — the self-auditing column)
    val orphans = li.join(deadOrders, $"l_orderkey" === $"dead_ok",
        "left_anti")
      .join(o.filter(!tomb($"o_custkey"))
        .select($"o_orderkey"), $"l_orderkey" === $"o_orderkey",
        "left_anti")
      .agg(count(lit(1)).as("orphans_after"))
    stats("events", ev, evDel)
      .unionAll(stats("orders", o, o.filter(tomb($"o_custkey"))))
      .unionAll(stats("lineitem", li, liDel))
      .crossJoin(broadcast(orphans))
      .orderBy($"table_name")
  }

  /** Key-uniqueness audit — the PK gate that decides whether a table
    * can be a join spine at all: for each declared key (orders PK,
    * customer PK, lineitem's composite (orderkey, linenumber) — which
    * this corpus VIOLATES, making the op's non-zero row real), the
    * row count, distinct keys, duplicated keys, rows involved in
    * duplicates, and the worst key's multiplicity. A feature join on
    * a non-unique spine silently fans out — this is the audit that
    * catches it before the join does.
    *
    * Scale shape: one map-side-combinable count per key column set,
    * then an O(1) conditional rollup per table; feeds union of
    * O(tables) rows. */
  /** SEQUENCE-GAP detection over the lineitem order-id line — the
    * "which id ranges are missing" audit that catches dropped ingest
    * batches and partial backfills (a contiguous missing run is a
    * lost file; isolated gaps are orders that genuinely have no
    * lines — this corpus has ~1.7% of them, so the audit reads real
    * holes): the 10 LARGEST gaps between consecutive present
    * l_orderkey values, as [gap_start, gap_end] ranges with lengths.
    * Fully integer.
    *
    * Scale shape — the naive global `lead` is a single-partition
    * window (banned here since round 8); instead the id space BUCKETS
    * by `k div 8192`: within-bucket gaps come from a bucket-partitioned
    * window (fully parallel), cross-bucket gaps from a second window
    * over the O(buckets) per-bucket (min, max) rollup — runs of wholly
    * empty buckets collapse into one boundary gap between consecutive
    * non-empty buckets. The two sets tile the id line disjointly, so
    * their union IS the global gap list; the only serial step is the
    * O(buckets) rollup window. Top-10 compiles to
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  def dqGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey".as("k")).distinct()
      .withColumn("b", expr("k div 8192"))
    val wIn = Window.partitionBy($"b").orderBy($"k")
    val inner = keys
      .withColumn("nk", lead($"k", 1).over(wIn))
      .filter($"nk" - $"k" > 1)
      .select(($"k" + 1).as("gap_start"), ($"nk" - 1).as("gap_end"))
    val bounds = keys.groupBy($"b")
      .agg(min($"k").as("lo"), max($"k").as("hi"))
    val wB = Window.orderBy($"b")
    val boundary = bounds
      .withColumn("next_lo", lead($"lo", 1).over(wB))
      .filter($"next_lo" - $"hi" > 1)
      .select(($"hi" + 1).as("gap_start"), ($"next_lo" - 1).as("gap_end"))
    inner.unionByName(boundary)
      .select($"gap_start", $"gap_end",
        ($"gap_end" - $"gap_start" + 1).as("gap_len"))
      .orderBy($"gap_len".desc, $"gap_start").limit(10)
  }

  def dqUniqueness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def audit(table: String, keyName: String, df: DataFrame,
        keys: Seq[String]): DataFrame = {
      val per = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("m"))
      per.agg(sum($"m").as("n_rows"),
          count(lit(1)).as("n_keys"),
          count(when($"m" > 1, lit(1))).as("n_dup_keys"),
          coalesce(sum(when($"m" > 1, $"m")), lit(0L)).as("n_dup_rows"),
          max($"m").as("max_multiplicity"))
        .select(lit(table).as("table_name"), lit(keyName).as("key"),
          $"n_rows", $"n_keys", $"n_dup_keys", $"n_dup_rows",
          $"max_multiplicity")
    }
    audit("customer", "c_custkey", Tables.t(s, dir, "customer"),
        Seq("c_custkey"))
      .unionAll(audit("orders", "o_orderkey", Tables.t(s, dir, "orders"),
        Seq("o_orderkey")))
      .unionAll(audit("lineitem", "o_orderkey+l_linenumber",
        Tables.t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber")))
      .orderBy($"table_name")
  }

  /** Feed-freshness audit — the fifth data-quality gate (after profile,
    * anomaly, drift, referential): per monitored feed, the high-water
    * timestamp and how much volume arrived in the trailing 24 h / 7 d
    * of the feed's OWN high-water mark. Anchoring each feed to its own
    * max (not a cross-feed "now") keeps the op meaningful for feeds on
    * different clocks and makes it pure: re-running on a frozen corpus
    * always yields the same rows — the scheduler compares max_ts
    * against wall-clock OUTSIDE the engine.
    *
    * Scale shape: one map-side-combinable conditional aggregate per
    * feed (max rides the same pass via a broadcast 1-row self-join),
    * union of O(feeds) rows. */
  def dqFreshness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def feed(name: String, df: DataFrame, tsCol: String): DataFrame = {
      val t = df.select(col(tsCol).as("ts"))
      val mx = t.agg(max($"ts").as("max_ts"))
      t.crossJoin(broadcast(mx))
        .agg(count(lit(1)).as("total_rows"),
          max($"max_ts").as("max_ts"),
          count(when($"ts" >= expr("max_ts - INTERVAL 24 HOURS"), lit(1)))
            .as("rows_24h"),
          count(when($"ts" >= expr("max_ts - INTERVAL 7 DAYS"), lit(1)))
            .as("rows_7d"))
        .select(lit(name).as("feed"), $"total_rows", $"max_ts",
          $"rows_24h", $"rows_7d")
    }
    feed("events", Tables.t(s, dir, "events"), "ts")
      .unionAll(feed("orders", Tables.t(s, dir, "orders"), "o_orderdate"))
      .orderBy($"feed")
  }

  def dqReferential(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val keyed = child.groupBy(col(fk).as("k"))
        .agg(count(lit(1)).as("cnt"))
      val par = parent.select(col(pk).as("k")).distinct()
        .withColumn("hit", lit(1))
      val j = keyed.join(if (bcast) broadcast(par) else par, Seq("k"), "left")
      j.agg(
        lit(name).as("fk_edge"),
        sum($"cnt").as("n_child"),
        coalesce(sum(when($"k".isNull, $"cnt")), lit(0L)).as("n_null_fk"),
        coalesce(sum(when($"k".isNotNull && $"hit".isNull, $"cnt")),
          lit(0L)).as("n_orphan"))
    }
    val li = Tables.t(s, dir, "lineitem")
    val o = Tables.t(s, dir, "orders")
    val c = Tables.t(s, dir, "customer")
    val p = Tables.t(s, dir, "part")
    val n = Tables.t(s, dir, "nation")
    edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey",
        bcast = false)
      .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey", p,
        "p_partkey", bcast = false))
      .unionAll(edge("orders.o_custkey->customer", o, "o_custkey", c,
        "c_custkey", bcast = false))
      .unionAll(edge("customer.c_nationkey->nation", c, "c_nationkey", n,
        "n_nationkey", bcast = true))
      .orderBy($"fk_edge")
  }

  /** Deterministic k-fold assignment with a per-fold stratification
    * audit — reproducible cross-validation over a 100-TB corpus: fold
    * = md5(custkey) mod 5 (stateless, cluster-invariant, append-
    * stable), and the emitted per-(fold, segment) counts with integer-
    * ppm fold shares ARE the balance report that tells you whether
    * hash folding preserved the label mix. One map-combinable groupBy.
    */
  def mlKfold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val folds = Tables.t(s, dir, "customer")
      .select($"c_mktsegment",
        (md5int($"c_custkey".cast("string")) % 5).as("fold"))
    val segTot = folds.groupBy($"c_mktsegment").agg(count(lit(1)).as("seg_n"))
    folds.groupBy($"fold", $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(segTot), Seq("c_mktsegment"))
      .select($"fold", $"c_mktsegment", $"n",
        expr("n * 1000000 div seg_n").as("share_ppm"))
      .orderBy($"fold", $"c_mktsegment")
  }

  /** Join-key skew audit — the measurement you run BEFORE choosing a
    * salting factor or trusting AQE's skew split (`q_join_salted` is
    * the cure; this is the diagnosis): for each candidate join key of
    * the fact table, total rows, distinct keys, the heaviest key's row
    * count, and an integer ×100 skew ratio (max/avg) plus the heaviest
    * key itself for drill-in. All pure integer arithmetic.
    *
    * Scale shape: one map-combinable groupBy per key column (the same
    * shuffle the join itself would do — the audit costs one pass of
    * what it measures), O(1) global stats, and the heaviest-key lookup
    * probes the per-key counts against a BROADCAST 1-row stat. */
  def dqSkew(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def audit(keyName: String, df: DataFrame, key: String): DataFrame = {
      val per = df.groupBy(col(key).cast("long").as("k"))
        .agg(count(lit(1)).as("c"))
      val stats = per.agg(sum($"c").as("n_rows"),
        count(lit(1)).as("n_keys"), max($"c").as("max_key_rows"))
      val top = per.join(broadcast(stats), $"c" === $"max_key_rows")
        .agg(min($"k").as("top_key"))
      stats.crossJoin(broadcast(top))
        .select(lit(keyName).as("join_key"), $"n_rows", $"n_keys",
          $"max_key_rows",
          expr("max_key_rows * 100 * n_keys div n_rows").as("skew_x100"),
          $"top_key")
    }
    val li = Tables.t(s, dir, "lineitem")
    audit("l_orderkey", li, "l_orderkey")
      .unionAll(audit("l_partkey", li, "l_partkey"))
      .unionAll(audit("l_suppkey", li, "l_suppkey"))
      .orderBy($"join_key")
  }

  val queries: Map[String, Q] = Map(
    "q_dq_skew" -> (dqSkew _),
    "q_dq_referential" -> (dqReferential _),
    "q_dq_freshness" -> (dqFreshness _),
    "q_dq_gaps" -> (dqGaps _),
    "q_dq_psi" -> (dqPsi _),
    "q_dq_burstiness" -> (dqBurstiness _),
    "q_dq_uniqueness" -> (dqUniqueness _),
    "q_privacy_erasure" -> (privacyErasure _),
    "q_split_temporal" -> (splitTemporal _),
    "q_ml_kfold" -> (mlKfold _),
    "q_sample_balance" -> (sampleBalance _),
    "q_shard_manifest" -> (shardManifest _),
    "q_privacy_kanon" -> (privacyKanon _),
    "q_privacy_ldiversity" -> (privacyLdiversity _),
    "q_privacy_tcloseness" -> (privacyTcloseness _),
    "q_sample_bootstrap" -> (sampleBootstrap _),
    "q_sample_neyman" -> (sampleNeyman _),
    "q_scd2_asof" -> (scd2Asof _),
    "q_dq_drift" -> (dqDrift _),
    "q_sample_consistent" -> (sampleConsistent _),
    "q_sample_reservoir" -> (sampleReservoir _),
    "q_sample_stratified" -> (sampleStratified _),
    "q_sample_weighted" -> (sampleWeighted _),
    "q_sample_mix" -> (sampleMix _),
    "q_split_hash" -> (splitHash _),
    "q_agg_incremental" -> (aggIncremental _),
    "q_snapshot_diff" -> (snapshotDiff _),
    "q_snapshot_merge" -> (snapshotMerge _),
    "q_source_jsonl_roundtrip" -> (jsonlRoundtrip _),
    "q_er_blocking" -> (erBlocking _),
    "q_dq_profile" -> (dqProfile _),
    "q_dq_expectations" -> (dqExpectations _),
    "q_dq_anomaly" -> (dqAnomaly _),
    "q_pipeline_e2e" -> (pipelineE2e _),
    "q_cdc_apply" -> (cdcApply _),
    "q_scd2_build" -> (scd2Build _)
  )

  val oracle: Map[String, String] = Map(
    "q_dq_skew" ->
      """WITH a1 AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS k, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1),
        |s1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(MAX(c) AS BIGINT) AS max_key_rows FROM a1),
        |t1 AS (SELECT MIN(k) AS top_key FROM a1, s1
        |  WHERE a1.c = s1.max_key_rows),
        |a2 AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS k, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1),
        |s2 AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(MAX(c) AS BIGINT) AS max_key_rows FROM a2),
        |t2 AS (SELECT MIN(k) AS top_key FROM a2, s2
        |  WHERE a2.c = s2.max_key_rows),
        |a3 AS (
        |  SELECT CAST(l_suppkey AS BIGINT) AS k, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1),
        |s3 AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(MAX(c) AS BIGINT) AS max_key_rows FROM a3),
        |t3 AS (SELECT MIN(k) AS top_key FROM a3, s3
        |  WHERE a3.c = s3.max_key_rows)
        |SELECT 'l_orderkey' AS join_key, s1.n_rows, s1.n_keys,
        |  s1.max_key_rows,
        |  CAST(s1.max_key_rows * 100 * s1.n_keys // s1.n_rows AS BIGINT)
        |    AS skew_x100, t1.top_key
        |FROM s1, t1
        |UNION ALL SELECT 'l_partkey', s2.n_rows, s2.n_keys,
        |  s2.max_key_rows,
        |  CAST(s2.max_key_rows * 100 * s2.n_keys // s2.n_rows AS BIGINT),
        |  t2.top_key
        |FROM s2, t2
        |UNION ALL SELECT 'l_suppkey', s3.n_rows, s3.n_keys,
        |  s3.max_key_rows,
        |  CAST(s3.max_key_rows * 100 * s3.n_keys // s3.n_rows AS BIGINT),
        |  t3.top_key
        |FROM s3, t3
        |ORDER BY join_key""".stripMargin,
    "q_split_temporal" ->
      """WITH r AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts,
        |    row_number() OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |      AS rn,
        |    (SELECT COUNT(*) FROM events) AS n_total
        |  FROM events),
        |tagged AS (
        |  SELECT ts, CASE WHEN rn * 10 <= n_total * 8 THEN '1_train'
        |    WHEN rn * 10 <= n_total * 9 THEN '2_val'
        |    ELSE '3_test' END AS split
        |  FROM r)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(ts) AS min_ts, MAX(ts) AS max_ts
        |FROM tagged GROUP BY split ORDER BY split""".stripMargin,
    "q_privacy_erasure" ->
      """WITH dead_orders AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 20 = 0),
        |ev AS (
        |  SELECT 'events' AS table_name,
        |    CAST(COUNT(*) AS BIGINT) AS rows_before,
        |    COUNT(CASE WHEN CAST(('0x' ||
        |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 20 = 0 THEN 1 END) AS rows_deleted
        |  FROM events),
        |od AS (
        |  SELECT 'orders' AS table_name,
        |    CAST(COUNT(*) AS BIGINT) AS rows_before,
        |    COUNT(CASE WHEN CAST(('0x' ||
        |      substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 20 = 0 THEN 1 END) AS rows_deleted
        |  FROM orders),
        |lid AS (
        |  SELECT 'lineitem' AS table_name,
        |    CAST(COUNT(*) AS BIGINT) AS rows_before,
        |    COUNT(CASE WHEN l_orderkey IN (SELECT o_orderkey
        |      FROM dead_orders) THEN 1 END) AS rows_deleted
        |  FROM lineitem),
        |orph AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS orphans_after
        |  FROM lineitem l
        |  WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM dead_orders)
        |    AND l.l_orderkey NOT IN (
        |      SELECT o_orderkey FROM orders
        |      WHERE NOT (CAST(('0x' ||
        |        substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % 20 = 0))),
        |u AS (SELECT * FROM ev UNION ALL SELECT * FROM od
        |      UNION ALL SELECT * FROM lid)
        |SELECT table_name, rows_before, rows_deleted,
        |  rows_before - rows_deleted AS rows_after, orphans_after
        |FROM u CROSS JOIN orph ORDER BY table_name""".stripMargin,
    "q_dq_gaps" ->
      """WITH k AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
        |g AS (SELECT k, lead(k) OVER (ORDER BY k) AS nk FROM k)
        |SELECT CAST(k + 1 AS BIGINT) AS gap_start,
        |  CAST(nk - 1 AS BIGINT) AS gap_end,
        |  CAST(nk - k - 1 AS BIGINT) AS gap_len
        |FROM g WHERE nk - k > 1
        |ORDER BY gap_len DESC, gap_start LIMIT 10""".stripMargin,
    "q_dq_uniqueness" ->
      """WITH c AS (
        |  SELECT 'customer' AS table_name, 'c_custkey' AS key, m
        |  FROM (SELECT COUNT(*) AS m FROM customer GROUP BY c_custkey)),
        |o AS (
        |  SELECT 'orders' AS table_name, 'o_orderkey' AS key, m
        |  FROM (SELECT COUNT(*) AS m FROM orders GROUP BY o_orderkey)),
        |l AS (
        |  SELECT 'lineitem' AS table_name,
        |    'o_orderkey+l_linenumber' AS key, m
        |  FROM (SELECT COUNT(*) AS m FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)),
        |u AS (SELECT * FROM c UNION ALL SELECT * FROM o
        |      UNION ALL SELECT * FROM l)
        |SELECT table_name, key,
        |  CAST(SUM(m) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  COUNT(CASE WHEN m > 1 THEN 1 END) AS n_dup_keys,
        |  CAST(COALESCE(SUM(CASE WHEN m > 1 THEN m END), 0) AS BIGINT)
        |    AS n_dup_rows,
        |  MAX(m) AS max_multiplicity
        |FROM u GROUP BY table_name, key ORDER BY table_name""".stripMargin,
    "q_dq_burstiness" ->
      """WITH ph AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(c) AS BIGINT) AS total_events,
        |  CAST(COUNT(*) AS BIGINT) AS n_active_hours,
        |  MAX(c) AS peak_hour_events,
        |  MAX(c) * 1000000 // CAST(SUM(c) AS BIGINT) AS burst_ppm
        |FROM ph GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_dq_psi" ->
      """WITH binned AS (
        |  SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |    THEN 'base' ELSE 'current' END AS snap,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) // 3000000 AS bin,
        |    COUNT(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |tot AS (SELECT snap, SUM(c) AS n FROM binned GROUP BY snap),
        |ppm AS (
        |  SELECT b.snap, b.bin, GREATEST(1000000 * b.c // t.n, 1) AS ppm
        |  FROM binned b JOIN tot t ON b.snap = t.snap),
        |base AS (SELECT bin, ppm AS base_ppm FROM ppm WHERE snap = 'base'),
        |cur AS (SELECT bin, ppm AS cur_ppm FROM ppm WHERE snap = 'current'),
        |j AS (
        |  SELECT COALESCE(base.bin, cur.bin) AS bin,
        |    CAST(COALESCE(base_ppm, 1) AS BIGINT) AS base_ppm,
        |    CAST(COALESCE(cur_ppm, 1) AS BIGINT) AS cur_ppm
        |  FROM base FULL OUTER JOIN cur ON base.bin = cur.bin)
        |SELECT bin, base_ppm, cur_ppm,
        |  CAST(ROUND((cur_ppm - base_ppm) / 1000000.0
        |    * ln(CAST(cur_ppm AS DOUBLE) / base_ppm) * 1000000, 0)
        |  AS BIGINT) AS psi_term_e6
        |FROM j ORDER BY bin""".stripMargin,
    "q_dq_freshness" ->
      """WITH ev AS (
        |  SELECT 'events' AS feed, CAST(COUNT(*) AS BIGINT) AS total_rows,
        |    MAX(CAST(ts AS TIMESTAMP)) AS max_ts,
        |    COUNT(CASE WHEN CAST(ts AS TIMESTAMP) >=
        |      (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
        |        - INTERVAL 24 HOUR THEN 1 END) AS rows_24h,
        |    COUNT(CASE WHEN CAST(ts AS TIMESTAMP) >=
        |      (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
        |        - INTERVAL 7 DAY THEN 1 END) AS rows_7d
        |  FROM events),
        |od AS (
        |  SELECT 'orders' AS feed, CAST(COUNT(*) AS BIGINT) AS total_rows,
        |    MAX(o_orderdate) AS max_ts,
        |    COUNT(CASE WHEN o_orderdate >=
        |      (SELECT MAX(o_orderdate) FROM orders)
        |        - INTERVAL 24 HOUR THEN 1 END) AS rows_24h,
        |    COUNT(CASE WHEN o_orderdate >=
        |      (SELECT MAX(o_orderdate) FROM orders)
        |        - INTERVAL 7 DAY THEN 1 END) AS rows_7d
        |  FROM orders)
        |SELECT * FROM ev UNION ALL SELECT * FROM od ORDER BY feed""".stripMargin,
    "q_dq_referential" ->
      """WITH e1 AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    CAST(COUNT(*) AS BIGINT) AS n_child,
        |    CAST(COUNT(*) FILTER (WHERE l.l_orderkey IS NULL)
        |      AS BIGINT) AS n_null_fk,
        |    CAST(COUNT(*) FILTER (WHERE l.l_orderkey IS NOT NULL
        |      AND o.o_orderkey IS NULL) AS BIGINT) AS n_orphan
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e2 AS (
        |  SELECT 'lineitem.l_partkey->part',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(*) FILTER (WHERE l.l_partkey IS NULL) AS BIGINT),
        |    CAST(COUNT(*) FILTER (WHERE l.l_partkey IS NOT NULL
        |      AND p.p_partkey IS NULL) AS BIGINT)
        |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey),
        |e3 AS (
        |  SELECT 'orders.o_custkey->customer',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(*) FILTER (WHERE o.o_custkey IS NULL) AS BIGINT),
        |    CAST(COUNT(*) FILTER (WHERE o.o_custkey IS NOT NULL
        |      AND c.c_custkey IS NULL) AS BIGINT)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |e4 AS (
        |  SELECT 'customer.c_nationkey->nation',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(*) FILTER (WHERE c.c_nationkey IS NULL) AS BIGINT),
        |    CAST(COUNT(*) FILTER (WHERE c.c_nationkey IS NOT NULL
        |      AND n.n_nationkey IS NULL) AS BIGINT)
        |  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |ORDER BY fk_edge""".stripMargin,
    "q_ml_kfold" ->
      """WITH f AS (
        |  SELECT c_mktsegment,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 5 AS fold
        |  FROM customer),
        |st AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS seg_n
        |  FROM f GROUP BY 1),
        |fc AS (SELECT fold, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM f GROUP BY 1, 2)
        |SELECT fc.fold, fc.c_mktsegment, fc.n,
        |  CAST(fc.n * 1000000 // st.seg_n AS BIGINT) AS share_ppm
        |FROM fc JOIN st ON fc.c_mktsegment = st.c_mktsegment
        |ORDER BY fc.fold, fc.c_mktsegment""".stripMargin,
    "q_sample_balance" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |mn AS (
        |  SELECT MIN(cn) AS min_n FROM (
        |    SELECT COUNT(*) AS cn FROM e GROUP BY event_type)),
        |r AS (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY hv, event_id) AS rk
        |  FROM e)
        |SELECT event_id, event_type
        |FROM r CROSS JOIN mn WHERE rk <= min_n
        |ORDER BY event_id""".stripMargin,
    "q_shard_manifest" ->
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_in
        |  FROM docs),
        |stot AS (SELECT source, SUM(n_chars) AS s_chars
        |  FROM docs GROUP BY source),
        |soff AS (
        |  SELECT source, COALESCE(SUM(s_chars) OVER (ORDER BY source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_off
        |  FROM stot),
        |g AS (
        |  SELECT c.doc_id, c.n_chars,
        |    CAST((so.s_off + c.cum_in - c.n_chars) // 10000 AS BIGINT)
        |      AS shard_id
        |  FROM cum c JOIN soff so ON c.source = so.source)
        |SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM g GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "q_privacy_ldiversity" ->
      """WITH pc AS (
        |  SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |mode AS (
        |  SELECT o_custkey, o_orderpriority AS sensitive
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY cnt DESC, o_orderpriority) AS rn
        |        FROM pc) WHERE rn = 1),
        |groups AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l,
        |    CAST(COUNT(*) AS BIGINT) AS group_size
        |  FROM customer LEFT JOIN mode ON c_custkey = o_custkey
        |  GROUP BY 1, 2)
        |SELECT l, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(group_size) AS BIGINT) AS n_customers,
        |  MIN(group_size) AS min_group_size
        |FROM groups GROUP BY l ORDER BY l""".stripMargin,
    "q_privacy_tcloseness" ->
      """WITH pc AS (
        |  SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |sens AS (
        |  SELECT o_custkey, o_orderpriority AS sv
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY cnt DESC, o_orderpriority) AS rn
        |        FROM pc) WHERE rn = 1),
        |rws AS (
        |  SELECT c_nationkey, c_mktsegment, sv
        |  FROM customer JOIN sens ON c_custkey = o_custkey),
        |lv AS (SELECT DISTINCT sv FROM rws),
        |gdist AS (SELECT sv, CAST(COUNT(*) AS BIGINT) AS g_cnt
        |         FROM rws GROUP BY sv),
        |gsz AS (SELECT c_nationkey, c_mktsegment,
        |          CAST(COUNT(*) AS BIGINT) AS gsz
        |        FROM rws GROUP BY 1, 2),
        |cell AS (SELECT c_nationkey, c_mktsegment, sv,
        |           CAST(COUNT(*) AS BIGINT) AS cnt
        |         FROM rws GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM rws),
        |spine AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.gsz, lv.sv,
        |    COALESCE(c.cnt, 0) AS cnt, gl.g_cnt
        |  FROM gsz g CROSS JOIN lv
        |  LEFT JOIN cell c ON c.c_nationkey = g.c_nationkey
        |    AND c.c_mktsegment = g.c_mktsegment AND c.sv = lv.sv
        |  JOIN gdist gl ON gl.sv = lv.sv),
        |cum AS (
        |  SELECT c_nationkey, c_mktsegment, gsz,
        |    CAST(SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW) AS BIGINT) AS cum_g,
        |    CAST(SUM(g_cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW) AS BIGINT) AS cum_glob,
        |    (SELECT n_total FROM tot) AS n_total
        |  FROM spine)
        |SELECT c_nationkey, c_mktsegment, gsz AS group_size,
        |  CAST(SUM(abs(cum_g * n_total - cum_glob * gsz)) * 1000000
        |    // (4 * gsz * n_total) AS BIGINT) AS t_ppm
        |FROM cum WHERE cum_glob < n_total
        |GROUP BY c_nationkey, c_mktsegment, gsz, n_total
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_privacy_kanon" ->
      """WITH qi AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment,
        |    (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 200000
        |      AS bal_bin
        |  FROM customer),
        |gs AS (
        |  SELECT c_nationkey, c_mktsegment, bal_bin,
        |    CAST(COUNT(*) AS BIGINT) AS gsz
        |  FROM qi GROUP BY 1, 2, 3),
        |ks AS (SELECT CAST(UNNEST([2, 5, 10]) AS BIGINT) AS k),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM qi)
        |SELECT ks.k,
        |  CAST(COUNT(gs.gsz) AS BIGINT) AS n_groups_at_risk,
        |  CAST(COALESCE(SUM(gs.gsz), 0) AS BIGINT) AS n_rows_at_risk,
        |  CAST(COALESCE(SUM(gs.gsz), 0) * 1000000
        |    // (SELECT n_total FROM tot) AS BIGINT) AS rows_ppm
        |FROM ks LEFT JOIN gs ON gs.gsz < ks.k
        |GROUP BY ks.k ORDER BY ks.k""".stripMargin,
    "q_scd2_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |      AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |v AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS ver
        |  FROM chg),
        |d AS (
        |  SELECT UNNEST([DATE '2024-01-08', DATE '2024-01-15',
        |                 DATE '2024-01-22', DATE '2024-01-29']) AS snap_date),
        |cand AS (
        |  SELECT user_id, snap_date, event_type, ver,
        |    row_number() OVER (PARTITION BY user_id, snap_date
        |      ORDER BY us DESC, event_id DESC) AS rn
        |  FROM v CROSS JOIN d
        |  WHERE us < epoch_us(CAST(snap_date AS TIMESTAMP)) + 1)
        |SELECT user_id, snap_date, event_type AS state,
        |  CAST(ver AS BIGINT) AS ver
        |FROM cand WHERE rn = 1 ORDER BY user_id, snap_date""".stripMargin,
    "q_sample_bootstrap" ->
      """WITH ex AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    UNNEST([0, 1, 2]) AS rep
        |  FROM orders),
        |ku AS (
        |  SELECT o_orderstatus, rep, o_totalprice,
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
        |      || CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
        |  FROM ex),
        |kk AS (
        |  SELECT o_orderstatus, rep, o_totalprice,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |         WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |         WHEN u < 996340 THEN 4 ELSE 5 END AS k
        |  FROM ku)
        |SELECT rep, o_orderstatus,
        |  CAST(SUM(k) AS BIGINT) AS n_drawn,
        |  CAST(SUM(CAST(k AS DECIMAL(2,0))
        |    * CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total,
        |  COUNT(*) AS n_orders
        |FROM kk GROUP BY rep, o_orderstatus
        |ORDER BY rep, o_orderstatus""".stripMargin,
    "q_sample_mix" ->
      """WITH docs AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'web'
        |         WHEN CAST(substr(source, 4) AS INT) < 15 THEN 'curated'
        |         ELSE 'reference' END AS tier,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS dh
        |  FROM documents),
        |budget AS (SELECT SUM(n_chars) // 2 AS b FROM docs),
        |tb AS (
        |  SELECT 'web' AS tier,
        |    (SELECT b FROM budget) * 500000 // 1000000 AS tier_budget
        |  UNION ALL SELECT 'curated', (SELECT b FROM budget) * 300000 // 1000000
        |  UNION ALL SELECT 'reference', (SELECT b FROM budget) * 200000 // 1000000),
        |incum AS (
        |  SELECT doc_id, source, tier, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY dh, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_in
        |  FROM docs),
        |stot AS (
        |  SELECT source, tier, SUM(n_chars) AS s_chars,
        |    CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) AS sh
        |  FROM docs GROUP BY 1, 2, 4),
        |soff AS (
        |  SELECT source,
        |    COALESCE(SUM(s_chars) OVER (PARTITION BY tier ORDER BY sh, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_off
        |  FROM stot)
        |SELECT i.doc_id, i.tier, CAST(i.n_chars AS BIGINT) AS n_chars
        |FROM incum i JOIN soff o ON o.source = i.source
        |JOIN tb ON tb.tier = i.tier
        |WHERE o.s_off + i.cum_in <= tb.tier_budget
        |ORDER BY i.doc_id""".stripMargin,
    "q_sample_neyman" ->
      """WITH per AS (
        |  SELECT c_mktsegment, o_custkey,
        |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |seg AS (
        |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_h,
        |    SUM(x) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM per GROUP BY 1),
        |w AS (
        |  SELECT c_mktsegment, n_h,
        |    sqrt((CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_h) / (n_h - 1))
        |      AS s_h
        |  FROM seg),
        |ww AS (
        |  SELECT c_mktsegment, n_h, s_h,
        |    CAST(ROUND(CAST(n_h AS DOUBLE) * s_h) AS BIGINT) AS w_h
        |  FROM w),
        |t AS (SELECT SUM(w_h) AS tot_w FROM ww)
        |SELECT c_mktsegment, n_h,
        |  ROUND(s_h / 100.0, 4) AS spend_std,
        |  CAST(floor(CAST(1000.0 AS DOUBLE) * w_h / tot_w) AS BIGINT) AS alloc
        |FROM ww CROSS JOIN t ORDER BY c_mktsegment""".stripMargin,
    "q_dq_drift" ->
      """WITH tagged AS (
        |  SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
        |      THEN 'base' ELSE 'current' END AS snap,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) // 3000000 AS bin
        |  FROM orders),
        |per AS (SELECT snap, bin, COUNT(*) AS c FROM tagged GROUP BY 1, 2),
        |tot AS (SELECT snap, SUM(c) AS n FROM per GROUP BY snap),
        |ppm AS (
        |  SELECT per.snap, per.bin,
        |    CAST((1000000 * per.c) // tot.n AS BIGINT) AS share_ppm
        |  FROM per JOIN tot ON per.snap = tot.snap),
        |b AS (SELECT bin, share_ppm FROM ppm WHERE snap = 'base'),
        |c AS (SELECT bin, share_ppm FROM ppm WHERE snap = 'current')
        |SELECT COALESCE(b.bin, c.bin) AS bin,
        |  COALESCE(b.share_ppm, 0) AS base_ppm,
        |  COALESCE(c.share_ppm, 0) AS cur_ppm,
        |  abs(COALESCE(b.share_ppm, 0) - COALESCE(c.share_ppm, 0)) AS drift_ppm
        |FROM b FULL OUTER JOIN c ON b.bin = c.bin
        |ORDER BY bin""".stripMargin,
    "q_cdc_apply" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type, value
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, ts AS last_ts, event_type AS state,
        |  value AS last_value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q_scd2_build" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events),
        |m AS (
        |  SELECT *,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |        OR lag(event_type) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS ver
        |  FROM m),
        |v AS (
        |  SELECT user_id, CAST(ver AS BIGINT) AS ver,
        |    MIN(event_type) AS state, MIN(ts) AS valid_from,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY user_id, ver)
        |SELECT user_id, ver, state, valid_from,
        |  lead(valid_from) OVER wv AS valid_to,
        |  (lead(valid_from) OVER wv IS NULL) AS is_current,
        |  n_events
        |FROM v
        |WINDOW wv AS (PARTITION BY user_id ORDER BY ver)
        |ORDER BY user_id, ver""".stripMargin,
    "q_pipeline_e2e" -> {
      val stopList = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
         |  SELECT doc_id, lang, n_chars, text,
         |    len(string_split(text, ' ')) AS n_tokens
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) BETWEEN 40 AND 200
         |    AND CAST(len(list_filter(string_split(text, ' '),
         |      w -> w IN ($stopList))) AS DOUBLE)
         |      / len(string_split(text, ' ')) <= 0.18),
         |s AS (
         |  SELECT MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
         |    MIN(n_chars) AS n_chars, MIN(n_tokens) AS n_tokens
         |  FROM f GROUP BY text),
         |sp AS (
         |  SELECT *,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 10 AS bucket
         |  FROM s)
         |SELECT CASE WHEN bucket < 8 THEN 'train'
         |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
         |  lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tokens
         |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin
    },
    "q_dq_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, COUNT(*) AS x
        |  FROM events GROUP BY 1),
        |win AS (
        |  SELECT d, x,
        |    COUNT(x) OVER w AS win_n,
        |    SUM(x) OVER w AS win_sum,
        |    SUM(x * x) OVER w AS win_sumsq
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT d, CAST(x AS BIGINT) AS n_events, CAST(win_n AS BIGINT) AS win_n,
        |  CASE WHEN win_n = 7 THEN CAST(7 * x - win_sum AS BIGINT) END AS dev7,
        |  (win_n = 7 AND
        |   3 * (7 * x - win_sum) * (7 * x - win_sum) >
        |   14 * (7 * win_sumsq - win_sum * win_sum)) AS is_anomaly
        |FROM win ORDER BY d""".stripMargin,
    "q_sample_weighted" ->
      """SELECT doc_id, lang, source, n_chars,
        |  ROUND(400.0 / LEAST(n_chars, 400), 4) AS ht_weight
        |FROM documents
        |WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |       % 1000000) * 400
        |      < LEAST(n_chars, 400) * 1000000
        |ORDER BY doc_id""".stripMargin,
    "q_sample_consistent" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |    AS hv
        |FROM customer ORDER BY hv, c_custkey LIMIT 100""".stripMargin,
    "q_sample_reservoir" ->
      """WITH r AS (
        |  SELECT doc_id, lang, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      AS hv
        |  FROM documents),
        |k AS (
        |  SELECT lang, source,
        |    CAST(row_number() OVER (PARTITION BY lang, source
        |      ORDER BY hv, doc_id) AS BIGINT) AS rn,
        |    doc_id, hv
        |  FROM r)
        |SELECT lang, source, rn, doc_id, hv FROM k
        |WHERE rn <= 10 ORDER BY lang, source, rn""".stripMargin,
    "q_sample_stratified" ->
      """WITH r AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_custkey) AS BIGINT) AS rn
        |  FROM customer)
        |SELECT c_custkey, c_mktsegment, rn FROM r
        |WHERE (rn - 1) % 10 = 0 ORDER BY c_custkey""".stripMargin,
    "q_split_hash" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 10 AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 10 < 8 THEN 'train'
        |  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 10 = 8 THEN 'val' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_agg_incremental" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS spend
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY o_custkey),
        |b AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS spend
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT COALESCE(a.custkey, b.custkey) AS custkey,
        |  CASE WHEN a.n IS NULL THEN 'added'
        |       WHEN a.n = b.n THEN 'same' ELSE 'changed' END AS status,
        |  CAST(a.n AS BIGINT) AS a_n, CAST(b.n AS BIGINT) AS b_n,
        |  CAST(a.spend AS DOUBLE) AS a_spend,
        |  CAST(b.spend AS DOUBLE) AS b_spend
        |FROM a FULL JOIN b ON a.custkey = b.custkey
        |ORDER BY custkey""".stripMargin,
    // DIRECT rebuild at the new cutoff — NOT a mirror of the merge:
    // equality proves the incremental apply equals the full recompute.
    "q_snapshot_merge" ->
      """SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS spend
        |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_custkey ORDER BY custkey""".stripMargin,
    "q_source_jsonl_roundtrip" ->
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1000000)
        |    AS BIGINT) AS text_wit
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_dq_expectations" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v1,
        |    SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0
        |      THEN 1 ELSE 0 END) AS v2,
        |    SUM(CASE WHEN l_discount IS NULL OR l_discount < 0
        |      OR l_discount > 0.1 THEN 1 ELSE 0 END) AS v3,
        |    SUM(CASE WHEN l_returnflag IS NULL
        |      OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS v4,
        |    SUM(CASE WHEN l_extendedprice IS NULL
        |      OR l_extendedprice > 95000.0 THEN 1 ELSE 0 END) AS v5
        |  FROM lineitem)
        |SELECT t.rule_id, CAST(a.n_rows AS BIGINT) AS n_rows,
        |  CAST(t.v AS BIGINT) AS n_violations,
        |  CAST(t.v * 1000000 // a.n_rows AS BIGINT) AS viol_ppm,
        |  CAST(t.tol AS BIGINT) AS max_ppm,
        |  t.v * 1000000 <= t.tol * a.n_rows AS passed
        |FROM a, LATERAL (VALUES
        |  ('orderkey_not_null', a.v1, 0),
        |  ('quantity_positive', a.v2, 0),
        |  ('discount_in_range', a.v3, 0),
        |  ('returnflag_in_domain', a.v4, 0),
        |  ('price_below_cap', a.v5, 10000)) AS t(rule_id, v, tol)
        |ORDER BY t.rule_id""".stripMargin,
    "q_dq_profile" -> {
      def col1(tbl: String, c: String, num: Boolean, viol: String) = {
        val (minN, maxN, minS, maxS) =
          if (num) (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
        s"""SELECT '$tbl' AS tbl, '$c' AS col,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) FILTER ($c IS NULL) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $minN AS min_num, $maxN AS max_num,
           |  $minS AS min_str, $maxS AS max_str,
           |  CAST(COUNT(*) FILTER ($c IS NOT NULL AND ($viol)) AS BIGINT)
           |    AS n_violation
           |FROM $tbl""".stripMargin
      }
      Seq(
        col1("customer", "c_custkey", num = true, "c_custkey <= 0"),
        col1("customer", "c_acctbal", num = true,
          "NOT (c_acctbal BETWEEN -1000 AND 10000)"),
        col1("customer", "c_mktsegment", num = false,
          "c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE'," +
            "'HOUSEHOLD','MACHINERY')"),
        col1("events", "event_type", num = false,
          "event_type NOT IN ('click','error','purchase','signup','view')"),
        col1("events", "user_id", num = true, "user_id < 0"),
        col1("events", "value", num = true, "value <= 0")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col")
    },
    "q_er_blocking" ->
      """WITH dirty AS (
        |  SELECT c_custkey AS dirty_id,
        |    substr(c_name, 1, CAST(9 + c_custkey % 5 AS INTEGER)) || 'x' ||
        |      substr(c_name, CAST(11 + c_custkey % 5 AS INTEGER)) AS dirty_name,
        |    substr(c_name, 15, 4) AS blk
        |  FROM customer),
        |clean AS (
        |  SELECT c_custkey, c_name, substr(c_name, 15, 4) AS blk FROM customer)
        |SELECT d.dirty_id, c.c_custkey AS matched_id,
        |  CAST(levenshtein(d.dirty_name, c.c_name) AS INTEGER) AS dist
        |FROM dirty d JOIN clean c USING (blk)
        |WHERE levenshtein(d.dirty_name, c.c_name) <= 1
        |ORDER BY dirty_id, matched_id""".stripMargin
  )
}
