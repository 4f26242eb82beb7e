package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

/** The native band-join operator (the shuffled
  * `graft.plans.BandJoinProbeExec` and its broadcast small-side twin
  * `BandJoinBroadcastExec`): boundary semantics on synthetic data,
  * exactly-once pairing across bin boundaries, a seeded random
  * property check against a local brute-force reference, equality with
  * the explode+hash-join composition on the corpus, and the plan shapes
  * of BOTH physical paths (the strategy picks broadcast under
  * `spark.sql.autoBroadcastJoinThreshold`, the shuffled probe above
  * it — r10 verdict item #5). Every semantic test runs under both
  * paths: same operator, two executions, one truth. */
class BandJoinSpec extends SparkSpec {
  import spark.implicits._

  private def band(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame,
      loF: Double, hiF: Double, binW: Double) =
    GraftFunctions.bandJoin(l, "lv", r, "rv", loF, hiF, binW)

  /** Run `f` once per physical path: default threshold (tiny test
    * frames broadcast), then threshold disabled (the shuffled PROBE
    * exec) — same operator, two executions, one truth. */
  private def bothPaths[A](f: String => A): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      f("broadcast")
      spark.conf.set(key, "-1")
      f("shuffle-probe")
    } finally spark.conf.set(key, old)
  }

  test("band join is inclusive on both bounds and drops nulls/negatives") {
    // lval=100, factors (0.5, 2.0): band [50, 200] with EXACT double
    // endpoints — rights at 50 and 200 must match, 49.999/200.001 not
    val left = Seq((Some(100.0), 1L), (None, 2L), (Some(-100.0), 3L))
      .toDF("lv", "lid")
    val right = Seq((Some(50.0), 10L), (Some(200.0), 11L),
      (Some(49.999), 12L), (Some(200.001), 13L), (None, 14L))
      .toDF("rv", "rid")
    bothPaths { path =>
      val got = band(left, right, 0.5, 2.0, 10.0)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 10L), (1L, 11L)), s"path $path")
    }
  }

  test("a NaN right value never matches and never unsorts the probe index") {
    // ADVICE r14 (medium): the probe form's bin index is sorted by a
    // tandem quicksort whose total order NaN breaks (both comparisons
    // false) — one NaN right value in a bin could silently misdirect
    // the binary search and LOSE valid matches. NaN satisfies no
    // lo<=v<=hi band, so the cursor now skips it like a null; both
    // paths must agree AND keep every valid match. The NaN row
    // is planted in the same bin as valid rows, between values that
    // must still be found.
    val left = Seq((100.0, 1L)).toDF("lv", "lid") // band [50, 200]
    val right = Seq((55.0, 10L), (Double.NaN, 11L), (51.0, 12L),
      (59.0, 13L), (190.0, 14L), (300.0, 15L)).toDF("rv", "rid")
    bothPaths { path =>
      val got = band(left, right, 0.5, 2.0, 10.0)
        .select($"rid").as[Long].collect().toSet
      assert(got === Set(10L, 12L, 13L, 14L), s"path $path")
    }
  }

  test("a pair meets exactly once even when the band spans many bins") {
    // binW=10 against band [50,200]: the left row replicates into 16
    // bins; every matching right must appear EXACTLY once
    val left = Seq((100.0, 1L)).toDF("lv", "lid")
    val right = (0 until 300).map(i => (i.toDouble, i.toLong))
      .toDF("rv", "rid")
    bothPaths { path =>
      val got = band(left, right, 0.5, 2.0, 10.0)
        .select($"rid").as[Long].collect().sorted
      assert(got.toSeq === (50L to 200L), s"path $path")
    }
  }

  test("property: band join equals brute force on both paths (seeded random)") {
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 6) {
      val nl = 30 + rnd.nextInt(120)
      val nr = rnd.nextInt(300) // includes tiny/empty right rounds
      // duplicate values on both sides exercise window-buffer ties
      val left = (0 until nl).map(i =>
        (rnd.nextInt(50) * 2.5, i.toLong)).toDF("lv", "lid")
      val right = (0 until nr).map(i =>
        (rnd.nextInt(50) * 2.5, i.toLong)).toDF("rv", "rid")
      val (loF, hiF) = (0.8, 1.25)
      val lRows = left.as[(Double, Long)].collect()
      val rRows = right.as[(Double, Long)].collect()
      val want = (for {
        (lv, lid) <- lRows
        (rv, rid) <- rRows
        if rv >= lv * loF && rv <= lv * hiF
      } yield (lid, rid)).sorted.toSeq
      bothPaths { path =>
        val got = band(left, right, loF, hiF, 20.0)
          .select($"lid", $"rid").as[(Long, Long)].collect().sorted.toSeq
        assert(got === want, s"round $round ($path): $nl x $nr")
      }
    }
  }

  test("a single mega-bin exceeds the initial buffers and still matches brute force") {
    // every right row lands in ONE bin (values within one binW): the
    // probe's bin index outgrows its initial 16-slot capacity — the
    // grow() path must preserve order/content
    val left = (0 until 40).map(i => (100.0 + i * 0.5, i.toLong))
      .toDF("lv", "lid")
    val right = (0 until 500).map(i => (100.0 + (i % 120) * 0.25, i.toLong))
      .toDF("rv", "rid")
    val (loO, hiO) = (-3.0, 3.0)
    val lRows = left.as[(Double, Long)].collect()
    val rRows = right.as[(Double, Long)].collect()
    val want = (for {
      (lv, lid) <- lRows
      (rv, rid) <- rRows
      if rv >= lv + loO && rv <= lv + hiO
    } yield (lid, rid)).sorted.toSeq
    assert(want.size > 2000) // the windows genuinely exceed 16 rows
    bothPaths { path =>
      val got = GraftFunctions
        .bandJoinOffset(left, "lv", right, "rv", loO, hiO, 1000.0)
        .select($"lid", $"rid").as[(Long, Long)].collect().sorted.toSeq
      assert(got === want, s"path $path")
    }
  }

  test("probe form fails actionably when a bin exceeds the buffer cap") {
    // a pathological mega-bin must name the remedy (a narrower
    // binWidth) instead of taking the executor down with an opaque OOM
    val rows = (0 until 64).map(i =>
      new GenericInternalRow(Array[Any](7L, 100.0 + i * 0.01)): InternalRow)
    val prober = new graft.plans.BinProber(rows.iterator, 0, 1, maxRows = 8)
    val e = intercept[IllegalArgumentException](prober.load(7L))
    assert(e.getMessage.contains("binWidth"),
      s"expected the actionable cap message, got: ${e.getMessage}")
  }

  test("native band join equals the explode+hash-join composition on the corpus") {
    val dir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q_join_range_binned")(spark, dir)
      .collect().map(_.toSeq).toSeq
    bothPaths { path =>
      val b = SparkEntry.queries("q_join_range_native")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(a === b, s"path $path diverged from the composition")
    }
  }

  test("additive band (offsets, factors 1) equals brute force on both paths") {
    // The round-13 affine generalization: constant-width windows a
    // multiplicative band cannot express. Seeded random over a range
    // STRADDLING ZERO: equal-factor bands never flip, so negative
    // values are legitimate probes/candidates (review fix — the
    // multiplicative drop guard must not apply), and negative bins
    // must bin/join correctly.
    val rnd = new scala.util.Random(13)
    for (round <- 1 to 4) {
      val nl = 30 + rnd.nextInt(80)
      val nr = rnd.nextInt(250)
      val left = (0 until nl).map(i =>
        ((rnd.nextInt(80) - 40) * 1.5, i.toLong)).toDF("lv", "lid")
      val right = (0 until nr).map(i =>
        ((rnd.nextInt(80) - 40) * 1.5, i.toLong)).toDF("rv", "rid")
      val (loO, hiO) = (-12.0, 12.0)
      val lRows = left.as[(Double, Long)].collect()
      val rRows = right.as[(Double, Long)].collect()
      val want = (for {
        (lv, lid) <- lRows
        (rv, rid) <- rRows
        if rv >= lv + loO && rv <= lv + hiO
      } yield (lid, rid)).sorted.toSeq
      bothPaths { path =>
        val got = GraftFunctions
          .bandJoinOffset(left, "lv", right, "rv", loO, hiO, 24.0)
          .select($"lid", $"rid").as[(Long, Long)].collect().sorted.toSeq
        assert(got === want, s"round $round ($path): $nl x $nr")
      }
    }
  }

  test("interval-events join: band exec, no BNLJ, equals brute force") {
    val dir = "/root/testdata/sf0.001"
    // brute-force reference via a plain (cross-shaped) join in Spark
    val e = graft.Tables.t(spark, dir, "events")
    val err = e.filter($"event_type" === "error")
      .select($"event_id".as("err_id"), $"ts".as("err_ts"))
    val pur = e.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"ts".as("p_ts"))
    val want = err.join(pur,
        unix_micros($"p_ts").between(
          unix_micros($"err_ts") - 3600000000L,
          unix_micros($"err_ts") + 3600000000L))
      .groupBy($"err_id")
      .agg(count(lit(1)).as("n_purchases"),
        min($"p_id").as("min_p"), max($"p_id").as("max_p"))
      .orderBy($"err_id").collect().map(_.toSeq).toSeq
    bothPaths { path =>
      val df = SparkEntry.queries("q_join_interval_events")(spark, dir)
      assert(df.collect().map(_.toSeq).toSeq === want, s"path $path")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BandJoin"), s"must run the band exec:\n$p")
      assert(!p.contains("BroadcastNestedLoop"),
        s"the interval join must never fall back to BNLJ:\n$p")
    }
  }

  test("plan: small right side takes the broadcast path, no shuffle on the join") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q_join_range_native")(spark, dir)
    df.count() // materialize AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BandJoinBroadcast"),
      s"sub-threshold right side must broadcast:\n$p")
    assert(p.contains("BroadcastExchange"), s"broadcast exchange missing:\n$p")
    assert(!p.contains("BroadcastNestedLoop"),
      s"range join must never fall back to BNLJ:\n$p")
  }

  test("plan: above-threshold default is the PROBE exec — bin-only radix sorts") {
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = SparkEntry.queries("q_join_range_native")(spark, dir)
      df.count() // materialize AQE final plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BandJoinProbe"), s"probe exec missing:\n$p")
      assert(!p.contains("BroadcastNestedLoop"),
        s"range join must never fall back to BNLJ:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"the band exec replaces the generic join:\n$p")
      assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) >= 2,
        s"both sides should hash-cluster on the bin:\n$p")
      // the probe form's reason to exist: every Sort feeding it orders
      // by the SINGLE bin key (radix-eligible), never (bin, value)
      val sortLines = p.linesIterator
        .filter(l => l.trim.matches(".*Sort \\[.*__graft_band_bin.*")).toSeq
      assert(sortLines.nonEmpty, s"band-bin sorts missing:\n$p")
      sortLines.foreach { l =>
        val keys = l.substring(l.indexOf("Sort [") + 6, l.indexOf("]"))
        assert(!keys.contains(","),
          s"probe-form sort must be single-key (radix path):\n$l")
      }
    } finally spark.conf.set(key, old)
  }

  test("plan: BOTH paths head a whole-stage codegen span; results match") {
    // round 12 (r10 verdict item #6): BandJoinBroadcastExec fuses the
    // probe side via produce/consume (the BroadcastHashJoin recipe);
    // BandJoinProbeExec feeds its sorted children as stage inputs and
    // generates the per-bin emission loop (the SortMergeJoin recipe).
    // AQE's initial-plan string hides codegen spans, so pin the
    // statically collapsed plans in an AQE-off session.
    val dir = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("q_join_range_native")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def pinned(node: String): Unit = {
        val df = SparkEntry.queries("q_join_range_native")(ss, dir)
        val p = df.queryExecution.executedPlan.toString
        val line = p.linesIterator.find(_.contains(node)).get
        assert(line.trim.takeWhile(!_.isLetter).contains("*"),
          s"$node must sit inside a WholeStageCodegen span:\n$p")
        assert(df.collect().map(_.toSeq).toSeq === expected,
          s"$node codegen path diverged")
        graft.ops.OpCache.clear(ss)
      }
      pinned("BandJoinBroadcast")
      val key = "spark.sql.autoBroadcastJoinThreshold"
      ss.conf.set(key, "-1")
      pinned("BandJoinProbe")
    } finally graft.ops.OpCache.clear(ss)
  }
}
