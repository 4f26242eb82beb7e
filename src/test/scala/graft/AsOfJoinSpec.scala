package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

/** The native as-of operator (`graft.plans.AsOfJoinExec`): semantics on
  * adversarial synthetic data, equality with the union+window
  * composition on the real corpus, and the plan shape. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def asof(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame) =
    GraftFunctions.asofJoin(l, r, "key", "ts", "rkey", "rts")

  test("asof picks the latest strictly-earlier row per key, else null") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"),
      (3L, 7L, "d")).toDF("key", "ts", "tag")
    val right = Seq((1L, 9L, "r1"), (1L, 10L, "r2"), (1L, 19L, "r3"),
      (2L, 5L, "r4"), (9L, 1L, "r9")).toDF("rkey", "rts", "rtag")
    val got = asof(left, right)
      .select($"tag", $"rtag").as[(String, String)].collect().toMap
    // ts=10: r1 (rts 9 < 10; r2's rts 10 is NOT strictly earlier)
    assert(got("a") === "r1")
    // ts=20: r3 is the latest of {9, 10, 19}
    assert(got("b") === "r3")
    // key 2 at ts=5: r4 has rts 5, not strictly earlier → null
    assert(got("c") === null)
    // key 3 has no right rows at all → null
    assert(got("d") === null)
  }

  test("forward as-of picks the earliest strictly-later row per key, else null") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"),
      (3L, 7L, "d")).toDF("key", "ts", "tag")
    val right = Seq((1L, 10L, "r0"), (1L, 11L, "r1"), (1L, 19L, "r2"),
      (2L, 5L, "r4"), (9L, 99L, "r9")).toDF("rkey", "rts", "rtag")
    val got = GraftFunctions
      .asofJoinForward(left, right, "key", "ts", "rkey", "rts")
    // the scratch negated columns never escape the helper
    assert(got.columns.toSeq ===
      Seq("key", "ts", "tag", "rkey", "rts", "rtag"))
    val m = got.select($"tag", $"rtag").as[(String, String)].collect().toMap
    // ts=10: r1 (rts 11 is the earliest STRICTLY after; r0's 10 is not)
    assert(m("a") === "r1")
    // ts=20: nothing after → null
    assert(m("b") === null)
    // key 2 at ts=5: r4 is simultaneous, not after → null
    assert(m("c") === null)
    assert(m("d") === null)
  }

  test("asof survives multi-partition shuffles and key collisions") {
    // 100 keys × 20 left rows, right rows interleaved; forces real
    // hash exchanges (shuffle.partitions=4 in this session) and keys
    // that land in every partition
    val left = spark.range(2000).select(
      (col("id") % 100).as("key"), (col("id") * 7 % 1000).as("ts"),
      col("id").as("lid"))
    val right = spark.range(3000).select(
      (col("id") % 100).as("rkey"), (col("id") * 11 % 1000).as("rts"),
      col("id").as("rid"))
    val got = asof(left, right)
    // reference: window-free SQL semantics via a correlated max
    left.createOrReplaceTempView("aol")
    right.createOrReplaceTempView("aor")
    val ref = spark.sql(
      """SELECT l.lid,
        |  (SELECT max(struct(r.rts, r.rid)).rid FROM aor r
        |   WHERE r.rkey = l.key AND r.rts < l.ts) AS rid
        |FROM aol l""".stripMargin)
    val g = got.select($"lid", $"rid").as[(Long, Option[Long])]
      .collect().toMap
    val e = ref.as[(Long, Option[Long])].collect().toMap
    assert(g.size === e.size)
    // the operator ties on (rts) by LAST in (key, ts, input) sort order;
    // the reference picks max (rts, rid) — align by comparing rts only
    val rtsOf = right.select($"rid", $"rts").as[(Long, Long)]
      .collect().toMap
    e.foreach { case (lid, erid) =>
      val grid = g(lid)
      assert(grid.isDefined === erid.isDefined, s"lid $lid presence")
      (grid, erid) match {
        case (Some(a), Some(b)) =>
          assert(rtsOf(a) === rtsOf(b), s"lid $lid: picked rts differs")
        case _ =>
      }
    }
  }

  test("property: matched ts is the max eligible ts, null iff none (seeded random)") {
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 8) {
      // small key space forces duplicates and hot keys; ts collisions
      // on both sides exercise the strict-< boundary and right-side
      // ties (contract: SOME max-ts row — assert on ts, not identity)
      val nl = 50 + rnd.nextInt(250)
      val nr = rnd.nextInt(400) // round sizes include a tiny right side
      val left = (0 until nl).map(i =>
        (rnd.nextInt(12).toLong, rnd.nextInt(40).toLong, i.toLong))
        .toDF("key", "ts", "lid")
      val right = (0 until nr).map(i =>
        (rnd.nextInt(12).toLong, rnd.nextInt(40).toLong, i.toLong))
        .toDF("rkey", "rts", "rid")
      val got = asof(left, right)
        .select($"lid", $"key", $"ts", $"rts")
        .as[(Long, Long, Long, Option[Long])].collect()
      assert(got.length === nl, s"round $round: row count")
      val rightRows = right.as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      got.foreach { case (lid, k, ts, rts) =>
        val eligible = rightRows.getOrElse(k, Array.empty[Long])
          .filter(_ < ts)
        if (eligible.isEmpty)
          assert(rts.isEmpty, s"round $round lid $lid: expected null")
        else
          assert(rts.contains(eligible.max),
            s"round $round lid $lid: got $rts want ${eligible.max}")
      }
    }
  }

  test("native as-of equals the union+window composition on the corpus") {
    val dir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q_join_asof")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q_join_asof_native")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("nearest composition: purchases shuffle once across both passes") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q_join_nearest")(spark, dir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("AsOfJoin")) === 2,
      s"expected both native passes in one plan:\n$p")
    // 3 hash exchanges: purchases once (pass 2 reuses the preserved
    // clustering), each touch scan once; the final orderBy adds a
    // range exchange, not a hash one
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 3,
      s"purchases must not re-shuffle between the two as-of passes:\n$p")
  }

  test("plan: native exec node, co-partitioned sorts, no Window") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q_join_asof_native")(spark, dir)
    df.count() // materialize AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"native exec missing:\n$p")
    assert(!p.contains(" Window "), s"window crept back in:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) >= 2,
      s"both sides should hash-cluster on the key:\n$p")
  }

  test("plan: the exec heads a whole-stage codegen span; results match") {
    // round 12 (r10 verdict item #6): AsOfJoinExec implements
    // CodegenSupport via the SortMergeJoin produce-side recipe — the
    // sorted children feed as stage inputs, the O(1)-state merge loop
    // is generated Java, and output columns flow as locals into the
    // parent's consume (no JoinedRow / per-row UnsafeProjection).
    // AQE's initial-plan string hides codegen spans, so pin the
    // statically collapsed plan in an AQE-off session.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = "/root/testdata/sf0.001"
      val df = SparkEntry.queries("q_join_asof_native")(ss, dir)
      val p = df.queryExecution.executedPlan.toString
      val line = p.linesIterator.find(_.contains("AsOfJoin")).get
      assert(line.trim.takeWhile(!_.isLetter).contains("*"),
        s"AsOfJoinExec must sit inside a WholeStageCodegen span:\n$p")
      // result equality through the codegen path vs the AQE/default
      // session (which pins above confirm also plans the native exec)
      val a = df.collect().map(_.toSeq).toSeq
      val b = SparkEntry.queries("q_join_asof_native")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(a === b)
    } finally graft.ops.OpCache.clear(ss)
  }

  test("a LIMIT over the exec raises no non-leaf limit-check warning") {
    // The exec reads both children as stage inputs and owns its stage's
    // produce loop, so it may put limitNotReachedCond into it; Spark
    // warns "Only leaf nodes and blocking nodes need to call
    // 'limitNotReachedCond'…" for a node that does not declare so.
    val ns = spark.newSession()
    try {
      val warned = warningsDuring(classOf[graft.plans.AsOfJoinExec].getName) {
        val df = SparkEntry.queries("q_join_asof_native")(ns, sf).limit(5)
        assert(df.collect().length === 5)
        assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      }
      assert(!warned.exists(_.contains("limitNotReachedCond")),
        warned.mkString("\n"))
    } finally graft.ops.OpCache.clear(ns)
  }
}
