package graft

import org.apache.spark.sql.functions._

/** Micro-benchmark for the native codegen expressions vs their
  * composed-builtin equivalents, on synthetic data big enough that
  * per-row CPU dominates plan overhead. Each variant is timed as a
  * full count over the same cached input (MIN of reps — same
  * contention-only-adds-time argument as [[Bench]]); prints one JSON
  * line. This is evidence, not a gate: the composed forms are already
  * codegen'd, so the win is loop fusion / no intermediate array, not
  * interpretation overhead — recorded in BASELINE.md.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    // the composed legs must stay composed: with the session's rewrite
    // rule on, they would be fused into the native expressions and the
    // bench would time native against native
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.DotProductRewrite")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timeMin(reps: Int)(f: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min

    // ---- cosine: 2M rows × 64-dim float vectors -------------------
    val vecs = spark.range(0, 2000000L, 1L, cpus)
      .select($"id",
        transform(sequence(lit(0), lit(63)),
          i => (pmod(hash($"id" * 64 + i), lit(1000)).cast("double")
            / 1000.0d).cast("float")).as("a"),
        transform(sequence(lit(0), lit(63)),
          i => (pmod(hash($"id" * 64 + i + 7), lit(1000)).cast("double")
            / 1000.0d).cast("float")).as("b"))
      .persist()
    vecs.count()
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y,
        (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0d), (acc, v) => acc + v)
    val composedCos = timeMin(3)(vecs.select(
      (dot($"a", $"b") / (sqrt(dot($"a", $"a")) * sqrt(dot($"b", $"b"))))
        .as("c")).agg(sum($"c")).collect())
    val nativeCos = timeMin(3)(vecs.select(
      graft.functions.CosineSimF.cosine($"a", $"b").as("c"))
      .agg(sum($"c")).collect())
    vecs.unpersist()

    // ---- sorted intersect count: 1M rows × ~64-element arrays -----
    val arrs = spark.range(0, 1000000L, 1L, cpus)
      .select($"id",
        sort_array(array_distinct(transform(sequence(lit(0), lit(63)),
          i => pmod(hash($"id" * 64 + i), lit(4096)).cast("long"))))
          .as("a"),
        sort_array(array_distinct(transform(sequence(lit(0), lit(63)),
          i => pmod(hash($"id" * 64 + i + 13), lit(4096)).cast("long"))))
          .as("b"))
      .persist()
    arrs.count()
    val composedIx = timeMin(3)(arrs.select(
      size(array_intersect($"a", $"b")).as("c"))
      .agg(sum($"c")).collect())
    val nativeIx = timeMin(3)(arrs.select(
      graft.functions.SortedIntersectCountF.count($"a", $"b").as("c"))
      .agg(sum($"c")).collect())
    arrs.unpersist()

    // ---- native EXECS vs window/join compositions (r10 item #6) ----
    // As of round 12 all three custom execs implement CodegenSupport
    // (as-of/sessionize/band-sweep fuse their merge loops into the
    // stage; the broadcast band exec fuses probe-side like a
    // BroadcastHashJoin), so these sections now record what fusion
    // bought against the composed window/join plans on data big
    // enough that per-row work dominates. Evidence, not a gate — the
    // execs' primary win is still plan shape (one pass, no Window
    // materialization, O(band-occupancy) memory).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.GraftFunctions

    // as-of: 2M left × 2M right over 10k keys
    val aLeft = spark.range(0, 2000000L, 1L, cpus)
      .select(($"id" % 10000).as("k"),
        pmod(hash($"id"), lit(1000000)).cast("long").as("lts"),
        $"id".as("lid")).persist()
    val aRight = spark.range(0, 2000000L, 1L, cpus)
      .select(($"id" % 10000).as("k2"),
        pmod(hash($"id" + 7), lit(1000000)).cast("long").as("rts"),
        ($"id" % 997).as("rv")).persist()
    aLeft.count(); aRight.count()
    val asofComposed = timeMin(3) {
      // union + last(ignoreNulls) over (ts, side): right rows at equal
      // ts sort AFTER left rows, so the (-inf, -1) frame is strict
      val tagged = aLeft.select($"k", $"lts".as("ts"), lit(0).as("side"),
          lit(null).cast("long").as("rv"))
        .unionByName(aRight.select($"k2".as("k"), $"rts".as("ts"),
          lit(1).as("side"), $"rv"))
      val w = Window.partitionBy($"k").orderBy($"ts", $"side")
        .rowsBetween(Window.unboundedPreceding, -1)
      tagged.withColumn("m", last($"rv", ignoreNulls = true).over(w))
        .filter($"side" === 0).agg(sum($"m")).collect()
    }
    val asofNative = timeMin(3) {
      GraftFunctions.asofJoin(aLeft, aRight, "k", "lts", "k2", "rts")
        .agg(sum($"rv")).collect()
    }
    aLeft.unpersist(); aRight.unpersist()

    // sessionize: 4M rows over 50k keys
    val sess = spark.range(0, 4000000L, 1L, cpus)
      .select(($"id" % 50000).as("k"),
        pmod(hash($"id"), lit(10000000)).cast("long").as("ts"),
        $"id".as("tie")).persist()
    sess.count()
    val gap = 5000L
    val sessComposed = timeMin(3) {
      val w = Window.partitionBy($"k").orderBy($"ts", $"tie")
      sess.withColumn("step",
          when($"ts" - lag($"ts", 1).over(w) > gap, 1L).otherwise(0L))
        .withColumn("sid", sum($"step").over(w) + 1L)
        .agg(sum($"sid"), max($"sid")).collect()
    }
    val sessNative = timeMin(3) {
      GraftFunctions.sessionize(sess, "k", "ts", "tie", gap, "sid")
        .agg(sum($"sid"), max($"sid")).collect()
    }
    sess.unpersist()

    // band join, two honest shapes (the *_sweep keys measure the
    // NATIVE shuffled band exec under its default form — since round
    // 14 that is the radix-sorted PROBE; key names kept for
    // cross-round comparability):
    //  (a) BIG right (2M, above threshold): composed hash+filter vs
    //      the native shuffled exec — the at-scale path;
    //  (b) SMALL right (100k, ~2 MB, below threshold) against a 2M
    //      probe side: composed (Spark broadcasts the hash join
    //      itself) vs the shuffled exec (threshold off) vs the
    //      broadcast band exec (auto-chosen) — the bounded-dimension
    //      path.
    val (loF, hiF, binW) = (0.999, 1.001, 2000.0)
    def bandComposedOf(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame) = {
      val lExp = l.withColumn("bin", explode(sequence(
        floor($"lv" * loF / binW).cast("long"),
        floor($"lv" * hiF / binW).cast("long"))))
      val rExp = r.withColumn("bin", floor($"rv" / binW).cast("long"))
      lExp.join(rExp, lExp("bin") === rExp("bin") &&
          $"rv" >= $"lv" * loF && $"rv" <= $"lv" * hiF)
        .agg(count(lit(1)))
    }
    val bLeft = spark.range(0, 5000L, 1L, cpus)
      .select((pmod(hash($"id"), lit(1000000)).cast("double")).as("lv"),
        $"id".as("lid")).persist()
    val bRight = spark.range(0, 2000000L, 1L, cpus)
      .select((pmod(hash($"id" + 3), lit(1000000)).cast("double")).as("rv"),
        $"id".as("rid")).persist()
    bLeft.count(); bRight.count()
    val bandComposed = timeMin(3)(bandComposedOf(bLeft, bRight).collect())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bandSweep = timeMin(3) {
      GraftFunctions.bandJoin(bLeft, "lv", bRight, "rv", loF, hiF, binW)
        .agg(count(lit(1))).collect()
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    bLeft.unpersist(); bRight.unpersist()

    val pLeft = spark.range(0, 2000000L, 1L, cpus)
      .select((pmod(hash($"id"), lit(1000000)).cast("double")).as("lv"),
        $"id".as("lid")).persist()
    val sRight = spark.range(0, 100000L, 1L, cpus)
      .select((pmod(hash($"id" + 3), lit(1000000)).cast("double")).as("rv"),
        $"id".as("rid")).persist()
    pLeft.count(); sRight.count()
    val bandSmallComposed =
      timeMin(3)(bandComposedOf(pLeft, sRight).collect())
    def timedBandSmall() = timeMin(3) {
      GraftFunctions.bandJoin(pLeft, "lv", sRight, "rv", loF, hiF, binW)
        .agg(count(lit(1))).collect()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bandSmallSweep = timedBandSmall()
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    val bandSmallBroadcast = timedBandSmall() // auto-chosen under 10 MB
    pLeft.unpersist(); sRight.unpersist()

    // ADDITIVE (affine, round 13) band — the true-interval-join shape:
    // rv ∈ [lv−Δ, lv+Δ] on packed time-like keys. BOTH sides 2M (the
    // at-scale case — neither side broadcastable, both plans shuffle
    // on the bin), values sparse enough (~2 matches per left) that
    // output volume doesn't drown the join cost being measured;
    // composed explode+hash-join+filter vs the affine sweep.
    val delta = 500.0
    val abinW = 1000.0
    val ivLeft = spark.range(0, 2000000L, 1L, cpus)
      .select((pmod(hash($"id"), lit(1000000000)).cast("double")).as("lv"),
        $"id".as("lid")).persist()
    val ivRight = spark.range(0, 2000000L, 1L, cpus)
      .select((pmod(hash($"id" + 7), lit(1000000000)).cast("double"))
        .as("rv"), $"id".as("rid")).persist()
    ivLeft.count(); ivRight.count()
    val intervalComposed = timeMin(3) {
      val lExp = ivLeft.withColumn("bin", explode(sequence(
        floor(($"lv" - delta) / abinW).cast("long"),
        floor(($"lv" + delta) / abinW).cast("long"))))
      val rExp = ivRight.withColumn("bin", floor($"rv" / abinW).cast("long"))
      lExp.join(rExp, lExp("bin") === rExp("bin") &&
          $"rv" >= $"lv" - delta && $"rv" <= $"lv" + delta)
        .agg(count(lit(1))).collect()
    }
    // "interval_sweep" keys the NATIVE shuffled band exec for
    // cross-round comparability — since round 14 that is the PROBE
    // form (bin-only radix sorts + per-bin value index); the original
    // two-key sort-merge sweep stays measurable under its conf and is
    // reported as interval_sweep_twokey (the occupancy-choice evidence:
    // probe wins on sort cost, sweep wins on window memory)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def timedInterval() = timeMin(3) {
      GraftFunctions.bandJoinOffset(ivLeft, "lv", ivRight, "rv",
        -delta, delta, abinW).agg(count(lit(1))).collect()
    }
    val intervalSweep = timedInterval()
    spark.conf.set("spark.graft.bandJoin.shuffledExec", "sweep")
    val intervalSweepTwoKey = timedInterval()
    spark.conf.unset("spark.graft.bandJoin.shuffledExec")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    ivLeft.unpersist(); ivRight.unpersist()

    def d3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"metric":"micro","cosine_composed":${d3(composedCos)},""" +
      s""""cosine_native":${d3(nativeCos)},""" +
      s""""intersect_composed":${d3(composedIx)},""" +
      s""""intersect_native":${d3(nativeIx)},""" +
      s""""asof_composed":${d3(asofComposed)},""" +
      s""""asof_native":${d3(asofNative)},""" +
      s""""sessionize_composed":${d3(sessComposed)},""" +
      s""""sessionize_native":${d3(sessNative)},""" +
      s""""band_composed":${d3(bandComposed)},""" +
      s""""band_sweep":${d3(bandSweep)},""" +
      s""""band_small_composed":${d3(bandSmallComposed)},""" +
      s""""band_small_sweep":${d3(bandSmallSweep)},""" +
      s""""band_small_broadcast":${d3(bandSmallBroadcast)},""" +
      s""""interval_composed":${d3(intervalComposed)},""" +
      s""""interval_sweep":${d3(intervalSweep)},""" +
      s""""interval_sweep_twokey":${d3(intervalSweepTwoKey)}}""")
    spark.stop()
  }
}
