package graft

/** AQE interaction pins for the three native whole-operator execs
  * (r10 verdict item #4): adaptive execution re-plans shuffles at
  * runtime — coalescing small partitions, re-optimizing exchanges —
  * and a custom exec that declares required distributions must survive
  * that re-planning with its semantics intact. Each test runs the
  * native-exec query in a session where AQE is forced to rewrite
  * aggressively (tiny advisory partition size, parallelism-first off,
  * 1-byte min partition size) and pins (a) result equality with the
  * default session and (b) the custom node surviving into the final
  * adaptive plan. The band join runs with broadcast disabled so the
  * SHUFFLED probe form (the path whose co-partitioned zipPartitions
  * AQE could break by coalescing sides independently) is the one
  * under test. */
class AqeInteractionSpec extends SparkSpec {

  private def aqeSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "false")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    ss
  }

  Seq(
    ("q_join_range_native", "BandJoin", true),
    ("q_join_asof_native", "AsOfJoin", false),
    ("q_sessionize_native", "Sessionize", false)
  ).foreach { case (q, node, disableBroadcast) =>
    test(s"$q under aggressive AQE re-planning: node kept, result identical") {
      val base = SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq).toSeq
      val ss = aqeSession
      if (disableBroadcast)
        ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val df = SparkEntry.queries(q)(ss, sf)
        val got = df.collect().map(_.toSeq).toSeq
        assert(got === base, s"$q diverged under AQE tiny-advisory sizes")
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("AdaptiveSparkPlan"),
          s"AQE must actually wrap the plan:\n$p")
        assert(p.contains(node), s"native $node lost under AQE:\n$p")
      } finally graft.ops.OpCache.clear(ss)
    }
  }
}
