package graft

/** Dev helper: print the formatted physical plan (and optionally time)
  * of one or more registered queries.
  * `runMain graft.Explain q_a[,q_b,...] [sfDir]` — multi-query form
  * prints `=== <name> ===` separators so a wrapper can split the
  * output into per-query plan files (the r15 plans/ artifacts). */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      println(s"=== $name ===")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      graft.ops.OpCache.clear(spark)
    }
    spark.stop()
  }
}
