package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's Spark session is built. `Bench`,
  * `Verify`, `Explain` and the test harness all run on
  * this config, so a plan pinned by a spec is the plan the graded
  * entry points execute. A caller that needs another runtime SQL conf
  * sets it on the returned session (`spark.conf.set`).
  */
object GraftSession {
  /** Core count for the driver entry points: `SPARK_GRAFT_CPUS`,
    * default 4. */
  def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(4)

  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // functions, optimizer rule and planner strategies: the only
      // registration path (inherited by newSession clones)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // UTC pin: Tables.t's NTZ→TIMESTAMP normalization must be a pure
      // reinterpretation (same µs count) regardless of host TZ.
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) in some corpus builds;
      // session-wide legacy flag (inherited by newSession clones)
      // instead of a conf.set in the read path — see Tables.t.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}
