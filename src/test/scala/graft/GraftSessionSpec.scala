package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one session config ([[GraftSession.local]]): specs run on the
  * graded config, the extensions are the only registration path, and
  * no second session builder creeps back into the sources. */
class GraftSessionSpec extends SparkSpec {
  test("the spec session carries the graded config") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("extension functions and strategies resolve on newSession() clones") {
    val ns = spark.newSession()
    import ns.implicits._
    val dp = ns.sql("SELECT dot_product_f(array(CAST(1.0 AS FLOAT), " +
      "CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
    assert(dp.head().getDouble(0) === 11.0)
    val sh = ns.sql("SELECT s.shingle FROM (SELECT array('a','b','c') AS w) " +
      "LATERAL VIEW shingle_gen(w, 2) s AS pos, shingle ORDER BY s.pos")
    assert(sh.as[String].collect().toSeq === Seq("a b", "b c"))
    withTmpDir("graft_session_tvf") { root =>
      graft.sources.VersionedTable.commit(Seq(1L, 2L, 3L).toDF("k"), root)
      assert(ns.sql(s"SELECT * FROM graft_table('$root')").count() === 3)
    }
    // a planner strategy: without it the logical node has no exec
    val joined = org.apache.spark.sql.graft.GraftFunctions.asofJoin(
      Seq((1L, 10L)).toDF("k", "ts"), Seq((1L, 5L, 7L)).toDF("k2", "rts", "v"),
      "k", "ts", "k2", "rts")
    assert(joined.select($"v").as[Long].collect().toSeq === Seq(7L))
    assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"))
  }

  test("GraftSession.scala is the only session builder under src/") {
    val needle = "SparkSession" + ".builder("
    val walk = Files.walk(Paths.get("src"))
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map((p: Path) => p.getFileName.toString).toSeq
    finally walk.close()
    assert(hits === Seq("GraftSession.scala"))
  }
}
