package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Runs one workload of the benchmark in a fresh JVM and writes the raw
  * measurements as JSON. `perfbench/run.py` launches it, computes the
  * metrics and runs the DuckDB half of the correctness gate.
  *
  * Arguments are `key=value` pairs:
  *  - `sf`       corpus directory (one parquet file per table)
  *  - `queries`  file with one query name per line, in the order the
  *               timed pass runs them
  *  - `trace`    1 records spans, plan shapes and listener counters
  *  - `out`      directory for `result.json` and the gate outputs
  *
  * A query runs as three timed calls into the program: the builder
  * `SparkEntry.queries(name)(spark, sf)` (ops.build), planning through
  * `queryExecution.executedPlan` (plans.plan), and full execution of that
  * planned query with every row produced and discarded (exec.run). The
  * last is the work of Spark's `noop` sink, run on the already-planned
  * QueryExecution: `df.write.format("noop")` would analyse and plan the
  * query a second time.
  */
object Harness {
  /** Harness-local query that always throws; it exercises failure
    * counting in the benchmark's own tests. */
  val Throws = "perfbench_throws"

  val mapper = new ObjectMapper

  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * on the same base as the listener events' timestamps. */
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final case class Span(id: Int, parent: Int, name: String, query: String,
      start: Double, end: Double)

  final case class QueryRec(name: String, buildMs: Double, planMs: Double,
      execMs: Double, totalMs: Double, error: String, exchanges: Int,
      graftNodes: Int)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val sf = opt("sf")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    // one core is left to the driver thread, the JIT compilers and GC, so
    // that a busy host stalls the task threads less
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    // the session confs graft.Bench pins
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionBuilt = now()
    inParallel(cpus, graft.Tables.all.map { t => () =>
      graft.Tables.t(spark, sf, t).write.format("noop").mode("overwrite").save()
    })
    // one small aggregation (the flagship query at sf0.001, graft.Bench's
    // warm-up query), so the JIT and codegen warm-up of shuffles and
    // aggregates is set-up time, not a cost of whichever query the seed
    // puts first
    graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val registry = graft.SparkEntry.queries
    val json = mapper.createObjectNode()
    json.put("session_built_ms", sessionBuilt).put("setup_done_ms", now())
      .put("cpus", cpus)
    val names = Files.readAllLines(Paths.get(opt("queries"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val run = names.map(n => n -> query(registry, n))
    gate(timedPass(spark, sf, run, opt.get("trace").contains("1"), json), out,
      json)
    Files.writeString(out.resolve("result.json"), mapper.writeValueAsString(json))
    // every output is on disk; skip Spark's shutdown (the caller removes
    // the run's directories)
    Runtime.getRuntime.halt(0)
  }

  type Query = (SparkSession, String) => DataFrame

  def query(registry: Map[String, Query], name: String): Query =
    if (name == Throws) (_, _) =>
      throw new IllegalStateException("deliberate failure")
    else registry(name)

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}".take(500)

  /** One closed-loop pass: a single thread runs the queries back to back.
    * Nothing clears OpCache during the pass: a query reuses what an
    * earlier one built, as in one nightly pipeline run. Returns each
    * query with its DataFrame, or the error it threw. */
  def timedPass(spark: SparkSession, sf: String, run: Seq[(String, Query)],
      trace: Boolean, json: ObjectNode)
      : Seq[(String, Either[String, DataFrame])] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    if (trace) {
      sc.addSparkListener(rec)
      spark.streams.addListener(rec.streams)
    }
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, q: String, s: Double, e: Double)
        : Int = {
      spans += Span(spans.length, parent, name, q, s, e)
      spans.length - 1
    }
    val queries = mutable.ArrayBuffer.empty[QueryRec]
    val codegen0 = Codegen.snapshot()
    val gc0 = gcMs()
    var cachePeak = 0L
    val passStart = now()
    val results = run.map { case (name, fn) =>
      sc.setJobGroup(s"perfbench:$name", name, interruptOnCancel = false)
      val qs = now()
      var (tb, tp, te) = (Double.NaN, Double.NaN, Double.NaN)
      var res: Either[String, DataFrame] = Left("")
      var shape = (0, 0)
      try {
        val df = fn(spark, sf)
        tb = now()
        val qe = df.queryExecution
        val plan = qe.executedPlan
        tp = now()
        SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name")) {
          qe.toRdd.foreach(_ => ())
        }
        te = now()
        if (trace) shape = PlanShape.counts(plan)
        res = Right(df)
      } catch { case e: Throwable => res = Left(describe(e)) }
      val qEnd = now()
      sc.clearJobGroup()
      cachePeak = math.max(cachePeak, cachedBytes(spark))
      // a call that threw ends where the query ended
      if (tb.isNaN) tb = qEnd
      if (tp.isNaN) tp = qEnd
      if (te.isNaN) te = qEnd
      queries += QueryRec(name, tb - qs, tp - tb, te - tp, qEnd - qs,
        res.left.getOrElse(""), shape._1, shape._2)
      if (trace) {
        val root = span(-1, "query", name, qs, qEnd)
        span(root, "ops.build", name, qs, tb)
        span(root, "plans.plan", name, tb, tp)
        span(root, "exec.run", name, tp, te)
      }
      name -> res
    }
    json.put("pass_start_ms", passStart).put("pass_end_ms", now())
      .put("stored_bytes", storedBytes()).put("cache_peak_bytes", cachePeak)
    val codegen1 = Codegen.snapshot()
    json.put("codegen_ns", codegen1._1 - codegen0._1)
      .put("codegen_classes", codegen1._2 - codegen0._2)
      .put("gc_ms", gcMs() - gc0)
    val qs = json.putArray("queries")
    queries.foreach { q =>
      qs.addObject().put("name", q.name)
        .put("build_ms", q.buildMs).put("plan_ms", q.planMs)
        .put("exec_ms", q.execMs).put("total_ms", q.totalMs)
        .put("error", q.error).put("exchanges", q.exchanges)
        .put("graft_nodes", q.graftNodes)
    }
    if (trace) {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(rec)
      spark.streams.removeListener(rec.streams)
      val ss = json.putArray("spans")
      spans.foreach { s =>
        ss.addObject().put("id", s.id).put("parent", s.parent)
          .put("name", s.name).put("query", s.query)
          .put("start_ms", s.start).put("end_ms", s.end)
      }
      rec.write(json)
    }
    results
  }

  /** Untimed, after the pass: the output of every query of the pass,
    * four at a time as graft.Verify runs them, written as Verify
    * writes it for the oracle compare (`tools/check.py` reads the
    * directory). A query that threw in the pass keeps its error. */
  def gate(results: Seq[(String, Either[String, DataFrame])], out: Path,
      json: ObjectNode): Unit = {
    val dir = Files.createDirectories(out.resolve("gate"))
    val gateStart = now()
    val errors = inParallel(4, results.map { case (name, res) => () =>
      res.fold(identity, df =>
        try {
          df.coalesce(1).write.mode("overwrite")
            .parquet(dir.resolve(name).toString)
          ""
        } catch { case e: Throwable => describe(e) })
    })
    val gs = json.putArray("gate")
    results.map(_._1).zip(errors).foreach { case (n, e) =>
      gs.addObject().put("name", n).put("error", e)
    }
    json.put("gate_ms", now() - gateStart)
    val names = results.map(_._1).toSet
    val oracle = mapper.createObjectNode()
    graft.SparkEntry.oracleSql.foreach { case (k, v) =>
      if (names.contains(k)) oracle.put(k, v)
    }
    Files.writeString(dir.resolve("oracle_sql.json"),
      mapper.writeValueAsString(oracle))
  }

  /** Runs the tasks `n` at a time; returns their results in order. */
  def inParallel[A](n: Int, tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try tasks.map { t =>
      pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() })
    }.map(_.get())
    finally pool.shutdown()
  }

  /** Bytes of every persisted RDD block, in memory and on disk. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Bytes on disk under the roots the program writes its tables, sinks,
    * staged stream sources and checkpoints to: its per-process sink
    * directories and stores under the temp root, and the working
    * directory (catalog warehouse). */
  def storedBytes(): Long = {
    val pid = s"p${ProcessHandle.current().pid()}"
    val tmp = Paths.get("/tmp")
    val roots = mutable.ArrayBuffer[Path](Paths.get("").toAbsolutePath)
    if (Files.isDirectory(tmp)) {
      val ls = Files.list(tmp)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_"))
        .foreach { d =>
          if (d.getFileName.toString.endsWith("_sink")) roots += d.resolve(pid)
          else roots += d
        }
      finally ls.close()
    }
    roots.filter(Files.isDirectory(_)).map { r =>
      val w = Files.walk(r)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally w.close()
    }.sum
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  object Codegen {
    /** (total compile nanoseconds, classes compiled) in this JVM */
    def snapshot(): (Long, Long) = (
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime,
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount)
  }
}
