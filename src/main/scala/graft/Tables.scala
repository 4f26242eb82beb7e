package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Parquet table loader for the driver-generated test corpus
  * (`TESTDATA.md`): one parquet file per table under `$sfDir/`.
  *
  * Scale stance: `spark.read.parquet` is the DataSource V2 vectorized
  * reader — predicate pushdown + column pruning reach the scan, so every
  * query that filters/projects only pays for what it touches. At 100 TB
  * the same call reads a partitioned directory tree unchanged.
  *
  * Each table's schema is read once per (session, sf dir) and memoized
  * in [[graft.ops.OpCache]]; later reads pass it to the reader, which
  * then skips the schema-inference job of `spark.read.parquet`. This
  * holds only because the corpus is read-only: a table rewritten in
  * place with another schema is not seen until `OpCache.clear`. The
  * memo keeps the schema, not the DataFrame — every call still returns
  * a fresh relation with fresh attribute ids, so self-joins resolve.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    tOn(spark, spark, sfDir, name)

  /** [[t]] read on the session `ss` — a `newSession()` clone of the
    * calling session `s` that carries its own confs — with the schema
    * memoized in `s`: a clone has a memo of its own, so reading there
    * would infer the schema again on every build and leave a memo
    * holder keyed by a clone nothing ever clears. */
  private[graft] def tOn(s: SparkSession, ss: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val raw = ss.read.schema(schema(s, sfDir, name))
      .parquet(s"$sfDir/$name.parquet")
    if (name == "events") eventsTs(raw) else raw
  }

  /** Table `name`'s schema, read once per (session, sf dir) — the memo
    * [[t]] reads with, and the schema the events stream is declared
    * with. */
  private[graft] def schema(spark: SparkSession, sfDir: String,
      name: String): StructType =
    graft.ops.OpCache.memo(spark, sfDir, s"schema:$name")(
      spark.read.parquet(s"$sfDir/$name.parquet").schema)

  /** `events` (batch or streaming) with `ts` normalized to the
    * session-TZ TIMESTAMP every consumer (watermarks, unix_micros,
    * window ranges) expects. events.ts has shipped as parquet
    * TIMESTAMP(NANOS) (rounds 1–6) and as naive TIMESTAMP(MICROS)
    * (round-7 regeneration):
    *  - NANOS — Spark's vectorized reader rejects it unless the session
    *    carries spark.sql.legacy.parquet.nanosAsLong=true (set at BUILD
    *    time by [[GraftSession.local]] — a conf.set here would be a
    *    session mutation inside a read path); the long is converted to a
    *    µs timestamp — lossless: the generator's ns values are
    *    µs-aligned, and DuckDB's TIMESTAMP_NS→TIMESTAMP cast truncates
    *    identically. Integral `div`, NOT `/`: double division loses
    *    precision above 2^53 and epoch-ns values are ~1.7e18.
    *  - naive MICROS — Spark reads it as TIMESTAMP_NTZ; the cast to
    *    TIMESTAMP reinterprets the same µs count in the session TZ,
    *    which is pinned to UTC in every entrypoint, so the integer value
    *    is unchanged and matches DuckDB's naive read exactly. */
  private[graft] def eventsTs(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType =>
        events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        events.withColumn("ts", col("ts").cast(TimestampType))
      case _ => events
    }

  /** Per-JVM /tmp sink root for the source/sink round-trip ops. The pid
    * segment isolates concurrently running JVMs (the driver's Verify and
    * Bench overlap in practice): on a shared path two writers can
    * interleave as A.overwrite, B.overwrite, A.append, B.append, leaving
    * one sink with a doubled batch and the other missing one — silently
    * wrong aggregates. Within one JVM the path is stable, so
    * mode("overwrite") still cleans up earlier runs of the same query. */
  def sinkPath(kind: String, sfDir: String, leaf: String): String = {
    sweepStaleSinks
    s"/tmp/graft_${kind}_sink/p${ProcessHandle.current().pid()}/" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_") + s"/$leaf"
  }

  /** One-time (per JVM) sweep of sink dirs left by DEAD processes:
    * every new JVM writes a fresh `p<pid>` subtree and overwrite-mode
    * only cleans the current pid's paths, so repeated Verify/Bench runs
    * would otherwise accumulate unbounded copies of the round-trip
    * tables in /tmp. Live pids are left alone — the concurrent-writer
    * isolation the pid segment exists for is preserved. */
  private lazy val sweepStaleSinks: Unit = {
    import java.nio.file.{Files, LinkOption, Path, Paths, SecureDirectoryStream}
    import java.nio.file.attribute.BasicFileAttributeView

    // fd-relative traversal throughout (SecureDirectoryStream): /tmp is
    // world-writable and the streaming source stages SYMLINKS under it
    // (Streaming.scala) — a path-based recursive delete has a TOCTOU
    // window where a directory is swapped for a symlink between the
    // NOFOLLOW check and the descent, and the sweep would then list
    // through the link and delete the TARGET's contents (e.g. the
    // read-only testdata). Operations relative to an open directory fd
    // with NOFOLLOW at every step close that window: a swapped entry is
    // re-checked against the fd (not the path) and deleted as a link
    // entry, never entered.
    type SDS = SecureDirectoryStream[Path]
    def isDirNoFollow(d: SDS, name: Path): Boolean =
      d.getFileAttributeView(name, classOf[BasicFileAttributeView],
        LinkOption.NOFOLLOW_LINKS).readAttributes().isDirectory
    // open-relative with NOFOLLOW: throws if `name` became a symlink —
    // caught by the per-entry best-effort catch below
    def withChildDir[A](d: SDS, name: Path)(f: SDS => A): A = {
      val c = d.newDirectoryStream(name, LinkOption.NOFOLLOW_LINKS)
      try f(c.asInstanceOf[SDS]) finally c.close()
    }
    def deleteTree(d: SDS, name: Path): Unit =
      if (isDirNoFollow(d, name)) {
        withChildDir(d, name) { c =>
          val it = c.iterator()
          while (it.hasNext) deleteTree(c, it.next().getFileName)
        }
        d.deleteDirectory(name)
      } else d.deleteFile(name) // plain file or symlink ENTRY

    try {
      val tmp = Files.newDirectoryStream(Paths.get("/tmp"))
      try tmp match {
        case root: SecureDirectoryStream[Path @unchecked] =>
          val it = root.iterator()
          while (it.hasNext) {
            val sinkName = it.next().getFileName
            val n = sinkName.toString
            if (n.startsWith("graft_") && n.endsWith("_sink") &&
                (try isDirNoFollow(root, sinkName)
                 catch { case _: Throwable => false }))
              try withChildDir(root, sinkName) { sink =>
                val pids = sink.iterator()
                while (pids.hasNext) {
                  val pidName = pids.next().getFileName
                  // toLongOption, not toLong: a 20+-digit all-digit
                  // segment overflows Long — the NumberFormatException
                  // would abort the ENTIRE sweep via the outer catch.
                  // One malformed entry must only skip itself.
                  val pn = pidName.toString
                  val dead = pn.startsWith("p") &&
                    pn.drop(1).toLongOption.exists(pid =>
                      pid > 0 && !ProcessHandle.of(pid)
                        .map[Boolean](_.isAlive).orElse(false))
                  if (dead)
                    try deleteTree(sink, pidName)
                    catch { case _: Throwable => () }
                }
              } catch { case _: Throwable => () }
          }
        case _ => () // no SecureDirectoryStream (non-POSIX): skip —
                     // the sweep is hygiene, not correctness
      } finally tmp.close()
    } catch { case _: Throwable => () } // sweep is best-effort hygiene
  }
}
