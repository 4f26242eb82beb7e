package graft.ops

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.Det
import graft.sources.VersionedTable

/** SURVEY.md §2.I — Structured Streaming over the `events` log.
  *
  * Verification strategy: each query runs the events parquet as a file
  * source with `Trigger.AvailableNow` to exhaustion into a memory sink;
  * the final state is then deterministically equal to the batch query
  * that the DuckDB oracle expresses. Aggregations use `complete` output
  * mode so end-of-stream state is fully emitted regardless of watermark
  * position; watermarks are still declared (and exercised against
  * MemoryStream in ScalaTest) because at 100 TB they are what bound the
  * state store.
  */
object Streaming extends OpModule {
  import Det._

  private val runId = new AtomicInteger(0)

  /** `events` as a streaming DataFrame on the clone `ss` that
    * [[drain]] hands a builder. The stream is declared with the schema
    * memoized in the CALLING session `s` ([[graft.Tables.schema]]): a
    * clone has its own memo, so reading it there would infer the schema
    * again, one job per stream. `ts` is normalized as in batch reads
    * ([[graft.Tables.eventsTs]]). The file-stream source requires a
    * DIRECTORY and the corpus is one read-only file, so the file is
    * staged as a symlink under /tmp (no data copied). */
  private[graft] def eventsStream(s: SparkSession, ss: SparkSession,
      dir: String): DataFrame = {
    val stageDir = java.nio.file.Paths.get(
      "/tmp/graft_stream_src", dir.replaceAll("[^A-Za-z0-9.]", "_"))
    java.nio.file.Files.createDirectories(stageDir)
    val link = stageDir.resolve("events.parquet")
    // two JVMs may stage the same dir concurrently (Verify + Bench):
    // each links under a private hidden name (the file source skips
    // dot-files) and renames it into place — rename replaces, so the
    // loser of a race re-publishes the identical link instead of
    // failing on the winner's
    if (!java.nio.file.Files.isSymbolicLink(link)) {
      val tmp = stageDir.resolve(
        s".events-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.createSymbolicLink(
        tmp, java.nio.file.Paths.get(dir, "events.parquet"))
      java.nio.file.Files.move(tmp, link,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    graft.Tables.eventsTs(ss.readStream
      .schema(graft.Tables.schema(s, dir, "events"))
      .parquet(stageDir.toString))
  }

  /** State/shuffle partition count for the streaming queries — SIZED
    * TO THE SOURCE instead of a constant (r15, guide §2: partitioning
    * must derive from input size, not be tuned to either local mode or
    * one cluster). Micro-batch overhead is proportional to the
    * state-partition count (one task schedule + one store commit per
    * partition per batch — measured 2.0 s / 2.8 s / 7.8 s for the same
    * stream-stream join at 2 / 8 / 32 partitions on this corpus), so
    * the count targets ~[[StreamBytesPerPartition]] of source bytes per
    * partition, clamped to [2, defaultParallelism]. A table stored as
    * a directory (`events.parquet/part-*`) is sized by the regular
    * files under it. A restarted stream keeps the count recorded in
    * its checkpoint's offset metadata (fixed for the checkpoint's
    * lifetime). Results are partition-count invariant (asserted across
    * the suite's restarts; only layout changes). */
  private val StreamBytesPerPartition = 16L * 1024 * 1024
  private[graft] def streamParts(s: SparkSession, dir: String): String = {
    import java.nio.file.{FileVisitOption, Files, Paths}
    import scala.jdk.CollectionConverters._
    val bytes =
      try {
        val walk = Files.walk(Paths.get(dir, "events.parquet"),
          FileVisitOption.FOLLOW_LINKS)
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.size(_)).sum
        finally walk.close()
      } catch { case _: Exception => 0L }
    val want = (bytes + StreamBytesPerPartition - 1) /
      StreamBytesPerPartition
    math.max(2L, math.min(s.sparkContext.defaultParallelism.toLong,
      want)).toString
  }

  /** The one way a streaming op runs. The query is built and started
    * on a CLONE of `s` (`newSession`: shared SparkContext and cached
    * blocks, own SQLConf and catalog), so its state/shuffle partition
    * count ([[streamParts]], input-sized) and any conf a builder sets
    * are per-query settings, never a mutation of the caller's conf that
    * a concurrent batch query could observe. The caller's writer is
    * started with `Trigger.AvailableNow` and drained to exhaustion.
    * Returns the clone, whose catalog holds a memory sink's table. */
  private def drain(s: SparkSession, dir: String)
      (writer: SparkSession => DataStreamWriter[Row]): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", streamParts(s, dir))
    writer(ss).trigger(Trigger.AvailableNow()).start().awaitTermination()
    ss
  }

  /** [[drain]]s the stream `build` returns into a memory sink in output
    * `mode` and returns the final table. The sink's temp view is
    * dropped at once: the returned DataFrame's resolved plan pins the
    * sink rows for its own lifetime, but the catalog no longer does, so
    * a long bench session frees each sink once the consumer is done
    * instead of accumulating all of them in driver memory. */
  private def runToTable(s: SparkSession, dir: String, mode: String)
      (build: SparkSession => DataFrame): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val ss = drain(s, dir)(build(_).writeStream
      .format("memory").queryName(name).outputMode(mode))
    val out = ss.table(name)
    ss.catalog.dropTempView(name)
    out
  }

  /** The purchase/click stream-stream join of the three outer-join ops,
    * `how` its join type: purchases before a FIXED cutoff safely inside
    * the corpus (Jan 29; events run through Jan 31), each joined to the
    * same user's clicks in the preceding hour, both sides watermarked
    * 1 hour. The watermark policy is MAX (set on the clone `ss`): with
    * the default min policy the global watermark is capped by the
    * purchase stream's own max (cutoff − 1 h), so purchases in the final
    * hour before the cutoff would never receive their outer emission.
    * The click stream runs a day past the cutoff, and its watermark
    * releases every retained purchase. The single staged file is one
    * data micro-batch, so the laxer policy cannot drop late rows here. */
  private def cutJoin(s: SparkSession, ss: SparkSession, dir: String,
      how: String): DataFrame = {
    import ss.implicits._
    ss.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    val purchases = eventsStream(s, ss, dir)
      .filter($"event_type" === "purchase" &&
        $"ts" < lit("2024-01-29").cast("timestamp"))
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = eventsStream(s, ss, dir).filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id".as("c_user"),
        $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      $"user_id" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" <= $"p_ts",
      how)
  }

  /** The RocksDB state-store provider on the clone `ss`: required by
    * `transformWithState`, and the production answer (HDFS-backed heap
    * state does not survive 100-TB key cardinality). The other ops keep
    * the default provider, which ran the stream-stream joins 1.5–1.8×
    * faster on this corpus. */
  private def useRocksDb(ss: SparkSession): Unit =
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")

  def streamTumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "complete") { ss =>
      eventsStream(s, ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("val_sum"))
    }
      .select($"window.start".as("hour_start"), $"event_type", $"n", $"val_sum")
      .orderBy($"hour_start", $"event_type")
  }

  /** Append-mode variant of the tumbling aggregation (not in the t2 map;
    * asserted in StreamingSemanticsSpec). In append mode only windows
    * the watermark has CLOSED are emitted — this is the production
    * output mode at 100 TB, where the watermark is what bounds the
    * state store. Equality with the complete-mode result on closed
    * windows proves eviction works in the engine, not just in prose. */
  def streamTumblingAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "append") { ss =>
      eventsStream(s, ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("val_sum"))
    }
      .select($"window.start".as("hour_start"), $"window.end".as("hour_end"),
        $"event_type", $"n", $"val_sum")
      .orderBy($"hour_start", $"event_type")
  }

  /** Streaming windowed top-k — the live "trending now" readout: hourly
    * per-type counts maintained IN-STREAM (watermarked tumbling
    * aggregation, the state-store-bounded part), then the top-3 rank
    * per closed hour applied to the emitted state (rank is not a
    * streaming-supported operator; applying it downstream of the sink
    * is the standard composition — at 100 TB the sink is a compacted
    * table and the rank is a cheap WindowGroupLimit batch over it).
    * Tiebreak (n DESC, event_type) keeps the cut deterministic. */
  def streamTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = runToTable(s, dir, "complete") { ss =>
      eventsStream(s, ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
    }
    val w = Window.partitionBy($"hour_start")
      .orderBy($"n".desc, $"event_type")
    counts
      .select($"window.start".as("hour_start"), $"event_type", $"n")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"hour_start", $"rk".cast("int").as("rk"), $"event_type", $"n")
      .orderBy($"hour_start", $"rk")
  }

  /** The production serving sink as a GRADED query: the events stream
    * drains through `foreachBatch` into the idempotent upsert sink
    * ([[upsertBatch]] — at-least-once batch delivery made exactly-once
    * at the EXTERNAL table, a [[VersionedTable]]), and
    * the op returns the committed table, which must equal the batch
    * aggregation bit-for-bit. Restart semantics are separately proven
    * in StreamingSemanticsSpec; this registers the end-to-end
    * composition under the oracle gate. A fresh per-invocation target
    * keeps bench reps independent (the table would otherwise keep
    * merging across reps). */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = graft.Tables.sinkPath("upsert", dir,
      s"t${runId.incrementAndGet()}")
    drain(s, dir)(ss => eventsStream(s, ss, dir).writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) =>
        upsertBatch(ss, target, id, batch.toDF(), "event_type"))
      .option("checkpointLocation", s"${target}_ckpt"))
    upserted(s, target)
      .select($"key".as("event_type"), $"n")
      .orderBy($"event_type")
  }

  /** One micro-batch of the idempotent upsert sink: count `rows` per
    * `keyCol` value, sum the counts into the committed snapshot under a
    * full outer join (the [[PipelineOps.snapshotMerge]] algebra; empty
    * base before the first commit), and publish the result as ONE
    * replace of the version it read, keyed by `batchId`
    * ([[VersionedTable.commitBatch]]). `foreachBatch`
    * delivers at least once — a restart re-delivers the batch a crash
    * interrupted — and a batch the table's key window already holds is
    * a no-op that builds nothing. */
  private[graft] def upsertBatch(s: SparkSession, target: String,
      batchId: Long, rows: DataFrame, keyCol: String): Unit = {
    import s.implicits._
    val base = VersionedTable.currentVersion(target)
    VersionedTable.commitBatch({
      val delta = rows.groupBy(col(keyCol).as("key"))
        .agg(count(lit(1)).as("d_n"))
      upserted(s, target, Some(base)).select($"key", $"n".as("b_n"))
        .join(delta, Seq("key"), "full")
        .select($"key",
          (coalesce($"b_n", lit(0L)) + coalesce($"d_n", lit(0L))).as("n"))
    }, target, batchId, basis = Some(base))
  }

  /** The upsert sink's committed table at `version` (default: the
    * head) as (key: string, n: long) — empty before the first commit. */
  private[graft] def upserted(s: SparkSession, target: String,
      version: Option[Int] = None): DataFrame = {
    import s.implicits._
    val v = version.getOrElse(
      VersionedTable.currentVersion(target))
    if (v == 0) Seq.empty[(String, Long)].toDF("key", "n")
    else VersionedTable.read(s, target, Some(v))
  }

  def streamSliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "complete") { ss =>
      eventsStream(s, ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
    }
      .select($"window.start".as("win_start"), $"event_type", $"n")
      .orderBy($"win_start", $"event_type")
  }

  def streamSession(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "complete") { ss =>
      eventsStream(s, ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
    }
      .select($"user_id",
        $"session_window.start".as("sess_start"),
        $"session_window.end".as("sess_end"),
        $"n_events")
      .orderBy($"user_id", $"sess_start")
  }

  /** Streaming exact dedup on (user_id, event_type); the emitted distinct
    * pairs are then profiled per type. Which concrete row survives the
    * dedup is racy, but the KEY SET is deterministic — so only keys are
    * aggregated. */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "append") { ss =>
      eventsStream(s, ss, dir)
        .withWatermark("ts", "1 hour")
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
    }
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"event_type")
  }

  /** Stream-stream inner join: each purchase joined to the same user's
    * clicks in the preceding hour. Both sides watermarked — the time
    * bound is what lets the state store evict at scale. AvailableNow to
    * exhaustion ⇒ equal to the batch range join the oracle runs. */
  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "append") { ss =>
      val purchases = eventsStream(s, ss, dir).filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = eventsStream(s, ss, dir).filter($"event_type" === "click")
        .select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      purchases.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" <= $"p_ts")
    }
      .select($"p_id", $"c_id", $"user_id")
      .orderBy($"p_id", $"c_id")
  }

  /** Stream-stream LEFT OUTER join — the state-EXPIRY semantics the
    * inner join never exercises: purchases with no same-user click in
    * the preceding hour must still emit (null-matched) once the
    * watermark proves no match can arrive. The left side is cut at a
    * FIXED date safely inside the corpus (Jan 29; events run through
    * Jan 31) so the final watermark (max event time − 1 h, advanced by
    * the closing no-data micro-batch) passes every retained left row —
    * end-of-stream output is then deterministically total and equals
    * the batch left join the oracle runs ([[cutJoin]]). At 100 TB the
    * same watermark bound is what keeps the outer-join state store
    * finite. */
  def streamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "append")(cutJoin(s, _, dir, "left_outer"))
      .select($"p_id", $"c_id", $"user_id")
      .orderBy($"p_id", $"c_id")
  }

  /** Custom streaming state in the graded path: the per-user
    * count+type-bitmask profile from [[graft.streaming.StatefulOps]],
    * run to exhaustion in update mode. Every emitted field is
    * cumulative-monotone, so max-per-user over the update stream IS
    * the final state — equal to the batch aggregate the oracle runs. */
  def streamStateful(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "update") { ss =>
      graft.streaming.StatefulOps.typeProfile(eventsStream(s, ss, dir))
    }
      .groupBy($"user_id")
      .agg(max($"n_events").as("n_events"),
        max($"n_types").as("n_types"))
      .orderBy($"user_id")
  }

  /** Stream-static dimension enrichment — the canonical "enrich the
    * event stream with a slowly-changing dim" pattern: the purchase
    * stream inner-joins the STATIC customer table (broadcast — no
    * stream-stream state, no watermark bookkeeping: the static side is
    * planned as an ordinary batch relation re-read per micro-batch and
    * the join is stateless), then aggregates spend per market segment.
    * At 100 TB the static side is the bounded dim; Spark's planner
    * broadcasts it into every micro-batch exactly like a batch BHJ. */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "complete") { ss =>
      val dim = broadcast(graft.Tables.tOn(s, ss, dir, "customer")
        .select($"c_custkey", $"c_mktsegment"))
      eventsStream(s, ss, dir)
        .filter($"event_type" === "purchase")
        .join(dim, $"user_id" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("val_sum"))
    }
      .select($"c_mktsegment", $"n", $"val_sum")
      .orderBy($"c_mktsegment")
  }

  /** Streaming read of the DSv2 GENERATOR source — ingest (the
    * reference's Event Hubs analog) and windowed aggregation in one
    * graded op: the generator's replayable id-offset log streams
    * through a watermarked hourly window, and because every generated
    * column is md5-derived the DuckDB oracle REGENERATES the stream
    * and hash-grades the end-of-stream state. Same scale notes as
    * [[streamTumbling]] (complete mode for the gate; watermark bounds
    * the store in production). */
  def streamGenerated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "complete") { ss =>
      ss.readStream.format("graft-events")
        .option("rows", 20000L).option("seed", 42L).option("users", 500L)
        .load()
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(d12($"value")).cast("double").as("total_value"))
    }
      .select($"window.start".as("hour_start"), $"event_type", $"n",
        $"total_value")
      .orderBy($"hour_start", $"event_type")
  }

  /** Streaming STATE as a queryable table — the Spark 4 State Data
    * Source (`spark.read.format("statestore")`), the operational
    * readout every production stateful pipeline eventually needs
    * ("what exactly is my dedup/agg operator holding?"). A
    * dropDuplicates stream over the events corpus runs to completion
    * (AvailableNow, noop sink) against a per-run checkpoint, then the
    * operator's state store is read BACK as a batch DataFrame and the
    * key set is projected out.
    *
    * Deliberately watermark-free: with no eviction the final state is
    * exactly the distinct key set of the input — which makes an
    * internal RocksDB/HDFS-state artifact DuckDB-oracle-able
    * (`SELECT DISTINCT …`), i.e. the checkpoint's contents are graded
    * bit-exactly, not just smoke-read. At 100 TB the state source
    * reads store files directly (one task per state partition, no
    * replay of the input stream) — audits cost O(state), never
    * O(corpus). */
  def streamStateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // unique leaf per invocation: concurrent runs (parallel test
    // suites, bench reps) must not share or delete each other's live
    // checkpoint; stale-pid sweeping reclaims the dirs after exit
    val ckpt = graft.Tables.sinkPath("statewatch", dir,
      s"ckpt_${runId.incrementAndGet()}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    drain(s, dir)(ss => eventsStream(s, ss, dir)
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt))
    s.read.format("statestore").load(ckpt)
      .select($"key.user_id".as("user_id"),
        $"key.event_type".as("event_type"))
      .orderBy($"user_id", $"event_type")
  }

  /** [[streamStateful]]'s profile through Spark 4's
    * `transformWithState` ([[graft.streaming.StatefulOps.ProfileProcessor]]
    * — explicit named ValueState, per-variable TTL surface, RocksDB
    * backend as in production). Same cumulative-monotone output, same
    * oracle: the two graded ops pin semantic equivalence across the
    * old and new arbitrary-state APIs. */
  def streamTwsProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "update") { ss =>
      useRocksDb(ss)
      graft.streaming.StatefulOps.typeProfileTws(eventsStream(s, ss, dir))
    }
      .groupBy($"user_id")
      .agg(max($"n_events").as("n_events"),
        max($"n_types").as("n_types"))
      .orderBy($"user_id")
  }

  /** Streaming sessionization via `transformWithState` LIST state
    * ([[graft.streaming.StatefulOps.SessionizeProcessor]]) — the THIRD
    * engine for the `q_sessionize` query after the window composition
    * and the native batch operator, all graded against one oracle.
    * Money travels as exact 10⁻⁴-unit integers through the state and
    * becomes the decimal-sum-equal double only at the edge. The
    * single-file corpus yields a single AvailableNow batch, so each
    * (user, session) is emitted exactly once and the max-rollup below
    * is the identity. SINGLE-BATCH ONLY (r9 advice): on a multi-batch
    * corpus the re-derived session indices shift when new events
    * bridge gaps, leaving stale (user, session_idx) emissions the
    * rollup would wrongly keep — the production multi-batch path is
    * [[streamSessionizeTimer]], whose emissions are keyed by the
    * stable session START and gated on the watermark. */
  def streamTwsSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "update") { ss =>
      import ss.implicits._
      useRocksDb(ss)
      val typed = eventsStream(s, ss, dir)
        .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
          expr("CAST(ROUND(value * 10000) AS BIGINT)").as("c4"))
        .as[(Long, Long, Long, Long)]
      typed.groupByKey(_._1)
        .transformWithState(
          new graft.streaming.StatefulOps.SessionizeProcessor(
            1800L * 1000000L),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "session_idx", "start_us", "end_us",
          "n_events", "c4")
    }
      .groupBy($"user_id", $"session_idx")
      .agg(
        timestamp_micros(max($"start_us")).as("session_start"),
        timestamp_micros(max($"end_us")).as("session_end"),
        max($"n_events").as("n_events"),
        (max($"c4").cast("double") / 10000.0).as("val_sum"))
      .orderBy($"user_id", $"session_idx")
  }

  /** TIMER-driven streaming sessionization
    * ([[graft.streaming.StatefulOps.TimedSessionProcessor]]) — the
    * BOUNDED fourth engine for the sessionize query and the op that
    * exercises the TWS event-time TIMER surface for real: per-key
    * state is ONE open session (4 longs, O(1) — the production bound
    * the ListState variant's scale note promises), gap-closed sessions
    * emit in-batch, and the final open session emits from
    * `handleExpiredTimer` when the event-time watermark passes
    * session_end + gap. A session row appears exactly once, when its
    * closure is PROVEN — by a successor event (the gap rule) or by the
    * watermark (the timer) — so the graded output is the sessionize
    * oracle FILTERED to proven-closed sessions: every non-last session
    * per user (a successor exists) plus last sessions whose
    * end + gap < final watermark (max event ts − 1 h). Deterministic
    * and SQL-expressible. At 100 TB this is the shape that actually
    * ships: state O(keys), emission gated on the same watermark that
    * bounds the store. */
  def streamSessionizeTimer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "update") { ss =>
      import ss.implicits._
      useRocksDb(ss)
      val typed = eventsStream(s, ss, dir)
        .withWatermark("ts", "1 hour")
        .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
          expr("CAST(ROUND(value * 10000) AS BIGINT)").as("c4"))
        .as[(Long, Long, Long, Long)]
      typed.groupByKey(_._1)
        .transformWithState(
          new graft.streaming.StatefulOps.TimedSessionProcessor(
            1800L * 1000000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "start_us", "end_us", "n_events", "c4")
    }
      .select($"user_id",
        timestamp_micros($"start_us").as("session_start"),
        timestamp_micros($"end_us").as("session_end"),
        $"n_events",
        ($"c4".cast("double") / 10000.0).as("val_sum"))
      .orderBy($"user_id", $"session_start")
  }

  /** Stream-stream FULL OUTER join — BOTH sides' null-emission on
    * watermark expiry (the left-outer op exercises only one): an
    * unmatched purchase emits (p_id, null) once the watermark passes
    * its p_ts; an unmatched click emits (null, c_id) once the
    * watermark passes c_ts + 1 h (the join condition bounds a click's
    * matchable purchases to p_ts ≤ c_ts + 1 h, so that is its state
    * expiry). Same Jan-29 purchase cutoff + MAX watermark policy
    * ([[cutJoin]]); the final watermark (max click ts − 1 h,
    * advanced by the closing no-data batch) then releases every
    * retained purchase, while clicks in the last pre-watermark window
    * stay retained — so the graded set is the batch full join with
    * the unmatched-click side FILTERED to watermark-expired clicks, a
    * deterministic SQL-expressible set (exactly the append-mode
    * contract at 100 TB: emit only what the watermark has proven). */
  def streamJoinFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "append")(cutJoin(s, _, dir, "full_outer"))
      .select($"p_id", $"c_id", coalesce($"user_id", $"c_user").as("user_id"))
      .orderBy($"p_id", $"c_id")
  }

  /** Stream-stream RIGHT OUTER join — the remaining outer variant:
    * only the RIGHT (click) side's unmatched rows emit, and their
    * expiry clock is the JOIN-CONDITION bound, not their own event
    * time — a click's latest matchable purchase is at c_ts + 1 h, so
    * its null-emission waits until the watermark passes THAT (the
    * distinct state-expiry semantics vs the left-outer op, where the
    * retained row's own timestamp is the clock). Same Jan-29 purchase
    * cutoff + MAX watermark policy ([[cutJoin]]); graded set =
    * batch right join with the unmatched-click side filtered to
    * watermark-expired clicks. */
  def streamJoinRight(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "append")(cutJoin(s, _, dir, "right_outer"))
      .select($"p_id", $"c_id", coalesce($"user_id", $"c_user").as("user_id"))
      .orderBy($"p_id", $"c_id")
  }

  /** Streaming ingest INTO the versioned table — foreachBatch +
    * [[VersionedTable.commitBatch]] (batchId-idempotent
    * commits), the streaming-lakehouse sink recipe: each micro-batch
    * becomes one atomic table version, a retried batch is a no-op
    * (batchId is checked against the latest manifest), and the final
    * table is read back and rolled up WITH a distinct-count witness —
    * `n = n_distinct` proves no batch double-appended. At 100 TB the
    * sink cost per batch is O(batch) data + O(manifest) driver JSON;
    * the checkpoint gives source-side exactly-once, the manifest
    * batchId gives sink-side idempotence — together, end-to-end
    * exactly-once. */
  def streamTableIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Tables.sinkPath("vtable", dir,
      s"events_ingest${runId.incrementAndGet()}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    drain(s, dir)(ss => eventsStream(s, ss, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // appId = the checkpoint path: restart-stable and unique per
        // query, so a second stream feeding this table (also counting
        // batchIds from 0) can never collide in the idempotence window
        VersionedTable.commitBatch(batch, root, id,
          appId = s"$root/_ckpt")
        ()
      }
      .option("checkpointLocation", s"$root/_ckpt"))
    VersionedTable.read(s, root)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count_distinct($"event_id").as("n_distinct"),
        sumMoney($"value").as("val_sum"))
      .orderBy($"event_type")
  }

  /** EXTERNAL-LOG ingest (round 13) — grades
    * [[graft.sources.LogSegmentSource]], the offsets-based Kafka shape
    * without a broker: a producer publishes the corpus events as three
    * atomic JSONL segments into an append-only log directory; the
    * `graft-log` MicroBatchStream consumes them with "segments
    * consumed" as its replayable checkpointed offset, landing in the
    * versioned table through the `(appId, batchId)` idempotence
    * window. The graded cycle exercises all three exactly-once legs:
    * (1) first run ingests segments 1–2; (2) a third segment is
    * published and a SAME-CHECKPOINT restart consumes ONLY it (offset
    * resume — nothing re-read, nothing skipped); (3) a FRESH-checkpoint
    * re-run with the same appId redelivers from offset 0 and the
    * idempotence window makes every redelivered batch a no-op — a
    * DETERMINISTIC replay, valid here because the log has not grown
    * since leg 2 (the txn-version contract the source scaladoc
    * states; growth always resumes from the existing checkpoint). The
    * rollup's `n = n_distinct` witness proves no duplication survived
    * any leg; the oracle is the raw events table. */
  def streamLogIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val logDir = graft.Tables.sinkPath("vtable", dir,
      s"seglog${runId.incrementAndGet()}")
    val root = s"${logDir}_tbl"
    Seq(logDir, root, s"$root/_ckpt1", s"$root/_ckpt2").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val e = graft.Tables.t(s, dir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val mx = e.agg(max($"event_id")).head.getLong(0)
    val (t1, t2) = (mx / 3, 2 * mx / 3)
    graft.sources.LogSegments.append(e.filter($"event_id" <= t1), logDir)
    graft.sources.LogSegments.append(
      e.filter($"event_id" > t1 && $"event_id" <= t2), logDir)
    def run(ckpt: String): Unit = drain(s, dir)(ss =>
      ss.readStream.format("graft-log").option("path", logDir).load()
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // appId = the TABLE root (restart-stable across checkpoints —
          // the fresh-checkpoint redelivery leg depends on it)
          VersionedTable.commitBatch(batch, root, id,
            appId = root)
          ()
        }
        .option("checkpointLocation", ckpt))
    run(s"$root/_ckpt1") // leg 1: segments 1–2
    graft.sources.LogSegments.append(e.filter($"event_id" > t2), logDir)
    run(s"$root/_ckpt1") // leg 2: offset resume — only segment 3
    run(s"$root/_ckpt2") // leg 3: fresh checkpoint, same appId — no-ops
    VersionedTable.read(s, root)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count_distinct($"event_id").as("n_distinct"),
        sumMoney($"value").as("val_sum"))
      .orderBy($"event_type")
  }

  /** Streaming rolling z-score anomaly flags — the custom-ring-buffer
    * stateful twin of the batch `q_win_zscore`: see
    * [[graft.streaming.StatefulOps.anomalyFlags]]. Each event emits
    * exactly once (update mode, single AvailableNow batch), so the
    * sink table IS the per-event flag table and the oracle is the
    * identical int64 window algebra the batch op grades against. */
  def streamAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runToTable(s, dir, "update") { ss =>
      graft.streaming.StatefulOps.anomalyFlags(eventsStream(s, ss, dir))
    }
      .orderBy($"event_id")
  }

  val queries: Map[String, Q] = Map(
    "q_stream_anomaly" -> (streamAnomaly _),
    "q_stream_sessionize_timer" -> (streamSessionizeTimer _),
    "q_stream_join_full" -> (streamJoinFull _),
    "q_stream_join_right" -> (streamJoinRight _),
    "q_stream_table_ingest" -> (streamTableIngest _),
    "q_stream_log_ingest" -> (streamLogIngest _),
    "q_stream_state_audit" -> (streamStateAudit _),
    "q_stream_tws_sessionize" -> (streamTwsSessionize _),
    "q_stream_tws_profile" -> (streamTwsProfile _),
    "q_stream_generated" -> (streamGenerated _),
    "q_stream_enrich" -> (streamEnrich _),
    "q_stream_join_outer" -> (streamJoinOuter _),
    "q_stream_stateful" -> (streamStateful _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_tumbling" -> (streamTumbling _),
    "q_stream_topk" -> (streamTopk _),
    "q_stream_upsert" -> (streamUpsert _),
    "q_stream_sliding" -> (streamSliding _),
    "q_stream_session" -> (streamSession _),
    "q_stream_dedup" -> (streamDedup _)
  )

  val oracle: Map[String, String] = Map(
    "q_stream_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v_c
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, v_c,
        |    CAST(COUNT(v_c) OVER win AS BIGINT) AS n_w,
        |    CAST(SUM(v_c) OVER win AS BIGINT) AS s_w,
        |    CAST(SUM(v_c * v_c) OVER win AS BIGINT) AS ss_w
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, v_c, n_w,
        |  (n_w >= 5 AND
        |    (n_w * v_c - s_w) * (n_w * v_c - s_w) >
        |      4 * (n_w * ss_w - s_w * s_w)) AS is_anomaly
        |FROM w ORDER BY event_id""".stripMargin,
    // the timer-driven sessionize emits exactly the PROVEN-closed
    // sessions: non-last per user (closed by a successor event) plus
    // last sessions whose timer (end + gap, ms-truncated, +1 guard)
    // the final watermark (max event ts − 1 h, ms) passed
    "q_stream_sessionize_timer" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |wm AS (
        |  SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 AS wm_ms FROM e),
        |m AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM m),
        |roll AS (
        |  SELECT user_id, session_idx,
        |    MAX(session_idx) OVER (PARTITION BY user_id) AS last_idx,
        |    MIN(ts) AS session_start, MAX(ts) AS session_end,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |  FROM g GROUP BY user_id, session_idx)
        |SELECT user_id, session_start, session_end, n_events, val_sum
        |FROM roll, wm
        |WHERE session_idx < last_idx
        |   OR (epoch_us(session_end) + 1800000000) // 1000 + 1 < wm_ms
        |ORDER BY user_id, session_start""".stripMargin,
    // full outer: matched pairs + all unmatched purchases (the final
    // watermark passes every p_ts behind the Jan-29 cutoff) + the
    // unmatched clicks whose state expiry (c_ts + 1 h — the join
    // bound on their latest matchable purchase) the watermark passed
    "q_stream_join_full" ->
      """WITH p AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-29'),
        |c AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |wm AS (
        |  SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 AS wm_ms FROM c)
        |SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT) AS p_id, c.event_id AS c_id, c.user_id
        |FROM c, wm
        |WHERE NOT EXISTS (SELECT 1 FROM p
        |    WHERE p.user_id = c.user_id
        |      AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts)
        |  AND (epoch_us(c.ts) // 1000) + 3600000 < wm_ms
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin,
    // right outer: matched pairs + unmatched clicks whose state
    // expiry (c_ts + 1 h) the final watermark passed — the full-outer
    // oracle minus the unmatched-purchase branch
    "q_stream_join_right" ->
      """WITH p AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-29'),
        |c AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |wm AS (
        |  SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 AS wm_ms FROM c)
        |SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM p JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT) AS p_id, c.event_id AS c_id, c.user_id
        |FROM c, wm
        |WHERE NOT EXISTS (SELECT 1 FROM p
        |    WHERE p.user_id = c.user_id
        |      AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts)
        |  AND (epoch_us(c.ts) // 1000) + 3600000 < wm_ms
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin,
    // the ingested versioned table ≡ the batch table; n_distinct = n
    // is the no-double-append witness
    "q_stream_table_ingest" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_log_ingest" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // watermark-free dedup state ≡ the distinct key set — the state
    // CHECKPOINT contents are what's being graded here
    "q_stream_state_audit" ->
      """SELECT DISTINCT user_id, event_type
        |FROM events ORDER BY user_id, event_type""".stripMargin,
    "q_stream_enrich" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_stream_join_outer" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase'
        |        AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-29') p
        |LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
        |ORDER BY p_id, c_id NULLS FIRST""".stripMargin,
    "q_stream_stateful" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the third engine for the sessionize query — one oracle text,
    // three paths (window composition, native exec, TWS streaming)
    "q_stream_tws_sessionize" -> Windows.sessionizeOracle,
    // the transformWithState twin answers the identical profile —
    // one oracle, two state APIs
    "q_stream_tws_profile" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
        |ORDER BY p_id, c_id""".stripMargin,
    "q_stream_generated" ->
      """WITH ids AS (SELECT UNNEST(range(0, 20000)) AS id),
        |h AS (
        |  SELECT id, CAST(('0x' || substr(md5('42:' || CAST(id AS VARCHAR)),
        |    1, 15)) AS BIGINT) AS h
        |  FROM ids),
        |e AS (
        |  SELECT make_timestamp(1704067200000000 + id * 1000000) AS ts,
        |    (['click','error','purchase','signup','view'])
        |      [CAST((h // 500) % 5 AS INT) + 1] AS event_type,
        |    CAST(h % 1000000 AS DOUBLE) / 100.0 AS value
        |  FROM h)
        |SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
        |FROM e GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "q_stream_upsert" ->
      """SELECT event_type, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_topk" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY hour_start
        |    ORDER BY n DESC, event_type) AS INTEGER) AS rk
        |  FROM hourly)
        |SELECT hour_start, rk, event_type, n
        |FROM ranked WHERE rk <= 3
        |ORDER BY hour_start, rk""".stripMargin,
    "q_stream_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "q_stream_sliding" ->
      """WITH slid AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |    - k * INTERVAL '15 minutes' AS win_start, event_type
        |  FROM events CROSS JOIN (SELECT UNNEST(range(0, 4)) AS k) ks)
        |SELECT win_start, event_type, COUNT(*) AS n
        |FROM slid GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q_stream_session" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS sess_start,
        |  max(ts) + INTERVAL '30 minutes' AS sess_end,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
