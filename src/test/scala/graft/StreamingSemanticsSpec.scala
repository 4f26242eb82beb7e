package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics that the batch-equivalence oracle can't see:
  * watermark late-data drop and session merge across micro-batches. */
class StreamingSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("transformWithState profile ≡ flatMapGroupsWithState profile") {
    // the two arbitrary-state APIs must agree row-for-row on the
    // corpus — the round-9 cross-generation equivalence pin (both are
    // also independently DuckDB-oracled against the same SQL)
    val old = SparkEntry.queries("q_stream_stateful")(spark, sf)
      .collect().toSeq
    val tws = SparkEntry.queries("q_stream_tws_profile")(spark, sf)
      .collect().toSeq
    assert(tws === old)
  }

  test("append mode drops events later than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes"), $"k")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), "a"), (ts(5), "a"))
      q.processAllAvailable() // watermark → 10:00
      mem.addData((ts(21), "a"))
      q.processAllAvailable() // watermark → 10:16, [10:00,10:10) closes
      mem.addData((ts(2), "a")) // LATE: before watermark
      q.processAllAvailable()
      mem.addData((ts(40), "a"))
      q.processAllAvailable() // close remaining windows
      val rows = spark.table("wm_test")
        .select($"window.start".cast("string"), $"n")
        .as[(String, Long)].collect().toMap
      // late 10:02 event must NOT be counted in the closed window
      assert(rows("2024-01-01 10:00:00") === 2L)
    } finally q.stop()
  }

  test("session windows merge across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = mem.toDF().toDF("ts", "uid")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"uid")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess_test")
      .outputMode("complete").start()
    try {
      mem.addData((ts(0), 1L))
      q.processAllAvailable()
      mem.addData((ts(20), 1L)) // within 30-min gap → same session
      q.processAllAvailable()
      mem.addData((ts(55), 1L)) // ≥30 min after 10:20 → new session
      q.processAllAvailable()
      val sessions = spark.table("sess_test")
        .select($"n").as[Long].collect().sorted
      assert(sessions === Array(1L, 2L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = streaming.StatefulOps.runningCounts(
      mem.toDF().toDF("user_id", "event_type"))
    val q = out.writeStream.format("memory").queryName("fmgs_test")
      .outputMode("update").start()
    try {
      mem.addData((1L, "click"), (1L, "view"), (2L, "click"))
      q.processAllAvailable()
      mem.addData((1L, "purchase"))
      q.processAllAvailable()
      val latest = spark.table("fmgs_test")
        .groupBy($"user_id")
        .agg(max($"running_count").as("c"))
        .as[(Long, Long)].collect().toMap
      assert(latest(1L) === 3L) // 2 from batch 1 + 1 from batch 2
      assert(latest(2L) === 1L)
    } finally q.stop()
  }

  test("append mode emits exactly the watermark-closed windows of complete mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    def tsh(h: Int, m: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val agg = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"k")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("append_closed")
      .outputMode("append").start()
    try {
      mem.addData((tsh(10, 0), "a"), (tsh(10, 30), "a"), (tsh(11, 30), "b"))
      q.processAllAvailable() // watermark → 10:30
      mem.addData((tsh(14, 0), "a"))
      q.processAllAvailable() // watermark → 13:00; [10,11) and [11,12) close
      val appended = spark.table("append_closed")
        .select($"window.start".cast("string"), $"k", $"n")
        .as[(String, String, Long)].collect().toSet
      // the watermark (13:00) closed the 10:00 and 11:00 windows; the
      // 14:00 window is still open state and must NOT be emitted
      assert(appended === Set(
        ("2024-01-01 10:00:00", "a", 2L),
        ("2024-01-01 11:00:00", "b", 1L)))
    } finally q.stop()
  }

  test("file-source append run emits closed windows equal to complete mode") {
    val complete = ops.Streaming.streamTumbling(spark, sf)
      .select($"hour_start".cast("string"), $"event_type", $"n", $"val_sum")
      .collect().toSet
    val appended = ops.Streaming.streamTumblingAppend(spark, sf)
    val appendedRows = appended
      .select($"hour_start".cast("string"), $"event_type", $"n", $"val_sum")
      .collect().toSet
    // final watermark = max(ts) − 1h; windows with end ≤ watermark closed
    val maxTs = Tables.t(spark, sf, "events")
      .agg(max($"ts")).collect()(0).getTimestamp(0)
    val wm = new Timestamp(maxTs.getTime - 3600 * 1000L)
    val closedComplete = ops.Streaming.streamTumbling(spark, sf)
      .filter(($"hour_start" + expr("INTERVAL 1 HOUR")).cast("timestamp") <= lit(wm))
      .select($"hour_start".cast("string"), $"event_type", $"n", $"val_sum")
      .collect().toSet
    assert(appendedRows.nonEmpty, "append run emitted nothing — watermark never fired")
    assert(appendedRows === closedComplete,
      s"append output != watermark-closed subset (append=${appendedRows.size}, closed=${closedComplete.size}, complete=${complete.size})")
  }

  test("checkpoint restart: resumed run reads only new files yet totals restore prior state") {
    // Exactly-once across restart, the core production claim: run 1
    // aggregates half the corpus against a checkpoint dir and stops;
    // half 2 then "arrives"; run 2 resumes FROM THE CHECKPOINT with a
    // fresh query. If state were not restored, run 2 would show only
    // half 2; if half 1 were re-read, counts would exceed the batch
    // truth. Equality with the batch aggregate rules out both.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    withTmpDir("graft_restart") { root =>
    val srcDir = Paths.get(root, "src"); Files.createDirectories(srcDir)
    val ckpt = s"$root/ckpt"
    val all = Tables.t(spark, sf, "events")
    def stage(cond: org.apache.spark.sql.Column, tag: String): Unit = {
      val tmp = s"$root/stage_$tag"
      all.filter(cond).select($"event_type").coalesce(1).write.parquet(tmp)
      val f = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, srcDir.resolve(s"$tag.parquet"))
    }
    val schema = StructType(Seq(StructField("event_type", StringType)))
    def runOnce(qname: String): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      stage($"event_id" % 2 === 0, "half_a")
      runOnce("restart_run1")
      val run1 = spark.table("restart_run1")
        .as[(String, Long)].collect().toMap
      stage($"event_id" % 2 =!= 0, "half_b")
      runOnce("restart_run2")
      val run2 = spark.table("restart_run2")
        .as[(String, Long)].collect().toMap
      val batchAll = all.groupBy($"event_type").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      val batchA = all.filter($"event_id" % 2 === 0)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      assert(run1 === batchA, "run 1 must aggregate exactly the first half")
      assert(run2 === batchAll,
        "resumed run must equal the full batch aggregate (restored state + only-new files)")
    } finally {
      spark.catalog.dropTempView("restart_run1")
      spark.catalog.dropTempView("restart_run2")
    }
    }
  }

  test("foreachBatch idempotent upsert: restart + replay still equals the batch rebuild") {
    // Composes q_snapshot_merge's merge algebra with the checkpoint
    // restart harness, end to end at an EXTERNAL serving table: run 1
    // upserts half the corpus and stops (simulated crash); the same
    // batch is then re-delivered (foreachBatch's at-least-once contract)
    // and must be a no-op; run 2 resumes from the checkpoint over the
    // second half. Exactly-once holds only if the final serving table
    // equals the direct batch rebuild — double-apply or lost state both
    // break the equality.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    withTmpDir("graft_upsert") { root =>
      val srcDir = Paths.get(root, "src"); Files.createDirectories(srcDir)
      val ckpt = s"$root/ckpt"
      val target = s"$root/serving"
      val all = Tables.t(spark, sf, "events")
      def stage(cond: org.apache.spark.sql.Column, tag: String): Unit = {
        val tmp = s"$root/stage_$tag"
        all.filter(cond).select($"event_type").coalesce(1).write.parquet(tmp)
        val f = Files.list(Paths.get(tmp)).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        Files.move(f, srcDir.resolve(s"$tag.parquet"))
      }
      val schema = StructType(Seq(StructField("event_type", StringType)))
      var lastBatch = -1L
      val sinkFn: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (df, id) => {
          lastBatch = id
          ops.Streaming.upsertBatch(spark, target, id, df, "event_type")
        }
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema).parquet(srcDir.toString)
          .writeStream.foreachBatch(sinkFn)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def serving: Map[String, Long] =
        ops.Streaming.upserted(spark, target)
          .as[(String, Long)].collect().toMap
      def batchCounts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
        df.groupBy($"event_type").agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect().toMap
      stage($"event_id" % 2 === 0, "half_a")
      runOnce()
      assert(serving === batchCounts(all.filter($"event_id" % 2 === 0)),
        "after run 1 the serving table must equal the half-A aggregate")
      // at-least-once replay: the SAME batch id with the same rows
      ops.Streaming.upsertBatch(spark, target, lastBatch,
        spark.read.schema(schema).parquet(srcDir.toString), "event_type")
      assert(serving === batchCounts(all.filter($"event_id" % 2 === 0)),
        "a re-delivered batch must be a no-op, not a double-apply")
      stage($"event_id" % 2 =!= 0, "half_b")
      runOnce()
      assert(serving === batchCounts(all),
        "resumed upserts must converge to the direct batch rebuild")
    }
  }

  test("TWS event-time timer closes the open session only after the watermark passes") {
    // r9 verdict item 5: the timer surface exercised across REAL
    // micro-batches — a key's open session must NOT emit while the
    // watermark sits below end+gap, and MUST emit (exactly once, via
    // handleExpiredTimer) when a later batch advances the watermark
    // past it.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, Long)]
    val out = mem.toDF().toDF("user_id", "ts", "event_id", "c4")
      .withWatermark("ts", "0 seconds")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"c4")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new streaming.StatefulOps.TimedSessionProcessor(1800L * 1000000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "start_us", "end_us", "n_events", "c4")
    val q = out.writeStream.format("memory").queryName("tws_timer_test")
      .outputMode("update").start()
    try {
      def rows() = ss.table("tws_timer_test")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toSeq
      // batch 1: user 1 has a 2-event session ending 10:05; watermark
      // after the batch = 10:05 < 10:35 ⇒ no emission yet
      mem.addData((1L, ts(0), 1L, 10L), (1L, ts(5), 2L, 20L))
      q.processAllAvailable()
      assert(rows().isEmpty,
        "open session must not emit before the watermark passes end+gap")
      // batch 2: a far-future event for ANOTHER key advances the
      // watermark past 10:35 ⇒ user 1's timer fires, session emits once
      mem.addData((2L, Timestamp.valueOf("2024-01-01 12:00:00"), 3L, 5L))
      q.processAllAvailable()
      q.processAllAvailable() // one more no-data batch: timer evaluation
      assert(rows().contains((1L, 2L)),
        s"watermark-passed session must emit via the timer; got ${rows()}")
      assert(rows().count(_._1 == 1L) === 1,
        "the timer emission must happen exactly once")
    } finally q.stop()
  }

  test("TWS TTL'd ValueState evicts idle keys; fresh keys restart, not resume") {
    // r9 verdict item 5's other half: per-variable TTL. A key counted
    // in run 1 and untouched past the TTL must read back as ABSENT
    // in a later run — the count restarts at the new batch's size
    // instead of resuming. TTL is processing-time, so the test sleeps
    // for real between runs (generous margins: 1 s TTL, 3 s idle).
    // Two poll-then-stop runs against ONE checkpoint, not one
    // processAllAvailable query: in ProcessingTime time mode the
    // engine schedules no-data batches forever (processing time
    // always advances, so shouldRunAnotherBatch never settles — even
    // under Trigger.AvailableNow, measured 600+ batches/2 min), so
    // each run waits for its expected EMISSION and stops the query
    // explicitly — the production lifecycle for this mode. The
    // restart doubles as proof that TTL expiry is evaluated against
    // the RESTORED RocksDB state.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    withTmpDir("graft_tws_ttl") { root =>
      val mem = MemoryStream[(Long, String)]
      val out = mem.toDF().toDF("user_id", "event_type")
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(
          new streaming.StatefulOps.TtlCountProcessor(
            java.time.Duration.ofSeconds(1)),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n")
      val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def snapshot(): Seq[(Long, Long)] =
        emitted.synchronized(emitted.toVector)
      def runUntil(pred: Seq[(Long, Long)] => Boolean): Unit = {
        val q = out.writeStream
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = df.as[(Long, Long)].collect()
            emitted.synchronized { emitted ++= rows }
            ()
          }
          .start()
        try {
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (!pred(snapshot()) && System.nanoTime() < deadline)
            Thread.sleep(100)
          assert(pred(snapshot()),
            s"expected emission never arrived: ${snapshot()}")
        } finally q.stop()
      }
      mem.addData((1L, "a"), (1L, "b"))
      runUntil(_.contains((1L, 2L)))   // count(1) = 2, TTL clock starts
      Thread.sleep(3000)               // idle well past the 1 s TTL
      mem.addData((1L, "c"))
      runUntil(_.exists(r => r._1 == 1L && r._2 != 2L))
      assert(snapshot().contains((1L, 1L)),
        s"TTL must evict the idle count so run 2 RESTARTS at 1, " +
          s"not resumes at 3: ${snapshot()}")
      assert(!snapshot().contains((1L, 3L)),
        s"count resumed across the TTL boundary — eviction never fired: " +
          s"${snapshot()}")
    }
  }

  test("timer sessionize ≡ batch sessionize on proven-closed sessions") {
    // the fourth sessionize engine agrees with the batch oracle engine
    // on its emitted (proven-closed) set — keyed by stable start, so
    // the comparison is on (user, start, end, n)
    val timer = SparkEntry.queries("q_stream_sessionize_timer")(spark, sf)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .collect().toSeq
    val batch = SparkEntry.queries("q_sessionize")(spark, sf)
    val wmMs = Tables.t(spark, sf, "events")
      .agg((max(unix_micros($"ts")) / 1000).cast("long") - 3600000L)
      .as[Long].head()
    import org.apache.spark.sql.expressions.Window
    val closed = batch
      .withColumn("last_idx",
        max($"session_idx").over(Window.partitionBy($"user_id")))
      .filter($"session_idx" < $"last_idx" ||
        (unix_micros($"session_end") + 1800L * 1000000L) / 1000L + 1L < wmMs)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .orderBy($"user_id", $"session_start")
      .collect().toSeq
    assert(timer === closed)
  }

  test("AvailableNow streaming aggregate equals batch aggregate") {
    val streamed = ops.Streaming.streamTumbling(spark, sf)
      .select($"hour_start".cast("string"), $"event_type", $"n")
      .collect().toSeq
    val batch = Tables.t(spark, sf, "events")
      .groupBy(date_trunc("hour", $"ts").as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy($"hour_start", $"event_type")
      .select($"hour_start".cast("string"), $"event_type", $"n")
      .collect().toSeq
    assert(streamed === batch)
  }
}
