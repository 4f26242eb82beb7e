package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.{Det, Tables}

/** SURVEY.md §2.A (scans/sources) + §2.B (projection/filter/predicates).
  *
  * All filters/projections here are declarative so Catalyst pushes them
  * into the parquet scan (`PushedFilters` / pruned `ReadSchema`) — at
  * 100 TB these queries read only the row groups and columns they touch.
  */
object Scans extends OpModule {
  import Det._

  def scanProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
      // (l_orderkey, l_linenumber) is NOT unique in this synthetic data —
      // order by every output column so row order is fully value-determined.
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
  }

  def scanPrunePushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1998-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_shipdate".cast("date").as("ship_date"))
      .orderBy($"l_orderkey", $"ship_date")
  }

  def sourceJsonCol(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      .select($"event_id",
        get_json_object($"props", "$.k").cast(IntegerType).as("k"))
      .orderBy($"event_id")
  }

  def filterCompound(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "lineitem")
      .filter($"l_discount".between(0.02, 0.06) &&
        $"l_quantity" < 24 && $"l_returnflag".isin("A", "R"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_discount", $"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_discount", $"l_returnflag")
  }

  def projectCase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "orders")
      .select(
        $"o_orderkey",
        when($"o_totalprice" < 100000, "low")
          .when($"o_totalprice" < 300000, "mid")
          .otherwise("high").as("price_band"),
        dbl4(d12($"o_totalprice") * lit(0.9).cast(D6)).as("discounted"))
      .orderBy($"o_orderkey")
  }

  def filterNullSemantics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "lineitem")
      .select(nullif($"l_discount", lit(0.0)).isNull.as("is_zero_disc"),
        $"l_quantity")
      .groupBy($"is_zero_disc")
      .agg(count(lit(1)).as("n"), sumMoney($"l_quantity").as("sum_qty"))
      .orderBy($"is_zero_disc")
  }

  /** Partitioned-sink round trip: write `events` date-partitioned,
    * read it back with a partition filter, aggregate. The read-back
    * scan lists only the 7 filtered date directories out of 30
    * (PartitionFilters, pinned in PlanSpec) — the layout pattern that
    * turns a 100-TB event log into per-day scans. The write itself is
    * part of the op (it IS the sink under test), re-done per run with
    * dynamic overwrite. */
  /** Shared date-partitioned events sink (q_part_roundtrip + q_scan_dpp
    * write the same layout under different kinds). The repartition BY
    * the partition column before partitionBy matters: without it every
    * task writes every date — tasks × dates small files (960 here,
    * millions at 100 TB). With it: one file per date dir. */
  private def writeDatePartitionedEvents(s: SparkSession, dir: String,
      kind: String): String = {
    import s.implicits._
    val path = Tables.sinkPath(kind, dir, "events_by_date")
    Tables.t(s, dir, "events")
      .withColumn("event_date", $"ts".cast("date"))
      .repartition($"event_date")
      .write.mode("overwrite").partitionBy("event_date").parquet(path)
    path
  }

  def partitionedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = writeDatePartitionedEvents(s, dir, "part")
    s.read.parquet(path)
      .filter($"event_date".between("2024-01-10", "2024-01-16"))
      .groupBy($"event_date", $"event_type")
      .agg(count(lit(1)).as("n"), sumMoney($"value").as("val_sum"))
      .orderBy($"event_date", $"event_type")
  }

  /** CSV source round trip: write `part` as headered CSV, read it back
    * with an EXPLICIT schema (never inference at scale — a schema scan
    * of a 100-TB directory is a full extra pass), project and filter.
    * Doubles survive the text round trip exactly: Spark writes the
    * shortest representation that parses back to the identical bits.
    * The oracle reads the original table — equality proves the sink →
    * source loop is lossless. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Tables.sinkPath("csv", dir, "part_csv")
    val src = Tables.t(s, dir, "part")
    src.write.mode("overwrite").option("header", "true").csv(path)
    s.read.schema(src.schema).option("header", "true").csv(path)
      .filter($"p_size" >= 20)
      .select($"p_partkey", $"p_name", $"p_size", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  /** ORC source round trip — same lossless sink→source contract as the
    * CSV loop but through the other columnar format Spark bundles
    * (vectorized reader, predicate pushdown). Explicit schema on
    * read-back, as always at scale. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Tables.sinkPath("orc", dir, "part_orc")
    val src = Tables.t(s, dir, "part")
    src.write.mode("overwrite").orc(path)
    s.read.schema(src.schema).orc(path)
      .filter($"p_size" < 15)
      .select($"p_partkey", $"p_brand", $"p_size", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  /** Avro source round trip — the standard row-oriented interchange
    * format (Spark 4 bundles the avro source in spark-sql). Same
    * lossless sink→source contract as the CSV/ORC loops: explicit
    * schema on read-back, oracle reads the original table, equality
    * proves the loop is exact (avro doubles are IEEE bits, no text
    * round-trip ambiguity). */
  /** This distribution bundles AvroFileFormat inside spark-sql but does
    * not register the "avro" shortname in its DataSourceRegister service
    * file, so the provider is addressed by class name. */
  private val AvroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Tables.sinkPath("avro", dir, "supplier_avro")
    val src = Tables.t(s, dir, "supplier")
    src.write.mode("overwrite").format(AvroFmt).save(path)
    s.read.schema(src.schema).format(AvroFmt).load(path)
      .filter($"s_acctbal" > 0)
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
      .orderBy($"s_suppkey")
  }

  /** Dynamic partition pruning: a date-partitioned fact sink joined to
    * a SELECTIVE dim of dates — the 100-TB scan-pruning pattern where
    * the partitions to read are only known at runtime (from the dim
    * filter), not at plan time. Catalyst inserts a
    * DynamicPruningExpression on the fact scan (pinned in PlanSpec)
    * that reuses the broadcast dim to list only the matching date
    * directories — without DPP the fact side would scan all 30
    * partitions to join-discard 23 of them. */
  def dppPruning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = s.read.parquet(writeDatePartitionedEvents(s, dir, "dpp"))
    val dim = Tables.t(s, dir, "events")
      .select($"ts".cast("date").as("event_date")).distinct()
      .filter(dayofmonth($"event_date").between(10, 16))
    fact.join(dim, Seq("event_date"))
      .groupBy($"event_date")
      .agg(count(lit(1)).as("n"), sumMoney($"value").as("val_sum"))
      .orderBy($"event_date")
  }

  /** Small-file compaction — the sink-hygiene pass every long-lived
    * 100-TB pipeline ends with. A deliberately fragmented sink (64
    * round-robin output tasks over a table that needs 1 file — the
    * "every micro-batch wrote its own files" shape) is compacted by
    * sizing the output partition count from the ACTUAL on-disk bytes
    * (FS listing, the same stat a table-format compactor reads) against
    * a target file size, then rewritten. Reading the fragmented sink
    * back costs one task per file; the compacted sink costs
    * ceil(bytes/target). The aggregate runs over the COMPACTED copy and
    * the oracle over the original table, so the hash gate proves the
    * rewrite lost nothing; CompactionSpec pins the file counts. */
  val CompactTargetBytes: Long = 64L * 1024 * 1024

  def sinkCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fragPath = Tables.sinkPath("compactfrag", dir, "events_frag")
    val outPath = Tables.sinkPath("compact", dir, "events_compact")
    Tables.t(s, dir, "events")
      .repartition(64)
      .write.mode("overwrite").parquet(fragPath)
    val frag = s.read.parquet(fragPath)
    val onDisk = org.apache.hadoop.fs.FileSystem
      .get(s.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(fragPath)).getLength
    val nFiles = math.max(1L, (onDisk + CompactTargetBytes - 1) /
      CompactTargetBytes).toInt
    // round-robin repartition: equal-BYTE output files regardless of
    // key skew (a keyed repartition here would rebuild the skew the
    // compactor exists to smooth out)
    frag.repartition(nFiles).write.mode("overwrite").parquet(outPath)
    s.read.parquet(outPath)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sumMoney($"value").as("val_sum"))
      .orderBy($"event_type")
  }

  /** Z-order clustering layout — the multi-dimensional data-skipping
    * primitive that completes the layout toolbox (partitioning prunes
    * one dim, bucketing co-locates one key; z-order bounds TWO dims per
    * file). Rows map to a Morton code interleaving the bits of
    * (user_id mod 1024, hour-of-ts mod 1024) via the standard
    * shift-and-mask spread — pure integer/bit ops, identical in both
    * engines — and files are fixed 2¹⁴-code z-ranges, so every file's
    * min/max envelope confines BOTH dimensions to a 128-wide band
    * (top 3 bits of each dim are pinned by the file's z-range). The
    * query emits exactly the per-file min/max stats a scan planner
    * skips with; ScaleLayoutSpec proves the bound and that a 1-D sort
    * cannot achieve it.
    *
    * Scale shape: the z-code is a stateless map (stays in codegen);
    * stats are one map-combinable aggregate on O(files) groups. In a
    * real table rewrite the same code is the `repartitionByRange`/
    * sort key — no shuffle beyond the one the rewrite itself is. */
  def layoutZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 16-bit Morton spread: x → bits of x at even positions.
    def spread(c: Column): Column = {
      val x1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(16711935L))
      val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(252645135L))
      val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(858993459L))
      x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(1431655765L))
    }
    Tables.t(s, dir, "events")
      .select(($"user_id" % 1024L).as("a"),
        expr("(unix_micros(ts) div 3600000000) % 1024").as("b"))
      .withColumn("z", spread($"a").bitwiseOR(shiftleft(spread($"b"), 1)))
      .groupBy(expr("z div 16384").as("file_id"))
      .agg(count(lit(1)).as("n"),
        min($"a").as("min_a"), max($"a").as("max_a"),
        min($"b").as("min_b"), max($"b").as("max_b"),
        min($"z").as("min_z"), max($"z").as("max_z"))
      .orderBy($"file_id")
  }

  /** Schema evolution across parquet batches: an old batch written
    * WITHOUT `o_orderpriority`, a newer one with it, read back under
    * `mergeSchema` — the unified schema null-fills the legacy rows,
    * which the aggregation surfaces as an explicit `<legacy>` band.
    * This is how a 100-TB corpus absorbs a new feature column without
    * rewriting history: merge on read, coalesce at the consumer.
    * The sink path is per-JVM ([[Tables.sinkPath]]): the overwrite-then-
    * append sequence on a shared path races a concurrent writer into a
    * doubled/missing batch. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Tables.sinkPath("schemaevo", dir, "orders_evolving")
    val o = Tables.t(s, dir, "orders")
    val cut = "1997-01-01"
    o.filter($"o_orderdate" < cut)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .write.mode("overwrite").parquet(path)
    o.filter($"o_orderdate" >= cut)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .write.mode("append").parquet(path)
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce($"o_orderpriority", lit("<legacy>")).as("priority"))
      .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("spend"))
      .orderBy($"priority")
  }

  /** The DSv2 activity GENERATOR source (the reference's data-generator
    * component as a native Spark table — [[graft.sources.ActivityGenerator]]):
    * 20k deterministic events from seed 42, the tail 15k selected by an
    * `event_id` range that pushes into the source (the generated window
    * narrows — generator-side partition pruning), then a per-type
    * rollup. Every column derives from the portable md5 integer, so
    * DuckDB REGENERATES the identical rows from `range()` — a source
    * with a full hash-grade oracle, not a smoke test. */
  def sourceGenerated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft-events")
      .option("rows", 20000L).option("seed", 42L).option("users", 500L)
      .load()
      .filter($"event_id" >= 5000L)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(Det.d12($"value")).cast("double").as("total_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  /** Parquet AGGREGATE pushdown — the footer-statistics fast path: a
    * bare COUNT/MIN/MAX over a parquet table answers from row-group
    * metadata without decoding a single data page. Spark gates this
    * behind the DSv2 reader (`useV1SourceList` cleared for parquet) +
    * `spark.sql.parquet.aggregatePushdown`, both set on a CLONED
    * session so the shared session's reader stack is untouched (the
    * `nanosAsLong` hoisting precedent — no conf mutation observable
    * outside). The plan pin asserts `PushedAggregation` reached the
    * scan. At 100 TB this is the difference between a metadata-only
    * touch and a full corpus decode for every freshness/row-count
    * probe a scheduler issues. */
  def scanAggPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ss = s.newSession()
    ss.conf.set("spark.sql.sources.useV1SourceList", "")
    ss.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    ss.read.parquet(s"$dir/lineitem.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min($"l_orderkey").as("min_orderkey"),
        max($"l_orderkey").as("max_orderkey"))
  }

  /** In-flight data-quality metrics via `observe()` + `Observation` —
    * the production pattern for DQ gating WITHOUT a second pass: the
    * metric aggregates ride the scan as an accumulator-backed plan
    * node, and the driver reads the totals after the action. One noop
    * write drives exactly one pass over the table; the op's output is
    * the observed metric row itself (bounded, 1 row — the Observation
    * API's contract, not a collect() of data). At 100 TB this is the
    * difference between "audit the load" costing one extra full scan
    * and costing nothing. Oracled: the metrics are plain aggregates. */
  def scanObserved(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = new org.apache.spark.sql.Observation()
    Tables.t(s, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when($"l_discount" > 0.05, 1L).otherwise(0L))
          .as("n_hi_discount"),
        sum($"l_quantity".cast("long")).as("qty_sum"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long],
      m("n_hi_discount").asInstanceOf[Long],
      m("qty_sum").asInstanceOf[Long]))
      .toDF("n_rows", "n_hi_discount", "qty_sum")
  }

  private val vtableRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh versioned-table root for one run of a table op:
    * `<leaf><n>` under the pid-scoped `vtable` sink, `n` a per-JVM run
    * counter — concurrent runs (parallel suites, bench reps) must not
    * race each other's single-writer table — cleared of anything a
    * previous run left there. */
  private def vtableRoot(dir: String, leaf: String): String = {
    val root = Tables.sinkPath("vtable", dir,
      s"$leaf${vtableRun.incrementAndGet()}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  /** Register (idempotently) and return the graft catalog serving
    * `dir`'s warehouse. Spark's CatalogManager caches the INITIALIZED
    * catalog instance per name — re-setting the warehouse conf for an
    * already-used name is silently ignored (ADVICE r14) — so the sf
    * dir is encoded in the catalog NAME: each dir gets its own
    * initialized catalog and a session crossing sf dirs can never read
    * one dir's tables out of another's warehouse. */
  private[ops] def catalogFor(s: SparkSession, dir: String): String = {
    val name = "graft_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$name.warehouse",
      Tables.sinkPath("catalogwh", dir, "wh"))
    name
  }

  /** Manifest-based versioned table with TIME TRAVEL
    * ([[graft.sources.VersionedTable]] — per-version immutable data
    * dirs + create-new JSON manifests listing each snapshot's
    * complete file set): commit the ≤1996 order book as v1, append
    * 1997 as v2, then read BOTH snapshots back and roll each up. The
    * graded rows prove snapshot isolation (v1's numbers are unchanged
    * by v2's commit) and time travel (both versions remain readable).
    * Reads plan ordinary parquet scans over the resolved file list,
    * so pushdown/pruning apply unchanged; the manifest is O(files)
    * driver-side JSON — the table-format trick that makes appends
    * O(new data) at 100 TB. */
  def scanTimetravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_v")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    val v1 = VersionedTable.commit(
      o.filter(year($"o_orderdate") <= 1996), root)
    val v2 = VersionedTable.commit(
      o.filter(year($"o_orderdate") === 1997), root)
    Seq(v1, v2).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_orders"),
          sum(d12($"o_totalprice")).cast("double").as("revenue"))
        .select(lit(v).as("version"), $"n_orders", $"revenue")
    }.reduce(_.unionAll(_)).orderBy($"version")
  }

  /** Table ROLLBACK + incremental (CDC-style) read on the versioned
    * table: v1 = ≤1996 orders, v2 = +1997, v3 = rollback→v1 (a
    * forward commit republishing v1's file list — O(manifest), nothing
    * deleted, v2 stays readable). Output: per-version rollups for v1,
    * v2 AND v3 (v3 must reproduce v1's numbers exactly — the rollback
    * witness), plus the v1→v2 incremental read (version 0 row), whose
    * scan plans ONLY the delta files — the O(change) property
    * incremental downstream jobs rely on. */
  def scanTableRollback(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_rb")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    val v1 = VersionedTable.commit(
      o.filter(year($"o_orderdate") <= 1996), root)
    val v2 = VersionedTable.commit(
      o.filter(year($"o_orderdate") === 1997), root)
    val v3 = VersionedTable.rollback(root, v1)
    def roll(df: DataFrame, tag: Int) = df
      .agg(count(lit(1)).as("n_orders"),
        sum(d12($"o_totalprice")).cast("double").as("revenue"))
      .select(lit(tag).as("version"), $"n_orders", $"revenue")
    (Seq(v1, v2, v3).map(v =>
      roll(VersionedTable.read(s, root, Some(v)), v)) :+
      roll(VersionedTable.readChanges(s, root, v1, v2), 0))
      .reduce(_.unionAll(_)).orderBy($"version")
  }

  /** Manifest-stats FILE SKIPPING on the versioned table — the data-
    * skipping layer real formats put above row-group pushdown: four
    * single-file commits (one per order year, min/max of `o_year`
    * recorded per file at commit), then a range read for 1997–1998
    * that must plan exactly the two overlapping files; the skipped
    * files are never handed to Spark at all (O(manifest) driver
    * pruning). The graded row carries the (scanned, total) file
    * counts as the skip witness alongside the rollup — at 100 TB this
    * is the difference between touching 2 files and listing a
    * year-spanning table. */
  def scanFileSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_fs")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    (1996 to 1999).foreach { y =>
      VersionedTable.commit(o.filter($"o_year" === y).repartition(1),
        root, statsCol = Some("o_year"))
    }
    val (pruned, scanned, total) =
      VersionedTable.readPruned(s, root, 1997.0, 1998.0)
    pruned
      .agg(count(lit(1)).as("n_orders"),
        sum(d12($"o_totalprice")).cast("double").as("revenue"))
      .select(lit(scanned).as("n_files_scanned"),
        lit(total).as("n_files_total"), $"n_orders", $"revenue")
  }

  /** Table OPTIMIZE (compaction as a REWRITE commit) on the versioned
    * table: three fragmented commits (4 files each — the streaming
    * small-files tax), then `optimize` rewrites the snapshot into ONE
    * file and publishes it as a version whose manifest REPLACES the
    * parent's list. Graded rows: the pre-optimize version (12 files)
    * and the post-optimize version (1 file) with IDENTICAL rollups —
    * compaction must change layout, never data — and time travel to
    * the fragmented version keeps working by construction. */
  def scanTableOptimize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_opt")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    (1995 to 1997).foreach { y =>
      VersionedTable.commit(o.filter($"o_year" === y).repartition(4), root)
    }
    val pre = VersionedTable.currentVersion(root)
    val post = VersionedTable.optimize(s, root, numFiles = 1)
    Seq(pre, post).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_orders"),
          sum(d12($"o_totalprice")).cast("double").as("revenue"))
        .select(lit(v).as("version"),
          lit(VersionedTable.fileCount(root, v)).as("n_files"),
          $"n_orders", $"revenue")
    }.reduce(_.unionAll(_)).orderBy($"version")
  }

  /** Table MERGE (upsert) as a copy-on-write rewrite: v1 = 1995–1996
    * orders; the update batch doubles the price of every key ≡ 0
    * (mod 100) AND inserts the 1997 orders; `VersionedTable.merge`
    * replaces matched rows, inserts the rest, and publishes the
    * merged frame as a replace-commit. Graded rows: v1 and v2 rollups
    * — v2's revenue must equal base + matched (the doubling) + the
    * 1997 insert, exactly, and v1 stays readable (COW never mutates
    * history). Doubling a double is exact (exponent bump), so the
    * decimal-sum oracle is reachable bit-for-bit. */
  def scanTableMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_mrg")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val v1 = VersionedTable.commit(o.filter($"o_year".between(1995, 1996)),
      root)
    val updates = o
      .filter($"o_year".between(1995, 1996) && $"o_orderkey" % 100 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .unionByName(o.filter($"o_year" === 1997))
    val v2 = VersionedTable.merge(s, root, updates, "o_orderkey",
      numFiles = 2)
    Seq(v1, v2).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_orders"),
          sum(d12($"o_totalprice")).cast("double").as("revenue"))
        .select(lit(v).as("version"), $"n_orders", $"revenue")
    }.reduce(_.unionAll(_)).orderBy($"version")
  }

  /** Key-range-TARGETED merge — grades
    * [[graft.sources.VersionedTable.mergeTargeted]], the file-level
    * refinement of the whole-table COW: four appends land DISJOINT
    * o_orderkey quartile bands (per-file key stats recorded), then a
    * merge whose update batch touches ONLY the first band (doubling
    * every key ≡ 0 mod 100) plus brand-new keys beyond the max
    * (inserts). The merge rewrites only band-1 files — bands 2–4 are
    * carried verbatim in the new manifest, no data movement (the
    * carried-paths witness is pinned in VersionedTableCdcSpec; the
    * graded rows here are the pre/post-merge snapshot rollups, each
    * leg independently derivable from the raw table). Doubling a
    * double is exact, so the post-merge sum is bit-reachable. */
  def scanTableMergeTargeted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_tmrg")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val mx = o.agg(max($"o_orderkey")).head.getLong(0)
    val (q1, q2, q3) = (mx / 4, mx / 2, 3 * mx / 4)
    VersionedTable.commit(o.filter($"o_orderkey" <= q1), root,
      statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q1 &&
      $"o_orderkey" <= q2), root, statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q2 &&
      $"o_orderkey" <= q3), root, statsCol = Some("o_orderkey"))
    val v4 = VersionedTable.commit(o.filter($"o_orderkey" > q3), root,
      statsCol = Some("o_orderkey"))
    val updates = o
      .filter($"o_orderkey" <= q1 && $"o_orderkey" % 100 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .unionByName(o.filter($"o_year" === 1998)
        .select(($"o_orderkey" + mx * 2).as("o_orderkey"),
          $"o_totalprice", $"o_year"))
    val v5 = VersionedTable.mergeTargeted(s, root, updates, "o_orderkey",
      numFiles = 2)
    Seq(v4, v5).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_orders"),
          sum(d12($"o_totalprice")).cast("double").as("revenue"))
        .select(lit(v).as("version"), $"n_orders", $"revenue")
    }.reduce(_.unionAll(_)).orderBy($"version")
  }

  /** Targeted DELETE — grades [[graft.sources.VersionedTable.delete]],
    * row erasure as a partial COW (the GDPR primitive on the table
    * format): quartile-banded appends with key stats, then a delete of
    * every key ≡ 0 mod 100 INSIDE the first band only — band-1 files
    * rewrite without the matched rows, bands 2–4 carry verbatim, and
    * the cdc sidecar tags each erased row `delete`. Graded rows:
    * pre/post-delete snapshot rollups plus the feed's delete-leg count
    * and exact erased amount — every leg independently derivable from
    * the raw table. */
  def scanTableDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_del")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val mx = o.agg(max($"o_orderkey")).head.getLong(0)
    val (q1, q2, q3) = (mx / 4, mx / 2, 3 * mx / 4)
    VersionedTable.commit(o.filter($"o_orderkey" <= q1), root,
      statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q1 &&
      $"o_orderkey" <= q2), root, statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q2 &&
      $"o_orderkey" <= q3), root, statsCol = Some("o_orderkey"))
    val v4 = VersionedTable.commit(o.filter($"o_orderkey" > q3), root,
      statsCol = Some("o_orderkey"))
    val erase = o.filter($"o_orderkey" <= q1 && $"o_orderkey" % 100 === 0)
      .select($"o_orderkey")
    val v5 = VersionedTable.delete(s, root, erase, "o_orderkey",
      numFiles = 1, cdc = true)
    val rollups = Seq(v4, v5).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(d12($"o_totalprice")).cast("double").as("amount"))
        .select(lit(v).as("version"), lit("snapshot").as("leg"),
          $"n_rows", $"amount")
    }.reduce(_.unionAll(_))
    val feedLeg = VersionedTable.readChangeFeed(s, root, v4, v5)
      .filter($"_change_type" === "delete")
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
      .select(lit(v5).as("version"), lit("feed_delete").as("leg"),
        $"n_rows", $"amount")
    rollups.unionAll(feedLeg).orderBy($"version", $"leg")
  }

  /** SHALLOW CLONE — grades [[graft.sources.VersionedTable.clone]]:
    * a zero-copy fork (witnessed: the clone's data directory contains
    * NO parquet at clone time — its manifest references the source's
    * immutable files) that then diverges independently: appending 1998
    * to the clone leaves the source untouched. Both rollups derivable
    * from the raw table. */
  def scanTableClone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val src = vtableRoot(dir, "orders_clsrc")
    val tgt = s"${src}_fork"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tgt))
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    VersionedTable.commit(o.filter($"o_year".between(1995, 1996)), src)
    VersionedTable.commit(o.filter($"o_year" === 1997), src)
    VersionedTable.clone(src, tgt)
    val zeroCopy = !java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(tgt, "data"))
    VersionedTable.commit(o.filter($"o_year" === 1998), tgt)
    def leg(name: String, root: String) =
      VersionedTable.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          sum(d12($"o_totalprice")).cast("double").as("amount"))
        .select(lit(name).as("leg"), $"n_rows", $"amount",
          lit(zeroCopy).as("zero_copy"))
    leg("clone_after_append", tgt).unionAll(leg("source", src))
      .orderBy($"leg")
  }

  /** COLUMN-MAPPING schema evolution — grades
    * [[graft.sources.VersionedTable.renameColumn]] (round 13, the r12
    * verdict's top item): a rename must sever NOTHING. v1–v2 append
    * under the original name, v3 renames `o_totalprice → amount_usd`
    * as a metadata-only commit (zero data movement — physical names
    * are the stable identity), v4 appends under the NEW logical name.
    * Graded legs: the pre-rename snapshot rolled up under its own
    * version's OLD name (time travel shows each version's schema), the
    * head under the new name over ALL files (pre-rename files readable
    * with no rewrite), and the row-level change feed crossing the
    * rename unified under the target's name. `rename_ok` witnesses the
    * logical schemas on both sides. Every leg independently derivable
    * from the raw table. */
  def scanTableRename(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_ren")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    VersionedTable.commit(o.filter($"o_year".between(1995, 1996)), root)
    val v2 = VersionedTable.commit(o.filter($"o_year" === 1997), root)
    VersionedTable.renameColumn(s, root, "o_totalprice", "amount_usd")
    val v4 = VersionedTable.commit(
      o.filter($"o_year" === 1998)
        .withColumnRenamed("o_totalprice", "amount_usd"), root)
    val renameOk =
      VersionedTable.read(s, root, Some(v2)).columns
        .contains("o_totalprice") &&
      VersionedTable.read(s, root).columns.contains("amount_usd")
    val preLeg = VersionedTable.read(s, root, Some(v2))
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
      .select(lit("pre_rename_v2").as("leg"), $"n_rows", $"amount")
    val headLeg = VersionedTable.read(s, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"amount_usd")).cast("double").as("amount"))
      .select(lit("head_renamed").as("leg"), $"n_rows", $"amount")
    val feedLeg = VersionedTable.readChangeFeed(s, root, 0, v4)
      .filter($"_change_type" === "insert")
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"amount_usd")).cast("double").as("amount"))
      .select(lit("feed_across_rename").as("leg"), $"n_rows", $"amount")
    preLeg.unionAll(headLeg).unionAll(feedLeg)
      .withColumn("rename_ok", lit(renameOk))
      .orderBy($"leg")
  }

  /** TYPE-WIDENING schema evolution — grades
    * [[graft.sources.VersionedTable.widenColumn]], the other
    * column-mapping face beside [[scanTableRename]]: v1 commits a
    * 32-bit `qty` column, v2 widens it to BIGINT as metadata (no file
    * rewritten), v3 commits values that genuinely exceed int range —
    * the head scan up-casts the old narrow files and reads the new
    * wide ones natively, one schema, one rollup. `widen_ok` witnesses
    * the logical types on both sides of the evolution. */
  def scanTableWiden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_wd")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", year($"o_orderdate").as("o_year"))
    val v1 = VersionedTable.commit(
      o.filter($"o_year".between(1995, 1996))
        .withColumn("qty", ($"o_orderkey" % 1000).cast("int")), root)
    VersionedTable.widenColumn(s, root, "qty", "bigint")
    VersionedTable.commit(
      o.filter($"o_year" === 1997)
        .withColumn("qty", ($"o_orderkey" % 1000) * 10000000L), root)
    val widenOk =
      VersionedTable.read(s, root, Some(v1)).schema("qty").dataType ==
        org.apache.spark.sql.types.IntegerType &&
      VersionedTable.read(s, root).schema("qty").dataType ==
        org.apache.spark.sql.types.LongType
    VersionedTable.read(s, root)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_rows"), sum($"qty").as("qty_sum"))
      .withColumn("widen_ok", lit(widenOk))
      .orderBy($"o_year")
  }

  /** DROP + RE-ADD column lifecycle — grades
    * [[graft.sources.VersionedTable.dropColumn]] /
    * [[graft.sources.VersionedTable.addColumn]], the half of column
    * mapping that guards physical-identity retirement (r13 verdict
    * item #3): v1–v2 commit orders WITH a `note` column, v3 DROPS it
    * (metadata only), v4 RE-ADDS the same logical name (fresh physical
    * identity — the retired name can never be reused), v5 commits new
    * rows carrying notes. Graded legs: the head read must NOT
    * resurrect the dropped bytes under the re-added name (`n_notes`
    * counts only v5's rows — any bleed-through from the v1–v2 files'
    * retired physical column would inflate it), pre-drop time travel
    * still sees the original column intact, and the change feed
    * crossing the drop/re-add serves every insert under the head
    * schema with pre-drop notes NULL-padded. `drop_ok` witnesses the
    * logical schemas immediately after the drop and at head. */
  def scanTableDrop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_dr")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
      .withColumn("note",
        concat(lit("n"), ($"o_orderkey" % 7).cast("string")))
    VersionedTable.commit(o.filter($"o_year".between(1995, 1996)), root)
    val v2 = VersionedTable.commit(o.filter($"o_year" === 1997), root)
    val v3 = VersionedTable.dropColumn(s, root, "note")
    VersionedTable.addColumn(s, root, "note", "string")
    val v5 = VersionedTable.commit(o.filter($"o_year" === 1998), root)
    val dropOk =
      !VersionedTable.read(s, root, Some(v3)).columns.contains("note") &&
        VersionedTable.read(s, root).columns.contains("note")
    def legOf(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        count($"note").as("n_notes"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
        .select(lit(name).as("leg"), $"n_rows", $"n_notes", $"amount")
    legOf("head_after_readd", VersionedTable.read(s, root))
      .unionAll(legOf("pre_drop_v2", VersionedTable.read(s, root, Some(v2))))
      .unionAll(legOf("feed_across_drop",
        VersionedTable.readChangeFeed(s, root, 0, v5)
          .filter($"_change_type" === "insert")))
      .withColumn("drop_ok", lit(dropOk))
      .orderBy($"leg")
  }

  /** PER-COLUMN manifest stats — grades the round-14 generalization of
    * the single `statsBy` range to a per-column map (r13 verdict item
    * #4): four period batches commit with `statsCols = (o_orderkey,
    * o_year)` — id monotone within a batch, period constant per batch,
    * the batch-per-period ingest shape — then (1) a targeted DELETE
    * keyed on the SECOND column (o_year = 1996) rewrites exactly the
    * matching period's file and carries the other three verbatim
    * (`carried_files` witness — without per-column stats this key
    * degraded to a conservative full rewrite), and (2) a stats-pruned
    * read on o_year skips every provably-missed file
    * (`files_scanned`/`files_total` witness). Rollup independently
    * derivable from the raw table. */
  def scanStatsMulticol(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_ms")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    (1995 to 1998).foreach(y =>
      VersionedTable.commit(o.filter($"o_year" === y).repartition(1), root,
        statsCol = Some("o_orderkey"), statsCols = Seq("o_year")))
    val before = VersionedTable.resolveFiles(root,
      VersionedTable.currentVersion(root))
    val vDel = VersionedTable.delete(s, root,
      Seq(1996).toDF("o_year"), "o_year")
    val after = VersionedTable.resolveFiles(root, vDel)
    val carried = before.map(_.path).toSet
      .intersect(after.map(_.path).toSet).size
    val (_, scanned, total) = VersionedTable.readPruned(s, root,
      1997, 1997, statsCol = Some("o_year"))
    VersionedTable.read(s, root)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
      .withColumn("carried_files", lit(carried))
      .withColumn("files_scanned", lit(scanned))
      .withColumn("files_total", lit(total))
      .orderBy($"o_year")
  }

  /** Dynamic partition OVERWRITE — grades
    * [[graft.sources.VersionedTable.overwritePartitions]], the
    * backfill primitive: a year-partitioned table gets its 1996
    * partition re-run with doubled prices; the 1995/1997 partitions'
    * file entries carry VERBATIM (witnessed), and the rollup shows
    * exactly the 1996 rows changed. INSERT OVERWRITE semantics at
    * O(partition) cost. */
  def scanPartOverwrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_ow")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
      .filter($"o_year".between(1995, 1997))
    val v1 = VersionedTable.commitPartitioned(o, root, Seq("o_year"))
    val before = VersionedTable.resolveFiles(root, v1)
    val v2 = VersionedTable.overwritePartitions(
      o.filter($"o_year" === 1996)
        .withColumn("o_totalprice", $"o_totalprice" * 2),
      root, Seq("o_year"))
    val after = VersionedTable.resolveFiles(root, v2)
    val untouchedCarried = before
      .filter(f => f.part.get("o_year").exists(_ != "1996"))
      .forall(after.contains)
    VersionedTable.read(s, root)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
      .select($"o_year", $"n_rows", $"amount",
        lit(untouchedCarried).as("untouched_carried"))
      .orderBy($"o_year")
  }

  /** SQL TABLE-FUNCTION surface over the versioned table — grades the
    * `graft_table` / `graft_table_changes` injections
    * ([[graft.GraftExtensions]]): a pure-SQL user reads the head
    * snapshot, time-travels to v1, and consumes the row-level change
    * feed for (1, 2] without touching the Scala API — one SQL
    * statement, three legs, each independently derivable from the raw
    * table. The file list resolves at analysis time exactly like a
    * catalog table reference. */
  def scanTableSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_sql")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    VersionedTable.commit(o.filter($"o_year".between(1995, 1996)), root)
    VersionedTable.commit(o.filter($"o_year" === 1997), root)
    def leg(name: String, from: String) =
      s"""SELECT '$name' AS leg, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
         |    AS amount
         |FROM $from""".stripMargin
    s.sql(Seq(
      leg("head", s"graft_table('$root')"),
      leg("time_travel_v1", s"graft_table('$root', 1)"),
      leg("changes_1_2", s"graft_table_changes('$root', 1, 2)"))
      .mkString("\nUNION ALL\n") + "\nORDER BY leg")
  }

  /** CATALOG-RESOLVED SQL lifecycle (round 14 — r13 verdict item #8):
    * the [[scanTableSql]] twin with ZERO path-valued TVFs — the table
    * resolves by NAME through the registered `graft` TableCatalog
    * (`spark.sql.catalog.graft` → [[graft.sources.GraftCatalog]]).
    * Graded legs: CREATE NAMESPACE + CREATE TABLE DDL, two
    * `INSERT INTO` appends (each one OCC-committed version through the
    * V1 write bridge), an identifier SELECT over the head, identifier
    * time travel (`VERSION AS OF 2` — the post-first-insert snapshot),
    * and a filter leg (`WHERE o_year = 1997`) that crosses the
    * catalog's DSv2 pushdown negotiation into the native read plan.
    * The warehouse is pid-scoped /tmp (the sink convention); table
    * names carry a per-run counter so bench reps re-run the whole DDL
    * lifecycle instead of reading a warm table. */
  def scanCatalogSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cat = catalogFor(s, dir)
    val t = s"$cat.sales.orders_cat${vtableRun.incrementAndGet()}"
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sales")
    s.sql(s"CREATE TABLE $t " +
      "(o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)")
    Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
      .createOrReplaceTempView("orders_cat_src")
    s.sql(s"INSERT INTO $t SELECT * FROM orders_cat_src " +
      "WHERE o_year BETWEEN 1995 AND 1996")
    s.sql(s"INSERT INTO $t SELECT * FROM orders_cat_src " +
      "WHERE o_year = 1997")
    def leg(name: String, from: String, where: String = "") =
      s"""SELECT '$name' AS leg, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
         |    AS amount
         |FROM $from $where""".stripMargin
    s.sql(Seq(
      leg("head", t),
      leg("pushdown_1997", t, "WHERE o_year = 1997"),
      leg("time_travel_v2", s"$t VERSION AS OF 2"))
      .mkString("\nUNION ALL\n") + "\nORDER BY leg")
  }

  /** SQL `MERGE INTO` by catalog name (round 15 — r14 verdict item
    * #1): the [[scanTableMergeTargeted]] twin with the DML leg issued
    * as ONE SQL statement. Setup commits the quartile-banded snapshot
    * (per-file `o_orderkey` stats) straight at the catalog table's
    * root — the path API and the catalog address the same storage —
    * then `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` runs through
    * [[graft.plans.GraftMergeStrategy]] onto
    * [[graft.sources.VersionedTable.mergeTargeted]]. Graded rows are
    * the twin's pre/post-merge rollups PLUS the carried-verbatim-files
    * witness: every band the update batch cannot touch (file key-range
    * above the first quartile, at or below the old max) must appear in
    * the post-merge manifest with the SAME path — the SQL path keeps
    * the partial-copy-on-write, it does not degrade to a table
    * rewrite. */
  def catalogMergeSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val cat = catalogFor(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dml")
    val run = vtableRun.incrementAndGet()
    val t = s"orders_msql$run"
    val root = s"${Tables.sinkPath("catalogwh", dir, "wh")}/dml/$t"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val mx = o.agg(max($"o_orderkey")).head.getLong(0)
    val (q1, q2, q3) = (mx / 4, mx / 2, 3 * mx / 4)
    VersionedTable.commit(o.filter($"o_orderkey" <= q1), root,
      statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q1 &&
      $"o_orderkey" <= q2), root, statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q2 &&
      $"o_orderkey" <= q3), root, statsCol = Some("o_orderkey"))
    val v4 = VersionedTable.commit(o.filter($"o_orderkey" > q3), root,
      statsCol = Some("o_orderkey"))
    o.filter($"o_orderkey" <= q1 && $"o_orderkey" % 100 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .unionByName(o.filter($"o_year" === 1998)
        .select(($"o_orderkey" + mx * 2).as("o_orderkey"),
          $"o_totalprice", $"o_year"))
      .createOrReplaceTempView(s"merge_src_$run")
    s.sql(
      s"""MERGE INTO $cat.dml.$t AS tgt USING merge_src_$run AS src
         |ON tgt.o_orderkey = src.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val v5 = VersionedTable.currentVersion(root)
    val after = VersionedTable.resolveFiles(root, v5).toSet
    val carried = VersionedTable.resolveFiles(root, v4)
      .filter(_.statsRange("o_orderkey").exists(_._1 > q1))
      .forall(after)
    Seq(v4, v5).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_orders"),
          sum(d12($"o_totalprice")).cast("double").as("revenue"))
        .select(lit(v).as("version"), $"n_orders", $"revenue",
          lit(carried).as("untouched_carried"))
    }.reduce(_.unionAll(_)).orderBy($"version")
  }

  /** SQL `DELETE FROM` by catalog name (round 15 — r14 verdict item
    * #1): the [[scanTableDelete]] twin issued as one SQL statement
    * through the DSv2 `SupportsDelete` bridge onto
    * [[graft.sources.VersionedTable.deleteWhere]] — the PREDICATE-
    * targeted partial copy-on-write. The erase leg is a key range
    * (`o_orderkey <= q1/2`, the translatable filter algebra; the
    * twin's `% 100` key-batch shape stays on the Scala API, which SQL
    * users reach for arbitrary key sets). Graded rows: pre/post-delete
    * snapshot rollups, the change-feed delete leg (deleteWhere always
    * records the sidecar), and the carried-witness — every file whose
    * key range sits above the predicate must carry verbatim. */
  def catalogDeleteSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val cat = catalogFor(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dml")
    val t = s"orders_dsql${vtableRun.incrementAndGet()}"
    val root = s"${Tables.sinkPath("catalogwh", dir, "wh")}/dml/$t"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val mx = o.agg(max($"o_orderkey")).head.getLong(0)
    val (q1, q2, q3) = (mx / 4, mx / 2, 3 * mx / 4)
    val lim = q1 / 2
    VersionedTable.commit(o.filter($"o_orderkey" <= q1), root,
      statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q1 &&
      $"o_orderkey" <= q2), root, statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > q2 &&
      $"o_orderkey" <= q3), root, statsCol = Some("o_orderkey"))
    val v4 = VersionedTable.commit(o.filter($"o_orderkey" > q3), root,
      statsCol = Some("o_orderkey"))
    s.sql(s"DELETE FROM $cat.dml.$t WHERE o_orderkey <= $lim")
    val v5 = VersionedTable.currentVersion(root)
    val after = VersionedTable.resolveFiles(root, v5).toSet
    val carried = VersionedTable.resolveFiles(root, v4)
      .filter(_.statsRange("o_orderkey").exists(_._1 > lim))
      .forall(after)
    val rollups = Seq(v4, v5).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(d12($"o_totalprice")).cast("double").as("amount"))
        .select(lit(v).as("version"), lit("snapshot").as("leg"),
          $"n_rows", $"amount")
    }.reduce(_.unionAll(_))
    val feedLeg = VersionedTable.readChangeFeed(s, root, v4, v5)
      .filter($"_change_type" === "delete")
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
      .select(lit(v5).as("version"), lit("feed_delete").as("leg"),
        $"n_rows", $"amount")
    rollups.unionAll(feedLeg)
      .withColumn("untouched_carried", lit(carried))
      .orderBy($"version", $"leg")
  }

  /** NAMED REFS — branch/tag pointers over the version chain (round
    * 14, r13 verdict item #9, graded beyond the asked spec-level): a
    * three-commit table (one year per version) gets an immutable
    * `audit` TAG at v1 and a movable `prod` BRANCH at v2; graded legs =
    * the tag read, the branch read BEFORE promotion, the branch read
    * AFTER `advanceBranch(prod → head)` (the dev/prod promotion: one
    * atomic pointer move, zero data movement), and the head itself.
    * Ref resolution is EAGER at DataFrame construction, so the pre- and
    * post-promotion legs pin different versions inside one output.
    * Vacuum's ref-aware keep floor is spec-pinned
    * (VersionedTableRefsSpec). */
  def scanTableRefs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_refs")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    (1995 to 1997).foreach(y =>
      VersionedTable.commit(o.filter($"o_year" === y), root))
    VersionedTable.createTag(root, "audit", 1)
    VersionedTable.createBranch(root, "prod", 2)
    def leg(name: String, df: DataFrame) = df.agg(
      count(lit(1)).as("n_rows"),
      sum($"o_totalprice".cast("decimal(12,4)")).cast("double")
        .as("amount"))
      .select(lit(name).as("leg"), $"n_rows", $"amount")
    val tagLeg = leg("tag_audit", VersionedTable.readRef(s, root, "audit"))
    val preLeg = leg("branch_prod_pre",
      VersionedTable.readRef(s, root, "prod"))
    VersionedTable.advanceBranch(root, "prod", 3)
    val postLeg = leg("branch_prod_promoted",
      VersionedTable.readRef(s, root, "prod"))
    val headLeg = leg("head", VersionedTable.read(s, root))
    tagLeg.unionByName(preLeg).unionByName(postLeg).unionByName(headLeg)
      .orderBy($"leg")
  }

  /** Commit HISTORY — grades
    * [[graft.sources.VersionedTable.history]], the DESCRIBE HISTORY
    * audit surface: a six-commit lifecycle (two appends, cdc-merge,
    * neutral optimize, deferred delete, rollback) read back as the
    * operation log, each row joined with that version's LIVE row count
    * (snapshot read) so the graded output ties the log to data the
    * oracle derives from the raw table — not a literal transcript. */
  def scanTableHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_hist")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    VersionedTable.commit(o.filter($"o_year" === 1995), root)
    VersionedTable.commit(o.filter($"o_year" === 1996), root)
    VersionedTable.merge(s, root,
      o.filter($"o_year" === 1997), "o_orderkey", cdc = true)
    VersionedTable.optimize(s, root, numFiles = 2)
    VersionedTable.deleteDeferred(s, root,
      o.filter($"o_year" === 1996 && $"o_orderkey" % 100 === 0)
        .select($"o_orderkey"), "o_orderkey")
    VersionedTable.rollback(root, 3)
    val counts = (1 to 6).map { v =>
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_live"))
        .select(lit(v).as("version"), $"n_live")
    }.reduce(_.unionAll(_))
    VersionedTable.history(s, root)
      .join(counts, Seq("version"))
      .select($"version", $"parent", $"kind", $"is_replace",
        coalesce($"rollback_of", lit(-1)).as("rollback_of"), $"n_live")
      .orderBy($"version")
  }

  /** Commit-time CONSTRAINTS — grades
    * [[graft.sources.VersionedTable.commitChecked]], the table-format
    * admission gate (the Delta CHECK/NOT-NULL role): a clean 1995
    * batch commits under `o_totalprice > 0 AND o_orderkey IS NOT
    * NULL`; a 1996 batch with every key ≡ 0 mod 100 price-negated is
    * REJECTED (nothing published — the table still reads as v1, the
    * witness), and the rejection's violation count is part of the
    * graded rows; the repaired 1996 batch (violators filtered out)
    * then commits. Every leg derivable from the raw table. */
  def scanTableConstraints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_chk")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val rules = Seq("o_totalprice > 0", "o_orderkey IS NOT NULL")
    val v1 = VersionedTable.commitChecked(
      o.filter($"o_year" === 1995), root, rules)
    val hit = $"o_orderkey" % 100 === 0
    val poison = o.filter($"o_year" === 1996)
      .withColumn("o_totalprice",
        when(hit, -$"o_totalprice").otherwise($"o_totalprice"))
    val violRe = "(\\d+) row\\(s\\) violate".r
    val rejected =
      try { VersionedTable.commitChecked(poison, root, rules); 0L }
      catch {
        case e: IllegalArgumentException =>
          violRe.findFirstMatchIn(e.getMessage)
            .map(_.group(1).toLong).getOrElse(-1L)
      }
    val unchanged = VersionedTable.currentVersion(root) == v1
    VersionedTable.commitChecked(poison.filter(!hit), root, rules)
    VersionedTable.read(s, root)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
      .select($"o_year", $"n_rows", $"amount",
        lit(rejected).as("n_rejected"),
        lit(unchanged).as("rejection_published_nothing"))
      .orderBy($"o_year")
  }

  /** Checkpointed change-feed CONSUMPTION — grades
    * [[graft.sources.ChangeFeedConsumer]], the crash-safe incremental
    * pump: two polls against a growing history (append; then append +
    * cdc-merge), each serving exactly the commits since the consumer's
    * checkpointed offset. Graded rows: per poll, the served range and
    * the change-row count + exact decimal change amount — each poll's
    * content independently derivable from the raw table (poll 1 =
    * 1995–1996 inserts; poll 2 = 1997 inserts + the merge's pre/post
    * images and 1998 inserts). The offset-file atomicity / redelivery
    * contract is spec-tested beside it. */
  def scanCdcConsume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{ChangeFeedConsumer, VersionedTable}
    val root = vtableRoot(dir, "orders_cons")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"${root}_ckpt"))
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val polls = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def handler(feed: DataFrame, from: Int, to: Int): Unit =
      polls += feed.agg(count(lit(1)).as("n_changes"),
          sum(d12($"o_totalprice")).cast("double").as("amount"))
        .select(lit(polls.size + 1).as("poll"), lit(from).as("from_v"),
          lit(to).as("to_v"), $"n_changes", $"amount")
    VersionedTable.commit(o.filter($"o_year".between(1995, 1996)), root)
    ChangeFeedConsumer.drain(s, root, s"${root}_ckpt")(handler)
    VersionedTable.commit(o.filter($"o_year" === 1997), root)
    val updates = o
      .filter($"o_year".between(1995, 1996) && $"o_orderkey" % 100 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .unionByName(o.filter($"o_year" === 1998))
    VersionedTable.merge(s, root, updates, "o_orderkey", cdc = true)
    ChangeFeedConsumer.drain(s, root, s"${root}_ckpt")(handler)
    polls.reduce(_.unionAll(_)).orderBy($"poll")
  }

  /** Range-CLUSTERED compaction — grades `optimize(clusterBy=...)`:
    * ingest-order files each span ~the whole key space (witnessed:
    * a key-band read can skip NOTHING before clustering), then a
    * clustered OPTIMIZE range-partitions + sorts the table on the key
    * so each rewritten file covers a narrow band and the SAME read
    * provably skips files (witnessed: scanned < total). The graded
    * rollup (band count + exact decimal amount) must be identical on
    * both layouts — clustering is row-neutral. This is the
    * liquid-clustering/ZORDER role: the maintenance op that makes
    * stats-based skipping and the targeted merge/delete bite after
    * streaming ingest scrambled the keys. */
  def scanTableCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_clu")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice")
    val mx = o.agg(max($"o_orderkey")).head.getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    // ingest layout: 8 round-robin files — every file spans the range
    val v1 = VersionedTable.commit(o.repartition(8), root,
      statsCol = Some("o_orderkey"))
    val (r1, scanned1, total1) = VersionedTable.readPruned(s, root,
      lo.toDouble, hi.toDouble, Some(v1))
    val v2 = VersionedTable.optimize(s, root, numFiles = 8,
      clusterBy = Some("o_orderkey"))
    val (r2, scanned2, total2) = VersionedTable.readPruned(s, root,
      lo.toDouble, hi.toDouble, Some(v2))
    def leg(step: Int, name: String, df: DataFrame, witness: Boolean) =
      df.filter($"o_orderkey".between(lo, hi))
        .agg(count(lit(1)).as("n_rows"),
          sum(d12($"o_totalprice")).cast("double").as("amount"))
        .select(lit(step).as("step"), lit(name).as("leg"),
          $"n_rows", $"amount", lit(witness).as("skip_witness"))
    leg(1, "ingest", r1, scanned1 == total1)
      .unionAll(leg(2, "clustered", r2, scanned2 < total2))
      .orderBy($"step")
  }

  /** MERGE-ON-READ deferred delete — grades
    * [[graft.sources.VersionedTable.deleteDeferred]], the O(batch)
    * twin of the copy-on-write delete: the delete commit writes ONLY a
    * key sidecar (witnessed: the file list is bit-identical before and
    * after — `no_rewrite`), reads apply the mask, a later re-insert of
    * the same keys is visible (the sequence rule — re-inserted at
    * doubled price so the leg is derivable), and OPTIMIZE materializes
    * the masks (witnessed: the pending-delete list empties —
    * `materialized`). Every rollup leg is independently derivable from
    * the raw table; doubling a double is exact. */
  def scanTableDeleteMor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_mor")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val v1 = VersionedTable.commit(o, root)
    val hit = $"o_orderkey" % 100 === 0
    val v2 = VersionedTable.deleteDeferred(s, root,
      o.filter(hit).select($"o_orderkey"), "o_orderkey")
    val noRewrite = VersionedTable.resolveFiles(root, v2) ==
      VersionedTable.resolveFiles(root, v1)
    val v3 = VersionedTable.commit(
      o.filter(hit).withColumn("o_totalprice", $"o_totalprice" * 2), root)
    val v4 = VersionedTable.optimize(s, root, numFiles = 2)
    val materialized = VersionedTable.resolveDeletes(root, v4).isEmpty
    def leg(step: Int, name: String, v: Int, witness: Boolean) =
      VersionedTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(d12($"o_totalprice")).cast("double").as("amount"))
        .select(lit(step).as("step"), lit(name).as("leg"),
          $"n_rows", $"amount", lit(witness).as("witness"))
    Seq(leg(1, "pre", v1, true),
      leg(2, "deleted", v2, noRewrite),
      leg(3, "reinserted", v3, true),
      leg(4, "optimized", v4, materialized))
      .reduce(_.unionAll(_)).orderBy($"step")
  }

  /** ROW-LEVEL CHANGE FEED across a mixed append + merge history — the
    * r10-verdict top gap: file-level `readChanges` degrades to a full
    * rescan the moment a REPLACE commit (backfill merge, compaction)
    * lands mid-stream, because every rewritten file looks "new".
    * History here: v1 = 1995–1996 orders (base, outside the feed
    * range), v2 = APPEND of 1997, v3 = MERGE(cdc=true) doubling every
    * key ≡ 0 (mod 100) of the base and inserting 1998.
    * `readChangeFeed(v1, v3)` then yields v2's delta files as
    * `insert` rows plus v3's O(change) sidecar (pre-image, post-image,
    * insert) — planned from manifests only, scanning no base file.
    * Graded rows: per (commit, change-type) count + exact decimal
    * amount, each leg reachable independently by the oracle from the
    * raw table. Doubling a double is exact, so the post-image sum is
    * bit-reachable. */
  def scanCdcMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_cdc")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val v1 = VersionedTable.commit(o.filter($"o_year".between(1995, 1996)),
      root)
    VersionedTable.commit(o.filter($"o_year" === 1997), root)
    val updates = o
      .filter($"o_year".between(1995, 1996) && $"o_orderkey" % 100 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .unionByName(o.filter($"o_year" === 1998))
    val v3 = VersionedTable.merge(s, root, updates, "o_orderkey",
      numFiles = 2, cdc = true)
    VersionedTable.readChangeFeed(s, root, v1, v3)
      .groupBy($"_commit_version", $"_change_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(d12($"o_totalprice")).cast("double").as("amount"))
      .orderBy($"_commit_version", $"_change_type")
  }

  /** Incremental AGGREGATE maintenance ACROSS A MERGE via the row-level
    * change feed — the update-capable capstone [[scanIncrAgg]] can't
    * reach: append-only delta folding breaks the moment a merge lands
    * (rewritten files make every row look new), but count/sum are
    * ABELIAN-GROUP aggregates, so the feed's signed fold —
    * post-image/insert rows add, pre-image rows SUBTRACT — maintains
    * the aggregate exactly across updates. The year-grain revenue
    * rollup is built once from v1, then ONE feed read over
    * (v1, v3] (v2 append + v3 cdc-merge) folds both commits in:
    * maintained ≡ full recompute, which is exactly what the oracle
    * grades, in exact decimal arithmetic (doubling and sums are exact,
    * so the equality is bit-level, not approximate). At 100 TB this is
    * the materialized-view maintenance loop: O(change) per refresh,
    * base files never re-read, merges included. */
  def scanCdcAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_cdcagg")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val v1 = VersionedTable.commit(o.filter($"o_year".between(1995, 1996)),
      root)
    VersionedTable.commit(o.filter($"o_year" === 1997), root) // v2 append
    val updates = o
      .filter($"o_year".between(1995, 1996) && $"o_orderkey" % 100 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .unionByName(o.filter($"o_year" === 1998))
    val v3 = VersionedTable.merge(s, root, updates, "o_orderkey",
      numFiles = 2, cdc = true)
    val base = VersionedTable.read(s, root, Some(v1))
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n0"), sum(d12($"o_totalprice")).as("rev0"))
    val fold = VersionedTable.readChangeFeed(s, root, v1, v3)
      .withColumn("sgn",
        when($"_change_type" === "update_preimage", lit(-1)).otherwise(lit(1)))
      .groupBy($"o_year")
      .agg(sum($"sgn").cast("long").as("dn"),
        sum(d12($"o_totalprice") * $"sgn").as("drev"))
    base.as("a").join(fold.as("b"), Seq("o_year"), "full_outer")
      .select($"o_year".cast("long").as("o_year"),
        (coalesce($"n0", lit(0L)) + coalesce($"dn", lit(0L))).as("n_orders"),
        (coalesce($"rev0", expr("CAST(0 AS DECIMAL(22,4))")) +
          coalesce($"drev", expr("CAST(0 AS DECIMAL(22,4))")))
          .cast("double").as("revenue"))
      .orderBy($"o_year")
  }

  /** Incremental AGGREGATE maintenance over the versioned table's CDC
    * reads — the capstone of the table layer and the real 100-TB use
    * of `readChanges`: a year-grain revenue aggregate is built ONCE
    * from v1, then v2's append is folded in by aggregating ONLY the
    * delta files and merging by key (count/sum are mergeable, so
    * delta-agg + full-outer combine ≡ full recompute — which is
    * exactly what the oracle grades). The v2 maintenance step never
    * touches v1's files: its cost is O(change), not O(table). */
  def scanIncrAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_ia")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    val v1 = VersionedTable.commit(o.filter($"o_year".between(1995, 1996)),
      root)
    val v2 = VersionedTable.commit(o.filter($"o_year".between(1997, 1998)),
      root)
    def agg(df: DataFrame) = df.groupBy($"o_year")
      .agg(count(lit(1)).as("n_orders"),
        sum(d12($"o_totalprice")).as("rev_d"))
    val base = agg(VersionedTable.read(s, root, Some(v1)))
    val delta = agg(VersionedTable.readChanges(s, root, v1, v2))
    base.as("a").join(delta.as("b"), Seq("o_year"), "full_outer")
      .select($"o_year",
        (coalesce($"a.n_orders", lit(0L)) +
          coalesce($"b.n_orders", lit(0L))).as("n_orders"),
        (coalesce($"a.rev_d", expr("CAST(0 AS DECIMAL(22,4))")) +
          coalesce($"b.rev_d", expr("CAST(0 AS DECIMAL(22,4))")))
          .cast("double").as("revenue"))
      .orderBy($"o_year")
  }

  /** SCHEMA EVOLUTION on the versioned table: v1 commits the narrow
    * (key, price) order book; v2 appends 1997 WITH a new `o_year`
    * column. A latest read under `mergeSchema` widens the union —
    * pre-evolution rows surface NULL for the new column (additive
    * evolution, the only kind that needs no rewrite), and time travel
    * to v1 still reads the narrow schema. The graded rollup groups by
    * the evolved column with its NULL cohort — exactly the frame a
    * consumer sees mid-migration. Parquet is self-describing
    * per-file, so evolution costs nothing at commit time and
    * mergeSchema's footer union at read time — O(files), not
    * O(rows). */
  def scanTableEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_ev")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    VersionedTable.commit(
      o.filter($"o_year".between(1995, 1996)).drop("o_year"), root)
    val v2 = VersionedTable.commit(o.filter($"o_year" === 1997), root)
    VersionedTable.read(s, root, Some(v2), mergeSchema = true)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_orders"),
        sum(d12($"o_totalprice")).cast("double").as("revenue"))
      .orderBy($"o_year".asc_nulls_first)
  }

  /** OPTIMISTIC CONCURRENCY on the versioned table — the multi-writer
    * day-one scenario every real pipeline hits: two committers race
    * appends against the same base snapshot; the loser's atomic
    * CREATE-NEW publish collides, auto-rebases onto the winner's head
    * (its data dir is commit-unique, so the file sets are disjoint) and
    * lands as the next version. Both threads' rows must survive —
    * serializable append semantics with no lock and no lost update.
    * Which thread gets v2 vs v3 is scheduling-dependent, but the graded
    * SNAPSHOT CONTENT is not: the final version is always 3 and the
    * head rollup is base ∪ both appends (append commits commute). The
    * deterministic forced-collision path (and the replace-commit abort)
    * is pinned in InfraSpec via the onBeforePublish seam.
    *
    * Second leg (round 13 — disjointness-aware OCC): two concurrent
    * TARGETED DELETES on provably disjoint key halves of a
    * stats-banded table. Under the old abort-on-any-moved-head rule
    * the loser would throw; with the rebase rule both land (each
    * one's rewrite files stay present in the winner's head and the
    * winner's new files' key stats are clear of the loser's keys) —
    * concurrent table maintenance, serializable content: the final
    * snapshot equals "both deletes applied" regardless of order, and
    * the version counter witnesses two landed replace commits. */
  def scanConcurrentCommit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_cc")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
    VersionedTable.commit(o.filter($"o_year" === 1995), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(1996, 1997).map { y =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            VersionedTable.commit(o.filter($"o_year" === y), root)
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    val appendLeg = VersionedTable.read(s, root)
      .agg(count(lit(1)).as("n_orders"),
        sum(d12($"o_totalprice")).cast("double").as("revenue"))
      .select(lit("append_race").as("leg"),
        lit(VersionedTable.currentVersion(root)).as("n_versions"),
        $"n_orders", $"revenue")
    // ---- disjoint targeted-delete race on a second, banded table ----
    val root2 = s"${root}_tgt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
    val mx = o.agg(max($"o_orderkey")).head.getLong(0)
    val mid = mx / 2
    VersionedTable.commit(o.filter($"o_orderkey" <= mid), root2,
      statsCol = Some("o_orderkey"))
    VersionedTable.commit(o.filter($"o_orderkey" > mid), root2,
      statsCol = Some("o_orderkey"))
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(($"o_orderkey" <= mid), ($"o_orderkey" > mid)).map { p =>
        pool2.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = VersionedTable.delete(s, root2,
            o.filter(p && $"o_orderkey" % 100 === 0)
              .select($"o_orderkey"), "o_orderkey")
        })
      }
      fs.foreach(_.get())
    } finally pool2.shutdown()
    val disjointLeg = VersionedTable.read(s, root2)
      .agg(count(lit(1)).as("n_orders"),
        sum(d12($"o_totalprice")).cast("double").as("revenue"))
      .select(lit("disjoint_delete_race").as("leg"),
        lit(VersionedTable.currentVersion(root2)).as("n_versions"),
        $"n_orders", $"revenue")
    appendLeg.unionAll(disjointLeg).orderBy($"leg")
  }

  /** PARTITION PRUNING on the versioned table — the layer real formats
    * put ABOVE stats-based file skipping: `commitPartitioned` lays the
    * 1996–1999 order book out in hive-style `__p_o_year=Y` directories
    * and records each file's partition tuple in its manifest entry; a
    * read for two of the four years prunes on the TUPLE (O(manifest)
    * driver work) before Spark's file index ever lists a path, and the
    * kept files still get row-group pushdown below. The graded row
    * carries the (scanned, total) file counts as the prune witness
    * beside the rollup. The repartition BY the partition column before
    * the write gives one file per partition dir (the small-files
    * discipline q_part_roundtrip documents), so the witness is exactly
    * (2, 4). */
  def scanPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.VersionedTable
    val root = vtableRoot(dir, "orders_pp")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").as("o_year"))
      .filter($"o_year".between(1996, 1999))
    VersionedTable.commitPartitioned(o.repartition($"o_year"), root,
      partCols = Seq("o_year"))
    val (pruned, scanned, total) =
      VersionedTable.readPrunedPartitions(s, root)(p =>
        Set("1997", "1998").contains(p("o_year")))
    pruned
      .agg(count(lit(1)).as("n_orders"),
        sum(d12($"o_totalprice")).cast("double").as("revenue"))
      .select(lit(scanned).as("n_files_scanned"),
        lit(total).as("n_files_total"), $"n_orders", $"revenue")
  }

  val queries: Map[String, Q] = Map(
    "q_scan_concurrent_commit" -> (scanConcurrentCommit _),
    "q_scan_partition_prune" -> (scanPartitionPrune _),
    "q_scan_table_evolution" -> (scanTableEvolution _),
    "q_scan_incr_agg" -> (scanIncrAgg _),
    "q_scan_cdc_agg" -> (scanCdcAgg _),
    "q_scan_table_merge" -> (scanTableMerge _),
    "q_scan_table_merge_targeted" -> (scanTableMergeTargeted _),
    "q_scan_table_delete" -> (scanTableDelete _),
    "q_scan_table_delete_mor" -> (scanTableDeleteMor _),
    "q_scan_table_cluster" -> (scanTableCluster _),
    "q_scan_cdc_consume" -> (scanCdcConsume _),
    "q_scan_table_constraints" -> (scanTableConstraints _),
    "q_scan_table_history" -> (scanTableHistory _),
    "q_scan_table_sql" -> (scanTableSql _),
    "q_scan_catalog_sql" -> (scanCatalogSql _),
    "q_catalog_merge_sql" -> (catalogMergeSql _),
    "q_catalog_delete_sql" -> (catalogDeleteSql _),
    "q_scan_table_refs" -> (scanTableRefs _),
    "q_scan_table_clone" -> (scanTableClone _),
    "q_scan_table_rename" -> (scanTableRename _),
    "q_scan_table_widen" -> (scanTableWiden _),
    "q_scan_table_drop" -> (scanTableDrop _),
    "q_scan_stats_multicol" -> (scanStatsMulticol _),
    "q_part_overwrite" -> (scanPartOverwrite _),
    "q_scan_cdc_merge" -> (scanCdcMerge _),
    "q_scan_table_optimize" -> (scanTableOptimize _),
    "q_scan_file_skipping" -> (scanFileSkipping _),
    "q_scan_table_rollback" -> (scanTableRollback _),
    "q_scan_timetravel" -> (scanTimetravel _),
    "q_scan_observed" -> (scanObserved _),
    "q_scan_agg_pushdown" -> (scanAggPushdown _),
    "q_source_generated" -> (sourceGenerated _),
    "q_part_roundtrip" -> (partitionedRoundtrip _),
    "q_source_csv_roundtrip" -> (csvRoundtrip _),
    "q_source_orc_roundtrip" -> (orcRoundtrip _),
    "q_source_avro_roundtrip" -> (avroRoundtrip _),
    "q_scan_dpp" -> (dppPruning _),
    "q_sink_compact" -> (sinkCompact _),
    "q_layout_zorder" -> (layoutZorder _),
    "q_source_schema_evolution" -> (schemaEvolution _),
    "q_scan_project" -> (scanProject _),
    "q_scan_prune_pushdown" -> (scanPrunePushdown _),
    "q_source_json_col" -> (sourceJsonCol _),
    "q_filter_compound" -> (filterCompound _),
    "q_project_case" -> (projectCase _),
    "q_filter_null_semantics" -> (filterNullSemantics _)
  )

  val oracle: Map[String, String] = Map(
    "q_scan_concurrent_commit" ->
      """SELECT 'append_race' AS leg, 3 AS n_versions,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1995 AND 1997
        |UNION ALL
        |SELECT 'disjoint_delete_race', 4,
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |FROM orders
        |WHERE o_orderkey % 100 <> 0
        |ORDER BY leg""".stripMargin,
    "q_scan_partition_prune" ->
      """SELECT 2 AS n_files_scanned, 4 AS n_files_total,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1997 AND 1998""".stripMargin,
    "q_scan_table_evolution" ->
      """SELECT CASE WHEN year(o_orderdate) = 1997
        |    THEN CAST(year(o_orderdate) AS INTEGER) END AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1995 AND 1997
        |GROUP BY 1 ORDER BY o_year NULLS FIRST""".stripMargin,
    "q_scan_incr_agg" ->
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1995 AND 1998
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q_scan_table_merge" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders),
        |r AS (
        |  SELECT 1 AS version,
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1996) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1996) AS rev
        |  UNION ALL
        |  SELECT 2,
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997)
        |    + (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |       FROM b WHERE y BETWEEN 1995 AND 1996
        |         AND o_orderkey % 100 = 0))
        |SELECT version, CAST(n AS BIGINT) AS n_orders,
        |  CAST(rev AS DOUBLE) AS revenue
        |FROM r ORDER BY version""".stripMargin,
    "q_catalog_merge_sql" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders),
        |t AS (SELECT MAX(o_orderkey) AS mx FROM b),
        |r AS (
        |  SELECT 4 AS version,
        |    (SELECT COUNT(*) FROM b) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b) AS rev
        |  UNION ALL
        |  SELECT 5,
        |    (SELECT COUNT(*) FROM b)
        |      + (SELECT COUNT(*) FROM b WHERE y = 1998),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b)
        |    + (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |       FROM b, t WHERE o_orderkey <= mx // 4
        |         AND o_orderkey % 100 = 0)
        |    + (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |       FROM b WHERE y = 1998))
        |SELECT version, CAST(n AS BIGINT) AS n_orders,
        |  CAST(rev AS DOUBLE) AS revenue, TRUE AS untouched_carried
        |FROM r ORDER BY version""".stripMargin,
    "q_catalog_delete_sql" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |t AS (SELECT (MAX(o_orderkey) // 4) // 2 AS lim FROM b),
        |d AS (SELECT o_orderkey, o_totalprice FROM b, t
        |  WHERE o_orderkey <= lim),
        |r AS (
        |  SELECT 4 AS version, 'snapshot' AS leg,
        |    (SELECT COUNT(*) FROM b) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b) AS amt
        |  UNION ALL
        |  SELECT 5, 'feed_delete',
        |    (SELECT COUNT(*) FROM d),
        |    (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |     FROM d)
        |  UNION ALL
        |  SELECT 5, 'snapshot',
        |    (SELECT COUNT(*) FROM b) - (SELECT COUNT(*) FROM d),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b)
        |    - (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |       FROM d))
        |SELECT version, leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount, TRUE AS untouched_carried
        |FROM r ORDER BY version, leg""".stripMargin,
    "q_scan_table_merge_targeted" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders),
        |t AS (SELECT MAX(o_orderkey) AS mx FROM b),
        |r AS (
        |  SELECT 4 AS version,
        |    (SELECT COUNT(*) FROM b) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b) AS rev
        |  UNION ALL
        |  SELECT 5,
        |    (SELECT COUNT(*) FROM b)
        |      + (SELECT COUNT(*) FROM b WHERE y = 1998),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b)
        |    + (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |       FROM b, t WHERE o_orderkey <= mx // 4
        |         AND o_orderkey % 100 = 0)
        |    + (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |       FROM b WHERE y = 1998))
        |SELECT version, CAST(n AS BIGINT) AS n_orders,
        |  CAST(rev AS DOUBLE) AS revenue
        |FROM r ORDER BY version""".stripMargin,
    "q_scan_table_clone" ->
      """WITH b AS (
        |  SELECT o_totalprice, year(o_orderdate) AS y FROM orders),
        |r AS (
        |  SELECT 'clone_after_append' AS leg,
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1998) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1998) AS amt
        |  UNION ALL
        |  SELECT 'source',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997))
        |SELECT leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount, TRUE AS zero_copy
        |FROM r ORDER BY leg""".stripMargin,
    "q_scan_table_rename" ->
      """WITH b AS (
        |  SELECT o_totalprice, year(o_orderdate) AS y FROM orders),
        |r AS (
        |  SELECT 'feed_across_rename' AS leg,
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1998) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1998) AS amt
        |  UNION ALL
        |  SELECT 'head_renamed',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1998),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1998)
        |  UNION ALL
        |  SELECT 'pre_rename_v2',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997))
        |SELECT leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount, TRUE AS rename_ok
        |FROM r ORDER BY leg""".stripMargin,
    "q_scan_stats_multicol" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS amount,
        |  3 AS carried_files, 1 AS files_scanned, 3 AS files_total
        |FROM orders
        |WHERE year(o_orderdate) IN (1995, 1997, 1998)
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q_scan_table_drop" ->
      """WITH b AS (
        |  SELECT o_totalprice, year(o_orderdate) AS y FROM orders),
        |r AS (
        |  SELECT 'feed_across_drop' AS leg,
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1998) AS n,
        |    (SELECT COUNT(*) FROM b WHERE y = 1998) AS nn,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1998) AS amt
        |  UNION ALL
        |  SELECT 'head_after_readd',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1998),
        |    (SELECT COUNT(*) FROM b WHERE y = 1998),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1998)
        |  UNION ALL
        |  SELECT 'pre_drop_v2',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997))
        |SELECT leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(nn AS BIGINT) AS n_notes,
        |  CAST(amt AS DOUBLE) AS amount, TRUE AS drop_ok
        |FROM r ORDER BY leg""".stripMargin,
    "q_scan_table_widen" ->
      """WITH b AS (
        |  SELECT o_orderkey, year(o_orderdate) AS y FROM orders
        |  WHERE year(o_orderdate) BETWEEN 1995 AND 1997)
        |SELECT CAST(y AS INTEGER) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN y <= 1996 THEN o_orderkey % 1000
        |    ELSE (o_orderkey % 1000) * 10000000 END) AS BIGINT) AS qty_sum,
        |  TRUE AS widen_ok
        |FROM b GROUP BY y ORDER BY o_year""".stripMargin,
    "q_part_overwrite" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997)
        |SELECT CAST(y AS INTEGER) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN y = 1996
        |    THEN CAST(o_totalprice * 2 AS DECIMAL(12,4))
        |    ELSE CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE)
        |    AS amount,
        |  TRUE AS untouched_carried
        |FROM b GROUP BY y ORDER BY o_year""".stripMargin,
    "q_scan_table_sql" ->
      """WITH b AS (
        |  SELECT o_totalprice, year(o_orderdate) AS y FROM orders),
        |r AS (
        |  SELECT 'changes_1_2' AS leg,
        |    (SELECT COUNT(*) FROM b WHERE y = 1997) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y = 1997) AS amt
        |  UNION ALL
        |  SELECT 'head',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997)
        |  UNION ALL
        |  SELECT 'time_travel_v1',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1996),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1996))
        |SELECT leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount
        |FROM r ORDER BY leg""".stripMargin,
    "q_scan_catalog_sql" ->
      """WITH b AS (
        |  SELECT o_totalprice, year(o_orderdate) AS y FROM orders),
        |r AS (
        |  SELECT 'head' AS leg,
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997) AS amt
        |  UNION ALL
        |  SELECT 'pushdown_1997',
        |    (SELECT COUNT(*) FROM b WHERE y = 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y = 1997)
        |  UNION ALL
        |  SELECT 'time_travel_v2',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1996),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1996))
        |SELECT leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount
        |FROM r ORDER BY leg""".stripMargin,
    "q_scan_table_refs" ->
      """WITH b AS (
        |  SELECT o_totalprice, year(o_orderdate) AS y FROM orders),
        |r AS (
        |  SELECT 'tag_audit' AS leg,
        |    (SELECT COUNT(*) FROM b WHERE y = 1995) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y = 1995) AS amt
        |  UNION ALL
        |  SELECT 'branch_prod_pre',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1996),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1996)
        |  UNION ALL
        |  SELECT 'branch_prod_promoted',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997)
        |  UNION ALL
        |  SELECT 'head',
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1997),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1997))
        |SELECT leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount
        |FROM r ORDER BY leg""".stripMargin,
    "q_scan_table_history" ->
      """WITH b AS (
        |  SELECT o_orderkey, year(o_orderdate) AS y FROM orders),
        |c AS (SELECT
        |  (SELECT COUNT(*) FROM b WHERE y = 1995) AS n95,
        |  (SELECT COUNT(*) FROM b WHERE y = 1996) AS n96,
        |  (SELECT COUNT(*) FROM b WHERE y = 1997) AS n97,
        |  (SELECT COUNT(*) FROM b
        |     WHERE y = 1996 AND o_orderkey % 100 = 0) AS nhit)
        |SELECT CAST(version AS INTEGER) AS version,
        |  CAST(parent AS INTEGER) AS parent, kind, is_replace,
        |  CAST(rollback_of AS INTEGER) AS rollback_of,
        |  CAST(n_live AS BIGINT) AS n_live
        |FROM (
        |  SELECT 1 AS version, 0 AS parent, 'append' AS kind,
        |    FALSE AS is_replace, -1 AS rollback_of,
        |    (SELECT n95 FROM c) AS n_live
        |  UNION ALL SELECT 2, 1, 'append', FALSE, -1,
        |    (SELECT n95 + n96 FROM c)
        |  UNION ALL SELECT 3, 2, 'merge', TRUE, -1,
        |    (SELECT n95 + n96 + n97 FROM c)
        |  UNION ALL SELECT 4, 3, 'neutral', TRUE, -1,
        |    (SELECT n95 + n96 + n97 FROM c)
        |  UNION ALL SELECT 5, 4, 'eqdelete', FALSE, -1,
        |    (SELECT n95 + n96 + n97 - nhit FROM c)
        |  UNION ALL SELECT 6, 5, 'rollback', TRUE, 3,
        |    (SELECT n95 + n96 + n97 FROM c))
        |ORDER BY version""".stripMargin,
    "q_scan_table_constraints" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders),
        |rej AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b
        |  WHERE y = 1996 AND o_orderkey % 100 = 0),
        |r AS (
        |  SELECT 1995 AS y2,
        |    (SELECT COUNT(*) FROM b WHERE y = 1995) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y = 1995) AS amt
        |  UNION ALL
        |  SELECT 1996,
        |    (SELECT COUNT(*) FROM b
        |       WHERE y = 1996 AND o_orderkey % 100 <> 0),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y = 1996 AND o_orderkey % 100 <> 0))
        |SELECT CAST(y2 AS INTEGER) AS o_year,
        |  CAST(n AS BIGINT) AS n_rows, CAST(amt AS DOUBLE) AS amount,
        |  (SELECT n FROM rej) AS n_rejected,
        |  TRUE AS rejection_published_nothing
        |FROM r ORDER BY o_year""".stripMargin,
    "q_scan_cdc_consume" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders),
        |m AS (SELECT o_totalprice FROM b
        |  WHERE y BETWEEN 1995 AND 1996 AND o_orderkey % 100 = 0),
        |r AS (
        |  SELECT 1 AS poll, 0 AS from_v, 1 AS to_v,
        |    (SELECT COUNT(*) FROM b WHERE y BETWEEN 1995 AND 1996) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y BETWEEN 1995 AND 1996) AS amt
        |  UNION ALL
        |  SELECT 2, 1, 3,
        |    (SELECT COUNT(*) FROM b WHERE y = 1997)
        |      + 2 * (SELECT COUNT(*) FROM m)
        |      + (SELECT COUNT(*) FROM b WHERE y = 1998),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y = 1997)
        |    + 3 * (SELECT COALESCE(SUM(CAST(o_totalprice AS
        |        DECIMAL(12,4))), 0) FROM m)
        |    + (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b
        |       WHERE y = 1998))
        |SELECT poll, from_v, to_v, CAST(n AS BIGINT) AS n_changes,
        |  CAST(amt AS DOUBLE) AS amount
        |FROM r ORDER BY poll""".stripMargin,
    "q_scan_table_cluster" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |t AS (SELECT MAX(o_orderkey) AS mx FROM b),
        |band AS (SELECT o_totalprice FROM b, t
        |  WHERE o_orderkey BETWEEN mx // 4 AND mx // 2),
        |r AS (
        |  SELECT 1 AS step, 'ingest' AS leg,
        |    (SELECT COUNT(*) FROM band) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM band)
        |      AS amt
        |  UNION ALL
        |  SELECT 2, 'clustered',
        |    (SELECT COUNT(*) FROM band),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM band))
        |SELECT step, leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount, TRUE AS skip_witness
        |FROM r ORDER BY step""".stripMargin,
    "q_scan_table_delete_mor" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |d AS (SELECT o_orderkey, o_totalprice FROM b
        |  WHERE o_orderkey % 100 = 0),
        |tot AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS amt FROM b),
        |del AS (SELECT COUNT(*) AS n,
        |    COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0) AS amt
        |  FROM d),
        |r AS (
        |  SELECT 1 AS step, 'pre' AS leg,
        |    (SELECT n FROM tot) AS n, (SELECT amt FROM tot) AS amt
        |  UNION ALL
        |  SELECT 2, 'deleted',
        |    (SELECT n FROM tot) - (SELECT n FROM del),
        |    (SELECT amt FROM tot) - (SELECT amt FROM del)
        |  UNION ALL
        |  SELECT 3, 'reinserted',
        |    (SELECT n FROM tot),
        |    (SELECT amt FROM tot) + (SELECT amt FROM del)
        |  UNION ALL
        |  SELECT 4, 'optimized',
        |    (SELECT n FROM tot),
        |    (SELECT amt FROM tot) + (SELECT amt FROM del))
        |SELECT step, leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount, TRUE AS witness
        |FROM r ORDER BY step""".stripMargin,
    "q_scan_table_delete" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |t AS (SELECT MAX(o_orderkey) AS mx FROM b),
        |d AS (SELECT o_orderkey, o_totalprice FROM b, t
        |  WHERE o_orderkey <= mx // 4 AND o_orderkey % 100 = 0),
        |r AS (
        |  SELECT 4 AS version, 'snapshot' AS leg,
        |    (SELECT COUNT(*) FROM b) AS n,
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b) AS amt
        |  UNION ALL
        |  SELECT 5, 'feed_delete',
        |    (SELECT COUNT(*) FROM d),
        |    (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |     FROM d)
        |  UNION ALL
        |  SELECT 5, 'snapshot',
        |    (SELECT COUNT(*) FROM b) - (SELECT COUNT(*) FROM d),
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,4))) FROM b)
        |    - (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 0)
        |       FROM d))
        |SELECT version, leg, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount
        |FROM r ORDER BY version, leg""".stripMargin,
    "q_scan_cdc_agg" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders),
        |f AS (
        |  SELECT y AS o_year,
        |    CASE WHEN y BETWEEN 1995 AND 1996 AND o_orderkey % 100 = 0
        |      THEN CAST(o_totalprice * 2 AS DECIMAL(12,4))
        |      ELSE CAST(o_totalprice AS DECIMAL(12,4)) END AS price
        |  FROM b WHERE y BETWEEN 1995 AND 1998)
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(price) AS DOUBLE) AS revenue
        |FROM f GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_scan_cdc_merge" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS y
        |  FROM orders),
        |r AS (
        |  SELECT 2 AS _commit_version, 'insert' AS _change_type,
        |    COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS amt
        |  FROM b WHERE y = 1997
        |  UNION ALL
        |  SELECT 3, 'insert', COUNT(*),
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4)))
        |  FROM b WHERE y = 1998
        |  UNION ALL
        |  SELECT 3, 'update_preimage', COUNT(*),
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4)))
        |  FROM b WHERE y BETWEEN 1995 AND 1996 AND o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 3, 'update_postimage', COUNT(*),
        |    SUM(CAST(o_totalprice * 2 AS DECIMAL(12,4)))
        |  FROM b WHERE y BETWEEN 1995 AND 1996 AND o_orderkey % 100 = 0)
        |SELECT _commit_version, _change_type, CAST(n AS BIGINT) AS n_rows,
        |  CAST(amt AS DOUBLE) AS amount
        |FROM r ORDER BY _commit_version, _change_type""".stripMargin,
    "q_scan_table_optimize" ->
      """SELECT v.version, v.n_files,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders, (VALUES (3, 12), (4, 1)) AS v(version, n_files)
        |WHERE year(o_orderdate) BETWEEN 1995 AND 1997
        |GROUP BY v.version, v.n_files ORDER BY v.version""".stripMargin,
    "q_scan_file_skipping" ->
      """SELECT 2 AS n_files_scanned, 4 AS n_files_total,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1997 AND 1998""".stripMargin,
    "q_scan_table_rollback" ->
      """SELECT v.version, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders, (VALUES (0, 1997, 1997), (1, 0, 1996),
        |  (2, 0, 1997), (3, 0, 1996)) AS v(version, miny, maxy)
        |WHERE year(o_orderdate) BETWEEN v.miny AND v.maxy
        |GROUP BY v.version ORDER BY v.version""".stripMargin,
    "q_scan_timetravel" ->
      """SELECT v.version, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS revenue
        |FROM orders, (VALUES (1, 1996), (2, 1997)) AS v(version, maxy)
        |WHERE year(o_orderdate) <= v.maxy
        |GROUP BY v.version ORDER BY v.version""".stripMargin,
    "q_scan_observed" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hi_discount,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem""".stripMargin,
    "q_scan_agg_pushdown" ->
      """SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_orderkey,
        |  MAX(l_orderkey) AS max_orderkey
        |FROM lineitem""".stripMargin,
    "q_source_generated" ->
      """WITH ids AS (SELECT UNNEST(range(5000, 20000)) AS id),
        |h AS (
        |  SELECT id, CAST(('0x' || substr(md5('42:' || CAST(id AS VARCHAR)),
        |    1, 15)) AS BIGINT) AS h
        |  FROM ids),
        |e AS (
        |  SELECT id, h % 500 AS user_id,
        |    (['click','error','purchase','signup','view'])
        |      [CAST((h // 500) % 5 AS INT) + 1] AS event_type,
        |    CAST(h % 1000000 AS DOUBLE) / 100.0 AS value
        |  FROM h)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_source_schema_evolution" ->
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  THEN '<legacy>' ELSE o_orderpriority END AS priority,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS spend
        |FROM orders GROUP BY priority ORDER BY priority""".stripMargin,
    "q_source_orc_roundtrip" ->
      """SELECT p_partkey, p_brand, p_size, p_retailprice
        |FROM part WHERE p_size < 15 ORDER BY p_partkey""".stripMargin,
    "q_source_csv_roundtrip" ->
      """SELECT p_partkey, p_name, p_size, p_retailprice
        |FROM part WHERE p_size >= 20 ORDER BY p_partkey""".stripMargin,
    "q_source_avro_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier WHERE s_acctbal > 0 ORDER BY s_suppkey""".stripMargin,
    "q_scan_dpp" ->
      """WITH fact AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, value
        |  FROM events),
        |dim AS (
        |  SELECT DISTINCT event_date FROM fact
        |  WHERE date_part('day', event_date) BETWEEN 10 AND 16)
        |SELECT f.event_date, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM fact f JOIN dim USING (event_date)
        |GROUP BY f.event_date ORDER BY event_date""".stripMargin,
    "q_sink_compact" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_layout_zorder" ->
      """WITH base AS (
        |  SELECT user_id % 1024 AS a,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 1024 AS b
        |  FROM events),
        |s1 AS (SELECT a, b,
        |  (a | (a << 8)) & 16711935 AS ax,
        |  (b | (b << 8)) & 16711935 AS bx FROM base),
        |s2 AS (SELECT a, b,
        |  (ax | (ax << 4)) & 252645135 AS ax,
        |  (bx | (bx << 4)) & 252645135 AS bx FROM s1),
        |s3 AS (SELECT a, b,
        |  (ax | (ax << 2)) & 858993459 AS ax,
        |  (bx | (bx << 2)) & 858993459 AS bx FROM s2),
        |s4 AS (SELECT a, b,
        |  (ax | (ax << 1)) & 1431655765 AS ax,
        |  (bx | (bx << 1)) & 1431655765 AS bx FROM s3),
        |zt AS (SELECT a, b, ax | (bx << 1) AS z FROM s4)
        |SELECT CAST(z // 16384 AS BIGINT) AS file_id,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(a) AS BIGINT) AS min_a, CAST(MAX(a) AS BIGINT) AS max_a,
        |  CAST(MIN(b) AS BIGINT) AS min_b, CAST(MAX(b) AS BIGINT) AS max_b,
        |  CAST(MIN(z) AS BIGINT) AS min_z, CAST(MAX(z) AS BIGINT) AS max_z
        |FROM zt GROUP BY file_id ORDER BY file_id""".stripMargin,
    "q_part_roundtrip" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS val_sum
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |  BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
        |GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q_scan_prune_pushdown" ->
      """SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY l_orderkey, ship_date""".stripMargin,
    "q_source_json_col" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_filter_compound" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
        |  AND l_returnflag IN ('A', 'R')
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag""".stripMargin,
    "q_project_case" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice < 100000 THEN 'low'
        |       WHEN o_totalprice < 300000 THEN 'mid'
        |       ELSE 'high' END AS price_band,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,4)) * CAST(0.9 AS DECIMAL(6,4)), 4) AS DOUBLE) AS discounted
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_filter_null_semantics" ->
      """SELECT NULLIF(l_discount, 0.0) IS NULL AS is_zero_disc,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY is_zero_disc""".stripMargin
  )
}
