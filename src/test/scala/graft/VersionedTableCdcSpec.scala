package graft

import java.nio.file.{Files, Paths}
import graft.sources.VersionedTable
import org.apache.spark.sql.DataFrame

/** Specs for the row-level change feed, the (appId, batchId)
  * idempotence window, and the vacuum/sidecar leak fixes — the round-11
  * table-layer features (r11 verdict item #2) plus the four r11 ADVICE
  * items. Model-based where the contract is a history (the feed must
  * equal the model's row diff across EVERY commit range), pointwise
  * where it is a single behavior (fail-loud legs, leak-freedom,
  * backward compat). */
class VersionedTableCdcSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def kv(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  /** Collect a feed frame as (k, v, change_type, commit_version). */
  private def feedRows(df: DataFrame): Set[(Long, String, String, Int)] =
    df.select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Int)].collect().toSet

  private def parquetFilesUnder(dir: String): Seq[String] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.map(_.toString)
        .filter(f => f.endsWith(".parquet") &&
          Paths.get(f).getFileName.toString.startsWith("part-")).toSeq
      finally st.close()
    }

  test("readChangeFeed equals the model row-diff across every commit range") {
    // MODEL test (the r10 "done" definition): a history mixing appends,
    // cdc-merges (updates + inserts), and an optimize is applied to a
    // real table while a driver-side model records, per commit, the
    // exact change rows it must emit. readChangeFeed over EVERY range
    // (a, b] must equal the union of the model's per-commit changes —
    // the whole lattice of incremental consumers, not one happy path.
    withTmpDir("graft_cdc_model") { base =>
      val root = s"$base/t"
      // changes(v) = rows the feed must emit for commit v
      val changes = scala.collection.mutable.Map[Int, Set[(Long, String, String, Int)]]()

      val v1 = VersionedTable.commit(kv(1L -> "a", 2L -> "b"), root)
      changes(v1) = Set((1L, "a", "insert", v1), (2L, "b", "insert", v1))

      val v2 = VersionedTable.commit(kv(3L -> "c"), root)
      changes(v2) = Set((3L, "c", "insert", v2))

      // cdc-merge: update k=1 and k=3, insert k=4
      val v3 = VersionedTable.merge(spark, root,
        kv(1L -> "a2", 3L -> "c2", 4L -> "d"), "k", cdc = true)
      changes(v3) = Set(
        (1L, "a", "update_preimage", v3), (1L, "a2", "update_postimage", v3),
        (3L, "c", "update_preimage", v3), (3L, "c2", "update_postimage", v3),
        (4L, "d", "insert", v3))

      val v4 = VersionedTable.optimize(spark, root) // row-NEUTRAL
      changes(v4) = Set.empty

      // second cdc-merge: matched-but-identical row still emits a
      // pre/post pair (the documented COW contract), k=5 inserted
      val v5 = VersionedTable.merge(spark, root,
        kv(2L -> "b", 5L -> "e"), "k", cdc = true)
      changes(v5) = Set(
        (2L, "b", "update_preimage", v5), (2L, "b", "update_postimage", v5),
        (5L, "e", "insert", v5))

      val v6 = VersionedTable.commit(kv(6L -> "f"), root)
      changes(v6) = Set((6L, "f", "insert", v6))

      for (a <- 0 to v6; b <- (a + 1) to v6) {
        val want = ((a + 1) to b).flatMap(changes(_)).toSet
        val got = feedRows(VersionedTable.readChangeFeed(spark, root, a, b))
        assert(got === want, s"feed ($a, $b] diverged from the model")
      }
      // zero-change range across the neutral commit alone: empty frame,
      // schema preserved (k, v + the two feed columns)
      val neutral = VersionedTable.readChangeFeed(spark, root, v3, v4)
      assert(neutral.count() === 0)
      assert(neutral.columns.toSet ===
        Set("k", "v", "_change_type", "_commit_version"))
      // the final snapshot agrees with the model head state
      assert(VersionedTable.read(spark, root).orderBy($"k")
        .as[(Long, String)].collect().toSeq ===
        Seq(1L -> "a2", 2L -> "b", 3L -> "c2", 4L -> "d", 5L -> "e", 6L -> "f"))
    }
  }

  test("readChangeFeed fails loudly on an un-sidecar'd replace commit") {
    withTmpDir("graft_cdc_loud") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "a"), root)
      VersionedTable.commit(kv(2L -> "b"), root)
      // merge WITHOUT cdc: row-level changes are unrecoverable
      VersionedTable.merge(spark, root, kv(1L -> "a2"), "k") // v3
      val e = intercept[UnsupportedOperationException] {
        VersionedTable.readChangeFeed(spark, root, 1, 3)
      }
      assert(e.getMessage.contains("v3"))
      // rollback is the other unrecoverable replace
      VersionedTable.rollback(root, 2) // v4
      intercept[UnsupportedOperationException] {
        VersionedTable.readChangeFeed(spark, root, 3, 4)
      }
      // ranges BEFORE the bad commit still serve
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, 0, 2)) ===
        Set((1L, "a", "insert", 1), (2L, "b", "insert", 2)))
    }
  }

  test("cdc-merge with an empty change set is a zero-change commit, not poison") {
    // ADVICE r11 (medium): an empty effective change set writes zero
    // sidecar part-files; the feed must treat that merge as zero
    // changes instead of hitting the loud-failure branch forever.
    withTmpDir("graft_cdc_empty") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "a"), root)
      val v2 = VersionedTable.merge(spark, root,
        kv().select($"k", $"v"), "k", cdc = true)
      val v3 = VersionedTable.commit(kv(2L -> "b"), root)
      // the empty merge contributes nothing; the feed stays alive
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, 1, v3)) ===
        Set((2L, "b", "insert", v3)))
      assert(VersionedTable.readChangeFeed(spark, root, 1, v2).count() === 0)
    }
  }

  test("aborted cdc-merge deletes its orphaned sidecar and data files") {
    // ADVICE r11 (low): the sidecar (and the rewritten snapshot) are
    // written before publish; a replace abort must not leak files no
    // manifest references (vacuum only sweeps manifest-referenced
    // paths).
    withTmpDir("graft_cdc_leak") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "a"), root)
      val filesBefore = parquetFilesUnder(s"$root/data").toSet
      var fired = false
      VersionedTable.onBeforePublish = () => {
        if (!fired) { fired = true
          VersionedTable.commit(kv(2L -> "mid"), root) }
      }
      try intercept[java.util.ConcurrentModificationException] {
        VersionedTable.merge(spark, root, kv(1L -> "a2"), "k", cdc = true)
      } finally VersionedTable.onBeforePublish = () => ()
      assert(parquetFilesUnder(s"$root/cdc").isEmpty,
        "aborted merge must not leave sidecar parquet behind")
      // data dir: only the base commit + the racer's commit remain
      val orphans = parquetFilesUnder(s"$root/data").toSet -- filesBefore --
        VersionedTable.resolveFiles(root, 2).map(_.path).toSet
      assert(orphans.isEmpty,
        s"aborted merge must not leave orphaned data files: $orphans")
      // a clean re-run still works, feed intact across it
      val v3 = VersionedTable.merge(spark, root, kv(1L -> "a2"), "k",
        cdc = true)
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, 2, v3)) ===
        Set((1L, "a", "update_preimage", v3),
          (1L, "a2", "update_postimage", v3)))
    }
  }

  test("a commit that loses its race leaves no parquet under data/ or cdc/") {
    // every kind of lost publish: the replace commits abort at the first
    // collision, the append rebases until it gives up after
    // MaxCommitRetries. Each wrote its files before publishing; vacuum
    // only collects paths a manifest names, so any file left behind
    // would stay for good.
    def rows(k: Long, v: String): DataFrame =
      Seq((k, v, (k % 2).toInt)).toDF("k", "v", "p")
    val cases: Seq[(String, String => Int)] = Seq(
      "optimize" -> (root => VersionedTable.optimize(spark, root)),
      "overwriteAll" -> (root => VersionedTable.overwriteAll(rows(7L, "o"), root)),
      "merge" -> (root => VersionedTable.merge(spark, root, rows(1L, "m"), "k",
        cdc = true)),
      "overwritePartitions" -> (root => VersionedTable.overwritePartitions(
        rows(1L, "w"), root, Seq("p"))),
      "append" -> (root => VersionedTable.commit(rows(9L, "late"), root)))
    for ((name, op) <- cases) withTmpDir(s"graft_lost_$name") { base =>
      val root = s"$base/t"
      VersionedTable.commitPartitioned(rows(1L, "a"), root, Seq("p"))
      // a competing append lands before EVERY publish attempt (its own
      // publish is not raced)
      var racers = 0
      var racing = false
      VersionedTable.onBeforePublish = () => if (!racing) {
        racing = true
        try {
          racers += 1
          VersionedTable.commitPartitioned(rows(100L + racers, "r"), root,
            Seq("p"))
        } finally racing = false
      }
      try intercept[java.util.ConcurrentModificationException](op(root))
      finally VersionedTable.onBeforePublish = () => ()
      val expectedRacers =
        if (name == "append") VersionedTable.MaxCommitRetries else 1
      assert(racers === expectedRacers, name)
      val head = VersionedTable.currentVersion(root)
      assert(head === 1 + racers, s"$name must publish nothing")
      val referenced = (1 to head)
        .flatMap(v => VersionedTable.resolveFiles(root, v).map(_.path)).toSet
      val orphans = parquetFilesUnder(s"$root/data").toSet -- referenced
      assert(orphans.isEmpty, s"$name left orphaned data files: $orphans")
      assert(parquetFilesUnder(s"$root/cdc").isEmpty,
        s"$name left orphaned change-feed sidecars")
      assert(VersionedTable.read(spark, root).count() === 1 + racers, name)
    }
  }

  test("targeted merge rewrites only overlapping files, carries the rest verbatim") {
    // round 12: mergeTargeted — three single-file commits with disjoint
    // key ranges; an update batch hitting only the first band must
    // rewrite exactly that file, carry the other two entries verbatim
    // (path + stats), produce the same table as the full COW merge on a
    // twin, and serve the same change feed.
    withTmpDir("graft_tmerge") { base =>
      def band(lo: Long, hi: Long): DataFrame =
        kv((lo to hi).map(k => k -> s"v$k"): _*).repartition(1)
      def build(root: String): Int = {
        VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
        VersionedTable.commit(band(11, 20), root, statsCol = Some("k"))
        VersionedTable.commit(band(21, 30), root, statsCol = Some("k"))
      }
      val root = s"$base/t"; val twin = s"$base/twin"
      val v3 = build(root); build(twin)
      val updates = kv(5L -> "x", 35L -> "new")
      val before = VersionedTable.resolveFiles(root, v3)
      val v4 = VersionedTable.mergeTargeted(spark, root, updates, "k",
        cdc = true)
      val after = VersionedTable.resolveFiles(root, v4)
      // exactly band 1's file rewritten; bands 2-3 carried VERBATIM
      val removed = before.map(_.path).toSet -- after.map(_.path).toSet
      assert(removed.size === 1, s"must rewrite exactly one file: $removed")
      assert(before.filter(f => !removed(f.path)).toSet
        .subsetOf(after.toSet),
        "carried entries must keep path AND stats verbatim")
      // data identity vs the full-COW merge on the twin
      val vt = VersionedTable.merge(spark, twin, updates, "k")
      def rows(r: String, v: Int) =
        VersionedTable.read(spark, r, Some(v))
          .as[(Long, String)].collect().toSet
      assert(rows(root, v4) === rows(twin, vt))
      // feed across the targeted merge: same three-leg contract
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, v3, v4)) ===
        Set((5L, "v5", "update_preimage", v4),
          (5L, "x", "update_postimage", v4),
          (35L, "new", "insert", v4)))
      // new files carry key stats, so the NEXT targeted merge skips too
      val newEntries = after.filterNot(f => before.exists(_.path == f.path))
      assert(newEntries.forall(f => f.lo.isDefined && f.hi.isDefined),
        "rewritten files must record key stats for future targeting")
    }
  }

  test("per-column stats keep a SECOND maintenance key targeted (round 14)") {
    // r13 verdict item #4: FileEntry carried min/max for ONE column, so
    // a table maintained on two keys lost O(touched-files) on the
    // second. Shape: batch-per-period ingest — k monotone per batch
    // (the auto-increment id), y constant per batch (the ingest
    // period) — both ranges file-disjoint, both recorded via statsCols.
    withTmpDir("graft_multistats") { base =>
      val root = s"$base/t"
      def batch(i: Int): DataFrame =
        (1L to 10L).map(j => (i * 100L + j, i.toLong, s"v$i-$j"))
          .toDF("k", "y", "v").repartition(1)
      (0 to 2).foreach(i => VersionedTable.commit(batch(i), root,
        statsCol = Some("k"), statsCols = Seq("y")))
      val v3 = VersionedTable.currentVersion(root)
      val before = VersionedTable.resolveFiles(root, v3)
      assert(before.size === 3)
      assert(before.forall(f => f.statsRange("k").isDefined &&
        f.statsRange("y").isDefined),
        "every file must carry ranges for BOTH stats columns")
      // targeted DELETE keyed on the SECOND column: period 1 erased,
      // the two other periods' files carried verbatim (the witness)
      val v4 = VersionedTable.delete(spark, root, Seq(1L).toDF("y"), "y")
      val after = VersionedTable.resolveFiles(root, v4)
      val carried = before.map(_.path).toSet
        .intersect(after.map(_.path).toSet)
      assert(carried.size === 2,
        s"non-matching periods must carry verbatim, got $carried")
      assert(VersionedTable.read(spark, root)
        .select($"y").distinct().as[Long].collect().toSet === Set(0L, 2L))
      // a rewrite keyed on k preserves the OTHER column's stats on its
      // new files (the union rule) — so later y-maintenance stays
      // targeted across k-maintenance
      val v5 = VersionedTable.mergeTargeted(spark, root,
        Seq((5L, 0L, "upd")).toDF("k", "y", "v"), "k")
      val files5 = VersionedTable.resolveFiles(root, v5)
      val fresh = files5.filterNot(f => after.exists(_.path == f.path))
      assert(fresh.nonEmpty)
      assert(fresh.forall(f => f.statsRange("k").isDefined &&
        f.statsRange("y").isDefined),
        "rewritten files must keep BOTH columns' ranges")
      val v6 = VersionedTable.delete(spark, root, Seq(2L).toDF("y"), "y")
      val carried6 = files5.map(_.path).toSet
        .intersect(VersionedTable.resolveFiles(root, v6).map(_.path).toSet)
      assert(carried6.nonEmpty,
        "y-maintenance must stay targeted after k-maintenance")
      // stats-pruned read on the second column: files provably outside
      // the y range never reach Spark
      val (pruned, scanned, total) =
        VersionedTable.readPruned(spark, root, 0, 0, Some(v5),
          statsCol = Some("y"))
      assert(scanned < total, s"y-prune must skip files ($scanned/$total)")
      assert(pruned.filter($"y" === 0L).count() === 10L)
    }
  }

  test("targeted merge conservatively rewrites stats-less files") {
    withTmpDir("graft_tmerge_nostats") { base =>
      val root = s"$base/t"
      VersionedTable.commit(
        kv((1L to 10L).map(k => k -> s"v$k"): _*).repartition(1), root)
      val v2 = VersionedTable.commit(
        kv((11L to 20L).map(k => k -> s"v$k"): _*).repartition(1), root,
        statsCol = Some("k"))
      // the batch misses BOTH ranges — but the stats-less file cannot
      // prove it, so it must be rewritten; the ranged file is carried
      val before = VersionedTable.resolveFiles(root, v2)
      val noStats = before.filter(_.lo.isEmpty).map(_.path).toSet
      assert(noStats.size === 1)
      val v3 = VersionedTable.mergeTargeted(spark, root,
        kv(99L -> "ins"), "k")
      val after = VersionedTable.resolveFiles(root, v3).map(_.path).toSet
      assert((noStats -- after) === noStats,
        "stats-less files must be conservatively rewritten")
      assert(before.filter(_.lo.isDefined).map(_.path).toSet
        .subsetOf(after), "the provably-missed file must be carried")
      assert(VersionedTable.read(spark, root, Some(v3))
        .as[(Long, String)].collect().toSet ===
        ((1L to 20L).map(k => k -> s"v$k").toSet + (99L -> "ins")))
    }
  }

  test("aborted targeted merge leaks nothing and re-runs clean") {
    withTmpDir("graft_tmerge_abort") { base =>
      val root = s"$base/t"
      VersionedTable.commit(
        kv(1L -> "a").repartition(1), root, statsCol = Some("k"))
      val filesBefore = parquetFilesUnder(s"$root/data").toSet
      var fired = false
      VersionedTable.onBeforePublish = () => {
        if (!fired) { fired = true
          VersionedTable.commit(kv(2L -> "mid"), root) }
      }
      try intercept[java.util.ConcurrentModificationException] {
        VersionedTable.mergeTargeted(spark, root, kv(1L -> "a2"), "k",
          cdc = true)
      } finally VersionedTable.onBeforePublish = () => ()
      assert(parquetFilesUnder(s"$root/cdc").isEmpty)
      val orphans = parquetFilesUnder(s"$root/data").toSet -- filesBefore --
        VersionedTable.resolveFiles(root, 2).map(_.path).toSet
      assert(orphans.isEmpty, s"aborted targeted merge leaked: $orphans")
      val v3 = VersionedTable.mergeTargeted(spark, root, kv(1L -> "a2"),
        "k", cdc = true)
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, 2, v3)) ===
        Set((1L, "a", "update_preimage", v3),
          (1L, "a2", "update_postimage", v3)))
    }
  }

  test("time-based vacuum retention keeps the window, the head, and clone safety") {
    withTmpDir("graft_vacuum_time") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "r1"), root); Thread.sleep(15)
      VersionedTable.commit(kv(2L -> "r2"), root); Thread.sleep(15)
      // v3 compacts: v1–v2's files are now referenced ONLY pre-window
      val v3 = VersionedTable.optimize(spark, root); Thread.sleep(15)
      val v4 = VersionedTable.commit(kv(3L -> "r3"), root)
      val ts3 = VersionedTable.commitTs(root, v3)
      // retain exactly from v3's commit instant: v1–v2's files go
      val dropped = VersionedTable.vacuumRetain(root, retainHours = 0.0,
        nowMillis = ts3)
      assert(dropped > 0, "pre-window files must be collected")
      // kept versions still read perfectly
      assert(VersionedTable.read(spark, root, Some(v3)).count() === 2)
      assert(VersionedTable.read(spark, root).count() === 3)
      // head always survives even when the window is empty
      val dropped2 = VersionedTable.vacuumRetain(root, retainHours = 0.0,
        nowMillis = System.currentTimeMillis() + 3600_000L)
      assert(VersionedTable.read(spark, root).count() === 3,
        s"head must survive an empty retention window (dropped $dropped2)")
      // history surfaces the commit timestamps (monotone)
      val hts = VersionedTable.history(spark, root)
        .orderBy($"version").select($"ts").as[Long].collect()
      assert(hts.sorted.toSeq === hts.toSeq)
    }
    // clone guard: time-based vacuum on a clone never touches the source
    withTmpDir("graft_vacuum_time_clone") { base =>
      val src = s"$base/src"; val tgt = s"$base/tgt"
      VersionedTable.commit(kv(1L -> "a"), src)
      VersionedTable.clone(src, tgt)
      VersionedTable.commit(kv(2L -> "b"), tgt)
      VersionedTable.vacuumRetain(tgt, retainHours = 0.0,
        nowMillis = System.currentTimeMillis() + 3600_000L)
      assert(VersionedTable.read(spark, src).count() === 1,
        "the source's files must survive a clone's vacuum")
    }
  }

  test("disjoint targeted rewrites REBASE and both land (round-13 OCC)") {
    // The r12 verdict item: abort-on-any-moved-head serialized ALL
    // table maintenance. Two targeted merges touching provably
    // disjoint key ranges (disjoint rewrite files, interleaved files
    // stats-clear of our keys) must BOTH land; a genuinely
    // conflicting pair must still abort.
    def band(lo: Long, hi: Long): DataFrame =
      kv((lo to hi).map(k => k -> s"v$k"): _*).repartition(1)
    withTmpDir("graft_occ_disjoint") { base =>
      val root = s"$base/t"
      VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
      VersionedTable.commit(band(11, 20), root, statsCol = Some("k"))
      VersionedTable.commit(band(21, 30), root, statsCol = Some("k"))
      // interleave a band-3 targeted merge inside the band-1 merge's
      // publish window — deterministic collision, disjoint ranges
      VersionedTable.onBeforePublish = () => {
        VersionedTable.onBeforePublish = () => ()
        VersionedTable.mergeTargeted(spark, root, kv(25L -> "u25"), "k")
      }
      try {
        val v = VersionedTable.mergeTargeted(spark, root,
          kv(5L -> "u5"), "k")
        assert(v === 5, s"band-1 merge must rebase onto the band-3 head")
      } finally VersionedTable.onBeforePublish = () => ()
      val got = VersionedTable.read(spark, root)
        .as[(Long, String)].collect().toMap
      assert(got(5L) === "u5" && got(25L) === "u25",
        "both disjoint merges' updates must survive")
      assert(got.size === 30)
    }
  }

  test("overlapping targeted rewrites still serialize (abort)") {
    def band(lo: Long, hi: Long): DataFrame =
      kv((lo to hi).map(k => k -> s"v$k"): _*).repartition(1)
    withTmpDir("graft_occ_conflict") { base =>
      val root = s"$base/t"
      VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
      // same-band interleave: the winner rewrote OUR input file
      VersionedTable.onBeforePublish = () => {
        VersionedTable.onBeforePublish = () => ()
        VersionedTable.mergeTargeted(spark, root, kv(3L -> "w3"), "k")
      }
      try intercept[java.util.ConcurrentModificationException] {
        VersionedTable.mergeTargeted(spark, root, kv(5L -> "l5"), "k")
      } finally VersionedTable.onBeforePublish = () => ()
      val got = VersionedTable.read(spark, root)
        .as[(Long, String)].collect().toMap
      assert(got(3L) === "w3" && got(5L) === "v5",
        "only the winner's update may land")
    }
  }

  test("rebase aborts on key-overlapping appends, schema changes, pending masks") {
    def band(lo: Long, hi: Long): DataFrame =
      kv((lo to hi).map(k => k -> s"v$k"): _*).repartition(1)
    // (a) interleaved append whose key range CONTAINS an update key
    withTmpDir("graft_occ_append") { base =>
      val root = s"$base/t"
      VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
      VersionedTable.onBeforePublish = () => {
        VersionedTable.onBeforePublish = () => ()
        VersionedTable.commit(band(5, 6), root, statsCol = Some("k"))
      }
      try intercept[java.util.ConcurrentModificationException] {
        VersionedTable.mergeTargeted(spark, root, kv(5L -> "u5"), "k")
      } finally VersionedTable.onBeforePublish = () => ()
    }
    // (b) interleaved append clear of the keys → rebase lands
    withTmpDir("graft_occ_append_ok") { base =>
      val root = s"$base/t"
      VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
      VersionedTable.onBeforePublish = () => {
        VersionedTable.onBeforePublish = () => ()
        VersionedTable.commit(band(100, 110), root, statsCol = Some("k"))
      }
      try assert(VersionedTable.mergeTargeted(spark, root,
        kv(5L -> "u5"), "k") === 3)
      finally VersionedTable.onBeforePublish = () => ()
      assert(VersionedTable.read(spark, root).count() === 21)
    }
    // (c) concurrent schema change → abort
    withTmpDir("graft_occ_schema") { base =>
      val root = s"$base/t"
      VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
      VersionedTable.onBeforePublish = () => {
        VersionedTable.onBeforePublish = () => ()
        VersionedTable.renameColumn(spark, root, "v", "label")
      }
      try intercept[java.util.ConcurrentModificationException] {
        VersionedTable.mergeTargeted(spark, root, kv(5L -> "u5"), "k")
      } finally VersionedTable.onBeforePublish = () => ()
    }
    // (d) concurrent deferred delete → abort (masked-read precondition)
    withTmpDir("graft_occ_mask") { base =>
      val root = s"$base/t"
      VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
      VersionedTable.onBeforePublish = () => {
        VersionedTable.onBeforePublish = () => ()
        VersionedTable.deleteDeferred(spark, root, Seq(9L).toDF("k"), "k")
      }
      try intercept[java.util.ConcurrentModificationException] {
        VersionedTable.mergeTargeted(spark, root, kv(5L -> "u5"), "k")
      } finally VersionedTable.onBeforePublish = () => ()
    }
  }

  test("targeted delete erases rows, carries untouched files, feeds 'delete' rows") {
    withTmpDir("graft_tdelete") { base =>
      val root = s"$base/t"
      def band(lo: Long, hi: Long): DataFrame =
        kv((lo to hi).map(k => k -> s"v$k"): _*).repartition(1)
      VersionedTable.commit(band(1, 10), root, statsCol = Some("k"))
      val v2 = VersionedTable.commit(band(11, 20), root,
        statsCol = Some("k"))
      val before = VersionedTable.resolveFiles(root, v2)
      val v3 = VersionedTable.delete(spark, root,
        Seq(3L, 7L).toDF("k"), "k", cdc = true)
      val after = VersionedTable.resolveFiles(root, v3)
      // only band 1's file rewritten; band 2 carried verbatim
      val removed = before.map(_.path).toSet -- after.map(_.path).toSet
      assert(removed.size === 1, s"must rewrite exactly one file: $removed")
      assert(before.filter(f => !removed(f.path)).toSet
        .subsetOf(after.toSet))
      // erasure is total and confined to the named keys
      val left = VersionedTable.read(spark, root, Some(v3))
        .as[(Long, String)].collect().toSet
      assert(left === ((1L to 20L).toSet -- Set(3L, 7L))
        .map(k => k -> s"v$k"))
      // the feed carries the erased rows as first-class delete legs
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, v2, v3)) ===
        Set((3L, "v3", "delete", v3), (7L, "v7", "delete", v3)))
      // pre-delete snapshots stay readable (retention is vacuum's job)
      assert(VersionedTable.read(spark, root, Some(v2))
        .as[(Long, String)].collect().toSet.size === 20)
    }
  }

  test("deferred delete: O(batch) commit, read-time mask, sequence rule, materialization") {
    withTmpDir("graft_mor") { base =>
      val root = s"$base/t"
      def band(lo: Long, hi: Long): DataFrame =
        kv((lo to hi).map(k => k -> s"v$k"): _*).repartition(1)
      VersionedTable.commit(band(1, 10), root)
      val v2 = VersionedTable.commit(band(11, 20), root)
      def visible(v: Int): Set[(Long, String)] =
        VersionedTable.read(spark, root, Some(v))
          .as[(Long, String)].collect().toSet
      // O(batch): the delete rewrites NOTHING — same file list
      val v3 = VersionedTable.deleteDeferred(spark, root,
        Seq(3L, 13L).toDF("k"), "k")
      assert(VersionedTable.resolveFiles(root, v3) ===
        VersionedTable.resolveFiles(root, v2),
        "deferred delete must not touch a single data file")
      assert(visible(v3) ===
        ((1L to 20L).toSet -- Set(3L, 13L)).map(k => k -> s"v$k"))
      // time travel unaffected; feed serves key-only delete rows
      assert(visible(v2).size === 20)
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, v2, v3)) ===
        Set((3L, null, "delete", v3), (13L, null, "delete", v3)))
      // sequence rule: a key re-inserted AFTER its delete is visible
      val v4 = VersionedTable.commit(kv(3L -> "reborn"), root)
      assert(visible(v4) ===
        ((1L to 20L).toSet -- Set(3L, 13L)).map(k => k -> s"v$k")
          + (3L -> "reborn"))
      // a second pending batch composes
      val v5 = VersionedTable.deleteDeferred(spark, root,
        Seq(15L).toDF("k"), "k")
      assert(visible(v5) ===
        ((1L to 20L).toSet -- Set(3L, 13L, 15L)).map(k => k -> s"v$k")
          + (3L -> "reborn"))
      // COW ops refuse while masks are pending (they read raw files)
      intercept[IllegalArgumentException] {
        VersionedTable.mergeTargeted(spark, root, kv(1L -> "x"), "k")
      }
      // OPTIMIZE is the materialization point: masks applied, cleared
      val v6 = VersionedTable.optimize(spark, root)
      assert(VersionedTable.resolveDeletes(root, v6).isEmpty)
      assert(visible(v6) === visible(v5))
      // rollback to a masked version restores its masks with it
      val v7 = VersionedTable.rollback(root, v5)
      assert(VersionedTable.resolveDeletes(root, v7).nonEmpty)
      assert(visible(v7) === visible(v5))
    }
  }

  test("vacuum keeps equality-delete sidecars a kept version still reads through") {
    withTmpDir("graft_mor_vac") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "a", 2L -> "b").repartition(1), root)
      VersionedTable.deleteDeferred(spark, root, Seq(2L).toDF("k"), "k")
      // push the delete commit OUT of the keep window
      (1 to 3).foreach(i => VersionedTable.commit(kv(100L + i -> "x"), root))
      val cur = VersionedTable.currentVersion(root)
      VersionedTable.vacuum(root, keepLast = 2)
      // the head still resolves the v2 delete sidecar — and reads clean
      assert(VersionedTable.resolveDeletes(root, cur).nonEmpty)
      val left = VersionedTable.read(spark, root)
        .as[(Long, String)].collect().toMap
      assert(!left.contains(2L) && left.contains(1L),
        "vacuum must not collect a sidecar the kept head reads through")
    }
  }

  test("change-feed consumer: checkpointed offsets, crash redelivery, no skips") {
    import graft.sources.ChangeFeedConsumer
    withTmpDir("graft_consumer") { base =>
      val root = s"$base/t"; val ckpt = s"$base/ckpt"
      val seen = scala.collection.mutable.ArrayBuffer[(Int, Int, Set[Long])]()
      def collect(df: DataFrame, from: Int, to: Int): Unit =
        seen += ((from, to, df.select($"k").as[Long].collect().toSet))
      // caught-up consumer serves nothing
      VersionedTable.commit(kv(1L -> "a"), root)
      assert(ChangeFeedConsumer.drain(spark, root, ckpt)(collect) ===
        Seq((0, 1)))
      assert(ChangeFeedConsumer.drain(spark, root, ckpt)(collect).isEmpty)
      assert(seen.toSeq === Seq((0, 1, Set(1L))))
      // two more commits: ONE poll covers both (range semantics)
      VersionedTable.commit(kv(2L -> "b"), root)
      VersionedTable.merge(spark, root, kv(1L -> "a2", 3L -> "c"), "k",
        cdc = true)
      assert(ChangeFeedConsumer.drain(spark, root, ckpt)(collect) ===
        Seq((1, 3)))
      assert(seen(1)._3 === Set(1L, 2L, 3L))
      // crash: a throwing handler leaves the offset untouched — the
      // SAME range redelivers on the next poll (at-least-once; the
      // offset only advances past a successful call)
      VersionedTable.commit(kv(4L -> "d"), root)
      intercept[RuntimeException] {
        ChangeFeedConsumer.poll(spark, root, ckpt)((_, _, _) =>
          throw new RuntimeException("crash before offset advance"))
      }
      assert(ChangeFeedConsumer.lastServed(ckpt) === 3)
      assert(ChangeFeedConsumer.drain(spark, root, ckpt)(collect) ===
        Seq((3, 4)))
      assert(seen(2)._3 === Set(4L))
      // restart: a fresh consumer reads the persisted offset — no
      // replay of already-served history
      assert(ChangeFeedConsumer.lastServed(ckpt) === 4)
      assert(ChangeFeedConsumer.drain(spark, root, ckpt)(collect).isEmpty)
    }
  }

  test("deferred delete racing an append serializes as delete-after-append") {
    // OCC: deleteDeferred publishes through the append rebase loop, so
    // a concurrent append landing between its basis read and publish
    // makes the delete's sequence number HIGHER than the racer's file
    // — the mask applies to the racer's rows too, which is exactly the
    // delete-after-append serialization (the delete "wins the race").
    withTmpDir("graft_mor_race") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "a", 2L -> "b"), root)
      var fired = false
      VersionedTable.onBeforePublish = () => {
        if (!fired) { fired = true
          // the racer inserts the very key being deleted
          VersionedTable.commit(kv(2L -> "raced"), root) }
      }
      try VersionedTable.deleteDeferred(spark, root, Seq(2L).toDF("k"), "k")
      finally VersionedTable.onBeforePublish = () => ()
      val left = VersionedTable.read(spark, root)
        .as[(Long, String)].collect().toSet
      assert(left === Set(1L -> "a"),
        "the rebased delete must mask the racer's row too " +
          "(delete-after-append serialization)")
    }
  }

  test("shallow clone: zero-copy, independent divergence, pending-mask guard") {
    withTmpDir("graft_clone") { base =>
      val src = s"$base/src"; val tgt = s"$base/tgt"
      VersionedTable.commit(kv(1L -> "a", 2L -> "b"), src)
      VersionedTable.clone(src, tgt)
      assert(parquetFilesUnder(s"$tgt/data").isEmpty,
        "a shallow clone must copy no data")
      def rows(r: String) = VersionedTable.read(spark, r)
        .as[(Long, String)].collect().toSet
      assert(rows(tgt) === rows(src))
      // divergence is independent in BOTH directions
      VersionedTable.commit(kv(3L -> "clone-only"), tgt)
      VersionedTable.commit(kv(4L -> "src-only"), src)
      assert(rows(tgt) === Set(1L -> "a", 2L -> "b", 3L -> "clone-only"))
      assert(rows(src) === Set(1L -> "a", 2L -> "b", 4L -> "src-only"))
      // a deferred delete on the CLONE masks the shared file's row
      // without touching the source (sequence restamped clone-local)
      VersionedTable.deleteDeferred(spark, tgt, Seq(1L).toDF("k"), "k")
      assert(rows(tgt) === Set(2L -> "b", 3L -> "clone-only"))
      assert(rows(src).contains(1L -> "a"))
      // a source with pending masks refuses to clone (materialize
      // first — clone-local sequences cannot carry them)
      VersionedTable.deleteDeferred(spark, src, Seq(2L).toDF("k"), "k")
      intercept[IllegalArgumentException] {
        VersionedTable.clone(src, s"$base/tgt2")
      }
    }
  }

  test("vacuum on a clone never deletes the source's files") {
    withTmpDir("graft_clone_vac") { base =>
      val src = s"$base/src"; val tgt = s"$base/tgt"
      VersionedTable.commit(kv(1L -> "a"), src)
      VersionedTable.clone(src, tgt)
      // push the cloned v1 out of the clone's keep window, then vacuum
      (1 to 3).foreach(i => VersionedTable.commit(kv(10L + i -> "x"), tgt))
      VersionedTable.optimize(spark, tgt) // clone no longer needs src files
      VersionedTable.vacuum(tgt, keepLast = 1)
      // the SOURCE is untouched and fully readable
      assert(VersionedTable.read(spark, src)
        .as[(Long, String)].collect().toSet === Set(1L -> "a"),
        "clone vacuum must never reach outside its own root")
    }
  }

  test("partition overwrite replaces exactly the batch's tuples") {
    withTmpDir("graft_ow") { base =>
      val root = s"$base/t"
      val df = Seq((1L, "p1", "x"), (2L, "p1", "y"), (3L, "p2", "z"))
        .toDF("k", "p", "v")
      val v1 = VersionedTable.commitPartitioned(df, root, Seq("p"))
      val before = VersionedTable.resolveFiles(root, v1)
      val v2 = VersionedTable.overwritePartitions(
        Seq((9L, "p1", "NEW")).toDF("k", "p", "v"), root, Seq("p"))
      val after = VersionedTable.resolveFiles(root, v2)
      // p2's entries carried verbatim; p1's replaced wholesale
      assert(before.filter(_.part.get("p").contains("p2")).toSet
        .subsetOf(after.toSet))
      assert(after.map(_.part("p")).toSet === Set("p1", "p2"))
      assert(VersionedTable.read(spark, root)
        .select($"k", $"p", $"v").as[(Long, String, String)]
        .collect().toSet === Set((9L, "p1", "NEW"), (3L, "p2", "z")))
      // pre-overwrite snapshot untouched (time travel)
      assert(VersionedTable.read(spark, root, Some(v1)).count() === 3)
    }
  }

  test("commitChecked: constraint and schema gates reject before writing") {
    withTmpDir("graft_checked") { base =>
      val root = s"$base/t"
      val rules = Seq("k > 0", "v IS NOT NULL")
      VersionedTable.commitChecked(kv(1L -> "a"), root, rules)
      val filesBefore = parquetFilesUnder(s"$root/data").size
      // constraint violation: per-rule counts in the message, nothing
      // written, head untouched
      val e = intercept[IllegalArgumentException] {
        VersionedTable.commitChecked(
          Seq((0L, "z"), (2L, null), (3L, "c")).toDF("k", "v"), root, rules)
      }
      assert(e.getMessage.contains("1 row(s) violate [k > 0]"))
      assert(e.getMessage.contains("1 row(s) violate [v IS NOT NULL]"))
      assert(parquetFilesUnder(s"$root/data").size === filesBefore,
        "a rejected batch must not write a single file")
      assert(VersionedTable.currentVersion(root) === 1)
      // schema drift: a retyped column is rejected; an ADDED column is
      // additive evolution and admitted
      val drift = intercept[IllegalArgumentException] {
        VersionedTable.commitChecked(
          Seq(("5", "e")).toDF("k", "v"), root, Nil)
      }
      assert(drift.getMessage.contains("k"))
      VersionedTable.commitChecked(
        Seq((5L, "e", 9L)).toDF("k", "v", "extra"), root, rules)
      // NULL constraint results count as violations (must PROVE rows)
      intercept[IllegalArgumentException] {
        VersionedTable.commitChecked(
          Seq((null.asInstanceOf[java.lang.Long], "f"))
            .toDF("k", "v").selectExpr("CAST(k AS BIGINT) AS k", "v"),
          root, Seq("k > 0"))
      }
      // an empty batch passes every constraint vacuously
      VersionedTable.commitChecked(kv().limit(0), root, rules)
    }
  }

  test("readChangeFeed survives additive schema evolution in range") {
    // ADVICE r11 (low): a feed range spanning an additive evolution
    // must union with NULL padding (like snapshot mergeSchema reads),
    // not throw on mismatched column sets.
    withTmpDir("graft_cdc_evo") { base =>
      val root = s"$base/t"
      VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
      VersionedTable.commit(Seq((2L, "b", 7.5)).toDF("k", "v", "score"), root)
      val feed = VersionedTable.readChangeFeed(spark, root, 0, 2)
      val got = feed.select($"k", $"score").as[(Long, Option[Double])]
        .collect().toMap
      assert(got === Map(1L -> None, 2L -> Some(7.5)),
        "pre-evolution rows must surface NULL for the new column")
    }
  }

  test("idempotence window is keyed on (appId, batchId), not bare batchId") {
    // ADVICE r11 (medium): two streaming queries feeding one table both
    // count batchIds from 0 — a bare-id window silently drops one
    // query's batches as retries of the other's.
    withTmpDir("graft_batchkey") { base =>
      val root = s"$base/t"
      val vA = VersionedTable.commitBatch(kv(1L -> "a"), root, batchId = 0L,
        appId = "queryA")
      val vB = VersionedTable.commitBatch(kv(2L -> "b"), root, batchId = 0L,
        appId = "queryB")
      assert(vA === 1 && vB === 2,
        "same batchId under different appIds must BOTH commit")
      assert(VersionedTable.read(spark, root).count() === 2)
      // a true retry (same pair) is a no-op even after the other writer
      val vA2 = VersionedTable.commitBatch(kv(1L -> "a"), root, batchId = 0L,
        appId = "queryA")
      assert(vA2 === 2 && VersionedTable.read(spark, root).count() === 2,
        "same (appId, batchId) pair must be recognized as a retry")
    }
  }

  test("batchId horizon: retries inside the 64-commit window are no-ops, beyond it re-append") {
    withTmpDir("graft_horizon") { base =>
      val root = s"$base/t"
      VersionedTable.commitBatch(kv(0L -> "b0"), root, batchId = 0L,
        appId = "q")
      // 64 more batches push batch 0 exactly out of the window
      (1 to VersionedTable.BatchIdHorizon).foreach { i =>
        VersionedTable.commitBatch(kv(i.toLong -> s"b$i"), root,
          batchId = i.toLong, appId = "q")
      }
      val head = VersionedTable.currentVersion(root)
      // the most recent batch is still recognized
      assert(VersionedTable.commitBatch(kv(64L -> "b64"), root,
        batchId = 64L, appId = "q") === head)
      // batch 1 (64 commits old) is the window's oldest survivor
      assert(VersionedTable.commitBatch(kv(1L -> "b1"), root,
        batchId = 1L, appId = "q") === head)
      // batch 0 fell off the horizon: the layer can no longer prove it
      // committed, so it re-appends (the documented contract — a sink
      // retrying >64 commits late has a dead coordinator)
      assert(VersionedTable.commitBatch(kv(0L -> "b0"), root,
        batchId = 0L, appId = "q") === head + 1)
    }
  }

  test("pre-round-12 manifests with bare batchIds keep their idempotence") {
    // backward-compat seam: legacy manifests carried long `batchIds` /
    // `batchId` fields; they must still be honored as (appId="") keys.
    withTmpDir("graft_legacy") { base =>
      val root = s"$base/t"
      VersionedTable.commitBatch(kv(1L -> "a"), root, batchId = 7L)
      // rewrite the manifest to the legacy shape on disk
      val mp = Paths.get(root, "_manifests", "v00001.json")
      val legacy = Files.readString(mp)
        .replace("\"batchKey\":\"#7\"", "\"batchId\":7")
        .replace("\"batchKeys\":[\"#7\"]", "\"batchIds\":[7]")
      Files.writeString(mp, legacy)
      assert(!Files.readString(mp).contains("batchKey"), "rewrite applied")
      val v = VersionedTable.commitBatch(kv(1L -> "a"), root, batchId = 7L)
      assert(v === 1 && VersionedTable.read(spark, root).count() === 1,
        "legacy bare-long batch ids must still dedupe default-appId retries")
    }
  }

  test("vacuum keeps in-window cdc sidecars readable and collects out-of-window ones") {
    // the sidecar is part of a commit's retention story: while its
    // version is inside the keep window the feed must still serve it
    // AFTER a vacuum; once the version ages out, the sidecar files are
    // garbage like any other unreferenced path and must be collected.
    withTmpDir("graft_cdc_vacuum") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "a"), root) // v1
      val v2 = VersionedTable.merge(spark, root, kv(1L -> "a2", 2L -> "b"),
        "k", cdc = true)
      val sidecars = parquetFilesUnder(s"$root/cdc")
      assert(sidecars.nonEmpty, "cdc merge must write a sidecar")
      VersionedTable.commit(kv(3L -> "c"), root) // v3
      // window {v2, v3}: v2's sidecar must survive and the feed serve
      VersionedTable.vacuum(root, keepLast = 2)
      assert(sidecars.forall(p => Files.exists(Paths.get(p))),
        "in-window sidecar must survive vacuum")
      assert(feedRows(VersionedTable.readChangeFeed(spark, root, 1, v2)) ===
        Set((1L, "a", "update_preimage", v2),
          (1L, "a2", "update_postimage", v2), (2L, "b", "insert", v2)))
      // age v2 out (v4 optimize orphans nothing cdc-wise; window {v4, v5})
      VersionedTable.optimize(spark, root) // v4
      VersionedTable.commit(kv(4L -> "d"), root) // v5
      VersionedTable.vacuum(root, keepLast = 2)
      assert(sidecars.forall(p => !Files.exists(Paths.get(p))),
        "out-of-window sidecar files must be collected")
    }
  }

  test("vacuum reclaims a broken-chain version's own files instead of leaking them") {
    // r11 verdict item #2: a prior vacuum (or a crash mid-vacuum) can
    // leave a delta manifest whose parent chain is gone; the re-run
    // must fall back to that version's own `add` list so its files —
    // orphaned by a later replace — are still collected.
    withTmpDir("graft_vacuum_chain") { base =>
      val root = s"$base/t"
      (1 to 5).foreach(i =>
        VersionedTable.commit(kv(i.toLong -> s"r$i"), root)) // v1..v5
      val orphaned = (2 to 5)
        .flatMap(v => VersionedTable.resolveFiles(root, v).map(_.path)
          .filterNot(VersionedTable.resolveFiles(root, v - 1).map(_.path).toSet))
      VersionedTable.optimize(spark, root) // v6: orphans v1..v5's files
      VersionedTable.commit(kv(9L -> "r9"), root) // v7
      // simulate the interrupted prior vacuum: the v1 checkpoint is
      // gone, v2..v5's delta chains are broken
      Files.delete(Paths.get(root, "_manifests", "v00001.json"))
      val deleted = VersionedTable.vacuum(root, keepLast = 2)
      // v1's own file is unreachable (manifest gone) and stays leaked —
      // the documented floor — but v2..v5's own adds must be collected
      assert(deleted === 4,
        "broken-chain versions' own adds must be reclaimed")
      orphaned.foreach(p =>
        assert(!Files.exists(Paths.get(p)), s"leaked broken-chain file $p"))
      // kept versions still read
      assert(VersionedTable.read(spark, root).count() === 6)
    }
  }

  test("targeted delete ignores stats collected on a DIFFERENT column") {
    // ADVICE r12 (medium): manifest stats carried no column identity,
    // so a delete whose keyCol differed from the stats column treated
    // another column's [lo, hi] as key bounds — files that DO contain
    // matching rows were carried verbatim and the rows silently
    // survived the DELETE (the GDPR primitive). Stats on x ∈
    // [1001, 1010] while deleting k=5: the k-range interpretation says
    // "5 ∉ [1001, 1010], skip the file".
    withTmpDir("graft_statsby") { base =>
      val root = s"$base/t"
      val df = (1L to 10L).map(k => (k, k + 1000L)).toDF("k", "x")
        .repartition(1)
      VersionedTable.commit(df, root, statsCol = Some("x"))
      VersionedTable.delete(spark, root, Seq(5L).toDF("k"), "k")
      val got = VersionedTable.read(spark, root)
        .select($"k").as[Long].collect().toSet
      assert(got === ((1L to 10L).toSet - 5L),
        "rows matching a targeted DELETE must never survive because " +
          "another column's stats were mistaken for key bounds")
      // and readPruned with the column identity declared must not
      // prune on the mismatched stats either: every file scans
      val (_, scanned, total) =
        VersionedTable.readPruned(spark, root, 1.0, 2.0,
          statsCol = Some("k"))
      assert(scanned === total,
        "stats on x must not prune a k-range read when the caller " +
          "declares the column")
    }
  }

  test("stats column identity round-trips through the manifest") {
    withTmpDir("graft_statsby_rt") { base =>
      val root = s"$base/t"
      VersionedTable.commit(kv(1L -> "a").repartition(1), root,
        statsCol = Some("k"))
      val entries = VersionedTable.resolveFiles(root, 1)
      assert(entries.forall(_.statsBy.contains("k")))
      // and a matching-column targeted delete still targets (the fix
      // must not degrade the stats-matched fast path to full COW)
      VersionedTable.commit(kv(100L -> "z").repartition(1), root,
        statsCol = Some("k"))
      val before = VersionedTable.resolveFiles(root, 2)
      VersionedTable.delete(spark, root, Seq(100L).toDF("k"), "k")
      val after = VersionedTable.resolveFiles(root, 3)
      val carried = before.map(_.path).toSet & after.map(_.path).toSet
      assert(carried.size === 1,
        "the non-overlapping file must carry verbatim when stats ARE " +
          "on the key column")
    }
  }

  test("zero-data-file snapshot with pending deletes fails like the plain empty read") {
    // ADVICE r12 (low): entries.isEmpty made readMasked's
    // groups.reduce throw UnsupportedOperationException; the masked
    // path must mirror the no-deletes path (same failure mode — an
    // empty table has no schema source either way).
    withTmpDir("graft_empty_mask") { base =>
      val root = s"$base/t"
      // a commit of an empty frame with stats writes no manifest
      // entries (zero-row files are dropped) but publishes a version
      VersionedTable.commit(
        Seq.empty[(Long, String)].toDF("k", "v"), root,
        statsCol = Some("k"))
      val plain = intercept[Exception] {
        VersionedTable.read(spark, root).collect()
      }
      VersionedTable.deleteDeferred(spark, root, Seq(1L).toDF("k"), "k")
      val masked = intercept[Exception] {
        VersionedTable.read(spark, root).collect()
      }
      assert(!masked.isInstanceOf[UnsupportedOperationException],
        "pending deletes over zero data files must not crash the " +
          "group-reduce")
      assert(masked.getClass === plain.getClass,
        "masked and plain empty-table reads must fail identically")
    }
  }

  test("rollback carries pre-feature (seq 0) entries verbatim — masks keep applying") {
    // ADVICE r12 (low): publishAtomic restamped any seq==0 entry in
    // `add` to the rollback's own version; on an upgraded table whose
    // files predate sequence stamping, that pushed them ABOVE the
    // restored equality deletes' sequence, the masks stopped applying,
    // and deleted rows resurrected.
    withTmpDir("graft_rollback_seq") { base =>
      val root = s"$base/t"
      VersionedTable.commit(
        kv((1L to 10L).map(k => k -> s"v$k"): _*).repartition(1), root)
      // simulate a pre-feature table: strip the seq fields from v1
      val mPath = Paths.get(root, "_manifests", "v00001.json")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(Files.readString(mPath))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      Seq("add", "files").foreach { fld =>
        Option(node.get(fld)).foreach(_.elements().asScala.foreach(e =>
          e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .remove("seq")))
      }
      Files.writeString(mPath, om.writeValueAsString(node))
      // v2: deferred delete of k=3 (mask seq 2, applies to seq-0 files)
      val v2 = VersionedTable.deleteDeferred(spark, root,
        Seq(3L).toDF("k"), "k")
      assert(!VersionedTable.read(spark, root).select($"k").as[Long]
        .collect().contains(3L))
      VersionedTable.commit(kv(99L -> "later"), root) // v3
      VersionedTable.rollback(root, v2) // v4 restores v2's visible state
      val got = VersionedTable.read(spark, root)
        .select($"k").as[Long].collect().toSet
      assert(got === ((1L to 10L).toSet - 3L),
        "rollback must not restamp carried legacy entries above the " +
          "restored masks' sequence (k=3 resurrected)")
    }
  }

  test("partition overwrite aborts on a mismatched partition-column layout") {
    // ADVICE r12 (low): files committed under a different partCols set
    // never tuple-match the overwrite's `touched` set, carried
    // verbatim, and silently duplicated the overwritten rows.
    withTmpDir("graft_ow_layout") { base =>
      val root = s"$base/t"
      val df = Seq((1L, "2024", "eu", "a"), (2L, "2024", "us", "b"))
        .toDF("k", "y", "r", "v")
      VersionedTable.commitPartitioned(df, root, Seq("y", "r"))
      val e = intercept[IllegalArgumentException] {
        VersionedTable.overwritePartitions(
          Seq((3L, "2024", "eu", "a2")).toDF("k", "y", "r", "v"),
          root, Seq("y"))
      }
      assert(e.getMessage.contains("partition columns"),
        s"wrong failure: ${e.getMessage}")
      // nothing was published, nothing duplicated
      assert(VersionedTable.currentVersion(root) === 1)
      assert(VersionedTable.read(spark, root).count() === 2)
      // the matching layout still works
      val v2 = VersionedTable.overwritePartitions(
        Seq((3L, "2024", "eu", "a2")).toDF("k", "y", "r", "v"),
        root, Seq("y", "r"))
      assert(v2 === 2)
      val got = VersionedTable.read(spark, root)
        .select($"k", $"v").as[(Long, String)].collect().toSet
      assert(got === Set((3L, "a2"), (2L, "b")))
    }
  }
}
