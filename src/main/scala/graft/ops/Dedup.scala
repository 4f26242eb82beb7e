package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.J — deduplication operators over `documents`.
  *
  * Scale design: exact dedup is a hash group-by (one shuffle on the
  * digest). Near-dup goes shingle→explode→self-equi-join on shingle —
  * the join key is the shingle, so at 100 TB this shuffles by shingle
  * (no cross join) and skew is bounded by shingle frequency. MinHash
  * signatures compress each doc to 8×8 bytes so the LSH band join
  * shuffles signatures, not text. All hashing is md5-derived so the
  * DuckDB oracle computes bit-identical 60-bit integers.
  */
object Dedup extends OpModule {

  /** Portable 60-bit hash — single definition in [[graft.Det.md5int60]]. */
  private def md5int(c: Column): Column = graft.Det.md5int60(c)

  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .groupBy(sha2($"text", 256).as("digest"))
      .agg(count(lit(1)).as("n"), min($"doc_id").as("min_id"))
      .orderBy($"min_id")
  }

  /** Dedup MATERIALIZATION: the corpus with exact duplicates removed,
    * keeping the lowest doc_id per distinct text (the actual pipeline
    * operation, not just group stats). One shuffle on the digest. */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sha2($"text", 256)).orderBy($"doc_id".asc)
    Tables.t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** 5-gram word shingles per doc (distinct). */
  /** 5-gram shingle arrays from any (doc_id, text) frame. A pure
    * per-doc function — no corpus-global state — which is what makes
    * every structure derived from it (MinHash signatures, the delta
    * band index) APPENDABLE: new-batch rows can be computed alone and
    * unioned with prior output (pinned by the index-append test). */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 5)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(0), size(col("words")) - 5),
        i => concat_ws(" ",
          element_at(col("words"), i + 1), element_at(col("words"), i + 2),
          element_at(col("words"), i + 3), element_at(col("words"), i + 4),
          element_at(col("words"), i + 5)))).as("sh"))

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.t(s, dir, "documents"))

  /** (doc_id, shingle) rows — explodes directly, WITHOUT carrying the
    * shingle array column through the Generate (a carried array is
    * copied per exploded row: measured 12× slower at sf0.1). The result
    * is persisted per (session, sfDir): three downstream consumers
    * (both join sides + the per-doc counts) would otherwise re-run the
    * scan+explode each. MEMORY_AND_DISK is the level that still works
    * when the exploded table outgrows executor memory at scale. */
  private def shingleRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // explode_OUTER: plain explode makes the optimizer synthesize a
    // `size(arr)>0 AND isnotnull(arr)` pruning filter with the whole
    // shingle-building expression inlined (re-evaluated per row) —
    // measured several× slower. Outer explode skips that filter; the
    // ≥5-word guard already guarantees ≥1 shingle per doc.
    OpCache.cached(s, dir, "sh") {
      shingles(s, dir).select($"doc_id", explode_outer($"sh").as("shingle"))
        .filter($"shingle".isNotNull)
    }
  }

  /** MinHash signature table (doc_id, mh0..mh7), persisted once and
    * shared by q_dedup_minhash_sig and both sides of the LSH band join
    * (without the persist the broadcast self-join re-aggregates it per
    * side — measured ~1 s extra at sf0.1). */
  private def sigTable(s: SparkSession, dir: String): DataFrame =
    OpCache.cached(s, dir, "mh_sig") { minhashOf(shingleRows(s, dir)) }

  /** Affine MinHash signatures (mh0..mh7) from (doc_id, shingle) rows.
    * Shared by the session sig table, the capped-doc fallback, and the
    * appendability test — one definition, no drift. */
  private def minhashOf(shRows: DataFrame): DataFrame =
    shRows
      .select(col("doc_id"), (md5int(col("shingle")) % 1073741824L).as("base"))
      .groupBy(col("doc_id"))
      .agg(
        min((col("base") * mhA(0) + mhB(0)) % MhP).as("mh0"),
        (1 until 8).map(k =>
          min((col("base") * mhA(k) + mhB(k)) % MhP).as(s"mh$k")): _*)

  /** Signatures straight from a (doc_id, text) frame — the unit the
    * index-append contract quantifies over (test-facing). */
  private[graft] def sigOf(docs: DataFrame): DataFrame =
    minhashOf(shinglesOf(docs)
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull))

  /** Maximum shingle DOCUMENT FREQUENCY admitted to the pair self-join.
    * A shingle occurring in f docs contributes f² candidate pairs, so
    * one boilerplate phrase (license blurb, navigation chrome — exactly
    * what q_dedup_spans surfaces) turns the join quadratic at corpus
    * scale while carrying ~zero Jaccard signal (a shingle shared by
    * thousands of docs tells you nothing about any one pair). Capping
    * df bounds per-key skew by construction. The fixture corpus's max
    * df is 4 (measured at sf0.01 and sf0.1), so 100 changes nothing
    * here — it exists for the 100-TB corpus. Mirrored verbatim in the
    * DuckDB oracles so the hash gate pins the capped semantics. */
  private[graft] val ShingleDfCap = 100L

  /** Shingle rows restricted to df ≤ [[ShingleDfCap]] — the pair-join
    * input. The df aggregation and the semi-join both key on `shingle`,
    * the same key as the downstream pair join, so at scale this adds
    * one reusable exchange, not a new shuffle shape. Denominator counts
    * (n_sh) always come from the FULL shingle table. */
  private def prunedShingleRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    OpCache.cached(s, dir, "sh_pruned") {
      val sh = shingleRows(s, dir)
      val lowDf = sh.groupBy($"shingle")
        .agg(count(lit(1)).as("df"))
        .filter($"df" <= ShingleDfCap)
        .select($"shingle")
      sh.join(lowDf, Seq("shingle"), "left_semi")
    }
  }

  /** Docs BLIND to the df-capped pair join: fewer than half their
    * shingles survive [[ShingleDfCap]]. These are exactly the members of
    * duplicate clusters larger than the cap — a template duplicated 200×
    * gives every one of its shingles df = 200, so the pruned join emits
    * no pair for them at all. The most-duplicated content is the primary
    * dedup target, so these docs get a MinHash-band fallback (below)
    * instead of silently vanishing. Integer comparison (2·kept < total)
    * keeps the predicate float-free on both engines. */
  private def cappedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    OpCache.cached(s, dir, "sh_capped_docs") {
      val full = shingleRows(s, dir).groupBy($"doc_id")
        .agg(count(lit(1)).as("n_sh"))
      val kept = prunedShingleRows(s, dir).groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"))
      full.join(kept, Seq("doc_id"), "left")
        .filter(coalesce($"n_kept", lit(0L)) * 2 < $"n_sh")
        .select($"doc_id")
    }
  }

  /** MinHash band candidates among capped docs, BOTH directions
    * (a_id ≠ b_id) so the directional containment fallback can reuse
    * them. Signatures are built only over the capped subset (a semi-join
    * before the min-agg), so on a corpus with no over-cap clusters this
    * whole branch aggregates nothing; at 100 TB it sizes with the blind
    * subset, not the corpus. Banding is the same 4×2 affine-MinHash
    * scheme as q_dedup_minhash_lsh: a band match needs 2 signature rows
    * equal, so unrelated high-df docs don't pair up — candidates size
    * with the true duplicate structure (whose pair output is inherently
    * quadratic in cluster size) rather than with shingle df. */
  private def cappedCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    OpCache.cached(s, dir, "sh_capped_cand") {
      val sig = minhashOf(shingleRows(s, dir)
        .join(cappedDocs(s, dir), Seq("doc_id"), "left_semi"))
      val banded = sig.select($"doc_id", explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            (col(s"mh${2 * b}") * 1000000009L + col(s"mh${2 * b + 1}")).as("bucket"))
        }: _*)).as("bb"))
        .select($"doc_id", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
      banded.select($"doc_id".as("a_id"), $"band", $"bucket")
        .join(banded.select($"doc_id".as("b_id"), $"band", $"bucket"),
          Seq("band", "bucket"))
        .filter($"a_id" =!= $"b_id")
        .select($"a_id", $"b_id").distinct()
    }
  }

  /** Candidate pairs from [[cappedCandidates]] exact-verified with FULL
    * shingle counts (the pruned common is ~0 for capped docs by
    * construction — the whole point). Verification joins shingles INTO
    * the candidate pairs, so it costs O(candidates × shingles/doc).
    *
    * Cached ONCE, in both-directions form, under a single key: the
    * jaccard consumers (symmetric, a<b) and the containment consumer
    * (directional) previously each re-ran the verification join; now
    * both derive from the same persisted (a_id, b_id, common, na, nb)
    * table — `common` is pair-symmetric, so the a<b filter on the
    * bidirectional table is exactly the one-directional verification. */
  private def cappedVerified(s: SparkSession, dir: String,
      bothDirections: Boolean): DataFrame = {
    import s.implicits._
    val both = OpCache.cached(s, dir, "sh_capped_verified") {
      val sh = shingleRows(s, dir)
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      cappedCandidates(s, dir)
        .join(sh.select($"doc_id".as("a_id"), $"shingle"), Seq("a_id"))
        .join(sh.select($"doc_id".as("b_id"), $"shingle"), Seq("b_id", "shingle"))
        .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("common"))
        .join(cnt.select($"doc_id".as("a_id"), $"n_sh".as("na")), Seq("a_id"))
        .join(cnt.select($"doc_id".as("b_id"), $"n_sh".as("nb")), Seq("b_id"))
    }
    if (bothDirections) both else both.filter($"a_id" < $"b_id")
  }

  /** Exact Jaccard ≥ 0.8 near-dup pairs via shingle-key equi-join on the
    * cached (df-capped) shingle table. The pair join shuffles by shingle
    * — the shape that survives 100 TB (no cross join, per-key skew
    * bounded by [[ShingleDfCap]]). Per-doc counts join AFTER the pair
    * aggregation as plain shuffle joins on the pair ids: the count table
    * has one row per document (billions at corpus scale), so it must
    * never be broadcast — and joining post-aggregation means it joins
    * against surviving pairs, not raw shingle rows. Docs blinded by the
    * df cap (members of over-cap duplicate clusters) re-enter through
    * the [[cappedVerified]] MinHash-band fallback; MAX over the union
    * prefers the full-count jaccard when a pair appears in both. */
  def dedupNearJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingleRows(s, dir)
    val shp = prunedShingleRows(s, dir)
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val main = shp.select($"doc_id".as("a_id"), $"shingle")
      .join(shp.select($"doc_id".as("b_id"), $"shingle"), Seq("shingle"))
      .filter($"a_id" < $"b_id")
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("common"))
      .join(cnt.select($"doc_id".as("a_id"), $"n_sh".as("na")), Seq("a_id"))
      .join(cnt.select($"doc_id".as("b_id"), $"n_sh".as("nb")), Seq("b_id"))
      .select($"a_id", $"b_id",
        round($"common".cast("double") / ($"na" + $"nb" - $"common"), 4)
          .as("jaccard"))
      .filter($"jaccard" >= 0.8)
    val fallback = cappedVerified(s, dir, bothDirections = false)
      .select($"a_id", $"b_id",
        round($"common".cast("double") / ($"na" + $"nb" - $"common"), 4)
          .as("jaccard"))
      .filter($"jaccard" >= 0.8)
    main.unionByName(fallback)
      .groupBy($"a_id", $"b_id").agg(max($"jaccard").as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** Duplicated-span detection: the 5-gram word spans shared by ≥2
    * documents, ranked by document frequency — the boilerplate/
    * template-phrase detector an LLM-data pipeline runs before span-
    * level dedup (repeated headers, license blurbs, navigation chrome).
    * One group-by over the shared shingle table: counts are per-doc-
    * distinct by construction (shingles are array_distinct'd per doc),
    * so n_docs IS document frequency. Linear, map-side combinable. */
  def dedupSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shingleRows(s, dir)
      .groupBy($"shingle")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .filter($"n_docs" >= 2)
      .orderBy($"n_docs".desc, $"shingle".asc)
      .limit(30)
  }

  /** Maximal duplicated-SPAN extension: for every document, the
    * maximal word ranges covered by 5-gram shingles that also appear
    * in at least one OTHER document — the span-level (substring) dedup
    * primitive: shared-phrase hits are extended and merged into the
    * longest contiguous duplicated region, which is what a training
    * pipeline actually cuts (a 60-word license blurb is one span to
    * remove, not 56 independent 5-gram hits). Spans shorter than 10
    * words are dropped (a lone 5-gram is phrase reuse, not
    * duplication).
    *
    * Shape: positional shingles (doc_id, pos, gram) — positions
    * matter, so NOT per-doc distinct — semi-joined on the shared-gram
    * key (df ≥ 2 computed on the per-doc-distinct table, so same-doc
    * repeats don't self-certify), then per-doc gaps-and-islands:
    * ranges [p, p+4] merge while the next hit starts ≤ 5 words after
    * the previous. Everything is integer word arithmetic — exact in
    * both engines by construction.
    *
    * Scale: the gram join shuffles by the 60-bit md5 of the gram —
    * 8-byte keys instead of ~40-byte five-word strings (measured ~2×
    * on the whole op at sf0.1); BOTH engines compute the identical
    * hash, so even a collision produces the same rows on both sides
    * and the hash gate still certifies exactness. The island windows
    * partition by doc_id (bounded by document length), and df ≥ 2
    * reuses the session-cached distinct shingle table. No all-pairs
    * anywhere — cost is O(total grams). */
  def dedupSpanExtend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // positional grams: pos = 1-based word index of the gram's start;
    // the gram travels only as its 60-bit hash
    val pos = Tables.t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("words"))
      .filter(size($"words") >= 5)
      .select($"doc_id", posexplode(transform(
        sequence(lit(0), size($"words") - 5),
        i => md5int(concat_ws(" ",
          element_at($"words", i + 1), element_at($"words", i + 2),
          element_at($"words", i + 3), element_at($"words", i + 4),
          element_at($"words", i + 5))))))
      .select($"doc_id", ($"pos" + 1).cast("long").as("pos"),
        $"col".as("gh"))
    // document frequency over per-doc-DISTINCT shingles: a gram is
    // "shared" only when ≥2 distinct docs carry it
    val shared = shingleRows(s, dir)
      .groupBy(md5int($"shingle").as("gh")).agg(count(lit(1)).as("df"))
      .filter($"df" >= 2).select($"gh")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    pos.join(shared, Seq("gh"))
      .select($"doc_id", $"pos")
      .withColumn("prev", lag($"pos", 1).over(w))
      .withColumn("brk",
        when($"prev".isNull || $"pos" > $"prev" + 5L, 1L).otherwise(0L))
      .withColumn("island", sum($"brk").over(w))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + 4L).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1L).as("span_words"), $"n_grams")
      .filter($"span_words" >= 10L)
      .orderBy($"doc_id", $"span_start")
  }

  /** Directional shingle CONTAINMENT ≥ 0.9: C(a→b) = |Sa∩Sb| / |Sa| —
    * the sub-document-duplicate detector (a contained in b scores high
    * even when b is much longer, where Jaccard would dilute). Same
    * scalable shape as Jaccard: equi-join on the shingle key over the
    * shared persisted df-capped shingle table; per-doc counts (full,
    * uncapped — the denominator is |Sa|) shuffle-join the aggregated
    * pairs, never broadcast (O(corpus) rows). */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shp = prunedShingleRows(s, dir)
    val cnt = shingleRows(s, dir)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val a = shp.select($"doc_id".as("a_id"), $"shingle")
    val b = shp.select($"doc_id".as("b_id"), $"shingle")
    val main = a.join(b, Seq("shingle"))
      .filter($"a_id" =!= $"b_id")
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("common"))
      .join(cnt.select($"doc_id".as("a_id"), $"n_sh".as("na")), Seq("a_id"))
      .select($"a_id", $"b_id",
        round($"common".cast("double") / $"na", 4).as("containment"))
      .filter($"containment" >= 0.9)
    // capped-doc fallback, directional (a≠b): same MinHash-band
    // candidates as the jaccard fallback, containment denominator |Sa|
    val fallback = cappedVerified(s, dir, bothDirections = true)
      .select($"a_id", $"b_id",
        round($"common".cast("double") / $"na", 4).as("containment"))
      .filter($"containment" >= 0.9)
    main.unionByName(fallback)
      .groupBy($"a_id", $"b_id").agg(max($"containment").as("containment"))
      .orderBy($"a_id", $"b_id")
  }

  /** Connected components over the Jaccard ≥ 0.8 near-dup pair graph:
    * each non-singleton document gets its CLUSTER representative (the
    * minimum doc_id reachable through near-dup edges) — the transitive
    * closure that turns pairwise similarity into dedup groups (A≈B≈C
    * must collapse to ONE cluster even when A≉C directly).
    *
    * Scale design: Pregel-style min-label propagation with POINTER
    * JUMPING — each round propagates one hop over the edges, then
    * shortcuts every label to its label's label (path halving), so
    * reach doubles per round and 20 rounds genuinely cover clusters of
    * radius ~2^20 (plain propagation would cap at radius 20 and throw
    * on longer boilerplate chains). Driver sees only a per-round
    * convergence aggregate — no row data. The DuckDB oracle is a
    * recursive CTE computing the same reachability minimum. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    OpCache.cached(s, dir, "dedup_cc_labels")(dedupClustersBuild(s, dir))
      .orderBy($"doc_id")
  }

  /** The eager fixpoint computation behind [[dedupClusters]] — runs once
    * per (session, sf) and is reused by q_dedup_survivors_near. */
  private def dedupClustersBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    connectedComponents(dedupNearJaccard(s, dir).select($"a_id", $"b_id"))
  }

  /** Min-label connected components over an undirected pair list
    * (a_id, b_id) — exposed so ScalaTest can drive the deep-chain
    * pointer-jumping path with a synthetic graph (the fixture corpus
    * only has shallow clusters). */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val (aCol, bCol) = (pairs.columns(0), pairs.columns(1))
    val p2 = pairs.select(col(aCol).as("a_id"), col(bCol).as("b_id"))
    // undirected: propagate labels both ways
    val edges = p2.union(p2.select($"b_id".as("a_id"), $"a_id".as("b_id")))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("rep"))
    // Convergence via the MONOTONE INVARIANT instead of a self-join:
    // min-propagation can only lower each rep, so Σrep strictly
    // decreases every non-converged round and is stable exactly at the
    // fixpoint. That makes the per-round driver action one tiny
    // aggregate over the new labels (already being materialized for the
    // next round) — the old propagated⋈labels diff count doubled each
    // round's join work just to ask "did anything change?".
    var prevSum = Option.empty[Long]
    var converged = false
    var round = 0
    while (!converged && round < 20) {
      // eager localCheckpoint: materializes the round AND truncates the
      // logical lineage — without it each round's plan references the
      // previous round twice (join + union), so the plan tree doubles
      // per round and a deep-chain run OOMs just RENDERING it. (On a
      // real cluster a reliable checkpoint dir does the same job with
      // fault tolerance; local mode has no lineage-recovery need.)
      val propagated = labels.join(edges, $"doc_id" === $"src")
        .select($"dst".as("doc_id"), $"rep")
        .union(labels)
        .groupBy($"doc_id").agg(min($"rep").as("rep"))
        .localCheckpoint(true)
      // Pointer jumping (shortcut each rep to ITS rep — min-invariant:
      // rep's rep ≤ rep, so it only lowers labels) doubles reach per
      // round but costs an extra self-join. Near-dup graphs are almost
      // always shallow, so the first rounds run plain 1-hop
      // propagation; if round 5 arrives unconverged the graph has deep
      // chains and jumping switches on — 15 doubling rounds then cover
      // radius ~2^15, vs the radius-20 cap plain propagation would
      // have.
      val next =
        if (round < 5) propagated
        else propagated
          .join(propagated.select($"doc_id".as("r_doc"), $"rep".as("r_rep")),
            $"rep" === $"r_doc")
          .select($"doc_id", least($"rep", $"r_rep").as("rep"))
          .localCheckpoint(true)
      // coalesce: sum over an EMPTY labels frame is NULL, and .as[Long]
      // on NULL throws — a zero-edge input (no near-dup pairs at all)
      // must converge gracefully, not NPE.
      val repSum = next.agg(coalesce(sum($"rep"), lit(0L))).as[Long].first()
      labels = next
      converged = prevSum.contains(repSum)
      prevSum = Some(repSum)
      round += 1
    }
    edges.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"dedup clustering did not converge in $round rounds")
    // checkpoint blocks of intermediate rounds are released by the
    // ContextCleaner once their RDDs are unreachable; the final frame
    // is what OpCache hands out (and re-persists for its registry)
    labels
  }

  /** The dedup END PRODUCT: the corpus with near-dup clusters collapsed
    * to their representative — every singleton plus one doc (the min
    * doc_id) per Jaccard-cluster. Composes q_dedup_clusters with an
    * anti-join; this is the materialization a training pipeline
    * actually writes out. */
  def dedupSurvivorsNear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val drop = dedupClusters(s, dir)
      .filter($"doc_id" =!= $"rep").select($"doc_id")
    Tables.t(s, dir, "documents")
      .join(drop, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** MinHash constants for the universal-hash family
    * h_k(x) = (A_k·x + B_k) mod P over base = md5int(shingle) mod 2^30.
    * One md5 per shingle instead of 8 (8× cheaper at scale); the affine
    * mixing is exact int64 arithmetic in both engines. */
  private[ops] val MhP = 1000000007L
  private[ops] def mhA(k: Int): Long = 2654435761L + 40503L * k
  private[ops] def mhB(k: Int): Long = 97L + 1000003L * k

  /** MinHash signatures: per doc, min over shingles of the k-th affine
    * hash of the shingle's md5 base — deterministic, engine-portable.
    * The 100-TB LSH path bands these signatures (q_dedup_minhash_lsh). */
  def dedupMinhashSig(s: SparkSession, dir: String): DataFrame =
    sigTable(s, dir).orderBy("doc_id")

  /** 32-bit SimHash fingerprint: per bit, vote +1/−1 over distinct word
    * hashes; bit set iff the vote is positive. Exact integer arithmetic
    * on both engines. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.t(s, dir, "documents")
      .select($"doc_id",
        explode(array_distinct(split($"text", " "))).as("word"))
      .select($"doc_id", md5int($"word").as("h"))
    val bits = words
      .select($"doc_id", $"h", explode(sequence(lit(0), lit(31))).as("bit"))
      .groupBy($"doc_id", $"bit")
      .agg(sum(when(expr("shiftright(h, CAST(bit AS INT)) & 1") === 1L,
        1L).otherwise(-1L)).as("vote"))
    bits.groupBy($"doc_id")
      .agg(sum(when($"vote" > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
        .otherwise(0L)).as("simhash"))
      .orderBy($"doc_id")
  }

  /** 60-bit SimHash per doc (same bit-vote construction as
    * dedupSimhash, wider fingerprint so the shared-vocabulary corpus
    * doesn't collapse into one bucket). Persisted: consumed by both
    * sides of the Hamming band join. */
  private def simhash60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    OpCache.cached(s, dir, "simhash60") {
      val words = Tables.t(s, dir, "documents")
        .select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("word"))
        .select($"doc_id", md5int($"word").as("h"))
      words
        .select($"doc_id", $"h", explode(sequence(lit(0), lit(59))).as("bit"))
        .groupBy($"doc_id", $"bit")
        .agg(sum(when(expr("shiftright(h, CAST(bit AS INT)) & 1") === 1L,
          1L).otherwise(-1L)).as("vote"))
        .groupBy($"doc_id")
        .agg(sum(when($"vote" > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
          .otherwise(0L)).as("sh"))
    }
  }

  /** SimHash near-dup CLUSTERING: each doc is assigned the minimum
    * doc_id among all docs within Hamming distance ≤ 2 of its 60-bit
    * SimHash (including itself) — the dedup-cluster representative —
    * plus its neighbor count.
    *
    * Scale design: EXACT pigeonhole banding. The fingerprint splits
    * into 3 disjoint 20-bit blocks; two fingerprints within distance 2
    * differ in at most 2 blocks, so they MATCH on at least one —
    * candidates come from an equi-join on (block, block-value), shuffled
    * by block key, recall exactly 1. Verification is a codegen'd
    * `bit_count(a ^ b)` on the candidate pairs only. This is the banded
    * near-dup shape with genuinely exact pruning (unlike probabilistic
    * MinHash bands), and at 100 TB it shuffles 8-byte fingerprints,
    * never text. */
  def dedupSimhashCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = simhash60(s, dir)
    def banded(idCol: String, shCol: String) =
      fp.select($"doc_id".as(idCol), $"sh".as(shCol),
        explode(array((0 until 3).map { b =>
          struct(lit(b).as("blk"),
            expr(s"shiftright(sh, ${20 * b}) & 1048575").as("key"))
        }: _*)).as("bb"))
        .select(col(idCol), col(shCol), $"bb.blk".as("blk"), $"bb.key".as("key"))
    val cand = banded("a_id", "sh_a")
      .join(banded("b_id", "sh_b"), Seq("blk", "key"))
      .select($"a_id", $"b_id", $"sh_a", $"sh_b").distinct()
    cand
      .filter(expr("bit_count(sh_a ^ sh_b)") <= 2) // self-pairs: distance 0
      .groupBy($"a_id".as("doc_id"))
      .agg(min($"b_id").as("rep_id"), (count(lit(1)) - 1).as("n_near"))
      .orderBy($"doc_id")
  }

  /** Brute-force cosine top-10 per probe (vec_id < 10). Rank on the
    * 4-dp-rounded similarity + vec_id tiebreak so ordering is immune to
    * sub-round float noise. The fold order (left→right over the 64
    * elements) is identical in both engines, so the doubles are in fact
    * bit-identical. */
  /** BINARY-quantized similarity search — the 1-bit embedding path
    * modern retrieval stacks use when float vectors outgrow memory:
    * each 64-dim vector collapses to its sign bitmap (two packed
    * 32-bit halves in BIGINTs — shifts stay ≤31 so the packing is
    * exact in every engine), and neighbor ranking is Hamming distance
    * = popcount(xor) — pure integer, so unlike every float-scored ANN
    * variant this one is fully ORACLED. 64× smaller vectors, XOR+
    * popcount per comparison; the probe side is confined to 10
    * vectors (same discipline as `q_sim_topk_cosine` — brute force
    * never touches corpus×corpus). */
  /** Sign-bitmap packing of a 32-dim slice into one BIGINT (SQL-HOF
    * string — shared by the Hamming and re-rank ops; shifts ≤31 keep
    * the packing exact in every engine). */
  private def binPack(off: Int, out: String): String =
    s"""aggregate(transform(sequence(0, 31),
       |  i -> IF(element_at(embedding, i + $off) >= CAST(0 AS FLOAT),
       |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
       |  CAST(0 AS BIGINT), (a, x) -> a + x) AS $out""".stripMargin

  def simBinaryHamming(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val packed = OpCache.cached(s, dir, "binhash")(
      Tables.t(s, dir, "embeddings")
        .selectExpr("vec_id", binPack(1, "h1"), binPack(33, "h2")))
    val probes = packed.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"h1".as("p1"), $"h2".as("p2"))
    val corpus = packed
      .select($"vec_id".as("nbr_id"), $"h1".as("c1"), $"h2".as("c2"))
    val scored = broadcast(probes).join(corpus, $"probe_id" =!= $"nbr_id")
      .select($"probe_id", $"nbr_id",
        (expr("bit_count(p1 ^ c1)") + expr("bit_count(p2 ^ c2)"))
          .cast("int").as("hamming"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"hamming".asc, $"nbr_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"probe_id", $"rank".cast("int").as("rank"), $"nbr_id",
        $"hamming")
      .orderBy($"probe_id", $"rank")
  }

  /** TWO-STAGE retrieval: Hamming shortlist → exact cosine re-rank —
    * the production binary-embedding pattern (coarse 1-bit filter
    * cuts the candidate set 64×-cheaply, the float metric only ever
    * touches the survivors). Stage 1 takes each probe's top-50 by
    * packed-sign Hamming; stage 2 re-ranks those 50 with the fused
    * native cosine and keeps 10. Both stages are deterministic
    * (integer distance; 4-dp rounded cosine with id tiebreak), so
    * the full pipeline is oracled — recall-vs-brute-force is visible
    * by diffing against `q_sim_topk_cosine` directly. */
  def simBinaryRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val packed = OpCache.cached(s, dir, "binhash")(
      Tables.t(s, dir, "embeddings")
        .selectExpr("vec_id", binPack(1, "h1"), binPack(33, "h2")))
    val probes = packed.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"h1".as("p1"), $"h2".as("p2"))
    val corpus = packed
      .select($"vec_id".as("nbr_id"), $"h1".as("c1"), $"h2".as("c2"))
    val hw = Window.partitionBy($"probe_id")
      .orderBy($"hamming".asc, $"nbr_id".asc)
    val shortlist = broadcast(probes)
      .join(corpus, $"probe_id" =!= $"nbr_id")
      .select($"probe_id", $"nbr_id",
        (expr("bit_count(p1 ^ c1)") + expr("bit_count(p2 ^ c2)"))
          .cast("int").as("hamming"))
      .withColumn("hrank", row_number().over(hw))
      .filter($"hrank" <= 50)
      .select($"probe_id", $"nbr_id")
    val e = Tables.t(s, dir, "embeddings")
    val rr = shortlist
      .join(broadcast(e.select($"vec_id".as("probe_id"),
        $"embedding".as("pe"))), Seq("probe_id"))
      .join(e.select($"vec_id".as("nbr_id"), $"embedding".as("ce")),
        Seq("nbr_id"))
      .select($"probe_id", $"nbr_id",
        round(graft.functions.CosineSimF.cosine($"pe", $"ce"), 4)
          .as("sim4"))
    val cw = Window.partitionBy($"probe_id")
      .orderBy($"sim4".desc, $"nbr_id".asc)
    rr.withColumn("rank", row_number().over(cw))
      .filter($"rank" <= 10)
      .select($"probe_id", $"rank".cast("int").as("rank"), $"nbr_id",
        $"sim4")
      .orderBy($"probe_id", $"rank")
  }

  def simTopkCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // fused native codegen'd expression (one array pass per pair for
    // dot + both norms); bit-identical to the composed HOF/DotProductF
    // form — equivalence pinned in ScalaTest
    val e = Tables.t(s, dir, "embeddings")
    val probes = e.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
    val corpus = e.select($"vec_id".as("nbr_id"), $"embedding".as("ce"))
    val scored = broadcast(probes).join(corpus, $"probe_id" =!= $"nbr_id")
      .select($"probe_id", $"nbr_id",
        round(graft.functions.CosineSimF.cosine($"pe", $"ce"), 4).as("sim4"))
    val w = Window.partitionBy($"probe_id").orderBy($"sim4".desc, $"nbr_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"probe_id", $"rank".cast("int").as("rank"), $"nbr_id", $"sim4")
      .orderBy($"probe_id", $"rank")
  }

  /** MinHash-LSH approximate near-dup join — the variant that scales.
    * Banded LSH over the affine MinHash signatures: 4 bands × 2 rows;
    * docs sharing a band bucket become candidates (shuffle by bucket
    * key, never all-pairs), then candidates are verified with the exact
    * Jaccard ≥ 0.5. Fully deterministic ⇒ oracled, unlike a seeded
    * MLlib pipeline (MLlib LSH is exercised by q_sim_lsh_knn). */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingleRows(s, dir)
    val sig = sigTable(s, dir)
    // band b pairs signature rows (2b, 2b+1) into one bucket key.
    // One explode instead of a 4-way union: the union re-ran the `sig`
    // aggregation per branch (and per join side — 8× total, the round-1
    // 12s tail). `sig` itself is persisted (see sigTable), so each join
    // side is a cache scan, not a re-aggregation.
    val banded = sig.select($"doc_id", explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          (col(s"mh${2 * b}") * 1000000009L + col(s"mh${2 * b + 1}")).as("bucket"))
      }: _*)).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
    val cand = banded.select($"doc_id".as("a_id"), $"band", $"bucket")
      .join(banded.select($"doc_id".as("b_id"), $"band", $"bucket"),
        Seq("band", "bucket"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
    // exact verification of the bucket candidates — CANDIDATES ONLY.
    // `common` is computed by joining shingles INTO the candidate pairs
    // (cand → a-side shingles → b-side match), so verification costs
    // O(candidate pairs × shingles/doc), not O(corpus shingles²): the
    // whole point of LSH at 100 TB.
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.select($"doc_id".as("a_id"), $"shingle"), Seq("a_id"))
      .join(sh.select($"doc_id".as("b_id"), $"shingle"), Seq("b_id", "shingle"))
      .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("common"))
    // count joins are plain shuffle joins: cnt is one row per document
    // (O(corpus) — never broadcastable), and `common` is already the
    // small verified-candidate table, so the shuffle is cheap.
    common
      .join(cnt.select($"doc_id".as("a_id"), $"n_sh".as("na")), Seq("a_id"))
      .join(cnt.select($"doc_id".as("b_id"), $"n_sh".as("nb")), Seq("b_id"))
      .select($"a_id", $"b_id",
        round($"common".cast("double") / ($"na" + $"nb" - $"common"), 4)
          .as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"a_id", $"b_id")
  }

  /** Incremental (delta) near-dup admission — match a NEW batch of
    * documents against the EXISTING corpus without ever joining the
    * corpus to itself. Batch membership is deterministic here
    * (doc_id % 20 = 0, ~5% of the corpus plays "today's crawl") so the
    * op stays oracle-able; in production the batch is the new ingest
    * partition and the predicate is a partition filter.
    *
    * Scale design: the corpus is ONLY touched through its MinHash band
    * index ([[sigTable]] — persisted once per session here; a real
    * deployment materializes it as a bucketed table keyed by
    * (band, bucket) and appends each admitted batch's signatures, so
    * successive batches never recompute corpus state). Probing is an
    * equi-join of O(batch) banded keys against that index — shuffled by
    * bucket key, never corpus×corpus; per-batch cost is
    * O(batch + candidates), independent of corpus size once the index
    * exists. Exact Jaccard verification joins full shingles INTO the
    * candidate pairs only (the q_dedup_minhash_lsh shape). Per-doc
    * verdict: n_dup corpus matches at jaccard ≥ 0.5, rep_id = smallest
    * matching corpus id, max_jacc; n_dup = 0 ⇒ the batch doc is novel
    * and admitted. */
  def dedupDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingleRows(s, dir)
    def banded(d: DataFrame, id: String) =
      d.select($"doc_id", explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            (col(s"mh${2 * b}") * 1000000009L + col(s"mh${2 * b + 1}")).as("bucket"))
        }: _*)).as("bb"))
        .select($"doc_id".as(id), $"bb.band".as("band"), $"bb.bucket".as("bucket"))
    val sig = sigTable(s, dir)
    val corpusIx = banded(sig.filter($"doc_id" % 20 =!= 0), "old_id")
    val probes = banded(sig.filter($"doc_id" % 20 === 0), "new_id")
    val cand = probes.join(corpusIx, Seq("band", "bucket"))
      .select($"new_id", $"old_id").distinct()
    // count side is O(corpus) — plain shuffle join, never broadcast
    // (same contract as the other dedup consumers; pinned in PlanSpec).
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val verified = cand
      .join(sh.select($"doc_id".as("new_id"), $"shingle"), Seq("new_id"))
      .join(sh.select($"doc_id".as("old_id"), $"shingle"), Seq("old_id", "shingle"))
      .groupBy($"new_id", $"old_id").agg(count(lit(1)).as("common"))
      .join(cnt.select($"doc_id".as("new_id"), $"n_sh".as("na")), Seq("new_id"))
      .join(cnt.select($"doc_id".as("old_id"), $"n_sh".as("nb")), Seq("old_id"))
      .select($"new_id", $"old_id",
        round($"common".cast("double") / ($"na" + $"nb" - $"common"), 4)
          .as("jaccard"))
      .filter($"jaccard" >= 0.5)
    val perDoc = verified.groupBy($"new_id")
      .agg(count(lit(1)).as("n_dup"), min($"old_id").as("rep_id"),
        max($"jaccard").as("max_jacc"))
    Tables.t(s, dir, "documents").filter($"doc_id" % 20 === 0)
      .select($"doc_id")
      .join(perDoc.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_dup", lit(0L)).as("n_dup"),
        $"rep_id", $"max_jacc")
      .orderBy($"doc_id")
  }

  /** Training-data decontamination — flag training documents that share
    * any 5-gram shingle with a benchmark/eval set (here: `source =
    * 'src0'` plays the held-out benchmark; in production it's the
    * curated eval corpus). This is NOT dedup: the contamination signal
    * is cross-set containment of even ONE n-gram (the standard
    * train/test leakage gate), not high pairwise similarity.
    *
    * Scale shape: the benchmark side is bounded by construction (a
    * curated eval set — thousands of docs against a 100-TB corpus), so
    * it gets an EXPLICIT broadcast: the training corpus' shingle rows
    * stream map-side against the broadcast benchmark n-gram table and
    * never shuffle. This is the inverse contract of the per-document
    * count tables (O(corpus), pinned never-broadcast): broadcast is
    * pinned PRESENT here (PlanSpec). Output per contaminated doc:
    * distinct contaminated shingles + distinct benchmark docs hit. */
  def textDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents").select($"doc_id", $"source")
    val sh = shingleRows(s, dir)
    val bench = sh.join(docs.filter($"source" === "src0"), Seq("doc_id"))
      .select($"doc_id".as("bench_id"), $"shingle")
    val train = sh.join(docs.filter($"source" =!= "src0"), Seq("doc_id"))
      .select($"doc_id", $"shingle")
    train.join(broadcast(bench), Seq("shingle"))
      .groupBy($"doc_id")
      .agg(count_distinct($"shingle").as("n_hits"),
        count_distinct($"bench_id").as("n_bench_docs"))
      .orderBy($"doc_id")
  }

  /** Embedding-cosine near-dup: all pairs with 4-dp cosine ≥ 0.45
    * (the synthetic corpus has no clusters — max pair cosine ≈ 0.51 —
    * so the threshold sits inside the observed range).
    *
    * Scale design — EXACT pivot-distance banding, not a nested loop.
    * Cosine is scale-invariant, so norm buckets cannot prune it; the
    * sound exact prefilter is the triangle inequality in NORMALIZED
    * space: with p(v) = ‖v/‖v‖ − p̂‖ the distance to a fixed unit
    * pivot, every qualifying pair (cos ≥ t ⟺ normalized distance
    * ≤ √(2−2t)) satisfies |p(a) − p(b)| ≤ √(2−2t). Vectors are
    * bucketed by ⌊p/w⌋ and candidates come from an EQUI-join on
    * (bucket, bucket±k) — shuffled by bucket key, per-task pair count
    * bounded by bucket population, no unbounded cross join in the
    * plan. Exact cosine verification follows, so the output is
    * IDENTICAL to the brute-force definition (banding has recall 1 by
    * the inequality; the 1e-3 threshold slack τ=1.05 > √(2−2·0.44995)
    * absorbs float noise). At a real near-dup threshold (cos ≥ 0.99 ⇒
    * τ = 0.14) the same plan visits only adjacent thin shells — the
    * 100-TB shape. On this corpus the 0.45 threshold spans most of the
    * data diameter, so pruning is necessarily modest; the POINT is the
    * plan shape, which no exact method can improve at this threshold. */
  def dedupNearEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dot(x: Column, y: Column): Column = graft.functions.DotProductF.dot(x, y)
    val tau = 1.05   // ≥ √(2−2·0.44995): covers the 4-dp-rounded cutoff
    val w = 0.15     // bucket width; k = ⌊τ/w⌋+1 neighbor offsets
    val k = (tau / w).toInt + 1
    // norms precomputed per vector (n values), not per pair (n²/2 × 2)
    val e = Tables.t(s, dir, "embeddings")
      .select($"vec_id", $"embedding", sqrt(dot($"embedding", $"embedding")).as("nrm"))
    // deterministic pivot: the vector with the smallest vec_id
    val piv = e.orderBy($"vec_id").limit(1)
      .select($"embedding".as("pe"), $"nrm".as("pn"))
    // persisted: four consumers below (two key sides, two vector sides)
    // would otherwise re-run the scan + pivot job + dot products each
    val banded = OpCache.cached(s, dir, "emb_banded") {
      e.crossJoin(broadcast(piv))
        .select($"vec_id", $"embedding", $"nrm",
          floor(sqrt(greatest(lit(0.0),
            lit(2.0) - lit(2.0) * dot($"embedding", $"pe") / ($"nrm" * $"pn")))
            / w).cast("long").as("bucket"))
    }
    // narrow (id, bucket) table for candidate generation — the 64-float
    // array is NOT carried through the offset explode (array-carry
    // through Generate copies it per row: measured 12× slower)
    val aKeys = banded.select($"vec_id".as("a_id"), $"bucket")
      .withColumn("tgt", explode(array((-k to k).map(o => $"bucket" + o): _*)))
    val bKeys = banded.select($"vec_id".as("b_id"), $"bucket".as("tgt"))
    val cand = aKeys.join(bKeys, Seq("tgt"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id")
    // exact verification on candidates only
    val av = banded.select($"vec_id".as("a_id"), $"embedding".as("ea"), $"nrm".as("na"))
    val bv = banded.select($"vec_id".as("b_id"), $"embedding".as("eb"), $"nrm".as("nb"))
    cand.join(av, Seq("a_id")).join(bv, Seq("b_id"))
      .select($"a_id", $"b_id",
        round(dot($"ea", $"eb") / ($"na" * $"nb"), 4).as("sim4"))
      .filter($"sim4" >= 0.45)
      .orderBy($"a_id", $"b_id")
  }

  /** int8 scalar quantization of the embedding column — the 4×
    * compression stage a 100-TB vector corpus runs before ANN. The
    * grid is FIXED (code = ⌊127·x + 0.5⌋, unit-norm inputs ⇒ |x| ≤ 1):
    * 127·x is exact in double for any float x (mantissa ≤ 24+7 bits),
    * +0.5 exact, floor of an exact dyadic double is identical in both
    * engines — the whole op is integer-deterministic with zero
    * float-rounding ambiguity (unlike per-vector max-abs rescaling,
    * whose quotients can straddle a .5 boundary). Codes are emitted as
    * a canonical comma string (the comparator can't hash arrays);
    * reconstruction error is bounds-checked in ScalaTest. */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = transform($"embedding",
      x => floor(x.cast("double") * 127d + 0.5d).cast("long"))
    Tables.t(s, dir, "embeddings")
      .select(
        $"vec_id",
        array_join(codes.cast("array<string>"), ",").as("codes"),
        aggregate(codes, lit(0L), (a, c) => a + c).as("code_sum"),
        size(filter(codes, c => c > 0L)).as("n_pos"))
      .orderBy($"vec_id")
  }

  /** IVF (inverted-file) ANN — the other scale path beside LSH: KMeans
    * coarse quantizer (fixed seed), probes search only the nearest
    * `nprobe` centroid cells instead of the full corpus. Approx +
    * trained centroids ⇒ no SQL oracle; recall vs brute force is
    * bounds-checked in ScalaTest. */
  def simIvfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopk(s, dir, nprobe = 4)

  /** One-shot coarse-quantizer build shared by [[simIvfTopk]] and
    * [[simIvfSweep]] (round-7 advice: the sweep must not re-fit KMeans
    * once per nprobe — 5 identical fits for no behavioral gain):
    * fixed-seed KMeans centers + the cell-assigned corpus,
    * OpCache-persisted so all probe stages share one assignment. The
    * cell is the nearest center by [[Embeddings.nearestCellsExpr]], the
    * same expression the probe side ranks cells with, so no closure UDF
    * and no MLlib model crosses into the plan. */
  private[graft] def ivfIndex(s: SparkSession, dir: String)
      : (Array[Array[Double]], DataFrame) =
    ivfIndexOn(s, dir, "", Tables.t(s, dir, "embeddings"))

  /** The IVF fit/assign over an EXPLICIT corpus frame — `tag` scopes
    * the centers memo and the cell-assignment cache so a SUBSET index
    * (the delta-serving base, round 14) coexists with the full one. */
  private def ivfIndexOn(s: SparkSession, dir: String, tag: String,
      rows: DataFrame): (Array[Array[Double]], DataFrame) = {
    import s.implicits._
    // one KMeans fit per (session, sf, tag): the NSW graph/search
    // family calls [[ivfIndex]] from several stages, and re-fitting the
    // (deterministic, seeded) quantizer each time was pure waste
    val centers = OpCache.memo(s, dir, s"ivf_kmeans$tag")(
      Embeddings.kmeansCenters(rows.select($"embedding".cast("array<double>")),
        k = 16, seed = 42L, maxIter = 10))
    val corpus = OpCache.cached(s, dir, s"ivf_corpus$tag")(
      rows.select($"vec_id", $"embedding", Embeddings.nearestCellsExpr(
        centers, $"embedding", 1).getItem(0).as("cell")))
    (centers, corpus)
  }

  /** The IVF search parameterized by nprobe over a prebuilt index. */
  private def ivfTopk(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val (centers, corpus) = ivfIndex(s, dir)
    ivfSearch(s, centers, corpus, nprobe)
  }

  /** The IVF candidate set (probe × probed-cell members) — the rows
    * the search SCORES; its count is the search's honest budget. Each
    * row carries `pos`, the rank of its cell among the probe's cells
    * in distance order (0 = nearest): the `nprobe` cells are a prefix
    * of the full order, so the rows with `pos < np` are exactly the
    * nprobe-`np` candidates, and one frame over all cells serves every
    * point of the sweep. The probe side (10 probes × `nprobe` cells) is
    * bounded, so it is the broadcast side; left to the planner, AQE
    * sometimes broadcast the corpus instead, and the sweep's shuffle
    * bytes changed from run to run. */
  private def ivfCandidates(s: SparkSession, centers: Array[Array[Double]],
      corpus: DataFrame, nprobe: Int): DataFrame = {
    import s.implicits._
    broadcast(corpus
      .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
      .filter($"probe_id" < 10)
      .select($"probe_id", $"pe", posexplode(Embeddings.nearestCellsExpr(
        centers, $"pe", nprobe)).as(Seq("pos", "cell"))))
      .join(corpus, Seq("cell"))
      .filter($"probe_id" =!= $"vec_id")
  }

  /** One `sim4` score per (probe, candidate) pair, keeping `pos`. */
  private def ivfScored(s: SparkSession, cand: DataFrame): DataFrame = {
    import s.implicits._
    cand.select($"probe_id", $"pos", $"vec_id".as("nbr_id"),
      round(graft.functions.CosineSimF.cosine($"pe", $"embedding"), 4)
        .as("sim4"))
  }

  /** The per-probe top-10 by (sim4 DESC, nbr_id ASC). */
  private def ivfSearch(s: SparkSession, centers: Array[Array[Double]],
      corpus: DataFrame, nprobe: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = ivfScored(s, ivfCandidates(s, centers, corpus, nprobe))
    val w = Window.partitionBy($"probe_id").orderBy($"sim4".desc, $"nbr_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"probe_id", $"rank".cast("int").as("rank"), $"nbr_id", $"sim4")
      .orderBy($"probe_id", $"rank")
  }

  /** IVF recall curve — the ANN ENGINEERING readout that decides the
    * nprobe knob in production: recall@10 of the IVF search vs the
    * brute-force truth, per nprobe ∈ {1, 2, 4, 8, 16}. Recall is an
    * exact integer ppm (matched neighbors ×10⁶ div expected), and the
    * curve carries its own correctness witness: at nprobe = K = 16
    * every cell is probed, so IVF degenerates to brute force and the
    * recall MUST be exactly 10⁶ — pinned in ScalaTest along with
    * monotonicity. Non-oracled (seeded KMeans cells), like the other
    * trained-index ops.
    *
    * Scale shape: one KMeans fit, then ONE planned query — the
    * candidate join over all K cells, each (probe, candidate) pair
    * scored once and fanned out to the points whose nprobe exceeds its
    * cell rank (the incremental top-k idea: a wider search reuses the
    * narrower one's candidates). The scored rows equal the widest
    * point's join, bounded by probes × corpus; the brute-force
    * comparison is confined to the 10-probe evaluation set. Building
    * the frame runs no Spark job once the index is memoized. */
  def simIvfSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val points = Seq(1, 2, 4, 8, 16)
    val (centers, corpus) = ivfIndex(s, dir)
    val scored = ivfScored(s,
      ivfCandidates(s, centers, corpus, centers.length))
    // a pair whose cell ranks `pos` is a candidate at every np > pos
    val fanned = scored.withColumn("nprobe",
      explode(filter(typedLit(points), np => np > $"pos")))
    sweepRecall(s, dir, "nprobe", points, fanned)
  }

  /** The recall rows of an ANN sweep: `scored` holds every scored
    * candidate (`point`, probe_id, nbr_id, sim4) of every sweep point.
    * Per point: `n_scored` (its budget), `n_matched` (its top-10 per
    * probe that is in the brute-force truth), `n_expected` and the
    * integer `recall_ppm`. One planned query over the unpersisted
    * truth; building it runs no job. */
  private def sweepRecall(s: SparkSession, dir: String, point: String,
      points: Seq[Int], scored: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(point), $"probe_id")
      .orderBy($"sim4".desc, $"nbr_id".asc)
    val truth = simTopkCosine(s, dir)
      .select($"probe_id", $"nbr_id", lit(true).as("hit"))
    val perPoint = scored.withColumn("rank", row_number().over(w))
      .join(truth, Seq("probe_id", "nbr_id"), "left")
      .groupBy(col(point))
      .agg(count(lit(1)).as("n_scored"),
        count(when($"rank" <= 10 && $"hit", lit(1))).as("n_matched"))
    val expected = truth.agg(count(lit(1)).as("n_expected"))
    // driven from the point list: a point with no candidates still
    // yields its row, as a per-point composition would. Both sides
    // joined to it hold at most one row per point, and the list is one
    // partition, so the final sort needs no exchange.
    points.toDF(point).coalesce(1)
      .join(broadcast(perPoint), Seq(point), "left")
      .crossJoin(broadcast(expected))
      .select(col(point),
        coalesce($"n_scored", lit(0L)).as("n_scored"),
        coalesce($"n_matched", lit(0L)).as("n_matched"),
        $"n_expected")
      .withColumn("recall_ppm", expr("n_matched * 1000000 div n_expected"))
      .orderBy(col(point))
  }

  /** IVF-PQ retrieval with ASYMMETRIC-DISTANCE (ADC) scoring — the
    * memory-bound ANN composition of three existing parts: the IVF
    * coarse cells ([[ivfIndex]]), the learned µ-grid PQ codebooks
    * (`Embeddings.pqCodebooks` — q_emb_pq_learned's model), and the
    * two-stage shortlist→exact-rerank shape (q_sim_binary_rerank's
    * precedent). Per probe, a LOOKUP TABLE lut[b][c] = ‖q_b − c_{b,c}‖²
    * (exact integer µ²-units, 8×16 longs) is built driver-side from the
    * frozen codebooks; scoring a candidate is then Σ_b lut[b][code_b] —
    * an 8-element integer gather that reads ONLY the candidate's 8
    * PQ codes. The ADC shortlist (top-128 per probe — 12.8×k, the standard
    * rerank-depth margin that keeps ADC quantization error from
    * costing recall — id tiebreak) is
    * exact-reranked by cosine over the floats.
    *
    * Memory story (the point of PQ at 100 TB): the ADC scan touches
    * 8 × 4-bit codes ≈ 4 B/vector vs 64 × 4 B = 256 B/vector on the
    * float path — 64× less scan bandwidth, and the probed-cell float
    * reads after it are bounded by shortlist × probes, never the
    * corpus. Scale shape: codes ride the same cell-keyed join as plain
    * IVF (shuffle keyed by cell, candidates bounded by probed-cell
    * population); the LUT build is O(probes × 128) driver integers.
    * Non-oracled (trained codebooks + seeded KMeans cells); ScalaTest
    * pins recall ≥ the plain-IVF recall at equal nprobe. */
  def simIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nprobe = 4
    val shortlist = 128
    val (centers, corpus) = ivfIndex(s, dir)
    val codebooks = Embeddings.pqCodebooks(s, dir)
    val enc = Embeddings.pqEncoder(codebooks)
    val encoded = OpCache.cached(s, dir, "ivfpq_codes")(
      corpus.select($"vec_id", $"cell", enc($"embedding").as("r"))
        .select($"vec_id", $"cell", $"r._1".as("codes")))
    // bounded probe set (the 10-probe evaluation convention), collected
    // once; probed cells + LUTs are deterministic driver arithmetic —
    // the cell distances use the same fold order and (d, i) tiebreak as
    // ivfSearch's expression path
    val probeRows = corpus.filter($"vec_id" < 10)
      .select($"vec_id", $"embedding").collect().sortBy(_.getLong(0))
    val probeDefs = probeRows.toSeq.map { r =>
      val id = r.getLong(0)
      val q = r.getSeq[Float](1)
      val cells = centers.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < c.length) { val t = q(j).toDouble - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2).toSeq
      val qu = q.map(x => math.floor(x.toDouble * 1000000 + 0.5).toLong)
      val lut = (0 until 8).map { b =>
        (0 until 16).map { c =>
          var d = 0L; var j = 0
          while (j < 8) {
            val t = qu(b * 8 + j) - codebooks(b)(c)(j); d += t * t; j += 1
          }
          d
        }
      }
      (id, cells, lut)
    }
    val probes = probeDefs
      .flatMap { case (id, cells, lut) => cells.map(c => (id, c, lut)) }
      .toDF("probe_id", "cell", "lut")
    // ADC: an integer µ²-unit 8-gather per candidate — no float touched
    val adc = probes.join(encoded, Seq("cell"))
      .filter($"probe_id" =!= $"vec_id")
      .select($"probe_id", $"vec_id".as("nbr_id"),
        aggregate(zip_with($"codes", $"lut",
          (c, l) => element_at(l, c + 1)), lit(0L), (a, x) => a + x)
          .as("adc_u2"))
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy($"probe_id")
      .orderBy($"adc_u2".asc, $"nbr_id".asc)
    val short = adc.withColumn("srank", row_number().over(wS))
      .filter($"srank" <= shortlist)
      .select($"probe_id", $"nbr_id")
    // exact re-rank of the shortlist only — the sole float reads
    val pv = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
    val nv = corpus.select($"vec_id".as("nbr_id"), $"embedding".as("ne"))
    val wR = Window.partitionBy($"probe_id")
      .orderBy($"sim4".desc, $"nbr_id".asc)
    short.join(broadcast(pv), Seq("probe_id")).join(nv, Seq("nbr_id"))
      .select($"probe_id", $"nbr_id",
        round(graft.functions.CosineSimF.cosine($"pe", $"ne"), 4).as("sim4"))
      .withColumn("rank", row_number().over(wR))
      .filter($"rank" <= 10)
      .select($"probe_id", $"rank".cast("int").as("rank"), $"nbr_id", $"sim4")
      .orderBy($"probe_id", $"rank")
  }

  /** Out-degree of the NSW neighbor graph. */
  private val NswM = 8

  /** NSW NEIGHBOR GRAPH (round 13 — the HNSW family beside IVF/PQ/LSH,
    * r12 verdict item #8): each corpus vector keeps directed edges to
    * its [[NswM]] most-cosine-similar neighbors, found among nodes
    * sharing one of its THREE nearest coarse cells (home + two
    * runners-up — the runner-up cells stitch the graph across cell
    * borders, so beam search can leave a bad entry cell). This is the
    * flat-graph tier of HNSW; the hierarchy's one job — a good entry
    * point — is done by the IVF coarse layer instead (the hybrid every
    * disk-resident graph index documents: quantizer entry + graph
    * refinement).
    *
    * Scale shape: build candidates are CELL-BOUNDED (node × its three
    * cells' members — the same join budget as an IVF probe, never the
    * n² all-pairs), the per-node top-M compiles to WindowGroupLimit,
    * and the finished graph is O(n·M) rows keyed by source — the
    * shuffle-free adjacency a distributed beam search walks. Fully
    * deterministic (seeded cells, exact distances, id tiebreaks). */
  private[graft] def nswGraph(s: SparkSession, dir: String): DataFrame = {
    val (centers, corpus) = ivfIndex(s, dir)
    nswGraphOn(s, dir, "", centers, corpus)
  }

  /** The NSW build over an EXPLICIT (centers, corpus) — `tag` scopes
    * the cache like [[ivfIndexOn]] (round 14: the delta-serving BASE
    * graph is a subset build). */
  private def nswGraphOn(s: SparkSession, dir: String, tag: String,
      centers: Array[Array[Double]], corpus: DataFrame): DataFrame =
    OpCache.cached(s, dir, s"nsw_graph$tag") {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // build-scoped persist, released before the cached graph returns
      // (a leaked persist would outlive OpCache.clear and quietly
      // carry across bench reps)
      val vecs = corpus.select($"vec_id", $"embedding").persist()
      val p = corpus.sparkSession.sparkContext.defaultParallelism
      // dedup then rank: the plan runs TWO exchanges, hash(src,dst)
      // for the groupBy-min and then hash(src) for the window. (A
      // hash(src) alone would satisfy both; nothing places it there
      // yet.) min() over duplicates is grouping-invariant (identical
      // sim4), and the row_number orderBy is a total order, so the
      // kept edges are deterministic.
      def topM(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy($"src").orderBy($"sim4".desc, $"dst".asc)
        scored.groupBy($"src", $"dst").agg(min($"sim4").as("sim4"))
          .withColumn("r", row_number().over(w)).filter($"r" <= NswM)
          .select($"src", $"dst", $"sim4")
      }
      // seed graph: cell-bounded candidates (node × its THREE nearest
      // cells' members — the runner-up cells stitch across borders).
      // The embeddings RIDE the cell self-join and each pair is scored
      // IN the join stage (r15, guide §2.3/§8): the former
      // pairs→distinct→join(vecs src)→join(vecs dst) shape shuffled the
      // O(candidate) pair set through three more exchanges just to
      // re-attach vectors the join already had in hand. A pair sharing
      // k (≤3) cells is scored k times — identical sim4 each time (one
      // fixed fold over the same arrays) — and min() collapses the
      // duplicates in the same shuffle that used to be `distinct`, so
      // the seeded graph is bit-identical while the pair set crosses
      // the wire once instead of four times.
      // cell assignment runs WIDE (r16): the corpus cache carries the
      // scan's single-file partitioning, so the former shape evaluated
      // the 16-center distance fold per row on ONE task — and twice
      // over, once per self-join branch (two sequential ~1 s single-task
      // stages in the job trace). Spreading the corpus by vec_id FIRST
      // puts the fold in the 2p-wide map stages of the branch exchanges.
      // The corpus shuffles once PER BRANCH: the two vec_id exchanges
      // are not reused (the join's inferred isnotnull(salt) sinks below
      // the left one only, and AQE plans each branch's read of the
      // cached corpus as its own stage).
      val nodes = corpus
        .repartition(2 * p, $"vec_id")
        .select($"vec_id", $"embedding",
          explode(Embeddings.nearestCellsExpr(centers, $"embedding", 3))
            .as("gcell"))
      // SALTED self-join (guide §2.5): the join key has only K=16
      // distinct values and its INPUT is tiny while its OUTPUT explodes
      // quadratically per cell — AQE's byte-based coalescing therefore
      // plans the scoring stage onto ONE task (measured: a single
      // 3.7 s task computing every seed cosine while 31 cores idle).
      // Salting the src side with a deterministic pmod(vec_id) and
      // replicating the dst side across the salt domain spreads each
      // cell's pair block over cells×salts tasks; the explicit
      // repartition pins the parallelism against byte-coalescing. The
      // pair SET is unchanged (each (src,dst,cell) lands in exactly one
      // salt), so the groupBy-min — and the graph — stay bit-identical.
      val salts = math.max(1, math.round(2.0 * p / centers.length).toInt)
      val left = nodes
        .select($"gcell", $"vec_id".as("src"), $"embedding".as("se"),
          pmod($"vec_id", lit(salts)).cast("int").as("salt"))
        .repartition(2 * p, $"gcell", $"salt")
      val right = nodes
        .select($"gcell", $"vec_id".as("dst"), $"embedding".as("de"),
          explode(sequence(lit(0), lit(salts - 1))).as("salt"))
        .repartition(2 * p, $"gcell", $"salt")
      val seedScored = left.join(right, Seq("gcell", "salt"))
        .filter($"src" =!= $"dst")
        .select($"src", $"dst",
          round(graft.functions.CosineSimF.cosine($"se", $"de"), 4)
            .as("sim4"))
      var g = topM(seedScored).localCheckpoint(true)
      // NN-DESCENT refinement (Dong et al.'s distributed k-NN-graph
      // recipe): per node v the round's candidate pool B(v) is its
      // out-neighbors plus its in-neighbors CAPPED at M (the reverse
      // sample — uncapped, a hub's in-degree² pair blow-up is exactly
      // the heap bomb the cap exists for); every pair sharing a pivot
      // v is proposed, scored exactly, and each node keeps the top-M
      // of old ∪ new. O(n·(2M)²) proposals per round, hub-proof. THREE
      // rounds lift the cell-seeded graph to near-exact edges — edge
      // QUALITY is what makes best-first search concentrate its
      // budget near the probe (and build quality is FREE at search
      // time: the search budget only counts scored candidates).
      //
      // The pool rides its embeddings (r15, the seed's fused-join
      // recipe): B(v) is ≤2M rows per pivot, so attaching each node's
      // vector ONCE to the pool and scoring pairs inside the pivot
      // self-join replaces the former distinct→anti-join→two-vector-
      // joins chain — the O(n·(2M)²) proposal set crosses the wire
      // once (as scores) instead of four times (as ids being re-keyed).
      // Duplicate proposals (a pair sharing several pivots, a pair
      // already in g) carry the IDENTICAL sim4 — one fixed fold over
      // the same arrays — so the single groupBy-min dedups the union
      // exactly where the anti-join used to; the kept graph is
      // bit-identical (pinned by the saved-index equality law).
      for (_ <- 1 to 3) {
        val e = g
        val wIn = Window.partitionBy($"dst")
          .orderBy($"sim4".desc, $"src".asc)
        val rev = e.withColumn("ri", row_number().over(wIn))
          .filter($"ri" <= NswM)
          .select($"dst".as("pivot"), $"src".as("node"))
        val b = e.select($"src".as("pivot"), $"dst".as("node"))
          .unionByName(rev)
          .join(vecs.select($"vec_id".as("node"), $"embedding"),
            Seq("node"))
        val scored = b
          .select($"pivot", $"node".as("src"), $"embedding".as("se"))
          .join(b.select($"pivot", $"node".as("dst"),
            $"embedding".as("de")), Seq("pivot"))
          .filter($"src" =!= $"dst")
          .select($"src", $"dst",
            round(graft.functions.CosineSimF.cosine($"se", $"de"), 4)
              .as("sim4"))
        g = topM(scored.unionByName(g)).localCheckpoint(true)
      }
      // g is eagerly checkpointed, so the build-scoped persist can go
      vecs.unpersist(blocking = false)
      g.select($"src", $"dst")
    }

  /** Rounds of every NSW beam walk. */
  private val NswRounds = 3

  /** Distributed BEAM SEARCH over the NSW graph, for every beam width in
    * `beams` in one walk: all probes advance in lockstep rounds (the
    * Pregel shape — per round ONE equi-join of the current beams
    * against the O(n·M) adjacency, one probe-bounded scoring join, one
    * windowed re-beam; [[NswRounds]] rounds, unrolled, each round's new
    * rows checkpointed). Entry = the probe's home-cell members scored
    * exactly (the IVF-1 seed).
    *
    * The legs are keyed by a `beam` column — the entry seeds,
    * `visited`, `expanded`, the re-beam window (per (beam, probe), keep
    * `r <= beam`) and both anti-joins — so they never interact: the
    * rows of beam b are exactly the walk over `Seq(b)` (law-tested),
    * and a sweep pays one walk's jobs for all its widths. The visited
    * set is exact per (beam, probe), so a candidate is scored at most
    * once per beam: a beam's row count is its honest scored-candidate
    * BUDGET, the number the recall laws compare at equal cost.
    *
    * Every frame the walk builds is bounded by probes × budget, and
    * every join of one to the corpus, the graph or another such frame
    * broadcasts it (the [[ivfCandidates]] rule). Left to AQE, a
    * shuffled join here took its final shape at run time, and the
    * sweep ran 49 or 51 jobs from one build to the next; with the hints
    * it runs the same jobs and tasks on every build.
    *
    * One code path for the in-session index, the persisted artifacts
    * ([[simHnswSaved]]) and the delta base, so the saved ≡ in-session
    * law compares searches that differ ONLY in where the index came
    * from. Returns every visited (beam, probe_id, nbr_id, sim4); the
    * walk's jobs (its eager checkpoints) run here, none after. */
  private[graft] def nswVisitedFrom(s: SparkSession,
      centers: Array[Array[Double]], corpus: DataFrame, graph: DataFrame,
      beams: Seq[Int]): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val key = Seq("beam", "probe_id", "nbr_id")
    val probes = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
    val nv = corpus.select($"vec_id".as("nbr_id"), $"embedding".as("ne"))
    def scoreOf(cand: DataFrame): DataFrame = nv
      .join(broadcast(cand), Seq("nbr_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select($"beam", $"probe_id", $"nbr_id",
        round(graft.functions.CosineSimF.cosine($"pe", $"ne"), 4).as("sim4"))
    // entry seeds: the 2·beam DETERMINISTIC members (smallest ids) of
    // the probe's home cell, scored once and fanned out to every beam
    // wide enough to take them — scoring the WHOLE cell would spend the
    // IVF-probe budget before the graph moved (measured: the graph
    // phase earns ~1.5× more recall per scored candidate than IVF's
    // marginal cells, so budget belongs in the walk, not the seed)
    val wSeed = Window.partitionBy($"probe_id").orderBy($"nbr_id".asc)
    val entry = broadcast(probes
      .select($"probe_id", $"pe",
        Embeddings.nearestCellsExpr(centers, $"pe", 1).getItem(0)
          .as("cell")))
      .join(corpus, Seq("cell"))
      .filter($"probe_id" =!= $"vec_id")
      .select($"probe_id", $"vec_id".as("nbr_id"), $"pe", $"embedding")
      .withColumn("sr", row_number().over(wSeed))
      .filter($"sr" <= 2 * beams.max)
      .select(explode(filter(typedLit(beams), b => b * 2 >= $"sr"))
        .as("beam"), $"probe_id", $"nbr_id",
        round(graft.functions.CosineSimF.cosine($"pe", $"embedding"), 4)
          .as("sim4"))
    // re-beam: the literal bound lets the planner cut each window
    // partition to the widest beam before the shuffle (WindowGroupLimit);
    // the column bound keeps each beam's own width
    val wBeam = Window.partitionBy($"beam", $"probe_id")
      .orderBy($"sim4".desc, $"nbr_id".asc)
    // eager localCheckpoint per round: `visited` and `expanded` are
    // each referenced from THREE plan branches per round (re-beam,
    // candidate anti-join, union), so plain persist would still nest
    // an exponentially growing logical plan (the driver OOMs printing
    // it before a byte of data moves — measured); checkpointing
    // truncates lineage to O(1) per round, the same fixpoint recipe
    // as connectedComponents. Frames are O(visited) tiny.
    var visited = entry.localCheckpoint(true)
    // best-first, batched: each round EXPANDS the best `beam`
    // visited-but-unexpanded nodes (the HNSW ef-search queue shape —
    // re-expanding the same stabilized beam would stall in a local
    // optimum after one round; expanding the best FRESH nodes keeps
    // the walk moving until the neighborhood is exhausted)
    var expanded = visited.select(key.map(col): _*).limit(0)
      .localCheckpoint(true)
    val roundPersists = Seq.newBuilder[DataFrame]
    for (_ <- 1 to NswRounds) {
      // persist, not localCheckpoint (r15): toExpand is referenced
      // twice (candidate join this round, `expanded` anti-join in later
      // rounds) — the cache serves both without an eager job of its
      // own; it materializes as a side effect of `fresh`'s checkpoint
      // job below, so a round is one driver action. Lineage growth
      // stays bounded: rounds are fixed and small, and `visited` — the
      // frame the caller ranks — remains a linear union of
      // checkpointed pieces.
      val toExpand = visited.join(broadcast(expanded), key, "left_anti")
        .withColumn("r", row_number().over(wBeam))
        .filter($"r" <= beams.max && $"r" <= $"beam")
        .select(key.map(col): _*).persist()
      roundPersists += toExpand
      val cand = broadcast(toExpand)
        .join(graph, toExpand("nbr_id") === graph("src"))
        .select($"beam", $"probe_id", $"dst".as("nbr_id")).distinct()
        .filter($"probe_id" =!= $"nbr_id")
        .join(broadcast(visited.select(key.map(col): _*)), key, "left_anti")
      val fresh = scoreOf(cand).localCheckpoint(true)
      // the accumulators stay PLAIN unions of the checkpointed pieces:
      // a union of k LogicalRDDs is a linear plan however often it is
      // referenced, so only the per-round NEW frames need truncation
      expanded = expanded.unionByName(toExpand)
      visited = visited.unionByName(fresh)
    }
    // every round's fresh set is checkpointed, so the walk's working
    // persists can be released before the caller ever acts on `visited`
    roundPersists.result().foreach(_.unpersist(blocking = false))
    visited
  }

  /** Top-10 per probe over a visited set — the shared output shape of
    * the graded graph-ANN searches. */
  private def hnswTopkOf(s: SparkSession, visited: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"probe_id")
      .orderBy($"sim4".desc, $"nbr_id".asc)
    visited.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"probe_id", $"rank".cast("int").as("rank"),
        $"nbr_id", $"sim4")
      .orderBy($"probe_id", $"rank")
  }

  /** Graph-ANN top-k — the graded search at beam 8, 3 rounds. Same
    * output shape as [[simIvfTopk]]; non-oracled (trained cells +
    * graph index) with the recall laws in ScalaTest. */
  def simHnswTopk(s: SparkSession, dir: String): DataFrame = {
    val (centers, corpus) = ivfIndex(s, dir)
    hnswTopkOf(s,
      nswVisitedFrom(s, centers, corpus, nswGraph(s, dir), Seq(8)))
  }

  /** PERSISTED ANN INDEX (round 14 — r13 verdict item #7): the three
    * index pieces — the IVF coarse quantizer's 16 centroids, the
    * cell-assigned corpus, and the NSW adjacency — each commit once to
    * an [[graft.sources.ArtifactStore]] VersionedTable keyed by the
    * embeddings corpus fingerprint, and every later session SEARCHES
    * FROM THE ARTIFACTS instead of re-fitting the quantizer and
    * re-running the NN-descent build. The builds delegate to the
    * in-session builders ([[ivfIndexOn]], [[nswGraphOn]] over `rows`,
    * cached under `tag` — seeded, deterministic at fixed partitioning),
    * so artifact content ≡ in-session content by construction; the law
    * spec pins the graded search equality. Tag "" indexes the full
    * corpus (`ann_centers@1`, `ann_corpus@1`, `ann_graph@1`), tag
    * "base" the delta-serving base (`ann_base_…@1`). This is the
    * `q_ml_score_saved` recipe applied to ANN: a 100 TB corpus builds
    * its graph once and serves it for weeks, refreshing only when the
    * corpus fingerprint moves. */
  private def annArtifacts(s: SparkSession, dir: String, tag: String,
      rows: => DataFrame): (Array[Array[Double]], DataFrame, DataFrame) = {
    import s.implicits._
    val store = graft.sources.ArtifactStore
    val prefix = if (tag.isEmpty) "ann" else s"ann_$tag"
    def index = ivfIndexOn(s, dir, tag, rows)
    val centersDf = store.table(s, dir, s"${prefix}_centers@1",
      Seq("embeddings")) {
      s.createDataFrame(index._1.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }).toDF("cell", "center")
    }
    val corpus = store.table(s, dir, s"${prefix}_corpus@1",
      Seq("embeddings"))(index._2)
    val graph = store.table(s, dir, s"${prefix}_graph@1", Seq("embeddings")) {
      val (centers, c) = index
      nswGraphOn(s, dir, tag, centers, c)
    }
    // 16 fixed-k rows — O(1) driver state, same bound as the in-session
    // clusterCenters array; doubles round-trip parquet bit-exactly
    val centers = centersDf.orderBy($"cell").collect()
      .map(_.getSeq[Double](1).toArray)
    (centers, corpus, graph)
  }

  /** Graph-ANN top-k FROM THE PERSISTED INDEX — identical search
    * (beam 8, 3 rounds) and output shape as [[simHnswTopk]], but the
    * centroids/cells/adjacency are read from the committed
    * ArtifactStore tables, not rebuilt. Non-oracled (trained index);
    * the ScalaTest law pins saved ≡ in-session bit-equality. */
  def simHnswSaved(s: SparkSession, dir: String): DataFrame = {
    val (centers, corpus, graph) =
      annArtifacts(s, dir, "", Tables.t(s, dir, "embeddings"))
    hnswTopkOf(s, nswVisitedFrom(s, centers, corpus, graph, Seq(8)))
  }

  /** DELTA-SEGMENT serving (round 14 — the production pattern behind
    * every disk-resident ANN deployment: the graph index is rebuilt
    * periodically, yet vectors ingested SINCE the last build must be
    * searchable immediately): the BASE index (IVF centroids + cells +
    * NSW adjacency over the older ~90% of the corpus by id) persists
    * once via [[graft.sources.ArtifactStore]], and a search fans out
    * to (a) the beam walk over the persisted base graph and (b) an
    * EXACT cosine pass over the small unindexed delta — probes
    * broadcast, O(|delta|·probes) map-side work, no shuffle — then the
    * two candidate sets merge into one top-10. Exactness on the delta
    * leg guarantees no fresh vector can be missed (law-tested: every
    * full-corpus truth neighbor living in the delta lands in the
    * merged top-10; merged recall ≥ base-only recall). Beam 8,
    * 3 rounds, same output shape as [[simHnswTopk]]. Non-oracled
    * (trained index). */
  def simHnswDelta(s: SparkSession, dir: String): DataFrame =
    hnswTopkOf(s, hnswDeltaVisited(s, dir))

  private[graft] def hnswDeltaVisited(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val all = Tables.t(s, dir, "embeddings")
    // deterministic build horizon: the oldest 90% of ids are "indexed",
    // the newest 10% arrived after the last index build. O(1) driver
    // scalar — at scale this is the indexed snapshot's max ingest id.
    val cut = all.agg(max($"vec_id")).as[Long].head() * 9L / 10L
    val (centers, baseCorpus, graph) =
      annArtifacts(s, dir, "base", all.filter($"vec_id" <= cut))
    val visitedBase =
      nswVisitedFrom(s, centers, baseCorpus, graph, Seq(8)).drop("beam")
    // the probe set is the graded 10-probe convention (ids 0..9 — all
    // in the base segment); the delta leg scores EVERY fresh vector
    // exactly, so nothing ingested since the index build can be missed
    val probes = Tables.t(s, dir, "embeddings").filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
    val deltaScored = Tables.t(s, dir, "embeddings")
      .filter($"vec_id" > cut)
      .select($"vec_id".as("nbr_id"), $"embedding".as("ne"))
      .crossJoin(broadcast(probes))
      .filter($"probe_id" =!= $"nbr_id")
      .select($"probe_id", $"nbr_id",
        round(graft.functions.CosineSimF.cosine($"pe", $"ne"), 4)
          .as("sim4"))
    visitedBase.unionByName(deltaScored)
  }

  /** Graph-ANN recall curve over beam width ∈ {2, 4, 8} vs the
    * brute-force truth — the [[simIvfSweep]] twin for the graph index,
    * carrying each sweep point's SCORED-CANDIDATE budget (its per-beam
    * visited count) so the equal-budget comparison against IVF is
    * explicit in the graded artifact. Laws (ScalaTest): recall monotone
    * in beam width, and recall@10 at beam 8 ≥ the IVF nprobe=4 recall
    * at comparable budget.
    *
    * Scale shape: ONE walk over all three widths, its legs keyed by
    * `beam` ([[nswVisitedFrom]]), then one planned query in
    * [[simIvfSweep]]'s shape, ranked per (beam, probe). The walk's
    * round checkpoints are the only jobs before the caller acts. */
  def simHnswSweep(s: SparkSession, dir: String): DataFrame = {
    val beams = Seq(2, 4, 8)
    val (centers, corpus) = ivfIndex(s, dir)
    sweepRecall(s, dir, "beam", beams,
      nswVisitedFrom(s, centers, corpus, nswGraph(s, dir), beams))
  }

  /** MLlib random-projection LSH ANN — approx, seeded; ScalaTest checks
    * recall vs the brute-force truth. */
  def simLshKnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import s.implicits._
    val e = Tables.t(s, dir, "embeddings")
      .select($"vec_id",
        org.apache.spark.ml.functions.array_to_vector($"embedding")
          .as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(e)
    val probes = e.filter($"vec_id" < 10)
    model.approxSimilarityJoin(probes, e, 15.0, "dist")
      .select(
        col("datasetA.vec_id").as("probe_id"),
        col("datasetB.vec_id").as("nbr_id"),
        round(col("dist"), 4).as("dist"))
      .filter($"probe_id" =!= $"nbr_id")
      .orderBy($"probe_id", $"dist", $"nbr_id")
  }

  val queries: Map[String, Q] = Map(
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_survivors" -> (dedupSurvivors _),
    "q_dedup_near_jaccard" -> (dedupNearJaccard _),
    "q_dedup_spans" -> (dedupSpans _),
    "q_dedup_span_extend" -> (dedupSpanExtend _),
    "q_dedup_containment" -> (dedupContainment _),
    "q_dedup_clusters" -> (dedupClusters _),
    "q_dedup_survivors_near" -> (dedupSurvivorsNear _),
    "q_dedup_minhash_sig" -> (dedupMinhashSig _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_simhash_cluster" -> (dedupSimhashCluster _),
    "q_sim_topk_cosine" -> (simTopkCosine _),
    "q_sim_binary_hamming" -> (simBinaryHamming _),
    "q_sim_binary_rerank" -> (simBinaryRerank _),
    "q_emb_quantize" -> (embQuantize _),
    "q_dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "q_dedup_delta" -> (dedupDelta _),
    "q_text_decontam" -> (textDecontam _),
    "q_dedup_near_embedding" -> (dedupNearEmbedding _),
    "q_sim_ivf_topk" -> (simIvfTopk _),
    "q_sim_ivfpq_topk" -> (simIvfPqTopk _),
    "q_sim_ivf_sweep" -> (simIvfSweep _),
    "q_sim_hnsw_topk" -> (simHnswTopk _),
    "q_sim_hnsw_saved" -> (simHnswSaved _),
    "q_sim_hnsw_delta" -> (simHnswDelta _),
    "q_sim_hnsw_sweep" -> (simHnswSweep _),
    "q_sim_lsh_knn" -> (simLshKnn _)
  )

  private val shinglesCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id, UNNEST(list_distinct(list_transform(
      |    range(1, len(words) - 3),
      |    i -> array_to_string(words[i:i+4], ' ')))) AS shingle
      |  FROM w WHERE len(words) >= 5)""".stripMargin

  /** Oracle mirror of [[prunedShingleRows]]: the df ≤ [[ShingleDfCap]]
    * restriction on the pair-join input (denominators stay on `sh`). */
  private val prunedShinglesCte =
    s"""shdf AS (SELECT shingle FROM sh GROUP BY shingle
       |  HAVING COUNT(*) <= $ShingleDfCap),
       |shp AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN shdf USING (shingle))""".stripMargin

  /** Oracle mirror of the capped-doc fallback ([[cappedDocs]] →
    * [[cappedCandidates]] → [[cappedVerified]]): MinHash band candidates
    * among docs with <50% of shingles surviving the df cap, verified
    * with FULL shingle counts. Defines `cnt` for the consuming oracles. */
  private val cappedFallbackCte = {
    val mins = (0 until 8).map(k =>
      s"  min((base * ${mhA(k)} + ${mhB(k)}) % $MhP) AS mh$k").mkString(",\n")
    val bands = (0 until 4).map(b =>
      s"  SELECT doc_id, $b AS band, mh${2 * b} * 1000000009 + mh${2 * b + 1} AS bucket FROM csig")
      .mkString("\n  UNION ALL\n")
    s"""cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |kept AS (SELECT doc_id, COUNT(*) AS n_kept FROM shp GROUP BY doc_id),
       |capped AS (SELECT c.doc_id FROM cnt c LEFT JOIN kept k USING (doc_id)
       |  WHERE COALESCE(k.n_kept, 0) * 2 < c.n_sh),
       |cbased AS (SELECT doc_id,
       |  CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741824 AS base
       |  FROM sh WHERE doc_id IN (SELECT doc_id FROM capped)),
       |csig AS (SELECT doc_id,
       |$mins
       |FROM cbased GROUP BY doc_id),
       |cbanded AS (
       |$bands),
       |ccand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM cbanded a JOIN cbanded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id),
       |cverif AS (SELECT c.a_id, c.b_id, COUNT(*) AS common
       |  FROM ccand c
       |  JOIN sh a ON a.doc_id = c.a_id
       |  JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
       |  GROUP BY c.a_id, c.b_id)""".stripMargin
  }

  /** Oracle jaccard-pair block shared by near_jaccard / clusters /
    * survivors_near: main df-capped pairs UNION the capped-doc fallback,
    * MAX-merged per pair. Yields CTE `jacc(a_id, b_id, jaccard)`. */
  private val jaccardPairsCte =
    s"""mainj AS (
       |  SELECT a_id, b_id,
       |    ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
       |  FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
       |    FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id) p
       |  JOIN cnt ca ON ca.doc_id = a_id
       |  JOIN cnt cb ON cb.doc_id = b_id
       |  WHERE ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) >= 0.8),
       |fbj AS (
       |  SELECT v.a_id, v.b_id,
       |    ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
       |  FROM cverif v
       |  JOIN cnt ca ON ca.doc_id = v.a_id
       |  JOIN cnt cb ON cb.doc_id = v.b_id
       |  WHERE v.a_id < v.b_id
       |    AND ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) >= 0.8),
       |jacc AS (
       |  SELECT a_id, b_id, MAX(jaccard) AS jaccard
       |  FROM (SELECT * FROM mainj UNION ALL SELECT * FROM fbj) u
       |  GROUP BY a_id, b_id)""".stripMargin

  /** The near-dup edges and the component walk shared by the two
    * recursive cluster oracles; yields CTE `walk(doc_id, rep)`. `jacc`
    * is MATERIALIZED: `e` reads it twice and the walk joins `e` on every
    * step, and DuckDB inlines a CTE that is not materialized, so the
    * shingle self-join under `jacc` ran once per read (sf0.1: 95 s →
    * 10 s per oracle; the same rows at sf0.001, sf0.01 and sf0.1). */
  private val clusterWalkCte =
    s"""$shinglesCte,
       |$prunedShinglesCte,
       |$cappedFallbackCte,
       |${jaccardPairsCte.replace("jacc AS (", "jacc AS MATERIALIZED (")},
       |e AS (SELECT a_id AS src, b_id AS dst FROM jacc
       |  UNION ALL SELECT b_id, a_id FROM jacc),
       |walk(doc_id, rep) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.dst, w.rep FROM walk w JOIN e ON e.src = w.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT sha256(text) AS digest, COUNT(*) AS n, min(doc_id) AS min_id
        |FROM documents GROUP BY sha256(text) ORDER BY min_id""".stripMargin,
    "q_dedup_survivors" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_dedup_spans" ->
      s"""WITH $shinglesCte
         |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM sh GROUP BY shingle HAVING COUNT(*) >= 2
         |ORDER BY n_docs DESC, shingle ASC LIMIT 30""".stripMargin,
    "q_dedup_span_extend" ->
      s"""WITH $shinglesCte,
         |p AS (SELECT doc_id,
         |    UNNEST(range(1, len(words) - 3)) AS pos,
         |    UNNEST(list_transform(range(1, len(words) - 3),
         |      i -> CAST(('0x' || substr(md5(
         |        array_to_string(words[i:i+4], ' ')), 1, 15)) AS BIGINT)))
         |      AS gh
         |  FROM w WHERE len(words) >= 5),
         |shared AS (SELECT
         |    CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS gh
         |  FROM sh GROUP BY 1 HAVING COUNT(*) >= 2),
         |h AS (SELECT p.doc_id, p.pos FROM p JOIN shared USING (gh)),
         |m AS (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER dw IS NULL
         |      OR pos > lag(pos) OVER dw + 5 THEN 1 ELSE 0 END AS brk
         |  FROM h WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
         |isl AS (SELECT doc_id, pos, SUM(brk) OVER
         |    (PARTITION BY doc_id ORDER BY pos) AS island FROM m),
         |sp AS (SELECT doc_id, MIN(pos) AS span_start,
         |    MAX(pos) + 4 AS span_end,
         |    CAST(COUNT(*) AS BIGINT) AS n_grams
         |  FROM isl GROUP BY doc_id, island)
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_words, n_grams
         |FROM sp WHERE span_end - span_start + 1 >= 10
         |ORDER BY doc_id, span_start""".stripMargin,
    "q_dedup_near_jaccard" ->
      s"""WITH $shinglesCte,
         |$prunedShinglesCte,
         |$cappedFallbackCte,
         |$jaccardPairsCte
         |SELECT a_id, b_id, jaccard FROM jacc ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterWalkCte
         |SELECT doc_id, MIN(rep) AS rep FROM walk
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_survivors_near" ->
      s"""WITH RECURSIVE $clusterWalkCte,
         |cc AS (SELECT doc_id, MIN(rep) AS rep FROM walk GROUP BY doc_id)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> rep)
         |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH $shinglesCte,
         |$prunedShinglesCte,
         |$cappedFallbackCte,
         |mainc AS (
         |  SELECT a_id, b_id,
         |    ROUND(CAST(common AS DOUBLE) / ca.n_sh, 4) AS containment
         |  FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
         |    FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
         |    GROUP BY a.doc_id, b.doc_id) p
         |  JOIN cnt ca ON ca.doc_id = a_id
         |  WHERE ROUND(CAST(common AS DOUBLE) / ca.n_sh, 4) >= 0.9),
         |fbc AS (
         |  SELECT v.a_id, v.b_id,
         |    ROUND(CAST(common AS DOUBLE) / ca.n_sh, 4) AS containment
         |  FROM cverif v
         |  JOIN cnt ca ON ca.doc_id = v.a_id
         |  WHERE ROUND(CAST(common AS DOUBLE) / ca.n_sh, 4) >= 0.9)
         |SELECT a_id, b_id, MAX(containment) AS containment
         |FROM (SELECT * FROM mainc UNION ALL SELECT * FROM fbc) u
         |GROUP BY a_id, b_id ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_minhash_sig" ->
      (s"WITH $shinglesCte,\n" +
        "based AS (SELECT doc_id,\n" +
        "  CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741824 AS base\n" +
        "  FROM sh)\n" +
        "SELECT doc_id,\n" +
        (0 until 8).map(k =>
          s"  min((base * ${mhA(k)} + ${mhB(k)}) % $MhP) AS mh$k")
          .mkString(",\n") +
        "\nFROM based GROUP BY doc_id ORDER BY doc_id"),
    "q_dedup_minhash_lsh" -> {
      val mins = (0 until 8).map(k =>
        s"  min((base * ${mhA(k)} + ${mhB(k)}) % $MhP) AS mh$k").mkString(",\n")
      val bands = (0 until 4).map(b =>
        s"  SELECT doc_id, $b AS band, mh${2 * b} * 1000000009 + mh${2 * b + 1} AS bucket FROM sig")
        .mkString("\n  UNION ALL\n")
      s"""WITH $shinglesCte,
         |based AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741824 AS base
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |$mins
         |FROM based GROUP BY doc_id),
         |banded AS (
         |$bands),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT c.a_id, c.b_id,
         |  ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
         |FROM cand c
         |JOIN pairs p ON p.a_id = c.a_id AND p.b_id = c.b_id
         |JOIN cnt ca ON ca.doc_id = c.a_id
         |JOIN cnt cb ON cb.doc_id = c.b_id
         |WHERE ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) >= 0.5
         |ORDER BY c.a_id, c.b_id""".stripMargin
    },
    "q_dedup_delta" -> {
      val mins = (0 until 8).map(k =>
        s"  min((base * ${mhA(k)} + ${mhB(k)}) % $MhP) AS mh$k").mkString(",\n")
      val bands = (0 until 4).map(b =>
        s"  SELECT doc_id, $b AS band, mh${2 * b} * 1000000009 + mh${2 * b + 1} AS bucket FROM sig")
        .mkString("\n  UNION ALL\n")
      s"""WITH $shinglesCte,
         |based AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741824 AS base
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |$mins
         |FROM based GROUP BY doc_id),
         |banded AS (
         |$bands),
         |cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |vcommon AS (SELECT c.new_id, c.old_id, COUNT(*) AS common
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.new_id
         |  JOIN sh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
         |  GROUP BY c.new_id, c.old_id),
         |verified AS (SELECT v.new_id, v.old_id,
         |    ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
         |  FROM vcommon v
         |  JOIN cnt ca ON ca.doc_id = v.new_id
         |  JOIN cnt cb ON cb.doc_id = v.old_id
         |  WHERE ROUND(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 4) >= 0.5),
         |perdoc AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_dup,
         |    MIN(old_id) AS rep_id, MAX(jaccard) AS max_jacc
         |  FROM verified GROUP BY new_id)
         |SELECT d.doc_id, CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
         |  p.rep_id, p.max_jacc
         |FROM documents d LEFT JOIN perdoc p ON p.new_id = d.doc_id
         |WHERE d.doc_id % 20 = 0
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_text_decontam" ->
      s"""WITH $shinglesCte,
         |bench AS (SELECT sh.doc_id AS bench_id, sh.shingle
         |  FROM sh JOIN documents d ON d.doc_id = sh.doc_id
         |  WHERE d.source = 'src0'),
         |train AS (SELECT sh.doc_id, sh.shingle
         |  FROM sh JOIN documents d ON d.doc_id = sh.doc_id
         |  WHERE d.source <> 'src0')
         |SELECT t.doc_id,
         |  CAST(COUNT(DISTINCT t.shingle) AS BIGINT) AS n_hits,
         |  CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
         |FROM train t JOIN bench b ON b.shingle = t.shingle
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_dedup_simhash" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(UNNEST(list_distinct(string_split(text, ' ')))), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, bit,
        |    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM words CROSS JOIN (SELECT UNNEST(range(0, 32)) AS bit) b
        |  GROUP BY doc_id, bit)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash_cluster" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(UNNEST(list_distinct(string_split(text, ' ')))), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, bit,
        |    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM words CROSS JOIN (SELECT UNNEST(range(0, 60)) AS bit) b
        |  GROUP BY doc_id, bit),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id),
        |near AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM fp a JOIN fp b ON bit_count(xor(a.sh, b.sh)) <= 2)
        |SELECT a_id AS doc_id, MIN(b_id) AS rep_id, COUNT(*) - 1 AS n_near
        |FROM near GROUP BY a_id ORDER BY doc_id""".stripMargin,
    "q_dedup_near_embedding" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ROUND(
        |    list_reduce(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(range(1, 65),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(range(1, 65),
        |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 4) AS sim4
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ROUND(
        |    list_reduce(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(range(1, 65),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(range(1, 65),
        |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 4) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,
    "q_emb_quantize" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT)) AS code_arr
        |  FROM embeddings)
        |SELECT vec_id,
        |  array_to_string(code_arr, ',') AS codes,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), code_arr),
        |    (a, c) -> a + c) AS BIGINT) AS code_sum,
        |  CAST(len(list_filter(code_arr, c -> c > 0)) AS INTEGER) AS n_pos
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_sim_binary_rerank" ->
      """WITH h AS (
        |  SELECT vec_id,
        |    list_reduce(list_transform(range(1, 33),
        |      i -> CASE WHEN embedding[CAST(i AS INT)] >= 0
        |        THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT))
        |        ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS h1,
        |    list_reduce(list_transform(range(33, 65),
        |      i -> CASE WHEN embedding[CAST(i AS INT)] >= 0
        |        THEN (CAST(1 AS BIGINT) << CAST(i - 33 AS INT))
        |        ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS h2
        |  FROM embeddings),
        |sc AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS nbr_id,
        |    CAST(bit_count(xor(p.h1, c.h1))
        |      + bit_count(xor(p.h2, c.h2)) AS INTEGER) AS hamming
        |  FROM h p JOIN h c ON p.vec_id < 10 AND p.vec_id <> c.vec_id),
        |short AS (
        |  SELECT probe_id, nbr_id FROM (
        |    SELECT probe_id, nbr_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY hamming ASC, nbr_id ASC) AS hrank
        |    FROM sc) WHERE hrank <= 50),
        |cos AS (
        |  SELECT s.probe_id, s.nbr_id,
        |    ROUND(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)
        |      / (sqrt(list_reduce(list_transform(range(1, 65),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(range(1, 65),
        |          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b))), 4) AS sim4
        |  FROM short s
        |  JOIN embeddings p ON p.vec_id = s.probe_id
        |  JOIN embeddings c ON c.vec_id = s.nbr_id),
        |ranked AS (
        |  SELECT probe_id, nbr_id, sim4,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY sim4 DESC, nbr_id ASC) AS rank
        |  FROM cos)
        |SELECT probe_id, CAST(rank AS INTEGER) AS rank, nbr_id, sim4
        |FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    "q_sim_binary_hamming" ->
      """WITH h AS (
        |  SELECT vec_id,
        |    list_reduce(list_transform(range(1, 33),
        |      i -> CASE WHEN embedding[CAST(i AS INT)] >= 0
        |        THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT))
        |        ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS h1,
        |    list_reduce(list_transform(range(33, 65),
        |      i -> CASE WHEN embedding[CAST(i AS INT)] >= 0
        |        THEN (CAST(1 AS BIGINT) << CAST(i - 33 AS INT))
        |        ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS h2
        |  FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS nbr_id,
        |    CAST(bit_count(xor(p.h1, c.h1))
        |      + bit_count(xor(p.h2, c.h2)) AS INTEGER) AS hamming
        |  FROM h p JOIN h c ON p.vec_id < 10 AND p.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT probe_id, nbr_id, hamming,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY hamming ASC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT probe_id, CAST(rank AS INTEGER) AS rank, nbr_id, hamming
        |FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    "q_sim_topk_cosine" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS nbr_id,
        |    ROUND(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)
        |      / (sqrt(list_reduce(list_transform(range(1, 65),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(range(1, 65),
        |          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b))), 4) AS sim4
        |  FROM e p JOIN e c ON p.vec_id < 10 AND p.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT probe_id, nbr_id, sim4,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY sim4 DESC, nbr_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT probe_id, rank, nbr_id, sim4 FROM ranked
        |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin
  )
}
