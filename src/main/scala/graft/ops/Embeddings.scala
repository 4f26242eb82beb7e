package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.J — label-centroid operators over the embedding corpus,
  * built on the exact int8 grid from q_emb_quantize (`⌊127x+0.5⌋` on a
  * float is exact dyadic double arithmetic — zero cross-engine rounding
  * ambiguity), so both the centroid build and the nearest-centroid
  * classifier are pure int64 arithmetic and fully DuckDB-oracled.
  *
  * Scale shape: posexplode → groupBy(label, dim) is one shuffle of
  * (label, dim, code) triples with map-side partial sums — the same
  * linear plan at 100 TB. Classification joins the probe dims against
  * the 640-row centroid table (broadcast), so probes never shuffle.
  */
object Embeddings extends OpModule {

  /** Exploded quantized codes: (vec_id, label, dim, q). */
  private def codes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "embeddings")
      .select($"vec_id", $"label",
        posexplode(transform($"embedding",
          x => floor(x.cast("double") * 127d + 0.5d).cast("long")))
          .as(Seq("dim", "q")))
  }

  /** Per-label class centroids in the quantized domain: for every
    * (label, dimension), the exact integer code sum and member count.
    * `code_sum / n` IS the centroid coordinate; the division is left to
    * the consumer so the graded artifact stays integer-exact. */
  def embCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    codes(s, dir)
      .groupBy($"label", $"dim")
      .agg(sum($"q").cast("long").as("code_sum"),
        count(lit(1)).as("n"))
      .orderBy($"label", $"dim")
  }

  /** Nearest-centroid classification of 10 probe vectors: per probe,
    * the label whose MEAN centroid maximizes the dot product with the
    * probe's quantized codes. score_scaled = (Σ_dim q_p·code_sum) ·
    * 10^6 div n — the integer-scaled image of dot(probe, centroid_mean)
    * (div by the label's member count n deferred and scaled to stay in
    * exact int64; ≤ ~5·10^15, well under 2^63). Ties break on label. */
  def simCentroidAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = embCentroids(s, dir)
      .select($"label", $"dim", $"code_sum", $"n")
    val probes = codes(s, dir)
      .filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"dim", $"q".as("pq"))
    val scored = probes.join(broadcast(cents), Seq("dim"))
      .groupBy($"probe_id", $"label")
      // n is constant per label on THIS corpus (fixed-length vectors);
      // min(), not first(), keeps the divisor deterministic even if a
      // variable-length vector ever makes n vary across dims
      .agg((sum($"pq" * $"code_sum") * 1000000L).as("dotsum"),
        min($"n").as("n"))
      .select($"probe_id", $"label",
        expr("dotsum div n").as("score_scaled"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"score_scaled".desc, $"label".asc)
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"probe_id", $"label".as("best_label"), $"score_scaled")
      .orderBy($"probe_id")
  }

  /** Product-quantization codes — the ANN memory-footprint op: the
    * 64-dim float vector (256 B) becomes 8 packed sub-block codes
    * (8 dims × 2-bit levels each, 16 b/block) — a 16× compression that
    * is what lets a 100-TB embedding corpus's index fit in cluster RAM.
    * Levels come from a fixed 4-bin grid over [−0.6, 0.6) computed in
    * exact integer micro-units (⌊10⁶x+0.5⌋ then clamped integer
    * division — no float at any decision boundary), block codes are the
    * big-endian base-4 fold, and the per-vector L1 reconstruction error
    * (vs bin midpoints) stays in integer µ-units. Pure map-side
    * projection: zero shuffle, embarrassingly parallel; a learned
    * (k-means) codebook is the drop-in refinement — the packing,
    * distance-table layout, and plan shape are identical. */
  def embPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> " +
          "cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))")
          .as("xu"))
      .select($"vec_id", $"xu",
        expr("transform(xu, u -> greatest(least((u + 600000) div 300000, " +
          "cast(3 as bigint)), cast(0 as bigint)))").as("lev"))
      .select($"vec_id",
        concat_ws(",", expr("transform(sequence(0, 7), b -> " +
          "cast(aggregate(slice(lev, b * 8 + 1, 8), cast(0 as bigint), " +
          "(a, l) -> a * 4 + l) as string))")).as("pq_codes"),
        expr("aggregate(transform(sequence(1, 64), i -> " +
          "abs(element_at(xu, i) - (element_at(lev, i) * 300000 - 450000)))," +
          " cast(0 as bigint), (a, e) -> a + e)").as("l1_err_u"))
      .orderBy($"vec_id")
  }

  /** Fixed-seed k-means centers of a one-column `array<double>` frame:
    * MLlib's RDD k-means, random init, the given seed and iteration
    * count. The `ml.clustering.KMeans` estimator runs this same
    * algorithm but adds a feature-count pass before it and a
    * cluster-size pass after it, both only for its logging — two extra
    * scans of the training set. The centers equal the estimator's for
    * the same k, seed, iterations and init (pinned in ScalaTest). Random
    * init samples by partition, so the same rows in the same partitions
    * give the same centers. Shared by the IVF quantizer
    * (`Dedup.ivfIndexOn`), [[pqCodebooks]] and [[kmeansSegment]]. */
  private[graft] def kmeansCenters(features: DataFrame, k: Int, seed: Long,
      maxIter: Int): Array[Array[Double]] = {
    import org.apache.spark.mllib.clustering.KMeans
    import org.apache.spark.mllib.linalg.Vectors
    val points = features.rdd.map(r =>
      Vectors.dense(r.getSeq[Double](0).toArray))
    new KMeans().setK(k).setSeed(seed).setMaxIterations(maxIter)
      .setInitializationMode(KMeans.RANDOM)
      .run(points).clusterCenters.map(_.toArray)
  }

  /** The `nprobe` nearest centers of `vec` — pure expression form
    * (r8 advice): the centers ride along as an array<array<double>>
    * literal, per-center squared distance is a codegen-visible
    * zip_with/aggregate fold (same element order as the former
    * closure's while-loop, so identical IEEE sums), and array_sort
    * over struct(d, i) reproduces the (distance, index) tiebreak
    * exactly. No closure crosses the engine boundary. Shared by
    * [[kmeansSegment]], the IVF cell assignment and search and the NSW
    * graph build/entry (round 13). */
  private[graft] def nearestCellsExpr(centers: Array[Array[Double]],
      vec: Column, nprobe: Int): Column = {
    val centersLit = typedLit(centers.map(_.toSeq).toSeq)
    val cellDists = transform(centersLit, (c, i) => struct(
      aggregate(
        zip_with(vec, c, (x, cc) => {
          val t = x.cast("double") - cc; t * t
        }),
        lit(0.0d), (acc, x) => acc + x).as("d"),
      i.as("i")))
    transform(slice(array_sort(cellDists), 1, nprobe), st => st.getField("i"))
  }

  /** K-means segment (k = 5, seed 42, 20 iterations) over `cols`
    * standardized to mean 0 and unit sample std — the segmentation of
    * `MlOps.mlSegmentation` and `C360.scoredProfile`. A `StandardScaler`
    * fit gives the means and stds; the scaled features are its model's
    * own arithmetic, `(x − mean)·(1/std)`, as SQL, so they equal its
    * `transform` bit for bit. Returns the IntegerType segment, an
    * expression over `cols` only. Persist `data`: both fits must read
    * the same partitions. */
  private[graft] def kmeansSegment(data: DataFrame,
      cols: Seq[String]): Column = {
    import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
    val scaler = new StandardScaler().setInputCol("__raw")
      .setWithMean(true).setWithStd(true)
      .fit(new VectorAssembler().setInputCols(cols.toArray)
        .setOutputCol("__raw").transform(data))
    val inv = scaler.std.toArray.map(v => if (v == 0) 0.0 else 1.0 / v)
    val scaled = array(cols.indices.map(i =>
      (col(cols(i)).cast("double") - scaler.mean(i)) * inv(i)): _*)
    val centers = kmeansCenters(data.select(scaled), k = 5, seed = 42L,
      maxIter = 20)
    nearestCellsExpr(centers, scaled, 1).getItem(0)
  }

  /** LEARNED product-quantization codebook — the k-means refinement of
    * [[embPq]]'s fixed grid (declared there as the drop-in upgrade),
    * completing the ANN memory story: the 64-dim vector splits into 8
    * sub-blocks of 8 dims; each block POSITION gets its own fixed-seed
    * KMeans codebook (k=16 → 4 bits/block; 8 blocks = 4 B/vector, a
    * 64× compression), vectors encode as the nearest-centroid id per
    * block (L1 on the exact µ-grid, ties to the lower id), and the
    * per-vector reconstruction error is an exact integer µ-unit sum —
    * centroids are FROZEN to the µ-grid before encoding, so given the
    * model the whole encode is deterministic integer arithmetic.
    *
    * Scale shape: identical to the grid variant — the encode is one
    * map-side projection against 8×16×8 broadcast longs (zero
    * shuffle); the 8 fits see only 8-dim slices (and at 100 TB would
    * see a fixed-size sample — codebook training never needs the
    * corpus). Non-oracled (trained); ScalaTest pins reconstruction
    * error STRICTLY below the fixed grid's and the code alphabet. */
  /** Fixed-seed learned PQ codebooks on the exact µ-grid — the model
    * half of [[embPqLearned]], shared with `Dedup.simIvfPqTopk`'s ADC
    * scoring. Memoized per (session, dir): the 8 block fits are cheap
    * but must not repeat across the ops that share the codebook (the
    * `ivfIndex` single-fit precedent). Scoped to the bench rep: the
    * memo dies with `OpCache.clear` (rep 2 must refit, not inherit
    * rep 1's model). Each block is one [[kmeansCenters]] fit; the 8
    * fits run as `Par` legs over one persisted slice source. */
  private[ops] def pqCodebooks(s: SparkSession,
      dir: String): Array[Array[Array[Long]]] =
    OpCache.memo(s, dir, "pq_codebooks") {
      import s.implicits._
      val e = OpCache.cached(s, dir, "pq_learned_e")(
        Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding"))
      e.count() // force the shared persist before the legs fork
      // the 8 block fits are INDEPENDENT seeded models over disjoint
      // 8-dim slices — overlapped driver jobs (guide §2.6); Par.map
      // keeps block order, each fit is seed-deterministic, so the
      // codebook array is bit-identical to the sequential build
      Par.map((0 until 8).toSeq) { b =>
        kmeansCenters(e.select(
            expr(s"slice(embedding, ${b * 8 + 1}, 8)").cast("array<double>")),
          k = 16, seed = 42L + b, maxIter = 5)
          .map(_.map(x => math.floor(x * 1000000 + 0.5).toLong))
      }.toArray
    }

  def embPqLearned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = OpCache.cached(s, dir, "pq_learned_e")(
      Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding"))
    val codebooks = pqCodebooks(s, dir)
    // UDF-POLICY WAIVER (the engine-wide boundary): closure UDFs are
    // confined to (a) ops/Udfs.scala — §2.L, where the UDF *is* the
    // operator under test — and (b) this encoder, the one site where
    // the expression-tree alternative (an 8×16×8 integer argmin as
    // nested transform/aggregate over a 3-level array literal) is
    // materially less readable AND not on an oracled path. Everything
    // else ships as built-in functions or native codegen Expressions;
    // the IVF probe that used to be exception (c) is now the
    // array_sort/zip_with expression in ops/Dedup.scala. The encode
    // stays a map-side projection against broadcast codebook longs —
    // the waiver trades codegen visibility on ONE non-oracled column,
    // never plan shape.
    val enc = pqEncoder(codebooks)
    e.select($"vec_id", enc($"embedding").as("r"))
      .select($"vec_id",
        concat_ws(",", $"r._1".cast("array<string>")).as("pq_codes"),
        $"r._2".as("l1_err_u"))
      .orderBy($"vec_id")
  }

  /** The (sole waivered) PQ encode closure parameterized by a frozen
    * µ-grid codebook: returns (codes: array<int> — nearest centroid id
    * per block, L1 on the µ-grid, ties to the lower id; l1_err_u: the
    * exact integer µ-unit reconstruction error). Shared by
    * [[embPqLearned]] (string-joined codes) and `Dedup.simIvfPqTopk`
    * (raw code array for ADC lookup). */
  private[ops] def pqEncoder(codebooks: Array[Array[Array[Long]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((a: Seq[Float]) => {
      val xu = a.map(x =>
        math.floor(x.toDouble * 1000000 + 0.5).toLong).toArray
      var err = 0L
      val codes = new Array[Int](8)
      var b = 0
      while (b < 8) {
        val cb = codebooks(b)
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0L; var j = 0
          while (j < 8) { d += math.abs(xu(b * 8 + j) - cb(c)(j)); j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(b) = best
        err += bestD
        b += 1
      }
      (codes.toSeq, err)
    })

  /** Matryoshka/truncation quality profile — how much of each vector's
    * energy (squared L2 norm) the first k dimensions capture, averaged
    * per label for k ∈ {8, 16, 32}: the measurement behind
    * "can we serve the 16-dim prefix?" embedding-truncation decisions.
    * Determinism: each prefix energy is a SEQUENTIAL left fold over the
    * array (`aggregate` here, `list_reduce` in DuckDB — the same
    * float-addition order, the `q_sim_topk_cosine` precedent), the
    * per-row ratio is rounded to integer ppm, and the per-label average
    * is an exact integer sum with one final division. Scale shape: one
    * stateless map per row (stays in codegen), one combinable
    * aggregation on ≤|labels| groups. */
  def embMatryoshka(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def energy(k: Int): org.apache.spark.sql.Column =
      aggregate(slice($"embedding", 1, k), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
    def ppm(k: Int): org.apache.spark.sql.Column =
      round(energy(k) / energy(64) * 1000000d, 0).cast("long")
    Tables.t(s, dir, "embeddings")
      .select($"label", ppm(8).as("p8"), ppm(16).as("p16"),
        ppm(32).as("p32"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        round(sum($"p8").cast("double") / count(lit(1)), 4).as("avg8_ppm"),
        round(sum($"p16").cast("double") / count(lit(1)), 4).as("avg16_ppm"),
        round(sum($"p32").cast("double") / count(lit(1)), 4).as("avg32_ppm"))
      .orderBy($"label")
  }

  /** Per-dimension corpus-health profile — whitening/PCA prep and the
    * dead/runaway-dimension detector an embedding platform runs before
    * indexing a new model's output: for every dimension, exact integer
    * count, code sum (mean numerator), squared-code sum (variance
    * numerator), and min/max code on the int8 grid. All moments are
    * exact int64 sums — order-insensitive across partitions at any
    * scale. Scale shape: one posexplode (map-only) + one map-side-
    * combinable groupBy on 64 groups. */
  def embDimStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    codes(s, dir)
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"), sum($"q").as("code_sum"),
        sum($"q" * $"q").as("code_sq_sum"),
        min($"q").as("min_q"), max($"q").as("max_q"))
      .orderBy($"dim")
  }

  /** L2-norm histogram on the quantized grid — the "are these vectors
    * actually normalized?" admission audit (an unnormalized slice
    * poisons cosine ANN): per-vector squared norm as an exact integer,
    * binned by 2000 norm²-units, with per-bin count and the norm²
    * envelope for drill-in. Scale shape: per-vector reduce is one
    * combinable groupBy on vec_id (or a pure `aggregate` HOF map at
    * 100 TB — kept relational here so the oracle grades the same
    * shuffle the cluster runs), then an O(bins) rollup. */
  def embNormHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    codes(s, dir)
      .groupBy($"vec_id")
      .agg(sum($"q" * $"q").as("norm_sq"))
      .withColumn("bin", expr("norm_sq div 2000"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_vecs"), min($"norm_sq").as("min_norm_sq"),
        max($"norm_sq").as("max_norm_sq"))
      .orderBy($"bin")
  }

  /** Centroid-distance OUTLIER scan — the embedding-quality triage
    * run before any ANN index build (mislabeled modality, truncated
    * vectors, and encoder failures all land far from the corpus
    * centroid): per-vector L1 distance to the global centroid in the
    * quantized integer domain, top-10 by distance. Exactness via
    * cross-multiplication — distance is Σ_dim |n·q − S_dim| in
    * n-scaled code units (no mean division anywhere), so every
    * comparison is BIGINT-exact on both engines.
    *
    * Scale shape: the O(dims) centroid sums are one combinable
    * aggregate broadcast back into a map-side probe; the per-vector
    * reduce shares the vec_id shuffle with [[embNormHist]]; top-10
    * fuses to TakeOrderedAndProject. */
  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cs = codes(s, dir)
    val dimSums = cs.groupBy($"dim").agg(sum($"q").as("s_dim"))
    val n = Tables.t(s, dir, "embeddings").agg(count(lit(1)).as("n_vecs"))
    cs.join(broadcast(dimSums), Seq("dim"))
      .crossJoin(broadcast(n))
      .groupBy($"vec_id", $"label", $"n_vecs")
      .agg(sum(abs($"q" * $"n_vecs" - $"s_dim")).as("dist_n"))
      .select($"vec_id", $"label", $"dist_n", $"n_vecs")
      .orderBy($"dist_n".desc, $"vec_id").limit(10)
  }

  /** Top principal component by POWER ITERATION — the classic
    * linear-algebra-on-DataFrames witness for the embedding family
    * (whitening, drift direction, "is one axis eating the variance"):
    * v ← normalize(Eᵀ(Ev)) for 6 iterations from the deterministic
    * all-ones start, entirely as DataFrame jobs — the matvec is a
    * per-row dot (codegen'd [[graft.functions.DotProductF]] via the
    * SQL aggregate HOF), and the reduction Eᵀ(score) is a posexplode +
    * per-dimension combinable sum. Only the 64-float vector itself
    * crosses the driver per iteration (it IS the model — the pagerank
    * precedent). Output: per-dimension loading + the Rayleigh-quotient
    * top-eigenvalue share of total variance (uncentered — energy PCA,
    * matching [[embMatryoshka]]'s energy view). Non-oracled (iterative
    * float linear algebra); ScalaTest pins the eigen-residual and
    * monotone Rayleigh quotient.
    *
    * Scale shape per iteration: one map-side dot projection + one
    * (dim)-keyed combinable aggregate over |rows|·64 exploded terms;
    * nothing quadratic in corpus, no broadcast beyond the 64-double
    * literal. */
  def embPca(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = OpCache.cached(s, dir, "pca_embeddings")(
      Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding"))
    val dim = 64
    var v: Array[Double] = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    for (_ <- 1 to 6) {
      val scored = e.select($"embedding",
        expr(s"aggregate(zip_with(embedding, " +
          s"array(${v.mkString(",")}), (a, b) -> a * b), " +
          "0D, (acc, x) -> acc + x)").as("score"))
      val next = scored
        .select(posexplode($"embedding").as(Seq("j", "ej")), $"score")
        .groupBy($"j").agg(sum($"ej" * $"score").as("avj"))
        .orderBy($"j").select($"avj").as[Double].collect()
      // for the PSD matrix A = EᵀE and unit v, ‖Av‖ → λ_max as v
      // converges to the top eigenvector
      val norm = math.sqrt(next.map(x => x * x).sum)
      lambda = norm
      v = next.map(_ / norm)
    }
    val total = e.select(expr(
      "aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * x)")
      .as("sq")).agg(sum($"sq")).as[Double].first()
    v.zipWithIndex.map { case (l, j) =>
      (j, math.rint(l * 10000) / 10000,
        math.rint(lambda / total * 1000000).toLong)
    }.toSeq.toDF("dim", "loading", "explained_ppm")
      .orderBy($"dim")
  }

  val queries: Map[String, Q] = Map(
    "q_emb_pca" -> (embPca _),
    "q_emb_dim_stats" -> (embDimStats _),
    "q_emb_norm_hist" -> (embNormHist _),
    "q_emb_outliers" -> (embOutliers _),
    "q_emb_matryoshka" -> (embMatryoshka _),
    "q_emb_centroids" -> (embCentroids _),
    "q_emb_pq" -> (embPq _),
    "q_emb_pq_learned" -> (embPqLearned _),
    "q_sim_centroid_assign" -> (simCentroidAssign _)
  )

  val oracle: Map[String, String] = Map(
    "q_emb_outliers" ->
      """WITH codes AS (
        |  SELECT vec_id, label,
        |    CAST(UNNEST(range(len(embedding))) AS INTEGER) AS dim,
        |    CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 127 + 0.5)
        |      AS BIGINT) AS q
        |  FROM embeddings),
        |ds AS (
        |  SELECT dim, CAST(SUM(q) AS BIGINT) AS s_dim
        |  FROM codes GROUP BY dim),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs
        |       FROM embeddings)
        |SELECT c.vec_id, c.label,
        |  CAST(SUM(abs(c.q * nv.n_vecs - ds.s_dim)) AS BIGINT)
        |    AS dist_n,
        |  nv.n_vecs
        |FROM codes c JOIN ds ON c.dim = ds.dim CROSS JOIN nv
        |GROUP BY c.vec_id, c.label, nv.n_vecs
        |ORDER BY dist_n DESC, c.vec_id LIMIT 10""".stripMargin,
    "q_emb_dim_stats" ->
      """WITH codes AS (
        |  SELECT CAST(UNNEST(range(len(embedding))) AS INTEGER) AS dim,
        |    CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 127 + 0.5)
        |      AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS code_sum,
        |  CAST(SUM(q * q) AS BIGINT) AS code_sq_sum,
        |  MIN(q) AS min_q, MAX(q) AS max_q
        |FROM codes GROUP BY dim ORDER BY dim""".stripMargin,
    "q_emb_norm_hist" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 127 + 0.5)
        |      AS BIGINT) AS q
        |  FROM embeddings),
        |v AS (
        |  SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS norm_sq
        |  FROM codes GROUP BY vec_id)
        |SELECT norm_sq // 2000 AS bin, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  MIN(norm_sq) AS min_norm_sq, MAX(norm_sq) AS max_norm_sq
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_emb_matryoshka" ->
      """WITH r AS (
        |  SELECT label,
        |    CAST(ROUND(
        |      list_reduce(list_transform(embedding[1:8],
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)
        |      / list_reduce(list_transform(embedding[1:64],
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)
        |      * 1000000, 0) AS BIGINT) AS p8,
        |    CAST(ROUND(
        |      list_reduce(list_transform(embedding[1:16],
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)
        |      / list_reduce(list_transform(embedding[1:64],
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)
        |      * 1000000, 0) AS BIGINT) AS p16,
        |    CAST(ROUND(
        |      list_reduce(list_transform(embedding[1:32],
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)
        |      / list_reduce(list_transform(embedding[1:64],
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)
        |      * 1000000, 0) AS BIGINT) AS p32
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n,
        |  ROUND(CAST(SUM(p8) AS DOUBLE) / COUNT(*), 4) AS avg8_ppm,
        |  ROUND(CAST(SUM(p16) AS DOUBLE) / COUNT(*), 4) AS avg16_ppm,
        |  ROUND(CAST(SUM(p32) AS DOUBLE) / COUNT(*), 4) AS avg32_ppm
        |FROM r GROUP BY label ORDER BY label""".stripMargin,
    "q_emb_pq" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xu
        |  FROM embeddings),
        |l AS (
        |  SELECT vec_id, xu,
        |    list_transform(xu, u ->
        |      GREATEST(LEAST((u + 600000) // 300000, 3), 0)) AS lev
        |  FROM q)
        |SELECT vec_id,
        |  array_to_string(list_transform(range(0, 8), b ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), lev[b*8+1 : b*8+8]),
        |      (a, x) -> a * 4 + x)), ',') AS pq_codes,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 65), i ->
        |      abs(xu[CAST(i AS INTEGER)]
        |        - (lev[CAST(i AS INTEGER)] * 300000 - 450000)))),
        |    (a, e) -> a + e) AS BIGINT) AS l1_err_u
        |FROM l ORDER BY vec_id""".stripMargin,
    "q_emb_centroids" ->
      """WITH codes AS (
        |  SELECT label,
        |    CAST(UNNEST(range(len(embedding))) AS INTEGER) AS dim,
        |    CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 127 + 0.5)
        |      AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT label, dim, CAST(SUM(q) AS BIGINT) AS code_sum,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM codes GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "q_sim_centroid_assign" ->
      """WITH codes AS (
        |  SELECT vec_id, label,
        |    CAST(UNNEST(range(len(embedding))) AS INTEGER) AS dim,
        |    CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 127 + 0.5)
        |      AS BIGINT) AS q
        |  FROM embeddings),
        |cents AS (
        |  SELECT label, dim, SUM(q) AS code_sum, COUNT(*) AS n
        |  FROM codes GROUP BY label, dim),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.label,
        |    CAST((SUM(p.q * c.code_sum) * 1000000) // MIN(c.n) AS BIGINT)
        |      AS score_scaled
        |  FROM codes p JOIN cents c USING (dim)
        |  WHERE p.vec_id < 10
        |  GROUP BY p.vec_id, c.label),
        |ranked AS (
        |  SELECT probe_id, label, score_scaled,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY score_scaled DESC, label ASC) AS rk
        |  FROM scored)
        |SELECT probe_id, CAST(label AS INTEGER) AS best_label, score_scaled
        |FROM ranked WHERE rk = 1 ORDER BY probe_id""".stripMargin
  )
}
