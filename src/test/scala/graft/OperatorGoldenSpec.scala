package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops._

/** Golden tests on tiny inputs + structural assertions for every §2
  * category — fast failure localization below the all-or-nothing hash
  * tier. All queries run on sf0.001. */
class OperatorGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf)

  /** Collect `df` with the session's DotProductRewrite rule excluded,
    * so a composed reference side stays composed instead of being fused
    * into the native expression it is checked against. Fails if
    * `native` still appears in the reference's optimized plan. */
  private def unrewritten(native: String)(df: => DataFrame): Array[Row] = {
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, "graft.plans.DotProductRewrite")
    try {
      val d = df
      val plan = d.queryExecution.optimizedPlan.toString
      assert(!plan.contains(native), s"reference side was rewritten:\n$plan")
      d.collect()
    } finally spark.conf.unset(excluded)
  }

  test("every declared query runs non-empty on sf0.001") {
    // near-dup pairs don't exist in the tiny corpus; every sf0.001
    // customer happens to have a >100k order so the anti-join cohort is
    // empty there (non-empty at the graded sf0.01).
    val allowEmpty = Set("q_dedup_near_jaccard", "q_dedup_minhash_lsh",
      "q_join_anti")
    // 4-way concurrent: per-query wall time here is dominated by
    // DRIVER-side planning + codegen compilation (the executors idle),
    // which parallelizes cleanly across independent queries — measured
    // 731 s sequential → minutes. Queries are independent by
    // construction (per-kind sink paths, unique memory-sink names,
    // atomic OpCache builds).
    import scala.collection.parallel.CollectionConverters._
    val pool = new java.util.concurrent.ForkJoinPool(4)
    try {
      val par = SparkEntry.queries.keys.toSeq.sorted.par
      par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
      val failures = par.flatMap { name =>
        val n = run(name).count()
        if (!allowEmpty(name) && n == 0) Some(name) else None
      }.seq
      assert(failures.isEmpty, s"returned 0 rows: ${failures.mkString(", ")}")
    } finally pool.shutdown()
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(qs)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("flagship pricing summary: group count and totals") {
    val df = run("q_agg_pricing_summary").collect()
    assert(df.length === 6) // 3 returnflags × 2 linestatus
    val total = df.map(_.getAs[Long]("count_order")).sum
    assert(total === 6000L)
  }

  test("broadcast join: 25 nations all matched") {
    assert(run("q_join_broadcast").count() === 25)
  }

  test("left join preserves orderless customers") {
    val left = run("q_join_left")
    assert(left.count() === Tables.t(spark, sf, "customer").count())
  }

  test("semi ∪ anti partitions customers (same filter)") {
    val c = Tables.t(spark, sf, "customer").count()
    val semi = Tables.t(spark, sf, "customer")
      .join(Tables.t(spark, sf, "events").filter($"event_type" === "purchase"),
        $"c_custkey" === $"user_id", "left_semi").count()
    val anti = Tables.t(spark, sf, "customer")
      .join(Tables.t(spark, sf, "events").filter($"event_type" === "purchase"),
        $"c_custkey" === $"user_id", "left_anti").count()
    assert(semi + anti === c)
  }

  test("as-of join: prior event is strictly earlier and non-purchase") {
    val e = Tables.t(spark, sf, "events")
      .select($"event_id", $"ts", $"event_type", $"user_id")
    val asof = run("q_join_asof").filter($"prior_event_id".isNotNull)
    val joined = asof
      .join(e.select($"event_id".as("prior_event_id"),
        $"ts".as("prior_ts"), $"event_type".as("prior_type")), "prior_event_id")
      .join(e.select($"event_id", $"ts", $"user_id".as("u2")), "event_id")
    assert(joined.filter($"prior_type" === "purchase").count() === 0)
    assert(joined.filter($"prior_ts" > $"ts").count() === 0)
    assert(joined.filter($"user_id" =!= $"u2").count() === 0)
  }

  test("pivot row-sums equal total event count") {
    val piv = run("q_feat_pivot")
    val s = piv.select(
      (col("click_cnt") + col("view_cnt") + col("purchase_cnt") +
        col("signup_cnt") + col("error_cnt")).as("rowsum"))
      .agg(sum($"rowsum")).first().getLong(0)
    assert(s === Tables.t(spark, sf, "events").count())
  }

  test("trailing windows are monotone: 30d ⊆ 60d ⊆ 90d") {
    val t = run("q_feat_trailing_windows")
    assert(t.filter($"n_30d" > $"n_60d" || $"n_60d" > $"n_90d").count() === 0)
    assert(t.filter($"spend_30d" > $"spend_60d" + 1e-9 ||
      $"spend_60d" > $"spend_90d" + 1e-9).count() === 0)
  }

  test("running window golden: literal frame") {
    val df = Seq((1, 1, 10.0), (1, 2, 5.0), (1, 3, 2.5), (2, 1, 7.0))
      .toDF("k", "seq", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val out = df.select($"k", $"seq", sum($"v").over(w).as("run"))
      .orderBy($"k", $"seq").collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq ===
      Seq((1, 1, 10.0), (1, 2, 15.0), (1, 3, 17.5), (2, 1, 7.0)))
  }

  test("set algebra: except ∩ intersect = ∅; |unionAll| = |A|+|B|") {
    val a = run("q_set_except").as[Long].collect().toSet
    val b = run("q_set_intersect").as[Long].collect().toSet
    assert(a.intersect(b).isEmpty)
  }

  test("topk per group: ≤3 rows per customer, ranks 1..n") {
    val t = run("q_topk_per_group")
    val bad = t.groupBy($"o_custkey").agg(count(lit(1)).as("n"),
      max($"rn").as("mx")).filter($"n" > 3 || $"mx" =!= $"n")
    assert(bad.count() === 0)
  }

  test("approx_count_distinct within 10% of exact") {
    val approx = run("q_agg_approx_distinct")
      .as[(String, Long)].collect().toMap
    val exact = Tables.t(spark, sf, "events")
      .groupBy($"event_type").agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex < 0.1,
        s"$k: approx $ap vs exact $ex")
    }
  }

  test("exact dedup is idempotent and counts preserve rows") {
    val d = run("q_dedup_exact")
    val total = d.agg(sum($"n")).first().getLong(0)
    assert(total === Tables.t(spark, sf, "documents").count())
  }

  test("minhash signature: equal docs ⇒ equal signatures") {
    // construct two identical texts through the same pipeline
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
      (3L, "x y z w v u t")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("mh_docs")
    // same shingle set ⇒ same min hash per salt
    val sh = docs.select($"doc_id", explode(array_distinct(transform(
      sequence(lit(0), size(split($"text", " ")) - 5),
      i => concat_ws(" ",
        element_at(split($"text", " "), i + 1),
        element_at(split($"text", " "), i + 2),
        element_at(split($"text", " "), i + 3),
        element_at(split($"text", " "), i + 4),
        element_at(split($"text", " "), i + 5))))).as("shingle"))
      .groupBy($"doc_id")
      .agg(min(conv(substring(md5($"shingle"), 1, 15), 16, 10).cast("long")).as("mh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
  }

  test("cosine top-k: self-similarity excluded, sim within [-1,1], ranks dense") {
    val t = run("q_sim_topk_cosine")
    assert(t.filter($"probe_id" === $"nbr_id").count() === 0)
    assert(t.filter($"sim4" > 1.0001 || $"sim4" < -1.0001).count() === 0)
    val ranks = t.groupBy($"probe_id").agg(max($"rank").as("mx"),
      count(lit(1)).as("n")).filter($"mx" =!= $"n")
    assert(ranks.count() === 0)
  }

  test("LSH ANN recall ≥ 0.5 vs brute force top-10") {
    import spark.implicits._
    val truth = run("q_sim_topk_cosine")
      .select($"probe_id", $"nbr_id").as[(Long, Long)].collect().toSet
    val approx = run("q_sim_lsh_knn")
      .select($"probe_id", $"nbr_id").as[(Long, Long)].collect().toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("multimodal decode: deterministic, bounded dimensions") {
    val d1 = run("q_multimodal_decode").collect()
    val d2 = run("q_multimodal_decode").collect()
    assert(d1 === d2)
    d1.foreach { r =>
      assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("width") <= 1920)
      assert(r.getAs[Int]("height") >= 1 && r.getAs[Int]("height") <= 1080)
      assert(r.getAs[Int]("channels") >= 1 && r.getAs[Int]("channels") <= 3)
    }
  }

  test("native dot_product expression ≡ HOF fold, bit-exact") {
    val e = Tables.t(spark, sf, "embeddings").limit(100)
    val hof = aggregate(
      zip_with($"embedding", $"embedding",
        (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val native = e.select($"vec_id",
      graft.functions.DotProductF.dot($"embedding", $"embedding").as("d"))
      .orderBy($"vec_id").collect().toSeq
    val reference = unrewritten("dot_product_f")(
      e.select($"vec_id", hof.as("d")).orderBy($"vec_id"))
    assert(native === reference.toSeq) // bit-exact equality required
  }

  test("native expressions mirror HOF null semantics (length mismatch / null element)") {
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f)),              // length mismatch
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))          // well-formed
    ).toDF("a", "b")
    val rows = df.select(
      graft.functions.DotProductF.dot($"a", $"b").as("dp"),
      graft.functions.CosineSimF.cosine($"a", $"b").as("cs"),
      aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("hof")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1) && rows(0).isNullAt(2),
      "mismatched lengths must yield NULL from both native and HOF forms")
    assert(rows(1).getDouble(0) === 5.0 && rows(1).getDouble(2) === 5.0)
    // null element: HOF poisons; native must agree
    val withNull = spark.sql(
      """SELECT aggregate(zip_with(array(CAST(1.0 AS FLOAT), NULL),
        |  array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)),
        |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, v) -> a + v) AS hof
        |""".stripMargin)
    val nativeNull = spark.sql(
      """SELECT dot_product_f(array(CAST(1.0 AS FLOAT), NULL),
        |  array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS dp""".stripMargin)
    assert(withNull.collect()(0).isNullAt(0))
    assert(nativeNull.collect()(0).isNullAt(0))
  }

  test("fused cosine_sim_f ≡ composed dot/norm form, bit-exact") {
    val e = Tables.t(spark, sf, "embeddings").limit(60)
    val a = e.select($"vec_id".as("a_id"), $"embedding".as("ea"))
    val b = e.select($"vec_id".as("b_id"), $"embedding".as("eb"))
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      graft.functions.DotProductF.dot(x, y)
    val pairs = a.join(b, $"a_id" < $"b_id")
    val fused = pairs.select($"a_id", $"b_id",
        graft.functions.CosineSimF.cosine($"ea", $"eb").as("cos"))
      .orderBy($"a_id", $"b_id").collect().toSeq
    val composed = unrewritten("cosine_sim_f")(pairs.select($"a_id", $"b_id",
        (dot($"ea", $"eb") / (sqrt(dot($"ea", $"ea")) * sqrt(dot($"eb", $"eb"))))
          .as("cos"))
      .orderBy($"a_id", $"b_id"))
    assert(fused.nonEmpty)
    assert(fused === composed.toSeq) // bit-exact equality required
  }

  test("dot_product_f is SQL-callable after registration") {
    Tables.t(spark, sf, "embeddings").limit(5)
      .createOrReplaceTempView("emb_sql_test")
    val rows = spark.sql(
      """SELECT vec_id, dot_product_f(embedding, embedding) AS d
        |FROM emb_sql_test ORDER BY vec_id""".stripMargin).collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getDouble(1) >= 0.0))
  }

  test("cosine_sim_f yields NULL (not NaN) on zero-norm and empty inputs") {
    val rows = spark.sql(
      """SELECT
        |  cosine_sim_f(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |    array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS zero_norm,
        |  cosine_sim_f(CAST(array() AS ARRAY<FLOAT>),
        |    CAST(array() AS ARRAY<FLOAT>)) AS empty
        |""".stripMargin).collect()(0)
    assert(rows.isNullAt(0), "zero-norm cosine must be NULL, not NaN")
    assert(rows.isNullAt(1), "empty-array cosine must be NULL, not NaN")
  }

  test("ShingleGen generator ≡ posexplode of the transform-built shingle array") {
    val docs = Tables.t(spark, sf, "documents")
      .filter($"doc_id" < 100)
      .select($"doc_id", split($"text", " ").as("words"))
    val viaGen = graft.functions.ShingleGen
      .shingles($"words", 5)
    val gen = docs.select($"doc_id", viaGen)
      .select($"doc_id", $"pos", $"shingle")
      .orderBy($"doc_id", $"pos")
      .as[(Long, Int, String)].collect().toSeq
    val builtin = docs.filter(size($"words") >= 5)
      .select($"doc_id", posexplode(transform(
        sequence(lit(0), size($"words") - 5),
        i => concat_ws(" ",
          element_at($"words", i + 1), element_at($"words", i + 2),
          element_at($"words", i + 3), element_at($"words", i + 4),
          element_at($"words", i + 5)))))
      .select($"doc_id", $"pos".cast("int").as("pos"), $"col".as("shingle"))
      .orderBy($"doc_id", $"pos")
      .as[(Long, Int, String)].collect().toSeq
    assert(gen.nonEmpty)
    assert(gen === builtin,
      "custom Generator must emit exactly the built-in composition's rows")
    // shorter-than-k and SQL-callable paths
    val sqlRows = spark.sql(
      """SELECT s.pos, s.shingle
        |FROM (SELECT array('a','b','c') AS w) t
        |LATERAL VIEW shingle_gen(w, 2) s AS pos, shingle""".stripMargin)
      .as[(Int, String)].collect().toSeq
    assert(sqlRows === Seq((0, "a b"), (1, "b c")))
    val short = spark.sql(
      "SELECT * FROM (SELECT array('a') AS w) LATERAL VIEW shingle_gen(w, 2) s AS p, sh")
    assert(short.count() === 0, "arrays shorter than k must emit nothing")
  }

  test("stateful profile taxonomy covers exactly the corpus event types") {
    val corpus = Tables.t(spark, sf, "events")
      .select($"event_type").distinct().as[String].collect().toSet
    assert(corpus === graft.streaming.StatefulOps.typeIdx.keySet,
      "q_stream_stateful's bitmask taxonomy must match the fixture exactly — " +
        "an unmapped type would fail fast at runtime, a stale one wastes a bit")
  }

  test("native expressions reject non-float-array inputs at analysis time") {
    // array<double> would be read with getFloat (bit-reinterpreted
    // garbage under codegen) — must fail analysis, not produce numbers
    for (fn <- Seq("dot_product_f", "cosine_sim_f")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $fn(array(1.0D, 2.0D), array(1.0D, 2.0D))").collect()
      }
      assert(e.getMessage.contains("array<float>"), s"$fn: ${e.getMessage}")
    }
    // well-typed call still analyzes fine
    val ok = spark.sql(
      """SELECT dot_product_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
    assert(ok.collect()(0).getDouble(0) === 11.0)
  }

  test("hash split partitions the corpus: disjoint, complete, 3-way") {
    val sp = run("q_split_hash")
    val total = Tables.t(spark, sf, "documents").count()
    assert(sp.count() === total, "every doc gets exactly one split")
    val bySplit = sp.groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit.values.sum === total)
    // hash split dominance: train is the 8/10 share
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
  }

  test("incremental partial-agg merge equals the direct aggregate") {
    val merged = run("q_agg_incremental").collect()
    val direct = Tables.t(spark, sf, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(graft.Det.d12($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag").collect()
    assert(merged.toSeq === direct.toSeq)
  }

  test("blocked ER resolves every dirty record back to its source") {
    val matches = run("q_er_blocking")
      .select($"dirty_id", $"matched_id").as[(Long, Long)].collect()
    val selfMatched = matches.filter { case (d, m) => d == m }.map(_._1).toSet
    val all = Tables.t(spark, sf, "customer")
      .select($"c_custkey").as[Long].collect().toSet
    assert(selfMatched === all, "recall must be 1 (blocking never drops the true match)")
  }

  test("snapshot diff statuses are consistent with cumulative snapshots") {
    val rows = run("q_snapshot_diff").collect()
    rows.foreach { r =>
      val status = r.getAs[String]("status")
      if (status == "added") assert(r.isNullAt(r.fieldIndex("a_n")))
      else {
        val (a, b) = (r.getAs[Long]("a_n"), r.getAs[Long]("b_n"))
        assert(b >= a, "snapshots are cumulative")
        assert((a == b) == (status == "same"))
      }
    }
  }

  // JVM replica of the engines' portable md5-affine hash family
  private def md5int60(x: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(d.substring(0, 15), 16)
  }
  private val HA = Seq(1103515245L, 1299709L, 104729L, 15485863L)
  private val HB = Seq(12345L, 54321L, 98765L, 424242L)
  private def hk(b: Long, k: Int, width: Int): Long =
    ((HA(k) * b + HB(k)) % 2147483647L) % width

  test("CMS point estimates never underestimate true counts") {
    val regs = run("q_sketch_cms")
      .select($"r", $"col", $"n").as[(Int, Long, Long)].collect()
      .map { case (r, c, n) => (r, c) -> n }.toMap
    val truth = Tables.t(spark, sf, "events")
      .groupBy($"user_id").count()
      .as[(Long, Long)].collect()
    val total = truth.map(_._2).sum
    truth.foreach { case (u, n) =>
      val b = md5int60(u.toString) % 1073741824L
      val est = (0 until 4).map(r => regs.getOrElse((r, hk(b, r, 64)), 0L)).min
      assert(est >= n, s"CMS underestimated user $u: $est < $n")
      // sanity cap: a single register can't exceed the corpus
      assert(est <= total)
    }
  }

  test("Bloom filter has no false negatives; bounded false positives") {
    val flagged = run("q_sketch_bloom")
      .filter($"maybe_present").select($"custkey").as[Long].collect().toSet
    val members = Tables.t(spark, sf, "orders")
      .filter($"o_totalprice" > 480000)
      .select($"o_custkey").distinct().as[Long].collect().toSet
    val missed = members.diff(flagged)
    assert(missed.isEmpty, s"false negatives (impossible for a Bloom filter): $missed")
    val universe = Tables.t(spark, sf, "customer").count()
    val fpr = (flagged.size - members.size).toDouble /
      math.max(1L, universe - members.size)
    // m=8192, k=3: fill is light at test scale — fpr must stay small
    assert(fpr <= 0.2, s"false-positive rate $fpr out of bounds")
  }

  test("weighted median equals the brute-force definition") {
    val got = run("q_agg_weighted")
      .select($"rf", $"wmedian").as[(String, Double)].collect().toMap
    val rows = Tables.t(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_extendedprice", $"l_quantity")
      .as[(String, Double, Double)].collect()
    rows.groupBy(_._1).foreach { case (rf, grp) =>
      val sorted = grp.sortBy(_._2)
      val total = sorted.map(_._3.toLong).sum
      var cum = 0L
      val expected = sorted.find { r => cum += r._3.toLong; cum * 2 >= total }.get._2
      assert(got(rf) === expected, s"weighted median mismatch for $rf")
    }
  }

  test("gini impurity stays in [0, 8000] for a 5-type taxonomy") {
    val g = run("q_agg_gini").select($"gini_scaled").as[Long].collect()
    assert(g.forall(v => v >= 0 && v <= 8000),
      "gini_scaled must lie in [0, 10^4·(1−1/5)]")
    assert(g.exists(_ > 0), "at least one user has a mixed event profile")
  }

  test("sketch merge laws: CMS adds, HLL maxes, across disjoint slices") {
    val ev = Tables.t(spark, sf, "events")
    val (a, b) = (ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 =!= 0))
    // CMS: counts are additive under union
    def cmsMap(df: org.apache.spark.sql.DataFrame) =
      Sketches.cmsOf(df).as[(Int, Long, Long)].collect()
        .map { case (r, c, n) => (r, c) -> n }.toMap
    val (fullC, aC, bC) = (cmsMap(ev), cmsMap(a), cmsMap(b))
    fullC.foreach { case (k, n) =>
      assert(aC.getOrElse(k, 0L) + bC.getOrElse(k, 0L) === n,
        s"CMS register $k is not the sum of slice registers")
    }
    // HLL: max-ranks merge by max under union
    def hllMap(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllOf(df).as[(Long, Int)].collect().toMap
    val (fullH, aH, bH) = (hllMap(ev), hllMap(a), hllMap(b))
    fullH.foreach { case (k, r) =>
      assert(math.max(aH.getOrElse(k, 0), bH.getOrElse(k, 0)) === r,
        s"HLL register $k is not the max of slice registers")
    }
  }

  test("KMV sketch: merge law, cardinality estimate, theta intersection") {
    val ev = Tables.t(spark, sf, "events")
      .filter($"event_type".isin("purchase", "error"))
    // merge law: registers(A ∪ B) = smallestK(registers(A) ∪ registers(B))
    def kmvMap(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      Sketches.kmvOf(df).select($"set_id", $"hv").as[(String, Long)]
        .collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val full = kmvMap(ev)
    val aS = kmvMap(ev.filter($"event_id" % 2 === 0))
    val bS = kmvMap(ev.filter($"event_id" % 2 =!= 0))
    full.foreach { case (set, regs) =>
      val merged = (aS.getOrElse(set, Nil) ++ bS.getOrElse(set, Nil))
        .distinct.sorted.take(Sketches.KmvK)
      assert(regs.sorted === merged,
        s"KMV($set) is not the smallest-K union of slice registers")
    }
    // cardinality estimate within 35% of the exact distinct count
    full.foreach { case (set, regs) =>
      val truth = ev.filter($"event_type" === set)
        .select($"user_id").distinct().count().toDouble
      val est = Sketches.kmvEstimate(regs)
      assert(math.abs(est - truth) / truth <= 0.35,
        s"KMV estimate for $set: $est vs true $truth")
    }
    // theta intersection on partially-overlapping synthetic sets
    val base = Tables.t(spark, sf, "events").select($"user_id").distinct()
    def tagged(name: String, pred: org.apache.spark.sql.Column) = base
      .filter(pred).select(lit(name).as("event_type"), $"user_id")
    val setA = tagged("A", $"user_id" % 3 =!= 0)
    val setB = tagged("B", $"user_id" % 2 =!= 0)
    val regs = kmvMap(setA.union(setB))
    val estI = Sketches.kmvIntersect(regs("A"), regs("B"))
    val truthI = base
      .filter($"user_id" % 3 =!= 0 && $"user_id" % 2 =!= 0).count().toDouble
    assert(math.abs(estI - truthI) / truthI <= 0.5,
      s"theta-intersection estimate $estI vs true $truthI")
  }

  test("q_sketch_kmv_setops: merged register is the smallest-K union, flags are exact") {
    val art = run("q_sketch_kmv_setops")
      .select($"hv", $"in_purchase", $"in_error")
      .as[(Long, Int, Int)].collect().toSeq
    val ev = Tables.t(spark, sf, "events")
      .filter($"event_type".isin("purchase", "error"))
    val regs = Sketches.kmvOf(ev).select($"set_id", $"hv")
      .as[(String, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    // artifact hvs = smallest-K of the union of the two registers
    val wantHvs = (regs("purchase") ++ regs("error")).toSeq.sorted
      .take(Sketches.KmvK)
    assert(art.map(_._1) === wantHvs)
    // membership flags match the source registers exactly
    art.foreach { case (hv, inP, inE) =>
      assert(inP === (if (regs("purchase")(hv)) 1 else 0), s"in_purchase($hv)")
      assert(inE === (if (regs("error")(hv)) 1 else 0), s"in_error($hv)")
    }
    // the estimators the artifact feeds stay within sketch error of
    // the exact answers (same bounds as the KMV law above)
    val estU = Sketches.kmvEstimate(art.map(_._1))
    val truthU = ev.select($"user_id").distinct().count().toDouble
    assert(math.abs(estU - truthU) / truthU <= 0.35,
      s"union estimate $estU vs true $truthU")
  }

  test("binary retrieval recall: re-rank ≥ raw Hamming vs the cosine truth") {
    // deterministic recall witness: all three retrieval paths are
    // exact given their metric, so overlap-with-brute-force-cosine is
    // a FIXED property of the corpus — re-rank (Hamming shortlist +
    // cosine scoring) must recover at least as many true top-10
    // neighbors as raw Hamming ranking, and both must beat random
    // (> 10% of the 100 probe-neighbor pairs at this SF)
    def pairs(q: String) = run(q).select($"probe_id", $"nbr_id")
      .as[(Long, Long)].collect().toSet
    val truth = pairs("q_sim_topk_cosine")
    val ham = pairs("q_sim_binary_hamming")
    val rr = pairs("q_sim_binary_rerank")
    val hamHits = (ham & truth).size
    val rrHits = (rr & truth).size
    assert(rrHits >= hamHits,
      s"cosine re-rank ($rrHits) must not lose recall vs raw Hamming ($hamHits)")
    assert(hamHits > 10,
      s"1-bit Hamming should beat random: only $hamHits/100 true neighbors")
  }

  test("triangle participation sums to 3× triangles; bounded by wedge count") {
    val part = run("q_graph_triangles")
      .select($"partkey", $"tri_cnt").as[(Long, Long)].collect()
    val total = part.map(_._2).sum
    assert(total > 0 && total % 3 === 0,
      s"each triangle credits exactly 3 vertices (got $total)")
    // a vertex can't be in more triangles than pairs of its neighbors
    val li = Tables.t(spark, sf, "lineitem").select($"l_orderkey", $"l_partkey")
    val deg = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter($"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("pa"), $"b.l_partkey".as("pb")).distinct()
      .select(explode(array($"pa", $"pb")).as("v"))
      .groupBy($"v").count().as[(Long, Long)].collect().toMap
    part.foreach { case (p, t) =>
      val d = deg(p)
      assert(t <= d * (d - 1) / 2, s"part $p: $t triangles exceeds C($d,2)")
    }
  }

  test("sparsify keeps a tie for every non-isolated vertex, ≤4 per endorsing side") {
    val kept = run("q_graph_sparsify")
      .select($"pa", $"pb", $"common_cnt", $"jac_ppm")
      .as[(Long, Long, Long, Long)].collect()
    val li = Tables.t(spark, sf, "lineitem").select($"l_orderkey", $"l_partkey")
    val edges = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter($"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("pa"), $"b.l_partkey".as("pb")).distinct()
      .as[(Long, Long)].collect().toSet
    val keptSet = kept.map(r => (r._1, r._2)).toSet
    assert(keptSet.subsetOf(edges), "sparsifier invented an edge")
    // union top-k semantics: every vertex that had an edge keeps one
    val verts = edges.flatMap(e => Seq(e._1, e._2))
    val keptVerts = keptSet.flatMap(e => Seq(e._1, e._2))
    assert(verts === keptVerts,
      s"${(verts -- keptVerts).size} vertices lost all their ties")
    // each edge is kept only via some endpoint's top-4 list
    val perVertEndorsable = verts.size * 4L
    assert(kept.length <= perVertEndorsable,
      s"${kept.length} kept edges exceeds 4 per vertex")
    kept.foreach { case (pa, pb, c, j) =>
      assert(j >= 0L && j <= 1000000L, s"($pa,$pb): jac_ppm $j out of range")
      assert((c == 0) == (j == 0) || c > 0,
        s"($pa,$pb): common $c vs jac $j inconsistent")
    }
  }

  test("mixture sampling fills each tier to its weighted budget, never over") {
    val kept = run("q_sample_mix")
      .groupBy($"tier").agg(sum($"n_chars").as("chars"))
      .as[(String, Long)].collect().toMap
    val total = Tables.t(spark, sf, "documents")
      .agg(sum($"n_chars")).as[Long].head()
    val budget = total / 2
    val weights = Map("web" -> 500000L, "curated" -> 300000L,
      "reference" -> 200000L)
    weights.foreach { case (tier, wPpm) =>
      val tierBudget = budget * wPpm / 1000000L
      val filled = kept.getOrElse(tier, 0L)
      assert(filled <= tierBudget,
        s"$tier overfilled: $filled > $tierBudget")
      assert(filled >= (tierBudget * 8) / 10,
        s"$tier underfilled: $filled < 80% of $tierBudget")
    }
  }

  test("sequence packing tiles the token stream with no gap or overlap") {
    val r = run("q_text_pack")
      .select($"doc_id", $"n_tokens", $"pack_id", $"pack_offset", $"crosses")
      .as[(Long, Long, Long, Long, Long)].collect()
    val total = Tables.t(spark, sf, "documents")
      .agg(sum(size(split($"text", " ")))).as[Long].head()
    assert(r.map(_._2).sum === total, "packing lost or invented tokens")
    // crosses ⇔ the doc's interval spills past the 256-token boundary
    r.foreach { case (id, toks, _, off, crosses) =>
      assert((off + toks > 256) === (crosses == 1L),
        s"doc $id: offset $off + $toks tokens vs crosses=$crosses")
      assert(off >= 0 && off < 256, s"doc $id: offset $off out of range")
    }
    // global layout is contiguous: sorted by start position, each doc
    // begins exactly where the previous one ended
    val starts = r.map(d => (d._3 * 256 + d._4, d._2)).sortBy(_._1)
    starts.sliding(2).foreach {
      case Array((s0, t0), (s1, _)) =>
        assert(s1 === s0 + t0, s"gap/overlap at global position $s0")
      case _ =>
    }
  }

  test("negative samples avoid positives; each user gets its full quota") {
    val neg = run("q_ml_negatives")
      .select($"custkey", $"brand_id").as[(Long, Int)].collect()
    val pos = Tables.t(spark, sf, "lineitem")
      .join(Tables.t(spark, sf, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables.t(spark, sf, "part"), $"l_partkey" === $"p_partkey")
      .select($"o_custkey".as("ck"),
        regexp_extract($"p_brand", "([0-9]+)", 1).cast("int").as("b"))
      .distinct().as[(Long, Int)].collect()
    val posSet = pos.toSet
    neg.foreach { case (u, b) =>
      assert(!posSet.contains((u, b)), s"user $u: negative $b is a positive")
    }
    val posPerUser = pos.groupBy(_._1).view.mapValues(_.length).toMap
    val negPerUser = neg.groupBy(_._1).view.mapValues(_.length).toMap
    posPerUser.foreach { case (u, np) =>
      val quota = math.min(3, 25 - np)
      assert(negPerUser.getOrElse(u, 0) === quota,
        s"user $u with $np positives: expected $quota negatives")
    }
  }

  test("ewma is a convex combination of its trailing window") {
    val rows = run("q_win_ewma")
      .select($"nation", $"qty", $"ewma_x1000").as[(Int, Long, Long)]
      .collect()
    // per nation, in output order: smoothed value stays inside the
    // envelope of the last ≤8 observations, and the series head (no
    // history) equals the raw value exactly
    rows.groupBy(_._1).values.foreach { series =>
      val qs = series.map(_._2)
      series.zipWithIndex.foreach { case ((_, _, e), i) =>
        val win = qs.slice(math.max(0, i - 7), i + 1)
        // integer floor-division loses < 1 unit of the x1000 scale
        assert(e >= win.min * 1000 - 1 && e <= win.max * 1000,
          s"ewma $e escapes window [${win.min}, ${win.max}]")
      }
      assert(series.head._3 === series.head._2 * 1000,
        "series head must equal the raw value")
    }
  }

  test("drift shares are a ppm distribution; drift is the pairwise gap") {
    val r = run("q_dq_drift")
      .select($"base_ppm", $"cur_ppm", $"drift_ppm")
      .as[(Long, Long, Long)].collect()
    for (side <- Seq(r.map(_._1), r.map(_._2))) {
      val s = side.sum
      // integer-floor shares: within #bins ppm below exactly 10^6
      assert(s <= 1000000L && s > 1000000L - r.length,
        s"ppm shares sum to $s over ${r.length} bins")
    }
    r.foreach { case (b, c, d) => assert(d === math.abs(b - c)) }
  }

  test("ALS recommender: 3 ranked brand recs per purchasing customer") {
    val recs = run("q_ml_recommend").collect()
    val users = recs.map(_.getAs[Int]("custkey")).distinct.length
    assert(recs.length === users * 3, "exactly 3 recommendations per user")
    assert(recs.forall { r =>
      val b = r.getAs[Int]("brand_id"); b >= 1 && b <= 30
    }, "recommended brands must be real brand ids")
    val purchasers = Tables.t(spark, sf, "orders")
      .select($"o_custkey").distinct().count()
    assert(users === purchasers.toInt,
      "every customer with purchase history gets recommendations")
  }

  test("ALS recommender output is pinned at sf0.01 (spec session)") {
    // Scope: the spec session (GraftSession.local(4)) at sf0.01, where
    // the ratings size ALS to one block. The rows repeat across fresh
    // JVMs there; another core count or scale factor is not covered.
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val rows = SparkEntry.queries("q_ml_recommend")(spark, sf001)
      .select($"custkey", $"rec_rank", $"brand_id")
      .as[(Int, Int, Int)].collect().sorted
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.map { case (c, r, b) => s"$c,$r,$b" }.mkString("\n")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.length === 4500)
    assert(digest === "2089548fa27a43c1602c22b35bc4ad78",
      s"q_ml_recommend rows changed: md5 $digest")
  }

  /** (row count, MD5 of the sorted rows) of a query over `dir`, built
    * in a fresh session so no earlier test's persisted frames feed it. */
  private def pinnedRows(name: String, dir: String): (Int, String) = {
    val ns = spark.newSession()
    try {
      val rows = SparkEntry.queries(name)(ns, dir).collect()
        .map(_.mkString(",")).sorted
      (rows.length, java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    } finally OpCache.clear(ns)
  }

  // The two k-means segment ops, pinned to the rows the ml Pipeline
  // (assembler → scaler → ml.clustering.KMeans) gave before both moved
  // onto Embeddings.kmeansSegment; the digests were taken from that
  // Pipeline code. Random init samples by partition, so a pin holds only
  // where the fit's persisted input is partitioned the same on every
  // build. Segmentation's input is hash-partitioned by custkey: pinned
  // at sf0.01. The scored profile's input is range-partitioned by its
  // orderBy, whose sampled bounds moved from build to build at sf0.01
  // (and its segments with them); at sf0.001 they were the same on
  // every build measured: pinned there.
  test("k-means segmentation output is pinned at sf0.01 (spec session)") {
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    assert(pinnedRows("q_ml_segmentation", sf001) ===
      ((5, "5ff78f40e74b06e63b1d8bd12acc63d7")))
  }

  test("scored-profile output is pinned at sf0.001 (spec session)") {
    assert(pinnedRows("q_c360_scored", sf) ===
      ((150, "38210ace9374331cb502ffb3c0168464")))
  }

  test("funnel stages are monotone non-increasing") {
    val stages = run("q_feat_funnel")
      .select($"stage", $"n_users").as[(String, Long)].collect().toMap
    assert(stages.keySet === Set("1_view", "2_click", "3_purchase"))
    assert(stages("1_view") >= stages("2_click"))
    assert(stages("2_click") >= stages("3_purchase"))
    assert(stages("3_purchase") > 0, "the corpus has full conversions")
  }

  test("retention triangle: offset-0 cohort counts cover every user once") {
    val rows = run("q_feat_retention")
      .select($"week_offset", $"n_users").as[(Int, Long)].collect()
    val users = Tables.t(spark, sf, "events")
      .select($"user_id").distinct().count()
    // every user is active in their own cohort week by definition
    assert(rows.filter(_._1 == 0).map(_._2).sum === users)
    assert(rows.forall(_._1 >= 0), "offsets are non-negative")
  }

  test("quantile sketch estimates land within one bin of exact quartiles") {
    val est = run("q_sketch_quantile")
      .select($"quartile", $"est_lo").as[(String, Long)].collect().toMap
    val exact = Tables.t(spark, sf, "lineitem")
      .selectExpr("percentile(l_extendedprice, array(0.25, 0.5, 0.75)) AS p")
      .select(explode($"p").as("v")).as[Double].collect()
    val pairs = Seq("p25" -> exact(0), "p50" -> exact(1), "p75" -> exact(2))
    pairs.foreach { case (q, ex) =>
      val lo = est(q)
      assert(ex >= lo && ex < lo + 1000,
        s"$q: exact $ex outside sketch bin [$lo, ${lo + 1000})")
    }
  }

  test("hash split is invariant to physical partitioning") {
    val base = run("q_split_hash").collect().toSeq
    val reparted = Tables.t(spark, sf, "documents").repartition(7)
      .createOrReplaceTempView("docs_reparted")
    // same op over a differently-partitioned frame: identical assignment
    val viaView = spark.table("docs_reparted")
      .select($"doc_id",
        (conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 10).as("bucket"))
      .withColumn("split",
        when($"bucket" < 8, "train")
          .when($"bucket" === 8, "val").otherwise("test"))
      .orderBy($"doc_id").collect().toSeq
    assert(base === viaView,
      "split assignment must be a pure function of the key, not the layout")
  }

  test("exactness-critical ops are invariant to shuffle partition count") {
    // The session's integer-exact claims (dyadic decay, KS grid,
    // doubled midranks, sweep-line order, censored labels) all assert
    // order-insensitivity — so the SAME query under different shuffle
    // widths must return byte-identical rows. 3 and 17 partitions
    // exercise both the tiny and the co-prime-to-data layouts.
    val targets = Seq("q_feat_decay_spend", "q_agg_ks", "q_ml_auc",
      "q_agg_mannwhitney", "q_events_concurrency", "q_feat_survival",
      // round 12: the island merge, the per-cell hash reservoir, and
      // the LPA tiebreak each claim a total order no layout can move
      "q_dedup_span_extend", "q_sample_reservoir", "q_graph_label_prop")
    targets.foreach { name =>
      val results = Seq("3", "17").map { parts =>
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", parts)
        SparkEntry.queries(name)(ss, sf)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(results(0) === results(1),
        s"$name differs across shuffle widths")
    }
  }

  test("connected components resolves a 30-node chain (pointer-jump path)") {
    // radius 29 chain: plain 1-hop propagation would exhaust the
    // 20-round cap; the round-5 pointer-jump switch must kick in
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(chain)
      .select($"doc_id", $"rep").as[(Long, Long)].collect().toMap
    assert(labels.size === 30)
    assert(labels.values.forall(_ == 0L),
      "every node of one chain must resolve to the minimum label")
    // two disjoint components stay separate
    val two = (Seq((0L, 1L), (1L, 2L), (10L, 11L))).toDF("a_id", "b_id")
    val reps = Dedup.connectedComponents(two)
      .select($"doc_id", $"rep").as[(Long, Long)].collect().toMap
    assert(reps(2L) === 0L && reps(11L) === 10L)
  }

  test("delta dedup's band index is appendable: signatures are corpus-independent") {
    // The incremental contract behind q_dedup_delta: a doc's MinHash
    // signature must be a pure function of THAT doc (no corpus-global
    // state), so index(corpus ∪ batch) == index(corpus) ∪ index(batch)
    // and an admitted batch appends to the persisted band index without
    // recomputing corpus signatures. A corpus-dependent signature (e.g.
    // df-weighted minhash, corpus-fit vocabulary) would silently break
    // appendability — this pins it.
    val docs = Tables.t(spark, sf, "documents")
    val full = Dedup.sigOf(docs).orderBy($"doc_id").collect().toSeq
    val split = Dedup.sigOf(docs.filter($"doc_id" % 3 === 0))
      .unionByName(Dedup.sigOf(docs.filter($"doc_id" % 3 =!= 0)))
      .orderBy($"doc_id").collect().toSeq
    assert(full === split,
      "per-slice signatures must equal the full-corpus signatures row-for-row")
  }

  test("near-dup fallback: duplicate cluster LARGER than ShingleDfCap still pairs") {
    // A template duplicated cap+20 times gives every one of its shingles
    // df = cap+20 > ShingleDfCap, so the df-capped main join sees zero
    // of its shingles — the round-4 blindness. The MinHash-band fallback
    // must route these docs back in and emit every pair.
    withTmpDir("graft_capfix") { tmp =>
    val template = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 words → 8 shingles
    val n = Dedup.ShingleDfCap.toInt + 20                      // 120-doc cluster
    val rows = (0 until n).map(i =>
      (i.toLong, template, "en", "syn", template.length.toLong)) ++ Seq(
      (1000L, (1 to 12).map(i => s"only$i").mkString(" "), "en", "syn", 12L),
      (1001L, (1 to 12).map(i => s"solo$i").mkString(" "), "en", "syn", 12L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      val pairs = Dedup.dedupNearJaccard(spark, tmp).collect()
      assert(pairs.length === n * (n - 1) / 2,
        s"expected all ${n * (n - 1) / 2} cluster pairs, got ${pairs.length}")
      assert(pairs.forall(_.getAs[Double]("jaccard") === 1.0))
      val cont = Dedup.dedupContainment(spark, tmp)
      assert(cont.count() === n.toLong * (n - 1), // directional: both ways
        "containment fallback must emit both directions for the cluster")
      val reps = Dedup.dedupClusters(spark, tmp)
        .select($"doc_id", $"rep").as[(Long, Long)].collect().toMap
      assert(reps.size === n && reps.values.forall(_ == 0L),
        "the whole over-cap cluster must collapse to rep 0")
      val survivors = Dedup.dedupSurvivorsNear(spark, tmp)
        .select($"doc_id").as[Long].collect().toSet
      assert(survivors === Set(0L, 1000L, 1001L),
        "survivors = cluster rep + the two singletons")
    } finally OpCache.clear(spark)
    }
  }

  test("ML pipeline persistence: saved PipelineModel reloads and re-scores identically") {
    import org.apache.spark.ml.PipelineModel
    val feats = MlOps.featureFrame(spark, sf)
    val model = MlOps.featurePipeline().fit(feats)
    withTmpDir("graft_mlsave") { tmp =>
      val path = s"$tmp/feature_model"
      model.write.overwrite().save(path)
      val reloaded = PipelineModel.load(path)
      val direct = MlOps.featureProjection(model.transform(feats)).collect()
      val rescored = MlOps.featureProjection(reloaded.transform(feats)).collect()
      assert(direct.nonEmpty)
      assert(direct === rescored,
        "reloaded pipeline must reproduce the original scores bit-exactly")
    }
  }

  test("chunking: windows start at 1, end at n, count matches the stride formula") {
    val chunks = run("q_text_chunking")
    val docs = Tables.t(spark, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
    val agg = chunks.groupBy($"doc_id")
      .agg(min($"tok_start").as("mn"), max($"tok_end").as("mx"),
        count(lit(1)).as("k"))
      .join(docs, Seq("doc_id"))
    assert(agg.filter($"mn" =!= 1L || $"mx" =!= $"n").count() === 0,
      "every doc must be covered from token 1 to n")
    val badCount = agg.filter($"k" =!=
      greatest(ceil(($"n" - 50).cast("double") / 40), lit(0.0)).cast("long") + 1L)
    assert(badCount.count() === 0, "chunk count must equal ceil((n-50)/40)+1")
  }

  test("vocab coverage: 1 ≤ vocab_90 ≤ distinct_terms") {
    val v = run("q_text_vocab_coverage")
    assert(v.filter($"vocab_90" < 1L || $"vocab_90" > $"distinct_terms")
      .count() === 0)
  }

  test("IVF ANN recall ≥ 0.5 vs brute force top-10") {
    val truth = run("q_sim_topk_cosine")
      .select($"probe_id", $"nbr_id").as[(Long, Long)].collect().toSet
    val approx = run("q_sim_ivf_topk")
      .select($"probe_id", $"nbr_id").as[(Long, Long)].collect().toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("IVF-PQ ADC recall ≥ plain IVF at equal nprobe vs the cosine truth") {
    // r9 verdict item 4's law: the ADC shortlist + exact re-rank may
    // only lose a true neighbor that ADC ranks below the shortlist cut;
    // with the 128-deep shortlist over these cell populations it must
    // retain everything plain IVF (exact scoring over the SAME probed
    // cells) finds — so its recall can't drop below plain IVF's, and
    // the composition stays a strict memory win (4 B of codes scanned
    // per candidate vs 256 B of floats).
    val truth = run("q_sim_topk_cosine")
      .select($"probe_id", $"nbr_id").as[(Long, Long)].collect().toSet
    val ivf = run("q_sim_ivf_topk")
      .select($"probe_id", $"nbr_id").as[(Long, Long)].collect().toSet
    val ivfpq = run("q_sim_ivfpq_topk")
      .select($"probe_id", $"nbr_id").as[(Long, Long)].collect().toSet
    val rIvf = truth.count(ivf.contains).toDouble / truth.size
    val rPq = truth.count(ivfpq.contains).toDouble / truth.size
    assert(rPq >= rIvf,
      s"IVF-PQ recall $rPq must not drop below plain IVF $rIvf")
    assert(rPq >= 0.5, s"IVF-PQ recall $rPq")
    // output contract: top-10 per probe, ranks 1..10, sims in [-1, 1]
    val out = run("q_sim_ivfpq_topk")
    assert(out.groupBy($"probe_id").count()
      .filter($"count" =!= 10L).count() === 0)
    assert(out.filter($"sim4" < -1 || $"sim4" > 1).count() === 0)
  }

  test("optimizer rule rewrites HOF dot-product into native expression") {
    def hofDf = Tables.t(spark, sf, "embeddings").limit(50)
      .select($"vec_id",
        aggregate(
          zip_with($"embedding", $"embedding",
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("d"))
    val optimized = hofDf.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product_f"),
      s"rule did not fire:\n$optimized")
    // and values are unchanged: the rewritten HOF against the HOF
    // evaluated as written
    val reference = unrewritten("dot_product_f")(hofDf.orderBy($"vec_id"))
    assert(hofDf.orderBy($"vec_id").collect().toSeq === reference.toSeq)
  }

  test("optimizer rule rewrites the L2 self-product transform pattern") {
    def hofDf = Tables.t(spark, sf, "embeddings").limit(50)
      .select($"vec_id",
        aggregate(
          transform($"embedding", x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("d"))
    val optimized = hofDf.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product_f"),
      s"L2 rule did not fire:\n$optimized")
    val reference = unrewritten("dot_product_f")(hofDf.orderBy($"vec_id"))
    assert(hofDf.orderBy($"vec_id").collect().toSeq === reference.toSeq)
  }

  test("optimizer rule fuses the composed cosine into cosine_sim_f") {
    val e = Tables.t(spark, sf, "embeddings").limit(40)
    val a = e.select($"vec_id".as("a_id"), $"embedding".as("ea"))
    val b = e.select($"vec_id".as("b_id"), $"embedding".as("eb"))
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    // user writes the composed HOF cosine; the rule must fuse the
    // whole thing (HOF → dot_product_f → cosine_sim_f) in one pass
    def composed = a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        (hofDot($"ea", $"eb") /
          (sqrt(hofDot($"ea", $"ea")) * sqrt(hofDot($"eb", $"eb"))))
          .as("cos"))
    val optimized = composed.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_sim_f"),
      s"cosine fusion did not fire:\n$optimized")
    // and bit-exact vs the composed HOF evaluated as written
    val reference =
      unrewritten("cosine_sim_f")(composed.orderBy($"a_id", $"b_id"))
    assert(composed.orderBy($"a_id", $"b_id").collect().toSeq ===
      reference.toSeq)
  }

  test("fused cosine preserves ANSI divide-by-zero on zero-norm rows") {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      graft.functions.DotProductF.dot(x, y)
    // zero vector DERIVED from a column (a literal one would be
    // constant-folded — and thrown on — before this rule ever runs)
    val zero = Tables.t(spark, sf, "embeddings").limit(1)
      .select(transform($"embedding", _ => lit(0.0f)).as("a"),
        $"embedding".as("b"))
    def composed = zero.select(
      (dot($"a", $"b") / (sqrt(dot($"a", $"a")) * sqrt(dot($"b", $"b"))))
        .as("cos"))
    assert(composed.queryExecution.optimizedPlan.toString.contains("cosine_sim_f"))
    // the session runs ANSI: the un-fused divide throws, so the fused
    // expression must too (the executor wraps it in SparkException —
    // walk the cause chain)
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    for ((side, e) <- Seq(
        "fused" -> intercept[Exception] { composed.collect() },
        "un-fused" -> intercept[Exception] {
          unrewritten("cosine_sim_f")(composed) }))
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
        s"$side: expected an ArithmeticException in the cause chain, got $e")
  }

  test("optimizer rule does NOT fire on double arrays or uncast floats") {
    // array<double> input: DotProductF reads getFloat — must not fire
    val dblDf = Tables.t(spark, sf, "embeddings").limit(10)
      .select(transform($"embedding", x => x.cast("double")).as("emb_d"))
      .select(
        aggregate(
          zip_with($"emb_d", $"emb_d",
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("d"))
    assert(!dblDf.queryExecution.optimizedPlan.toString.contains("dot_product_f"),
      "rule must not fire on array<double> inputs")
    // uncast float product: per-element float rounding — must not fire
    val fltDf = Tables.t(spark, sf, "embeddings").limit(10)
      .select(
        aggregate(
          zip_with($"embedding", $"embedding", (a, b) => a * b),
          lit(0.0).cast("float"), (acc, v) => acc + v).as("d"))
    assert(!fltDf.queryExecution.optimizedPlan.toString.contains("dot_product_f"),
      "rule must not fire on uncast float products")
  }

  test("HLL register sketch estimates distinct users within 20%") {
    val regs = run("q_sketch_hll")
      .select($"register").as[Int].collect().toSeq
    // buckets never hit stay at rank 0
    val full = regs ++ Seq.fill(64 - regs.size)(0)
    val est = ops.Sketches.hllEstimate(full)
    val truth = Tables.t(spark, sf, "events")
      .select($"user_id").distinct().count().toDouble
    assert(math.abs(est - truth) / truth <= 0.20,
      s"HLL estimate $est vs true $truth")
  }

  test("int8 quantization reconstructs within half a grid step") {
    val maxErr = Tables.t(spark, sf, "embeddings")
      .select(aggregate(
        zip_with($"embedding",
          transform($"embedding",
            x => floor(x.cast("double") * 127d + 0.5d) / 127d),
          (x, r) => abs(x.cast("double") - r)),
        lit(0.0), (m, e) => greatest(m, e)).as("err"))
      .agg(max($"err")).collect()(0).getDouble(0)
    assert(maxErr <= 0.5 / 127 + 1e-12, s"max reconstruction error $maxErr")
  }

  test("ml propensity: training predictions beat chance on 10 classes") {
    val cm = run("q_ml_propensity")
      .as[(Double, Double, Long)].collect()
    val total = cm.map(_._3).sum
    val correct = cm.filter(r => r._1 == r._2).map(_._3).sum
    assert(correct.toDouble / total > 0.2, // chance = 0.1
      s"train accuracy ${correct.toDouble / total}")
  }

  test("gbt propensity: beats chance and obeys the 0.5-threshold law") {
    // the binary rollup beats the 50% base rate...
    val cm = run("q_ml_gbt_propensity")
      .as[(Double, Double, Long)].collect()
    val total = cm.map(_._3).sum
    val correct = cm.filter(r => r._1 == r._2).map(_._3).sum
    assert(correct.toDouble / total > 0.6, // chance = 0.5
      s"gbt train accuracy ${correct.toDouble / total}")
    // ...and the scored frame's prediction IS the 0.5 threshold on
    // P(1), row for row — the deployment contract a scoring pipeline
    // relies on when it thresholds probabilities itself
    val lawBreaks = graft.ops.MlOps.gbtScored(spark, sf)
      .filter(($"p1" >= 0.5) =!= ($"prediction" === 1.0)).count()
    assert(lawBreaks === 0L, s"$lawBreaks rows break prediction ≡ p1≥0.5")
  }

  test("saved model scores ≡ in-session scores in a fresh session") {
    // The deployment law behind q_ml_score_saved: training and serving
    // are different jobs — the persisted artifact must reproduce the
    // in-session model's scores row for row, loaded in a session that
    // never saw the fit.
    import org.apache.spark.ml.classification.{LogisticRegression,
      LogisticRegressionModel}
    import org.apache.spark.ml.functions.vector_to_array
    val data = Tables.t(spark, sf, "embeddings")
      .select($"vec_id",
        org.apache.spark.ml.functions.array_to_vector(
          $"embedding".cast("array<double>")).as("features"),
        $"label".cast("double").as("label"))
    val model = new LogisticRegression()
      .setMaxIter(30).setRegParam(0.01).setTol(1e-7).fit(data)
    val want = model.transform(data)
      .select($"vec_id", $"prediction",
        vector_to_array($"probability").getItem(0).as("p0"))
      .as[(Long, Double, Double)].collect().toSet
    withTmpDir("graft_ml_saved") { base =>
      model.write.overwrite().save(s"$base/m")
      val fresh = spark.newSession()
      val got = LogisticRegressionModel.load(s"$base/m")
        .transform(Tables.t(fresh, sf, "embeddings")
          .select(col("vec_id"),
            org.apache.spark.ml.functions.array_to_vector(
              col("embedding")).as("features")))
        .select(col("vec_id"), col("prediction"),
          vector_to_array(col("probability")).getItem(0).as("p0"))
        .as[(Long, Double, Double)].collect().toSet
      assert(got === want,
        "loaded-artifact scores diverged from the in-session model")
    }
  }

  test("cross-validated selection: stable winner, exactly one, better metric") {
    val rows = run("q_ml_cv_select")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(rows.length === 2)
    assert(rows.count(_._3) === 1, "exactly one grid point wins")
    val winner = rows.find(_._3).get
    val loser = rows.find(!_._3).get
    assert(winner._2 >= loser._2,
      "the winner must carry the best cross-validated metric")
    // seeded determinism: a refit picks the same winner
    val again = run("q_ml_cv_select")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(again.toSeq === rows.toSeq, "CV selection must be seed-stable")
  }

  test("kmeans segmentation: 5 clusters, all customers assigned") {
    val seg = run("q_ml_segmentation").collect()
    assert(seg.length === 5)
    val custs = Tables.t(spark, sf, "orders")
      .select($"o_custkey").distinct().count()
    assert(seg.map(_.getAs[Long]("n")).sum === custs)
  }

  // ---- cross-operator and algebraic laws for the late-round-7 ops ----

  test("CDC apply ≡ SCD2 current versions (two routes, one truth)") {
    // The changelog materialization and the dimension history are two
    // views of the same stream: the CDC winner per key must equal the
    // OPEN SCD2 interval's state, with tombstoned keys absent from both.
    val cdc = run("q_cdc_apply").select($"user_id", $"state")
    val scd = run("q_scd2_build")
      .filter($"is_current" && $"state" =!= "error")
      .select($"user_id", $"state")
    assert(cdc.exceptAll(scd).isEmpty && scd.exceptAll(cdc).isEmpty)
  }

  test("SCD2 versions partition each user's timeline exactly") {
    val byVersion = run("q_scd2_build")
      .groupBy($"user_id").agg(sum($"n_events").as("n"))
    val byLog = Tables.t(spark, sf, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("n2"))
    assert(byVersion.join(byLog, "user_id")
      .filter($"n" =!= $"n2").count() === 0L)
  }

  test("pagerank conserves probability mass and the teleport floor") {
    val pr = run("q_graph_pagerank")
    val mass = pr.agg(sum($"pr_ppm")).as[Long].head()
    // floors only ever LOSE mass, bounded by (edges + nodes) ppm per
    // iteration — far under 10k over 3 iterations
    assert(mass <= 1000000L && mass > 990000L, s"mass $mass")
    assert(pr.filter($"pr_ppm" < 30000L).count() === 0L)
  }

  test("interpolated points stay inside their series' observed envelope") {
    val ti = run("q_time_interp")
    val envelope = ti.filter($"observed")
      .groupBy($"pk").agg(min($"qty").as("lo"), max($"qty").as("hi"))
    assert(ti.filter(!$"observed").join(envelope, "pk")
      .filter($"qty" < $"lo" || $"qty" > $"hi").count() === 0L)
  }

  test("basket affinity obeys its margin algebra") {
    assert(run("q_basket_affinity")
      .filter($"n_both" > least($"n_a", $"n_b") ||
        $"jaccard_ppm" > 1000000L || $"n_both" < 1L)
      .count() === 0L)
  }

  test("z-order file stats cover the corpus exactly once") {
    val n = run("q_layout_zorder").agg(sum($"n")).as[Long].head()
    assert(n === Tables.t(spark, sf, "events").count())
  }

  test("quantile normalization spans [0, 1e6] exactly per segment") {
    assert(run("q_feat_quantile_norm")
      .groupBy($"c_mktsegment")
      .agg(min($"qnorm_ppm").as("mn"), max($"qnorm_ppm").as("mx"))
      .filter($"mn" =!= 0L || $"mx" =!= 1000000L).count() === 0L)
  }

  test("trailing distinct is positive and bounded by the type domain") {
    assert(run("q_feat_trailing_distinct")
      .filter($"n_types_30d" < 1L || $"n_types_30d" > 5L).count() === 0L)
  }

  test("resize plan: bounded, aspect-preserving, idempotent on small media") {
    val r = run("q_multimodal_resize")
      .select($"doc_id", $"width", $"height", $"out_w", $"out_h",
        $"scale_ppm")
      .as[(Long, Int, Int, Int, Int, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (id, w, h, ow, oh, ppm) =>
      val mx = math.max(w, h).toLong
      if (mx <= 224L)
        assert((ow, oh, ppm) === ((w, h, 1000000L)),
          s"doc $id: in-box media must pass through unchanged")
      else {
        assert(math.max(ow, oh) <= 224 && ow >= 1 && oh >= 1,
          s"doc $id: ($ow, $oh) escapes the 224 box")
        // integer-floor aspect drift is bounded by one long-side unit
        assert(math.abs(ow.toLong * h - oh.toLong * w) <= mx,
          s"doc $id: aspect drift |$ow×$h − $oh×$w| > $mx")
        assert(ppm === 224L * 1000000L / mx, s"doc $id: scale_ppm")
      }
    }
  }

  test("attribution credits only touch types, conserves value up to floor loss") {
    val r = run("q_feat_attribution")
      .select($"event_type", $"touches", $"purchases", $"credit")
      .as[(String, Long, Long, Double)].collect()
    assert(r.map(_._1).toSet.subsetOf(
      Set("click", "view", "signup", "error")), "purchase row in output")
    r.foreach { case (t, touches, purchases, credit) =>
      assert(touches >= purchases && purchases >= 1L,
        s"$t: $touches touches < $purchases purchases")
      assert(credit > 0.0, s"$t: non-positive credit")
    }
    // conservation: total credit never exceeds total purchase value,
    // and the floor-division loss is bounded by one µ$ per touch
    val totalPurchase = Tables.t(spark, sf, "events")
      .filter($"event_type" === "purchase")
      .agg(sum(round($"value" * 10000, 0).cast("long"))).as[Long].head()
    val credited = math.round(r.map(_._4).sum * 10000)
    val touchesTotal = r.map(_._2).sum
    assert(credited <= totalPurchase,
      s"credited $credited micro-dollars exceeds purchase total $totalPurchase")
    assert(credited >= 0L && totalPurchase - credited >= 0L)
    assert(credited + touchesTotal >= 0L) // overflow guard on the bound math
  }

  test("audience overlap covers all type pairs with consistent jaccard") {
    val r = run("q_audience_overlap")
      .select($"type_a", $"type_b", $"both_users", $"jaccard")
      .as[(String, String, Long, Double)].collect()
    assert(r.length === 10, s"expected C(5,2)=10 pairs, got ${r.length}")
    r.foreach { case (a, b, _, _) => assert(a < b, s"unordered pair ($a,$b)") }
    val totals = Tables.t(spark, sf, "events")
      .select($"user_id", $"event_type").distinct()
      .groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    r.foreach { case (a, b, both, jac) =>
      assert(both >= 1L && both <= math.min(totals(a), totals(b)),
        s"($a,$b): overlap $both outside [1, min(${totals(a)}, ${totals(b)})]")
      val expect = math.rint(both.toDouble /
        (totals(a) + totals(b) - both) * 10000) / 10000
      assert(math.abs(jac - expect) < 1e-9,
        s"($a,$b): jaccard $jac != recomputed $expect")
    }
  }

  test("shard manifest covers the corpus exactly, shards size-bounded") {
    val m = run("q_shard_manifest")
      .select($"shard_id", $"n_docs", $"total_chars")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val docs = Tables.t(spark, sf, "documents")
    assert(m.map(_._2).sum === docs.count())
    assert(m.map(_._3).sum ===
      docs.agg(sum($"n_chars")).as[Long].head())
    // shard ids are the dense integers 0..max (greedy packing leaves
    // no hole), and every shard but the last holds ≥ 1 byte past its
    // start boundary — a shard overfull beyond budget+maxdoc is a bug
    assert(m.map(_._1) === m.indices.map(_.toLong))
    val maxDoc = docs.agg(max($"n_chars")).as[Long].head()
    m.dropRight(1).foreach { case (id, _, chars) =>
      assert(chars <= 10000L + maxDoc, s"shard $id overfull: $chars")
    }
  }

  test("k-anonymity risk is monotone in k and bounded by the table") {
    val r = run("q_privacy_kanon")
      .select($"k", $"n_groups_at_risk", $"n_rows_at_risk", $"rows_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.map(_._1) === Seq(2L, 5L, 10L))
    val total = Tables.t(spark, sf, "customer").count()
    r.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._2 <= hi._2 && lo._3 <= hi._3,
        s"risk must grow with k: $lo vs $hi")
    }
    r.foreach { case (k, grps, rows, ppm) =>
      assert(rows <= total && ppm <= 1000000L)
      assert(rows < k * math.max(grps, 1L),
        s"k=$k: $rows rows in $grps groups each of size < $k")
    }
  }

  test("entropy is within [0, ln(langs)·1e4] and HHI complements it") {
    val langs = Tables.t(spark, sf, "documents")
      .select($"lang").distinct().count()
    val cap = math.ceil(math.log(langs.toDouble) * 10000).toLong
    run("q_agg_entropy")
      .select($"n_langs", $"entropy_e4", $"hhi")
      .as[(Long, Long, Long)].collect().foreach { case (nl, e, h) =>
        assert(nl >= 1L && nl <= langs)
        assert(e >= 0L && e <= cap, s"entropy $e outside [0, $cap]")
        // HHI of n equal shares is 1e12/n; concentration can only
        // raise it, and it never exceeds the monopoly 1e12
        assert(h <= 1000000000000L && h * nl >= 990000000000L,
          s"hhi $h with $nl langs")
      }
  }

  test("WoE bins partition the table; counts and signs reconcile") {
    val r = run("q_feat_woe")
      .select($"n", $"goods", $"bads", $"woe")
      .as[(Long, Long, Long, Double)].collect()
    val c = Tables.t(spark, sf, "customer")
    assert(r.map(_._1).sum === c.count())
    assert(r.map(_._2).sum ===
      c.filter($"c_mktsegment" === "BUILDING").count())
    r.foreach { case (n, g, b, woe) =>
      assert(g + b === n)
      // smoothed WoE stays finite even for empty cells
      assert(!woe.isNaN && !woe.isInfinite)
    }
  }

  test("balanced sample: every class equal at the min-class size") {
    val r = run("q_sample_balance")
    val sizes = r.groupBy($"event_type").count()
      .select($"count").distinct().as[Long].collect()
    assert(sizes.length === 1, s"classes unequal: ${sizes.toSeq}")
    val minClass = Tables.t(spark, sf, "events")
      .groupBy($"event_type").count()
      .agg(min($"count")).as[Long].head()
    assert(sizes.head === minClass)
    // idempotence of the recipe: kept set ⊆ corpus, no duplicates
    assert(r.count() === r.select($"event_id").distinct().count())
  }

  test("moments: symmetric-ish uniform balances, kurtosis below gaussian") {
    // c_acctbal is ~uniform on its domain: skewness near 0, excess
    // kurtosis near -1.2 (uniform), far from heavy-tailed; bounds are
    // loose sanity rails, exactness is the oracle's job
    run("q_agg_moments")
      .select($"skewness", $"kurtosis")
      .as[(Double, Double)].collect().foreach { case (sk, ku) =>
        assert(math.abs(sk) < 0.5, s"skewness $sk")
        assert(ku > -1.6 && ku < 0.5, s"kurtosis $ku")
      }
  }

  test("k-fold shares sum to ~1e6 per segment; all folds populated") {
    val r = run("q_ml_kfold")
      .select($"fold", $"c_mktsegment", $"share_ppm")
      .as[(Long, String, Long)].collect()
    assert(r.map(_._1).distinct.sorted === Seq(0L, 1L, 2L, 3L, 4L))
    // integer floor-division loses at most 1 ppm per fold
    r.groupBy(_._2).foreach { case (seg, rows) =>
      val tot = rows.map(_._3).sum
      assert(tot > 1000000L - 5 && tot <= 1000000L, s"$seg ppm sum $tot")
    }
  }

  test("referential audit: clean corpus, child counts reconcile") {
    val r = run("q_dq_referential")
      .select($"fk_edge", $"n_child", $"n_null_fk", $"n_orphan")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(r.size === 4)
    r.foreach { case (e, _, nn, no) =>
      assert(nn === 0L && no === 0L, s"$e: nulls=$nn orphans=$no")
    }
    val li = Tables.t(spark, sf, "lineitem").count()
    assert(r.filter(_._1.startsWith("lineitem.")).forall(_._2 === li))
  }

  test("skew audit: ratio ≥ 100 (max ≥ avg), keys bounded by rows") {
    run("q_dq_skew")
      .select($"n_rows", $"n_keys", $"max_key_rows", $"skew_x100")
      .as[(Long, Long, Long, Long)].collect().foreach {
        case (nr, nk, mx, sk) =>
          assert(sk >= 100L - 1, s"skew ratio $sk below avg floor")
          assert(nk <= nr && mx <= nr && mx >= nr / nk)
      }
  }

  test("winsorized mean sits inside [lo, hi]; bounds ordered") {
    run("q_agg_winsorize")
      .select($"winsorized_mean", $"lo", $"hi")
      .as[(Double, Double, Double)].collect().foreach {
        case (wm, lo, hi) =>
          assert(lo <= hi && wm >= lo && wm <= hi,
            s"winsorized $wm outside [$lo, $hi]")
      }
  }

  test("mutual information is non-negative up to rounding loss") {
    run("q_ml_mutual_info")
      .select($"n_cells", $"mi_e6").as[(Long, Long)].collect().foreach {
        case (cells, mi) =>
          // each cell term rounds within 0.5e-6; MI itself is ≥ 0
          assert(mi >= -cells, s"mi_e6 $mi below rounding floor")
      }
  }

  test("keywords: exactly ≤3 per doc, scores non-increasing in rank") {
    val r = run("q_text_keywords")
      .select($"doc_id", $"rnk", $"score")
      .as[(Long, Int, Double)].collect()
    r.groupBy(_._1).foreach { case (doc, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.length <= 3)
      assert(byRank.map(_._2).toSeq === (1 to byRank.length))
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._3 >= b._3, s"doc $doc ranks inverted")
        case _ =>
      }
    }
  }

  test("load curve percentiles are ordered and hour counts bounded") {
    run("q_events_load_curve")
      .select($"n_hours", $"p50_per_hour", $"p95_per_hour", $"max_per_hour")
      .as[(Long, Double, Double, Long)].collect().foreach {
        case (nh, p50, p95, mx) =>
          assert(p50 <= p95 && p95 <= mx.toDouble)
          assert(nh >= 1L && nh <= 31L * 24L)
      }
  }

  test("funnel latency: conversions bounded, percentiles ordered") {
    val Array((ns, nc, p50, p90, mx)) = run("q_feat_funnel_latency")
      .select($"n_signup_users", $"n_converted", $"p50_min", $"p90_min",
        $"max_min")
      .as[(Long, Long, Double, Double, Long)].collect()
    assert(nc <= ns && ns >= 1L)
    assert(p50 <= p90 && p90 <= mx.toDouble)
  }

  test("cohort LTV: cumulative is monotone; totals reconcile with purchases") {
    val r = run("q_feat_cohort_ltv")
      .select($"cohort_wk", $"age_wk", $"wk_value", $"cum_value")
      .as[(Long, Long, Double, Double)].collect()
    r.groupBy(_._1).foreach { case (cohort, rows) =>
      val byAge = rows.sortBy(_._2)
      byAge.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 >= a._4, s"cohort $cohort cum_value decreased")
        case _ =>
      }
      // cum at max age = sum of weekly values (exact decimal upstream)
      assert(math.abs(byAge.last._4 - byAge.map(_._3).sum) < 1e-6)
    }
    // every attributed purchase belongs to a signed-up user, so the
    // grand total is bounded by total purchase value
    val grand = r.groupBy(_._1).map(_._2.maxBy(_._2)._4).sum
    val allPurch = Tables.t(spark, sf, "events")
      .filter($"event_type" === "purchase")
      .agg(sum($"value")).as[Double].head()
    assert(grand <= allPurch + 1e-6)
  }

  test("benford: digits complete, shares sum to ~1e6, gaps consistent") {
    val r = run("q_agg_benford")
      .select($"digit", $"n", $"obs_ppm", $"expect_ppm", $"gap_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.map(_._1) === (1L to 9L))
    val obsSum = r.map(_._3).sum
    assert(obsSum > 1000000L - 10 && obsSum <= 1000000L)
    // Benford expectation itself sums to ~1e6 by construction
    assert(math.abs(r.map(_._4).sum - 1000000L) <= 1)
    r.foreach { case (_, _, o, e, g) => assert(g === math.abs(o - e)) }
    assert(r.map(_._2).sum ===
      Tables.t(spark, sf, "orders").count())
  }

  test("seasonality covers the calendar grid; shares sum to ~1e6") {
    val r = run("q_agg_seasonality")
      .select($"dow", $"hod", $"n", $"share_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.forall { case (d, h, n, _) =>
      d >= 1L && d <= 7L && h >= 0L && h <= 23L && n >= 1L })
    val shareSum = r.map(_._4).sum
    assert(shareSum > 1000000L - 200 && shareSum <= 1000000L)
    assert(r.map(_._3).sum === Tables.t(spark, sf, "events").count())
  }

  test("retention triangle: age-0 is the cohort, ppm bounded, monotone-ish") {
    val r = run("q_feat_cohort_retention")
      .select($"cohort_wk", $"age_wk", $"n_active", $"cohort_n",
        $"retained_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    r.groupBy(_._1).foreach { case (cohort, rows) =>
      val age0 = rows.find(_._2 === 0L)
        .getOrElse(fail(s"cohort $cohort missing age-0"))
      // every cohort member signs up in week 0, so the age-0 cell IS
      // the cohort
      assert(age0._3 === age0._4 && age0._5 === 1000000L)
      rows.foreach { case (_, _, na, cn, ppm) =>
        assert(na <= cn && ppm <= 1000000L && ppm >= 1L)
      }
    }
  }

  test("returns top-20: sorted desc, positive revenue, known flag only") {
    val r = run("q_c360_returns")
      .select($"lost_revenue", $"n_items").as[(Double, Long)].collect()
    assert(r.length <= 20 && r.nonEmpty)
    assert(r.map(_._1).sameElements(r.map(_._1).sorted.reverse))
    assert(r.forall { case (rev, n) => rev > 0 && n >= 1 })
  }

  test("concurrency: 1 <= peak <= day's users; exact user counts") {
    val r = run("q_events_concurrency")
      .select($"day".cast("string"), $"n_users", $"peak_concurrency")
      .as[(String, Long, Long)].collect()
    assert(r.forall { case (_, u, p) => p >= 1 && p <= u })
    val direct = Tables.t(spark, sf, "events")
      .select($"user_id", $"ts".cast("date").cast("string").as("day"))
      .distinct().groupBy($"day").count()
      .as[(String, Long)].collect().toMap
    r.foreach { case (d, u, _) => assert(direct(d) === u) }
  }

  test("calibration: full deciles, monotone score, rates in [0,1]") {
    val r = run("q_ml_calibration")
      .select($"decile", $"n", $"avg_score", $"pos_rate")
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    assert(r.map(_._1) === (1 to 10))
    // ntile deciles differ in size by at most one
    assert(r.map(_._2).max - r.map(_._2).min <= 1)
    assert(r.map(_._3).sameElements(r.map(_._3).sorted))
    assert(r.forall { case (_, _, s, p) =>
      s >= 0 && s <= 1 && p >= 0 && p <= 1 })
  }

  test("l-diversity: customers fully partitioned, l within domain") {
    val r = run("q_privacy_ldiversity")
      .select($"l", $"n_groups", $"n_customers", $"min_group_size")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.map(_._3).sum === Tables.t(spark, sf, "customer").count())
    // sensitive domain = the 5 order priorities (plus l=0 no-history)
    assert(r.forall { case (l, g, c, m) =>
      l >= 0 && l <= 5 && g >= 1 && m >= 1 && c >= m })
    val nGroups = Tables.t(spark, sf, "customer")
      .select($"c_nationkey", $"c_mktsegment").distinct().count()
    assert(r.map(_._2).sum === nGroups)
  }

  test("graph components: sizes >= 2, node total matches edge support") {
    val r = run("q_graph_components")
      .select($"csize", $"n_components").as[(Long, Long)].collect()
    assert(r.forall { case (sz, n) => sz >= 2 && n >= 1 })
    val li = Tables.t(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
    val nodes = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter($"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("pa"), $"b.l_partkey".as("pb"))
      .count().filter($"count" >= 2)
      .select(explode(array($"pa", $"pb")).as("v")).distinct().count()
    assert(r.map { case (sz, n) => sz * n }.sum === nodes)
  }

  test("decayed spend: bounded by raw, exact at the no-decay boundary") {
    val r = run("q_feat_decay_spend")
      .select($"decayed_spend", $"raw_spend").as[(Double, Double)].collect()
    assert(r.forall { case (d, raw) => d > 0 && d <= raw + 1e-9 })
    // decay floor: weight never drops below 2^-8 of raw
    assert(r.forall { case (d, raw) => d >= raw / 256.0 - 1e-9 })
  }

  test("stream topk agrees with the batch hourly rank") {
    val r = run("q_stream_topk")
      .select($"hour_start".cast("string"), $"rk", $"event_type", $"n")
      .as[(String, Int, String, Long)].collect()
    assert(r.forall(_._2 >= 1) && r.forall(_._2 <= 3))
    r.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.sameElements(byRank.sorted.reverse))
    }
    val batch = Tables.t(spark, sf, "events")
      .groupBy(date_trunc("hour", $"ts").cast("string").as("h"),
        $"event_type").count()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"h")
          .orderBy($"count".desc, $"event_type")))
      .filter($"rk" <= 3)
      .select($"h", $"rk", $"event_type", $"count")
      .as[(String, Int, String, Long)].collect().toSet
    assert(r.map { case (h, k, t, n) => (h, k, t, n) }.toSet === batch)
  }

  test("freshness: window counts nested, high-water marks exact") {
    val r = run("q_dq_freshness")
      .select($"feed", $"total_rows", $"max_ts".cast("string"),
        $"rows_24h", $"rows_7d")
      .as[(String, Long, String, Long, Long)].collect()
    assert(r.map(_._1).sorted === Array("events", "orders"))
    assert(r.forall { case (_, tot, _, d1, d7) =>
      d1 >= 1 && d1 <= d7 && d7 <= tot })
    val evMax = Tables.t(spark, sf, "events")
      .agg(max($"ts").cast("string")).as[String].first()
    assert(r.find(_._1 == "events").get._3 === evMax)
  }

  test("psi: terms non-negative, epsilon floor respected") {
    val r = run("q_dq_psi")
      .select($"base_ppm", $"cur_ppm", $"psi_term_e6")
      .as[(Long, Long, Long)].collect()
    // (p-q)ln(p/q) >= 0 always; equality iff p == q
    assert(r.forall { case (b, c, t) => if (b == c) t == 0 else t >= 0 })
    assert(r.forall { case (b, c, _) => b >= 1 && c >= 1 })
  }

  test("cusum: one peak row per type, zero-sum deviations bound it") {
    val r = run("q_win_cusum")
      .select($"event_type", $"n_days", $"peak_cusum_scaled")
      .as[(String, Long, Long)].collect()
    assert(r.map(_._1).distinct.length === r.length)
    // total deviation sums to zero, so |peak| is strictly inside the
    // total-variation bound n_days * total
    val totals = Tables.t(spark, sf, "events")
      .groupBy($"event_type").count().as[(String, Long)].collect().toMap
    r.foreach { case (t, nd, pk) =>
      assert(math.abs(pk) <= nd * totals(t)) }
  }

  test("survival: at-risk reverse-cumulative, ppm columns consistent") {
    val r = run("q_feat_survival")
      .select($"tenure", $"n_at_risk", $"n_churned", $"n_censored",
        $"hazard_ppm", $"surv_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val nTotal = r.map(x => x._3 + x._4).sum
    assert(r.head._2 === nTotal) // smallest tenure: everyone at risk
    // at_risk(t) = at_risk(t+1) + n(t)
    r.sliding(2).foreach {
      case Array(a, b) => assert(a._2 === b._2 + a._3 + a._4)
      case _ =>
    }
    assert(r.forall { case (_, risk, ch, _, hz, sv) =>
      hz === ch * 1000000L / risk && sv === risk * 1000000L / nTotal })
  }

  test("order priority: semi-join bounded by quarter order counts") {
    val r = run("q_c360_order_priority")
      .select($"o_orderpriority", $"order_count")
      .as[(String, Long)].collect().toMap
    val quarter = Tables.t(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("1996-07-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-10-01").cast("timestamp"))
      .groupBy($"o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    r.foreach { case (p, n) => assert(n >= 1 && n <= quarter(p)) }
  }

  test("autocorr: both lags present, |r| <= 1") {
    val r = run("q_time_autocorr")
      .select($"lag", $"n_pairs", $"autocorr")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(r.map(_._1) === Array(1, 7))
    assert(r.forall { case (_, n, a) => n > 100 && math.abs(a) <= 1.0 })
  }

  test("multimodal dedup: unique <= assets, byte accounting consistent") {
    val r = run("q_multimodal_dedup")
      .select($"n_assets", $"n_unique", $"bytes_total", $"bytes_unique",
        $"savings_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(r.forall { case (a, u, bt, bu, sp) =>
      u >= 1 && u <= a && bu <= bt &&
        sp === (bt - bu) * 1000000L / bt })
    assert(r.map(_._1).sum ===
      Tables.t(spark, sf, "documents").count())
  }

  test("temporal split: 80/10/10 partition, time-ordered boundaries") {
    val r = run("q_split_temporal")
      .select($"split", $"n", $"min_ts".cast("string"),
        $"max_ts".cast("string"))
      .as[(String, Long, String, String)].collect().sortBy(_._1)
    assert(r.map(_._1) === Array("1_train", "2_val", "3_test"))
    val total = Tables.t(spark, sf, "events").count()
    assert(r.map(_._2).sum === total)
    assert(r(0)._2 === total * 8 / 10)
    assert(r(0)._2 + r(1)._2 === total * 9 / 10)
    // splits must be time-ordered: train's max <= val's min, etc.
    assert(r(0)._4 <= r(1)._3 && r(1)._4 <= r(2)._3)
  }

  test("cadence: gap count is orders minus one per multi-order customer") {
    val r = run("q_feat_cadence")
      .select($"o_custkey", $"n_gaps", $"mean_gap_days",
        $"min_gap_days", $"max_gap_days")
      .as[(Long, Long, Double, Int, Int)].collect()
    val orders = Tables.t(spark, sf, "orders")
      .groupBy($"o_custkey").count().as[(Long, Long)].collect().toMap
    r.foreach { case (c, g, m, lo, hi) =>
      assert(g === orders(c) - 1)
      assert(lo <= hi && m >= lo && m <= hi)
    }
    assert(r.length === orders.count(_._2 >= 2))
  }

  test("tier migration: matrix partitions both year cohorts") {
    val r = run("q_feat_tier_migration")
      .select($"tier_from", $"tier_to", $"n_customers")
      .as[(Int, Int, Long)].collect()
    assert(r.forall { case (f, t, n) =>
      f >= 0 && f <= 3 && t >= 0 && t <= 3 && n >= 1 })
    // no (0,0) cell: a customer absent from both years isn't a row
    assert(!r.exists { case (f, t, _) => f == 0 && t == 0 })
    // each 1996 tier cohort is fully accounted for in the matrix
    val from = r.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val y96 = Tables.t(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      .select($"o_custkey").distinct().count()
    assert(from.filterKeys(_ > 0).values.sum === y96)
  }

  test("auc: rank-sum equals the brute-force pairwise definition") {
    val Array((nPos, nNeg, auc)) = run("q_ml_auc")
      .select($"n_pos", $"n_neg", $"auc")
      .as[(Long, Long, Double)].collect()
    assert(auc >= 0 && auc <= 1)
    // recompute pairwise on the tiny fixture: P(score+ > score-) + P(=)/2
    val cut = Tables.t(spark, sf, "orders")
      .agg(date_sub(max($"o_orderdate").cast("date"), 365).as("c"))
      .collect()(0).getDate(0).toString
    val hist = Tables.t(spark, sf, "orders")
      .filter($"o_orderdate".cast("date") < lit(cut))
      .groupBy($"o_custkey")
      .agg(org.apache.spark.sql.functions.datediff(lit(cut).cast("date"),
          max($"o_orderdate".cast("date"))).as("r"),
        count(lit(1)).as("f"), Det.sumMoney($"o_totalprice").as("m"))
    val fut = Tables.t(spark, sf, "orders")
      .filter($"o_orderdate".cast("date") >= lit(cut))
      .select($"o_custkey").distinct().as[Long].collect().toSet
    val rows = hist.as[(Long, Int, Long, Double)].collect()
    def ranks[T](xs: Array[(Long, T)])(implicit o: Ordering[T]): Map[Long, Int] =
      xs.sortBy(x => (x._2, x._1)).zipWithIndex
        .map { case ((k, _), i) => k -> i }.toMap
    val n = rows.length
    val prR = ranks(rows.map(r => r._1 -> (-r._2)))
    val prF = ranks(rows.map(r => r._1 -> r._3))
    val prM = ranks(rows.map(r => r._1 -> r._4))
    val scored = rows.map { r =>
      val s = (prR(r._1).toDouble / (n - 1) + prF(r._1).toDouble / (n - 1) +
        prM(r._1).toDouble / (n - 1)) / 3 * 10000
      (math.round(s), if (fut(r._1)) 1 else 0)
    }
    val pos = scored.filter(_._2 == 1).map(_._1)
    val neg = scored.filter(_._2 == 0).map(_._1)
    assert(nPos === pos.length && nNeg === neg.length)
    val wins = (for (p <- pos; q <- neg)
      yield if (p > q) 2L else if (p == q) 1L else 0L).sum
    val pairAuc = wins.toDouble / (2.0 * pos.length * neg.length)
    assert(math.abs(auc - math.rint(pairAuc * 10000) / 10000) <= 1e-4,
      s"rank-sum $auc vs pairwise $pairAuc")
  }

  test("burstiness: peak <= total, ppm consistent, all users present") {
    val r = run("q_dq_burstiness")
      .select($"total_events", $"n_active_hours", $"peak_hour_events",
        $"burst_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.forall { case (t, h, p, b) =>
      p >= 1 && p <= t && h >= 1 && h <= t &&
        b === p * 1000000L / t })
    assert(r.length === Tables.t(spark, sf, "events")
      .select($"user_id").distinct().count())
    assert(r.map(_._1).sum === Tables.t(spark, sf, "events").count())
  }

  test("leaderboard: 10 named rows + OTHER, shares near 1e6") {
    val r = run("q_agg_leaderboard")
      .select($"rank", $"label", $"n_customers", $"revenue", $"share_ppm")
      .as[(Int, String, Long, Double, Long)].collect()
    assert(r.count(_._1 > 0) === 10 && r.count(_._1 == 0) === 1)
    val head = r.filter(_._1 > 0).sortBy(_._1)
    // leaderboard is revenue-sorted
    assert(head.map(_._4).sameElements(head.map(_._4).sorted.reverse))
    assert(head.forall(_._3 === 1L))
    val shareSum = r.map(_._5).sum
    assert(shareSum > 1000000L - 20 && shareSum <= 1000000L)
  }

  test("event paths: valid triples, counts sorted, shares bounded") {
    val types = Set("click", "view", "purchase", "signup", "error")
    val r = run("q_event_paths")
      .select($"path", $"n", $"share_ppm").as[(String, Long, Long)].collect()
    assert(r.length === 10)
    assert(r.forall { case (p, _, _) =>
      p.split(">").length == 3 && p.split(">").forall(types) })
    assert(r.map(_._2).sameElements(r.map(_._2).sorted.reverse))
    assert(r.map(_._3).sum <= 1000000L)
  }

  test("order fanout: orders partitioned, pair weights quadratic") {
    val r = run("q_agg_order_fanout")
      .select($"items_per_order", $"n_orders", $"pair_weight")
      .as[(Long, Long, Long)].collect()
    assert(r.map(_._2).sum ===
      Tables.t(spark, sf, "lineitem").select($"l_orderkey").distinct().count())
    r.foreach { case (k, n, w) => assert(w === n * k * (k - 1) / 2) }
    // total pair weight equals Σ k(k−1)/2 over independently-computed
    // per-order sizes (the within-order self-join row count)
    val pairs = Tables.t(spark, sf, "lineitem")
      .groupBy($"l_orderkey").count().as[(Long, Long)].collect()
      .map { case (_, k) => k * (k - 1) / 2 }.sum
    assert(r.map(_._3).sum === pairs)
  }

  test("forecast revenue: single row, bounded by unfiltered revenue") {
    val Array((rev, n)) = run("q_c360_forecast_revenue")
      .as[(Double, Long)].collect()
    assert(rev > 0 && n > 0)
    // price×discount ≤ 7% of price sum on the filtered rows
    val cap = Tables.t(spark, sf, "lineitem")
      .agg(Det.sumMoney($"l_extendedprice")).as[Double].first()
    assert(rev <= cap * 0.07)
  }

  test("type share: promo <= total, pct consistent") {
    val Array((promo, tot, pct)) = run("q_c360_type_share")
      .as[(Double, Double, Double)].collect()
    assert(promo > 0 && promo <= tot)
    assert(math.abs(pct - math.rint(promo / tot * 100 * 10000) / 10000)
      <= 1e-9)
  }

  test("rolling median: within frame min/max, equals x on day one") {
    val r = run("q_win_rolling_median")
      .select($"event_type", $"day".cast("string"), $"x", $"med7")
      .as[(String, String, Long, Double)].collect()
      .groupBy(_._1).values
    r.foreach { series =>
      val s = series.sortBy(_._2)
      assert(s.head._4 === s.head._3.toDouble) // frame of one
      s.indices.foreach { i =>
        val frame = s.slice(math.max(0, i - 6), i + 1).map(_._3)
        assert(s(i)._4 >= frame.min && s(i)._4 <= frame.max)
      }
    }
  }

  test("market share: nation <= total, ppm consistent, years complete") {
    val r = run("q_c360_market_share")
      .select($"o_year", $"nation_revenue", $"total_revenue", $"share_ppm")
      .as[(Int, Double, Double, Long)].collect().sortBy(_._1)
    assert(r.map(_._1) === (r.head._1 to r.last._1).toArray)
    assert(r.forall { case (_, nr, tr, sp) =>
      nr >= 0 && nr <= tr && sp >= 0 && sp <= 1000000 &&
        sp === math.floor(nr / tr * 1000000).toLong })
  }

  test("disjunctive pricing: revenue equals the per-class union sum") {
    val Array((rev, n)) = run("q_c360_disjunctive")
      .as[(Double, Long)].collect()
    assert(rev > 0 && n > 0)
    // classes are brand-disjoint, so the union count is the sum of
    // per-class counts
    val p = Tables.t(spark, sf, "part")
    val l = Tables.t(spark, sf, "lineitem")
    val j = l.join(p, $"l_partkey" === $"p_partkey")
    val per = Seq(
      ("Brand#2", 10, 1, 11), ("Brand#17", 20, 10, 20),
      ("Brand#4", 30, 20, 30)).map { case (b, sz, ql, qh) =>
      j.filter($"p_brand" === b && $"p_size".between(1, sz) &&
        $"l_quantity".between(ql, qh)).count()
    }.sum
    assert(n === per)
  }

  test("uniqueness: PK tables clean, composite lineitem key flags dups") {
    val r = run("q_dq_uniqueness")
      .select($"table_name", $"n_rows", $"n_keys", $"n_dup_keys",
        $"n_dup_rows", $"max_multiplicity")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("customer")._4 === 0 && r("orders")._4 === 0)
    r.values.foreach { case (_, rows, keys, dupK, dupR, mx) =>
      assert(keys <= rows && dupK <= keys && dupR <= rows)
      assert(if (dupK == 0) mx === 1 else mx >= 2)
    }
  }

  test("mann-whitney: U within range, z consistent with U") {
    val r = run("q_agg_mannwhitney")
      .select($"n_a", $"n_b", $"u2", $"z")
      .as[(Long, Long, Long, Double)].collect()
    r.foreach { case (na, nb, u2, z) =>
      assert(u2 >= 0 && u2 <= 2 * na * nb)
      val zc = (u2 / 2.0 - na.toDouble * nb / 2.0) /
        math.sqrt(na.toDouble * nb * (na + nb + 1) / 12.0)
      assert(math.abs(z - math.rint(zc * 10000) / 10000) <= 1e-9)
    }
  }

  test("labels: one per order, censored iff last order, gaps positive") {
    val r = run("q_ml_labels")
      .select($"o_custkey", $"label_days", $"censored")
      .as[(Long, Int, Boolean)].collect()
    assert(r.length === Tables.t(spark, sf, "orders").count())
    assert(r.forall(_._2 >= 0))
    // exactly one censored row (the last order) per customer
    val censPerCust = r.filter(_._3).groupBy(_._1).view.mapValues(_.length)
    assert(censPerCust.values.forall(_ === 1))
    assert(censPerCust.size ===
      Tables.t(spark, sf, "orders").select($"o_custkey").distinct().count())
  }

  test("wow growth: ppm matches counts, first week null") {
    val r = run("q_time_wow")
      .select($"event_type", $"n", $"prev_n", $"growth_ppm")
      .as[(String, Long, Option[Long], Option[Long])].collect()
    val byType = r.groupBy(_._1)
    byType.values.foreach { rows =>
      assert(rows.count(_._3.isEmpty) === 1)
    }
    r.foreach {
      case (_, n, Some(p), Some(g)) =>
        assert(g === n * 1000000L / p - 1000000L)
      case (_, _, None, g) => assert(g.isEmpty)
      case other => fail(s"inconsistent row $other")
    }
  }

  test("variant extraction agrees with the struct-typed json path") {
    val direct = Tables.t(spark, sf, "events")
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count($"k").as("n"), sum($"k").as("s"))
      .as[(String, Long, Long)].collect()
    val variant = run("q_json_variant")
      .select($"event_type", $"n_with_k", $"sum_k")
      .as[(String, Long, Long)].collect().toSet
    assert(direct.toSet === variant)
  }

  test("lateral: five outer customers, at most two orders each, ordered") {
    val r = run("q_join_lateral")
      .select($"c_custkey", $"o_orderdate".cast("string"))
      .as[(Long, String)].collect()
    val perCust = r.groupBy(_._1)
    assert(perCust.size === 5)
    perCust.values.foreach { rows =>
      assert(rows.length <= 2)
      val ds = rows.map(_._2)
      assert(ds.sameElements(ds.sorted.reverse))
    }
  }

  test("collation merges case variants back to the clean segment counts") {
    val r = run("q_str_collation")
      .select($"segment", $"n").as[(String, Long)].collect().toMap
    val clean = Tables.t(spark, sf, "customer")
      .groupBy(upper($"c_mktsegment").as("s")).count()
      .as[(String, Long)].collect().toMap
    assert(r === clean)
  }

  test("xml round-trip is lossless: extraction equals direct aggregation") {
    val r = run("q_source_xml_col")
      .select($"priority", $"n", $"key_sum")
      .as[(String, Long, Long)].collect().toSet
    val direct = Tables.t(spark, sf, "orders")
      .groupBy($"o_orderpriority".as("p"))
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(r === direct)
  }

  test("sql udf inlines: bands equal the expression applied directly") {
    val r = run("q_udf_sql").select($"band", $"n")
      .as[(Long, Long)].collect().toMap
    val direct = Tables.t(spark, sf, "orders")
      .groupBy(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 3000000")
        .as("b")).count().as[(Long, Long)].collect().toMap
    assert(r === direct)
  }

  test("recursive spine covers every calendar day exactly once") {
    val r = run("q_sql_recursive")
      .select($"day".cast("string"), $"n_events")
      .as[(String, Long)].collect().sortBy(_._1)
    val bounds = Tables.t(spark, sf, "events")
      .agg(min($"ts".cast("date")).cast("string"),
        max($"ts".cast("date")).cast("string"))
      .as[(String, String)].first()
    assert(r.head._1 === bounds._1 && r.last._1 === bounds._2)
    assert(r.map(_._1).distinct.length === r.length)
    assert(r.map(_._2).sum === Tables.t(spark, sf, "events").count())
  }

  test("new vs returning: first week all-new, totals partition weeks") {
    val r = run("q_agg_new_returning")
      .select($"wk", $"n_new", $"n_returning", $"returning_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.head._3 === 0) // nobody can return in the first week
    r.foreach { case (_, nn, nr, ppm) =>
      assert(ppm === nr * 1000000L / (nn + nr)) }
    // every purchaser is new exactly once
    val purchasers = Tables.t(spark, sf, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id").distinct().count()
    assert(r.map(_._2).sum === purchasers)
  }

  test("rfm segments partition customers; champions rank constraints") {
    val r = run("q_feat_rfm_segments")
      .select($"segment", $"n_customers", $"min_r", $"max_f")
      .as[(String, Long, Int, Int)].collect()
    val nCust = Tables.t(spark, sf, "orders")
      .select($"o_custkey").distinct().count()
    assert(r.map(_._2).sum === nCust)
    r.find(_._1 == "1_champions").foreach { c =>
      assert(c._3 >= 4 && c._4 >= 4) }
  }

  test("spearman: |rho| <= 1, equals driver-side midrank pearson") {
    val Array((n, rho)) = run("q_agg_spearman")
      .as[(Long, Double)].collect()
    assert(math.abs(rho) <= 1.0)
    val rows = Tables.t(spark, sf, "customer")
      .join(Tables.t(spark, sf, "orders")
        .groupBy($"o_custkey")
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
          .as("sc")), $"c_custkey" === $"o_custkey")
      .select(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"), $"sc")
      .as[(Long, Long)].collect()
    assert(n === rows.length)
    def midranks(xs: Array[Long]): Map[Long, Double] = {
      val sorted = xs.sorted
      xs.distinct.map { v =>
        val lo = sorted.indexWhere(_ == v) + 1
        val hi = sorted.lastIndexWhere(_ == v) + 1
        v -> (lo + hi) / 2.0
      }.toMap
    }
    val mx = midranks(rows.map(_._1)); val my = midranks(rows.map(_._2))
    val xs = rows.map(r => mx(r._1)); val ys = rows.map(r => my(r._2))
    val nn = rows.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum; val syy = ys.map(y => y * y).sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val brute = (nn * sxy - sx * sy) /
      math.sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
    assert(math.abs(rho - brute) < 2e-4, s"op $rho vs brute $brute")
  }

  test("ks: D in [0,1], scaled form bounded, brute-force agrees") {
    val r = run("q_agg_ks")
      .select($"event_type", $"n_a", $"n_b", $"d_scaled", $"d")
      .as[(String, Long, Long, Long, Double)].collect()
    r.foreach { case (_, na, nb, ds, d) =>
      assert(ds >= 0 && ds <= na * nb && d >= 0 && d <= 1) }
    // brute-force one type on the driver
    val (ty, na, nb, ds, _) = r.head
    val vals = Tables.t(spark, sf, "events")
      .filter($"event_type" === ty)
      .select($"value", (Det.md5int60($"user_id".cast("string")) % 2L)
        .cast("int").as("arm"))
      .as[(Double, Int)].collect()
    val a = vals.filter(_._2 == 0).map(_._1).sorted
    val b = vals.filter(_._2 == 1).map(_._1).sorted
    val gridVals = (a ++ b).distinct.sorted
    val brute = gridVals.map { v =>
      math.abs(a.count(_ <= v).toLong * nb - b.count(_ <= v).toLong * na)
    }.max
    assert(a.length === na && b.length === nb)
    assert(brute === ds)
  }

  test("ivf sweep: recall monotone in nprobe, exhaustive probe = 1.0") {
    val r = run("q_sim_ivf_sweep")
      .select($"nprobe", $"recall_ppm").as[(Int, Long)].collect()
      .sortBy(_._1)
    assert(r.map(_._1) === Array(1, 2, 4, 8, 16))
    assert(r.map(_._2).sameElements(r.map(_._2).sorted))
    // nprobe = K probes every cell: IVF degenerates to brute force
    assert(r.last._2 === 1000000L)
  }

  test("kmeansCenters ≡ ml.clustering.KMeans; IVF cells ≡ KMeansModel.transform") {
    // the ml estimator is the reference: same k, seed, iterations and
    // random init, over the same rows in the same partitions
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables.t(spark, sf, "embeddings")
    def reference(features: DataFrame, k: Int, seed: Long, iters: Int) =
      new KMeans().setK(k).setSeed(seed).setMaxIter(iters)
        .setInitMode("random")
        .fit(features.select(
          array_to_vector(col(features.columns.head)).as("features")))
    def same(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }
    // the IVF quantizer (Dedup.ivfIndexOn's parameters)
    val ivfModel = reference(emb.select($"embedding"), 16, 42L, 10)
    val (centers, corpus) = Dedup.ivfIndex(spark, sf)
    assert(same(centers, ivfModel.clusterCenters.map(_.toArray)),
      "IVF centers differ from the ml estimator's")
    // one PQ block (Embeddings.pqCodebooks's parameters for block 3)
    val blk = emb.select(expr("slice(embedding, 25, 8)").cast("array<double>"))
    assert(same(Embeddings.kmeansCenters(blk, 16, 45L, 5),
      reference(blk, 16, 45L, 5).clusterCenters.map(_.toArray)),
      "PQ block centers differ from the ml estimator's")
    // the expression cell assignment equals the model's prediction
    val predicted = ivfModel.setPredictionCol("want")
      .transform(emb.select($"vec_id",
        array_to_vector($"embedding").as("features")))
      .select($"vec_id", $"want")
    val joined = corpus.join(predicted, Seq("vec_id"))
    assert(joined.count() === emb.count())
    assert(joined.filter($"cell" =!= $"want").count() === 0L,
      "IVF cell assignment disagrees with KMeansModel.transform")
    // the RFM segment fits (Embeddings.kmeansSegment's parameters) over
    // the StandardScaler's own output, on the inputs of
    // MlOps.mlSegmentation and C360.scoredProfile at sf0.001 and sf0.01:
    // the direct trainer's centers, and kmeansSegment's SQL-scaled
    // segment against KMeansModel.transform, row for row
    import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
    import org.apache.spark.ml.functions.vector_to_array
    def segments(what: String, data: DataFrame, key: String,
        cols: Seq[String]): Unit = {
      val raw = new VectorAssembler().setInputCols(cols.toArray)
        .setOutputCol("raw").transform(data)
      val scaled = new StandardScaler().setInputCol("raw").setOutputCol("f")
        .setWithMean(true).setWithStd(true).fit(raw).transform(raw)
        .select(col(key), vector_to_array($"f").as("f"))
      val model = reference(scaled.select($"f"), 5, 42L, 20)
      assert(same(Embeddings.kmeansCenters(scaled.select($"f"), 5, 42L, 20),
        model.clusterCenters.map(_.toArray)),
        s"$what: centers differ from the ml estimator's")
      val want = model.setPredictionCol("want").transform(scaled
        .select(col(key), array_to_vector($"f").as("features")))
      val got = data.select(col(key), Embeddings.kmeansSegment(data, cols)
        .as("seg")).join(want, key)
      assert(got.count() === data.count())
      assert(got.filter($"seg" =!= $"want").count() === 0L,
        s"$what: segment disagrees with KMeansModel.transform")
    }
    Seq(sf, java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)
      .foreach { dir =>
        val o = Tables.t(spark, dir, "orders")
        val maxd = o.agg(max($"o_orderdate").cast("date").as("maxd"))
        val rfm = o.crossJoin(broadcast(maxd)).groupBy($"o_custkey")
          .agg(datediff(max($"maxd"), max($"o_orderdate".cast("date")))
            .cast("double").as("recency"),
            count(lit(1)).cast("double").as("frequency"),
            Det.sumMoney($"o_totalprice").as("monetary"))
          .cache()
        val profile = C360.profile(spark, dir).cache()
        try {
          segments(s"segmentation $dir", rfm, "o_custkey",
            Seq("recency", "frequency", "monetary"))
          segments(s"scored profile $dir", profile, "c_custkey",
            Seq("recency_days", "frequency", "monetary"))
        } finally { rfm.unpersist(); profile.unpersist() }
      }
  }

  test("graph-ANN: recall monotone in beam width, ≥ IVF at ≤-budget points") {
    // the round-13 HNSW-family laws: (1) more beam ⇒ no less recall;
    // (2) at the graded beam the graph search beats every IVF sweep
    // point that spent NO MORE scored candidates — the equal-budget
    // comparison, on the honest budget both sweeps now carry
    val hnsw = run("q_sim_hnsw_sweep")
      .select($"beam", $"n_scored", $"recall_ppm")
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(hnsw.map(_._1) === Array(2, 4, 8))
    assert(hnsw.map(_._3).sameElements(hnsw.map(_._3).sorted),
      s"recall must be monotone in beam width: ${hnsw.mkString(", ")}")
    val (beam8Budget, beam8Recall) = (hnsw.last._2, hnsw.last._3)
    val ivf = run("q_sim_ivf_sweep")
      .select($"nprobe", $"n_scored", $"recall_ppm")
      .as[(Int, Long, Long)].collect()
    val comparable = ivf.filter(_._2 <= beam8Budget)
    assert(comparable.nonEmpty, "at least one IVF point must be cheaper")
    comparable.foreach { case (np, b, r) =>
      assert(beam8Recall >= r,
        s"graph search (recall $beam8Recall @ $beam8Budget scored) must " +
          s"beat IVF nprobe=$np (recall $r @ $b scored)")
    }
    // and the graded top-k itself is well-formed: 10 probes × ranks 1..10
    val topk = run("q_sim_hnsw_topk")
      .select($"probe_id", $"rank").as[(Long, Int)].collect()
    assert(topk.length === 100)
    assert(topk.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(1 to 10)))
  }

  test("beam walk: the legs do not interact (joint walk per beam ≡ its own walk)") {
    // every frame of the walk is keyed by beam, so the rows of beam b in
    // the three-beam walk must be exactly the rows of the walk over b
    // alone — the sweep's budgets and recalls are then those of three
    // separate searches
    val (centers, corpus) = Dedup.ivfIndex(spark, sf)
    val graph = Dedup.nswGraph(spark, sf)
    def walk(beams: Seq[Int]) =
      Dedup.nswVisitedFrom(spark, centers, corpus, graph, beams)
        .select($"beam", $"probe_id", $"nbr_id", $"sim4")
        .as[(Int, Long, Long, Double)].collect().sorted.toSeq
    val joint = walk(Seq(2, 4, 8))
    assert(joint.map(_._1).distinct.sorted === Seq(2, 4, 8))
    for (b <- Seq(2, 4, 8)) {
      val alone = walk(Seq(b))
      assert(alone.nonEmpty)
      assert(joint.filter(_._1 == b) === alone, s"beam $b differs")
    }
  }

  test("HNSW recall sweep rows are pinned at sf0.01 (spec session)") {
    // (beam, n_scored, n_matched, n_expected, recall_ppm), the rows the
    // three single-beam walks gave before they became one walk
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val ns = spark.newSession()
    try {
      val rows = SparkEntry.queries("q_sim_hnsw_sweep")(ns, sf001)
        .as[(Int, Long, Long, Long, Long)].collect().toSeq
      assert(rows === Seq((2, 432L, 25L, 100L, 250000L),
        (4, 807L, 42L, 100L, 420000L), (8, 1449L, 60L, 100L, 600000L)))
    } finally OpCache.clear(ns)
  }

  test("persisted ANN index: saved search ≡ in-session build, artifacts committed") {
    // round 14 (r13 verdict item #7), the q_ml_score_saved recipe for
    // ANN: the saved search reads centroids/cells/adjacency from
    // committed ArtifactStore VersionedTables and must reproduce the
    // in-session build's graded top-k bit-for-bit (both plans end in a
    // deterministic orderBy, so row-order comparison is exact)
    val inSession = run("q_sim_hnsw_topk").collect().toSeq
    val saved = run("q_sim_hnsw_saved").collect().toSeq
    assert(saved === inSession)
    // provenance: all three index pieces exist as committed versioned
    // tables for the current corpus fingerprint
    for (a <- Seq("ann_centers@1", "ann_corpus@1", "ann_graph@1")) {
      val root = graft.sources.ArtifactStore.rootFor(sf, a,
        Seq("embeddings"))
      assert(graft.sources.VersionedTable.currentVersion(root) >= 1,
        s"ANN artifact $a must be committed at $root")
    }
  }

  test("delta-segment ANN: fresh vectors always searchable, never below base-only") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{max => smax, row_number}
    // round 14: persisted base index + exact scan of the post-build
    // delta. Laws: (1) every delta vector is scored for every probe
    // (exactness — nothing fresh can be missed); (2) any full-corpus
    // truth neighbor living in the delta whose similarity strictly
    // beats the merged 10th lands in the merged top-10; (3) merged
    // recall vs the full truth ≥ the base-graph-only recall.
    val emb = graft.Tables.t(spark, sf, "embeddings")
    val cut = emb.agg(smax($"vec_id")).as[Long].head() * 9L / 10L
    val nDelta = emb.filter($"vec_id" > cut).count()
    assert(nDelta > 0)
    val visited = graft.ops.Dedup.hnswDeltaVisited(spark, sf)
      .select($"probe_id", $"nbr_id", $"sim4").persist()
    // (1) exactness: 10 probes × |delta| scored rows on the delta side
    assert(visited.filter($"nbr_id" > cut).count() === 10L * nDelta)
    def topkOf(v: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy($"probe_id")
        .orderBy($"sim4".desc, $"nbr_id".asc)
      v.withColumn("r", row_number().over(w)).filter($"r" <= 10)
        .select($"probe_id", $"nbr_id", $"sim4")
        .as[(Long, Long, Double)].collect()
    }
    val merged = topkOf(visited)
    val baseOnly = topkOf(visited.filter($"nbr_id" <= cut))
    visited.unpersist()
    // the graded query IS the merged top-k
    val graded = run("q_sim_hnsw_delta")
      .select($"probe_id", $"nbr_id", $"sim4")
      .as[(Long, Long, Double)].collect()
    assert(graded.sorted.toSeq === merged.sorted.toSeq)
    val truth = run("q_sim_topk_cosine")
      .select($"probe_id", $"nbr_id", $"sim4")
      .as[(Long, Long, Double)].collect()
    // (2) no strictly-qualifying delta truth neighbor may be missing
    val floor10 = merged.groupBy(_._1).map { case (p, rs) =>
      p -> rs.map(_._3).min }
    val mergedPairs = merged.map(t => (t._1, t._2)).toSet
    val missed = truth.filter(t => t._2 > cut &&
      t._3 > floor10.getOrElse(t._1, Double.MinValue) &&
      !mergedPairs(t._1, t._2))
    assert(missed.isEmpty,
      s"delta truth neighbors above the merged floor went missing: " +
        missed.take(5).mkString(", "))
    // (3) recall monotone: merging exact delta candidates never hurts
    val truthPairs = truth.map(t => (t._1, t._2)).toSet
    val basePairs = baseOnly.map(t => (t._1, t._2)).toSet
    assert(mergedPairs.count(truthPairs) >= basePairs.count(truthPairs))
    // and the base artifacts are committed versioned tables
    for (a <- Seq("ann_base_centers@1", "ann_base_corpus@1",
        "ann_base_graph@1")) {
      val root = graft.sources.ArtifactStore.rootFor(sf, a,
        Seq("embeddings"))
      assert(graft.sources.VersionedTable.currentVersion(root) >= 1)
    }
  }

  test("erasure cascade: zero orphans, deletes consistent per table") {
    val r = run("q_privacy_erasure")
      .select($"table_name", $"rows_before", $"rows_deleted",
        $"rows_after", $"orphans_after")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(r.map(_._1).sorted === Array("events", "lineitem", "orders"))
    // per-table deletes can be 0 on the tiny fixture (15 users may
    // miss the 5% hash cohort) — the cascade must still fire somewhere
    r.foreach { case (_, b, d, a, orph) =>
      assert(a === b - d && d >= 0 && orph === 0) }
    assert(r.map(_._3).sum >= 1)
  }

  test("pca: unit loadings, top direction beats the average axis") {
    val r = run("q_emb_pca")
      .select($"dim", $"loading", $"explained_ppm")
      .as[(Int, Double, Long)].collect().sortBy(_._1)
    assert(r.map(_._1) === (0 until 64))
    assert(r.map(_._3).distinct.length === 1)
    val ppm = r.head._3
    assert(ppm > 0 && ppm <= 1000000)
    val v = r.map(_._2)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 0.01) // unit, 4dp
    // Rayleigh quotient of the returned direction must beat the mean
    // eigenvalue trace/64 — true for anything near the top eigenvector
    val em = Tables.t(spark, sf, "embeddings")
      .select($"embedding").as[Seq[Float]].collect()
    val trace = em.map(e => e.map(x => x.toDouble * x).sum).sum
    val rq = em.map { e =>
      val d = e.zip(v).map { case (a, b) => a * b }.sum
      d * d
    }.sum
    assert(rq > 1.2 * trace / 64,
      s"top direction RQ $rq vs mean ${trace / 64}")
  }

  test("big orders: quantities clear the bar, sorted desc, capped 20") {
    val r = run("q_c360_big_orders")
      .select($"total_qty").as[Long].collect()
    assert(r.length <= 20 && r.forall(_ >= 180))
    assert(r.sameElements(r.sorted.reverse))
  }

  test("lost prospects: lapsed high-balance cohort, no recent order") {
    val r = run("q_c360_lost_prospects")
      .select($"n_prospects", $"total_balance").as[(Long, Double)].collect()
    assert(r.nonEmpty && r.forall { case (n, b) => n >= 1 && b > 0 })
    // cross-check the cohort size against a direct computation
    val recent = Tables.t(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("1999-08-01").cast("timestamp"))
      .select($"o_custkey").distinct().as[Long].collect().toSet
    val avg = Tables.t(spark, sf, "customer")
      .filter($"c_acctbal" > 0.0)
      .agg(sum(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
        .cast("double") / count(lit(1))).as[Double].first()
    val direct = Tables.t(spark, sf, "customer")
      .select($"c_custkey",
        expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").as("cc"))
      .as[(Long, Long)].collect()
      .count { case (k, c) => c > avg && !recent(k) }
    assert(r.map(_._1).sum === direct)
  }

  test("top supplier: revenue is the max over the per-supplier aggs") {
    val rows = run("q_c360_top_supplier")
      .select($"total_revenue").as[Double].collect()
    assert(rows.nonEmpty && rows.distinct.length === 1)
    val all = Tables.t(spark, sf, "lineitem").as("l")
      .join(Tables.t(spark, sf, "orders").as("o"),
        $"l.l_orderkey" === $"o.o_orderkey")
      .filter($"o.o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o.o_orderdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l.l_suppkey")
      .agg((sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .cast("double") / 100.0).as("r"))
      .agg(max($"r")).as[Double].first()
    assert(rows.head === all)
  }

  test("small orders: strictly below the 20% threshold, rev bounded") {
    val Array((n, rev)) = run("q_c360_small_orders")
      .as[(Long, Double)].collect()
    assert(n > 0 && rev > 0)
    val totalItems = Tables.t(spark, sf, "lineitem").count()
    assert(n < totalItems / 2) // a 20% cut can't catch most rows
  }

  test("price index: positive baskets, ppm consistent with the ratio") {
    val Array((n, newB, baseB, ppm)) = run("q_agg_price_index")
      .as[(Long, Double, Double, Long)].collect()
    assert(n > 0 && newB > 0 && baseB > 0)
    assert(ppm === math.floor(newB / baseB * 1000000).toLong ||
      // cent-grid floor can differ from the double ratio by one ppm
      math.abs(ppm - newB / baseB * 1000000) <= 1)
  }

  test("hashed cross buckets cover every customer; collisions audited") {
    val r = run("q_feat_hashed_cross")
      .select($"bucket", $"n_rows", $"n_crosses")
      .as[(Long, Long, Long)].collect()
    val c = Tables.t(spark, sf, "customer")
    assert(r.map(_._2).sum === c.count())
    assert(r.forall { case (bkt, _, nc) =>
      bkt >= 0L && bkt < 64L && nc >= 1L })
    // distinct crosses across buckets = distinct crosses in the data
    val crosses = c.join(Tables.t(spark, sf, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_mktsegment", $"n_name").distinct().count()
    assert(r.map(_._3).sum === crosses)
  }

  test("approx_percentile: GK rank-error bound holds against the exact CDF") {
    // accuracy 10⁴ ⇒ guaranteed rank error ≤ n/10⁴ (< 1 row at this
    // SF); #(≤ returned value) may additionally overshoot by the tie
    // mass at that value — both slacks asserted exactly.
    val li = Tables.t(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_extendedprice")
    run("q_agg_approx_quantile").collect().foreach { row =>
      val flag = row.getString(0)
      val n = row.getLong(1)
      Seq(0.25 -> 2, 0.5 -> 3, 0.75 -> 4).foreach { case (p, i) =>
        val v = row.getDouble(i)
        val below = li.filter($"l_returnflag" === flag &&
          $"l_extendedprice" < v).count()
        val ties = li.filter($"l_returnflag" === flag &&
          $"l_extendedprice" === v).count()
        val eps = n.toDouble / 10000 + 1
        assert(below <= p * n + eps && below + ties >= p * n - eps,
          s"$flag p$p: value $v has rank window [$below, ${below + ties}] " +
            s"vs target ${p * n} ± $eps of n=$n")
      }
    }
  }

  test("learned PQ codebook beats the fixed grid's reconstruction error") {
    val grid = run("q_emb_pq").agg(sum($"l1_err_u")).as[Long].first()
    val learned = run("q_emb_pq_learned")
    val learnedErr = learned.agg(sum($"l1_err_u")).as[Long].first()
    assert(learnedErr < grid,
      s"k-means codebook must beat the fixed grid: $learnedErr >= $grid")
    // alphabet: 8 block codes, each in 0..15
    val badCodes = learned.filter(
      size(split($"pq_codes", ",")) =!= 8 ||
        exists(transform(split($"pq_codes", ","), c => c.cast("int")),
          c => c.isNull || c < 0 || c > 15)).count()
    assert(badCodes === 0L)
    // same row coverage as the grid op
    assert(learned.count() ===
      Tables.t(spark, sf, "embeddings").count())
  }

  test("recursive CTE: depth = calendar days, inside the engine's hard limit") {
    // The depth guard q_sql_recursive's scaladoc promises: recursion
    // depth equals the corpus date span (never data volume), and
    // Spark's cteRecursionLevelLimit fails fast beyond it.
    val span = Tables.t(spark, sf, "events")
      .agg(datediff(max($"ts").cast("date"), min($"ts").cast("date")))
      .as[Int].first() + 1
    val limit = spark.conf.get("spark.sql.cteRecursionLevelLimit").toInt
    assert(span < limit,
      s"corpus spans $span days ≥ recursion limit $limit — " +
        "q_sql_recursive would fail; use q_events_gapfill's sequence spine")
    assert(run("q_sql_recursive").count().toInt === span)
  }

  test("approxNtile law: tier/RFM/decile binning tracks the exact path") {
    // The 100-TB variant the round-7 verdict asked to IMPLEMENT (not
    // just document): approx-quantile boundaries + stateless bin map.
    // Law: on the graded fixture, every customer's approx bucket is
    // within one tier of the exact ntile bucket (boundary-tie wobble
    // only — GK rank error at accuracy 10⁴ is < 1 row here), and
    // bucket populations match the exact ntile's within the tie mass.
    val spend = Tables.t(spark, sf, "orders")
      .groupBy($"o_custkey")
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("spend_c"))
    val exact = Ranks.withGlobalRn(spend, $"spend_c",
        Seq($"spend_c", $"o_custkey"), "rn", "n", "law")
      .withColumn("tier", Ranks.ntileFromRn($"rn", $"n", 5))
    val approx = Ranks.approxNtile(spend, $"spend_c", 5, "a_tier")
    val joined = exact.select($"o_custkey", $"tier")
      .join(approx.select($"o_custkey", $"a_tier"), Seq("o_custkey"))
    val drift = joined.filter(
      abs($"tier" - $"a_tier") > 1).count()
    assert(drift === 0L, s"$drift customers drifted >1 bucket")
    // aggregate populations: each approx bucket within 10% of n/5
    val n = spend.count()
    val pops = approx.groupBy($"a_tier").count()
      .as[(Int, Long)].collect().toMap
    (1 to 5).foreach { t =>
      val c = pops.getOrElse(t, 0L)
      assert(math.abs(c - n / 5.0) <= math.max(2, n * 0.1),
        s"bucket $t holds $c of $n")
    }
  }

  test("q_feat_rfm_approx law: approx codes track exact quintiles within tie spans") {
    // Rollup contract: same label universe and the same customer total
    // as the exact op (the two ops score the SAME cached base).
    val exactRoll = run("q_feat_rfm_segments")
    val approxRoll = run("q_feat_rfm_approx")
    val labels = Set("1_champions", "2_loyal", "3_at_risk",
      "4_hibernating", "5_other")
    assert(approxRoll.select($"segment").as[String].collect().toSet
      .subsetOf(labels))
    assert(approxRoll.agg(sum($"n_customers")).as[Long].first() ===
      exactRoll.agg(sum($"n_customers")).as[Long].first(),
      "approx scoring must cover exactly the exact path's customers")
    // Per-customer axis laws on the shared base (rebuilt inline —
    // mirrors Aggregates.rfmSegBase).
    val o = Tables.t(spark, sf, "orders")
    val maxd = o.agg(max($"o_orderdate").cast("date").as("maxd"))
    val base = o.crossJoin(broadcast(maxd))
      .groupBy($"o_custkey")
      .agg(datediff(max($"maxd"), max($"o_orderdate".cast("date")))
        .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
          .as("monetary_c"))
      .cache()
    def exactCode(value: org.apache.spark.sql.Column,
        binOn: org.apache.spark.sql.Column,
        ord: Seq[org.apache.spark.sql.Column], out: String,
        tag: String) =
      Ranks.withGlobalRn(base.select($"o_custkey", value), binOn, ord,
          s"__rn_$tag", s"__n_$tag", tag)
        .select($"o_custkey",
          Ranks.ntileFromRn(col(s"__rn_$tag"), col(s"__n_$tag"), 5).as(out))
    val ex = exactCode($"recency_days", -$"recency_days",
        Seq($"recency_days".desc, $"o_custkey"), "er", "lawrfm_r")
      .join(exactCode($"frequency", $"frequency",
        Seq($"frequency", $"o_custkey"), "ef", "lawrfm_f"), Seq("o_custkey"))
      .join(exactCode($"monetary_c", $"monetary_c",
        Seq($"monetary_c", $"o_custkey"), "em", "lawrfm_m"), Seq("o_custkey"))
    val j = Aggregates.featRfmApproxCoded(base)
      .join(ex, Seq("o_custkey")).cache()
    try {
      // monetary cents are (near-)unique ⇒ only boundary wobble:
      // approx within one bucket of the exact ntile everywhere
      val mDrift = j.filter(abs($"m" - $"em") > 1).count()
      assert(mDrift === 0L, s"$mDrift customers drifted >1 monetary bucket")
      // tied axes: the approx path never splits a tie (one code per
      // distinct value — the consistency the exact ntile lacks), and
      // its code lands inside the value's exact-code span ±1 (GK
      // boundary slack)
      Seq(("recency_days", "r", "er"), ("frequency", "f", "ef"))
        .foreach { case (v, a, e) =>
          val span = j.groupBy(col(v))
            .agg(min(col(e)).as("lo"), max(col(e)).as("hi"),
              countDistinct(col(a)).as("nda"), min(col(a)).as("ac"))
          assert(span.filter($"nda" =!= 1).count() === 0L,
            s"axis $a: approx must give one code per distinct $v")
          assert(span.filter($"ac" < $"lo" - 1 || $"ac" > $"hi" + 1)
            .count() === 0L,
            s"axis $a drifted outside the exact tie span ±1")
        }
    } finally { j.unpersist(); base.unpersist() }
  }

  test("graph adjacency fallback is bit-equal to the broadcast path") {
    // The identity-scale degradation the scaladoc promises, as code:
    // with the broadcast gate forced off, both graph ops must produce
    // byte-identical results through sort-merge equi-joins.
    val tb = Aggregates.graphTrianglesImpl(spark, sf, broadcastAdj = true)
      .collect().toSeq
    val tm = Aggregates.graphTrianglesImpl(spark, sf, broadcastAdj = false)
      .collect().toSeq
    assert(tm === tb, "triangle counts diverged between join strategies")
    val sb = Aggregates.graphSparsifyImpl(spark, sf, broadcastAdj = true)
      .collect().toSeq
    val sm = Aggregates.graphSparsifyImpl(spark, sf, broadcastAdj = false)
      .collect().toSeq
    assert(sm === sb, "sparsified edges diverged between join strategies")
  }

  test("copurchaseEdgeBound is a sound, cheap stand-in for the edge count") {
    // The r13 gate replacement: broadcast-vs-merge is decided by the
    // Σ k(k−1)/2 pre-distinct bound, never by materializing the edge
    // list. Soundness = bound ≥ exact distinct count; equivalence =
    // on this corpus both sides of the gate agree (sf0.001 is far
    // below the 4M ceiling, so both verdicts must be `true`).
    val bound = Aggregates.copurchaseEdgeBound(spark, sf)
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val exact = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter($"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey", $"b.l_partkey").distinct().count()
    assert(bound >= exact, s"bound $bound < exact edge count $exact")
    assert((bound <= Aggregates.BroadcastAdjMaxEdges) ===
      (exact <= Aggregates.BroadcastAdjMaxEdges),
      "gate verdict diverged between bound and exact count at this SF")
  }

  test("axisRanks ≡ one single-partition row_number per axis (randomized)") {
    // Newly covered: the long-form rank against the plain per-axis
    // window, over heavy ties, a negated (DESC) axis and a double axis.
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(777)
    val df = (0 until 613).map(k => (k.toLong, rnd.nextInt(9).toLong,
        rnd.nextInt(50) - 25L, rnd.nextInt(1000) / 8.0))
      .toDF("k", "a", "b", "c")
    val axes = Seq("ra" -> -$"a", "rb" -> $"b", "rc" -> $"c")
    val got = Ranks.axisRanks(df, "k", axes, "law_axes")(
      (rn, n) => rn * 100000 + n)
    val want = df.select($"k" +: axes.map { case (name, v) =>
      (row_number().over(Window.orderBy(v, $"k")).cast("long") * 100000 +
        613L).as(name) }: _*)
    assert(got.count() === 613L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("axisRanks fails loudly on a NULL axis value (RFM segments, NULL monetary)") {
    // One customer's order prices are NULL, so its monetary sum is NULL.
    // A NULL sorts outside its axis and would shift the later axes'
    // ranks; the rank must raise instead of returning shifted codes.
    withTmpDir("graft_null_axis") { dir =>
      val o = Tables.t(spark, sf, "orders")
      val victim = o.agg(min($"o_custkey")).first().get(0)
      o.withColumn("o_totalprice", when($"o_custkey" =!= lit(victim),
          $"o_totalprice"))
        .write.parquet(s"$dir/orders.parquet")
      val ns = spark.newSession()
      try {
        val e = intercept[Exception](
          SparkEntry.queries("q_feat_rfm_segments")(ns, dir).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        assert(msgs.exists(_.contains("NULL value on rank axis m")),
          s"unexpected failure: $e")
      } finally OpCache.clear(ns)
    }
  }

  test("withGlobalRn ≡ single-partition row_number (randomized)") {
    // The exactness contract Ranks' six round-8 refactors rest on:
    // the two-level rank is bit-identical to the unpartitioned-window
    // rank for any data, including heavy ties and negative keys.
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(4242)
    val rows = Seq.fill(997)((rnd.nextInt(37) - 18, rnd.nextInt(100000)))
      .distinct.map { case (v, id) => (v.toLong, id.toLong) }
    val df = rows.toDF("v", "id")
    val expected = df.withColumn("rn0",
      row_number().over(Window.orderBy($"v", $"id")).cast("long"))
    val got = Ranks.withGlobalRn(df, $"v", Seq($"v", $"id"), "rn", "n", "law2")
    val diff = expected.join(got, Seq("v", "id"))
      .filter($"rn0" =!= $"rn").count()
    assert(diff === 0L)
    assert(got.agg(max($"n")).as[Long].first() === rows.size.toLong)
    // cumsum twin: exclusive running count of a value-grain rollup
    val grp = df.groupBy($"v").agg(count(lit(1)).as("c"))
    val cumExpected = grp.withColumn("cs0",
      coalesce(sum($"c").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cumGot = Ranks.withGlobalCumsumExcl(grp, $"v", Seq($"v"),
      $"c", "cs", "law3")
    val cdiff = cumExpected.join(cumGot, Seq("v"))
      .filter($"cs0" =!= $"cs").count()
    assert(cdiff === 0L)
  }

  test("kcore peel trace is monotone non-increasing (round 13)") {
    val rows = run("q_graph_kcore").collect()
    assert(rows.length === 3)
    val vs = rows.map(_.getAs[Long]("n_vertices"))
    val es = rows.map(_.getAs[Long]("n_edges"))
    assert(vs.zip(vs.tail).forall { case (a, b) => b <= a },
      s"vertex counts must shrink or hold: ${vs.mkString(",")}")
    assert(es.zip(es.tail).forall { case (a, b) => b <= a },
      s"edge counts must shrink or hold: ${es.mkString(",")}")
    // a 2-core survivor set can never out-count its own edge support:
    // every survivor has degree ≥ 2 ⇒ E ≥ V (handshake ≥ 2V / 2)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_edges") >= r.getAs[Long]("n_vertices") ||
        r.getAs[Long]("n_vertices") == 0))
  }

  test("bfs levels are disjoint first-reach counts (round 13)") {
    val rows = run("q_graph_bfs").collect()
    assert(rows.map(_.getAs[Int]("dist")).toSeq === Seq(0, 1, 2, 3))
    assert(rows.head.getAs[Long]("n_vertices") === 5L, "5 hub sources")
    // levels partition reached vertices — their sum cannot exceed the
    // graph's vertex population (parts appearing in any lineitem)
    val total = Tables.t(spark, sf, "lineitem")
      .select($"l_partkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_vertices")).sum <= total)
  }

  test("boxplot quartiles bracket correctly and median matches brute force (round 13)") {
    val rows = run("q_agg_boxplot").collect()
    rows.foreach { r =>
      val (mn, q1, med, q3, mx) = (r.getAs[Long]("min_c").toDouble,
        r.getAs[Double]("q1_c"), r.getAs[Double]("med_c"),
        r.getAs[Double]("q3_c"), r.getAs[Long]("max_c").toDouble)
      assert(mn <= q1 && q1 <= med && med <= q3 && q3 <= mx)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n"))
    }
    // brute-force the median of one group (type-7: position p·(n−1))
    val g = rows.head.getAs[String]("priority")
    val cs = Tables.t(spark, sf, "orders")
      .filter($"o_orderpriority" === g)
      .select(round($"o_totalprice" * 100).cast("long").as("c"))
      .as[Long].collect().sorted
    val pos = 0.5 * (cs.length - 1)
    val (lo, hi) = (cs(pos.toInt), cs(math.ceil(pos).toInt))
    val expected = lo + (pos - pos.toInt) * (hi - lo)
    assert(rows.head.getAs[Double]("med_c") === expected)
  }

  test("rolling z-score flags match a brute-force recompute (round 13)") {
    val got = run("q_win_zscore")
      .select($"event_id", $"v_c", $"n_w", $"is_anomaly")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_w"),
          Option(r.get(3)).map(_.asInstanceOf[Boolean]))).toMap
    val events = Tables.t(spark, sf, "events")
      .select($"user_id", $"ts", $"event_id",
        round($"value" * 100).cast("long").as("v_c"))
      .as[(Long, java.sql.Timestamp, Long, Long)].collect()
      .groupBy(_._1)
    events.values.foreach { es =>
      val sorted = es.sortBy(e => (e._2.getTime, e._3))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - 10), i).map(_._4)
        val (id, v) = (sorted(i)._3, sorted(i)._4)
        val n = frame.length.toLong
        val (s, ss) = (frame.sum, frame.map(x => x * x).sum)
        val expect = Some(n >= 5 &&
          (n * v - s) * (n * v - s) > 4 * (n * ss - s * s))
        val (gn, gflag) = got(id)
        assert(gn === n, s"event $id frame count")
        assert(gflag === expect, s"event $id flag")
      }
    }
  }

  test("lorenz curve: monotone convex shares summing to exactly 1e6 (round 13)") {
    val rows = run("q_agg_lorenz").collect()
    assert(rows.map(_.getAs[Int]("decile")).toSeq === (1 to 10))
    val shares = rows.map(_.getAs[Long]("share_ppm"))
    // deciles rank by spend ascending, so shares are non-decreasing
    // (the convexity that makes it a Lorenz curve)
    assert(shares.zip(shares.tail).forall { case (a, b) => b >= a })
    // cumulative share ends at exactly 1e6 (floor(1e6·T/T))
    assert(rows.last.getAs[Long]("cum_share_ppm") === 1000000L)
    val cums = rows.map(_.getAs[Long]("cum_share_ppm"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a })
  }

  test("decile lift: capture ends at 1e6 and positives balance (round 13)") {
    val rows = run("q_agg_decile_lift").collect()
    assert(rows.map(_.getAs[Int]("decile")).toSeq === (1 to 10))
    assert(rows.last.getAs[Long]("capture_ppm") === 1000000L)
    // weighted average lift over deciles is the base rate: Σ n·lift
    // recovers Σ pos·N/P — check the integer identity Σ n_pos = P via
    // the published columns
    val totPos = rows.map(_.getAs[Long]("n_pos")).sum
    val caps = rows.map(_.getAs[Long]("capture_ppm"))
    assert(caps.zip(caps.tail).forall { case (a, b) => b >= a })
    assert(totPos > 0L)
  }

  test("streaming anomaly flags equal the batch z-score window row-for-row (round 13)") {
    // the strongest law available: two independent engines (stateful
    // ring buffer vs window frame algebra) must agree on every row
    val batch = run("q_win_zscore")
      .select($"event_id", $"n_w".as("bn"), $"is_anomaly".as("bf"))
    val streamed = run("q_stream_anomaly")
      .select($"event_id", $"n_w".as("sn"), $"is_anomaly".as("sf_"))
    val joined = batch.join(streamed, Seq("event_id"), "full")
    assert(joined.filter($"bn".isNull || $"sn".isNull).count() === 0L,
      "row sets must match exactly")
    assert(joined.filter($"bn" =!= $"sn" || $"bf" =!= $"sf_").count() === 0L,
      "frame counts and flags must agree on every event")
  }

  test("lexical diversity bounds and one-doc brute force (round 13)") {
    val rows = run("q_text_lexical").collect()
    rows.foreach { r =>
      val (tok, typ, hap) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_types"), r.getAs[Long]("n_hapax"))
      assert(typ <= tok && hap <= typ)
      assert(r.getAs[Long]("ttr_ppm") <= 1000000L)
      assert(r.getAs[Long]("hapax_ppm") <= r.getAs[Long]("ttr_ppm"),
        "every hapax is its own type, so hapax share ≤ type share")
    }
    val doc0 = Tables.t(spark, sf, "documents")
      .filter($"doc_id" === rows.head.getAs[Long]("doc_id"))
      .select($"text").as[String].first().split(" ", -1)
    val counts = doc0.groupBy(identity).view.mapValues(_.length)
    assert(rows.head.getAs[Long]("n_tokens") === doc0.length.toLong)
    assert(rows.head.getAs[Long]("n_types") === counts.size.toLong)
    assert(rows.head.getAs[Long]("n_hapax") ===
      counts.count(_._2 == 1).toLong)
  }
}
