package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fingerprints.Fingerprint
import graft.functions.{GraftFunctions, XorAgg}
import graft.operators.Queries
import graft.plans.{AsofJoinStrategy, CartesianGuard}
import graft.tools.Harness

/** Custom-expression kernels: correctness against independent computations,
  * and the LSH paths' recall against their exact baselines; and how the
  * kernels reach a session: registry runs change nothing on a session
  * carrying GraftExtensions, and install it once on one without. */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Harness.session("functions-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  test("farmhash64 column has exact parity with the framework Fingerprint") {
    import spark.implicits._
    val words = Seq("graft", "spark", "", "héllo wörld", "a\tb\nc")
    val fromSpark = words.toDF("w").selectExpr("farmhash64(w)").as[Long].collect()
    val fromDriver = words.map(Fingerprint.fromString(_).key)
    assert(fromSpark.toSeq === fromDriver)
  }

  test("graft_dot matches an independent dot product") {
    import spark.implicits._
    val a = Array(1.0, 2.0, 3.0)
    val b = Array(-0.5, 4.0, 2.0)
    val expected = a.zip(b).map { case (x, y) => x * y }.sum
    val got = Seq((a, b)).toDF("a", "b").selectExpr("graft_dot(a, b)").as[Double].head()
    assert(got === expected)
  }

  test("graft_shingle_hashes = distinct farmhash of 3-token windows") {
    import spark.implicits._
    val toks = Seq("a", "b", "c", "d", "a", "b", "c", "d")
    val expected = toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      .map(Fingerprint.fromString(_).key).toSet
    val got = Seq(toks).toDF("tk").selectExpr("graft_shingle_hashes(tk, 3)")
      .as[Seq[Long]].head().toSet
    assert(got === expected)
    // below n tokens → empty set
    assert(Seq(Seq("a", "b")).toDF("tk").selectExpr("size(graft_shingle_hashes(tk, 3))")
      .as[Int].head() === 0)
  }

  test("graft_minhash: signature length k, dominated by set containment") {
    import spark.implicits._
    // sig of a superset is elementwise <= sig of the subset (min over more)
    val sub = Seq(1L, 2L, 3L)
    val sup = Seq(1L, 2L, 3L, 4L, 5L)
    val Seq(s1, s2) = Seq(Tuple1(sub), Tuple1(sup)).toDF("h")
      .selectExpr("graft_minhash(h, 32)").as[Seq[Long]].collect().toSeq
    assert(s1.size === 32 && s2.size === 32)
    assert(s1.zip(s2).forall { case (a, b) => b <= a })
    // identical sets → identical signatures
    val s3 = Seq(Tuple1(sub.reverse)).toDF("h").selectExpr("graft_minhash(h, 32)").as[Seq[Long]].head()
    assert(s3 === s1)
  }

  test("graft_simhash: equal inputs collide, different inputs differ") {
    import spark.implicits._
    val h1 = Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("h").selectExpr("graft_simhash(h)").as[Long].head()
    val h2 = Seq(Tuple1(Seq(3L, 2L, 1L))).toDF("h").selectExpr("graft_simhash(h)").as[Long].head()
    assert(h1 === h2) // order-free
    val h3 = Seq(Tuple1(Seq(100L, 200L, 300L))).toDF("h").selectExpr("graft_simhash(h)").as[Long].head()
    assert(h1 !== h3)
  }

  test("MinHash-LSH (x3) finds every exact near-dup pair (x2) at sf0.001") {
    val exact = Queries.byName("x2_ngram_jaccard").run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Queries.byName("x3_minhash_lsh").run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dups")
    assert(lsh === exact, s"LSH recall loss: missing ${exact -- lsh}, spurious ${lsh -- exact}")
  }

  test("hyperplane-LSH ANN (x7) results are a subset of brute force rankings' pool (x6)") {
    val bf = Queries.byName("x6_ann_bruteforce").run(spark, sf)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Queries.byName("x7_ann_lsh").run(spark, sf).collect()
    assert(lsh.nonEmpty)
    // every LSH hit shares the query's bucket and is exactly scored; spot
    // check: its cosine equals the brute-force cosine for the same pair
    val bfScores = Queries.byName("x6_ann_bruteforce").run(spark, sf)
      .select("query_id", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bfScores.get(key).foreach(c => assert(c === r.getDouble(3)))
    }
    assert(bf.nonEmpty)
  }

  test("XorAgg aggregator: order-independent, parity with driver combineAll") {
    import spark.implicits._
    val vals = Seq(3L, 9L, 123456789L, -42L, Long.MinValue)
    val expected = graft.fingerprints.Fingerprint.combineAll(
      vals.map(graft.fingerprints.Fingerprint(_))).key
    val xor = udaf(XorAgg)
    val a = vals.toDF("v").repartition(4).select(xor(col("v"))).as[Long].head()
    val b = vals.reverse.toDF("v").repartition(2).select(xor(col("v"))).as[Long].head()
    assert(a === expected && b === expected)
  }

  test("GraftExtensions injects functions without explicit registration") {
    val v = spark.sql("SELECT farmhash64('graft') AS h").collect()(0).getLong(0)
    assert(v === Fingerprint.fromString("graft").key)
  }

  test("IVF ANN (x14) recall against brute force (x6) is reasonable and exactly scored") {
    val bf = Queries.byName("x6_ann_bruteforce").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val ivf = Queries.byName("x14_ann_ivf").run(spark, sf).collect()
    assert(ivf.nonEmpty)
    // scores of overlapping pairs must be identical (exact re-rank)
    ivf.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c === r.getDouble(3)))
    }
    // probing 2/16 lists should still recover a nontrivial share of the
    // true top-10 (embeddings are near-uniform, so this is a loose bound)
    val overlap = ivf.count(r => bf.contains((r.getLong(0), r.getLong(1))))
    assert(overlap >= 5, s"IVF found only $overlap of the true top-10 pairs")
  }

  test("text kernels match their HOF equivalents (count_in / sum_len / rolling_fp)") {
    import spark.implicits._
    val rows = Seq(
      "the cat sat on the mat",
      "a  b", // double space -> empty token
      "", "x",
      "naïve café tokens") // non-ascii first chars
    val df = rows.toDF("text").withColumn("tk", split(col("text"), " "))
    val cmp = df.select(
      expr("graft_count_in(tk, array('the', 'a', 'of'))").as("k_cnt"),
      expr("size(filter(tk, t -> array_contains(array('the', 'a', 'of'), t)))").as("h_cnt"),
      expr("graft_sum_len(tk)").as("k_sum"),
      expr("aggregate(tk, 0, (acc, t) -> acc + length(t))").as("h_sum"),
      expr("graft_rolling_fp(tk)").as("k_fp"),
      expr("""aggregate(
            |  zip_with(tk, sequence(1, size(tk)),
            |           (t, i) -> cast(i as bigint) * (cast(length(t) as bigint) * 131 + ascii(substring(t, 1, 1)))),
            |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin).as("h_fp")).collect()
    for (r <- cmp) {
      assert(r.getInt(0) === r.getInt(1), s"count_in mismatch: $r")
      assert(r.getInt(2) === r.getInt(3), s"sum_len mismatch: $r")
      assert(r.getLong(4) === r.getLong(5), s"rolling_fp mismatch: $r")
    }
  }

  test("count_in_longset matches its HOF equivalent (constant long set, qs32's gate kernel)") {
    import spark.implicits._
    // unsorted constant set (the expression sorts internally); duplicates
    // in the probed ARRAY must each count (membership, not intersection)
    val df = Seq(
      Seq(5L, 3L, 5L, 99L), Seq.empty[Long], Seq(7L), Seq(-4L, 0L, Long.MaxValue))
      .toDF("xs")
    val cmp = df.select(
      expr("graft_count_in_longset(xs, array(99L, -4L, 5L, 0L))").as("k"),
      expr("size(filter(xs, x -> array_contains(array(99L, -4L, 5L, 0L), x)))").as("h"))
      .collect()
    for (r <- cmp) assert(r.getInt(0) === r.getInt(1), s"count_in_longset mismatch: $r")
  }

  test("graft_sha48 equals the first-12-hex-chars sha256 prefix (the DuckDB id) per element") {
    import spark.implicits._
    val df = Seq(Seq("alpha", "beta", "", "alpha"), Seq.empty[String]).toDF("ts")
    val rows = df.select(expr("graft_sha48(ts)").as("hs"), col("ts")).collect()
    def ref(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
    for (r <- rows) {
      val hs = r.getSeq[Long](0); val ts = r.getSeq[String](1)
      assert(hs === ts.map(ref), s"sha48 mismatch on $ts")
      assert(hs.forall(_ >= 0L), "sha48 produced a negative id")
    }
  }

  test("graft_sum_longmap: per-occurrence value sums, absent keys 0, pair sort at plan time") {
    import spark.implicits._
    val df = Seq(Seq(5L, 3L, 5L, 99L), Seq.empty[Long], Seq(7L), Seq(-4L)).toDF("xs")
    // keys deliberately UNSORTED: the expression must sort (keys, vals)
    // as pairs, not independently
    val got = df.select(
      expr("graft_sum_longmap(xs, array(99L, -4L, 5L), array(1000L, 20L, 300L))").as("s"))
      .collect().map(_.getLong(0))
    assert(got === Array(1000L + 300L * 2, 0L, 0L, 20L),
      "sum_longmap diverged from the per-occurrence join+sum semantics")
    // a duplicate constant key is a plan-time error, not a silent merge
    val err = intercept[Exception] {
      df.select(expr("graft_sum_longmap(xs, array(5L, 5L), array(1L, 2L))")).collect()
    }
    assert(err.getMessage != null)
  }

  test("near-dup df-cap path agrees with the exact path when forced on") {
    // force the capped branch by setting the cap just under the hottest
    // shingle's df: the capped plan (bound + selective exact re-verify)
    // must emit the same pairs/scores as the plain inverted-index plan
    val docs = Queries.shingleSets(
      spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text")))
    val exact = Queries.nearDupPairs(docs).collect().map(_.toSeq).toSet
    val maxDf = docs.select(explode(col("sh")).as("s"))
      .groupBy("s").count().agg(max("count")).head.getLong(0)
    assert(maxDf > 2, "fixture sanity: corpus must have repeated shingles")
    val capped = Queries.nearDupPairs(docs, cap = maxDf - 1).collect().map(_.toSeq).toSet
    assert(capped === exact, s"capped path diverged: missing=${(exact -- capped).size} spurious=${(capped -- exact).size}")
  }

  test("md5-plane signature kernel matches the spelled-out plane dots") {
    // independent re-derivation: plane(b)(d) = ±1 from md5("b_d"), dot
    // summed sequentially (the oracle's list_dot_product order), bit b of
    // word b/64 set iff dot > 0 — exactly what the kernel must compute
    val md = java.security.MessageDigest.getInstance("MD5")
    def plane(b: Int, d: Int): Double = {
      md.reset()
      val hex = md.digest(s"${b}_${d}".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.charAt(0) <= '7') 1.0 else -1.0
    }
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("sig", expr("graft_md5_planes192(v)"))
      .limit(20).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val v = r.getSeq[Double](1)
      val expected = new Array[Long](3)
      for (b <- 0 until 192) {
        var s = 0.0
        for (d <- v.indices.take(64)) s += v(d) * plane(b, d)
        if (s > 0) expected(b >>> 6) |= (1L << (b & 63))
      }
      assert(r.getSeq[Long](2) === expected.toSeq, s"vec ${r.getLong(0)}")
    }
  }

  test("IVF ANN (x14) is immune to sparse, non-sequential ids") {
    // the old centroid rule (vec_id % step == 0 over dense ids) collapses on
    // remapped ids; the md5-ordered rule must not. Corpus ids are scattered
    // (×7919 + 10007), query ids (< 5) stay put.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val remapped = base.withColumn("vec_id",
      when(col("vec_id") < 5, col("vec_id")).otherwise(col("vec_id") * 7919L + 10007L))
    val out = Queries.x14On(remapped).collect()
    assert(out.length === 50, s"expected 5 queries x 10 ranks, got ${out.length}")
    val perQuery = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery.values.forall(_ == 10), s"uneven top-k: $perQuery")
  }

  test("MisraGries: bounded state, and every over-threshold token certainly survives") {
    import spark.implicits._
    // deliberately SKEWED input (the test corpora are near-uniform, which
    // never stresses the decrement path): one token at 1000, fifty at 10.
    // k=5 → threshold n/(k+1) = 250 → only "hot" is guaranteed.
    val tokens = Seq.fill(1000)("hot") ++ (1 to 50).flatMap(i => Seq.fill(10)(s"t$i"))
    val df = spark.sparkContext
      .parallelize(new scala.util.Random(42).shuffle(tokens), 8).toDF("token")
    val k = 5
    val mg = udaf(new graft.functions.MisraGries(k))
    val summary = df.agg(mg(col("token"))).head()
      .getAs[scala.collection.Map[String, Long]](0)
    assert(summary.size <= k, s"state exceeded k: ${summary.size}")
    val n = tokens.size
    val exactOver = tokens.groupBy(identity).collect {
      case (t, occ) if occ.size.toLong * (k + 1) > n => t
    }.toSet
    assert(exactOver.nonEmpty, "fixture must have at least one guaranteed token")
    assert(exactOver.subsetOf(summary.keySet.toSet),
      s"MG guarantee violated: $exactOver not all in ${summary.keySet}")
    // and the retained weight never exceeds the true count (MG only decrements)
    assert(summary("hot") <= 1000L)
  }

  test("graft_span_ladder: dyadic keys respect span identity at every level") {
    val s = spark; import s.implicits._
    // 48 tokens; positions 8..23 repeat positions 24..39 → the 16-token
    // span (and its nested 8-spans) must collide; everything else unique
    val base = (0 until 48).map(i => s"tok$i").toArray
    for (i <- 0 until 16) base(24 + i) = base(8 + i)
    val rows = Seq((1L, base.toSeq)).toDF("doc_id", "tk")
      .select(col("doc_id"), explode(expr("graft_span_ladder(tk)")).as("s"))
      .select(col("s.lvl").as("lvl"), col("s.k").as("k"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val byLvl = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // brute-force ground truth: distinct span STRINGS per level
    def spans(l: Int) = (0 to 48 - l).map(i => base.slice(i, i + l).mkString(" ")).toSet
    for (l <- Seq(8, 16, 32)) {
      assert(byLvl(l).size === spans(l).size,
        s"level $l: ${byLvl(l).size} keys vs ${spans(l).size} distinct spans")
    }
    // the planted repeat really collides: fewer keys than positions at 8/16
    assert(byLvl(8).size < 41 && byLvl(16).size < 33)
    assert(!byLvl.contains(64), "levels above the doc length must not emit")
  }

  // x17 calls graft_* kernels through a multi-round lineage-cut loop; q6b
  // is the one query that plans an AsofJoinPlan
  private val engineQueries = Seq("x17_dedup_clusters", "q6b_asof_custom")

  private def registryInfos(s: SparkSession): Seq[ExpressionInfo] =
    GraftFunctions.all.map { case (name, _) =>
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name)).get
    }

  private def assertSameInfos(after: Seq[ExpressionInfo], before: Seq[ExpressionInfo]): Unit =
    after.zip(before).foreach { case (a, b) => assert(a eq b, s"${a.getName} re-registered") }

  private def canon(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq

  test("registry runs on a Harness session write no function, rule or strategy") {
    val infos = registryInfos(spark)
    val (rules, strategies) = (spark.experimental.extraOptimizations, spark.experimental.extraStrategies)
    engineQueries.foreach(n => Queries.byName(n).run(spark, sf).collect())
    assertSameInfos(registryInfos(spark), infos)
    assert(spark.experimental.extraOptimizations === rules)
    assert(spark.experimental.extraStrategies === strategies)
  }

  // keep this test last: it stops the spec's session, since a session
  // without the extension needs a SparkContext started without it
  test("a session built without GraftExtensions gets it once, on its first registry run") {
    val expected = engineQueries.map(n => canon(SparkEntry.queries(n)(spark, sf)))
    spark.stop()
    val bare = Harness.session("functions-spec-bare", Seq("spark.master=local[4]",
      "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR", "spark.sql.extensions="))
    try {
      assert(!bare.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")))
      def run() = engineQueries.map(n => canon(SparkEntry.queries(n)(bare, sf)))
      assert(run() === expected)
      val infos = registryInfos(bare)
      assert(run() === expected)
      assertSameInfos(registryInfos(bare), infos)
      assert(bare.experimental.extraOptimizations.count(_.isInstanceOf[CartesianGuard]) === 1)
      assert(bare.experimental.extraStrategies.count(_ == AsofJoinStrategy) === 1)
    } finally bare.stop()
  }
}
