package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries
import graft.tools.Harness

/** Semantic invariants of the r7 governance/experimentation family
  * (x116 k-anonymity, x117 A/B Welch, x118 DP release, qs23 streaming
  * release gate) — the laws that must hold at any scale factor. The
  * oracle gate proves engine-vs-DuckDB equality; these prove the
  * operators mean what they claim. */
class GovernanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = Harness.session("governance-spec",
      Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(name: String) = Queries.byName(name).run(spark, sf)

  test("x116: the histogram partitions the corpus and flags are consistent") {
    val df = run("x116_k_anonymity").cache()
    // every document sits in exactly one QI class → doc counts conserve
    val total = df.agg(sum("n_docs")).head.getLong(0)
    assert(total === graft.operators.Tables.documents(spark, sf).count(),
      "QI classes must partition the corpus")
    assert(df.filter(col("n_docs") =!= col("class_size") * col("n_classes")).isEmpty)
    // l-diversity can never exceed the class size (each distinct sensitive
    // value needs at least one member) and is at least 1
    assert(df.filter(col("min_l_diversity") < 1 ||
      col("min_l_diversity") > col("class_size")).isEmpty)
    assert(df.filter(col("meets_k5") =!= (col("class_size") >= 5)).isEmpty)
    // the audit is non-vacuous on this corpus: some classes violate k=5
    assert(df.filter(!col("meets_k5")).count() > 0, "no k<5 classes — vacuous audit")
    df.unpersist()
  }

  test("x117: arms partition the population; t2/df live in their legal ranges") {
    val df = run("x117_ab_welch").cache()
    val ev = graft.operators.Tables.events(spark, sf).filter(col("value").isNotNull)
    val perType = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    df.collect().foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(na + nb === perType(r.getAs[String]("event_type")),
        "arms must partition the non-null events of the type")
      // the content-addressed split should be roughly balanced — but the
      // randomization UNIT is the user, not the event, so the effective
      // sample is |users touching the type| (tens at sf0.001): allow the
      // wide band a per-user cluster assignment implies at that n
      assert(na > 0 && nb > 0 && math.abs(na - nb).toDouble / (na + nb) < 0.35,
        s"arm imbalance: $na vs $nb")
      assert(r.getAs[Long]("t2_micros") >= 0L)
      // Welch–Satterthwaite df ∈ [min(n_a, n_b) − 1, n_a + n_b − 2]
      val df6 = r.getAs[Long]("df_micros")
      assert(df6 >= (math.min(na, nb) - 1) * 1000000L - 1000000L &&
        df6 <= (na + nb - 2) * 1000000L + 1000000L, s"df out of range: $df6")
      // flag consistent with the quantized statistic (1 micro slack at the
      // threshold — the flag compares the raw double, the column its round)
      val sig = r.getAs[Boolean]("significant")
      val t2 = r.getAs[Long]("t2_micros")
      assert(if (sig) t2 >= 3841458L else t2 <= 3841460L,
        s"significance flag inconsistent with t2_micros=$t2")
    }
    // the same user must land in the same arm for every event type: global
    // assignment is per-user, so re-deriving it twice is identical
    val arm1 = ev.select(col("user_id")).distinct()
      .withColumn("arm", pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(2L)))
    assert(arm1.groupBy("user_id").agg(countDistinct("arm").as("k"))
      .filter(col("k") > 1).isEmpty)
    df.unpersist()
  }

  test("x118: publication arithmetic is exact and noise is Laplace-plausible") {
    val df = run("x118_dp_release").cache()
    assert(df.filter(col("noisy_count_micros") =!=
      col("true_count") * 1000000L + col("noise_micros")).isEmpty,
      "published value must be exact integer arithmetic over count + noise")
    assert(df.filter(col("epsilon_micros") =!= 1000000L).isEmpty)
    // Laplace(b=1) noise: P(|X| > 20) = e^-20 — any larger value means the
    // inverse-CDF is wrong, not that we got unlucky
    assert(df.filter(abs(col("noise_micros")) > 20000000L).isEmpty,
      "noise magnitude outside any plausible Laplace(1) draw")
    // the draws are content-addressed: re-running is byte-identical
    assert(run("x118_dp_release").exceptAll(df).isEmpty)
    df.unpersist()
  }

  test("x119: the deletion plan re-derives from the tombstone rule exactly") {
    val df = run("x119_erasure_audit").cache()
    assert(df.count() === 4)
    val rows = df.collect().map(r => r.getAs[String]("tbl") ->
      (r.getAs[Long]("n_rows"), r.getAs[Long]("n_subjects"), r.getAs[Boolean]("cascade"))).toMap
    // per-table re-derivation (independent of the query's own plan)
    val cust = graft.operators.Tables.customer(spark, sf)
      .filter(col("c_custkey") % 97 === 0).count()
    assert(rows("customer") === ((cust, cust, false)), "customer PK: subjects == rows")
    val ev = graft.operators.Tables.events(spark, sf).filter(col("user_id") % 97 === 0)
    assert(rows("events")._1 === ev.count())
    // the cascade only reaches lineitems of erased customers' orders
    val ords = graft.operators.Tables.orders(spark, sf).filter(col("o_custkey") % 97 === 0)
    val casc = graft.operators.Tables.lineitem(spark, sf)
      .join(ords.select(col("o_orderkey").as("l_orderkey")), "l_orderkey").count()
    assert(rows("lineitem")._1 === casc && rows("lineitem")._3,
      "lineitem must be flagged as a referential cascade")
    assert(df.filter(col("n_subjects") > col("n_rows")).isEmpty)
    df.unpersist()
  }

  test("x120: the expectation report is conserved, consistent, and non-vacuous") {
    val df = run("x120_expectation_suite").cache()
    assert(df.count() === 7)
    val n = graft.operators.Tables.lineitem(spark, sf).count()
    assert(df.filter(col("n_checked") =!= n).isEmpty, "every check covers the table")
    assert(df.filter(col("pass") =!= (col("n_violations") === 0L)).isEmpty)
    assert(df.filter(col("n_violations") < 0 || col("n_violations") > col("n_checked")).isEmpty)
    // independent re-derivation of the uniqueness check — the fixture's
    // lineitem genuinely repeats (orderkey, linenumber), so the suite is
    // non-vacuous: a broken battery returning all-pass would fail here
    val dup = graft.operators.Tables.lineitem(spark, sf)
      .groupBy("l_orderkey", "l_linenumber").count().filter(col("count") > 1)
      .agg(coalesce(sum("count"), lit(0L))).head.getLong(0)
    val reported = df.filter(col("expectation") === "orderkey_linenumber_unique")
      .head.getAs[Long]("n_violations")
    assert(reported === dup && dup > 0, s"uniqueness: reported $reported, derived $dup")
    df.unpersist()
  }

  test("x121: the delta-maintained aggregate equals an independent full rebuild") {
    val df = run("x121_ivm_aggregate").cache()
    // independent generation-B rebuild in Spark (the oracle does it in
    // DuckDB; this pins the same theorem engine-side)
    val b = graft.operators.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val genB = b.filter(col("event_id") % 89 =!= 0)
      .unionByName(b.filter(col("event_id") % 97 === 0 && col("event_id") % 89 =!= 0))
    val rebuild = genB.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    assert(df.exceptAll(rebuild).isEmpty && rebuild.exceptAll(df).isEmpty,
      "IVM maintenance diverged from the full rebuild")
    // the fixture delta is non-trivial: generation B differs from A
    val a = b.groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(df.join(a.withColumnRenamed("n", "na"), "event_type")
      .filter(col("n") =!= col("na")).count() > 0,
      "delta changed nothing — the IVM assertion would be vacuous")
    df.unpersist()
  }

  test("qs24: the streamed contract report equals the batch battery per emitted hour") {
    val df = run("qs24_stream_contract").cache()
    assert(df.count() > 0)
    assert(df.filter(col("contract_pass") =!= (col("v_value_null") + col("v_value_domain") +
      col("v_type_set") + col("v_user_null") === 0L)).isEmpty)
    val batch = graft.operators.Tables.events(spark, sf)
      .withColumn("window_start", date_trunc("hour", col("ts")))
      .groupBy("window_start")
      .agg(count(lit(1)).as("be"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("b1"),
        sum(when(col("value").isNotNull &&
          (col("value") <= 0.0 || col("value") > 500.0), 1L).otherwise(0L)).as("b2"))
    val j = df.join(batch, "window_start")
    assert(j.filter(col("n_events") =!= col("be") ||
      col("v_value_null") =!= col("b1") || col("v_value_domain") =!= col("b2")).isEmpty,
      "streamed expectation counts diverge from the batch battery")
    df.unpersist()
  }

  test("qs23: the streamed gate equals the batch QI histogram on finalized windows") {
    val df = run("qs23_stream_k_anonymity").cache()
    assert(df.count() > 0)
    // wide-form bounds: at most 5 types × 8 bins classes; min ≤ mean
    assert(df.filter(col("n_classes") < 1 || col("n_classes") > 40).isEmpty)
    assert(df.filter(col("min_class_size") * col("n_classes") > col("n_events")).isEmpty)
    assert(df.filter(col("k5_ok") =!= (col("min_class_size") >= 5)).isEmpty)
    // batch replay equality on the emitted windows (the qs22 discipline)
    val ev = graft.operators.Tables.events(spark, sf).filter(col("value").isNotNull)
      .withColumn("window_start", date_trunc("hour", col("ts")))
      .withColumn("bin", expr("least(7, greatest(0, cast(floor(value / 15.0) as bigint)))"))
    val batch = ev.groupBy(col("window_start"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cs"))
      .groupBy(col("window_start"))
      .agg(sum("cs").as("n_events"), count(lit(1)).as("n_classes"),
        min("cs").as("min_class_size"))
    val joined = df.join(batch.withColumnRenamed("n_events", "be")
      .withColumnRenamed("n_classes", "bc").withColumnRenamed("min_class_size", "bm"),
      "window_start")
    assert(joined.filter(col("n_events") =!= col("be") ||
      col("n_classes") =!= col("bc") || col("min_class_size") =!= col("bm")).isEmpty,
      "streamed finalized windows diverge from the batch QI histogram")
    df.unpersist()
  }
}
