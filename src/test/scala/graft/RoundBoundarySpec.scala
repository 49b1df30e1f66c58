package graft

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries
import graft.tools.Harness

/** ROUND-BOUNDARY AUDIT — the cross-engine fragility gate for every
  * query whose oracle contract still quantizes a DOUBLE with `round(...)`
  * (the `round(double·10⁶)` family flagged by the round-6 review).
  *
  * The hazard: Spark and DuckDB each compute the pre-round double, and if
  * a data value lands within ~1 ulp of a `.5` rounding boundary, a 1-ulp
  * divergence (a different libm, a DuckDB version bump, an FMA contraction)
  * flips the rounded integer and the hash gate goes red — exactly the
  * x58 failure class that round 7 eliminated by integer rewrite.
  *
  * The audit: take each audited query's REAL analyzed plan (not a copy)
  * and rewrite every `Round(child: double, s)` node into a poisoned twin
  * that adds 10¹⁵ to the result whenever the scaled value sits within
  * `4·ulp` of a half-integer boundary. Re-executing the transformed plan
  * must then produce EXACTLY the same rows as the original: any
  * boundary-adjacent value anywhere in the pipeline — including inside
  * aggregates, windows and cached subtrees — shifts an output by ~10¹⁵
  * (or reorders a top-k) and fails the comparison. This turns "no emitted
  * value is within 1 ulp of .5 on this data" from a claim into a gate.
  *
  * What a PASS means: on the checked corpus no double-rounding site is
  * one ulp from flipping, so a DuckDB version bump cannot turn these rows
  * red via rounding. Queries whose final rounds were migrated to integer
  * arithmetic in r7 (x44, x58, x63, x64, qs18) no longer have a double
  * `Round` in the plan at all and are out of scope by construction.
  */
class RoundBoundarySpec extends AnyFunSuite with BeforeAndAfterAll {

  // default = the driver's correctness-gate SF; override for an evidence
  // run at another scale: sbt -Dgraft.rbs.sf=/root/testdata/sf0.1 ...
  private val sf = sys.props.getOrElse("graft.rbs.sf", "/root/testdata/sf0.01")

  private lazy val spark: SparkSession = Harness.session("round-boundary-spec",
    Seq("spark.master=local[8]", "spark.sql.shuffle.partitions=8", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  /** Round(c, s) → If(near-boundary, Round(c, s) + 1e15, Round(c, s)).
    * Tolerance is 4 ulps of the scaled value (floor 1e-13): the band in
    * which a realistic cross-engine double divergence could flip the
    * rounded result. */
  private def poison(r: Round): Expression = {
    val scale = r.scale match {
      case Literal(i: Int, _) => math.pow(10.0, i)
      case other => return r // dynamic scale: not used by any audited query
    }
    val scaled = Multiply(Cast(r.child, DoubleType), Literal(scale))
    val frac = Subtract(scaled, Cast(Cast(Floor(scaled), LongType), DoubleType))
    val dist = Abs(Subtract(frac, Literal(0.5)))
    val tol = Greatest(Seq(Literal(1e-13), Multiply(Abs(scaled), Literal(8.9e-16))))
    val near = And(IsNotNull(scaled), LessThan(dist, tol))
    If(near, Add(r, Literal(1e15)), r)
  }

  private def audited(df: DataFrame): DataFrame = {
    // bottom-up on both the plan and expression trees: the poisoned
    // replacement CONTAINS the matched Round, so a top-down transform
    // would recurse into its own output forever
    val plan = df.queryExecution.analyzed.transformUp {
      case p => p.transformExpressionsUp {
        case r: Round if r.child.dataType == DoubleType && r.dataType == DoubleType =>
          poison(r)
      }
    }
    GraftPlanBridge.ofRows(spark, plan)
  }

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.collect().map(r => cols.map { c =>
      val v = r.get(r.fieldIndex(c))
      v match {
        case d: Double => f"$d%.9g"
        case x => String.valueOf(x)
      }
    }.mkString("|")).sorted.toSeq
  }

  /** every oracle-gated query that still rounds a double somewhere in its
    * plan (the round-6 enumerated list minus the r7 integer migrations) */
  private val auditedQueries = Seq(
    "x38_kmeans_embed", "x45_cluster_exemplars", "x46_random_projection",
    "x47_cluster_balanced_sample", "x48_semantic_outliers",
    "x49_delta_cluster_assign", "x62_source_scorecard",
    "x65_lm_quality_filter", "x69_pmi_collocations", "x70_label_cohesion",
    "x73_embedding_audit", "x75_session_stats", "x81_principal_direction",
    "x84_whitened_ann", "x87_zipf_fit", "x88_semdedup",
    "x107_temperature_mixture", "x109_fps_coreset",
    "x122_hybrid_rrf", // r7b: shares x58's single-transcendental idf quantization
    "x129_rfm_features", // r7b: qs22's round(value*100) cents quantization
    // r7 governance family: any NEW round(double·10⁶) enrolls here by rule.
    // x117's t²/significance migrated to exact integer rationals in r8; in
    // r9 its whole finisher moved DRIVER-SIDE (BigInt, closing the decimal
    // overflow class) so its one remaining double round — the
    // Welch–Satterthwaite df, proven irreducible (an exact df needs
    // ~10⁵⁵-wide integers, see the x117 scaladoc) — no longer appears in
    // any plan. The poison transform cannot see it; the dedicated
    // driver-side boundary test below audits it instead.
    "x118_dp_release",
    // r8 — all three audited rounds are IRREDUCIBLE by the r7 rule (a
    // SINGLE transcendental of an exact integer ratio, quantized once to
    // int64, exact rationals after): x136's -ln((c12+1)/(c1+V)) nano
    // round has a data-dependent ratio domain, so no pinned-constant
    // table (the x139 trick) can replace it; x137 inherits x108's
    // prior/log-odds nano rounds; x140's per-(token, fold, alpha)
    // log-odds rounds are x108's convention across 10 fold-complement
    // models. None can migrate further without a second rounding site,
    // which would be worse.
    "x136_lm_holdout_ppl", "x137_conformal_gate", "x140_cv_model_select",
    // r9: x148 inherits x108's ln conventions on its OWN fold-trained
    // model (same irreducible single-transcendental class); net RBS
    // count stays at the r8 level — x117 left the plan-audit list
    "x148_conformal_proper",
    // r11: x153 is x136's −ln((c12+1)/(c1+V)) nano round applied once per
    // arm of the ablation (two sites, same irreducible class — each is a
    // SINGLE transcendental of an exact integer ratio quantized once; the
    // arms cannot share a site because V and the counts differ by arm),
    // plus the x65 gate's rounds inherited through the keep CTE
    "x153_filter_ablation",
    // r12b: x166 scores the pool bucket against the SAME two ablation-arm
    // models (shared ablationArms core) — its two nll rounds are x153's
    // sites applied to the distinct pool-pair frame, same irreducible
    // single-transcendental class, plus the inherited x65 rounds
    "x166_moore_lewis_select",
    // r12b: x167's four per-tier nll rounds are x136's site across four
    // nested arms (irreducible, one transcendental per arm); its NINE
    // driver-side quantized-ln fit inputs are audited by the dedicated
    // boundary test in TrainingOpsSpec (the x117 driver-side pattern)
    "x167_scaling_curve")

  test("x117: the driver-side Welch df round is not within 4 ulps of a .5 boundary") {
    // x117's df round now happens in driver code (BigDecimal HALF_UP over
    // the same IEEE double Spark's Round would see), so the plan-poison
    // audit above cannot reach it. Re-derive the df double per event type
    // from the same exact moments and assert the scaled value keeps its
    // distance from every half-integer boundary — the same guarantee the
    // poison transform gives the in-plan rounds.
    import org.apache.spark.sql.functions._
    val ev = graft.operators.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType), lit(2L)).as("arm"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val rows = ev.groupBy(col("event_type"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s_a"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("s_b"),
        sum(when(col("arm") === 0, col("cents") * col("cents")).otherwise(0L)).as("ss_a"),
        sum(when(col("arm") === 1, col("cents") * col("cents")).otherwise(0L)).as("ss_b"))
      .filter(col("n_a") > 1 && col("n_b") > 1)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val na = r.getLong(1); val nb = r.getLong(2)
      val sa = r.getLong(3); val sb = r.getLong(4)
      val ssa = r.getLong(5); val ssb = r.getLong(6)
      val va = (ssa.toDouble - sa.toDouble * sa / na) / (na - 1)
      val vb = (ssb.toDouble - sb.toDouble * sb / nb) / (nb - 1)
      val se2 = va / na + vb / nb
      val scaled = se2 * se2 / ((va / na) * (va / na) / (na - 1)
        + (vb / nb) * (vb / nb) / (nb - 1)) * 1000000.0
      val frac = scaled - math.floor(scaled)
      val dist = math.abs(frac - 0.5)
      val tol = math.max(1e-13, math.abs(scaled) * 8.9e-16)
      assert(dist >= tol,
        s"${r.getString(0)}: df_micros pre-round value $scaled sits within " +
          "the ulp band of a .5 boundary")
    }
  }

  for (name <- auditedQueries)
    test(s"$name: no double-round value within 4 ulps of a .5 boundary") {
      val q = Queries.byName(name)
      val base = canon(q.run(spark, sf))
      spark.catalog.clearCache() // force the audited plan to recompute
      val poisoned = canon(audited(q.run(spark, sf)))
      spark.catalog.clearCache()
      assert(base === poisoned,
        s"$name: a pre-round double sits within the ulp band of a .5 " +
          "boundary — a 1-ulp cross-engine divergence could flip the row")
    }
}
