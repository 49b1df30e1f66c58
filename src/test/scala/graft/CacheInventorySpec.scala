package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries
import graft.tools.Harness

/** The cache-lifecycle STRUCTURAL INVARIANT (r10, verdict item 4 made
  * registry-wide): after a registered batch query MATERIALIZES, the only
  * persisted RDDs allowed to remain are its own `localCheckpoint` blocks
  * (the eagerFinish recipe — they back the returned frame). Any other pin
  * means the caller inherits a cache it never asked for: in a long-lived
  * session composing operators, those accumulate until somebody else's
  * clearCache(); at 100 TB an inherited corpus-scale cache is an eviction
  * storm. A query MAY keep a pin only by enrolling here with an explicit
  * rationale — either the pinned frame is the deliberate single-scan
  * contract of a size gate (gatedBroadcast persists the delta so the
  * sizing count and the join share one scan), an iteration leaf that
  * exists to stop plan growth, or a multi-consumer shared scan whose
  * release point is the session/job boundary (one-shot pipeline jobs end
  * with the executors; ONLY composed operators need eagerFinish, and the
  * composed ones — x108 under x128/x137/x148, x141 under nothing yet but
  * corpus-scale, x143/x149's brute frames — are all converted).
  *
  * Mechanism: run each batch query at sf0.001, materialize through the
  * noop sink (full-column, the bench instrument), then diff
  * `sc.getPersistentRDDs` against the local-checkpoint marker. Exact-set
  * enrollment: an unenrolled query must leave zero pins, and an enrolled
  * query must actually pin (stale entries fail loud, the
  * BroadcastInventorySpec discipline). */
class CacheInventorySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Harness.session("cache-inventory-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  // rationale classes (the max is a ceiling — fewer pins is always fine):
  private val SHINGLE = "shared shingle frame: 2 consumers (df count + join-back); job-boundary release"
  private val EMB = "shared embedding+norm frame: multi-consumer scan; job-boundary release"
  private val TF = "shared per-doc tf/dl frame (bm25 machinery): multi-consumer; job-boundary release"
  private val LEAF = "persisted-RDD iteration leaf: exists to stop ~3^rounds plan growth"
  private val GATED = "size-gated delta pinned by gatedBroadcast's single-scan contract (r10). " +
    "ACCUMULATION NOTE (r10 ADVICE): the pin is delta-scale BY THE GATE'S OWN CERTIFICATE " +
    "while broadcast (<= the registered cap) and disk-spillable past it, but a long-lived " +
    "session composing SEVERAL gated queries accumulates one delta pin per query until its " +
    "between-jobs clearCache boundary — a composition layer that chains gated maintenance " +
    "ops back-to-back should eagerFinish its consumers (the x130 pattern) or clear between ops"
  private val STATS = "shared corpus/stats frame: multi-consumer scan; job-boundary release"

  /** name -> (max allowed non-checkpoint pins, rationale). */
  private val inventory: Map[String, (Int, String)] = Map(
    "q31_funnel" -> (1, STATS),
    "q39_merge_apply" -> (2, GATED),
    "q44_ivm_join" -> (2, GATED),
    "x110_ivm_dedup_index" -> (2, GATED),
    "x119_erasure_audit" -> (1, GATED),
    "x130_ivm_components" -> (7, s"$SHINGLE + $LEAF + $GATED (dirty-hash set)"),
    "x2_ngram_jaccard" -> (1, SHINGLE),
    "x3_minhash_lsh" -> (1, SHINGLE),
    "x15_clean_corpus" -> (1, SHINGLE),
    "x17_dedup_clusters" -> (2, s"$SHINGLE + $LEAF"),
    "x56_split_contamination" -> (1, SHINGLE),
    "x61_span_catalog" -> (1, SHINGLE),
    "x89_dup_size_profile" -> (2, s"$SHINGLE + $LEAF"),
    "x93_prefix_join" -> (1, SHINGLE),
    "x103_sketch_scorecard" -> (2, SHINGLE),
    "x127_containment_dedup" -> (1, SHINGLE),
    "x173_lsh_band_curve" -> (1,
      "shared signature frame: both sides of the banded self-join; job-boundary release"),
    "x7_ann_lsh" -> (1, EMB),
    "x38_kmeans_embed" -> (1, EMB),
    "x45_cluster_exemplars" -> (1, EMB),
    "x49_delta_cluster_assign" -> (1, EMB),
    "x70_label_cohesion" -> (1, EMB),
    "x102_pq_codebook" -> (1, EMB),
    "x58_bm25_retrieval" -> (1, TF),
    "x106_self_retrieval" -> (1, TF),
    "x122_hybrid_rrf" -> (1, TF),
    "x139_retrieval_ndcg" -> (2, TF),
    "x145_ranker_tau" -> (1, TF),
    "x44_textrank" -> (2, s"$LEAF (transition frame) + vocab-bounded node frame: 3 consumers (n count, p0, per-round left join); job-boundary release"),
    "x77_dup_pagerank" -> (1, LEAF),
    // (x123_bradley_terry pins nothing after it materializes: each MM
    // round's localCheckpoint leaf is released once the next round lands,
    // and the pair matrix is unpersisted after the last round)
    "x63_source_drift" -> (1, STATS),
    "x64_dataset_card" -> (1, STATS),
    "x155_loss_reweight" -> (1, s"$STATS (inherited from the x63 core it tilts)"),
    "x69_pmi_collocations" -> (1, STATS),
    "x79_length_drift_ks" -> (1, STATS),
    "x104_quantile_refine" -> (1, STATS),
    "x129_rfm_features" -> (1, STATS),
    "x136_lm_holdout_ppl" -> (1, STATS),
    "x140_cv_model_select" -> (2, STATS))

  test("cache inventory: every post-materialization pin is enrolled with a rationale; no stale entries") {
    val batch = Queries.all.filterNot(_.name.startsWith("qs"))
    val leaks = scala.collection.mutable.Map[String, Int]()
    batch.foreach { q =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      q.run(spark, sf).write.format("noop").mode("overwrite").save()
      val pinned = spark.sparkContext.getPersistentRDDs.values
        .filterNot(org.apache.spark.GraftTestProbes.isLocallyCheckpointed)
      if (pinned.nonEmpty) leaks(q.name) = pinned.size
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val unenrolled = leaks.keys.filterNot(inventory.contains).toSeq.sorted
    assert(unenrolled.isEmpty,
      s"queries pin caches without an inventory rationale: " +
        unenrolled.map(n => s"$n(${leaks(n)})").mkString(", "))
    val over = leaks.collect {
      case (n, c) if inventory.contains(n) && c > inventory(n)._1 =>
        s"$n: $c pins > enrolled max ${inventory(n)._1}"
    }
    assert(over.isEmpty, s"pin growth beyond enrolled ceiling: ${over.mkString("; ")}")
    val stale = inventory.keys.filterNot(leaks.contains).toSeq.sorted
    assert(stale.isEmpty,
      s"enrolled queries no longer pin (remove the stale entries): ${stale.mkString(", ")}")
  }
}
