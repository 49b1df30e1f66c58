package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{aggregate, array, col, expr, lit, posexplode, sum, zip_with}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries
import graft.tools.Harness

/** Physical-plan quality gates: the properties that keep these operators
  * viable at 100 TB — filters/columns reaching the parquet scan, dims
  * broadcast, whole-stage codegen on the hot paths — asserted so a plan
  * regression fails the build, not a production run. */
class PlansSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Harness.session("plans-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  private def plan(name: String): String =
    Queries.byName(name).run(spark, sf).queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1: shipdate filter is pushed to the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q1: scan reads only the needed columns (pruning)") {
    val p = plan("q1_pricing_summary")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q2: totalprice filter pushed; join keys pruned") {
    val p = plan("q2_order_customer_join")
    assert(p.contains("GreaterThan(o_totalprice,150000.0)"), p)
  }

  test("q3: dimension tables join via BroadcastHashJoin") {
    val p = plan("q3_star_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q4: semi/anti joins stay semi/anti (no materialize+distinct)") {
    val p = plan("q4_supplier_semi_anti")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q5: the DEFAULT theta plan is the linear rewrite — no nested loop anywhere") {
    val p = plan("q5_theta_margin")
    assert(!p.contains("NestedLoop"), s"q5 default must not nest-loop:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q6: as-of join is one window over one shuffle (no join operator)") {
    val p = plan("q6_asof_event_order")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"as-of should not produce a join:\n$p")
  }

  test("hot aggregations run inside WholeStageCodegen") {
    // AQE finalizes the plan only on execution; codegen'd operators then
    // carry the '*(n)' marker
    val df = Queries.byName("q1_pricing_summary").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
  }

  test("x5: custom dot-product expression appears in the plan (not a UDF, not a lambda)") {
    val p = plan("x5_embedding_neardup")
    assert(p.toLowerCase.contains("dotproduct") || p.contains("graft_dot"), p)
    assert(!p.contains("LambdaFunction"), s"interpreted HOF leaked into x5:\n$p")
  }

  test("x2: postings join on 8-byte hashes, shuffle carries no token arrays") {
    val df = Queries.byName("x2_ngram_jaccard").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the postings join keys on the 8-byte shingle hash (broadcast at toy
    // scale via AQE, shuffle on s# at scale) and no shingle-array column
    // crosses an exchange
    assert(p.contains("hashpartitioning(s#") || p.contains("BroadcastHashJoin [s#"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exchanges.contains("sh#"), s"shingle arrays crossed a shuffle:\n$exchanges")
  }

  test("entry smoke plan has no cartesian product") {
    val p = SparkEntry.entry(spark).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q5b: the BNLJ cross-check pre-aggregates below the nested loop") {
    val p = plan("q5b_theta_rank")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the aggregate must sit below the join: partial aggregation of
    // lineitem happens before the quadratic comparison
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(aggIdx >= 0 && joinIdx >= 0)
  }

  test("x3: minhash kernel expression drives the signature (no interpreted lambda over shingles)") {
    val p = plan("x3_minhash_lsh")
    assert(p.toLowerCase.contains("minhashsig") || p.contains("graft_minhash"), p)
  }

  test("x2: near-dup is equi-joins only — no nested loop, no cartesian") {
    val p = plan("x2_ngram_jaccard")
    assert(!p.contains("NestedLoop"), s"inverted-index join must stay equi:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x4: simhash candidates come from the band equi-join, signature from the kernel") {
    val p = plan("x4_simhash")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("simhash64") || p.contains("graft_simhash"), p)
  }

  test("x7: two-stage code scan — query fan-out broadcasts, vectors join equi by id") {
    val p = plan("x7_ann_lsh")
    assert(!p.contains("CartesianProduct"),
      s"the Hamming scan must broadcast the 5-row query side, never shuffle all-pairs:\n$p")
    // exactly ONE nested-loop is deliberate: the stage-1 broadcast fan-out
    // of the 5 queries over the 24-byte signature scan (x6/x29's shape);
    // stage-2 vector fetches must stay equi joins by id
    // count plan-tree instances ("BroadcastNestedLoopJoin Inner ..."), not
    // the formatted detail section's "(13) BroadcastNestedLoopJoin" echoes
    val bnlj = "BroadcastNestedLoopJoin Inner".r.findAllIn(p).size
    assert(bnlj <= 1, s"stage 2 re-rank must join equi by id, found $bnlj nested loops:\n$p")
  }

  test("x17: each propagation round is equi-join + aggregation, never all-pairs") {
    val p = plan("x17_dedup_clusters")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("x8/x11: text kernels run inside WholeStageCodegen (no interpreted lambda eval)") {
    for (q <- Seq("x8_text_quality", "x11_doc_fingerprint")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("lambdafunction"), s"$q fell back to interpreted HOFs:\n$p")
      // formatted mode marks codegen'd operators with '*'
      assert(p.contains("* Project"), s"$q projections left whole-stage codegen:\n$p")
    }
  }

  test("x19/x22: repetition + PII scrub are pure map-side scans (no Exchange at all)") {
    for (q <- Seq("x19_repetition", "x22_pii_scrub")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle — it is a per-row scan:\n$p")
    }
  }

  test("x20: contamination meets in an equi-join, never all-pairs") {
    val p = plan("x20_contamination")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("x21: packing is the two-phase prefix sum — data window partitioned by (lang, bucket)") {
    val p = plan("x21_sequence_pack")
    assert(p.contains("Window"), p)
    // a Window with an empty partition spec would show 'Exchange SinglePartition'
    assert(!p.contains("SinglePartition"),
      s"packing offsets collapsed to one partition:\n$p")
    // the DATA-side window must carry the bucket in its partition spec —
    // per-language-only partitioning puts a whole language in one task
    assert(p.contains("bkt"), s"bucket decomposition missing from the plan:\n$p")
  }

  test("x23: quantization has no shuffle and no UDF (HOFs over the array only)") {
    val p = plan("x23_embed_quant")
    assert(!p.contains("Exchange"), s"x23 must be map-side only:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"), p)
  }

  test("cartesian guard: unconditioned cross joins fail at PLAN time when enabled") {
    val a = spark.range(10).toDF("x")
    val b = spark.range(10).toDF("y")
    spark.conf.set("graft.guard.noCartesian", "true")
    try {
      // the nastiest accident: a join condition that folds to TRUE — the
      // guard runs in the optimizer, after constant folding, so it sees it
      val e = intercept[Exception] { a.join(b, lit(1) === lit(1)).collect() }
      assert(e.getMessage != null && e.getMessage.contains("cartesian guard"),
        s"expected the guard, got: $e")
      val e2 = intercept[Exception] { a.crossJoin(b).collect() }
      assert(e2.getMessage.contains("cartesian guard"))
      // conditioned joins are untouched
      assert(a.join(b, col("x") === col("y")).count() === 10)
    } finally spark.conf.set("graft.guard.noCartesian", "false")
    // guard off (default): the cross join plans and runs
    assert(a.crossJoin(b).count() === 100)
  }

  test("q26: the banded range join is an EQUI join on buckets, not a nested loop") {
    val p = plan("q26_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"the bucket decomposition must make this a hash join:\n$p")
    assert(p.contains("Join") && p.contains("bkt"), p)
  }

  test("x26: the capstone pipeline joins equi-only and keeps scrub/sample map-side") {
    val p = plan("x26_training_corpus")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    // the final scrub+sample stages must not introduce a shuffle after the
    // contamination join: the operators ABOVE the topmost join (the lines
    // before it in the tree) must be pure Project/Filter — no Exchange
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    val aboveTopJoin = tree.linesIterator.takeWhile(!_.contains("Join")).mkString("\n")
    assert(!aboveTopJoin.contains("Exchange"),
      s"a shuffle appeared above the final join — scrub/sample stopped being map-side:\n$tree")
  }

  test("x24: the salt reaches the FIRST aggregate and is gone by the final one") {
    val p = plan("x24_salted_agg")
    // phase 1 groups by (key, salt); phase 2 groups by key alone — the
    // decomposition that spreads a hot key over 16 reducers (grouping keys
    // live in the formatted plan's detail sections)
    assert(p.contains("__salt"), s"salted partial aggregate missing:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Keys [1]") && l.contains("event_type")),
      s"final combine must group by the key alone:\n$p")
  }

  test("x33: the per-source cap pre-prunes map-side (WindowGroupLimit)") {
    val p = plan("x33_source_cap")
    // the rank-filter must become a WindowGroupLimit so each map task
    // prunes to its local top-20 per source BEFORE the shuffle — the plan
    // that survives one domain being half of a 100 TB crawl
    assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown missing:\n$p")
  }

  test("x32: the LM model joins back via broadcast, never a corpus shuffle on tokens") {
    val p = plan("x32_lm_quality")
    // the only nested loop allowed is the 1-row total fan-in (x27's rollup
    // denominator trick); the vocabulary-sized model must meet the token
    // stream in a BroadcastHashJoin, and nothing may go cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n$p")
  }

  test("x41: the bloom membership test runs BELOW the semi join (scan-level pre-filter)") {
    // expressed as a bitmap JOIN, Catalyst legally reorders the semi join
    // underneath the test and the pre-filter stops pre-filtering — the
    // literal-embedded form must keep the membership filter on the fact
    // scan side of the join, where it cuts the probe stream map-side.
    // (String-order check: AQE wraps the plan tree, so in the printed tree
    // a child prints AFTER its parent — the bloom Filter below the join.)
    val p = Queries.byName("x41_bloom_join").run(spark, sf)
      .queryExecution.executedPlan.toString
    val lines = p.linesIterator.toIndexedSeq
    val joinAt = lines.indexWhere(l => l.contains("LeftSemi"))
    val bloomAt = lines.indexWhere(l => l.contains("Filter") && l.contains("element_at"))
    assert(joinAt >= 0, s"semi join missing:\n$p")
    assert(bloomAt > joinAt, s"bloom test not below the join (filter@$bloomAt, join@$joinAt):\n$p")
  }

  test("x38/x46: centroid and plane tables broadcast; corpus never self-joins") {
    for (name <- Seq("x38_kmeans_embed", "x46_random_projection")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$name shuffled a join that must broadcast:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$name lost its broadcast:\n$p")
    }
  }

  test("x39/x40: layout and curriculum stay one-shuffle (no join operator at all)") {
    for (name <- Seq("x40_curriculum")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
    }
    // x39's bounds row is a 1-row broadcast fan-in; beyond it, no join
    val p39 = plan("x39_zorder_layout")
    assert(!p39.contains("CartesianProduct") && !p39.contains("SortMergeJoin"), p39)
  }

  test("x50: the bucket pass is join-free literal comparisons inside codegen") {
    // the r6 shape: cuts are fetched once (metadata-scale) and pinned as
    // literals, so the corpus-sized assignment scan has NO join operator
    // of any kind and stays inside one WholeStageCodegen span (the r5
    // BroadcastNestedLoopJoin + interpreted higher-order filter() cost
    // ~1.5 s of the query between them)
    val df = Queries.byName("x50_equidepth_histogram").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"x50's final pass grew a join:\n$p")
    assert(!p.contains("ArrayFilter") && !p.contains("LambdaFunction"),
      s"interpreted HOF crept back into x50:\n$p")
    assert(p.contains("*("), s"x50's scan left codegen:\n$p") // '*(n)' = codegen span
    // and no RangePartitioner sampling anywhere — determinism by plan shape
    assert(!p.contains("rangepartitioning"), s"x50 reintroduced sampled range partitioning:\n$p")
  }

  // AQE's toString prints "== Final Plan ==" then "== Initial Plan ==" —
  // scan-count gates must look at the final section only, or every scan
  // double-counts. (Only safe for plans without InMemoryRelation children,
  // whose nested cache print carries its own sections.)
  private def finalSection(p: String): String = {
    val i = p.indexOf("== Initial Plan ==")
    if (i >= 0) p.substring(0, i) else p
  }

  test("x62: the scorecard reads the corpus ONCE (quality kernels ride the scan projection)") {
    val df = Queries.byName("x62_source_scorecard").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"expected 1 corpus scan, got $scans:\n$p")
  }

  test("x58: the tf branch is cached and reused on both sides, top-k is TakeOrdered") {
    val df = Queries.byName("x58_bm25_retrieval").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // both the idf derivation and the score join must read the SAME cache
    // (two InMemoryTableScans) — a second FileScan of the corpus means the
    // branch was re-planned from the scan
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      s"tf cache not reused by both branches:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-50 materialized a global sort:\n$p")
  }

  test("x59/x56: pair consumers read the corpus once, through the melted-ends broadcast") {
    for (name <- Seq("x59_source_dup_matrix", "x56_split_contamination")) {
      val df = Queries.byName(name).run(spark, sf)
      df.collect()
      val p = finalSection(df.queryExecution.executedPlan.toString)
      // corpus scans read the testdata table; the pair-cache read
      // (target/graft-shared) must not count against the budget
      val corpusScans = p.linesIterator
        .count(l => l.contains("FileScan parquet") && !l.contains("graft-shared"))
      // x59: the single source-attr scan; x56: attr scan + the per-split
      // denominator scan (a separate aggregation granularity)
      val budget = if (name.startsWith("x59")) 1 else 2
      assert(corpusScans <= budget, s"$name corpus scans $corpusScans > $budget:\n$p")
    }
  }

  test("x66: the chunk manifest is pure map-side — zero exchanges, zero joins") {
    val p = plan("x66_chunk_manifest")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"x66 must stay a single narrow projection:\n$p")
  }

  test("x67: the rank decomposition joins via broadcast, never a corpus sort-merge") {
    val p = plan("x67_shard_planner")
    assert(p.contains("BroadcastHashJoin"), s"histogram must broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x65: the LM scoring join is hash-based, never nested-loop") {
    val p = plan("x65_lm_quality_filter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"postings-vs-LM must be an equi hash join:\n$p")
  }

  test("x71: CDC chunking is pure map-side — zero exchanges, zero joins") {
    val p = plan("x71_cdc_chunking")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"x71 must stay a single narrow projection (the x66 contract):\n$p")
  }

  test("x72: the waterfill planner aggregates the corpus once; all else is metadata-scale") {
    val p = plan("x72_mixture_waterfill")
    // one corpus scan feeding one partial+final aggregate pair; the
    // |sources|-row global windows after it must not re-touch the table
    // (a self-join formulation re-ran the scan once per derived scalar)
    assert(p.linesIterator.count(_.matches(".*\\(\\d+\\) Scan parquet.*")) == 1,
      s"x72 must scan documents exactly once:\n$p")
    assert(!p.contains("Join"),
      s"the pivot search must be windows over the tiny frame, not joins:\n$p")
  }

  test("x75: sessionization shuffles the log once — windows and agg share the user_id partitioning") {
    val p = plan("x75_session_stats")
    assert(p.linesIterator.count(_.matches(".*\\(\\d+\\) Exchange.*")) == 1,
      s"lag + running break-count + per-session agg must all ride ONE user_id exchange:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x76: packing has no corpus-wide single-partition window; bucket base joins broadcast") {
    val p = plan("x76_pack_manifest")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the bucket-base cumsum must broadcast back, never sort-merge:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the only empty-partitionBy window may sit above the bucket AGGREGATE
    // (bucket-count-sized), never directly above the doc-level frame: the
    // doc-level window must carry the bkt partition key
    assert(p.contains("windowspecdefinition(bkt"),
      s"the per-doc running sum must be partitioned by bucket:\n$p")
  }

  test("x78: one corpus scan; the size grid joins off-corpus") {
    val p = plan("x78_vocab_coverage")
    assert(p.linesIterator.count(_.matches(".*\\(\\d+\\) Scan parquet.*")) == 1,
      s"x78 must scan documents exactly once:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x79: the KS grid never re-runs the corpus aggregation (persisted branch point)") {
    val p = plan("x79_length_drift_ks")
    // all four consumers must read the cached (source, len, c) frame:
    // the parquet scan appears only inside the single InMemoryRelation
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"the branch point must be persisted:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x77: pagerank's final frame is a persisted-RDD leaf — no cross-round lineage") {
    val p = plan("x77_dup_pagerank")
    assert(p.contains("Scan ExistingRDD"),
      s"each round must re-enter SQL through a leaf (the x17 discipline):\n$p")
    assert(!p.contains("Scan parquet"),
      s"the final plan must not reach back to the parquet scans:\n$p")
  }

  test("x74: the novelty join reuses the span-postings exchange (one corpus shuffle)") {
    val df = Queries.byName("x74_span_novelty").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.contains("ReusedExchange") ||
      p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"postings must shuffle once and be reused for the join-back:\n$p")
  }

  test("x82: scoring is map-side against the pinned LM — no join, distributed top-k") {
    val df = Queries.byName("x82_dsir_select").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(!p.contains("Join"),
      s"the 10k-entry LM must be a literal lookup, never a join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-200 must be a distributed top-k, not a global sort:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 1,
      s"the scoring pass reads the corpus once:\n$p")
  }

  test("x81: the matvec round is one scan + one 64-key aggregation, iterate pinned as literal") {
    // audit ONE round's plan: build it exactly as x81 does internally
    val embq = graft.operators.Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "transform(cast(embedding as array<double>), x -> cast(round(x * 1000000, 0) as bigint)) as q")
    val vlit = array((0 until 64).map(_ => lit(1000000L)): _*)
    val round1 = embq
      .withColumn("s", aggregate(zip_with(col("q"), vlit, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("sp", expr("s div 1000000"))
      .select(col("sp"), posexplode(col("q")).as(Seq("dim", "e")))
      .groupBy(col("dim")).agg(sum(col("e") * col("sp")).as("w"))
    val p = round1.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1,
      s"a power-iteration round must scan the embeddings exactly once:\n$p")
    assert(!p.contains("Join"), s"the iterate must enter as a literal, never a join:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"the 64-key aggregation must map-side combine:\n$p")
  }

  test("x91: the blocklist gate is a pure map — no Exchange, no Join, one scan") {
    val p = plan("x91_blocklist_filter")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"x91 must be a single map-side pass (the list is a literal):\n$p")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) === 1, p)
    // only doc_id and text leave the scan
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"), readSchema)
  }

  test("x93: the prefix join is all equi-joins — no nested loop anywhere") {
    val p = plan("x93_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering must never fall back to all-pairs:\n$p")
    // the candidate self-join meets on the shingle hash (an equi key)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("x99: featurization is one scan + one map-side-combined aggregation") {
    val p = plan("x99_feature_hashing")
    assert(!p.contains("Join"), s"feature hashing must not join anything:\n$p")
    assert(p.linesIterator.count(_.matches(""".*\(\d+\) Exchange.*""")) === 1,
      s"exactly the per-doc aggregation shuffle:\n$p")
    assert(p.contains("partial_"), s"the 17 sums must map-side combine:\n$p")
  }

  test("x90: the encode joins the vocab memo broadcast — the corpus never shuffles") {
    val p = plan("x90_bpe_encode")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the trained word table must broadcast at test scale:\n$p")
    // the corpus side reaches the final agg without a pre-join shuffle:
    // the only hashpartitioning Exchange is the per-doc aggregation
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"encode must shuffle only for the per-doc aggregation:\n$p")
  }

  test("q38: the diff is ONE keyed full-outer join — no nested loop, pruned scans") {
    val p = plan("q38_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("FullOuter"), s"the diff must be a full-outer join:\n$p")
    // tree lines look like "+- SortMergeJoin FullOuter (12)"
    assert(p.linesIterator.count(_.matches(""".*[+:]- \w*Join .*\(\d+\)\s*""")) === 1,
      s"exactly one join node in the diff:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_custkey"),
      s"only key + price may leave the scan:\n$readSchema")
  }

  test("x102: codebooks broadcast; argmins aggregate (no Window operator anywhere)") {
    val p = plan("x102_pq_codebook")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the k x 8 x 8 codebooks must broadcast against the corpus:\n$p")
    assert(!p.contains("Window"),
      s"argmin must be a min-struct aggregation, not a row_number window:\n$p")
    assert(p.contains("partial_min"),
      s"the argmin aggregation must combine map-side:\n$p")
  }

  test("x103: the scorecard engine never goes quadratic") {
    val p = plan("x103_sketch_scorecard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"truth is inverted-index, candidates are banded — no all-pairs:\n$p")
  }

  test("q39: the churn-sized feed broadcasts into the anti join — the base never shuffles for it") {
    val p = plan("q39_merge_apply")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"untouched rows must pass through a broadcast anti join:\n$p")
  }

  test("x110: dirty-set joins broadcast — untouched index rows are never re-aggregated") {
    val p = plan("x110_ivm_dedup_index")
    assert(p.contains("LeftAnti"), s"clean rows must pass through an anti join:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"both the anti (clean) and semi (dirty recompute) joins must broadcast the churn-sized dirty set:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-vs-corpus shuffle join belongs in incremental maintenance:\n$p")
  }

  test("x105: the corruption manifest reuses ONE doc-keyed exchange for window + reassembly") {
    val p = plan("x105_span_corruption")
    assert(!p.contains("Join"), s"span corruption must not join anything:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"the sentinel window and the reassembly aggregation share the doc_id partitioning:\n$p")
  }

  test("x107: the mixture planner aggregates the corpus once; windows ride the sources frame") {
    val p = plan("x107_temperature_mixture")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"one corpus scan only:\n$p")
    assert(!p.contains("Join"), s"normalization must be windows over the tiny frame, not joins:\n$p")
  }

  test("x111: attribution never windows the event log — one keyed join, one aggregation") {
    val p = plan("x111_touch_attribution")
    assert(!p.contains("Window"), s"struct extremes replace rank windows:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the 48h predicate is residual on the user_id equi join:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      s"the struct extremes must combine map-side:\n$p")
  }

  test("x116: the privacy audit is two aggregations over ONE corpus scan — no joins, no windows") {
    val df = Queries.byName("x116_k_anonymity").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1, s"one scan:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), s"aggregation-only plan:\n$p")
  }

  test("x117: the A/B readout is ONE corpus scan with map-side-combined moments") {
    // the finisher moved driver-side (r9, exact BigInt over the k-row
    // moment frame) — the distributed property to gate lives in
    // x117Moments, the frame the finisher collects
    val df = Queries.x117Moments(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1, s"one scan:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), s"aggregation-only plan:\n$p")
    assert(p.contains("partial_sum"), s"the six conditional moments combine map-side:\n$p")
  }

  test("x119: the erasure cascade joins lineitem via BROADCAST of the erased-order delta") {
    val df = Queries.byName("x119_erasure_audit").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"),
      s"the delta-sized erased-order set must broadcast against lineitem:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-vs-corpus shuffle join in the deletion plan:\n$p")
  }

  test("x122: both top-100s are TakeOrdered, the query vector attaches as a 1-row broadcast") {
    val df = Queries.byName("x122_hybrid_rrf").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, never a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row query embedding must broadcast onto the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the tf frame must be cached and reused by the df/idf and score branches:\n$p")
    spark.catalog.clearCache()
  }

  test("x123: comparisons come from an ORDER-KEYED join; pair matrix and wins are cached across MM rounds") {
    // the returned frame reads only the last round's leaf, so the cache
    // check runs on each MM round's localCheckpoint plan
    val rounds = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint")
          rounds.synchronized { rounds += finalSection(qe.executedPlan.toString) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Queries.byName("x123_bradley_terry").run(spark, sf).collect()
      org.apache.spark.GraftTestProbes.flushListenerBus(spark.sparkContext)
      val all = rounds.synchronized(rounds.toList)
      assert(all.size === 4, s"one localCheckpoint per MM round:\n${all.mkString("\n===\n")}")
      all.foreach { p =>
        assert(!p.contains("CartesianProduct"),
          s"the lineitem self-join must stay keyed on l_orderkey:\n$p")
        assert(p.contains("InMemoryTableScan"),
          s"sym/base must be cached — each MM round re-reads them, not the corpus:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
    spark.catalog.clearCache()
    // the MM rounds' persisted-RDD leaves are NOT catalog-tracked
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("x126: signatures stay map-side; the pair melt broadcasts; no cartesian anywhere") {
    val df = Queries.byName("x126_minhash_scorecard").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"),
      s"pairEnds must broadcast the pair-rate melt onto the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("x129: the corpus is scanned once; quintile windows ride the user-feature frame") {
    val df = Queries.byName("x129_rfm_features").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"events must be read once, got $scans scans:\n$p")
    assert(p.contains("Window"), s"the ntile windows must sit on the aggregated frame:\n$p")
  }

  test("x130: the corpus postings semi-filter by BROADCAST delta shingles; the relabel map broadcasts") {
    val df = Queries.byName("x130_ivm_components").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"delta-shingle semi filter and the old→new label map must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("x130: past the broadcast cap the delta prune degrades to the x41 Bloom filter, output-identical") {
    // the r8 size gate: a production-sized delta cannot broadcast its
    // exact distinct shingle set (corpus-proportional, tens of GB at a
    // 10% delta of 100 TB) — the prune must fall back to the shared
    // distributed Bloom filter (O(mBits) to ship) and, because the
    // candidate join on "s" is itself the exact filter, the OUTPUT must
    // be bit-identical to the broadcast path's.
    val expected = Queries.byName("x130_ivm_components").run(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.conf.set("spark.graft.dedup.broadcastShingleCap", "0")
    try {
      val df = Queries.byName("x130_ivm_components").run(spark, sf)
      val got = df.collect().toSeq
      assert(got === expected, "Bloom path must be output-identical to the broadcast path")
      val p = df.queryExecution.executedPlan.toString
      val lines = p.linesIterator.toIndexedSeq
      // the membership test (element_at over the literal word array) must
      // sit in a Filter on the corpus-postings side — scan-level, pre-join
      assert(lines.exists(l => l.contains("Filter") && l.contains("element_at")),
        s"bloom membership filter missing from the fallback plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    } finally {
      spark.conf.unset("spark.graft.dedup.broadcastShingleCap")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  test("q6b: the planner strategy emits AsofJoinExec with stock exchanges+sorts beneath") {
    val df = Queries.byName("q6b_asof_custom").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"),
      s"the injected strategy must plan the custom exec:\n$p")
    assert(p.contains("Sort "), s"EnsureRequirements must insert the (key, time) sorts:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"both sides must hash-cluster on the key:\n$p")
    assert(!p.contains("Window"), s"no window machinery in the custom path:\n$p")
  }

  test("q44: under the delta cap every delta leg broadcasts; the base tables never re-shuffle against a delta") {
    // this shape is CONDITIONAL on the size gate: it holds only while
    // the deltas fit spark.graft.ivm.broadcastDeltaCap (the default here)
    val df = Queries.byName("q44_ivm_join").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    // 3 delta legs, each a BroadcastHashJoin (the base join may also
    // broadcast at this SF — require at least the 3 delta broadcasts)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"delta legs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q44: past the delta cap the legs degrade to shuffle hash joins, output-identical") {
    // the r9 size gate (the x130 recipe applied to the IVM join): a 10%
    // residue-class delta of a 100 TB corpus is terabytes — over Spark's
    // 8 GB broadcast hard cap — so past spark.graft.ivm.broadcastDeltaCap
    // each delta leg must become a shuffle hash join (still
    // delta-proportional: the base never joins the base) and the
    // maintained view must be bit-identical to the broadcast path's.
    val expected = Queries.byName("q44_ivm_join").run(spark, sf)
      .orderBy("c_mktsegment").collect().toSeq
    spark.conf.set("spark.graft.ivm.broadcastDeltaCap", "0")
    try {
      val df = Queries.byName("q44_ivm_join").run(spark, sf)
      val got = df.orderBy("c_mktsegment").collect().toSeq
      assert(got === expected, "shuffle-hash path must be output-identical to the broadcast path")
      val p = finalSection(df.queryExecution.executedPlan.toString)
      assert(p.linesIterator.count(_.contains("ShuffledHashJoin")) >= 3,
        s"all three delta legs must plan as shuffle hash joins past the cap:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"no cartesian/nested-loop:\n$p")
    } finally spark.conf.unset("spark.graft.ivm.broadcastDeltaCap")
  }

  test("x135: past the test cap the audit routes through the IVF index — no corpus-proportional broadcast") {
    // the r9 size gate: the test split is 10% of the corpus, so its
    // broadcast is conf-bounded; past spark.graft.splitleak.broadcastTestCap
    // the audit probes x14's own IVF cells and re-ranks exactly (the x29
    // discipline). The routed plan must not nested-loop anything — the
    // only broadcast allowed is the k-row centroid frame.
    spark.conf.set("spark.graft.splitleak.broadcastTestCap", "0")
    try {
      val df = Queries.byName("x135_semantic_split_leak").run(spark, sf)
      df.collect()
      val p = finalSection(df.queryExecution.executedPlan.toString)
      assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
      // the only nested-loop expansions allowed are the two k-row (16)
      // centroid-frame broadcasts (train×cents in ivfAssigned, test×cents
      // in the probe ranking) — the exact leg's test-side nested loop is gone
      assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2,
        s"only the two bounded centroid expansions may nested-loop:\n$p")
      // the pair frame must come from the probed-cell EQUI join on cent_id
      assert(p.linesIterator.exists(l => l.contains("Join [cent_id")),
        s"the probe equi-join on cent_id is missing:\n$p")
      assert(p.contains("Window"), s"the centroid-rank probe window is missing:\n$p")
    } finally {
      spark.conf.unset("spark.graft.splitleak.broadcastTestCap")
      spark.catalog.clearCache()
    }
  }

  test("gatedBroadcast: q39/x110/x119 degrade to shuffle hash joins past their caps, output-identical") {
    // the r9 sweep found three more forced broadcasts of residue-class
    // (corpus-proportional) frames — the q44/x130 class. Each now routes
    // through the shared gatedBroadcast; at cap 0 the delta side must
    // plan as a shuffle hash join and the output must be bit-identical.
    val cases = Seq(
      ("q39_merge_apply", "spark.graft.merge.broadcastFeedCap", "o_orderkey"),
      ("x110_ivm_dedup_index", "spark.graft.dedup.broadcastDirtyCap", "h"),
      ("x119_erasure_audit", "spark.graft.erasure.broadcastSubjectCap", "tbl"))
    cases.foreach { case (name, conf, sortCol) =>
      val expected = Queries.byName(name).run(spark, sf).orderBy(sortCol).collect().toSeq
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.conf.set(conf, "0")
      try {
        val df = Queries.byName(name).run(spark, sf)
        assert(df.orderBy(sortCol).collect().toSeq === expected,
          s"$name: shuffle-hash path must be output-identical")
        val p = finalSection(df.queryExecution.executedPlan.toString)
        assert(p.contains("ShuffledHashJoin"),
          s"$name: the gated side must plan as a shuffle hash join past the cap:\n$p")
      } finally {
        spark.conf.unset(conf)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
  }

  test("eagerFinish: no converted operator returns a plan pinned to an unreleased cache") {
    // the r10 structural form of the eager-release conversions: after a
    // converted query materializes, the ONLY persisted RDDs allowed to
    // remain are its own localCheckpoint blocks (which back the returned
    // frame) — every operator-persisted intermediate must be gone.
    // x141 is the r9 verdict's named holdout (two corpus-scale frames).
    val converted = Seq("x141_span_ladder", "x137_conformal_gate",
      "x143_ivf_probe_ladder", "x148_conformal_proper", "x149_ivf_delta_add")
    for (name <- converted) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val df = Queries.byName(name).run(spark, sf)
      df.collect()
      val leaked = spark.sparkContext.getPersistentRDDs.values
        .filterNot(org.apache.spark.GraftTestProbes.isLocallyCheckpointed)
      assert(leaked.isEmpty,
        s"$name leaves persisted intermediates: ${leaked.map(_.name).mkString(", ")}")
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("q19: the default plan is the distinct-value order-statistic selection — no value-buffering Percentile aggregate") {
    // the value-buffering `percentile` aggregate materializes every raw
    // value of a group in ONE task's buffer — the r9 verdict's last
    // single-task-memory scale-killer. Under the default conf the plan
    // must be x50's distinct-value histogram shape instead: a Window
    // cumulative rank over distinct values, zero Percentile aggregates.
    val df = Queries.byName("q19_percentiles").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("percentile("),
      s"no value-buffering Percentile aggregate may appear in the default plan:\n$p")
    assert(p.contains("Window"),
      s"the distinct-value cumulative-rank window is missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian/nested-loop:\n$p")
  }

  test("q19: the buffered path (cap = MAX) is output-identical to the selection path") {
    // threshold-flip identity: the selection path replicates Spark's
    // Percentile evaluator bit-for-bit (position = (n−1)·p, linear
    // interpolation between the floor/ceil order statistics), so forcing
    // the legacy buffered aggregate must reproduce the exact same rows.
    val expected = Queries.byName("q19_percentiles").run(spark, sf).collect().toSeq
    spark.conf.set("spark.graft.percentile.bufferCap", Long.MaxValue.toString)
    try {
      val df = Queries.byName("q19_percentiles").run(spark, sf)
      assert(df.queryExecution.executedPlan.toString.contains("percentile("),
        "above the cap the plan must use the buffered Percentile aggregate (the path under test)")
      assert(df.collect().toSeq === expected,
        "buffered and selection paths must emit identical rows")
    } finally spark.conf.unset("spark.graft.percentile.bufferCap")
  }

  test("x133: one corpus scan; totals join back via broadcast") {
    val df = Queries.byName("x133_target_encoding").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"events must be scanned once:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |categories|-row totals frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-level shuffle join:\n$p")
  }

  test("x134: the skew audit is aggregation-only — no join operator anywhere") {
    val p = plan("x134_skew_audit")
    assert(!p.contains("Join"), s"the audit must never join:\n$p")
  }

  test("x132: candidate pairs come from the block equi-join; the length bound prunes before levenshtein") {
    val df = Queries.byName("x132_entity_blocking").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must be an equi join:\n$p")
    assert(p.contains("levenshtein"), s"thresholded levenshtein missing:\n$p")
  }

  test("asof: EnsureRequirements co-partitions a mispartitioned right side onto the key") {
    // the operator's correctness depends on stock Spark reacting to the
    // declared requiredChildDistribution: hand it a right side that
    // arrives hash-partitioned on the WRONG column and prove the planner
    // inserts key-clustered exchanges on both sides (plus the (key,
    // time) sorts), and that the merged output is still the as-of answer
    val s = spark; import s.implicits._
    val l = Seq((1L, 10L), (1L, 20L), (2L, 15L), (3L, 9L))
      .toDF("k", "t")
    val r = Seq((1L, 5L, "a"), (1L, 12L, "b"), (2L, 15L, "c"), (2L, 99L, "d"))
      .toDF("rk", "rt", "v")
      .repartition(3, col("v")) // deliberately mispartitioned
    val df = graft.plans.AsofJoin.asof(l, r, "k", "rk", "t", "rt")
    val got = df.collect().map(x =>
      (x.getLong(0), x.getLong(1), Option(x.get(4)).map(_.toString).orNull)).toSet
    assert(got === Set((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c"), (3L, 9L, null)),
      s"merge result wrong under mispartitioned input: $got")
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.contains("AsofJoin"), s"custom exec missing:\n$p")
    val exchanges = p.linesIterator.count(l0 =>
      l0.contains("Exchange hashpartitioning(k#") || l0.contains("Exchange hashpartitioning(rk#"))
    assert(exchanges === 2,
      s"both sides must re-cluster on the key (got $exchanges key exchanges):\n$p")
  }

  test("asof: nullable key/time attributes get IsNotNull filters at analysis time") {
    val s = spark; import s.implicits._
    // Option-typed columns make nullable attributes; null key/time rows
    // must be EXCLUDED (both sides), never reach the merge comparisons
    val l = Seq((Option(1L), Option(10L)), (None: Option[Long], Option(20L)),
      (Option(2L), None: Option[Long])).toDF("k", "t")
    val r = Seq((Option(1L), Option(5L), "a"), (None: Option[Long], Option(1L), "x"),
      (Option(1L), None: Option[Long], "y")).toDF("rk", "rt", "v")
    val df = graft.plans.AsofJoin.asof(l, r, "k", "rk", "t", "rt")
    val got = df.collect().map(x =>
      (x.getLong(0), x.getLong(1), Option(x.get(4)).map(_.toString).orNull)).toSet
    assert(got === Set((1L, 10L, "a")),
      s"null key/time rows must drop on both sides: $got")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("isnotnull(k#") && analyzed.contains("isnotnull(rk#"),
      s"IsNotNull guards missing from the analyzed plan:\n$analyzed")
  }

  test("x124: the midpoint split is PUSHED to the events scan; the predictor broadcasts") {
    val df = Queries.byName("x124_markov_eval").run(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id")
      || p.contains("PushedFilters: [GreaterThan(event_id"),
      s"test-half bound must reach the parquet scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|-bounded predictor must broadcast onto the test aggregate:\n$p")
  }

  test("x139: both top-20s are TakeOrdered; the corpus is never globally sorted") {
    val p = plan("x139_retrieval_ndcg")
    assert(p.contains("TakeOrderedAndProject"),
      s"ranked/ideal top-20s must be TakeOrderedAndProject, not sort+limit:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"a range-partitioned Exchange means a global corpus sort leaked in:\n$p")
  }

  test("x141: dup spans reach docs via a semi join; no cartesian, no nested loop") {
    // x141 eagerly finishes (r10): the returned frame is checkpointed
    // blocks, so the pipeline's plans must be captured as they EXECUTE at
    // construction — a QueryExecutionListener sees every construction job
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Queries.byName("x141_span_ladder").run(spark, sf).collect()
      org.apache.spark.GraftTestProbes.flushListenerBus(spark.sparkContext)
      val all = plans.synchronized(plans.mkString("\n===\n"))
      assert(all.contains("LeftSemi"), s"the dup-key prune must be a semi join:\n$all")
      assert(!all.contains("CartesianProduct") && !all.contains("BroadcastNestedLoopJoin"),
        s"no pair materialization belongs in the ladder:\n$all")
    } finally spark.listenerManager.unregister(listener)
  }

  test("x140: the vocab-x5 model broadcasts onto the token explode; no nested-loop anywhere") {
    val df = Queries.byName("x140_cv_model_select").run(spark, sf)
    df.collect()
    val p = finalSection(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"),
      s"the (token, fold) model join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop join belongs in the CV pipeline:\n$p")
  }
}
