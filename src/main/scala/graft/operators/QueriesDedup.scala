package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication & pairwise-similarity queries (SURVEY §2.4): exact/
  * near-dup engines (shingle inverted index, MinHash, SimHash, prefix
  * filter), connected components, perceptual image/audio near-dup, and
  * the shared bounded candidate-pair machinery.
  *
  * Split out of the monolithic Queries.scala in r7 (registry unchanged —
  * every member mixes back into [[Queries]], whose self-type these traits
  * require). Members are `private[operators]`; SQL oracles are lazy so
  * cross-trait references are initialization-order-safe.
  */
private[operators] trait QueriesDedup { this: Queries.type =>

  // ---------------------------------------------------------------- X1
  /** Exact dedup, keep min id. The hash is computed BEFORE the groupBy so
    * the shuffle carries 64 hex chars + an id per row, never the full
    * document text (at 100 TB the shuffle IS the cost); grouping on
    * sha256 is content-grouping — a collision needs 2^128 work. */
  private[operators] def x1(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(sha2(col("text"), 256).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  private[operators] lazy val x1Sql =
    """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin

  // ---------------------------------------------------------------- X2
  /** Exact n-gram (3-word shingle) Jaccard near-dup pairs via an
    * inverted-index join: explode shingles → equi-join on shingle →
    * count shared per pair → Jaccard from set sizes. Exact (any pair with
    * jac ≥ 0.5 shares shingles) yet *linear* in postings, never the
    * quadratic all-pairs loop — the shape that survives 100 TB. Single-word
    * tokens are useless here (the synthetic corpus reuses a ~30-word
    * vocabulary, making token-Jaccard ≈ 0.63 for unrelated docs; 3-shingles
    * separate cleanly: near-dups ≥ 0.5, everything else < 0.03). */
  /** doc_id, sh: distinct 3-shingle farmhash set (array<long>, one codegen
    * kernel pass — no interpreted HOF string work), n = |sh|. */
  private[graft] def shingleSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), expr("graft_shingle_hashes(tk, 3)").as("sh"))
      .withColumn("n", size(col("sh")))

  private[operators] def shingled(spark: SparkSession, dir: String): DataFrame =
    shingleSets(Tables.documents(spark, dir))

  /** Shingles with document frequency above this cap are dropped from the
    * candidate-generating POSTINGS: pairs-per-shingle grows quadratically in
    * df, so one corpus-scale stop-shingle would otherwise dominate the whole
    * self-join. Candidates are re-verified EXACTLY on the full shingle sets,
    * so the cap can only change the result for a pair whose EVERY shared
    * shingle is hotter than the cap — at jac ≥ 0.5 that means two documents
    * composed entirely of corpus-stop-shingles. The cap sits far above any
    * df in the test corpora (output provably identical there); at 100 TB it
    * is the knob that bounds the join. */
  private[graft] lazy val shingleDfCap = 1000

  private[operators] def x2(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(shingled(spark, dir))

  /** x2's pair output through [[PipelineCache]]: the pair engine runs ONCE
    * per (session, dir) for its downstream consumers (x56 audit, x59
    * matrix). x2's and x17's own bench entries never read the cache —
    * they stay honest end-to-end runs (the x17/x38 contract). */
  private[operators] def sharedPairs(spark: SparkSession, dir: String): DataFrame =
    PipelineCache.shared(spark, "x2_pairs", dir)(nearDupPairs(shingled(spark, dir)))

  /** Attaches a per-doc attribute (doc_id, v) to BOTH ends of a pair
    * frame with ONE scan of the corpus side: the pair list is melted to
    * (doc_id, end) rows and broadcast onto the attribute scan, then
    * regrouped by pair — the big table is read once and never shuffled
    * (the melt/regroup only move pair-rate-sized rows). Output:
    * (doc_a, doc_b, va, vb). */
  private[operators] def pairEnds(pairs: DataFrame, attr: DataFrame): DataFrame = {
    val melted = pairs.select(explode(array(
        struct(col("doc_a").as("doc_id"), lit("a").as("end"),
          col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_id"), lit("b").as("end"),
          col("doc_a"), col("doc_b")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.end").as("end"),
        col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
    attr.join(broadcast(melted), "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(when(col("end") === "a", col("v"))).as("va"),
        max(when(col("end") === "b", col("v"))).as("vb"))
  }

  /** Exact token-Jaccard near-dup pairs (jac ≥ 0.5) over a (doc_id, sh, n)
    * frame — the shared engine for x2 and the x15 pipeline's near-dedup
    * producer. See [[shingleDfCap]] for the only (documented) approximation
    * at corpus scale. */
  private[graft] def nearDupPairs(shingledDocs: DataFrame, cap: Long = shingleDfCap): DataFrame = {
    // postings carry the 8-byte farmhash of each shingle, not the string:
    // the shuffle is ~4x narrower and the equi-join build side is primitive.
    // (collision odds over ~10^5 distinct shingles are ~1e-11 — the string
    // oracle still matches.) Only docs persists: postings are one explode
    // over the cached shingle sets — recomputing that per consumer is
    // pipelined CPU, while caching it would materialize the widest frame
    // in the query three times over.
    val docs = shingledDocs.persist()
    // set sizes do NOT ride the postings (r6): postings outnumber docs by
    // the shingle count (~430x), so carrying n through the self-join
    // shuffle costs ~430x more bytes than joining the per-doc sizes table
    // onto the SMALL pair output afterwards — measured ~20% of the query
    // locally, and the dominant shuffle at corpus scale
    val sizes = docs.select(col("doc_id"), col("n"))
    val posts = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    // ADAPTIVE df-cap: one metadata-scale scalar (the hottest shingle's
    // document frequency) decides whether stop-shingle handling is needed.
    // Test corpora never trip it, so they run the plain inverted-index
    // plan; a 100 TB corpus with stop-shingles pays the capped path and
    // stays linear instead of quadratic in the hottest posting list.
    val dfs = posts.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val maxDf = Option(dfs.agg(max(col("df"))).head().get(0)).fold(0L)(_.asInstanceOf[Long])
    def pairCounts(p: DataFrame): DataFrame =
      p.select(col("doc_id").as("doc_a"), col("s"))
        .join(p.select(col("doc_id").as("doc_b"), col("s")), "s")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
    if (maxDf <= cap) {
      // no stop-shingles anywhere → every pair count is exact
      pairCounts(posts)
        .withColumn("jac", col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jac"))
    } else {
      val hot = dfs.filter(col("df") > cap).select(col("s"))
      val capped = posts.join(broadcast(hot), Seq("s"), "left_anti").persist()
      // per-doc count of capped-away shingles = n - kept postings
      val nKept = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
      val ncapOf = docs.select(col("doc_id"), col("n"))
        .join(nKept, Seq("doc_id"), "left").na.fill(0, Seq("n_kept"))
        .withColumn("ncap", col("n") - col("n_kept"))
        .select(col("doc_id"), col("ncap"))
      val pairs = pairCounts(capped)
        .join(ncapOf.select(col("doc_id").as("doc_a"), col("ncap").as("ncap_a")), "doc_a")
        .join(ncapOf.select(col("doc_id").as("doc_b"), col("ncap").as("ncap_b")), "doc_b")
        .withColumn("kmax", least(col("ncap_a"), col("ncap_b")))
      // kmax = 0 → no capped shingle could be shared → `inter` is exact
      val exact = pairs.filter(col("kmax") === 0)
        .withColumn("jac", col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jac"))
      // kmax > 0 → true inter ∈ [inter, inter+kmax]; re-verify exactly on
      // the full shingle sets ONLY where the upper bound reaches the
      // threshold — bounded by the documents containing stop-shingles.
      // (A pair whose EVERY shared shingle is capped never surfaces as a
      // candidate: the residual, documented approximation of the cap.)
      val upper = (col("inter") + col("kmax")).cast(DoubleType) /
        (col("na") + col("nb") - col("inter") - col("kmax"))
      val reverify = pairs.filter(col("kmax") > 0 && upper >= 0.5)
        .select(col("doc_a"), col("doc_b"))
        .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("ta"), col("n").as("na")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("tb"), col("n").as("nb")), "doc_b")
        .withColumn("interTrue", size(array_intersect(col("ta"), col("tb"))))
        .withColumn("jac", col("interTrue").cast(DoubleType) / (col("na") + col("nb") - col("interTrue")))
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jac"))
      exact.unionByName(reverify)
    }
  }

  private[operators] lazy val duckShingleSql =
    """SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
      |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)""".stripMargin

  private[operators] lazy val x2Sql =
    s"""WITH s AS ($duckShingleSql),
       |     t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s)
       |SELECT doc_a, doc_b, jac FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |  FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.n, b.n) p
       |WHERE jac >= 0.5""".stripMargin

  // ---------------------------------------------------------------- X3
  /** MinHash + LSH banding near-dup candidates, verified with exact Jaccard.
    * 32 hashes, 8 bands × 4 rows (P[candidate] ≈ 1-(1-s⁴)⁸ — ~0.97 at s=0.7).
    * Shuffle is by band bucket (linear), never quadratic: the 100 TB path.
    * Output shape matches x2 so recall is directly testable. */
  private[operators] def x3(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir).filter(col("n") > 0)
    // 32-way minhash signature over the shingle set (single farmhash pass,
    // then k splitmix permutations in a codegen'd kernel); band per 4-slice.
    val sig = docs.withColumn("sig", expr("graft_minhash(sh, 32)"))
    val docsP = sig.persist() // read 3x: two band sides + the verify join
    val bands = docsP.select(col("doc_id"),
        posexplode(expr("transform(sequence(0, 7), b -> xxhash64(slice(sig, b * 4 + 1, 4)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    // candidate pairs carry only ids through the shuffle — the shingle
    // hash arrays would multiply the exchange size
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(docsP.select(col("doc_id").as("doc_a"), col("sh").as("ta"), col("n").as("na")), "doc_a")
      .join(docsP.select(col("doc_id").as("doc_b"), col("sh").as("tb"), col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jac", col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  // ---------------------------------------------------------------- X4
  /** SimHash signatures + banded Hamming-distance near-dup pairs. The 64-bit
    * signature is computed per-row in one codegen kernel pass (no shuffle);
    * pair candidates come from 4 × 16-bit band buckets (linear shuffle).
    * Threshold hamming ≤ 3 is the standard near-dup cutoff for 64-bit
    * simhash (Manku, Jain, Sarma: "Detecting Near-Duplicates for Web
    * Crawling", WWW'07), and makes banding EXACT by pigeonhole: ≤3
    * differing bits touch at most 3 of the 4 bands, so every qualifying
    * pair shares an intact band — no recall loss. 16-bit bands keep the
    * buckets sparse (65 536 values per band vs 256 for 8-bit bands), which
    * is what keeps the self-join linear-ish as the corpus grows. Token
    * hashes are sha256-based (graft_sha64), which DuckDB can replicate
    * bit-for-bit — so this scale-path query carries a FULL algorithm
    * oracle instead of a rows-only check. */
  /** (doc_id, simhash): the 64-bit signatures — shared by x4 and the
    * x103 scorecard so the corpus is hashed once per consumer chain. */
  private[operators] def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("simhash", expr("graft_simhash(graft_sha64(tk))"))
      .select(col("doc_id"), col("simhash"))

  /** Banded hamming ≤ 3 pairs over a signature frame (x4's engine). */
  private[operators] def simhashPairs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"), col("simhash"),
        posexplode(expr("transform(sequence(0, 3), b -> shiftright(simhash, b * 16) & 65535)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    bands.select(col("doc_id").as("doc_a"), col("simhash").as("sa"), col("band"), col("band_val"))
      .join(bands.select(col("doc_id").as("doc_b"), col("simhash").as("sb"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private[operators] def x4(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(simhashSigs(spark, dir))

  /** The full simhash algorithm in DuckDB: per-token sha256 → first 16 hex
    * chars = the same 64 bits as graft_sha64's big-endian long (bit i = bit
    * (i%4) of hex digit (15 - i/4)); per-bit ±1 majority vote; brute-force
    * hamming over bit lists (the oracle may be quadratic — the engine may
    * not). */
  private[operators] lazy val x4Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |th AS (SELECT doc_id, substr(sha256(t), 1, 16) AS hx FROM tok),
      |tb AS (
      |  SELECT doc_id, i,
      |    ((strpos('0123456789abcdef', substr(hx, CAST(15 - i // 4 AS INT) + 1, 1)) - 1)
      |      // (CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2 AS bit
      |  FROM th, (SELECT unnest(range(64)) AS i)),
      |bits AS (SELECT doc_id, i, (sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) > 0) AS s
      |         FROM tb GROUP BY doc_id, i),
      |sh AS (SELECT doc_id, list(CASE WHEN s THEN 1 ELSE 0 END ORDER BY i) AS bv
      |       FROM bits GROUP BY doc_id)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_filter(range(64), j -> a.bv[j + 1] != b.bv[j + 1])) AS INT) AS hamming
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id) p
      |WHERE hamming <= 3""".stripMargin

  // ---------------------------------------------------------------- X5
  /** Embedding-cosine near-dup pairs (exact, all-pairs baseline; threshold
    * 0.45 — the synthetic corpus has max pairwise cosine ~0.51). Floats are
    * widened to double before the dot product (float×float is exact in
    * double), and cosine is rounded at 6dp — identical across engines. */
  private[operators] def x5(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    // repartition the stream side: a BNLJ inherits the scan's 1-2 file
    // partitions, serializing the O(n^2) pair loop on one core; width
    // follows the session's shuffle parallelism, never a literal
    val l = e.repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val r = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    l.join(r, col("vec_a") < col("vec_b"))
      .withColumn("dot", expr("graft_dot(va, vb)"))
      .withColumn("cos_sim", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.45)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  private[operators] lazy val x5Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings)
      |SELECT vec_a, vec_b, cos_sim FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
      |  FROM e a, e b WHERE a.vec_id < b.vec_id) p
      |WHERE cos_sim >= 0.45""".stripMargin

  // ---------------------------------------------------------------- X17
  /** Connected components over a BIDIRECTIONAL edge list (src, dst):
    * min-label propagation with pointer jumping. Per round, each node
    * takes the min of (its label, its neighbors' labels, its LABEL'S
    * label). The hook step moves the component min one edge per round;
    * the jump step halves every label chain, so convergence is
    * O(log diameter) rounds — on a pathological 64-link mutation chain
    * that is ~8 rounds, not 64 (PropertiesSpec pins it). The jump join is
    * SKIPPED in round 1, where labels haven't compressed and lbl(lbl(u))
    * can never beat the neighbor min — so clique-shaped inputs (the
    * near-dup common case: mutual copies, diameter 1) converge in one
    * round with zero jump overhead. Each round: one equi-join + one
    * aggregation (+ the label self-join from round 2), all linear in
    * |edges|, and ONE driver scalar (changed count) whose action also
    * materializes the round's labels AS A LEAF PLAN. The leaf rebuild is
    * load-bearing, not an optimization: each round references the previous
    * `labels` THREE times (neighbor-min, base, jump), so without lineage
    * truncation the analyzed logical plan grows ~3^rounds — persist()
    * caches data but Spark still renders the FULL plan string per action,
    * which OOMs the driver on multi-round inputs long before the data
    * does. The leaf is a LAZY localCheckpoint (r13): the convergence count
    * is then ONE job that both materializes the round's blocks and reads
    * the scalar, with no InternalRow↔Row codec pass — the r12 x123 lesson
    * applied to the CC kernel shared by x17/x130/x77. localCheckpoint
    * blocks are executor-local and non-recomputable, so
    * spark.graft.reliableLineageCut=true falls back to the persist-based
    * `.rdd` leaf (full lineage, recomputable after executor loss) — the
    * shared [[lineageCut]], as in x123's solver. Returns (labels, rounds). */
  private[graft] def minLabelComponents(edges0: DataFrame): (DataFrame, Int) = {
    val edges = edges0.toDF("src", "dst").persist()
    // round 0 fused into initialization: label = min(self, direct neighbors)
    val labels0 = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl")).persist()
    var labels = labels0
    // handle to the previous round's materialization so each round can
    // free EXACTLY its predecessor — otherwise every round's cache leaks
    // for the life of the query
    var releasePrev: () => Unit = () => { labels0.unpersist(); () }
    var changed = true
    var rounds = 0
    while (changed && rounds < 20) {
      val nbrMin = edges.join(labels.select(col("src").as("dst"), col("lbl")), "dst")
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val base = labels.join(nbrMin, Seq("src"), "left")
      val jumped =
        if (rounds == 0) base.withColumn("jlbl", col("lbl"))
        else base.join(
          labels.select(col("src").as("lbl"), col("lbl").as("jlbl")), Seq("lbl"), "left")
      val mergedPlan = jumped.select(col("src"), col("lbl"),
        least(col("lbl"),
          coalesce(col("nlbl"), col("lbl")),
          coalesce(col("jlbl"), col("lbl"))).as("lbl2"))
      // lineage cut: the next round's plan starts at this leaf, not at
      // round 0; lazy, the count below materializes it
      val (merged, release) = lineageCut(mergedPlan, eager = false)
      // full count, deliberately: it materializes EVERY partition of the
      // round's leaf AND is the convergence scalar (labels are monotone
      // decreasing, so zero strict drops ⇔ fixpoint — no extra round)
      changed = merged.filter(col("lbl2") < col("lbl")).count() > 0
      releasePrev()
      releasePrev = release
      labels = merged.select(col("src"), col("lbl2").as("lbl"))
      rounds += 1
      if (sys.env.contains("GRAFT_TIMING"))
        println(s"[cc] round $rounds changed=$changed")
    }
    // the final round's RDD stays cached (one row per node — bounded, and
    // the caller's action reads it); edges are no longer needed
    edges.unpersist()
    (labels, rounds)
  }

  /** Near-dup CLUSTER formation: connected components over the jac ≥ 0.5
    * pair graph (x2's exact pairs) via [[minLabelComponents]]. The oracle
    * replays the clustering as a recursive transitive-closure CTE.
    * Training-data use: keep min(doc_id) per cluster, drop the rest — the
    * cluster table IS the dedup decision, auditable. */
  private[operators] def x17(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(shingled(spark, dir)).select(col("doc_a"), col("doc_b"))
    val edges = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val (labels, _) = minLabelComponents(edges)
    labels.select(col("src").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Clusters via recursive transitive closure (termination: UNION is
    * set-semantics), cluster id = min reachable doc including self. */
  private[operators] lazy val x17Sql =
    s"""WITH RECURSIVE s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- X36
  /** Canonical-document selection per near-dup CLUSTER — the retention
    * policy that completes the dedup story (x2/x3 find pairs, x17 forms
    * clusters, THIS decides the survivor): per cluster keep the LONGEST
    * member (least-truncated copy), ties to the lowest id — deterministic,
    * auditable, and the standard alternative to blind keep-min-id when
    * duplicates differ by truncation. One equi-join (clusters × doc
    * metadata) + one max_by aggregation — the same no-window-on-the-corpus
    * shape as x14's assignment. The cluster table comes through
    * [[PipelineCache]]: x17's labels materialize ONCE per (session, dir)
    * and this consumer pays a few-hundred-row scan, not a re-run of the
    * library's most expensive pipeline. */
  private[operators] def x36(spark: SparkSession, dir: String): DataFrame = {
    // (doc_id, cluster_id), only clustered docs
    val clusters = PipelineCache.shared(spark, "x17_labels", dir)(x17(spark, dir))
    clusters
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        // longest member, ties to the lowest id (max of (n_chars, -id))
        max_by(col("doc_id"), struct(col("n_chars"), (lit(0L) - col("doc_id")).as("nid"))).as("keep_id"),
        max(col("n_chars")).as("max_chars"))
      .select(col("cluster_id"), col("keep_id"), col("n_members"), col("max_chars"))
  }

  /** x17's recursive-closure clustering + the same keep-longest policy as
    * a per-cluster ranked window. */
  private[operators] lazy val x36Sql =
    s"""WITH RECURSIVE s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       |c AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |      FROM reach GROUP BY src),
       |m AS (SELECT c.cluster_id, c.doc_id, d.n_chars,
       |        row_number() OVER (PARTITION BY c.cluster_id
       |          ORDER BY d.n_chars DESC, c.doc_id) AS rn,
       |        count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
       |        max(d.n_chars) OVER (PARTITION BY c.cluster_id) AS max_chars
       |      FROM c JOIN documents d USING (doc_id))
       |SELECT cluster_id, doc_id AS keep_id, n_members, max_chars
       |FROM m WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- X30
  /** DELTA near-dedup — the daily-crawl shape: a small batch of NEW
    * documents (1/10 of the corpus standing in for today's arrivals)
    * deduped against the EXISTING corpus index without touching
    * index×index pairs. The postings join is asymmetric: the delta side is
    * tiny, so candidate generation is |delta postings| probing the index's
    * shingle buckets — cost proportional to the DELTA, not the corpus, and
    * at scale the delta's shingle set broadcasts. Same jac ≥ 0.5 exact
    * verification as x2. Output: which new docs are near-dups of which
    * existing doc (keep-the-old decision, auditable). */
  private[operators] def x30(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
    val dPosts = delta.select(col("doc_id").as("new_id"), col("n").as("nn"), explode(col("sh")).as("s"))
    val iPosts = index.select(col("doc_id").as("old_id"), col("n").as("no"), explode(col("sh")).as("s"))
    iPosts.join(dPosts, Seq("s"))
      .groupBy(col("new_id"), col("old_id"), col("nn"), col("no"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac", col("inter").cast(DoubleType) / (col("nn") + col("no") - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("new_id"), col("old_id"), col("jac"))
  }

  private[operators] lazy val x30Sql =
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s)
       |SELECT d.doc_id AS new_id, i.doc_id AS old_id,
       |  CAST(count(*) AS DOUBLE) / (d.n + i.n - count(*)) AS jac
       |FROM t d JOIN t i ON d.s = i.s
       |WHERE d.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
       |GROUP BY d.doc_id, i.doc_id, d.n, i.n
       |HAVING CAST(count(*) AS DOUBLE) / (d.n + i.n - count(*)) >= 0.5""".stripMargin

  // ---------------------------------------------------------------- X34
  /** Cross-document SPAN duplication — the span-level memorization signal
    * (the exact-substring-dedup family à la "Deduplicating Training Data
    * Makes Language Models Better", at 8-token granularity): for each
    * document, what fraction of its distinct 8-gram spans also occurs in
    * some OTHER document. Distinct from x2 (whole-doc similarity), x19
    * (intra-doc repetition), and x9 (corpus-vs-benchmark): this is
    * corpus-vs-itself at span granularity, the signal behind span-level
    * filtering/redaction decisions. Shape: one shingle-kernel pass (8-byte
    * hashes, never span strings, through the shuffle), one df aggregation,
    * one join-back, one per-doc aggregation — all equi, all linear. */
  private[operators] def x34(spark: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr("graft_shingle_hashes(split(text, ' '), 8)")).as("s"))
    // shingle sets are distinct per doc, so count(*) IS the doc frequency
    val dfs = posts.groupBy(col("s")).agg(count(lit(1)).as("df"))
    posts.join(dfs, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared").cast(DoubleType) / col("n_spans"), 6))
      .select(col("doc_id"), col("n_spans"), col("n_shared"), col("shared_ratio"))
  }

  private[operators] lazy val x34Sql =
    """WITH s AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 6, 1)),
      |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
      |                tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      |t AS (SELECT doc_id, unnest(sh) AS s FROM s),
      |dfs AS (SELECT s, count(*) AS df FROM t GROUP BY s)
      |SELECT t.doc_id, count(*) AS n_spans,
      |  CAST(sum(CASE WHEN dfs.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  round(CAST(sum(CASE WHEN dfs.df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS shared_ratio
      |FROM t JOIN dfs USING (s)
      |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- X56
  /** CROSS-SPLIT CONTAMINATION AUDIT — the check that makes x54's split
    * manifest trustworthy: a val/test document whose near-duplicate (the
    * x2 exact jac ≥ 0.5 contract) sits in TRAIN leaks training content
    * into evaluation, silently inflating every metric computed on it.
    * Output is the per-eval-split audit row: doc counts, contaminated
    * counts, and an integer ppm share (exact across engines). Scale
    * shape: split assignment is a map-side hash of the content (x54's
    * bucketing); the pair set comes from the SAME bounded inverted-index
    * engine as x2 (never all-pairs); the directional filter and the
    * distinct are over the PAIR table, which is near-dup-rate sized, not
    * corpus sized. x20 is the external-benchmark cousin; this one guards
    * the pipeline's own split boundary. */
  private[operators] def x56(spark: SparkSession, dir: String): DataFrame = {
    val split = Tables.documents(spark, dir)
      .withColumn("b", pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType), lit(100L)))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("split"))
    val pairs = sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val undirected = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val contaminated = pairEnds(undirected, split.withColumnRenamed("split", "v"))
      .filter(col("va") =!= "train" && col("vb") === "train")
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("isc", lit(1L))
    split.filter(col("split") =!= "train")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("isc"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_ppm", expr("(n_contaminated * 1000000L) div n_docs"))
  }

  private[operators] lazy val x56Sql =
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |sp AS (SELECT doc_id,
       |    CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 80 THEN 'train'
       |         WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b, doc_a FROM p),
       |cont AS (SELECT DISTINCT e.a AS doc_id
       |  FROM e JOIN sp sa ON sa.doc_id = e.a JOIN sp sb ON sb.doc_id = e.b
       |  WHERE sa.split != 'train' AND sb.split = 'train')
       |SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(cont.doc_id) AS BIGINT) AS n_contaminated,
       |  CAST((count(cont.doc_id) * 1000000) // count(*) AS BIGINT) AS contamination_ppm
       |FROM sp LEFT JOIN cont ON sp.doc_id = cont.doc_id
       |WHERE sp.split != 'train' GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- X59
  /** CROSS-SOURCE DUPLICATION MATRIX — corpus provenance analysis: for
    * every unordered source pair, how many near-duplicate document pairs
    * (the x2 jac ≥ 0.5 contract) span them. Mirror-site detection, crawl
    * overlap measurement, and per-source dedup-rate attribution all read
    * off this matrix; `cross_source = false` rows measure intra-source
    * redundancy. Scale shape: the pair set comes from the SAME bounded
    * inverted-index engine as x2/x56 (never all-pairs), and both ends
    * resolve their source through [[pairEnds]] — the corpus-sized
    * doc→source side is scanned ONCE with the melted pair list broadcast
    * onto it, never shuffled; the output is |sources|² at most. */
  private[operators] def x59(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source").as("v"))
    val pairs = sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    pairEnds(pairs, src)
      .select(least(col("va"), col("vb")).as("src_lo"),
        greatest(col("va"), col("vb")).as("src_hi"))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("src_lo") =!= col("src_hi"))
  }

  private[operators] lazy val x59Sql =
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5)
       |SELECT least(da.source, db.source) AS src_lo,
       |  greatest(da.source, db.source) AS src_hi,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  least(da.source, db.source) != greatest(da.source, db.source) AS cross_source
       |FROM p JOIN documents da ON da.doc_id = p.doc_a
       |       JOIN documents db ON db.doc_id = p.doc_b
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- X61
  /** CROSS-DOCUMENT REPEATED-SPAN CATALOG — exact-substring dedup support
    * (dedup at span rather than document granularity): every 8-token span
    * appearing in ≥ 2 distinct documents, with its document frequency and
    * first container. x34 measures per-DOC span sharing; this inverts the
    * index to the span side, producing the catalog a span-removal pass
    * would consume. Two-pass exact (the x57 recipe): pass 1 aggregates on
    * the 8-byte span farmhash (graft_shingle_hashes — codegen, no span
    * strings ever materialize) and keeps hashes seen ≥ 2 times;
    * pass 2 recounts EXACTLY on the span STRING over only the surviving
    * postings (catalog-sized, hash set broadcast as a semi join), so a
    * hash collision can only ADD a candidate that the exact recount then
    * drops — the output is provably the exact string-level catalog. For a
    * corpus whose catalog outgrows the broadcast budget, drop the hint
    * and the same plan runs as a shuffled semi join. */
  private[operators] def x61(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
    // pass 1 is PURE CODEGEN: graft_shingle_hashes emits the farmhash64 of
    // each distinct joined 8-token span directly — no span strings, no
    // interpreted HOF, an 8-byte shuffle
    // persisted: feeds both the df aggregation and the candidate-doc
    // semi join; rows are (id, hash) = 16 B — narrow enough that
    // MEMORY_AND_DISK is safe at any scale, and one scan is saved
    val hashed = docs.select(col("doc_id"),
      explode(expr("graft_shingle_hashes(tk, 8)")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rep = hashed.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    // only docs holding a candidate span need STRINGS — at corpus scale
    // that is the near-dup-rate-sized subset, so the interpreted
    // span-string transform never runs over the full corpus (the hash
    // re-derivation below is the same codegen kernel, scan-cheap)
    val candDocs = hashed.join(broadcast(rep), "h").select(col("doc_id")).distinct()
    val posts = docs.join(broadcast(candDocs), Seq("doc_id"))
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(tk) - 7), i -> concat_ws(' ', slice(tk, i, 8)))"))).as("span"))
      .withColumn("h", expr("farmhash64(span)"))
    posts.join(broadcast(rep), "h")
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  private[operators] lazy val x61Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |s AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 6),
      |       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
      |            tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]))) AS span
      |     FROM d WHERE len(tk) >= 8)
      |SELECT span, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
      |FROM s GROUP BY span HAVING count(*) >= 2""".stripMargin

  // ---------------------------------------------------------------- X68
  /** BOILERPLATE PREFIX DETECTION — the header/template sweep run before
    * near-dup: documents sharing their first 12 tokens verbatim are
    * grouped by the sha256 of that prefix, and every group with ≥2
    * members is reported (site templates, license headers, crawl
    * boilerplate). Complements x61 (which catalogs repeated spans at ANY
    * offset) with the cheap anchored-prefix special case: one map-side
    * hash per document + one hash aggregation — no postings, no
    * positions, no second pass. At 100 TB this is the same plan: the
    * shuffle carries one 32-byte key per document, nothing else. */
  private[operators] def x68(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        sha2(array_join(expr("slice(split(text, ' '), 1, 12)"), " "), 256).as("prefix_hash"))
      .groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") >= 2)

  private[operators] lazy val x68Sql =
    """SELECT sha256(array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')) AS prefix_hash,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  min(doc_id) AS first_doc_id
      |FROM documents GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  // ---------------------------------------------------------------- X71
  /** CONTENT-DEFINED CHUNKING — the LBFS/rsync/FastCDC discipline at token
    * granularity, the OTHER half of the chunking story x66 starts: a token
    * ENDS a chunk iff its own md5 lands in a fixed 1/32 residue class, so
    * boundaries are decided by CONTENT alone. Insert or delete a token and
    * only the chunk it sits in redraws — every other chunk keeps its
    * content hash (x66's fixed stride shifts EVERY downstream chunk, which
    * is why incremental dedup pipelines use CDC). Expected chunk length is
    * the divisor (32 tokens); chunks are content-addressed by sha256 for
    * cross-run/cross-engine identity. Scale shape: like x66 this is a PURE
    * MAP-SIDE op — boundary scan, chunk cut, and content hash all inside
    * ONE codegen'd kernel call (`graft_cdc_chunks`, FastOps.cdcChunks:
    * boundary tested on md5 digest bytes, chunk sha256 fed incrementally,
    * no joined strings; the HOF-lambda spelling of the same plan ran ~17×
    * slower than DuckDB's C md5 loop) — ZERO shuffles (plan-gated), so CDC
    * over 100 TB is embarrassingly parallel, each input split chunking its
    * docs independently. */
  private[operators] def x71(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(expr("graft_cdc_chunks(split(text, ' '), 32)")).as(Seq("ci", "c")))
      .select(col("doc_id"),
        col("ci").cast(IntegerType).as("chunk_idx"),
        col("c.s").as("start_tok"),
        col("c.len").as("chunk_len"),
        col("c.hash").as("chunk_hash"))

  private[operators] lazy val x71Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |p AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM d),
      |b AS (SELECT doc_id, i AS e FROM p
      |      WHERE ('0x' || substr(md5(tk[i]), 1, 4))::BIGINT % 32 = 0),
      |ends AS (SELECT DISTINCT doc_id, e FROM
      |  (SELECT doc_id, e FROM b UNION ALL SELECT doc_id, len(tk) AS e FROM d)),
      |c AS (SELECT doc_id, e,
      |        lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY e) AS s FROM ends)
      |SELECT c.doc_id,
      |  CAST(row_number() OVER (PARTITION BY c.doc_id ORDER BY c.s) - 1 AS INT) AS chunk_idx,
      |  CAST(s AS INT) AS start_tok, CAST(e - s AS INT) AS chunk_len,
      |  sha256(array_to_string(list_slice(tk, s + 1, e), ' ')) AS chunk_hash
      |FROM c JOIN d USING (doc_id) WHERE e > s""".stripMargin

  // ---------------------------------------------------------------- X77
  /** DUPLICATION-GRAPH PAGERANK — centrality over the near-dup graph: a
    * document whose neighbors are themselves heavily duplicated scores
    * higher than one with the same degree in a quiet corner, which is the
    * ranking a dedup reviewer wants (worst offenders first — x62 counts
    * exposure, this weighs it). Classic damped PageRank, FOUR fixed
    * power-iteration rounds on the symmetric x2 pair graph, in pure
    * integer micros: r₀ = 1e6; rᵢ₊₁ = 150 000 + (850 000 · Σᵢₙ r/deg) div
    * 1e6 — every contribution an integer div, so the result is
    * bit-identical across engines and partitionings (no float fixpoint to
    * disagree on). Scale shape: per round ONE equi-join (edges × ranks) +
    * one aggregation, both linear in |edges|; ranks re-enter each round
    * through a persisted-RDD LEAF (the x17 lineage discipline — plan stays
    * O(1) per round at ANY iteration count, no 2^rounds analyzed-plan
    * blowup, and the gate below pins the leaf). The pair graph arrives via
    * [[PipelineCache]] (x2's engine runs once per session/dir). */
  private[operators] def x77(spark: SparkSession, dir: String): DataFrame = {
    val pairs = sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("u", "v").persist()
    val nodes = edges.groupBy(col("u")).agg(count(lit(1)).as("deg")).persist()
    var ranks = nodes.withColumn("r", lit(1000000L))
    var backing: org.apache.spark.rdd.RDD[Row] = null
    for (_ <- 1 to 4) {
      val contrib = edges
        .join(ranks.select(col("u"), expr("r div deg").as("c")), "u")
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      // symmetric graph: every node has in-edges, but keep the left join +
      // coalesce so an asymmetric edge list stays correct
      val nextPlan = nodes
        .join(contrib.withColumnRenamed("v", "u"), Seq("u"), "left")
        .select(col("u"), col("deg"), (lit(150000L) +
          expr("(cast(850000 as bigint) * coalesce(s, cast(0 as bigint))) div 1000000")).as("r"))
      val rdd = nextPlan.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val next = spark.createDataFrame(rdd, nextPlan.schema)
      next.count() // materialize this round; the next one starts from a leaf
      if (backing != null) backing.unpersist()
      backing = rdd
      ranks = next
    }
    edges.unpersist(); nodes.unpersist()
    ranks.select(col("u").as("doc_id"), col("deg").as("degree"),
      col("r").as("rank_micro"))
  }

  private[operators] lazy val x77Sql = {
    val iter = (k: Int) =>
      s"""r$k AS (SELECT n.u, n.deg,
         |  CAST(150000 + (850000 * CAST(coalesce(x.s, 0) AS BIGINT)) // 1000000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.v AS u, CAST(sum(r.r // r.deg) AS BIGINT) AS s
         |    FROM e JOIN r${k - 1} r ON r.u = e.u GROUP BY e.v) x ON n.u = x.u)"""
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |nodes AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
       |r0 AS (SELECT u, deg, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)},
       |${iter(4)}
       |SELECT u AS doc_id, deg AS degree, r AS rank_micro FROM r4""".stripMargin
  }

  // ---------------------------------------------------------------- X89
  /** DEDUP-CLUSTER SIZE PROFILE — the one-page duplication report a
    * curator reads before choosing a retention policy: for every
    * near-dup cluster size, how many clusters exist, how many documents
    * they hold, and how many a keep-one policy would remove; singletons
    * (documents in no cluster) appear as the size-1 row so the table
    * partitions the corpus exactly (Σ n_docs = corpus size — the spec
    * pins it). Composes x17's components via [[PipelineCache]] (the
    * closure runs once per session/dir); everything here is a
    * cluster-count-sized aggregation plus one pinned corpus-count
    * literal. The removable column IS the headline number: expected
    * corpus shrink under keep-longest (x36). */
  private[operators] def x89(spark: SparkSession, dir: String): DataFrame = {
    val clusters = PipelineCache.shared(spark, "x17_labels", dir)(x17(spark, dir))
    val nDocs = Tables.documents(spark, dir).count() // metadata-scale literal
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size")).persist()
    val nClustered = sizes.agg(sum(col("cluster_size"))).collect()(0).getLong(0)
    val multi = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("removable"))
    sizes.unpersist()
    import spark.implicits._
    val singles = Seq((1L, nDocs - nClustered, nDocs - nClustered, 0L))
      .toDF("cluster_size", "n_clusters", "n_docs", "removable")
    multi.unionByName(singles)
  }

  private[operators] lazy val x89Sql =
    s"""WITH RECURSIVE s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       |c AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |      FROM reach GROUP BY src),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM c GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |cl AS (SELECT CAST(coalesce(sum(cluster_size), 0) AS BIGINT) AS n FROM sz)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS removable
       |FROM sz GROUP BY cluster_size
       |UNION ALL
       |SELECT CAST(1 AS BIGINT), tot.n - cl.n, tot.n - cl.n, CAST(0 AS BIGINT)
       |FROM tot, cl""".stripMargin

  // ---------------------------------------------------------------- X92
  /** TRIANGLE COUNT + global clustering coefficient of the near-dup graph
    * — the structural audit that tells a curator whether duplication is
    * CLIQUE-like (template families: triangles everywhere, cc → 1) or
    * CHAIN-like (near-dup drift: few triangles, cc → 0), which decides
    * whether keep-one-per-cluster is safe or will over-delete. Engine
    * algorithm is the degree-oriented count (the MapReduce-era standard):
    * orient every edge from its (degree, id)-smaller endpoint, count
    * directed wedges, close them with a semi join — every triangle
    * counted EXACTLY once and out-degrees bounded by O(√m), so the wedge
    * self-join never explodes on a hub node (THE failure mode of naive
    * triangle counting at scale). The oracle counts the same triangles by
    * canonical a<b<c enumeration — different algorithm, provably the same
    * integer. Wedge total comes off the degree table (Σ d(d−1)/2), cc is
    * integer-micro exact. */
  private[operators] def x92(spark: SparkSession, dir: String): DataFrame = {
    val pairs = sharedPairs(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
    val deg = pairs.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d")).persist()
    val nNodes = deg.count()
    val nEdges = pairs.count()
    val wedges = Option(deg.agg(sum(expr("(d * (d - 1)) div 2"))).head().get(0))
      .fold(0L)(_.asInstanceOf[Long])
    // orient each edge low→high by (degree, id); carry the dst's key so
    // the wedge legs can be ordered without re-joining the degree table
    val e = pairs
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .persist()
    // wedge (u; v, w) with v before w in orientation order closes iff the
    // oriented edge v→w exists — each triangle appears as exactly one wedge
    val nTri = e.as("e1").join(e.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.dd"), col("e1.dst")) < struct(col("e2.dd"), col("e2.dst"))))
      .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
      .join(e.select(col("src"), col("dst")), Seq("src", "dst"), "left_semi")
      .count()
    pairs.unpersist(); deg.unpersist(); e.unpersist()
    val cc = if (wedges > 0) (3L * nTri * 1000000L) / wedges else 0L
    import spark.implicits._
    Seq((nNodes, nEdges, nTri, wedges, cc))
      .toDF("n_nodes", "n_edges", "n_triangles", "n_wedges", "global_cc_micro")
  }

  private[operators] lazy val x92Sql =
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM p),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) u GROUP BY v),
       |tri AS (SELECT CAST(count(*) AS BIGINT) AS nt
       |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |       JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
       |wed AS (SELECT CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT) AS w FROM deg)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       |  tri.nt AS n_triangles, wed.w AS n_wedges,
       |  CASE WHEN wed.w > 0 THEN (3 * tri.nt * 1000000) // wed.w
       |       ELSE CAST(0 AS BIGINT) END AS global_cc_micro
       |FROM tri, wed""".stripMargin

  // ---------------------------------------------------------------- X93
  /** PREFIX-FILTERED exact similarity self-join (AllPairs/PPJoin family)
    * — the third scale path to the SAME exact near-dup contract as x2
    * (inverted index) and x3 (MinHash-LSH), and the only one of the three
    * whose candidate bound is provable rather than probabilistic: order
    * every document's shingles rarest-first (global (df, hash) order); a
    * pair at Jaccard ≥ 0.5 must share ≥ ⌈n/2⌉ shingles, so it MUST
    * collide inside each side's first n − ⌈n/2⌉ + 1 — postings outside
    * the prefix never enter the join at all (~n/2 of them), and because
    * prefixes are rarest-first the hot shingles that dominate x2's
    * posting lists are exactly the ones excluded. Candidates are then
    * verified exactly on the full sets. Oracle = x2's SQL: the output
    * contract is the exact pair set, completeness is structural, and any
    * miss fails the hash gate. */
  private[operators] def x93(spark: SparkSession, dir: String): DataFrame = {
    // the sorted prefix is a PERSISTED column (r8): array_sort is n·log n
    // per doc and the self-join's two sides would otherwise each
    // recompute it over the cached shingle sets — sorting once at
    // materialization halves the map-side CPU of the candidate stage
    val docs = shingled(spark, dir)
      .withColumn("pf", expr(
        "slice(array_sort(sh), 1, size(sh) - ((size(sh) + 1) div 2) + 1)"))
      .persist()
    // prefix under the GLOBAL HASH ORDER, map-side: any total order on
    // shingles preserves the completeness theorem, and ordering by the
    // hash itself turns prefix extraction into array_sort + slice on the
    // already-materialized set — ZERO shuffles before the candidate join
    // (the first draft ranked rarest-first via a global-df join + per-doc
    // window: three extra shuffles, measured ~4× this plan at sf0.1).
    // Rarest-first only prunes better when hot shingles exist; at corpus
    // scale with real stop-shingles, swap the comparator to (df, hash) by
    // joining a broadcast df-rank onto the postings — same contract.
    // postings carry ONLY (doc_id, 8-byte hash) — the x2 lesson: sizes
    // join onto the pair-rate output afterwards, never through the
    // posting shuffle (postings outnumber docs ~n/2 ×)
    val prefix = docs.select(col("doc_id"), explode(col("pf")).as("s"))
    val cands = prefix.select(col("doc_id").as("doc_a"), col("s"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("s")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("ta"), col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("tb"), col("n").as("nb")), "doc_b")
      // AllPairs LENGTH filter: jac ≥ 0.5 forces ⌈n_a/2⌉ ≤ n_b ≤ 2·n_a —
      // provably output-neutral, prunes size-incompatible candidates
      // BEFORE the array intersection (one integer compare per pair)
      .filter(col("nb") * 2 >= col("na") && col("na") * 2 >= col("nb"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jac", col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }


  // ---------------------------------------------------------------- X132
  /** ENTITY-RESOLUTION VIA DELETION-NEIGHBORHOOD BANDING — the
    * record-linkage leg of the dedup family (x1–x5 and x113/x127 dedup
    * DOCUMENTS; this dedups ENTITIES), candidate-generated the FastSS /
    * SymSpell way (Bocek et al. 2007): two strings are within
    * levenshtein ≤ 2 IFF they share a variant obtainable by ≤ 2
    * character deletions from each, so every name explodes into its
    * ≤ 2-deletion neighborhood (1 + L + C(L,2) variants, a CONSTANT
    * ~170× expansion at L = 18) and candidates are pairs sharing a
    * (nation, variant) bucket — the x2 inverted-index shape with a
    * provable candidate bound. This replaces the first-draft
    * nation-block self-join, whose per-block pair count grows
    * QUADRATICALLY with the data (measured 0.97 s → 72 s at 10×, an
    * ~88× blow-up — the blocking-key anti-pattern); deletion banding's
    * candidate volume is proportional to the TRUE near-match volume
    * (measured on the linear-match ER corpus, tools/make_scale_er.py:
    * 4.9 s → 38.6 s at 10× = 7.9×, sublinear). Survivors pay the exact banded
    * 3-arg levenshtein (O(len·d), early exit at 3) after the length
    * lower bound. Output is the per-nation match profile — counts at
    * distance 0/1/2 — which is ALGORITHM-INDEPENDENT (any complete
    * candidate scheme yields identical numbers), so the oracle uses
    * the straightforward quadratic within-nation join: the oracle may
    * be quadratic, the engine may not (the x4/x92 discipline). At
    * 100 TB the variant strings hash to 8 bytes before the exchange
    * and names join back pair-rate (the x2 narrowing); at this SF the
    * strings ride the postings directly. */
  private[operators] def x132(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    // ≤2-deletion neighborhood as 8-byte hashes: the graft_del_hashes
    // kernel (codegen'd, one reused buffer — the first draft's nested
    // interpreted HOF string generation was ~20× slower) keeps the
    // postings (blk, hash, key)-narrow; names join back PAIR-RATE after
    // the distinct (the x2 sizes-never-ride-postings lesson)
    val variants = c
      .withColumn("vh", explode(expr("graft_del_hashes(c_name, 2)")))
      .select(col("c_nationkey").as("blk"), col("vh"), col("c_custkey").as("k"))
    val cands = variants
      .join(variants.select(col("blk"), col("vh"), col("k").as("kb")), Seq("blk", "vh"))
      .filter(col("k") < col("kb"))
      .select(col("blk"), col("k"), col("kb"))
      .distinct()
    cands
      .join(c.select(col("c_custkey").as("k"), col("c_name").as("nm")), "k")
      .join(c.select(col("c_custkey").as("kb"), col("c_name").as("nb")), "kb")
      .filter(abs(length(col("nm")) - length(col("nb"))) <= 2)
      .withColumn("d", expr("levenshtein(nm, nb, 2)")) // -1 encodes "> 2"
      .filter(col("d") >= 0)
      .groupBy(col("blk").as("c_nationkey"))
      .agg(count(lit(1)).as("n_matches"),
        sum(when(col("d") === 0, 1L).otherwise(0L)).as("n_dist0"),
        sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_dist1"),
        sum(when(col("d") === 2, 1L).otherwise(0L)).as("n_dist2"))
  }

  private[operators] lazy val x132Sql =
    """SELECT block AS c_nationkey,
      |  CAST(count(*) AS BIGINT) AS n_matches,
      |  CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist0,
      |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist1,
      |  CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist2
      |FROM (
      |  SELECT a.c_nationkey AS block, levenshtein(a.c_name, b.c_name) AS d
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE abs(len(a.c_name) - len(b.c_name)) <= 2)
      |WHERE d <= 2
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- X94
  /** PERCEPTUAL IMAGE NEAR-DUP — the multimodal leg of the dedup family
    * (x1–x5 are text, x5/x88 embeddings): every image payload reduces to
    * its 64-bit aHash (REAL raster work — BT.601 integer luma over the
    * decoded P6 bytes, 8×8 grid, cross-multiplied integer bit rule:
    * [[MediaCodecs.ahashPpm]]), then near-dups surface through the x4
    * SimHash machinery — 4×16-bit bands bucket the candidates, exact
    * Hamming ≤ 3 verifies them. The band decomposition is COMPLETE at
    * this threshold by pigeonhole (≤ 3 differing bits over 4 bands leave
    * one band identical), so the contract is exact: ALL image pairs
    * within Hamming 3, found without any pairwise pixel comparison. The
    * oracle recomputes the same hash from the same synthesized raster
    * bytes in SQL (the x51 trick) and takes all-pairs Hamming directly —
    * different algorithm, same exact pair set. Scale: hashing is one
    * map-side pass over payload bytes; the bucket join moves 16-bit keys
    * + ids; within-bucket cost is bounded by duplicate-family sizes (the
    * x4 analysis). */
  /** Banded Hamming near-dup over a (doc_id, ahash) frame: 4×16-bit band
    * buckets generate candidates, exact Hamming ≤ maxDist verifies —
    * COMPLETE for maxDist ≤ 3 by pigeonhole. Shared by the image (x94)
    * and audio (x95) perceptual dedup legs. */
  private[operators] def bandedHammingPairs(hashes: DataFrame, maxDist: Int): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("ahash"),
        explode(expr("array(0, 1, 2, 3)")).as("band"))
      // arithmetic >> then mask ≡ logical shift within the 16-bit window
      .withColumn("bv", expr("(ahash >> (band * 16)) & 65535"))
    val cands = bands
      .select(col("band"), col("bv"), col("doc_id").as("doc_a"), col("ahash").as("ha"))
      .join(bands.select(col("band"), col("bv"),
        col("doc_id").as("doc_b"), col("ahash").as("hb")), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb")).distinct()
    cands
      .withColumn("hamming", expr("cast(bit_count(ha ^ hb) as bigint)"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private[operators] def x94(spark: SparkSession, dir: String): DataFrame =
    bandedHammingPairs(
      Multimodal.imageHashes(Multimodal.fromDocuments(spark, dir)).toDF(), 3)

  private[operators] lazy val x94Sql = {
    // pixel p of the synthesized raster reads text bytes (3p, 3p+1, 3p+2)
    // mod L — the x51/x13 synthesis contract
    def byte(k: String) = s"ord(substr(text, CAST(($k) % L AS INT) + 1, 1))"
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS L,
       |    CAST(4 + n_chars % 12 AS INT) AS w,
       |    CAST(4 + (n_chars // 3) % 8 AS INT) AS h
       |  FROM documents WHERE n_chars % 3 = 0),
       |px AS (
       |  SELECT doc_id,
       |    ((p // w) * 8 // h) * 8 + ((p % w) * 8 // w) AS cell,
       |    299 * ${byte("3*p")} + 587 * ${byte("3*p + 1")} + 114 * ${byte("3*p + 2")} AS lum
       |  FROM (SELECT doc_id, text, L, w, h, CAST(unnest(range(w * h)) AS INT) AS p FROM d)),
       |cells AS (SELECT doc_id, cell, CAST(sum(lum) AS BIGINT) AS cs,
       |    CAST(count(*) AS BIGINT) AS cc FROM px GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(sum(cs) AS BIGINT) AS ts,
       |    CAST(sum(cc) AS BIGINT) AS tc FROM cells GROUP BY 1),
       |grid AS (SELECT d.doc_id, g.cell
       |  FROM d, (SELECT CAST(unnest(range(64)) AS INT) AS cell) g),
       |bits AS (SELECT g.doc_id, g.cell,
       |    coalesce(c.cs * t.tc > t.ts * c.cc, FALSE) AS bit
       |  FROM grid g
       |  JOIN tot t ON t.doc_id = g.doc_id
       |  LEFT JOIN cells c ON c.doc_id = g.doc_id AND c.cell = g.cell),
       |hsh AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN bit AND cell < 32
       |      THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN bit AND cell >= 32
       |      THEN (CAST(1 AS BIGINT) << (cell - 32)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits GROUP BY doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
       |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id) q
       |WHERE hamming <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- X95
  /** PERCEPTUAL AUDIO NEAR-DUP — x94's audio twin, closing the multimodal
    * dedup family (text x1–x5, embeddings x5/x88, image x94): every PCM16
    * clip reduces map-side to a 64-bit time-frame energy fingerprint
    * ([[MediaCodecs.ahashWav]] — real RIFF walking, integer sums of
    * squares, cross-multiplied bit rule, zero floats), then the SAME
    * banded-bucket machinery surfaces candidates and exact Hamming ≤ 3
    * verifies them (pigeonhole-complete — see [[bandedHammingPairs]]).
    * The oracle resynthesizes the samples from the doc text (the WAV
    * encode contract), recomputes the fingerprint in SQL, and takes
    * all-pairs Hamming — same exact pair set by a different route. */
  private[operators] def x95(spark: SparkSession, dir: String): DataFrame =
    bandedHammingPairs(
      Multimodal.audioHashes(Multimodal.fromDocuments(spark, dir)).toDF(), 3)

  private[operators] lazy val x95Sql = {
    // sample i of the synthesized clip: ((ord(text[i % L]) - 96) * 256)²
    // energy, mapped onto frame i·64/ns (ns = 200 + n_chars % 800 ≥ 200,
    // so every frame holds ≥ 3 samples — no empty-frame grid needed)
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS L,
       |    CAST(200 + n_chars % 800 AS INT) AS ns
       |  FROM documents WHERE n_chars % 3 = 1),
       |sm AS (
       |  SELECT doc_id, CAST(i * 64 // ns AS INT) AS f,
       |    CAST((ord(substr(text, CAST(i % L AS INT) + 1, 1)) - 96) * 256 AS BIGINT) AS v
       |  FROM (SELECT doc_id, text, L, ns, CAST(unnest(range(ns)) AS INT) AS i FROM d)),
       |fr AS (SELECT doc_id, f, CAST(sum(v * v) AS BIGINT) AS es,
       |    CAST(count(*) AS BIGINT) AS ec FROM sm GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(sum(es) AS BIGINT) AS ts,
       |    CAST(sum(ec) AS BIGINT) AS tc FROM fr GROUP BY 1),
       |bits AS (SELECT f.doc_id, f.f, (f.es * t.tc > t.ts * f.ec) AS bit
       |  FROM fr f JOIN tot t ON t.doc_id = f.doc_id),
       |hsh AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN bit AND f < 32
       |      THEN (CAST(1 AS BIGINT) << f) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN bit AND f >= 32
       |      THEN (CAST(1 AS BIGINT) << (f - 32)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits GROUP BY doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
       |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id) q
       |WHERE hamming <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- X103
  /** SKETCH QUALITY SCORECARD — the audit run before trusting a
    * perceptual-hash dedup path at 100 TB, where exact verification of
    * every candidate is unaffordable and the sketch's error profile IS
    * the dedup contract. Two empirical curves against exact truth:
    * `recall` rows bin the exact near-dup pairs (x2's jac ≥ 0.5 engine)
    * by Jaccard decile and count how many the 64-bit SimHash keeps within
    * hamming ≤ 3 — the measured S-curve to hold against the banding
    * theory; `precision` rows bin the sketch's own candidates (x4's
    * banded pairs) by hamming distance and count how many are true
    * near-dups by exact Jaccard. Engine shape: truth pairs come from the
    * bounded inverted-index engine, candidates from the linear banded
    * self-join — NOTHING quadratic; the audit joins are pairs-sized frames
    * against id-keyed signature/shingle lookups, and the output is ≤ ~14
    * rows. Counts and ppm shares are exact integers. (The ORACLE replays
    * hamming over all pairs quadratically — the oracle may be quadratic,
    * the engine may not: x4's documented asymmetry.) */
  private[operators] def x103(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).persist() // truth pairs + candidate re-score
    // hashed ONCE: the recall lookup and the banded candidate generation
    // both read this frame (x4's standalone query hashes its own)
    val sigs = simhashSigs(spark, dir).persist()
    val recall = nearDupPairs(sh)
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sb")), "doc_b")
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .groupBy(floor(col("jac") * 10).cast(IntegerType).as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("hamming") <= 3).cast(LongType)).as("n_true"))
      .withColumn("part", lit("recall"))
    val prec = simhashPairs(sigs)
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("ta"), col("n").as("na")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("tb"), col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jac", col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .groupBy(col("hamming").cast(IntegerType).as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("jac") >= 0.5).cast(LongType)).as("n_true"))
      .withColumn("part", lit("precision"))
    recall.unionByName(prec)
      .select(col("part"), col("bin"), col("n_pairs"), col("n_true"),
        expr("(n_true * 1000000) div n_pairs").as("true_ppm"))
  }

  private[operators] lazy val x103Sql =
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS sg FROM s),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |      FROM t a JOIN t b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |      GROUP BY a.doc_id, b.doc_id, a.n, b.n),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tkn FROM documents),
       |th AS (SELECT doc_id, substr(sha256(tkn), 1, 16) AS hx FROM tok),
       |tbb AS (
       |  SELECT doc_id, i,
       |    ((strpos('0123456789abcdef', substr(hx, CAST(15 - i // 4 AS INT) + 1, 1)) - 1)
       |      // (CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2 AS bit
       |  FROM th, (SELECT unnest(range(64)) AS i)),
       |bits AS (SELECT doc_id, i, (sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) > 0) AS sb
       |         FROM tbb GROUP BY doc_id, i),
       |shs AS (SELECT doc_id, list(CASE WHEN sb THEN 1 ELSE 0 END ORDER BY i) AS bv
       |        FROM bits GROUP BY doc_id),
       |ham AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_filter(range(64), j -> a.bv[j + 1] != b.bv[j + 1])) AS INT) AS hamming
       |  FROM shs a, shs b WHERE a.doc_id < b.doc_id),
       |recall AS (
       |  SELECT 'recall' AS part, CAST(floor(p.jac * 10) AS INT) AS bin,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN h.hamming <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_true
       |  FROM p JOIN ham h ON h.doc_a = p.doc_a AND h.doc_b = p.doc_b
       |  WHERE p.jac >= 0.5 GROUP BY 2),
       |prec AS (
       |  SELECT 'precision' AS part, h.hamming AS bin,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN coalesce(p.jac, 0) >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_true
       |  FROM ham h LEFT JOIN p ON p.doc_a = h.doc_a AND p.doc_b = h.doc_b
       |  WHERE h.hamming <= 3 GROUP BY 2)
       |SELECT part, bin, n_pairs, n_true, (n_true * 1000000) // n_pairs AS true_ppm
       |FROM (SELECT * FROM recall UNION ALL SELECT * FROM prec) u""".stripMargin

  // ---------------------------------------------------------------- X110
  /** INCREMENTAL VIEW MAINTENANCE OF THE DEDUP INDEX — keep x1's
    * content-hash index current under a CDC delta WITHOUT rebuilding it:
    * the problem every standing 100 TB index has when the corpus churns
    * daily. Counts are distributive, but `keep_id = min(doc_id)` is NOT —
    * deleting the minimum forces a recompute — so the maintenance
    * strategy is the real one (Materialize/DBSP-style): mark the DIRTY
    * groups (content hashes touched by adds or removes — churn-sized),
    * pass every untouched index row through a BROADCAST anti join, and
    * recompute ONLY the dirty groups from the new generation's rows
    * (a broadcast semi join narrows that scan to dirty content). Work is
    * |index| pass-through + O(dirty) recompute — never a full
    * re-aggregation of the corpus. A dirty hash whose copies all vanished
    * drops out of the index naturally. The oracle rebuilds the index from
    * the target generation directly, so the hash equality is the IVM
    * theorem: maintain(index(A), delta) = index(B). Generations mirror
    * q38's arithmetic (base = id%97≠0; adds = id%97=0 ∧ id%89≠0; removes
    * = id%89=0 ⇒ generation B is exactly id%89≠0). */
  private[operators] def x110(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h")).persist()
    val base = docs.filter(col("doc_id") % 97 =!= 0)
    val added = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") % 89 =!= 0)
    val removed = base.filter(col("doc_id") % 89 === 0)
    // the standing index over generation A (in production: the stored artifact)
    val baseIdx = base.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    // the dirty-hash set is delta-proportional = corpus-proportional at a
    // %-sized delta, so its broadcast is SIZE-GATED (the q44/x130 recipe)
    val dirty = gatedBroadcast(spark,
      added.select(col("h")).unionByName(removed.select(col("h"))).distinct(),
      "spark.graft.dedup.broadcastDirtyCap")
    val clean = baseIdx.join(dirty, Seq("h"), "left_anti")
    val newGen = base.filter(col("doc_id") % 89 =!= 0).unionByName(added)
    val rebuilt = newGen.join(dirty, "h") // inner on distinct = semi
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    clean.unionByName(rebuilt)
  }

  /** Full rebuild over generation B — equality is the IVM theorem. */
  private[operators] lazy val x110Sql =
    """SELECT sha256(text) AS h, min(doc_id) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents WHERE doc_id % 89 <> 0
      |GROUP BY text""".stripMargin

  // ---------------------------------------------------------------- X113
  /** NORMALIZATION-UNLOCKED DEDUP — the canonicalization pass run BEFORE
    * exact dedup in every real pipeline: lowercase, strip punctuation,
    * squeeze whitespace, then group by the hash of the CANONICAL text.
    * The synthetic corpus is already canonical (lowercase, single-spaced),
    * so the casing/punctuation noise the pass exists for is PLANTED
    * deterministically (the x94/x95 derived-layer discipline): every 10th
    * document gains a variant with a capitalized first letter, doubled
    * trailing whitespace and a period — invisible noise to a reader,
    * a different byte string to x1. The audit then reports each canonical
    * group with ≥ 2 members: total copies, how many RAW variants it
    * collapses (n_variants > 1 IS the unlock — byte-exact dedup cannot
    * see those), and the content-addressed keeper. Entirely map-side
    * until ONE 32-byte-key aggregation: the canonicalizer is three string
    * kernels riding the scan projection, the shuffle carries two hashes +
    * an id per row — at 100 TB this costs exactly what x1 costs. The
    * canonical rules are engine-portable by construction (character
    * classes, no locale tables), so the oracle replays them glyph for
    * glyph. */
  private[operators] def x113(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val variants = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(upper(substring(col("text"), 1, 1)),
          expr("substring(text, 2)"), lit("  .")).as("text"))
    d.unionByName(variants)
      .select(col("doc_id"), sha2(col("text"), 256).as("raw_hash"),
        sha2(trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")), 256).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_hash")).as("n_variants"),
        min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") >= 2)
  }

  private[operators] lazy val x113Sql =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, upper(substring(text, 1, 1)) ||
      |         substring(text, 2) || '  .'
      |  FROM documents WHERE doc_id % 10 = 0)
      |SELECT sha256(trim(regexp_replace(regexp_replace(
      |         lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_variants,
      |  min(doc_id) AS keep_id
      |FROM all_docs
      |GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  // ---------------------------------------------------------------- X130
  /** INCREMENTAL DEDUP-CLUSTER MAINTENANCE — the graph member of the IVM
    * family (x121 maintains aggregates, x110 the exact-dup index; THIS
    * maintains x17's near-dup components when a delta of documents
    * arrives): the standing base clustering is brought to the new
    * generation by work proportional to the DELTA, and the oracle is
    * x17's full recursive rebuild over base+delta — equality IS the
    * theorem. Algorithm: (1) candidate pairs touching the delta come
    * from postings(delta) ⋈ postings(corpus) — never base×base — and
    * verify exactly on full shingle sets (the x3 discipline); (2) each
    * verified pair lifts to an edge between LABELS (a base doc's
    * component min-id, a new doc's own id), and the label graph —
    * |affected components|-sized, not corpus-sized — runs the same
    * minLabelComponents fixpoint; (3) the resulting old→new label map
    * broadcasts back over the standing assignment. Because every base
    * label is its component's min doc-id, the min over a merged label
    * component is the true min over all merged docs — so the incremental
    * labels are bit-identical to the rebuild's. At 100 TB: delta-sized
    * posting join + affected-component label graph + one broadcast
    * relabel; the base pair graph is never recomputed. */
  private[operators] def x130(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir).filter(col("n") > 0).persist()
    val isDelta = col("doc_id") % 10 === 0
    // standing state (in production: the stored clustering artifact)
    val basePairs = nearDupPairs(docs.filter(!isDelta))
      .select(col("doc_a"), col("doc_b"))
    val baseEdges = basePairs.unionByName(
      basePairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val (baseLabels, _) = minLabelComponents(baseEdges)
    val lbl = baseLabels.select(col("src").as("doc"), col("lbl")).persist()
    // delta-proportional candidate generation + exact verify. The corpus
    // postings are pruned map-side by the delta shingle set before the
    // pair join — the corpus-side scan never shuffles (only postings
    // matching a delta shingle enter the exchange), so the join's
    // shuffle volume is delta-df-proportional, not corpus-sized.
    //
    // SIZE-GATED prune (r8, closing the forced-broadcast scale flaw): a
    // small delta broadcasts its exact distinct shingle set (zero false
    // positives); past the cap — a 10% delta of a 100 TB corpus has a
    // corpus-proportional shingle set, tens of GB, an OOM as a broadcast
    // — the prune becomes the shared x41 distributed Bloom filter
    // (O(mBits) to build and ship regardless of delta size). Bloom false
    // positives are HARMLESS here: the candidate join on "s" against
    // postsDelta below is itself the exact filter (an FP shingle matches
    // no delta posting and yields zero candidates), so both paths are
    // provably output-identical and FPs only cost bounded extra exchange
    // rows (~1% at 10 bits/key, k=4).
    val postsDelta = docs.filter(isDelta)
      .select(col("doc_id"), explode(col("sh")).as("s")).persist()
    val deltaShingles = postsDelta.select(col("s")).distinct()
    val postsAllRaw = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val bcastCap = spark.conf.getOption("spark.graft.dedup.broadcastShingleCap")
      .map(_.toLong).getOrElse(4000000L)
    val nDelta = postsDelta.agg(approx_count_distinct(col("s")).as("n")).head().getLong(0)
    val postsAll =
      if (nDelta <= bcastCap)
        postsAllRaw.join(broadcast(deltaShingles), Seq("s"), "left_semi")
      else {
        // ≥10 bits/key rounded to a power of two, clamped to [2^16, 2^27]
        // (8 KB–16 MB literal; past 2^27 the fpp degrades gracefully —
        // still correct, progressively less pruning)
        val want = java.lang.Long.highestOneBit(math.max(1L, nDelta * 10L)) << 1
        val mBits = math.min(1L << 27, math.max(1L << 16, want)).toInt
        postsAllRaw.filter(bloomTest(bloomBuild(deltaShingles, "s", mBits), mBits)(col("s")))
      }
    val cand = postsDelta.select(col("doc_id").as("d"), col("s"))
      .join(postsAll.select(col("doc_id").as("o"), col("s")), "s")
      .filter(col("d") =!= col("o"))
      .select(least(col("d"), col("o")).as("doc_a"),
        greatest(col("d"), col("o")).as("doc_b"))
      .distinct()
    val verified = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sa"), col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")) >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    // label-graph merge: |affected components|-sized
    val le = verified
      .join(lbl.select(col("doc").as("doc_a"), col("lbl").as("la")), Seq("doc_a"), "left")
      .join(lbl.select(col("doc").as("doc_b"), col("lbl").as("lb")), Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("u"),
        coalesce(col("lb"), col("doc_b")).as("v"))
    val lEdges = le.select(col("u").as("doc_a"), col("v").as("doc_b"))
      .unionByName(le.select(col("v").as("doc_a"), col("u").as("doc_b")))
    val (merged, _) = minLabelComponents(lEdges)
    val lmap = merged.select(col("src").as("old"), col("lbl").as("nw"))
    // broadcast relabel of the standing assignment + the touched/new docs
    val relabeledBase = baseLabels
      .join(broadcast(lmap.select(col("old").as("lbl"), col("nw"))), Seq("lbl"), "left")
      .select(col("src").as("doc_id"), coalesce(col("nw"), col("lbl")).as("cluster_id"))
    val touched = verified.select(col("doc_a").as("doc"))
      .unionByName(verified.select(col("doc_b").as("doc"))).distinct()
      .join(lbl, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("lbl"), col("doc")).as("l0"))
      .join(broadcast(lmap.select(col("old").as("l0"), col("nw"))), Seq("l0"), "left")
      .select(col("doc").as("doc_id"), coalesce(col("nw"), col("l0")).as("cluster_id"))
    relabeledBase.unionByName(touched).distinct()
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- X127
  /** CONTAINMENT (SUBSET) NEAR-DUP JOIN — the dup class Jaccard
    * structurally misses: a short document embedded in a longer one
    * (boilerplate-wrapped reposts, prompt+completion concatenations,
    * augmented copies) can have jac ≈ |A|/|B| ≪ 0.5 while containment
    * C = |A∩B| / min(|A|,|B|) ≈ 1. Emits every pair with C ≥ 0.8 plus
    * which side is the contained one — the keep/drop decision differs
    * from symmetric dedup (you keep the SUPERSET). Both metrics ride the
    * same exact integer counts: cont/jac as half-up ppm rationals, the
    * threshold as the pure integer `5·inter ≥ 4·min(na,nb)`. Shape:
    * x2's inverted-index machinery (8-byte shingle-hash postings,
    * sizes joined onto the pair-rate output, never through the posting
    * shuffle). Honest df-cap note: the x2 cap's completeness argument is
    * WEAKER for containment (a tiny doc of pure stop-shingles is exactly
    * the pathological contained doc), so this query runs uncapped
    * postings and a 100 TB deployment bounds the hot lists by sharding
    * the contained-side candidates instead.
    *
    * Fixture honesty: the synthetic corpus plants only EXACT set-dups
    * (every emitted pair has C = 1, jac = 1 — verified at all three
    * SFs), so the registered query exercises the boundary; the
    * distinctive sub-Jaccard catch (jac < 0.5, C ≥ 0.8) is proven in
    * TrainingOpsSpec on a constructed wrapped-document corpus through
    * the same [[x127Core]]. */
  private[operators] def x127(spark: SparkSession, dir: String): DataFrame =
    x127Core(shingled(spark, dir))

  private[graft] def x127Core(shingledDocs: DataFrame): DataFrame = {
    val docs = shingledDocs.filter(col("n") > 0).persist()
    val sizes = docs.select(col("doc_id"), col("n"))
    val posts = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    posts.select(col("doc_id").as("doc_a"), col("s"))
      .join(posts.select(col("doc_id").as("doc_b"), col("s")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(expr("5 * inter >= 4 * least(na, nb)"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST((2 * inter * 1000000L + least(na, nb)) div (2 * least(na, nb)) AS BIGINT)")
          .as("cont_ppm"),
        expr("CAST((2 * inter * 1000000L + (na + nb - inter)) div (2 * (na + nb - inter)) AS BIGINT)")
          .as("jac_ppm"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")).as("subset_doc"))
  }

  private[operators] lazy val x127Sql =
    s"""WITH s AS MATERIALIZED ($duckShingleSql),
       |t AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS x FROM s
       |                   WHERE len(sh) > 0)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST((2 * count(*) * 1000000 + least(a.n, b.n))
       |       // (2 * least(a.n, b.n)) AS BIGINT) AS cont_ppm,
       |  CAST((2 * count(*) * 1000000 + (a.n + b.n - count(*)))
       |       // (2 * (a.n + b.n - count(*))) AS BIGINT) AS jac_ppm,
       |  CASE WHEN a.n <= b.n THEN a.doc_id ELSE b.doc_id END AS subset_doc
       |FROM t a JOIN t b ON a.x = b.x AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.n, b.n
       |HAVING 5 * count(*) >= 4 * least(a.n, b.n)""".stripMargin

  // ---------------------------------------------------------------- X126
  /** MINHASH ESTIMATOR SCORECARD — x103's MinHash twin, completing the
    * sketch-audit family: for every exact near-dup pair, the 32-component
    * MinHash similarity estimate (matching components / 32) against the
    * exact Jaccard, both as integers — est_ppm = matches·31250 exactly,
    * jac_ppm the half-up rational of the exact intersection counts. The
    * signed per-pair error prices the sketch before anyone trusts a
    * banding threshold built on it (E[matches/32] = J; the scorecard
    * shows the variance at 32 components on REAL near-dup pairs).
    * Component hashes are md5-derived (`min over shingles of
    * int48(md5(i || '_' || shingle))`) so BOTH engines compute the same
    * signatures bit-for-bit — a full-algorithm oracle where x3's kernel
    * minhash gets only a set-equality one. Shape: signatures are a pure
    * map-side expression (32 nested array-min transforms per doc — no
    * explode, no shuffle); the pair list is the shared x2 engine's; both
    * per-pair reductions ride ONE pairEnds melt (struct-valued attach),
    * so the corpus is scanned once and only pair-rate rows move. */
  private[operators] def x126(spark: SparkSession, dir: String): DataFrame = {
    val pairs = sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    // the scorecard audits PAIRS, so the 32-way md5 minhash arithmetic —
    // the query's whole cost, and the cross-engine contract the oracle
    // replays md5-for-md5 — only ever needs the pair-MEMBER docs
    // (dup-rate, the pairEnds class). r9: the corpus-wide sig pass was
    // the bench's top honest row (11 s at sf0.1, ~160 M interpreted
    // md5s); the member semi-filter drops it to the pair rate. Output
    // values are unchanged — sigs of non-members were never read.
    val members = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val sh3 = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .join(broadcast(members), Seq("doc_id"), "left_semi")
      // a doc has a trigram iff it has 3 tokens. Filtering on the tokens,
      // not on size(sh), keeps the shingle lambda out of the predicate
      // Catalyst pushes below the projection and the semi join, where it
      // ran for every document instead of pair members only
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(1, size(tk) - 2),
          |  i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1),
          |              ' ', element_at(tk, i + 2))))""".stripMargin).as("sh"))
      // ONE codegen pass for all 32 components (r12 opt): the interpreted
      // transform(sequence(0,31), i -> array_min(transform(sh, ...))) form
      // paid 1 + 32·|sh| lambda dispatches plus a per-shingle concat
      // allocation per component; the kernel runs the identical md5
      // arithmetic (same digest count — each component is an independently
      // seeded hash, the oracle's per-component contract) in a tight loop.
      .withColumn("sig", expr("graft_md5_minhash_seeded(sh, 32)"))
      .select(col("doc_id"),
        struct(col("sh"), size(col("sh")).as("n"), col("sig")).as("v"))
    pairEnds(pairs, sh3)
      .withColumn("inter", size(array_intersect(col("va.sh"), col("vb.sh"))))
      .withColumn("u", col("va.n") + col("vb.n") - col("inter"))
      .withColumn("jac_ppm",
        expr("CAST((2 * inter * 1000000L + u) div (2 * u) AS BIGINT)"))
      .withColumn("matches", expr(
        "CAST(size(filter(zip_with(va.sig, vb.sig, (x, y) -> x = y), b -> b)) AS BIGINT)"))
      .select(col("doc_a"), col("doc_b"), col("jac_ppm"), col("matches"),
        (col("matches") * 31250).as("est_ppm"),
        (col("matches") * 31250 - col("jac_ppm")).as("err_ppm"))
  }

  private[operators] lazy val x126Sql =
    s"""WITH s AS MATERIALIZED ($duckShingleSql),
       |sg AS MATERIALIZED (SELECT doc_id, sh, len(sh) AS n,
       |    list_transform(range(32), i -> list_min(list_transform(sh,
       |      x -> ('0x' || substr(md5(i::VARCHAR || '_' || x), 1, 12))::BIGINT)))
       |      AS sig
       |  FROM s WHERE len(sh) > 0),
       |t AS MATERIALIZED (SELECT doc_id, n, unnest(sh) AS x FROM sg),
       |pr AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS inter,
       |    CAST(a.n + b.n - count(*) AS BIGINT) AS u
       |  FROM t a JOIN t b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
       |  HAVING 2 * count(*) >= a.n + b.n - count(*))
       |SELECT pr.doc_a, pr.doc_b,
       |  CAST((2 * inter * 1000000 + u) // (2 * u) AS BIGINT) AS jac_ppm,
       |  CAST(list_sum(list_transform(range(1, 33),
       |    k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) AS BIGINT)
       |    AS matches,
       |  CAST(list_sum(list_transform(range(1, 33),
       |    k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) * 31250 AS BIGINT)
       |    AS est_ppm,
       |  CAST(list_sum(list_transform(range(1, 33),
       |    k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END)) * 31250
       |    - (2 * inter * 1000000 + u) // (2 * u) AS BIGINT) AS err_ppm
       |FROM pr JOIN sg sa ON sa.doc_id = pr.doc_a
       |        JOIN sg sb ON sb.doc_id = pr.doc_b""".stripMargin

  // ---------------------------------------------------------------- X142
  /** DEDUP IMPACT REPORT — the governance artifact a dedup run ships
    * with: per SOURCE, what did the near-dup pipeline actually delete,
    * and was it the right material? Composes the family's own decisions
    * (x17 clusters via PipelineCache, x36's keep-longest canon rule) —
    * the report audits the REAL pipeline, not a re-derivation — and
    * joins them against per-doc token counts and the integer quality
    * score (qs27's exact-ppm form of x8's composite). Per source:
    * doc/removal counts, exact removed-token share, and mean quality of
    * kept vs removed docs as half-up ppm — a healthy dedup removes
    * lower-quality-or-equal copies; a source whose removals are
    * HIGHER-quality than its keepers signals a truncation-biased corpus
    * (x36 keeps longest — this report is where that policy gets
    * checked). All-integer output. Scale shape: the removed set is
    * cluster-volume-sized and joins doc-keyed WITHOUT a broadcast hint —
    * dup volume is corpus-proportional at 100 TB (the x130 lesson), so
    * AQE picks the join side; everything else is one map-side scored
    * scan + one |sources|-row aggregation. */
  private[operators] def x142(spark: SparkSession, dir: String): DataFrame = {
    val keep = x36(spark, dir).select(col("cluster_id"), col("keep_id"))
    val clusters = PipelineCache.shared(spark, "x17_labels", dir)(x17(spark, dir))
    val removed = clusters.join(keep, "cluster_id")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit(true).as("removed"))
    val scored = Tables.documents(spark, dir)
      .withColumn("tk", toks(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast(LongType).as("n_tok"),
        size(array_distinct(col("tk"))).cast(LongType).as("u"),
        expr(s"graft_count_in(tk, ${TextConstants.stopwordsArrayExpr})")
          .cast(LongType).as("st"))
      .withColumn("score_ppm",
        expr("((u + n_tok - st) * 2000000 + 2 * n_tok) div (4 * n_tok)"))
    scored.join(removed, Seq("doc_id"), "left")
      .na.fill(false, Seq("removed"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("removed"), col("n_tok")).otherwise(0L)).as("tokens_removed"),
        sum(when(!col("removed"), col("score_ppm")).otherwise(0L)).as("kq"),
        sum(when(col("removed"), col("score_ppm")).otherwise(0L)).as("rq"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("tokens_total"), col("tokens_removed"),
        expr("(2 * tokens_removed * 1000000 + tokens_total) div (2 * tokens_total)")
          .as("removed_share_ppm"),
        expr("""CASE WHEN n_docs > n_removed
               |THEN (2 * kq + (n_docs - n_removed)) div (2 * (n_docs - n_removed))
               |ELSE 0L END""".stripMargin).as("kept_quality_ppm"),
        expr("""CASE WHEN n_removed > 0
               |THEN (2 * rq + n_removed) div (2 * n_removed)
               |ELSE 0L END""".stripMargin).as("removed_quality_ppm"))
  }

  private[operators] lazy val x142Sql =
    s"""WITH RECURSIVE s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       |c AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |      FROM reach GROUP BY src),
       |m AS (SELECT c.cluster_id, c.doc_id,
       |        row_number() OVER (PARTITION BY c.cluster_id
       |          ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |      FROM c JOIN documents d USING (doc_id)),
       |rm AS (SELECT doc_id FROM m WHERE rn > 1),
       |q AS (SELECT doc_id, source,
       |        CAST(len(tk) AS BIGINT) AS n_tok,
       |        ((CAST(len(list_distinct(tk)) AS BIGINT) + len(tk)
       |          - len(list_filter(tk, x -> x IN (${graft.operators.TextConstants.stopwordsSqlList})))) * 2000000
       |         + 2 * len(tk)) // (4 * len(tk)) AS score_ppm
       |      FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents)),
       |j AS (SELECT q.*, (rm.doc_id IS NOT NULL) AS removed
       |      FROM q LEFT JOIN rm USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       |  CAST(sum(CASE WHEN removed THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_removed,
       |  CAST((2 * sum(CASE WHEN removed THEN n_tok ELSE 0 END) * 1000000 + sum(n_tok))
       |       // (2 * sum(n_tok)) AS BIGINT) AS removed_share_ppm,
       |  CAST(CASE WHEN count(*) > sum(CASE WHEN removed THEN 1 ELSE 0 END)
       |       THEN (2 * sum(CASE WHEN NOT removed THEN score_ppm ELSE 0 END)
       |             + (count(*) - sum(CASE WHEN removed THEN 1 ELSE 0 END)))
       |            // (2 * (count(*) - sum(CASE WHEN removed THEN 1 ELSE 0 END)))
       |       ELSE 0 END AS BIGINT) AS kept_quality_ppm,
       |  CAST(CASE WHEN sum(CASE WHEN removed THEN 1 ELSE 0 END) > 0
       |       THEN (2 * sum(CASE WHEN removed THEN score_ppm ELSE 0 END)
       |             + sum(CASE WHEN removed THEN 1 ELSE 0 END))
       |            // (2 * sum(CASE WHEN removed THEN 1 ELSE 0 END))
       |       ELSE 0 END AS BIGINT) AS removed_quality_ppm
       |FROM j GROUP BY source""".stripMargin

  // ---------------------------------------------------------------- X141
  /** EXACT SUBSTRING-CONTAMINATION LADDER — the span-LENGTH signal the
    * fixed-L shingle profile (x34, L=8) cannot give: per document, the
    * longest contiguous token span (dyadic ladder L ∈ {8,16,…,256})
    * shared verbatim with ANY other document. This is the substring-
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499) at power-of-two
    * resolution: a doc whose max shared span is 8 tokens shares an
    * idiom; one sharing 128 tokens embeds a copied passage and is
    * flagged. Why a LADDER, not a suffix array: spans never cross
    * document boundaries, so every candidate key is DOC-LOCAL — all six
    * levels' span keys generate map-side inside the corpus scan (one
    * nested HOF, no doubling joins, no global suffix sort — the
    * suffix-array machinery exists to share work ACROSS overlapping
    * spans, and at 16-byte hashed keys the rescan is cheaper than 8
    * rounds of corpus-wide sort it replaces). Keys are md5 of the exact
    * span text (the x34 hash discipline — the oracle builds the
    * identical string, so both engines agree glyph-for-glyph).
    * Exactness: all-integer output (span lengths, counts, a flag).
    * Scale shape: ONE explode shuffle of (L, key, doc_id) postings —
    * 16B-hash-narrow, ~6× the token count before the map-side distinct
    * — one (L,key)-grouped doc-frequency count (distinct-per-doc makes
    * count(*) the df, x34's trick), the dup set semi-joins back, and
    * the per-doc roll-up is doc-keyed. At 100 TB: the same postings
    * class as x2/x34; no stage holds more than (ladder × corpus
    * tokens) narrow rows, and the dup-hit frame is overlap-rate-sized. */
  private[operators] def x141(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
    // all ladder keys generated doc-locally in ONE codegen pass by the
    // graft_span_ladder kernel: level-8 spans hash via farmhash64 (the
    // only string work), every higher level COMPOSES dyadically from two
    // overlapping half-level hashes — the corpus text is hashed once, not
    // once per level — and the kernel dedups within the doc so the global
    // distinct() shuffle is GONE. (r9 rewrite, driven by the honest
    // noop-timed 100× ladder: the original md5-span-string pipeline
    // measured 998 s, the per-level farmhash re-hash 594 s; dyadic
    // composition removes the per-level re-hash entirely.) The hash is
    // internal — output carries only doc-level spans and counts — so the
    // md5-string oracle still matches; collisions at ~10⁸ keys are the
    // accepted x2/x61 odds.
    val keys = docs
      .select(col("doc_id"), explode(expr("graft_span_ladder(tk)")).as("s"))
      .select(col("doc_id"), col("s.lvl").as("lvl"), col("s.k").as("k"))
      // feeds the df count AND the hit join; released by the eagerFinish
      // below (r10 — the output is corpus-sized but localCheckpoint
      // blocks live on executors, so eager materialization is safe here
      // too; the r9 "cannot release" contract note is obsolete)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = keys.groupBy(col("lvl"), col("k"))
      .agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    val hits = keys.join(dup, Seq("lvl", "k"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK) // overlap-rate-sized; released below
    val perDoc = hits.groupBy(col("doc_id")).agg(max(col("lvl")).as("max_dup_span"))
    val atMax = hits.join(perDoc, "doc_id")
      .filter(col("lvl") === col("max_dup_span"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans_at_max"))
    val out = docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(atMax, Seq("doc_id"), "left")
      .na.fill(0L, Seq("max_dup_span", "n_spans_at_max"))
      .select(col("doc_id"), col("max_dup_span"), col("n_spans_at_max"),
        (col("max_dup_span") >= 64).as("is_contaminated"))
    eagerFinish(out, keys, hits)
  }

  private[operators] lazy val x141Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |lv(lvl) AS (VALUES (8), (16), (32), (64), (128), (256)),
      |pos AS (SELECT doc_id, lvl, tk,
      |          unnest(range(1, len(tk) - lvl + 2)) AS i
      |        FROM d CROSS JOIN lv WHERE len(tk) >= lvl),
      |k AS (SELECT DISTINCT doc_id, lvl,
      |        md5(array_to_string(tk[i:i + lvl - 1], ' ')) AS key
      |      FROM pos),
      |dup AS (SELECT lvl, key FROM k GROUP BY 1, 2 HAVING count(*) >= 2),
      |h AS (SELECT k.doc_id, k.lvl FROM k JOIN dup USING (lvl, key)),
      |pd AS (SELECT doc_id, CAST(max(lvl) AS INT) AS max_dup_span FROM h GROUP BY 1),
      |nm AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_spans_at_max
      |       FROM h JOIN pd ON pd.doc_id = h.doc_id AND h.lvl = pd.max_dup_span
      |       GROUP BY 1)
      |SELECT d.doc_id, coalesce(pd.max_dup_span, 0) AS max_dup_span,
      |  coalesce(nm.n_spans_at_max, 0) AS n_spans_at_max,
      |  coalesce(pd.max_dup_span, 0) >= 64 AS is_contaminated
      |FROM d LEFT JOIN pd USING (doc_id) LEFT JOIN nm USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- X154
  /** DEDUP THRESHOLD-SELECTION CURVE — the number a data lead reads
    * before pinning the near-dup Jaccard cutoff: for each candidate
    * threshold on one ladder (0.5–0.9), how many pairs fire, how many
    * docs are touched, and what the removal would cost in docs and
    * tokens. One pass over the CACHED pair engine ([[sharedPairs]] — the
    * x56/x59 composition discipline; the engine's ≥ 0.5 floor bounds the
    * ladder below), ×5 threshold rows, three bounded aggregations — no
    * per-rung re-run of the pair join and NO per-rung component
    * iteration. Removal semantics are the documented PAIRWISE shadow
    * rule: a doc is dropped iff it is the larger id of ANY surviving pair
    * (doc_a < doc_b by the x2 contract) — the greedy bound a pair list
    * supports without transitive closure; the true clustered removal at
    * the deployed 0.5 cutoff is x17/x36's and x142 reports its cost.
    * Thresholds ride as double literals spelled identically in both
    * engines (jac itself is the x2-gated IEEE value, so ≥ compares
    * bit-identically). Scale shape: everything downstream of the pair
    * frame is pair-rate-sized; token costs join ONE corpus-side scan of
    * (doc_id, n_tokens) against the distinct removed-doc list. */
  private[operators] def x154(spark: SparkSession, dir: String): DataFrame = {
    val thrF = spark.range(1).select(explode(expr(
      """array(named_struct('thr_ppm', 500000L, 'thr', 0.5D),
        |      named_struct('thr_ppm', 600000L, 'thr', 0.6D),
        |      named_struct('thr_ppm', 700000L, 'thr', 0.7D),
        |      named_struct('thr_ppm', 800000L, 'thr', 0.8D),
        |      named_struct('thr_ppm', 900000L, 'thr', 0.9D))""".stripMargin)).as("z"))
      .select(col("z.thr_ppm").as("thr_ppm"), col("z.thr").as("thr"))
    val lad = sharedPairs(spark, dir).crossJoin(broadcast(thrF))
      .filter(col("jac") >= col("thr"))
    val pairStats = lad.groupBy(col("thr_ppm")).agg(count(lit(1)).as("n_pairs"))
    val nAff = lad
      .select(col("thr_ppm"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy(col("thr_ppm")).agg(count(lit(1)).as("n_docs_in_pairs"))
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks(col("text"))).cast(LongType).as("nt"))
    val remStats = lad.select(col("thr_ppm"), col("doc_b").as("doc_id")).distinct()
      .join(tok, "doc_id")
      .groupBy(col("thr_ppm"))
      .agg(count(lit(1)).as("n_removed_pairwise"), sum(col("nt")).as("removed_tokens"))
    thrF.select(col("thr_ppm"))
      .join(pairStats, Seq("thr_ppm"), "left")
      .join(nAff, Seq("thr_ppm"), "left")
      .join(remStats, Seq("thr_ppm"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_in_pairs", "n_removed_pairwise", "removed_tokens"))
      .orderBy(col("thr_ppm"))
  }

  private[operators] lazy val x154Sql =
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM s),
       |p AS (SELECT doc_a, doc_b, jac FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |thr AS (SELECT CAST(thr_ppm AS BIGINT) AS thr_ppm, thr FROM (VALUES
       |    (500000, 0.5), (600000, 0.6), (700000, 0.7),
       |    (800000, 0.8), (900000, 0.9)) AS v(thr_ppm, thr)),
       |lad AS (SELECT thr_ppm, doc_a, doc_b FROM p JOIN thr ON p.jac >= thr.thr),
       |ps AS (SELECT thr_ppm, CAST(count(*) AS BIGINT) AS n_pairs FROM lad GROUP BY 1),
       |aff AS (SELECT thr_ppm, CAST(count(*) AS BIGINT) AS n_docs_in_pairs FROM (
       |    SELECT thr_ppm, doc_a AS d FROM lad UNION SELECT thr_ppm, doc_b FROM lad) u
       |  GROUP BY 1),
       |rem AS (SELECT r.thr_ppm, CAST(count(*) AS BIGINT) AS n_removed_pairwise,
       |    CAST(sum(d.nt) AS BIGINT) AS removed_tokens
       |  FROM (SELECT DISTINCT thr_ppm, doc_b FROM lad) r
       |  JOIN (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |        FROM documents) d ON d.doc_id = r.doc_b
       |  GROUP BY 1)
       |SELECT thr.thr_ppm, coalesce(n_pairs, 0) AS n_pairs,
       |  coalesce(n_docs_in_pairs, 0) AS n_docs_in_pairs,
       |  coalesce(n_removed_pairwise, 0) AS n_removed_pairwise,
       |  coalesce(removed_tokens, 0) AS removed_tokens
       |FROM thr LEFT JOIN ps USING (thr_ppm) LEFT JOIN aff USING (thr_ppm)
       |LEFT JOIN rem USING (thr_ppm)
       |ORDER BY thr.thr_ppm""".stripMargin

  // ---------------------------------------------------------------- X164
  /** DEDUP-INDEX COMPACTION AUDIT — the x158 compaction column extended to
    * the SECOND standing index family: x110 maintains the exact-dedup
    * index (hash → keep_id, n_copies) incrementally, and its removals
    * (the %89 generation-B fixture) are tombstones that sit in the stored
    * postings until a shard rewrites — exactly the ANN index's delete
    * story, so the scheduler input is the same shape: per hash-prefix
    * SHARD (two hex chars = 256 shards, how a content-addressed index
    * physically partitions), live fraction, reclaimable bytes (~48-byte
    * hash+id+count entries), and the rebuild flag at live < 80%, through
    * the SAME [[graft.operators.Queries.compactionDecision]] finisher
    * (the one-implementation rule; entry size is the one parameter).
    * Scale shape: ONE map-side scan (sha2 + a 2-char substring bucket) →
    * a 256-row aggregation; output 256 rows at any corpus size. */
  /** x164's map-side shard counts, factored (r12b) for qs40 — per
    * 2-hex-char sha-256 prefix shard, (n_codes, n_tombstoned) as
    * commutative integer sums over x110's %97 generation-A base with the
    * %89 tombstone fixture. Works identically on a stream (256-row ×
    * 2-long state) and a batch frame (the recount leg). */
  private[graft] def dedupShardCounts(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 =!= 0) // x110's generation-A base
      .select(conv(substring(sha2(col("text"), 256), 1, 2), 16, 10)
          .cast(LongType).as("cent_id"),
        (col("doc_id") % 89 === 0).cast(LongType).as("dead"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_codes"), sum(col("dead")).as("n_tombstoned"))

  private[operators] def x164(spark: SparkSession, dir: String): DataFrame =
    compactionDecision(dedupShardCounts(Tables.documents(spark, dir)),
      entryBytes = 48L)
      .withColumnRenamed("cent_id", "shard")
      .withColumnRenamed("n_codes", "n_postings")

  private[graft] lazy val x164Sql =
    """WITH g AS (SELECT ('0x' || substr(sha256(text), 1, 2))::BIGINT AS shard,
      |    CAST(count(*) AS BIGINT) AS n_postings,
      |    CAST(count(*) FILTER (WHERE doc_id % 89 = 0) AS BIGINT) AS n_tombstoned
      |  FROM documents WHERE doc_id % 97 <> 0 GROUP BY 1)
      |SELECT shard, n_postings, n_tombstoned,
      |  CAST((2 * (n_postings - n_tombstoned) * 1000000 + n_postings)
      |       // (2 * n_postings) AS BIGINT) AS live_ppm,
      |  CAST(n_tombstoned * 48 AS BIGINT) AS reclaim_bytes,
      |  (2 * (n_postings - n_tombstoned) * 1000000 + n_postings)
      |    // (2 * n_postings) < 800000 AS rebuild
      |FROM g ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- X169
  /** SOFT-DEDUP POLICY A/B — remove duplicates or DOWN-WEIGHT them? The
    * dedup-strategy complement of x154's threshold curve (x154 tunes the
    * near-dup cutoff; this prices what you DO with the clusters): per
    * source, the token economics of three retention policies over x17's
    * near-dup components — `none` (train on everything), `hard` (keep
    * one min-id representative per cluster, x1's convention — mass drops
    * to the representative's tokens and doc diversity drops with it),
    * and `soft` (keep EVERY member at weight 1/|cluster| — the
    * SoftDeDup-style reweighting that preserves doc diversity while
    * flattening the duplicated mass; near-dup members have DIFFERENT
    * texts, so soft mass is genuinely distinct from hard's). Exact
    * integers: weights are half-up milli rationals 1000/size, retention
    * ratios half-up ppm. Composition, not duplication: the cluster
    * table is x17's own labels through [[PipelineCache]] (the x36
    * consumer discipline — one materialization per session), and the
    * oracle wraps x17's recursive-closure SQL as a CTE. Scale shape:
    * one corpus scan for doc tokens, a |clustered-docs|-row left join
    * (clusters are the small side — broadcastable, degrades to shuffle
    * hash), a |sources|-row output; no new pair work anywhere. */
  private[operators] def x169(spark: SparkSession, dir: String): DataFrame = {
    val clusters = PipelineCache.shared(spark, "x17_labels", dir)(x17(spark, dir))
    // cluster size + representative on the |clustered-docs|-row frame ONLY
    // — singletons never enter a window, so no corpus-wide shuffle-by-
    // cluster exists (the window in the oracle's form would be one; the
    // engine pays a small-side left join instead)
    val cstats = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"), min(col("doc_id")).as("rep_id"))
    val cmem = clusters.join(cstats, "cluster_id")
      .select(col("doc_id"), col("size"), (col("doc_id") === col("rep_id")).as("is_rep"))
    val sized = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"))
      .join(cmem, Seq("doc_id"), "left")
      .withColumn("size", coalesce(col("size"), lit(1L)))
      .withColumn("is_rep", coalesce(col("is_rep"), lit(true)))
    sized.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_none"),
        sum(when(col("is_rep"), 1L).otherwise(0L)).as("docs_hard"),
        sum(when(col("is_rep"), col("n_tokens")).otherwise(0L)).as("tokens_hard"),
        sum(col("n_tokens") * expr("(2000 + size) div (2 * size)")).as("eff_soft_milli"))
      .select(col("source"), col("n_docs"), col("tokens_none"), col("docs_hard"),
        col("tokens_hard"), col("eff_soft_milli"),
        expr("(2 * tokens_hard * 1000000 + tokens_none) div (2 * tokens_none)")
          .as("hard_ppm"),
        expr("(2 * eff_soft_milli * 1000 + tokens_none) div (2 * tokens_none)")
          .as("soft_ppm"))
      .orderBy(col("source"))
  }

  private[operators] lazy val x169Sql =
    s"""WITH cl0 AS ($x17Sql),
       |d AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
       |j AS (SELECT d.*, coalesce(cl0.cluster_id, d.doc_id) AS cl
       |  FROM d LEFT JOIN cl0 USING (doc_id)),
       |z AS (SELECT *, CAST(count(*) OVER (PARTITION BY cl) AS BIGINT) AS size,
       |    doc_id = min(doc_id) OVER (PARTITION BY cl) AS is_rep FROM j)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens_none,
       |  CAST(count(*) FILTER (WHERE is_rep) AS BIGINT) AS docs_hard,
       |  CAST(coalesce(sum(n_tokens) FILTER (WHERE is_rep), 0) AS BIGINT) AS tokens_hard,
       |  CAST(sum(n_tokens * ((2000 + size) // (2 * size))) AS BIGINT) AS eff_soft_milli,
       |  CAST((2 * coalesce(sum(n_tokens) FILTER (WHERE is_rep), 0) * 1000000
       |    + sum(n_tokens)) // (2 * sum(n_tokens)) AS BIGINT) AS hard_ppm,
       |  CAST((2 * sum(n_tokens * ((2000 + size) // (2 * size))) * 1000
       |    + sum(n_tokens)) // (2 * sum(n_tokens)) AS BIGINT) AS soft_ppm
       |FROM z GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X171
  /** DEDUP-SCOPE A/B — global or per-source dedup? The operational
    * decision x169's policy A/B leaves open: a per-source (per-snapshot /
    * per-dump) dedup job needs no cross-corpus shuffle and parallelizes
    * embarrassingly, but it cannot see duplicates that SPAN sources — the
    * FineWeb-class trade every 100 TB curation run prices. Per source,
    * the token economics of both scopes over x17's near-dup components
    * (x1's min-id representative convention at each scope): LOCAL keeps
    * one representative per (component ∩ source), GLOBAL one per
    * component; missed_dup_tokens = kept_local − kept_global is exactly
    * the cross-source duplicate mass the cheap job ships to training, and
    * missed_ppm prices it against the source's corpus share. Composition:
    * x17's labels through [[PipelineCache]] (the x169 consumer
    * discipline); cluster math runs on the |clustered-docs|-row frame
    * only (per-scope representatives are two aggregations of it);
    * singletons ride the one corpus scan and are kept under both scopes
    * by construction. Scale shape: one corpus scan + two clustered-frame
    * aggregations + a small-side left join; |sources|-row output; no new
    * pair work anywhere. Exact integers end-to-end (half-up ppm). */
  private[operators] def x171(spark: SparkSession, dir: String): DataFrame = {
    val clusters = PipelineCache.shared(spark, "x17_labels", dir)(x17(spark, dir))
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"))
    // clustered members with their source — the small frame all scope
    // math lives on (clusters ⋈ docs on doc_id; right side pruned to 3 cols)
    val mem = clusters.join(d, "doc_id")
    val grep = mem.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("g_rep"))
    val lrep = mem.groupBy(col("cluster_id"), col("source"))
      .agg(min(col("doc_id")).as("l_rep"))
    val flags = mem.join(grep, "cluster_id")
      .join(lrep, Seq("cluster_id", "source"))
      .select(col("doc_id"),
        (col("doc_id") === col("l_rep")).as("keep_l"),
        (col("doc_id") === col("g_rep")).as("keep_g"))
    d.join(flags, Seq("doc_id"), "left")
      .withColumn("keep_l", coalesce(col("keep_l"), lit(true)))
      .withColumn("keep_g", coalesce(col("keep_g"), lit(true)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("keep_l"), 1L).otherwise(0L)).as("docs_local"),
        sum(when(col("keep_l"), col("n_tokens")).otherwise(0L)).as("tokens_local"),
        sum(when(col("keep_g"), 1L).otherwise(0L)).as("docs_global"),
        sum(when(col("keep_g"), col("n_tokens")).otherwise(0L)).as("tokens_global"))
      .select(col("source"), col("n_docs"), col("tokens_total"),
        col("docs_local"), col("tokens_local"),
        col("docs_global"), col("tokens_global"),
        (col("tokens_local") - col("tokens_global")).as("missed_dup_tokens"),
        expr("""(2 * (tokens_local - tokens_global) * 1000000 + tokens_total)
                div (2 * tokens_total)""").as("missed_ppm"))
      .orderBy(col("source"))
  }

  /** Oracle wraps x17's recursive-closure SQL (the x169 pattern); both
    * scopes' representatives are windows over the clustered rows. */
  private[operators] lazy val x171Sql =
    s"""WITH cl0 AS ($x17Sql),
       |d AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
       |j AS (SELECT d.*, cl0.cluster_id AS cl FROM d LEFT JOIN cl0 USING (doc_id)),
       |z AS (SELECT *,
       |    cl IS NULL OR doc_id = min(doc_id) OVER (PARTITION BY cl, source) AS keep_l,
       |    cl IS NULL OR doc_id = min(doc_id) OVER (PARTITION BY cl) AS keep_g
       |  FROM j)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       |  CAST(count(*) FILTER (WHERE keep_l) AS BIGINT) AS docs_local,
       |  CAST(coalesce(sum(n_tokens) FILTER (WHERE keep_l), 0) AS BIGINT) AS tokens_local,
       |  CAST(count(*) FILTER (WHERE keep_g) AS BIGINT) AS docs_global,
       |  CAST(coalesce(sum(n_tokens) FILTER (WHERE keep_g), 0) AS BIGINT) AS tokens_global,
       |  CAST(coalesce(sum(n_tokens) FILTER (WHERE keep_l), 0)
       |    - coalesce(sum(n_tokens) FILTER (WHERE keep_g), 0) AS BIGINT) AS missed_dup_tokens,
       |  CAST((2 * (coalesce(sum(n_tokens) FILTER (WHERE keep_l), 0)
       |    - coalesce(sum(n_tokens) FILTER (WHERE keep_g), 0)) * 1000000
       |    + sum(n_tokens)) // (2 * sum(n_tokens)) AS BIGINT) AS missed_ppm
       |FROM z GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X173
  /** 16 pinned LCG permutation constants for x173's oracle-replicable
    * minhash — md5-derived in pure Scala at plan-build time, spelled
    * IDENTICALLY into the engine expression and the oracle SQL (the
    * cross-engine contract: both sides read the same Seq). a, b ∈
    * [1, 2³¹−2]; modulus 2³¹−1, so a·h + b ≤ ~2⁶² never overflows int64
    * in either engine. */
  private[graft] lazy val x173Perms: Seq[(Long, Long)] = (0 until 16).map { i =>
    def c(tag: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"x173_${tag}_$i".getBytes("UTF-8"))
      (BigInt(1, md.take(6)).toLong % 2147483646L) + 1L
    }
    (c("a"), c("b"))
  }

  private[graft] lazy val x173Cfg: Seq[(Int, Int)] =
    Seq((2, 8), (4, 4), (8, 2), (16, 1))

  /** LSH BANDING OPERATING-POINT CURVE — the (bands, rows-per-band)
    * decision x3 hard-codes (8×4) as a MEASURED curve, the x154/x170
    * decision-curve discipline applied to the LSH index itself: for four
    * bandings of ONE 16-component signature — (2,8), (4,4), (8,2),
    * (16,1), S-curve thresholds s* = (1/b)^(1/r) from ~0.84 down to
    * ~0.06 — candidate-pair volume (the shuffle cost a banding buys) and
    * recall/precision against the EXACT Jaccard ≥ 0.5 truth (the shared
    * x2 pair engine). Bandings are nested slices of the same signature,
    * so the whole curve costs one signature pass + ONE combined
    * band-bucket self-join (banding configs ride the explode), never a
    * per-rung index build. Exactness: the signature here is the
    * ORACLE-REPLICABLE md5+LCG minhash (one md5 per shingle, then 16
    * integer permutations — the x126 reference-arithmetic discipline;
    * production serves from x3's graft_minhash kernel, and this curve
    * is the instrument that picks its banding). Integer half-up ppm
    * recall/precision; candidate counts exact. Scale shape: postings
    * self-join per band bucket (linear in bucket occupancy, the x3
    * argument), truth side = the cached pair engine; output 4 rows. */
  private[operators] def x173(spark: SparkSession, dir: String): DataFrame = {
    val cfgExpr = x173Cfg.map { case (b, r) =>
      s"named_struct('bands', ${b}L, 'rpb', ${r}L)"
    }.mkString("array(", ", ", ")")
    // r12c scan fix: the first-cut form paid 1 + 16 interpreted lambda
    // transforms per row (shingle build, md5 map, then one transform per
    // LCG component) — measured 6.5 s at 1×, 65 s at 10× (the scan, not
    // the pair legs, scaled). graft_md5_minhash computes the IDENTICAL
    // md5+LCG arithmetic (oracle spelling preserved bit-for-bit) in one
    // codegen'd pass. Sub-3-token docs (no shingles) are filtered first,
    // exactly the old size(sh) > 0 predicate.
    // both sides of the banded self-join read this frame — pin it
    // (enrolled in CacheInventorySpec); job-boundary release
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        call_function("graft_md5_minhash", col("tk"), lit(3),
          typedLit(x173Perms.map(_._1)), typedLit(x173Perms.map(_._2))).as("sig"))
      .persist()
    val keyed = sig.select(col("doc_id"), explode(expr(
      s"""flatten(transform($cfgExpr, cfg -> transform(sequence(0, cfg.bands - 1),
         |  i -> named_struct('bands', cfg.bands, 'rpb', cfg.rpb,
         |    'key', concat(cast(i as string), ':',
         |      array_join(transform(slice(sig, cast(i * cfg.rpb + 1 as int),
         |        cast(cfg.rpb as int)), x -> cast(x as string)), '_'))))))""".stripMargin))
      .as("k"))
      .select(col("doc_id"), col("k.bands").as("bands"), col("k.rpb").as("rpb"),
        col("k.key").as("key"))
    val cand = keyed.as("a").join(keyed.as("b"), Seq("bands", "rpb", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("bands"), col("rpb"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("bands", "rpb", "doc_a", "doc_b")
    val truth = sharedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    val legs = cand.join(truth, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bands"), col("rpb"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("n_true_found"))
    val tot = sharedPairs(spark, dir).agg(count(lit(1)).as("n_truth"))
    val cfgF = spark.range(1).select(explode(expr(cfgExpr)).as("z"))
      .select(col("z.bands").as("bands"), col("z.rpb").as("rpb"))
    cfgF.join(legs, Seq("bands", "rpb"), "left")
      .na.fill(0L, Seq("n_candidates", "n_true_found"))
      .crossJoin(tot)
      .select(col("bands"), col("rpb"), col("n_candidates"), col("n_true_found"),
        col("n_truth"),
        expr("""(2 * n_true_found * 1000000 + greatest(n_truth, 1))
                div (2 * greatest(n_truth, 1))""").as("recall_ppm"),
        expr("""(2 * n_true_found * 1000000 + greatest(n_candidates, 1))
                div (2 * greatest(n_candidates, 1))""").as("precision_ppm"))
      .orderBy(col("bands"))
  }

  /** Oracle replays the md5+LCG signature component for component (the
    * constants are interpolated from the SAME Scala Seq the engine
    * reads) and the banded candidate join; truth = x2's exact pair SQL
    * as a nested CTE. */
  private[operators] lazy val x173Sql = {
    val sigExprs = x173Perms.map { case (a, b) =>
      s"list_min(list_transform(hm, h -> ($a * h + $b) % 2147483647))"
    }.mkString("[", ",\n      |      ", "]")
    val cfgVals = x173Cfg.map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(tk) - 1, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM d),
       |hm AS (SELECT doc_id, list_transform(sh,
       |    x -> ('0x' || substr(md5(x), 1, 12))::BIGINT % 2147483647) AS hm
       |  FROM s WHERE len(sh) > 0),
       |sg AS (SELECT doc_id, $sigExprs AS sig FROM hm),
       |cfg AS (SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rpb
       |  FROM (VALUES $cfgVals) v(b, r)),
       |k AS (SELECT doc_id, bands, rpb,
       |    i::VARCHAR || ':' || array_to_string(list_transform(
       |      list_slice(sig, i * rpb + 1, i * rpb + rpb), x -> x::VARCHAR), '_') AS key
       |  FROM sg, cfg, (SELECT unnest(range(0, 16)) AS i) t WHERE i < bands),
       |c AS (SELECT DISTINCT a.bands AS bands, a.rpb AS rpb,
       |    a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM k a JOIN k b ON a.bands = b.bands AND a.rpb = b.rpb
       |    AND a.key = b.key AND a.doc_id < b.doc_id),
       |t2 AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS sx FROM s WHERE len(sh) > 0),
       |p AS (SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t2 a JOIN t2 b ON a.sx = b.sx AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5),
       |leg AS (SELECT bands, rpb, CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(count(p.doc_a) AS BIGINT) AS n_true_found
       |  FROM c LEFT JOIN p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM p)
       |SELECT cfg.bands, cfg.rpb,
       |  coalesce(n_candidates, 0) AS n_candidates,
       |  coalesce(n_true_found, 0) AS n_true_found, n_truth,
       |  (2 * coalesce(n_true_found, 0) * 1000000 + greatest(n_truth, 1))
       |    // (2 * greatest(n_truth, 1)) AS recall_ppm,
       |  (2 * coalesce(n_true_found, 0) * 1000000 + greatest(coalesce(n_candidates, 0), 1))
       |    // (2 * greatest(coalesce(n_candidates, 0), 1)) AS precision_ppm
       |FROM cfg LEFT JOIN leg USING (bands, rpb), tot
       |ORDER BY cfg.bands""".stripMargin
  }
}
