package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Corpus-preparation & dataset-ops queries (SURVEY §2.4): sampling,
  * packing, chunking, scrubbing, mixtures, splits, scorecards,
  * layout/shard planning, attribution, capstone pipelines.
  *
  * Split out of the monolithic Queries.scala in r7 (registry unchanged —
  * every member mixes back into [[Queries]], whose self-type these traits
  * require). Members are `private[operators]`; SQL oracles are lazy so
  * cross-trait references are initialization-order-safe.
  */
private[operators] trait QueriesCorpus { this: Queries.type =>

  // ---------------------------------------------------------------- X12
  /** Multimodal column plumbing: opaque binary payload + typed metadata.
    * The "decode" is a deterministic fake (this container has no codec
    * libs — see the builder contract); the Spark-side plumbing (binary
    * column, schema, hashing, metadata derivation) is real. */
  private[operators] def x12(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      expr("octet_length(cast(text as binary))").cast(LongType).as("byte_len"),
      sha2(col("text"), 256).as("content_hash"),
      when(col("n_chars") % 3 === 0, "image")
        .when(col("n_chars") % 3 === 1, "audio")
        .otherwise("video").as("modality"),
      ((col("n_chars") * 7) % 1024).as("width"),
      ((col("n_chars") * 13 + col("doc_id")) % 768).as("height"),
      (col("n_chars") % 30 + 1).as("n_frames"))

  private[operators] lazy val x12Sql =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      |  sha256(text) AS content_hash,
      |  CASE WHEN n_chars % 3 = 0 THEN 'image' WHEN n_chars % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |  (n_chars * 7) % 1024 AS width,
      |  (n_chars * 13 + doc_id) % 768 AS height,
      |  n_chars % 30 + 1 AS n_frames
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- X18
  /** Deterministic stratified sampling — the corpus-construction primitive
    * for mixing training data: keep a document iff its content-addressed
    * bucket (sha64 of the id, mod 100) falls under its language's sampling
    * rate. Content-addressing (not rand()) makes the sample REPRODUCIBLE
    * across runs, partitionings, and engines — rerunning the pipeline or
    * adding a new language stratum never reshuffles which documents of an
    * existing stratum are kept. Pure map-side filter: no shuffle at all
    * until the per-stratum accounting aggregation. */
  private[operators] lazy val x18Rates: Seq[(String, Int)] =
    Seq("en" -> 25, "es" -> 50, "de" -> 75, "fr" -> 50, "zh" -> 100)

  private[operators] def x18(spark: SparkSession, dir: String): DataFrame = {
    val rate = x18Rates.foldRight(lit(10)) { case ((lang, r), rest) =>
      when(col("lang") === lang, lit(r)).otherwise(rest)
    }
    Tables.documents(spark, dir)
      .withColumn("h", element_at(expr("graft_sha64(array(cast(doc_id as string)))"), 1))
      .withColumn("bucket", ((col("h") % 100) + 100) % 100)
      .withColumn("rate", rate)
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket").cast(IntegerType).as("bucket"))
  }

  /** Same sha64 bucket in DuckDB (16-bit-chunk hex reconstruction as in
    * q20), same rate table, same keep rule. */
  private[operators] lazy val x18Sql = {
    val rateCase = x18Rates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""WITH hx AS (SELECT doc_id, lang, substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16) AS h
       |            FROM documents),
       |ch AS (SELECT doc_id, lang,
       |  list_transform(range(4), c -> CAST(
       |    (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 1, 1)) - 1) * 4096
       |    + (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 2, 1)) - 1) * 256
       |    + (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 3, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 4, 1)) - 1) AS HUGEINT)) AS cs
       |  FROM hx),
       |fp AS (SELECT doc_id, lang, CAST(
       |    ((cs[1] * 65536 + cs[2]) * 65536 + cs[3]) * 65536 + cs[4]
       |    - CASE WHEN cs[1] >= 32768 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS h
       |  FROM ch)
       |SELECT doc_id, lang, CAST(((h % 100) + 100) % 100 AS INT) AS bucket
       |FROM fp
       |WHERE ((h % 100) + 100) % 100 < (CASE lang $rateCase ELSE 10 END)""".stripMargin
  }

  // ---------------------------------------------------------------- X20
  /** Benchmark-contamination detection: flag training documents sharing an
    * outsized fraction of 3-shingles with a held-out benchmark set (here a
    * deterministic 1/97 slice of the corpus standing in for the eval set).
    * Shape at 100 TB: the benchmark's distinct-shingle table is tiny next
    * to the corpus, so the equi-join broadcasts and the corpus side stays
    * one linear postings scan — never an all-pairs comparison. Shared
    * counts are integers; the one division is exact IEEE. */
  private[operators] def x20(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir).select(col("doc_id"), col("sh"), col("n"))
    val benchSh = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("s")).distinct()
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val shared = corpus.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(benchSh, Seq("s")) // shingles are distinct per doc → plain count
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"), col("n").as("n_shingles"))
      .join(shared, Seq("doc_id"), "left").na.fill(0L, Seq("n_shared"))
      .withColumn("contamination_ratio",
        col("n_shared").cast(DoubleType) / greatest(col("n_shingles"), lit(1)))
      .withColumn("contaminated", col("contamination_ratio") >= 0.2)
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        col("contamination_ratio"), col("contaminated"))
  }

  private[operators] lazy val x20Sql =
    s"""WITH s AS ($duckShingleSql),
       |b AS (SELECT DISTINCT unnest(sh) AS sng FROM s WHERE doc_id % 97 = 0),
       |t AS (SELECT doc_id, unnest(sh) AS sng FROM s WHERE doc_id % 97 <> 0),
       |sh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |       FROM t JOIN b USING (sng) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(d.n AS INT) AS n_shingles,
       |  COALESCE(sh.n_shared, 0) AS n_shared,
       |  CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / greatest(d.n, 1) AS contamination_ratio,
       |  (CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / greatest(d.n, 1)) >= 0.2 AS contaminated
       |FROM (SELECT doc_id, len(sh) AS n FROM s WHERE doc_id % 97 <> 0) d
       |LEFT JOIN sh USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- X21
  /** GPT-style sequence packing by concatenation: documents are concatenated
    * per language stratum in doc_id order and cut into fixed 256-token
    * training sequences; each document reports the sequence span it lands
    * in. The running offset is a TWO-PHASE prefix sum (the q5-linear trick):
    * docs bucket by `doc_id div 4096`, bucket totals form a metadata-scale
    * prefix table (one row per occupied bucket — the only single-partition
    * window, bounded by bucket count, never by data), and the within-bucket
    * residual is a window PARTITIONED BY (lang, bucket) — thousands of
    * independent partitions at corpus scale, not one per language. All
    * output columns are integer arithmetic — bit-stable across engines. */
  private[operators] def x21(spark: SparkSession, dir: String): DataFrame = {
    val seqLen = 256
    val d = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(toks(col("text"))))
      .withColumn("bkt", expr("doc_id div 4096"))
    // phase 1: per-(lang, bucket) token totals → running prefix of FULL
    // buckets before this one (tiny frame; broadcast back to the data)
    val wb = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketPrefix = d.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("n_tokens")).as("bsum"))
      .withColumn("bucket_before", coalesce(sum(col("bsum")).over(wb), lit(0L)))
      .select(col("lang"), col("bkt"), col("bucket_before"))
    // phase 2: within-bucket residual prefix, partitioned by (lang, bucket)
    val ww = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("within_before", coalesce(sum(col("n_tokens")).over(ww), lit(0L)))
      .join(broadcast(bucketPrefix), Seq("lang", "bkt"))
      .withColumn("start_offset", col("bucket_before") + col("within_before"))
      .withColumn("first_seq", expr(s"start_offset div $seqLen"))
      .withColumn("last_seq", expr(s"(start_offset + n_tokens - 1) div $seqLen"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("start_offset"),
        col("first_seq"), col("last_seq"), col("n_seqs"))
  }

  private[operators] lazy val x21Sql =
    """WITH d AS (SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents),
      |o AS (SELECT doc_id, lang, n_tokens,
      |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      |  FROM d)
      |SELECT doc_id, lang, n_tokens, start_offset,
      |  start_offset // 256 AS first_seq,
      |  (start_offset + n_tokens - 1) // 256 AS last_seq,
      |  (start_offset + n_tokens - 1) // 256 - start_offset // 256 + 1 AS n_seqs
      |FROM o""".stripMargin

  // ---------------------------------------------------------------- X22
  /** PII scrubbing: mask email addresses and long digit runs before
    * training. The fixture plants deterministic PII on 1/7 of documents
    * (the synthetic corpus contains none); the scrub itself is two
    * codegen'd regexp_replace passes — a pure map-side scan. Output ships
    * the sha256 of the scrubbed text (content-addressed evidence the scrub
    * agreed), never the full text, so the compare shuffle stays narrow. */
  private[operators] def x22(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    Tables.documents(spark, dir)
      .withColumn("injected",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com id 1234567890")))
          .otherwise(col("text")))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("injected"), emailPat, "<EMAIL>"),
          "\\d{6,}", "<NUM>"))
      .withColumn("pii_found", col("scrubbed") =!= col("injected"))
      .select(col("doc_id"), col("pii_found"),
        sha2(col("scrubbed"), 256).as("scrub_hash"),
        length(col("scrubbed")).as("scrub_len"))
  }

  private[operators] lazy val x22Sql =
    """WITH i AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com id 1234567890'
      |      ELSE text END AS injected
      |  FROM documents),
      |s AS (SELECT doc_id, injected,
      |    regexp_replace(regexp_replace(injected,
      |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |      '\d{6,}', '<NUM>', 'g') AS scrubbed
      |  FROM i)
      |SELECT doc_id, scrubbed <> injected AS pii_found,
      |  sha256(scrubbed) AS scrub_hash,
      |  CAST(length(scrubbed) AS INT) AS scrub_len
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- X24
  /** Hot-key aggregation through the SALTED two-phase decomposition
    * ([[Skew.saltedSum]]): events carry ~8 event types over 100k+ rows —
    * exactly the shape where a single reducer per key melts at corpus
    * scale. The salt spreads each key over 16 partial sums; the final
    * combine is 8×16 rows. Salting is semantics-preserving, so the oracle
    * is the PLAIN group-by — the decomposition must be invisible in the
    * result. Decimal partials keep both phases exact. */
  private[operators] def x24(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedSum(
      Tables.events(spark, dir)
        .select(col("event_type"), col("value").cast(DecimalType(18, 2)).as("v")),
      "event_type", "v", saltFactor = 16)
      .select(col("event_type"), round(col("sum_v").cast(DoubleType), 2).as("total"))

  private[operators] lazy val x24Sql =
    """SELECT event_type, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- X25
  /** Corpus mixture construction: per-source EPOCH weighting (upsampling by
    * repetition — the standard way training mixtures overweight curated
    * sources). Each document is emitted once per epoch with its epoch
    * index, weights derived deterministically from the source id. Pure
    * map-side explode — the row multiplier is the weight, no shuffle; at
    * 100 TB the multiplied rows stream straight into downstream packing
    * (x21) without materializing. Complements x18 (downsampling) as the
    * other half of mixture construction. */
  private[operators] def x25(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("epochs", expr("cast(substring(source, 4) as int)") % 3 + 1)
      .select(col("doc_id"), col("source"), col("n_chars"),
        explode(sequence(lit(1), col("epochs"))).as("epoch"))
      .withColumn("epoch", col("epoch").cast(IntegerType))

  private[operators] lazy val x25Sql =
    """SELECT doc_id, source, n_chars,
      |  CAST(unnest(generate_series(1, CAST(substr(source, 4, 10) AS INT) % 3 + 1)) AS INT) AS epoch
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- X26
  /** The CAPSTONE: the full training-corpus preparation dataflow as ONE
    * declarative query — exact dedup → repetition filter (x19 rule) →
    * quality gate (x15 rule) → benchmark-contamination drop (x20 rule) →
    * PII scrub (x22) → stratified sample (x18 rates) — every stage the
    * proven cross-engine primitive, composed. Plan shape: the corpus-scale
    * data crosses a shuffle only where aggregation demands it (the dedup
    * keep-set, the contamination shared-counts); the keep-set and benchmark
    * shingle set broadcast back, and every filter/scrub/sample stage is
    * map-side. The oracle replays the identical rules as one CTE chain. */
  private[operators] def x26(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val docs = Tables.documents(spark, dir)
    // stage 1: exact dedup (keep min doc_id per text) — hash before shuffle
    val keep = docs.select(sha2(col("text"), 256).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val d1 = docs.join(keep, Seq("doc_id"), "left_semi")
    // stages 2+3: repetition + quality — one map-side pass
    val d3 = d1
      .withColumn("tk", toks(col("text")))
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("sh", expr("graft_shingle_hashes(tk, 3)"))
      .withColumn("sh_total", greatest(col("n_tokens") - 2, lit(0)))
      .withColumn("dup_ratio",
        (col("sh_total") - size(col("sh"))).cast(DoubleType) / greatest(col("sh_total"), lit(1)))
      .withColumn("stop_ratio",
        expr(s"graft_count_in(tk, $stopArr)").cast(DoubleType) / col("n_tokens"))
      .filter(col("dup_ratio") < 0.2 && col("stop_ratio") <= 0.5 && col("n_tokens") >= 10)
    // stage 4: contamination drop (x20 rule, benchmark = doc_id % 97 == 0;
    // benchmark docs themselves never enter a training corpus)
    val benchSh = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(explode(expr("graft_shingle_hashes(tk, 3)")).as("s")).distinct()
    val shared = d3.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(benchSh, Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val d4 = d3.filter(col("doc_id") % 97 =!= 0)
      .join(shared, Seq("doc_id"), "left").na.fill(0L, Seq("n_shared"))
      .filter(col("n_shared").cast(DoubleType) / greatest(col("sh_total"), lit(1)) < 0.2)
    // stages 5+6: PII scrub + stratified sample — map-side again
    val rate = x18Rates.foldRight(lit(10)) { case ((lang, r), rest) =>
      when(col("lang") === lang, lit(r)).otherwise(rest)
    }
    d4.withColumn("scrub_hash",
        sha2(regexp_replace(regexp_replace(col("text"), emailPat, "<EMAIL>"),
          "\\d{6,}", "<NUM>"), 256))
      .withColumn("bucket",
        (((element_at(expr("graft_sha64(array(cast(doc_id as string)))"), 1) % 100) + 100) % 100)
          .cast(IntegerType))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("bucket"), col("scrub_hash"))
  }

  private[operators] lazy val x26Sql = {
    val rateCase = x18Rates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""WITH d1 AS (
       |  SELECT * FROM documents
       |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)),
       |sh0 AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh,
       |         CAST(len(tk) AS INT) AS n_tokens,
       |         CAST(len(list_filter(tk, x -> x IN ($stopwordsSqlList))) AS INT) AS n_stop
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM d1)),
       |d3 AS (
       |  SELECT s.doc_id, s.n_tokens, s.sh,
       |         CAST(greatest(s.n_tokens - 2, 0) AS INT) AS sh_total
       |  FROM sh0 s
       |  WHERE CAST(greatest(s.n_tokens - 2, 0) - len(s.sh) AS DOUBLE)
       |          / greatest(greatest(s.n_tokens - 2, 0), 1) < 0.2
       |    AND CAST(s.n_stop AS DOUBLE) / s.n_tokens <= 0.5
       |    AND s.n_tokens >= 10),
       |bsh AS (
       |  SELECT DISTINCT unnest(sh) AS s FROM (
       |    SELECT list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
       |    FROM (SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % 97 = 0) q)),
       |shared AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM d3) t JOIN bsh USING (s)
       |  GROUP BY t.doc_id),
       |d4 AS (
       |  SELECT d3.doc_id, d3.n_tokens FROM d3 LEFT JOIN shared USING (doc_id)
       |  WHERE d3.doc_id % 97 <> 0
       |    AND CAST(COALESCE(shared.n_shared, 0) AS DOUBLE) / greatest(d3.sh_total, 1) < 0.2),
       |hx AS (SELECT doc_id, substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16) AS h FROM d4),
       |ch AS (SELECT doc_id,
       |  list_transform(range(4), c -> CAST(
       |    (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 1, 1)) - 1) * 4096
       |    + (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 2, 1)) - 1) * 256
       |    + (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 3, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substr(h, CAST(c*4 AS INT) + 4, 1)) - 1) AS HUGEINT)) AS cs
       |  FROM hx),
       |fp AS (SELECT doc_id, CAST(
       |    ((cs[1] * 65536 + cs[2]) * 65536 + cs[3]) * 65536 + cs[4]
       |    - CASE WHEN cs[1] >= 32768 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS h
       |  FROM ch)
       |SELECT d.doc_id, doc.lang, doc.source, d.n_tokens,
       |  CAST(((fp.h % 100) + 100) % 100 AS INT) AS bucket,
       |  sha256(regexp_replace(regexp_replace(doc.text,
       |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
       |    '\\d{6,}', '<NUM>', 'g')) AS scrub_hash
       |FROM d4 d JOIN fp USING (doc_id) JOIN documents doc ON doc.doc_id = d.doc_id
       |WHERE ((fp.h % 100) + 100) % 100 <
       |  (CASE doc.lang $rateCase ELSE 10 END)""".stripMargin
  }

  // ---------------------------------------------------------------- X33
  /** Per-source document caps — corpus balancing (every real pipeline caps
    * how much any one domain/crawl contributes): keep the 20 lowest-id
    * documents per source, emit the kept set. Deterministic (id order, not
    * rand), and the rank-filter shape is exactly what Spark's
    * WindowGroupLimit optimizes: each map task pre-prunes to its local
    * top-20 per source BEFORE the shuffle, so the exchange carries
    * O(sources × cap × tasks), not the corpus — the plan that survives a
    * skewed 100 TB crawl where one domain is half the data. */
  private[operators] lazy val x33Cap = 20

  private[operators] def x33(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= x33Cap)
      .select(col("source"), col("rn"), col("doc_id"), col("lang"), col("n_chars"))
  }

  private[operators] lazy val x33Sql =
    s"""SELECT source, CAST(row_number() OVER w AS INT) AS rn, doc_id, lang, n_chars
       |FROM documents
       |WINDOW w AS (PARTITION BY source ORDER BY doc_id)
       |QUALIFY rn <= $x33Cap""".stripMargin

  // ---------------------------------------------------------------- X35
  /** Document CHUNKING with overlap — the RAG/embedding-prep primitive:
    * split each document into 64-token windows on a 48-token stride
    * (16-token overlap so no boundary context is lost), emitting per chunk
    * its position, length, and a content hash (sha256 of the joined chunk
    * text — computable by BOTH engines, so chunk identity is
    * cross-engine-stable and directly usable as an exact-dedup key for
    * chunk-level dedup before embedding). Pure map-side row expansion —
    * no shuffle at all; at 100 TB this is the same scan cost as reading
    * the corpus. */
  private[operators] def x35(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("s", explode(expr("sequence(0, size(tk) - 1, 48)")))
      .select(col("doc_id"),
        (col("s") / 48).cast(IntegerType).as("chunk_idx"),
        col("s").cast(IntegerType).as("chunk_start"),
        least(lit(64), size(col("tk")) - col("s")).cast(IntegerType).as("n_chunk_tokens"),
        sha2(array_join(slice(col("tk"), col("s") + 1, lit(64)), " "), 256).as("chunk_hash"))
  }

  private[operators] lazy val x35Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 48)) AS s FROM d)
      |SELECT doc_id, CAST(s // 48 AS INT) AS chunk_idx, CAST(s AS INT) AS chunk_start,
      |  CAST(least(64, len(tk) - s) AS INT) AS n_chunk_tokens,
      |  sha256(array_to_string(tk[s+1 : least(s+64, len(tk))], ' ')) AS chunk_hash
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- X13 oracle
  /** x13 replayed in SQL: same modality routing, same synthesized payload
    * BYTES (documents are pure ASCII, so ord(char) == payload byte), same
    * header arithmetic for byte lengths, same per-pixel BT.601 luma and
    * per-sample RMS sums in the same order. PPM header is
    * "P6\nW H\n255\n" = 9 + digits(W) + digits(H) bytes. */
  private[operators] lazy val x13Sql = {
    // integer-milli luma: the sum is exact, so the single final division
    // reproduces the engine's double bit-for-bit
    val lumaExpr = (w: String, h: String) =>
      s"""CAST(list_sum(list_transform(range($w * $h),
         |      p -> 299 * ord(substr(text, CAST((3*p) % L AS INT) + 1, 1))
         |         + 587 * ord(substr(text, CAST((3*p + 1) % L AS INT) + 1, 1))
         |         + 114 * ord(substr(text, CAST((3*p + 2) % L AS INT) + 1, 1)))) AS DOUBLE)
         |      / (1000.0 * $w * $h)""".stripMargin
    s"""WITH d AS (SELECT doc_id, text, n_chars, length(text) AS L FROM documents),
       |img AS (
       |  SELECT doc_id, 'image' AS modality,
       |    CAST(9 + length(CAST(4 + n_chars % 12 AS VARCHAR))
       |           + length(CAST(4 + (n_chars // 3) % 8 AS VARCHAR))
       |           + (4 + n_chars % 12) * (4 + (n_chars // 3) % 8) * 3 AS BIGINT) AS byte_len,
       |    CAST(4 + n_chars % 12 AS INT) AS width,
       |    CAST(4 + (n_chars // 3) % 8 AS INT) AS height,
       |    CAST(0 AS BIGINT) AS duration_ms, CAST(1 AS INT) AS n_frames,
       |    ${lumaExpr("(4 + n_chars % 12)", "(4 + (n_chars // 3) % 8)")} AS feature
       |  FROM d WHERE n_chars % 3 = 0),
       |aud AS (
       |  SELECT doc_id, 'audio' AS modality,
       |    CAST(44 + (200 + n_chars % 800) * 2 AS BIGINT) AS byte_len,
       |    CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
       |    CAST((200 + n_chars % 800) * 1000 // 8000 AS BIGINT) AS duration_ms,
       |    CAST(0 AS INT) AS n_frames,
       |    sqrt(CAST(list_sum(list_transform(range(200 + n_chars % 800),
       |      i -> CAST((ord(substr(text, CAST(i % L AS INT) + 1, 1)) - 96) * 256 AS BIGINT)
       |         * CAST((ord(substr(text, CAST(i % L AS INT) + 1, 1)) - 96) * 256 AS BIGINT))) AS DOUBLE)
       |      / (200 + n_chars % 800)) AS feature
       |  FROM d WHERE n_chars % 3 = 1),
       |vid AS (
       |  SELECT doc_id, 'video' AS modality,
       |    CAST(8 + 9 + 1 + 1 + 8 * 6 * 3 AS BIGINT) AS byte_len,
       |    CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
       |    CAST((1 + n_chars % 30) * 40 AS BIGINT) AS duration_ms,
       |    CAST(1 + n_chars % 30 AS INT) AS n_frames,
       |    ${lumaExpr("8", "6")} AS feature
       |  FROM d WHERE n_chars % 3 = 2)
       |SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid""".stripMargin
  }

  // ---------------------------------------------------------------- X37
  /** SCD2 / CDC MERGE — the slowly-changing-dimension build every warehouse
    * (and every training-data snapshot lineage) needs: treat each order as a
    * change event to its customer's priority attribute and collapse the
    * stream into type-2 dimension rows (valid_from / valid_to / is_current,
    * one open row per key). Gaps-and-islands: a lag() change flag, a running
    * sum to number the islands, one aggregate per island, then lead() to
    * close each version with the next one's start. Two window passes and one
    * aggregate over a SINGLE shuffle by the dimension key — at 100 TB the
    * change log partitions by key and nothing is ever driver-side; this is
    * the scalable MERGE INTO alternative when the engine has no mutable
    * table (the output is a fresh immutable dimension snapshot). */
  private[operators] def x37(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir).select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      col("o_orderdate"), col("o_orderpriority").as("priority"))
    val w = Window.partitionBy(col("custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val runs = src
      .withColumn("chg",
        when(lag(col("priority"), 1).over(w).isNull ||
          lag(col("priority"), 1).over(w) =!= col("priority"), 1).otherwise(0))
      .withColumn("grp", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("custkey"), col("grp").cast(IntegerType).as("version"))
      .agg(min(col("priority")).as("priority"),
        min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val w2 = Window.partitionBy(col("custkey")).orderBy(col("version"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("custkey"), col("version"), col("priority"),
        col("valid_from"), col("valid_to"), col("is_current"), col("n_orders"))
  }

  private[operators] lazy val x37Sql =
    """WITH src AS (
      |  SELECT o_custkey AS custkey, o_orderkey, o_orderdate, o_orderpriority AS priority
      |  FROM orders),
      |marked AS (
      |  SELECT *, CASE WHEN lag(priority) OVER w IS NULL OR lag(priority) OVER w != priority
      |                 THEN 1 ELSE 0 END AS chg
      |  FROM src WINDOW w AS (PARTITION BY custkey ORDER BY o_orderdate, o_orderkey)),
      |grouped AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM marked),
      |runs AS (
      |  SELECT custkey, CAST(grp AS INT) AS version, min(priority) AS priority,
      |         min(o_orderdate) AS valid_from, CAST(count(*) AS BIGINT) AS n_orders
      |  FROM grouped GROUP BY custkey, grp)
      |SELECT custkey, version, priority, valid_from,
      |  lead(valid_from) OVER (PARTITION BY custkey ORDER BY version) AS valid_to,
      |  lead(valid_from) OVER (PARTITION BY custkey ORDER BY version) IS NULL AS is_current,
      |  n_orders
      |FROM runs""".stripMargin

  // ---------------------------------------------------------------- X39
  /** Z-ORDER DATA LAYOUT (multi-dimensional clustering for data skipping —
    * what Delta/Iceberg OPTIMIZE ZORDER does): quantize (l_partkey,
    * l_suppkey) to 8 bits each against their true min/max, Morton-interleave
    * the bits into a 16-bit z-key, bucket rows by the z-key prefix, and emit
    * per-bucket (count, per-dimension min/max) — the exact file-level
    * statistics a scan planner would prune on. `would_scan` marks the
    * buckets a 5%-wide partkey range predicate actually has to read: on this
    * data ~1/10 of the buckets, versus 100% under any single-column layout
    * for the second dimension. Whole thing is one pre-agg for bounds (a
    * 1-row broadcast), a map-side integer kernel for the z-key (pure
    * codegen'd bit arithmetic), and ONE shuffle for the per-bucket stats —
    * at 100 TB this is the same cost as any groupBy, and the z-key doubles
    * as a `repartitionByRange` / write-ordering key to physically lay files
    * out this way. */
  private[operators] def x39(spark: SparkSession, dir: String): DataFrame = {
    val morton = (0 until 8).map(i =>
      s"(shiftright(qx, $i) & 1) * ${1L << (2 * i)}L + (shiftright(qy, $i) & 1) * ${1L << (2 * i + 1)}L")
      .mkString(" + ")
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
    val bounds = li.agg(
      min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
      min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
    li.join(broadcast(bounds))
      .withColumn("qx", expr("(l_partkey - pmin) * 256 div (pmax - pmin + 1)"))
      .withColumn("qy", expr("(l_suppkey - smin) * 256 div (smax - smin + 1)"))
      .withColumn("lo", expr("pmin + (pmax - pmin) * 2 div 5"))
      .withColumn("hi", expr("pmin + (pmax - pmin) * 9 div 20"))
      .withColumn("zkey", expr(morton))
      .groupBy(expr("cast(shiftright(zkey, 6) as int)").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
        min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"),
        (max(col("l_partkey")) >= min(col("lo")) &&
          min(col("l_partkey")) <= min(col("hi"))).as("would_scan"))
  }

  private[operators] lazy val x39Sql = {
    val morton = (0 until 8).map(i =>
      s"((qx >> $i) & 1) * ${1L << (2 * i)} + ((qy >> $i) & 1) * ${1L << (2 * i + 1)}")
      .mkString(" + ")
    s"""WITH b AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
       |                  min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem),
       |q AS (SELECT l_partkey, l_suppkey,
       |        (l_partkey - pmin) * 256 // (pmax - pmin + 1) AS qx,
       |        (l_suppkey - smin) * 256 // (smax - smin + 1) AS qy,
       |        pmin + (pmax - pmin) * 2 // 5 AS lo,
       |        pmin + (pmax - pmin) * 9 // 20 AS hi
       |      FROM lineitem, b),
       |z AS (SELECT *, ($morton) AS zkey FROM q)
       |SELECT CAST(zkey >> 6 AS INT) AS zbucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(l_partkey) AS p_min, max(l_partkey) AS p_max,
       |  min(l_suppkey) AS s_min, max(l_suppkey) AS s_max,
       |  (max(l_partkey) >= min(lo) AND min(l_partkey) <= min(hi)) AS would_scan
       |FROM z GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- X40
  /** CURRICULUM ORDERING — the easy→hard training-schedule prep: bin each
    * document into a difficulty phase by token count against FIXED
    * thresholds (map-side, data-independent — no global ntile, so no
    * single-partition window at 100 TB), then give every document a
    * deterministic position inside its phase by shuffling on md5(text)
    * (a content-addressed permutation both engines compute identically —
    * re-running the pipeline never reorders the curriculum). The only
    * shuffle is the per-phase window partition; consumption order is
    * (phase, pos_in_phase), and at scale pos_in_phase is exactly the
    * within-partition sort key a range-partitioned writer would use. */
  private[operators] def x40(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("phase")).orderBy(col("shuffle_key"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks(col("text"))).as("n_tokens"), md5(col("text")).as("shuffle_key"))
      .withColumn("phase",
        when(col("n_tokens") < 40, 1).when(col("n_tokens") < 60, 2)
          .when(col("n_tokens") < 80, 3).otherwise(4))
      .withColumn("pos_in_phase", row_number().over(w))
      .select(col("doc_id"), col("n_tokens"), col("phase"), col("pos_in_phase"))
  }

  private[operators] lazy val x40Sql =
    """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |                  md5(text) AS shuffle_key FROM documents),
      |p AS (SELECT *, CASE WHEN n_tokens < 40 THEN 1 WHEN n_tokens < 60 THEN 2
      |                     WHEN n_tokens < 80 THEN 3 ELSE 4 END AS phase FROM t)
      |SELECT doc_id, n_tokens, CAST(phase AS INT) AS phase,
      |  CAST(row_number() OVER (PARTITION BY phase ORDER BY shuffle_key, doc_id) AS INT) AS pos_in_phase
      |FROM p""".stripMargin

  // ---------------------------------------------------------------- X41
  /** BLOOM-FILTER PRE-FILTERED JOIN — the explicit form of the runtime
    * filter every warehouse pushes into big-probe-side joins: build a
    * 64 Kbit Bloom filter over the build side's keys (urgent orders) as a
    * DISTRIBUTED aggregation (k=4 double-hashed positions per key, map-side
    * bit_or partials, a ≤1024-row word table densified into ONE 8 KB array
    * row), broadcast that single row, and drop non-matching fact rows
    * map-side BEFORE the join shuffle. The exact semi-join then removes the
    * false positives, so the OUTPUT is provably the plain semi-join (the
    * oracle needs no Bloom model) while the exchange carries only
    * ~|matches| + fp rows instead of the whole fact table. At 100 TB this
    * is the difference between shuffling 100 TB and shuffling the ~2%
    * that survives; the filter itself never exceeds one broadcast page.
    * The same shape is what Spark's own InjectRuntimeFilter emits — built
    * here explicitly so the operator works on any bounded key set. */
  private[operators] def x41(spark: SparkSession, dir: String): DataFrame = {
    val mBits = 65536
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // the filter is BUILT distributed (map-side bit_or partials over the
    // build side), then its 8 KB word array lands in the plan as ONE
    // literal — a metadata-scale scalar job at plan-build time (the same
    // documented pattern as x2's df-cap). The build/test machinery is
    // the shared bloomBuild/bloomTest (QueriesShared) — ONE copy, also
    // the x130 big-delta path; see there for why a literal (not a join)
    // is what pins the evaluation order.
    val bloomArr = bloomBuild(urgent, "o_orderkey", mBits)
    val test = bloomTest(bloomArr, mBits)(col("l_orderkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      .filter(test)               // scan-level drop BEFORE the join shuffle
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(4, 2)) -
          col("l_discount").cast(DecimalType(4, 2)))).cast(DoubleType), 2).as("revenue"))
  }

  private[operators] lazy val x41Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- X42
  /** DETERMINISTIC WEIGHTED SAMPLING without replacement (Efraimidis–
    * Spirakis A-RES), stratified by language: every document draws its
    * uniform u from md5(text) — content-addressed, so the sample is
    * REPRODUCIBLE across engines and reruns — and competes on the key
    * ln(u)/weight (weight = n_chars: longer docs proportionally likelier).
    * Top-20 keys per stratum win. This is the principled "sample by
    * quality/length" primitive (x18 is the unweighted cousin): map-side
    * key computation, ONE per-stratum top-k window — at 100 TB the top-k
    * is a partial-aggregated rank (no global sort), and the key needs no
    * RNG state, no seed distribution, no driver coordination. Keys are
    * rounded at 8dp before ranking so one-ulp ln() differences between
    * engines can't flip an order (doc_id breaks rounded ties). */
  private[operators] def x42(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("skey").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("hv", conv(substring(md5(col("text")), 1, 12), 16, 10).cast(LongType))
      .withColumn("skey",
        round(log((col("hv") + 0.5) / lit(281474976710656.0)) / col("n_chars"), 8))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 20)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("skey"), col("rnk"))
  }

  private[operators] lazy val x42Sql =
    """WITH t AS (SELECT doc_id, lang, n_chars,
      |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS hv FROM documents),
      |k AS (SELECT doc_id, lang, n_chars,
      |    round(ln((hv + 0.5) / 281474976710656.0) / n_chars, 8) AS skey FROM t)
      |SELECT lang, doc_id, n_chars, skey,
      |  CAST(row_number() OVER (PARTITION BY lang ORDER BY skey DESC, doc_id) AS INT) AS rnk
      |FROM k QUALIFY rnk <= 20""".stripMargin

  // ---------------------------------------------------------------- X50
  /** EQUI-DEPTH HISTOGRAM — the other histogram (x28 is equi-width): eight
    * buckets holding ~equal row counts, bounded by the 12.5%-step discrete
    * percentiles (the value at sorted position ⌈n·q⌉ — DuckDB
    * quantile_disc / SQL percentile_disc semantics). Discrete percentiles
    * pick ACTUAL data values (2-decimal prices), so the cut points — and
    * therefore every bucket assignment — are exact decimals with no
    * interpolation ulp risk. The cuts come from a DISTINCT-VALUE HISTOGRAM
    * selection, not Spark's percentile_disc aggregate (which buffers every
    * raw value in one task — measured 11 s at sf0.1 vs ~1 s for this
    * plan): one map-side-combined groupBy collapses the corpus to
    * (price, count), a cumulative-count window runs over DISTINCT values
    * only, and cut(q) = min price whose cumulative count reaches ⌈n·q⌉.
    * The window's single partition is bounded by the DECIMAL(8,2) price
    * DOMAIN (≤ ~10M narrow rows at ANY table size — domain-bounded, not
    * data-bounded), so the plan holds at 100 TB; the corpus-sized passes
    * (histogram build, bucket assignment) are map-side. Fully
    * deterministic: no RangePartitioner sampling anywhere — the r5
    * range-partition plan needed a persist() just to pin the sampler seed,
    * and paid a materialization plus a second scan for it. Equi-depth
    * bounds are what selectivity estimation and range-partitioner splits
    * are built from. */
  private[operators] def x50(spark: SparkSession, dir: String): DataFrame = {
    val qs = (1 to 7).map(_ * 0.125)
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("price"))
    // DISTINCT-VALUE HISTOGRAM selection (r6, replacing the r5
    // range-partition + offsets + local-rank plan): one map-side-combined
    // groupBy collapses the corpus to its distinct prices with counts;
    // cut(q) = min price whose cumulative count reaches ⌈n·q⌉ — the exact
    // percentile_disc value. Fully DETERMINISTIC (no RangePartitioner
    // sampling seed anywhere — the r5 persist() existed only to pin that
    // seed, and cost a materialization plus a second scan). The cumsum
    // window is single-partition over DISTINCT values only: bounded by the
    // DECIMAL(8,2) price DOMAIN (≤ ~10M rows at ANY table size — domain-
    // bounded, not data-bounded), narrow (value, count), so it holds at
    // 100 TB; the corpus-sized passes are the two scans (histogram build,
    // bucket assignment), both map-side against a broadcast.
    // n first, as its own action: a bare count() resolves from parquet
    // row-group STATS (no data scan, ~0.1 s), and inlining n as a literal
    // removes an entire second WindowExec pass over the distinct values
    // (the unboundedPreceding..unboundedFollowing total-sum frame cost
    // ~0.4 s of the old plan). Target ranks are exact integers:
    // ceil(n·k/8) = (n·k + 7) div 8 — no float ceil, no ulp risk.
    val n = li.count()
    val wCum = Window.orderBy(col("price")).rowsBetween(Window.unboundedPreceding, 0)
    // cuts as 7 SCALAR columns, not an array: the bucket assignment below
    // is then a sum of plain comparisons — fully codegen'd. (The first
    // draft used size(filter(cs, c -> price > c)); higher-order-function
    // expressions are interpreted per row and break the whole-stage span —
    // measured 1.0 s of the query on the lambda alone.)
    val cutCols = qs.indices.map { i =>
      min(when(col("cum") >= lit((n * (i + 1) + 7) / 8), col("price"))).as(s"cut$i")
    }
    // The second driver action fetches the 7 cut scalars and pins them as
    // LITERALS in the assignment scan — metadata-scale (the x2 df-cap /
    // x41 bloom-literal pattern): a broadcast join of the 1-row cut frame
    // would run as BroadcastNestedLoopJoin, which breaks whole-stage
    // codegen (measured +0.5 s on the 600 k-row pass)
    val cutsRow = li.groupBy(col("price")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .agg(cutCols.head, cutCols.tail: _*)
      .head()
    li.withColumn("bucket", qs.indices
        .map(i => when(col("price") > lit(cutsRow.get(i)), 1).otherwise(0))
        .reduce(_ + _).cast(IntegerType))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("price")).as("lo"), max(col("price")).as("hi"))
  }

  private[operators] lazy val x50Sql =
    """WITH cuts AS (SELECT quantile_disc(l_extendedprice,
      |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cs FROM lineitem)
      |SELECT CAST(len(list_filter(cs, c -> l_extendedprice > c)) AS INT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |FROM lineitem, cuts GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- X51
  /** IMAGE RESIZE through the multimodal pipeline (SURVEY X5 "resize"):
    * nearest-neighbor 2× downsample of every image payload as a
    * partition-batched typed transform, the resized raster re-decoded for
    * its stats. The oracle replays the SAME byte-level computation in SQL
    * (payload raster bytes are synthesized from the doc text, so the
    * sampled-pixel luma sum is expressible engine-side as exact integer
    * millis — x13's trick on the sampled grid). Pure map-side. */
  private[operators] def x51(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizeFeatures(Multimodal.fromDocuments(spark, dir), 2).toDF()

  private[operators] lazy val x51Sql = {
    // sampled-pixel luma: resized pixel p reads source pixel
    // ((p // wr)·2)·w + (p % wr)·2; raster byte k = ord(text[k % L])
    val src = "(((p // wr) * 2) * w + (p % wr) * 2)"
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS L,
       |    CAST(4 + n_chars % 12 AS INT) AS w,
       |    CAST(4 + (n_chars // 3) % 8 AS INT) AS h
       |  FROM documents WHERE n_chars % 3 = 0),
       |r AS (SELECT *, CAST((w + 1) // 2 AS INT) AS wr, CAST((h + 1) // 2 AS INT) AS hr FROM d)
       |SELECT doc_id, w AS src_w, h AS src_h, wr AS out_w, hr AS out_h,
       |  CAST(list_sum(list_transform(range(wr * hr),
       |    p -> 299 * ord(substr(text, CAST((3 * $src) % L AS INT) + 1, 1))
       |       + 587 * ord(substr(text, CAST((3 * $src + 1) % L AS INT) + 1, 1))
       |       + 114 * ord(substr(text, CAST((3 * $src + 2) % L AS INT) + 1, 1)))) AS DOUBLE)
       |    / (1000.0 * wr * hr) AS out_luma
       |FROM r""".stripMargin
  }

  // ---------------------------------------------------------------- X52
  /** FRAME SAMPLING through the multimodal pipeline (SURVEY X5
    * "frame-sample"): every 5th frame index of each video expands to a row
    * with its presentation timestamp — the map-side row-expansion shape of
    * video ingest. GFV0 carries one keyframe, so each sampled row carries
    * the keyframe's luma (a real MP4 codec would decode AT the index
    * through the same seam); indices, timestamps, and the expansion
    * contract are fully oracle-checked. */
  private[operators] def x52(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSamples(Multimodal.fromDocuments(spark, dir), 5).toDF()

  private[operators] lazy val x52Sql =
    """WITH v AS (
      |  SELECT doc_id, text, length(text) AS L,
      |    CAST(1 + n_chars % 30 AS INT) AS n_frames
      |  FROM documents WHERE n_chars % 3 = 2),
      |s AS (SELECT doc_id, text, L, CAST(unnest(range(0, n_frames, 5)) AS INT) AS frame_idx FROM v)
      |SELECT doc_id, frame_idx, CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
      |  CAST(list_sum(list_transform(range(48),
      |    p -> 299 * ord(substr(text, CAST((3 * p) % L AS INT) + 1, 1))
      |       + 587 * ord(substr(text, CAST((3 * p + 1) % L AS INT) + 1, 1))
      |       + 114 * ord(substr(text, CAST((3 * p + 2) % L AS INT) + 1, 1)))) AS DOUBLE)
      |    / (1000.0 * 48) AS luma
      |FROM s""".stripMargin


  // ---------------------------------------------------------------- X138
  /** VIDEO SCENE-CUT DETECTION — the temporal-segmentation member of the
    * multimodal family (x51 resize, x52 frame sample, x94/x95 perceptual
    * dedup are spatial; this is the first operator over the TIME axis):
    * per video, consecutive-frame luma deltas flag cuts under the
    * self-normalized integer rule 50·n_frames·Δ ≥ Σ luma (2% of the
    * video's own mean frame luma — corpus-independent, no floats; at
    * sf0.01 it flags cuts in 70 of 164 videos, so the rule
    * discriminates), plus the strongest cut's frame index. Frame f's
    * luma is the keyframe rotated 7 px/frame under a FIXED spatial
    * weight mask ([[MediaCodecs.frameLumaSums]] — the weights are
    * load-bearing: an unweighted rotated sum permutes the same byte
    * multiset and every delta is identically zero, measured before this
    * design; a real codec decodes the actual frame through the same
    * seam). Scale shape: the ENTIRE
    * summary reduces inside the partition-batched decode pass — zero
    * shuffles, zero joins; at 100 TB this is one embarrassingly-parallel
    * scan of the video column. The oracle recomputes the same rotated
    * luma algebra from the synthesis contract's text bytes (the
    * x94/x51/x52 trick) and window-lags in SQL — different machinery,
    * identical integers. */
  private[operators] def x138(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sceneCuts(Multimodal.fromDocuments(spark, dir)).toDF()

  private[operators] lazy val x138Sql = {
    def byte(k: String) = s"ord(substr(text, (($k) % 144) % L + 1, 1))"
    def lum(q: String) =
      s"""(299 * ${byte(s"3 * ($q)")}
         | + 587 * ${byte(s"3 * ($q) + 1")}
         | + 114 * ${byte(s"3 * ($q) + 2")})""".stripMargin
    s"""WITH v AS (
       |  SELECT doc_id, text, length(text) AS L,
       |    CAST(1 + n_chars % 30 AS INT) AS nf
       |  FROM documents WHERE n_chars % 3 = 2 AND 1 + n_chars % 30 >= 2),
       |fl AS (
       |  SELECT doc_id, nf, f,
       |    CAST(list_sum(list_transform(range(48), p ->
       |      (1 + p % 3) * ${lum("(p + 7 * f) % 48")})) AS BIGINT) AS s
       |  FROM (SELECT doc_id, text, L, nf, CAST(unnest(range(nf)) AS INT) AS f FROM v)),
       |d AS (SELECT doc_id, nf, f, s,
       |    abs(s - lag(s) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
       |  FROM fl),
       |t AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS tot FROM fl GROUP BY 1),
       |mx AS (SELECT doc_id, CAST(max(delta) AS BIGINT) AS max_delta
       |       FROM d WHERE delta IS NOT NULL GROUP BY 1)
       |SELECT d.doc_id, d.nf AS n_frames,
       |  CAST(sum(CASE WHEN 50 * d.delta * d.nf >= t.tot THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       |  mx.max_delta,
       |  CAST(min(CASE WHEN d.delta = mx.max_delta THEN d.f END) AS INT) AS cut_frame
       |FROM d JOIN t USING (doc_id) JOIN mx USING (doc_id)
       |WHERE d.delta IS NOT NULL
       |GROUP BY d.doc_id, d.nf, mx.max_delta""".stripMargin
  }

  // ---------------------------------------------------------------- X53
  /** NULL IMPUTATION by group statistic — the feature-cleaning step before
    * any numeric feature reaches training: values knocked out by a
    * deterministic corruption rule (event_id % 13 = 0, mirroring x22's
    * planted-PII pattern) are filled with their event type's LOWER MEDIAN
    * (percentile-disc semantics — an actual data value, no interpolation),
    * computed per group over the surviving values. Group medians via the
    * x50 selection recipe collapsed to a per-group window rank (groups are
    * the partition key, so the rank window is fully distributed); the
    * k-group median table broadcasts back. Flags carried so downstream can
    * weight imputed rows. */
  private[operators] def x53(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 13 === 0, lit(null)).otherwise(col("value")).as("value"))
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wCnt = Window.partitionBy(col("event_type"))
    val medians = ev.filter(col("value").isNotNull)
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wCnt))
      .filter(col("rn") === expr("(n + 1) div 2")) // lower median: ceil(n/2), integer div
      .select(col("event_type"), col("value").as("group_median"))
    ev.join(broadcast(medians), "event_type")
      .select(col("event_id"), col("event_type"),
        col("value").isNull.as("imputed"),
        coalesce(col("value"), col("group_median")).as("value_filled"),
        col("group_median"))
  }

  private[operators] lazy val x53Sql =
    """WITH ev AS (SELECT event_id, event_type,
      |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
      |  FROM events),
      |m AS (SELECT event_type, value AS group_median FROM (
      |    SELECT event_type, value,
      |      row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |      count(*) OVER (PARTITION BY event_type) AS n
      |    FROM ev WHERE value IS NOT NULL) t
      |  WHERE rn = (n + 1) // 2)
      |SELECT event_id, ev.event_type, value IS NULL AS imputed,
      |  coalesce(value, group_median) AS value_filled, group_median
      |FROM ev JOIN m ON ev.event_type = m.event_type""".stripMargin

  // ---------------------------------------------------------------- X54
  /** TRAIN/VAL/TEST SPLIT — deterministic 80/10/10 partitioning by a
    * content-addressed hash bucket (md5(text) % 100, the x18/x42 recipe):
    * the same document lands in the same split on every run, every
    * engine, every partitioning — the property that keeps eval sets
    * uncontaminated across pipeline re-runs (a seeded RNG split silently
    * reshuffles when row order changes; a content hash cannot). Output is
    * the split manifest: per (split, lang) counts and within-split shares
    * — the balance check run before any training job. The share is an
    * integer MICRO-share ((n_docs·10⁶) div n_split, the x12/x38 exact-
    * contract recipe) so the manifest is bit-identical across engines —
    * a 6dp-rounded double here differs by one ulp between Spark and
    * DuckDB rounding. Map-side bucket + one aggregation + a 3-row
    * broadcast of split totals.
    *
    * r8 root cause of the r5–r7 driver-red streak: the oracle's
    * `sum(n_docs)` is HUGEINT in DuckDB, and x54/x58 were the ONLY two
    * of 202 oracles whose FINAL projection leaked one (audited
    * in-sandbox: duckdb 1.0.0 `.df()` renders HUGEINT 5 as float64
    * `5.000000`, `.arrow()` as Decimal — either diverges from Spark's
    * LONG `5` under a pandas/arrow canon, while `fetchall()` matches,
    * which is why every local replica run was green). Values were never
    * wrong; the output TYPE was non-portable. Fixed by casting the
    * oracle's n_split to BIGINT; tools/selfcheck.py now fails any
    * oracle emitting HUGEINT/DECIMAL. */
  private[operators] def x54(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = Tables.documents(spark, dir)
      .withColumn("b", pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType), lit(100L)))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
    val perCell = bucketed.groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n_docs"))
    val totals = perCell.groupBy(col("split")).agg(sum(col("n_docs")).as("n_split"))
    perCell.join(broadcast(totals), "split")
      .select(col("split"), col("lang"), col("n_docs"), col("n_split"),
        expr("(n_docs * 1000000L) div n_split").as("share_ppm"))
  }

  private[operators] lazy val x54Sql =
    """WITH b AS (SELECT lang,
      |    CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 80 THEN 'train'
      |         WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |cell AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs FROM b GROUP BY 1, 2),
      |tot AS (SELECT split, CAST(sum(n_docs) AS BIGINT) AS n_split FROM cell GROUP BY 1)
      |SELECT cell.split, lang, n_docs, n_split,
      |  CAST((n_docs * 1000000) // n_split AS BIGINT) AS share_ppm
      |FROM cell JOIN tot ON cell.split = tot.split""".stripMargin

  // ---------------------------------------------------------------- X55
  /** EVENT-SEQUENCE (training-episode) CONSTRUCTION — the behavioral-
    * pretraining shape: each user's event log becomes one ordered episode
    * of its FIRST 32 events by (µs timestamp, event_id), emitted as a
    * manifest row (length, time span, and the sha256 fingerprint of the
    * ordered event-type sequence — the content address a sequence store
    * would key on). Scale shape: the rank window is partitioned by
    * user_id and filtered rn ≤ 32, so WindowGroupLimit prunes each
    * user's tail map-side before the ordered collect (per-user state is
    * ≤ 32 rows by construction, never the raw log), and the groupBy
    * reuses the window's hash partitioning — one shuffle total. The
    * in-group sort + fingerprint run over ≤ 32-element arrays (HOFs are
    * fine off the corpus-sized path). Timestamps are compared at µs on
    * both engines (the ns→µs floor is the documented oracle protocol). */
  private[operators] def x55(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"), col("event_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 32)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).cast(IntegerType).as("seq_len"),
        min(col("us")).as("first_us"),
        max(col("us")).as("last_us"),
        sha2(array_join(
          expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"),
          " "), 256).as("seq_hash"))
  }

  private[operators] lazy val x55Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
      |      FROM e)
      |SELECT user_id, CAST(count(*) AS INT) AS seq_len,
      |  min(us) AS first_us, max(us) AS last_us,
      |  sha256(string_agg(event_type, ' ' ORDER BY rn)) AS seq_hash
      |FROM r WHERE rn <= 32 GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- X60
  /** PER-GROUP WINSORIZATION — feature preprocessing: clip each event's
    * value to its event_type's [p05, p95] band so tail outliers can't
    * dominate a downstream normalization or loss. The cut points are
    * DISCRETE rank quantiles (value at rank ⌈0.05·n⌉ / ⌈0.95·n⌉ — actual
    * data values, x53's lower-median mechanics generalized), so there is
    * no interpolation arithmetic to drift between engines, and the
    * clipped output is a pass-through double (bit-identical). Scale
    * shape: one rank window per group computes both cuts in a single
    * shuffle, the k-row cut table broadcasts back, and the clip itself
    * is map-side (`greatest(lo, least(hi, v))`). */
  private[operators] def x60(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wCnt = Window.partitionBy(col("event_type"))
    val cuts = ev
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wCnt))
      .filter(col("rn") === expr("(n + 19) div 20") ||
        col("rn") === expr("(19 * n + 19) div 20"))
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.join(broadcast(cuts), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        greatest(col("lo"), least(col("hi"), col("value"))).as("value_clipped"),
        (col("value") < col("lo") || col("value") > col("hi")).as("clipped"))
  }

  private[operators] lazy val x60Sql =
    """WITH ev AS (SELECT event_id, event_type, value FROM events),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev),
      |c AS (SELECT event_type, min(value) AS lo, max(value) AS hi FROM r
      |  WHERE rn = (n + 19) // 20 OR rn = (19 * n + 19) // 20 GROUP BY 1)
      |SELECT event_id, ev.event_type, value,
      |  greatest(lo, least(hi, value)) AS value_clipped,
      |  (value < lo OR value > hi) AS clipped
      |FROM ev JOIN c ON ev.event_type = c.event_type""".stripMargin

  // ---------------------------------------------------------------- X62
  /** PER-SOURCE QUALITY SCORECARD — the crawl-inclusion dashboard: one
    * row per source with volume (docs, tokens), quality (x8's per-doc
    * score summed as exact integer micros — a double mean would be
    * summation-order-dependent), gate-pass count, and exact-duplicate
    * exposure (docs sharing a sha256 with any other doc). The decision
    * table behind "which sources stay in the next crawl". Scale shape:
    * duplicate membership is ONE window count over the content hash (the
    * shuffle carries 64 hex chars + id, never text); x8's quality kernels
    * are map-side codegen; the final rollup is a |sources|-row
    * aggregation with map-side combine. */
  private[operators] def x62(spark: SparkSession, dir: String): DataFrame = {
    val wTh = Window.partitionBy(col("th"))
    // ONE corpus scan: the quality kernels ride the same projection as the
    // content hash (withQualityKernels is map-side codegen), so the only
    // data movements are the th window shuffle and the |sources|-row agg
    withQualityKernels(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("th"),
        col("n_tokens"), col("n_unique"), col("n_stop"), col("is_quality"))
      .withColumn("n_copies", count(lit(1)).over(wTh))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast(LongType)).as("total_tokens"),
        // quality_score = (n_unique + n_tokens - n_stop)/(2·n_tokens):
        // round(qs·10⁶) computed as the exact integer rational with
        // half-up rounding (r7 — the audit caught real documents whose
        // qs·10⁶ lands EXACTLY on a .5 boundary, the x58 failure class)
        sum(expr("""((CAST(n_unique AS BIGINT) + n_tokens - n_stop) * 1000000
                   | + n_tokens) div (2L * n_tokens)""".stripMargin))
          .as("quality_micros"),
        sum(col("is_quality").cast(LongType)).as("n_quality"),
        sum((col("n_copies") > 1).cast(LongType)).as("n_dup_docs"))
      .withColumn("mean_quality_micros", expr("quality_micros div n_docs"))
      .withColumn("dup_ppm", expr("(n_dup_docs * 1000000L) div n_docs"))
  }

  private[operators] lazy val x62Sql =
    s"""WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS tk FROM documents),
       |k AS (SELECT doc_id, source,
       |        CAST(len(tk) AS BIGINT) AS n_tokens,
       |        CAST(len(list_distinct(tk)) AS BIGINT) AS n_unique,
       |        CAST(len(list_filter(tk, x -> x IN ($stopwordsSqlList))) AS BIGINT) AS n_stop,
       |        count(*) OVER (PARTITION BY sha256(text)) AS n_copies
       |      FROM t),
       |q AS (SELECT *,
       |        ((n_unique + n_tokens - n_stop) * 1000000 + n_tokens) // (2 * n_tokens) AS qm,
       |        (CAST(n_unique AS DOUBLE) / n_tokens) * 0.5
       |          + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 >= 0.5
       |          AND n_tokens >= 20 AS is_quality
       |      FROM k)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(qm) AS BIGINT) AS quality_micros,
       |  CAST(sum(CASE WHEN is_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |  CAST(sum(qm) // count(*) AS BIGINT) AS mean_quality_micros,
       |  CAST((sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS dup_ppm
       |FROM q GROUP BY source""".stripMargin

  // ---------------------------------------------------------------- X66
  /** SLIDING-WINDOW CHUNK MANIFEST — the context-window preprocessing
    * step every LM pipeline runs before packing: cut each document into
    * 64-token windows at stride 48 (16-token overlap so no boundary
    * bigram is ever lost), and emit the manifest row a downstream reader
    * needs — (doc, chunk index, start offset, length, content hash).
    * The hash is sha256 of the space-rejoined chunk, so a chunk is
    * content-addressed independently of which document produced it
    * (chunk-level dedup composes directly on top). Scale shape: this is
    * a PURE MAP-SIDE op — sequence+explode inside one projection, ZERO
    * shuffles, no state — the best possible 100 TB plan (each input
    * split writes its chunk manifest independently). */
  private[operators] def x66(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"),
        explode(sequence(lit(0), size(col("tk")) - 1, lit(48))).as("st"))
      .select(col("doc_id"),
        expr("st div 48").cast(IntegerType).as("chunk_idx"),
        col("st").cast(IntegerType).as("start_tok"),
        least(lit(64), col("n") - col("st")).cast(IntegerType).as("chunk_len"),
        sha2(array_join(expr("slice(tk, st + 1, least(64, n - st))"), " "), 256)
          .as("chunk_hash"))

  private[operators] lazy val x66Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |s AS (SELECT doc_id, tk, len(tk) AS n, unnest(range(0, len(tk), 48)) AS st FROM d)
      |SELECT doc_id, CAST(st // 48 AS INT) AS chunk_idx, CAST(st AS INT) AS start_tok,
      |  CAST(least(64, n - st) AS INT) AS chunk_len,
      |  sha256(array_to_string(list_slice(tk, st + 1, st + least(64, n - st)), ' ')) AS chunk_hash
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- X67
  /** BALANCED SHARD PLANNER — deterministic output-file planning: assign
    * every document to one of 16 shards by SNAKE ORDER over the global
    * (n_tokens DESC, doc_id) rank — the classic greedy bin-balancer that
    * keeps per-shard token totals within one document of each other
    * without any driver-side loop. The global rank is NOT a global
    * single-partition window (the percentile trap, x50's lesson): it
    * decomposes into a DISTINCT-VALUE cumulative count (domain-bounded —
    * the token-count domain, not the corpus) broadcast back, plus a
    * PER-VALUE row_number window (partitioned by n_tokens — parallel,
    * data-bounded only within one distinct value). At 100 TB the corpus
    * is scanned once map-side against the broadcast histogram; the only
    * corpus shuffle is the per-value rank window, keyed on a
    * high-cardinality column. Output is the 16-row shard manifest a
    * writer would consume as its partition plan. */
  private[operators] def x67(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks(col("text"))).cast(LongType).as("n_tokens"))
    // cum_before(v) = #docs with MORE tokens than v: a window over the
    // DISTINCT token counts only (domain-bounded single partition — the
    // x50 argument), then broadcast; never a corpus-sized global window
    val wCum = Window.orderBy(col("n_tokens").desc).rowsBetween(Window.unboundedPreceding, -1)
    val hist = t.groupBy(col("n_tokens")).agg(count(lit(1)).as("c"))
      .withColumn("cum_before", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .select(col("n_tokens"), col("cum_before"))
    val wIn = Window.partitionBy(col("n_tokens")).orderBy(col("doc_id"))
    t.join(broadcast(hist), "n_tokens")
      .withColumn("pos", col("cum_before") + row_number().over(wIn) - lit(1))
      .withColumn("shard",
        when(expr("pos div 16") % 2 === 0, col("pos") % 16)
          .otherwise(lit(15) - col("pos") % 16).cast(IntegerType))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_doc_tokens"), max(col("n_tokens")).as("max_doc_tokens"))
  }

  private[operators] lazy val x67Sql =
    """WITH t AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |r AS (SELECT n_tokens,
      |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS pos FROM t),
      |s AS (SELECT n_tokens, CASE WHEN (pos // 16) % 2 = 0 THEN pos % 16
      |                            ELSE 15 - pos % 16 END AS shard FROM r)
      |SELECT CAST(shard AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  min(n_tokens) AS min_doc_tokens, max(n_tokens) AS max_doc_tokens
      |FROM s GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- X72
  /** TOKEN-BUDGET WATERFILLING — the data-mixture planner: given a token
    * budget (half the corpus here), allocate it across sources by the
    * max-min fair rule — every source keeps all its tokens up to a common
    * water level T, sources below the level keep everything — with the
    * integer remainder distributed deterministically so allocations SUM TO
    * THE BUDGET EXACTLY (the per-source sampling rates a mixture run would
    * execute). The closed form needs one sorted scan: the first source (by
    * availability ascending) whose `avail × remaining_sources + cum_before`
    * reaches the budget pins the level. Scale shape: ONE corpus
    * aggregation produces the |sources|-row frame; everything after —
    * total/count, the pivot search, the level itself — is GLOBAL WINDOWS
    * over that tiny frame (no self-joins: a branch per derived scalar
    * would re-run the corpus scan once per branch), so at 100 TB the
    * planner costs one map-side-combined count, nothing else. */
  private[operators] def x72(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast(LongType).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("avail"))
    // |sources|-row frame from here down — global windows are fine
    val wAsc = Window.orderBy(col("avail").asc, col("source").asc)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    a
      .withColumn("idx", row_number().over(wAsc).cast(LongType))
      .withColumn("cumb", coalesce(
        sum(col("avail")).over(wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("budget", expr("sum(avail) over () div 2"))
      // pivot: first (avail-ascending) row whose uniform fill reaches the
      // budget — found with a global min over an eligibility-masked struct
      .withColumn("j", min(when(
        col("avail") * (col("m") - col("idx") + 1) + col("cumb") >= col("budget"),
        struct(col("idx"), col("cumb")))).over(wAll))
      .withColumn("j0", col("j.idx")).withColumn("c0", col("j.cumb"))
      .withColumn("u", col("m") - col("j0") + 1)
      .withColumn("t", expr("(budget - c0) div u"))
      .withColumn("rem", expr("(budget - c0) % u"))
      .withColumn("capped", col("idx") < col("j0"))
      // +1 remainder tokens go to the first `rem` uncapped sources in
      // source order — deterministic, and T+1 ≤ avail is guaranteed
      // (rem > 0 forces every uncapped avail ≥ T+1)
      .withColumn("urn", sum(when(col("idx") >= col("j0"), 1L).otherwise(0L))
        .over(Window.orderBy(col("source").asc).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("alloc_tokens", when(col("capped"), col("avail"))
        .otherwise(col("t") + when(col("urn") <= col("rem"), 1L).otherwise(0L)))
      .withColumn("rate_ppm", expr("(alloc_tokens * 1000000) div avail"))
      .select(col("source"), col("avail").as("avail_tokens"),
        col("alloc_tokens"), col("rate_ppm"), col("capped"))
  }

  private[operators] lazy val x72Sql =
    """WITH a AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
      |  FROM documents GROUP BY source),
      |s AS (SELECT source, avail,
      |    CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT) AS idx,
      |    CAST(coalesce(sum(avail) OVER (ORDER BY avail, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
      |    CAST(count(*) OVER () AS BIGINT) AS m,
      |    CAST(sum(avail) OVER () AS BIGINT) AS total
      |  FROM a),
      |s2 AS (SELECT *, total // 2 AS budget FROM s),
      |j AS (SELECT min(idx) AS j0 FROM s2
      |      WHERE avail * (m - idx + 1) + cumb >= budget),
      |c AS (SELECT cumb AS c0 FROM s2, j WHERE idx = j0),
      |o AS (SELECT s2.*, j0, c0,
      |        (budget - c0) // (m - j0 + 1) AS t,
      |        (budget - c0) % (m - j0 + 1) AS rem,
      |        idx < j0 AS capped,
      |        CAST(sum(CASE WHEN idx >= j0 THEN 1 ELSE 0 END) OVER
      |          (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS urn
      |      FROM s2, j, c)
      |SELECT source, avail AS avail_tokens,
      |  CAST(CASE WHEN capped THEN avail
      |       ELSE t + CASE WHEN urn <= rem THEN 1 ELSE 0 END END AS BIGINT) AS alloc_tokens,
      |  CAST((CASE WHEN capped THEN avail
      |       ELSE t + CASE WHEN urn <= rem THEN 1 ELSE 0 END END * 1000000) // avail
      |    AS BIGINT) AS rate_ppm,
      |  capped
      |FROM o""".stripMargin

  // ---------------------------------------------------------------- X75
  /** GAP SESSIONIZATION — the batch form of the session primitive (qs2
    * streams it with Spark's session windows): a user's event log breaks
    * into sessions wherever the gap to the previous event exceeds 30
    * minutes; each session reports its size, span, distinct event types,
    * and micro-exact value sum. Shape: ONE shuffle on user_id — the gap
    * lag and the running break-count share the same (partition, order)
    * spec so the second window rides the first one's sort, and the final
    * per-session aggregation's ClusteredDistribution(user_id, session_idx)
    * is already satisfied by hashpartitioning(user_id) (co-located by
    * construction), so no second exchange exists. Per-user state is the
    * sort buffer, not the session — nothing accumulates beyond the
    * partition sort at 100 TB. Timestamps compare at µs (the documented
    * ns→µs oracle protocol). */
  private[operators] def x75(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"), col("event_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"),
      col("event_type"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    ev
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("brk",
        when(col("gap").isNull || col("gap") > lit(1800000000L), 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast(IntegerType))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_event_types"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        sum(round(col("value") * lit(1e6), 0).cast(LongType)).as("value_micros"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  private[operators] lazy val x75Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
      |             event_type, value FROM events),
      |g AS (SELECT *, us - lag(us) OVER
      |        (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e),
      |s AS (SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000
      |          THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_idx
      |      FROM g)
      |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
      |  min(us) AS start_us, max(us) AS end_us,
      |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micros,
      |  max(us) - min(us) AS duration_us
      |FROM s GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- X76
  /** SEQUENCE-PACKING MANIFEST — the pretraining packer: the corpus is one
    * global token stream (documents concatenated in doc_id order) cut into
    * fixed 2048-token training sequences, documents SPLITTING across cuts
    * (the standard packing discipline — zero padding, every sequence
    * exactly full). Output: one manifest row per (document × sequence it
    * touches) with the in-doc token offset — exactly what a loader needs
    * to assemble sequence `seq_id` without ever materializing the stream.
    * Shape: the global token offset is a TWO-LEVEL cumsum (the x67
    * decomposition): per-bucket totals (doc_id div 1024) cumsum'd on the
    * bucket-count-sized frame and broadcast back, plus an intra-bucket
    * running sum — no corpus-wide single-partition window anywhere. The
    * bin fan-out (explode over the [first,last] sequence range) is
    * map-side; a doc emits 1 + ⌈nt/2048⌉ rows at most. */
  private[operators] def x76(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks(col("text"))).cast(LongType).as("nt"))
      .filter(col("nt") > 0)
      .withColumn("bkt", expr("doc_id div 1024"))
    val wB = Window.orderBy(col("bkt"))
    val bbase = d.groupBy(col("bkt")).agg(sum(col("nt")).as("bt"))
      .withColumn("bbase", coalesce(
        sum(col("bt")).over(wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("bbase"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
    d.join(broadcast(bbase), Seq("bkt"))
      .withColumn("start", col("bbase") + coalesce(
        sum(col("nt")).over(wIn.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("fin", col("start") + col("nt"))
      .withColumn("seq_id", explode(expr("sequence(start div 2048, (fin - 1) div 2048)")))
      .select(col("doc_id"), col("seq_id"),
        (greatest(col("start"), col("seq_id") * 2048) - col("start"))
          .cast(IntegerType).as("tok_offset"),
        (least(col("fin"), (col("seq_id") + 1) * 2048) -
          greatest(col("start"), col("seq_id") * 2048))
          .cast(IntegerType).as("n_tokens"))
  }

  private[operators] lazy val x76Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
      |o AS (SELECT doc_id, nt, CAST(coalesce(sum(nt) OVER (ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
      |      FROM d WHERE nt > 0),
      |e AS (SELECT doc_id, nt, start, start + nt AS fin,
      |        unnest(range(start // 2048, (start + nt - 1) // 2048 + 1)) AS seq_id
      |      FROM o)
      |SELECT doc_id, seq_id,
      |  CAST(greatest(start, seq_id * 2048) - start AS INT) AS tok_offset,
      |  CAST(least(fin, (seq_id + 1) * 2048) - greatest(start, seq_id * 2048)
      |    AS INT) AS n_tokens
      |FROM e""".stripMargin

  // ---------------------------------------------------------------- X79
  /** SOURCE LENGTH-DRIFT (Kolmogorov–Smirnov) — the distribution-shape
    * complement of x63's token-unigram KL: per source, the KS statistic
    * between that source's document-length distribution and the whole
    * corpus's (sup over the step points of |F_src − F_corpus|) — the
    * "this crawl's documents suddenly got short" detector that unigram
    * KL cannot see. Exactness: both CDFs stay INTEGER counts; each
    * step-point deviation compares via cross-multiplication
    * (|cum_src·n_all − cum_all·n_src|), and only the final sup converts
    * to ppm by integer division — no float CDFs to disagree on. Shape:
    * one corpus aggregation to the |sources|·|lengths| frame; the
    * evaluation grid (every source × every observed length — the sup
    * must check BOTH distributions' step points) is a domain-bounded
    * broadcast cross join, windows ride the tiny frame. (Cross-products
    * stay in int64 up to ~3e9 docs; past that the ppm quantization drops
    * to per-mille — one literal.) */
  private[operators] def x79(spark: SparkSession, dir: String): DataFrame = {
    // persisted: FOUR consumers branch off this domain-bounded frame
    // (lens, srcs, global CDF, grid join-back) — without the persist each
    // branch would re-run the corpus scan+aggregation
    val sl = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast(LongType).as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
      .persist()
    // |sources|·|lengths|-bounded from here down
    val lens = sl.select(col("len")).distinct()
    val srcs = sl.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val globCum = sl.groupBy(col("len")).agg(sum(col("c")).as("g"))
      .withColumn("cum_all", sum(col("g")).over(
        Window.orderBy(col("len")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_all", sum(col("g")).over(wAll))
      .select(col("len"), col("cum_all"), col("n_all"))
    srcs.crossJoin(broadcast(lens))
      .join(sl, Seq("source", "len"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum_src", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(globCum), Seq("len"))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_docs"),
        max(expr("(abs(cum_src * n_all - cum_all * n_src) * 1000000) div (n_src * n_all)"))
          .as("ks_ppm"))
  }

  private[operators] lazy val x79Sql =
    """WITH d AS (SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
      |sl AS (SELECT source, len, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
      |lens AS (SELECT DISTINCT len FROM sl),
      |srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM sl GROUP BY 1),
      |g AS (SELECT len, CAST(sum(c) AS BIGINT) AS g FROM sl GROUP BY 1),
      |gc AS (SELECT len,
      |    CAST(sum(g) OVER (ORDER BY len
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all,
      |    CAST(sum(g) OVER () AS BIGINT) AS n_all FROM g),
      |grid AS (SELECT s.source, s.n_src, l.len, coalesce(sl.c, 0) AS c
      |         FROM srcs s CROSS JOIN lens l
      |         LEFT JOIN sl ON sl.source = s.source AND sl.len = l.len),
      |cs AS (SELECT source, n_src, len,
      |    CAST(sum(c) OVER (PARTITION BY source ORDER BY len
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_src
      |  FROM grid)
      |SELECT cs.source, max(cs.n_src) AS n_docs,
      |  max((abs(cs.cum_src * gc.n_all - gc.cum_all * cs.n_src) * 1000000)
      |    // (cs.n_src * gc.n_all)) AS ks_ppm
      |FROM cs JOIN gc ON cs.len = gc.len
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- X82
  /** DSIR-STYLE IMPORTANCE RESAMPLING — Data Selection via Importance
    * Resampling (Xie et al., 2023): pick the raw-corpus documents whose
    * token distribution most resembles a TARGET domain (here: the
    * `lang = 'en'` slice), by (1) estimating target and raw LMs over the
    * paper's HASHED n-gram features (bigrams md5-bucketed into 10 000
    * ids — unigrams alone carry no signal on a shared vocabulary),
    * (2) scoring each document with its add-1-smoothed log-likelihood
    * ratio Σ_features ln(p_tgt/p_raw) — the document's importance
    * log-weight — and (3) Gumbel-top-k resampling WITHOUT replacement
    * (key = log-weight + Gumbel noise ⇒ a sample ∝ softmax of the
    * weights), with the Gumbel uniform CONTENT-ADDRESSED from md5(text)
    * (the x42 discipline) so selection is reproducible across engines,
    * re-runs, and partitionings. Exactness: both LMs come from integer
    * counts; each feature's log-ratio is nano-quantized to int64 BEFORE
    * the per-doc sum (order-free integer aggregation — the x63/x65
    * recipe); the Gumbel key is one IEEE expression over identical
    * inputs, rounded to 8dp and ranked with a doc_id tiebreak. Shape:
    * TWO corpus scans and ZERO corpus shuffles — pass 1 aggregates
    * feature occurrences to the 10k-key LM (map-side combined, the only
    * exchange is 10k rows) and pins it as a literal lookup table (the
    * x58/x41 discipline); pass 2 scores every document MAP-SIDE by
    * folding its feature ids through that literal, and the top-200 is a
    * distributed TakeOrderedAndProject, never a global sort. The r6
    * rewrite: the first version shuffled a (doc, fid, tf) frame and
    * joined the LM back — 2.7 s vs DuckDB's 0.2; the join was spelling
    * a map-side lookup. */
  /** x82's PASS 1, reusable (qs17 scores a STREAM against it): the
    * 10k-entry DSIR LM — per hashed-bigram feature, the add-1-smoothed
    * nano-quantized log-likelihood ratio toward the `en` slice. One
    * corpus scan, one 10k-key map-side-combined aggregation, collected
    * (the x58 pinned-literal discipline — the LM is model metadata, not
    * data). Driver-side Math.log IS the function Spark executors would
    * run, so this is bit-identical to computing it in the plan (and the
    * oracle's DuckDB ln agrees after nano rounding — x63/x65). */
  private[graft] def dsirLlrTable(spark: SparkSession, dir: String): Array[Long] = {
    val counts = Tables.documents(spark, dir)
      .withColumn("fids", expr("graft_bigram_buckets(split(text, ' '), 10000)"))
      .select(col("lang"), explode(col("fids")).as("fid"))
      .groupBy(col("fid"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val nRaw = counts.valuesIterator.map(_._1).sum
    val nTgt = counts.valuesIterator.map(_._2).sum
    val nV = counts.size.toLong
    Array.tabulate(10000) { f =>
      counts.get(f).fold(0L) { case (cr, ct) =>
        math.round((math.log((ct + 1).toDouble / (nTgt + nV)) -
          math.log((cr + 1).toDouble / (nRaw + nV))) * 1e9)
      }
    }
  }

  private[operators] def x82(spark: SparkSession, dir: String): DataFrame = {
    // hashed bigram feature ids per doc: md5("w1 w2") → bucket in [0,1e4),
    // multiplicity kept — one codegen'd kernel call, no per-pair string
    // Columns, no hex round-trip (graft_bigram_buckets ≡ the oracle's
    // ('0x'||substr(md5(w1||' '||w2),1,8))::BIGINT % 10000)
    def feats = Tables.documents(spark, dir)
      .withColumn("fids", expr("graft_bigram_buckets(split(text, ' '), 10000)"))
    val llr = dsirLlrTable(spark, dir)
    // PASS 2 — scoring is pure MAP-SIDE: fold each doc's feature ids
    // through the 10k-entry literal table (no join, no corpus shuffle),
    // then a DISTRIBUTED top-k (TakeOrderedAndProject) — never a global
    // sort or a corpus-wide window
    val llrLit = lit(llr)
    val scored = feats
      .withColumn("hv", conv(substring(md5(col("text")), 1, 12), 16, 10).cast(LongType))
      .select(col("doc_id"), col("lang"), col("source"), col("hv"),
        aggregate(col("fids"), lit(0L),
          (acc, f) => acc + element_at(llrLit, f.cast(IntegerType) + 1)).as("score_nano"),
        size(col("fids")).cast(LongType).as("n_feats"))
      .withColumn("gkey", round(
        col("score_nano") / lit(1e9) -
          log(-log((col("hv") + 0.5) / lit(281474976710656.0))), 8))
      .orderBy(col("gkey").desc, col("doc_id").asc).limit(200)
    scored
      .withColumn("sel_rank", row_number().over( // 200-row frame: bounded
        Window.orderBy(col("gkey").desc, col("doc_id").asc)))
      .select(col("sel_rank"), col("doc_id"), col("lang"), col("source"),
        col("n_feats"), col("score_nano"), col("gkey"))
  }

  private[operators] lazy val x82Sql =
    """WITH d AS (SELECT doc_id, lang, source,
      |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS hv,
      |    string_split(text, ' ') AS tk
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, lang, source, hv,
      |    ('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 8))::BIGINT % 10000 AS fid,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, lang, source, hv, tk, unnest(range(1, len(tk))) AS i FROM d)
      |  GROUP BY ALL),
      |lm AS (
      |  SELECT fid, CAST(sum(tf) AS BIGINT) AS c_raw,
      |    CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS c_tgt
      |  FROM tf GROUP BY fid),
      |tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
      |    CAST(sum(c_tgt) AS BIGINT) AS n_tgt,
      |    CAST(count(*) AS BIGINT) AS v FROM lm),
      |llr AS (SELECT fid,
      |    CAST(round((ln((c_tgt + 1) / CAST(n_tgt + v AS DOUBLE)) -
      |      ln((c_raw + 1) / CAST(n_raw + v AS DOUBLE))) * 1e9) AS BIGINT) AS llr_nano
      |  FROM lm, tot),
      |sc AS (SELECT t.doc_id, t.lang, t.source, t.hv,
      |    CAST(sum(t.tf * l.llr_nano) AS BIGINT) AS score_nano,
      |    CAST(sum(t.tf) AS BIGINT) AS n_feats
      |  FROM tf t JOIN llr l ON t.fid = l.fid
      |  GROUP BY t.doc_id, t.lang, t.source, t.hv),
      |g AS (SELECT *, round(score_nano / 1e9 -
      |    ln(-ln((hv + 0.5) / 281474976710656.0)), 8) AS gkey FROM sc)
      |SELECT CAST(row_number() OVER (ORDER BY gkey DESC, doc_id) AS INT) AS sel_rank,
      |  doc_id, lang, source, n_feats, score_nano, gkey
      |FROM g QUALIFY sel_rank <= 200""".stripMargin

  // ---------------------------------------------------------------- X85
  /** INCREMENTAL STATISTICS MAINTENANCE — column statistics as a MONOID:
    * yesterday's per-language stats and today's delta stats each reduce
    * to mergeable partials (count, sum, sum-of-squares, min, max — the
    * q18 integer-moment recipe), and the union RE-AGGREGATES to exactly
    * the full-corpus statistics without rescanning the old 90%. This is
    * the operation that makes per-artifact statistics (F38's pre-publish
    * gate) affordable at 100 TB: a daily stats refresh touches ONLY the
    * delta partition, yet the published numbers are bit-identical to a
    * full rescan — which is precisely what the oracle asserts (it IS the
    * full rescan). Exactness: partials are int64 (chars are integers;
    * Σx² ≤ 1e4²·1e9 docs within int64 — at larger scale the q18 decimal
    * widening applies); mean/variance derive from merged integers in one
    * IEEE expression each. Shape: two map-side-combined aggregations (one
    * per slice) + a |langs|-row union re-agg — the corpus-sized work is
    * proportional to the DELTA on an incremental run (the old slice's
    * partials would be a stored table, re-aggregated for free). */
  private[operators] def x85(spark: SparkSession, dir: String): DataFrame = {
    def partials(slice: Column) = Tables.documents(spark, dir)
      .filter(slice)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"),
        min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx"))
    val old = partials(col("doc_id") % 10 =!= 0) // the standing corpus
    val delta = partials(col("doc_id") % 10 === 0) // today's arrivals
    old.unionByName(delta)
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"),
        sum(col("s1")).as("total_chars"),
        sum(col("s2")).as("s2"),
        min(col("mn")).as("min_chars"),
        max(col("mx")).as("max_chars"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("min_chars"), col("max_chars"),
        round(col("total_chars").cast(DoubleType) / col("n_docs"), 6).as("mean_chars"),
        round(col("s2").cast(DoubleType) / col("n_docs") -
          pow(col("total_chars").cast(DoubleType) / col("n_docs"), 2), 6).as("var_chars"))
  }

  private[operators] lazy val x85Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars,
      |  round(CAST(sum(n_chars * n_chars) AS DOUBLE) / count(*) -
      |    pow(CAST(sum(n_chars) AS DOUBLE) / count(*), 2), 6) AS var_chars
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------- X86
  /** PER-GROUP OLS REGRESSION from exact integer moments — the
    * segment-trend primitive (per source: how does token count scale with
    * document length — a crawler whose slope drifts is emitting different
    * content): slope, intercept and r² of y = tokens on x = chars,
    * computed from the five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    * Σy²) in ONE map-side-combined aggregation — the q18/x85 moment
    * recipe applied to bivariate statistics. All moments are int64
    * (Σxy ≤ 2e7/doc — at ≥1e11 docs the q18 decimal widening applies);
    * slope/intercept/r² are each ONE IEEE expression over identical
    * integers, so both engines emit identical doubles. Scale: one corpus
    * scan, a |sources|-row result, nothing else — and the moments are
    * the same monoid x85 maintains incrementally, so the daily trend
    * refresh also costs only the delta. */
  private[operators] def x86(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("x"),
        size(toks(col("text"))).cast(LongType).as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n").as("n_docs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 6).as("slope"),
        round((col("sy").cast(DoubleType) -
          (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            col("sx").cast(DoubleType)) / col("n").cast(DoubleType), 6).as("intercept"),
        round(pow((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType), 2) /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 6).as("r2"))
  }

  private[operators] lazy val x86Sql =
    """WITH m AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM (SELECT source, n_chars AS x,
      |          CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |        FROM documents)
      |  GROUP BY source)
      |SELECT source, n AS n_docs,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
      |  round((CAST(sy AS DOUBLE) -
      |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
      |  round(pow(CAST(n * sxy - sx * sy AS DOUBLE), 2) /
      |        (CAST(n * sxx - sx * sx AS DOUBLE) *
      |         CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- X91
  /** BLOCKLIST FILTERING (the C4/RefinedWeb "bad words" gate): score every
    * document against a pinned policy term list and decide keep/drop by
    * blocked-token rate. PURE MAP — zero shuffles, zero joins, output rows
    * = input rows: the list rides the plan as a literal array (realistic
    * policy lists are hundreds of terms — still a literal; a 100 k-term
    * list flips to a broadcast join on token with the same output
    * contract). The rate is integer-exact ppm, the keep decision a pure
    * comparison — so the gate is reproducible across engines and
    * re-runs, which is what makes a filtering decision auditable. At
    * 100 TB this is the cheapest possible pass: one scan, predicate and
    * projection pushed to parquet, no state. */
  private[operators] lazy val blockedTerms = Seq("big", "dup", "slow")
  private[operators] lazy val blockedPpmMax = 25000L // keep iff blocked rate < 2.5%

  private[operators] def x91(spark: SparkSession, dir: String): DataFrame = {
    val listLit = blockedTerms.map(t => s"'$t'").mkString(", ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast(LongType).as("n_tokens"),
        expr(s"cast(size(filter(tk, t -> t IN ($listLit))) as bigint)")
          .as("blocked_hits"),
        expr(s"cast(size(array_intersect(tk, array($listLit))) as bigint)")
          .as("distinct_blocked"))
      .withColumn("blocked_ppm", expr("(blocked_hits * 1000000) div n_tokens"))
      .withColumn("kept", col("blocked_ppm") < lit(blockedPpmMax))
  }

  private[operators] lazy val x91Sql = {
    val listLit = blockedTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(tk, x -> x IN ($listLit))) AS BIGINT) AS blocked_hits,
       |    CAST(len(list_distinct(list_filter(tk, x -> x IN ($listLit)))) AS BIGINT)
       |      AS distinct_blocked
       |  FROM t)
       |SELECT doc_id, n_tokens, blocked_hits, distinct_blocked,
       |  (blocked_hits * 1000000) // n_tokens AS blocked_ppm,
       |  (blocked_hits * 1000000) // n_tokens < $blockedPpmMax AS kept
       |FROM s""".stripMargin
  }

  // ---------------------------------------------------------------- X99
  /** FEATURE HASHING (the hashing trick, Weinberger et al.) — the
    * featurizer that makes text → vector work at ANY vocabulary size:
    * each token hashes to one of 16 buckets with an md5-derived ±1 sign,
    * and a document's vector is the signed bucket sums. No vocabulary
    * table, no fitting, no OOV problem — the estimator is unbiased
    * because the signs cancel collisions in expectation. This is the
    * bridge from the documents table into vector space using nothing but
    * hash functions both engines share (the x46/x7 md5 discipline), so
    * the 16 signed-count columns are INTEGER-EXACT and fully
    * oracle-checked. Plan shape at 100 TB: one scan, everything
    * (md5, bucket, sign) codegen'd map-side, ONE map-side-combined
    * aggregation keyed by doc — the cheapest possible featurization
    * pass, and the flat f0..f15 scalar shape is what a downstream
    * trainer or index stores (the x46 lesson). */
  private[operators] def x99(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .withColumn("b", expr("cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint) % 16"))
      .withColumn("sgn",
        when(substring(md5(col("t")), 9, 1) <= "7", 1L).otherwise(-1L))
    val dims = (0 until 16).map(i =>
      sum(when(col("b") === i, col("sgn")).otherwise(0L)).as(s"f$i"))
    tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"), dims: _*)
  }

  private[operators] lazy val x99Sql = {
    val fCols = (0 until 16).map(i =>
      s"CAST(sum(CASE WHEN b = $i THEN sgn ELSE 0 END) AS BIGINT) AS f$i").mkString(",\n|  ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc_id,
       |    ('0x' || substr(md5(t), 1, 8))::BIGINT % 16 AS b,
       |    CASE WHEN substr(md5(t), 9, 1) <= '7' THEN 1 ELSE -1 END AS sgn
       |  FROM tok)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  $fCols
       |FROM h GROUP BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- X100
  /** FILTER ATTRIBUTION — the Venn table that tells a curator WHICH
    * cleaning filter is doing the work: every document is scored against
    * all three map-side gates at once (x8 quality, x19 repetition, x91
    * blocklist) and the corpus partitions into the 2³ flag combinations
    * with exact counts and ppm shares. The off-diagonal cells are the
    * decisions: a filter whose removals are fully covered by another is
    * free to drop; a filter with large EXCLUSIVE removals owns real
    * signal. One scan computes all flags (the x8/x19/x91 kernels fold
    * into the same codegen pass — no per-filter re-read, no joins), then
    * an 8-row aggregation; at 100 TB this costs exactly one corpus pass,
    * same as running ONE of the filters alone. */
  private[operators] def x100(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    val listLit = blockedTerms.map(t => s"'$t'").mkString(", ")
    val flags = Tables.documents(spark, dir)
      .withColumn("tk", toks(col("text")))
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("n_unique", size(array_distinct(col("tk"))))
      .withColumn("n_stop", expr(s"graft_count_in(tk, $stopArr)"))
      .withColumn("q",
        col("n_unique").cast(DoubleType) / col("n_tokens") * 0.5 +
          (lit(1.0) - col("n_stop").cast(DoubleType) / col("n_tokens")) * 0.5)
      .withColumn("low_quality", !(col("q") >= 0.5 && col("n_tokens") >= 20))
      .withColumn("sh_total", greatest(col("n_tokens") - 2, lit(0)))
      .withColumn("sh_distinct", size(expr("graft_shingle_hashes(tk, 3)")))
      .withColumn("repetitive",
        (col("sh_total") - col("sh_distinct")).cast(DoubleType) /
          greatest(col("sh_total"), lit(1)) >= 0.2)
      .withColumn("hits", expr(s"cast(size(filter(tk, t -> t IN ($listLit))) as bigint)"))
      .withColumn("blocked",
        expr("(hits * 1000000) div n_tokens") >= lit(blockedPpmMax))
    flags.groupBy(col("low_quality"), col("repetitive"), col("blocked"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("tot", sum(col("n_docs")).over(Window.partitionBy()))
      .select(col("low_quality"), col("repetitive"), col("blocked"), col("n_docs"),
        expr("(n_docs * 1000000) div tot").as("share_ppm"))
  }

  private[operators] lazy val x100Sql = {
    val listLit = blockedTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |s AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
       |    CAST(len(list_distinct(tk)) AS INT) AS n_unique,
       |    CAST(len(list_filter(tk, x -> x IN ($stopwordsSqlList))) AS INT) AS n_stop,
       |    CAST(greatest(len(tk) - 2, 0) AS INT) AS sh_total,
       |    CAST(len(list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS INT) AS sh_distinct,
       |    CAST(len(list_filter(tk, x -> x IN ($listLit))) AS BIGINT) AS hits
       |  FROM t),
       |f AS (SELECT doc_id,
       |    NOT ((CAST(n_unique AS DOUBLE) / n_tokens) * 0.5
       |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 >= 0.5
       |      AND n_tokens >= 20) AS low_quality,
       |    (CAST(sh_total - sh_distinct AS DOUBLE) / greatest(sh_total, 1)) >= 0.2
       |      AS repetitive,
       |    (hits * 1000000) // n_tokens >= $blockedPpmMax AS blocked
       |  FROM s),
       |g AS (SELECT low_quality, repetitive, blocked,
       |    CAST(count(*) AS BIGINT) AS n_docs FROM f GROUP BY 1, 2, 3)
       |SELECT low_quality, repetitive, blocked, n_docs,
       |  (n_docs * 1000000) // (SELECT CAST(sum(n_docs) AS BIGINT) FROM g) AS share_ppm
       |FROM g""".stripMargin
  }

  // ---------------------------------------------------------------- X104
  /** EXACT QUANTILES IN TWO BOUNDED PASSES — the 100 TB replacement for a
    * sort-based percentile: a global sort (or Spark's single-partition
    * percentile aggregation state) is exactly what does NOT survive scale,
    * while this needs two scans and O(1) state. Pass 1 histograms the
    * value domain into 1024 equi-width buckets (one map-side-combined
    * aggregation; the 1024-row cumulative table is a metadata-scale
    * driver action, same class as x2's df-cap scalar). For each target
    * rank k = ceil(p·n) (computed in pure INTEGER arithmetic —
    * (permille·n + 999) div 1000 — so no engine can disagree by one ulp),
    * the cumulative table names the ONE bucket holding the k-th smallest
    * value; pass 2 filters to that bucket (a tight value-range scan,
    * ~n/1024 rows) and takes the (k − below)-th smallest there. The
    * refinement is rank arithmetic, so float bucket boundaries only ROUTE
    * the search — correctness never depends on them. The oracle computes
    * the same k-th order statistics directly (ORDER BY LIMIT OFFSET): the
    * oracle may sort, the engine may not. */
  private[operators] def x104(spark: SparkSession, dir: String): DataFrame = {
    val nb = 1024
    val vals = Tables.events(spark, dir)
      .select(col("value").as("v")).filter(col("v").isNotNull).persist()
    val stats = vals.agg(min(col("v")), max(col("v")), count(col("v"))).head()
    val (lo, hi, n) = (stats.getDouble(0), stats.getDouble(1), stats.getLong(2))
    val span = if (hi > lo) hi - lo else 1.0
    val bucket = least(floor((col("v") - lo) / span * nb), lit(nb - 1)).cast(IntegerType)
    val hist = vals.groupBy(bucket.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cum = (0 until nb).scanLeft(0L)((acc, b) => acc + hist.getOrElse(b, 0L))
    val parts = Seq(500, 900, 990).map { permille =>
      val k = (permille.toLong * n + 999) / 1000
      val b = cum.indexWhere(_ >= k) - 1 // cum(b) < k <= cum(b + 1)
      val below = cum(b)
      // limit() takes an Int: a degenerate near-constant corpus could put
      // > 2^31 rows in one bucket and silently truncate the rank — fail
      // loudly instead (the fix at that scale is a recursive histogram
      // refinement of the oversized bucket, same two-pass recipe)
      require(k - below <= Int.MaxValue,
        s"x104: bucket $b holds ${k - below} candidate ranks (> Int.MaxValue); " +
          "refine the histogram recursively before the order-statistic pass")
      vals.filter(bucket === b)
        .orderBy(col("v")).limit((k - below).toInt)
        .agg(max(col("v")).as("value"))
        .select(lit(permille).as("p_permille"), lit(k).as("k"), col("value"))
    }
    parts.reduce(_ unionByName _)
  }

  private[operators] lazy val x104Sql = {
    val ks = Seq(500, 900, 990)
      .map(pm => s"SELECT $pm AS p_permille, ($pm * c + 999) // 1000 AS k FROM n")
      .mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM t),
       |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rnk FROM t),
       |ks AS ($ks)
       |SELECT ks.p_permille, ks.k, r.v AS value
       |FROM ks JOIN r ON r.rnk = ks.k""".stripMargin
  }

  // ---------------------------------------------------------------- X105
  /** SPAN-CORRUPTION MANIFEST — T5/UL2-style denoising pairs built AS
    * DATA (Raffel et al. 2020: mask ~15-20% of tokens in multi-token
    * spans, replace each span with a numbered sentinel, train on
    * sentinel→span targets): each document's tokens group into 3-token
    * spans; a span is masked iff a CONTENT-ADDRESSED draw (md5 of
    * doc_id-span index, the x42/x54 convention) lands in the 1/5 residue
    * class — so the corruption is deterministic, reproducible across
    * engines and re-runs, and needs no RNG state. Sentinels number by
    * the running count of PRIOR masked spans (an ordered window over the
    * span rows); `input_text` swaps each masked span for its sentinel,
    * `targets` concatenates sentinel→span pairs in order. Shape: one
    * Generate (span explode, map-side), ONE corpus shuffle for the
    * per-doc window + re-assembly aggregation (exchange reused between
    * them — same key), everything else scan-side expressions. At 100 TB
    * this is the standard "build the denoising epoch declaratively"
    * move: the manifest is recomputable from (corpus, recipe) alone. */
  private[operators] def x105(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast(IntegerType))
      .withColumn("nT", expr("size(tk) div 3").cast(IntegerType))
      .filter(col("nT") > 0)
    val spans = base
      .select(col("doc_id"), col("tk"), col("nT"), col("n_tokens"),
        explode(expr("sequence(0, nT - 1)")).as("t"))
      .withColumn("seg", expr("array_join(slice(tk, t * 3 + 1, 3), ' ')"))
      .withColumn("tail", expr("array_join(slice(tk, nT * 3 + 1, n_tokens - nT * 3), ' ')"))
      .withColumn("masked", pmod(conv(substring(
        md5(concat_ws("-", col("doc_id"), col("t"))), 1, 12), 16, 10)
        .cast(LongType), lit(5L)) === 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = spans
      .withColumn("k", coalesce(sum(col("masked").cast(LongType)).over(w), lit(0L)))
      .withColumn("inp_seg", when(col("masked"),
        concat(lit("<extra_id_"), col("k"), lit(">"))).otherwise(col("seg")))
      .withColumn("tgt_seg", when(col("masked"),
        concat(lit("<extra_id_"), col("k"), lit("> "), col("seg"))))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_tokens")).as("n_tokens"),
        (sum(col("masked").cast(LongType)) * 3).as("n_masked"),
        // array_join drops the null tgt_seg of unmasked spans
        expr("array_join(transform(array_sort(collect_list(struct(t, inp_seg))), x -> x.inp_seg), ' ')").as("body"),
        expr("array_join(transform(array_sort(collect_list(struct(t, tgt_seg))), x -> x.tgt_seg), ' ')").as("targets"),
        max(col("tail")).as("tail"))
    agg.select(col("doc_id"), col("n_tokens"), col("n_masked"),
      when(length(col("tail")) > 0, concat(col("body"), lit(" "), col("tail")))
        .otherwise(col("body")).as("input_text"),
      col("targets"))
  }

  private[operators] lazy val x105Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |b AS (SELECT doc_id, tk, CAST(len(tk) AS INT) AS n_tokens,
      |        CAST(len(tk) // 3 AS INT) AS nT
      |      FROM d WHERE len(tk) // 3 > 0),
      |tr AS (SELECT doc_id, n_tokens, nT, tk, unnest(range(nT)) AS t FROM b),
      |seg AS (SELECT doc_id, n_tokens, t,
      |         array_to_string(tk[t * 3 + 1 : t * 3 + 3], ' ') AS seg,
      |         array_to_string(tk[nT * 3 + 1 : n_tokens], ' ') AS tail,
      |         (('0x' || substr(md5(doc_id || '-' || t), 1, 12))::BIGINT % 5 = 0) AS masked
      |       FROM tr),
      |k AS (SELECT *, coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY doc_id ORDER BY t
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k
      |      FROM seg),
      |s2 AS (SELECT doc_id, n_tokens, t, masked, k, tail,
      |         CASE WHEN masked THEN '<extra_id_' || k || '>' ELSE seg END AS inp_seg,
      |         CASE WHEN masked THEN '<extra_id_' || k || '> ' || seg END AS tgt_seg
      |       FROM k),
      |g AS (SELECT doc_id, max(n_tokens) AS n_tokens,
      |        CAST(sum(CASE WHEN masked THEN 3 ELSE 0 END) AS BIGINT) AS n_masked,
      |        array_to_string(list(inp_seg ORDER BY t), ' ') AS body,
      |        array_to_string(list(tgt_seg ORDER BY t) FILTER (WHERE masked), ' ') AS targets,
      |        max(tail) AS tail
      |      FROM s2 GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_masked,
      |  CASE WHEN length(tail) > 0 THEN body || ' ' || tail ELSE body END AS input_text,
      |  coalesce(targets, '') AS targets
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- X107
  /** TEMPERATURE-SCALED MIXTURE WEIGHTS — the multilingual/multi-source
    * sampling-rate computation every pretraining mix runs (T5/UNIMAX
    * alpha-sampling: weight ∝ n^α flattens the head so low-resource
    * sources aren't drowned; α = 1/2 here, i.e. temperature 2). sqrt is
    * the one power IEEE-754 requires to be CORRECTLY ROUNDED, so both
    * engines produce the identical double, which quantizes once to
    * integer micros — shares and upsampling factors are then pure int64
    * algebra. Complements x72 (max-min waterfill) with the power-law
    * rule. Shape: ONE corpus aggregation → a |sources|-row frame; the
    * normalization windows ride that tiny frame. (epochs_milli's
    * intermediate fits int64 at bench scale; a 100 TB run computes the
    * final factor in doubles after the exact shares.) */
  private[operators] def x107(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast(LongType).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .withColumn("weight_micro",
        expr("cast(round(sqrt(cast(n_tokens as double)) * 1000000, 0) as bigint)"))
      .withColumn("wsum", sum(col("weight_micro")).over(wAll))
      .withColumn("tot", sum(col("n_tokens")).over(wAll))
      .select(col("source"), col("n_tokens"), col("weight_micro"),
        expr("(weight_micro * 1000000) div wsum").as("share_ppm"),
        expr("((weight_micro * 1000000 div wsum) * tot) div (n_tokens * 1000)")
          .as("epochs_milli"))
  }

  private[operators] lazy val x107Sql =
    """WITH a AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |w AS (SELECT *,
      |    CAST(round(sqrt(n_tokens::DOUBLE) * 1000000) AS BIGINT) AS weight_micro
      |  FROM a),
      |t AS (SELECT *, CAST(sum(weight_micro) OVER () AS BIGINT) AS wsum,
      |        CAST(sum(n_tokens) OVER () AS BIGINT) AS tot FROM w)
      |SELECT source, n_tokens, weight_micro,
      |  CAST((weight_micro * 1000000) // wsum AS BIGINT) AS share_ppm,
      |  CAST((((weight_micro * 1000000) // wsum) * tot) // (n_tokens * 1000) AS BIGINT)
      |    AS epochs_milli
      |FROM t""".stripMargin

  // ---------------------------------------------------------------- X111
  /** FIRST/LAST-TOUCH ATTRIBUTION — the conversion-credit table product
    * analytics runs on every funnel: each purchase credits the user's
    * FIRST and LAST click inside the preceding 48-hour window (plus the
    * touch count — the multi-touch denominator). Purchases with no
    * qualifying click keep NULL attribution — the honest "organic"
    * bucket, not a dropped row. Both argmin and argmax are lexicographic
    * struct extremes with the unique event id as tiebreak, so identical
    * timestamps cannot flip credit between engines. Shape (r7, closing
    * the round-6 fan-out finding): the purchase side explodes to its 3
    * CANDIDATE CALENDAR DAYS (the days a 48 h look-back can touch) and
    * joins clicks on (user_id, click-day) — a hot user with P purchases
    * and C clicks now materializes at most 3·P·max-clicks-per-day rows
    * instead of P·C; the window predicate then trims the day-coarse
    * candidates exactly. Organic purchases re-enter through a LEFT join
    * against the per-purchase credit table (delta-sized), keeping the
    * honest NULL attribution. At 100 TB: two keyed shuffles + one
    * delta-sized join-back, no windows over the event log, no per-key
    * quadratic blow-up. */
  private[operators] def x111(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      .withColumn("cday", date_trunc("DAY", col("cts")))
    val credits = purchases
      .withColumn("cday", explode(expr(
        """sequence(date_trunc('DAY', pts - INTERVAL 48 HOURS),
          |         date_trunc('DAY', pts), interval 1 day)""".stripMargin)))
      .join(clicks, Seq("user_id", "cday"))
      .filter(col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 48 HOURS"))
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_touches"),
        min(struct(col("cts"), col("click_id"))).as("ft"),
        max(struct(col("cts"), col("click_id"))).as("lt"))
    purchases.join(credits, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"),
        col("pts").as("purchase_ts"),
        coalesce(col("n_touches"), lit(0L)).as("n_touches"),
        col("ft.click_id").as("first_click_id"), col("ft.cts").as("first_click_ts"),
        col("lt.click_id").as("last_click_id"), col("lt.cts").as("last_click_ts"))
  }

  private[operators] lazy val x111Sql =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |      FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts,
      |        (c.cts IS NOT NULL AND c.cts <= p.pts
      |         AND c.cts >= p.pts - INTERVAL 48 HOUR) AS touch
      |      FROM p LEFT JOIN c ON c.user_id = p.user_id)
      |SELECT purchase_id, user_id, pts AS purchase_ts,
      |  CAST(sum(CASE WHEN touch THEN 1 ELSE 0 END) AS BIGINT) AS n_touches,
      |  (min(CASE WHEN touch THEN struct_pack(cts := cts, click_id := click_id) END)).click_id
      |    AS first_click_id,
      |  (min(CASE WHEN touch THEN struct_pack(cts := cts, click_id := click_id) END)).cts
      |    AS first_click_ts,
      |  (max(CASE WHEN touch THEN struct_pack(cts := cts, click_id := click_id) END)).click_id
      |    AS last_click_id,
      |  (max(CASE WHEN touch THEN struct_pack(cts := cts, click_id := click_id) END)).cts
      |    AS last_click_ts
      |FROM j GROUP BY purchase_id, user_id, pts""".stripMargin

  // ---------------------------------------------------------------- X114
  /** EVENT-TRANSITION MATRIX — the first-order Markov statistics behind
    * behavioral pretraining, next-event prediction baselines, and funnel
    * anomaly detection: for every (from, to) event-type pair, the exact
    * transition count and probability over each user's time-ordered
    * stream (ties broken by event_id — a total order, so both engines
    * see the same successor). Probabilities are exact integer ppm of the
    * from-state's outgoing total, so rows per from-state sum to ~1e6
    * minus floor loss — auditable. Shape: ONE user-keyed exchange serves
    * both the successor window and (after the map-side pair projection)
    * the |types|²-bounded count aggregation; the from-state totals join
    * back onto the tiny matrix by window. At 100 TB this is the q34/x75
    * sessionization cost: one shuffle of (user, ts)-sorted events,
    * nothing corpus-quadratic. */
  private[operators] def x114(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) div sum(n) over (partition by from_type)").as("p_ppm"))
  }

  private[operators] lazy val x114Sql =
    """WITH s AS (SELECT user_id, event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |m AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- X115
  /** BITEXT-PAIR MINING (proxy) — the parallel-corpus construction move:
    * near-duplicate content carrying DIFFERENT language labels is the
    * translation-pair candidate set (the synthetic corpus plants reused
    * text across lang tags, standing in for real aligned documents).
    * Rides the shared bounded pair engine (PipelineCache'd x2 pairs) and
    * the melted-ends attribute lookup — langs resolve for both ends of
    * every pair with ONE corpus scan, never a second shuffle of the
    * documents table — then keeps only the cross-language pairs with
    * their exact Jaccard. At 100 TB this adds two pair-rate-sized joins
    * on top of whatever the dedup pass already paid. */
  private[operators] def x115(spark: SparkSession, dir: String): DataFrame = {
    val langs = Tables.documents(spark, dir).select(col("doc_id"), col("lang").as("v"))
    val pairs = sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"), col("jac"))
    pairEnds(pairs.select(col("doc_a"), col("doc_b")), langs)
      .filter(col("va") =!= col("vb"))
      .join(pairs, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col("va").as("lang_a"), col("vb").as("lang_b"), col("jac"))
  }

  private[operators] lazy val x115Sql =
    s"""WITH s AS ($duckShingleSql),
       |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS sg FROM s),
       |p AS (SELECT doc_a, doc_b, jac FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
       |    FROM t a JOIN t b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) q
       |  WHERE jac >= 0.5)
       |SELECT p.doc_a, p.doc_b, da.lang AS lang_a, db.lang AS lang_b, p.jac
       |FROM p JOIN documents da ON da.doc_id = p.doc_a
       |       JOIN documents db ON db.doc_id = p.doc_b
       |WHERE da.lang <> db.lang""".stripMargin

  // ---------------------------------------------------------------- X129
  /** RFM FEATURE TABLE — the classic recency/frequency/monetary customer
    * featurization (segmentation, churn models, reward-weighting): per
    * user, hours since last event (integer µs division against the
    * corpus max pinned as a literal — the x58 stats discipline), exact
    * event count, exact cents total (qs22's round-to-cents expression),
    * each scored 1–5 by QUINTILE with the canonical orientations (5 =
    * most recent / most frequent / highest spend) and composed into the
    * three-digit RFM code. Quintiles are ntile(5) under a (metric,
    * user_id) total order — identical ceil-split semantics in both
    * engines, so scores hash-match. Scale note: the ntile windows run on
    * the USER-feature table (one row per user — the q27/x67 cost class,
    * |users| ≪ |events|); above `spark.graft.rfm.twoPassThreshold`
    * users (default 5·10⁷ — past what one task should sort) the cut
    * SWAPS IN CODE to [[quintileTwoPass]]: a distinct-value cumsum (the
    * window shrinks to |distinct metric values| narrow rows) plus a
    * per-value distributed row_number, composed into the identical
    * ntile rank arithmetic — proven row-identical to the window path in
    * TrainingOpsSpec on a tie-heavy fixture and on the registered query. */
  private[operators] def x129(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val maxUs = ev.agg(max(expr("unix_micros(cast(ts as timestamp))"))).head().getLong(0)
    val feats = ev.groupBy(col("user_id"))
      .agg(max(expr("unix_micros(cast(ts as timestamp))")).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(expr("cast(round(value * 100, 0) as bigint)")).as("monetary_cents"))
      .withColumn("recency_hours",
        expr(s"CAST((${maxUs}L - last_us) div 3600000000L AS BIGINT)"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nUsers = feats.count()
    val swapAt = spark.conf.getOption("spark.graft.rfm.twoPassThreshold")
      .map(_.toLong).getOrElse(50000000L)
    val scored =
      if (nUsers <= swapAt) {
        val r = Window.orderBy(col("recency_hours").desc, col("user_id").asc)
        val f = Window.orderBy(col("frequency").asc, col("user_id").asc)
        val m = Window.orderBy(col("monetary_cents").asc, col("user_id").asc)
        feats
          .withColumn("r_score", ntile(5).over(r))
          .withColumn("f_score", ntile(5).over(f))
          .withColumn("m_score", ntile(5).over(m))
      } else {
        val s1 = quintileTwoPass(feats, "recency_hours", descOrder = true, nUsers, "r_score")
        val s2 = quintileTwoPass(s1, "frequency", descOrder = false, nUsers, "f_score")
        quintileTwoPass(s2, "monetary_cents", descOrder = false, nUsers, "m_score")
      }
    scored
      .select(col("user_id"), col("recency_hours"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm"))
  }

  /** The big-cardinality quintile: EXACT ntile(5) under the total order
    * (value[, user_id]) without a single-partition sort of the user
    * frame. Pass 1 groups to (value, count) and cumsums over the
    * DISTINCT-value table (the only remaining unpartitioned window —
    * |distinct values| narrow rows, not |users| full rows; for a truly
    * continuous metric quantize first, the x104 histogram argument).
    * Pass 2 joins the cum table back on value (value-keyed, AQE picks
    * broadcast vs shuffle) and ranks within each value group by user_id
    * — a DISTRIBUTED window. Global rank = below(value) + within-rank,
    * and the tile is Spark's exact ntile split in integer arithmetic:
    * with q = n div 5, rem = n mod 5, the first rem tiles hold q+1 rows,
    * so rank r ≤ rem·(q+1) → tile (r+q) div (q+1), else
    * rem + ceil((r − rem·(q+1))/q). Identical output to ntile(5) OVER
    * (ORDER BY value, user_id) by construction. */
  private[graft] def quintileTwoPass(df: DataFrame, value: String,
      descOrder: Boolean, n: Long, out: String): DataFrame = {
    val ord = if (descOrder) col(value).desc else col(value).asc
    val counts = df.groupBy(col(value)).agg(count(lit(1)).as("_c"))
    val cum = counts
      .withColumn("_below", coalesce(
        sum(col("_c")).over(Window.orderBy(ord)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(value), col("_below"))
    val q = n / 5
    val rem = n % 5
    val t = rem * (q + 1)
    df.join(cum, Seq(value))
      .withColumn("_rnk", col("_below") +
        row_number().over(Window.partitionBy(col(value)).orderBy(col("user_id").asc)))
      .withColumn(out, expr(
        s"""cast(case when _rnk <= ${t}L then (_rnk + ${q}L) div ${q + 1}L
           |  else ${rem}L + (_rnk - ${t}L + ${math.max(q, 1L) - 1}L) div ${math.max(q, 1L)}L
           |end as int)""".stripMargin))
      .drop("_below", "_rnk")
  }

  private[operators] lazy val x129Sql =
    """WITH mx AS (SELECT CAST(epoch_us(max(CAST(ts AS TIMESTAMP))) AS BIGINT) AS m
      |            FROM events),
      |f AS (SELECT user_id,
      |        CAST(epoch_us(max(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us,
      |        CAST(count(*) AS BIGINT) AS frequency,
      |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |      FROM events GROUP BY 1),
      |s AS (SELECT *,
      |        CAST(((SELECT m FROM mx) - last_us) // 3600000000 AS BIGINT) AS recency_hours
      |      FROM f)
      |SELECT user_id, recency_hours, frequency, monetary_cents,
      |  CAST(ntile(5) OVER (ORDER BY recency_hours DESC, user_id) AS INT) AS r_score,
      |  CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS INT) AS f_score,
      |  CAST(ntile(5) OVER (ORDER BY monetary_cents, user_id) AS INT) AS m_score,
      |  CAST(ntile(5) OVER (ORDER BY recency_hours DESC, user_id) AS INT) * 100
      |    + CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS INT) * 10
      |    + CAST(ntile(5) OVER (ORDER BY monetary_cents, user_id) AS INT) AS rfm
      |FROM s""".stripMargin


  // ---------------------------------------------------------------- X133
  /** LEAKAGE-SAFE TARGET ENCODING — the supervised featurization that
    * turns a categorical into its out-of-fold target mean (CTR-style
    * models, GBDT pipelines): encoding a category WITH a row's own fold
    * included leaks the label into the feature, so fold f's encoding for
    * category e uses ONLY the other folds' mass:
    *   enc(e, f) = (S_e − s_{e,f}) / (N_e − n_{e,f})
    * with folds assigned deterministically by user (user_id mod 5 — the
    * same unit-level discipline as x117's arms: a user's rows never
    * straddle folds, so the fold is a unit split, not a row split).
    * Integer-exact throughout: cents quantize once, the per-(category,
    * fold) moments are exact int64 conditional sums, and the encoding is
    * the half-up microcent rational — no double anywhere, no
    * RoundBoundarySpec surface. Scale shape: ONE corpus aggregation to
    * the |categories|·|folds| moment frame (map-side combined), totals
    * derive from that tiny frame, the encoding is arithmetic on a
    * broadcast join of the two — the corpus is scanned once and never
    * joined row-level. */
  private[operators] def x133(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(col("event_type"), pmod(col("user_id"), lit(5L)).as("fold"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val perFold = ev.groupBy(col("event_type"), col("fold"))
      .agg(count(lit(1)).as("n_f"), sum(col("cents")).as("s_f"))
    val totals = perFold.groupBy(col("event_type"))
      .agg(sum(col("n_f")).as("n"), sum(col("s_f")).as("s"))
    perFold.join(broadcast(totals), "event_type")
      .filter(col("n") > col("n_f")) // out-of-fold mass must exist
      .select(col("event_type"), col("fold"),
        (col("n") - col("n_f")).as("n_oof"),
        expr("(2 * (s - s_f) * 1000000 + (n - n_f)) div (2 * (n - n_f))")
          .as("enc_microcents"))
  }

  private[operators] lazy val x133Sql =
    """WITH e AS (SELECT event_type, user_id % 5 AS fold,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |pf AS (SELECT event_type, fold, CAST(count(*) AS BIGINT) AS n_f,
      |    CAST(sum(cents) AS BIGINT) AS s_f FROM e GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(n_f) AS BIGINT) AS n,
      |    CAST(sum(s_f) AS BIGINT) AS s FROM pf GROUP BY 1)
      |SELECT event_type, fold, n - n_f AS n_oof,
      |  (2 * (s - s_f) * 1000000 + (n - n_f)) // (2 * (n - n_f)) AS enc_microcents
      |FROM pf JOIN t USING (event_type)
      |WHERE n > n_f""".stripMargin

  // ---------------------------------------------------------------- X123
  /** BRADLEY–TERRY PREFERENCE RANKING — the pairwise-comparison MLE
    * behind RLHF reward-model data curation and judge-panel
    * aggregation: items (suppliers) are compared head-to-head (within
    * each order, the supplier shipping the larger quantity "wins"; ties
    * contribute nothing), and 4 rounds of the minorize–maximize update
    *   θ'_i = w_i / Σ_j n_ij/(θ_i+θ_j),  then mean-normalize
    * recover latent strengths. INTEGER-EXACT throughout (the r7
    * discipline): θ lives as ppm BIGINT, every division is the half-up
    * rational `(2n+d) div (2d)` over DECIMAL(38,0)/HUGEINT, every sum is
    * an order-free integer sum — no floating point anywhere, so no
    * RoundBoundarySpec surface. Items enter the model only with ≥1 win
    * AND ≥1 loss (the standard connectivity precondition, applied once);
    * a 1-ppm floor keeps the recursion total even for items whose wins
    * all involve dropped counterparts.
    *
    * Scale shape: comparisons come from an ORDER-KEYED self-join (per-key
    * fan-out ≤ lines², bounded by the ~7-line order size — the x92 wedge
    * argument, never corpus²); the symmetric pair matrix aggregates to
    * ≤ |items|² rows and each MM round is two keyed joins + one keyed
    * aggregation on it (θ is |items| rows); the normalizer is a 1-row
    * broadcast scalar attach. 4 rounds = 4 such stages, plan depth fixed. */
  /** x123's corpus-scale leg, factored for `ScaleProbes x123_{matrix,mm}`
    * (r12): the order-keyed shuffle-hash self-join (per-key fan-out ≤
    * lines², the x92 wedge bound) explodes each comparison into BOTH
    * orientations and collapses map-side into the directed+symmetric
    * matrix sym0(a, b, n, wa) — n = comparisons of the unordered pair,
    * wa = a's wins — in ONE partial-aggregated shuffle. The comparison
    * stream itself is never materialized or re-shuffled. */
  private[graft] def btMatrix(li: DataFrame): DataFrame =
    li.as("a").hint("shuffle_hash").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") =!= col("b.sk") &&
          col("a.qty") > col("b.qty"))
      .select(explode(array(
        struct(col("a.sk").as("a"), col("b.sk").as("b"), lit(1L).as("win")),
        struct(col("b.sk").as("a"), col("a.sk").as("b"), lit(0L).as("win")))).as("e"))
      .select(col("e.a"), col("e.b"), col("e.win"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"), sum(col("win")).as("wa"))

  private[operators] def x123(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("l_quantity").as("qty"))
    // Everything downstream (item filter, per-item win/loss totals, 4 MM
    // rounds) rides the ≤|items|²-bounded matrix frame.
    btSolve(spark, btMatrix(li).persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** The metadata-scale half: item filter + 4 MM rounds + ranking over a
    * given persisted matrix frame. `releaseMatrix=false` lets the x123_mm
    * probe re-run the solve against one pinned matrix. */
  private[graft] def btSolve(spark: SparkSession, symAll: DataFrame,
      releaseMatrix: Boolean = true): DataFrame = {
    val per = symAll.groupBy(col("a").as("s"))
      .agg(sum(col("wa")).as("w"), sum(col("n") - col("wa")).as("l"))
    val items = per.filter(col("w") > 0 && col("l") > 0).select(col("s"))
    // items broadcasts into both endpoint filters; sym lands partitioned
    // by `a` so every MM round's per-item aggregation is exchange-free
    val sym = symAll
      .join(broadcast(items.select(col("s").as("a"))), Seq("a"), "left_semi")
      .join(broadcast(items.select(col("s").as("b"))), Seq("b"), "left_semi")
      .repartition(col("a")).persist(StorageLevel.MEMORY_AND_DISK)
    val base = sym.groupBy(col("a").as("s"))
      .agg(sum(col("wa")).as("w"), sum(col("n") - col("wa")).as("l"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val items2 = base.select(col("s"))
    // Each MM round exits through an EAGER localCheckpoint LEAF (the x17/x77
    // iterative discipline): θ appears twice per round (both pair
    // endpoints) and `raw` twice more (normalizer + carry), so without a
    // lineage cut the unrolled logical plan grows ~3^rounds — measured
    // 166 s at sf0.001, and the plan STRING alone OOMs AQE's explain.
    // persist() is not enough (it caches rows, not the analyzed plan);
    // re-entering SQL via a checkpointed LogicalRDD keeps round N's plan
    // O(1). r12 opt: the leaf was a `.rdd → createDataFrame → count()`
    // round trip, which paid an InternalRow↔Row codec pass plus a persist
    // and a separate count job per round; localCheckpoint(true) is the
    // same lineage cut with none of that. The normalizer (Σθ', k) is a
    // SINGLE-PARTITION WINDOW over the |items|-row raw frame instead of a
    // separate agg + crossJoin(broadcast) — one job per round, not three.
    // θ is |items| rows (16 B each) and BROADCASTS into both endpoint
    // joins — the items²-bounded sym frame never reshuffles for them.
    // Past broadcast reach (≳10⁸ items) both joins degrade gracefully to
    // keyed shuffles by dropping the hint; sym stays the only big frame;
    // the normalizer window then moves to a scalar agg attach (x155's
    // global-window note: partitionBy() is only safe on bounded frames).
    //
    // FAULT-TOLERANCE GATE (r13, verdict item 6): localCheckpoint blocks
    // are executor-local and NON-recomputable — on a cluster, losing an
    // executor mid-solve fails the query instead of recomputing.
    // spark.graft.reliableLineageCut=true switches every round's leaf to
    // the persist-based form (cache + full lineage: executor loss
    // recomputes; same O(1)-plan guarantee, at the cost of the
    // InternalRow↔Row codec pass and a separate materializing count the
    // r12 opt removed). Default false: local mode and the bench have no
    // executor loss. Either way, round N−1's leaf blocks are RELEASED as
    // soon as round N materializes (r12 ADVICE: the checkpointed rounds
    // otherwise accumulate for the life of the session).
    var releasePrevRound: () => Unit = () => ()
    def mmRound(theta: DataFrame): DataFrame = {
      val denom = sym
        .join(broadcast(theta.select(col("s").as("a"), col("th").as("tha"))), "a")
        .join(broadcast(theta.select(col("s").as("b"), col("th").as("thb"))), "b")
        .select(col("a").as("s"), expr(
          """CAST((2 * CAST(n AS DECIMAL(38,0)) * 1000000000000 + (tha + thb))
            |  div (2 * (tha + thb)) AS DECIMAL(38,0))""".stripMargin).as("term"))
        .groupBy(col("s")).agg(sum(col("term")).as("denom"))
      val wAll = Window.partitionBy()
      val outPlan = base.join(denom, "s")
        .withColumn("thp", expr(
          """greatest(CAST((2 * CAST(w AS DECIMAL(38,0)) * 1000000000000 + denom)
            |  div (2 * denom) AS DECIMAL(38,0)), CAST(1 AS DECIMAL(38,0)))""".stripMargin))
        .withColumn("ssum", sum(col("thp")).over(wAll))
        .withColumn("kk", count(lit(1)).over(wAll))
        .select(col("s"), col("w"), col("l"), expr(
          """greatest(CAST((2 * thp * kk * 1000000 + ssum)
            |  div (2 * ssum) AS BIGINT), 1L)""".stripMargin).as("th"))
      // materialize the leaf (O(items) rows), then free the PREVIOUS
      // round's leaf — it was only ever read to build this one
      val (out, release) = lineageCut(outPlan, eager = true)
      releasePrevRound()
      releasePrevRound = release
      out
    }
    val t0 = items2.withColumn("th", lit(1000000L))
    val t1 = mmRound(t0)
    // round 1's materialization forced sym and base; the unfiltered
    // matrix is dead weight from here (largest of the persisted frames)
    if (releaseMatrix) symAll.unpersist()
    val tN = mmRound(mmRound(mmRound(t1)))
    // the last round has materialized, and its leaf carries base's w and
    // l: no later plan reads sym or base, so the caller inherits no pin
    sym.unpersist()
    base.unpersist()
    val wr = Window.orderBy(col("theta_ppm").desc, col("supplier").asc)
    tN.select(col("s").as("supplier"), col("w").as("wins"), col("l").as("losses"),
        (col("w") + col("l")).as("n_comp"), col("th").as("theta_ppm"))
      .withColumn("rnk", row_number().over(wr))
  }

  private[operators] lazy val x123Sql =
    """WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_suppkey AS sk, l_quantity AS qty
      |            FROM lineitem),
      |pr AS MATERIALIZED (SELECT a.sk AS wi, b.sk AS lo FROM li a JOIN li b
      |       ON a.ok = b.ok AND a.sk <> b.sk AND a.qty > b.qty),
      |w1 AS MATERIALIZED (SELECT wi AS s FROM pr GROUP BY 1),
      |l1 AS MATERIALIZED (SELECT lo AS s FROM pr GROUP BY 1),
      |items AS MATERIALIZED (SELECT s FROM w1 JOIN l1 USING (s)),
      |pr2 AS MATERIALIZED (SELECT wi, lo FROM pr WHERE wi IN (SELECT s FROM items)
      |                                AND lo IN (SELECT s FROM items)),
      |sym AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT wi AS a, lo AS b FROM pr2
      |    UNION ALL SELECT lo AS a, wi AS b FROM pr2) u GROUP BY 1, 2),
      |items2 AS MATERIALIZED (SELECT DISTINCT a AS s FROM sym),
      |k AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS kk FROM items2),
      |base AS MATERIALIZED (SELECT i.s,
      |    coalesce(w.w, 0) AS w, coalesce(lx.l, 0) AS l FROM items2 i
      |  LEFT JOIN (SELECT wi AS s, CAST(count(*) AS BIGINT) AS w
      |             FROM pr2 GROUP BY 1) w ON w.s = i.s
      |  LEFT JOIN (SELECT lo AS s, CAST(count(*) AS BIGINT) AS l
      |             FROM pr2 GROUP BY 1) lx ON lx.s = i.s),
      |t0 AS MATERIALIZED (SELECT s, CAST(1000000 AS HUGEINT) AS th FROM items2),
      |d1 AS MATERIALIZED (SELECT sym.a AS s, sum((2 * CAST(n AS HUGEINT) * 1000000000000
      |         + (ta.th + tb.th)) // (2 * (ta.th + tb.th))) AS denom
      |       FROM sym JOIN t0 ta ON ta.s = sym.a JOIN t0 tb ON tb.s = sym.b
      |       GROUP BY 1),
      |r1 AS MATERIALIZED (SELECT base.s, greatest((2 * CAST(w AS HUGEINT) * 1000000000000
      |         + denom) // (2 * denom), 1) AS thp
      |       FROM base JOIN d1 USING (s)),
      |t1 AS MATERIALIZED (SELECT s, greatest((2 * thp * (SELECT kk FROM k) * 1000000
      |         + (SELECT sum(thp) FROM r1)) // (2 * (SELECT sum(thp) FROM r1)), 1)
      |         AS th FROM r1),
      |d2 AS MATERIALIZED (SELECT sym.a AS s, sum((2 * CAST(n AS HUGEINT) * 1000000000000
      |         + (ta.th + tb.th)) // (2 * (ta.th + tb.th))) AS denom
      |       FROM sym JOIN t1 ta ON ta.s = sym.a JOIN t1 tb ON tb.s = sym.b
      |       GROUP BY 1),
      |r2 AS MATERIALIZED (SELECT base.s, greatest((2 * CAST(w AS HUGEINT) * 1000000000000
      |         + denom) // (2 * denom), 1) AS thp
      |       FROM base JOIN d2 USING (s)),
      |t2 AS MATERIALIZED (SELECT s, greatest((2 * thp * (SELECT kk FROM k) * 1000000
      |         + (SELECT sum(thp) FROM r2)) // (2 * (SELECT sum(thp) FROM r2)), 1)
      |         AS th FROM r2),
      |d3 AS MATERIALIZED (SELECT sym.a AS s, sum((2 * CAST(n AS HUGEINT) * 1000000000000
      |         + (ta.th + tb.th)) // (2 * (ta.th + tb.th))) AS denom
      |       FROM sym JOIN t2 ta ON ta.s = sym.a JOIN t2 tb ON tb.s = sym.b
      |       GROUP BY 1),
      |r3 AS MATERIALIZED (SELECT base.s, greatest((2 * CAST(w AS HUGEINT) * 1000000000000
      |         + denom) // (2 * denom), 1) AS thp
      |       FROM base JOIN d3 USING (s)),
      |t3 AS MATERIALIZED (SELECT s, greatest((2 * thp * (SELECT kk FROM k) * 1000000
      |         + (SELECT sum(thp) FROM r3)) // (2 * (SELECT sum(thp) FROM r3)), 1)
      |         AS th FROM r3),
      |d4 AS MATERIALIZED (SELECT sym.a AS s, sum((2 * CAST(n AS HUGEINT) * 1000000000000
      |         + (ta.th + tb.th)) // (2 * (ta.th + tb.th))) AS denom
      |       FROM sym JOIN t3 ta ON ta.s = sym.a JOIN t3 tb ON tb.s = sym.b
      |       GROUP BY 1),
      |r4 AS MATERIALIZED (SELECT base.s, greatest((2 * CAST(w AS HUGEINT) * 1000000000000
      |         + denom) // (2 * denom), 1) AS thp
      |       FROM base JOIN d4 USING (s)),
      |t4 AS MATERIALIZED (SELECT s, greatest((2 * thp * (SELECT kk FROM k) * 1000000
      |         + (SELECT sum(thp) FROM r4)) // (2 * (SELECT sum(thp) FROM r4)), 1)
      |         AS th FROM r4)
      |SELECT base.s AS supplier, base.w AS wins, base.l AS losses,
      |  base.w + base.l AS n_comp, CAST(t4.th AS BIGINT) AS theta_ppm,
      |  CAST(row_number() OVER (ORDER BY t4.th DESC, base.s) AS INT) AS rnk
      |FROM base JOIN t4 ON t4.s = base.s""".stripMargin

  // ---------------------------------------------------------------- X124
  /** NEXT-EVENT PREDICTION EVAL — the temporal-holdout evaluation of the
    * x114 Markov matrix, i.e. the "does yesterday's behavior model
    * predict tomorrow" check run before shipping a behavioral model:
    * events split by the GLOBAL event_id midpoint (train = first half,
    * test = second half — a pure integer predicate both engines apply
    * identically), the transition matrix trains on the train half, each
    * from-state's argmax successor (count desc, successor asc — a total
    * order) becomes the predictor, and accuracy is measured on
    * transitions wholly inside the test half. Accuracy is the half-up
    * integer `(2·correct·10⁶ + n) div (2n)` ppm — no doubles. From-states
    * never seen in train predict NULL (counted wrong), so coverage gaps
    * are visible, not silently dropped.
    *
    * Scale shape: both halves ride ONE user-keyed exchange each for
    * their successor windows (the x114/x75 sessionization cost); the
    * matrix and the predictor are |types|²-bounded and broadcast back
    * onto the |types|-keyed test aggregate. Nothing corpus-quadratic;
    * the midpoint pins as a literal (the x58 stats discipline). */
  private[operators] def x124(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def transitions(half: DataFrame): DataFrame = half
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    // half-point as a LITERAL bound on the bare column (not `id*2 <= m`):
    // the predicate reaches the parquet scan as a pushed filter, so each
    // half reads only its row groups at scale
    val mid = maxId / 2
    val train = transitions(ev.filter(col("event_id") <= mid))
    val test = transitions(ev.filter(col("event_id") > mid))
    val wp = Window.partitionBy(col("from_type"))
      .orderBy(col("n").desc, col("to_type").asc)
    val pred = train.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(wp))
      .filter(col("r") === 1)
      .select(col("from_type"), col("to_type").as("predicted"))
    test.join(broadcast(pred), Seq("from_type"), "left")
      .groupBy(col("from_type"), col("predicted"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc_ppm",
        expr("CAST((2 * n_correct * 1000000 + n_test) div (2 * n_test) AS BIGINT)"))
  }

  private[operators] lazy val x124Sql =
    """WITH me AS (SELECT max(event_id) // 2 AS mid FROM events),
      |tr AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events WHERE event_id <= (SELECT mid FROM me)),
      |te AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events WHERE event_id > (SELECT mid FROM me)),
      |mx AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |       FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |pred AS (SELECT from_type, to_type AS predicted FROM (
      |    SELECT from_type, to_type,
      |      row_number() OVER (PARTITION BY from_type
      |        ORDER BY n DESC, to_type) AS r FROM mx) q WHERE r = 1)
      |SELECT from_type, predicted,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN to_type = predicted THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  CAST((2 * sum(CASE WHEN to_type = predicted THEN 1 ELSE 0 END) * 1000000
      |        + count(*)) // (2 * count(*)) AS BIGINT) AS acc_ppm
      |FROM te LEFT JOIN pred USING (from_type)
      |WHERE to_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- X147
  /** SPLIT-BALANCE χ² AUDIT — the goodness-of-fit gate run on the x54
    * content-addressed manifest before anyone trains on it: per
    * language, does the realized train/val/test allocation match the
    * designed 80/10/10, by Pearson χ² at the 5% level (df = 2)? A
    * hash-based split is binomial, not exact, so small languages CAN
    * land unbalanced — this audit is where that surfaces as a number
    * instead of a training-run surprise. Exactness, fully integer (the
    * x144 discipline): with n docs and observed (o_tr, o_va, o_te),
    * χ² = [(10·o_tr−8n)² + 8·(10·o_va−n)² + 8·(10·o_te−n)²] / (80n)
    * EXACTLY (clear the 0.8/0.1 denominators by 10²), emitted as
    * half-up ppm; the 5% df-2 critical value is the universal constant
    * 5.991465 pinned at 6dp as the same literal in both engines (the
    * x139 discount-table trick — zero runtime transcendentals), and the
    * flag compares EXACT integers (num·10⁶ vs crit·80n), immune to the
    * ppm rounding. Scale shape: one corpus aggregation to the
    * |langs|×3 cell frame (map-side combined), then arithmetic on
    * |langs| rows — nothing else touches the corpus. */
  private[operators] def x147(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("b", pmod(conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast(LongType), lit(100L)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("b") < 80, 1L).otherwise(0L)).as("o_train"),
        sum(when(col("b") >= 80 && col("b") < 90, 1L).otherwise(0L)).as("o_val"),
        sum(when(col("b") >= 90, 1L).otherwise(0L)).as("o_test"))
      .withColumn("num", expr(
        """CAST(10 * o_train - 8 * n_docs AS DECIMAL(38,0)) * (10 * o_train - 8 * n_docs)
          | + 8 * CAST(10 * o_val - n_docs AS DECIMAL(38,0)) * (10 * o_val - n_docs)
          | + 8 * CAST(10 * o_test - n_docs AS DECIMAL(38,0)) * (10 * o_test - n_docs)""".stripMargin))
      .select(col("lang"), col("n_docs"), col("o_train"), col("o_val"), col("o_test"),
        expr("CAST((2 * num * 1000000 + 80 * n_docs) div (2 * 80 * n_docs) AS BIGINT)")
          .as("chi2_ppm"),
        expr("num * 1000000 < CAST('5991465' AS DECIMAL(38,0)) * 80 * n_docs")
          .as("balanced"))
  }

  private[operators] lazy val x147Sql =
    """WITH b AS (SELECT lang,
      |    ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS b FROM documents),
      |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN b < 80 THEN 1 ELSE 0 END) AS BIGINT) AS o_train,
      |    CAST(sum(CASE WHEN b >= 80 AND b < 90 THEN 1 ELSE 0 END) AS BIGINT) AS o_val,
      |    CAST(sum(CASE WHEN b >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS o_test
      |  FROM b GROUP BY 1),
      |n AS (SELECT *,
      |    CAST(10 * o_train - 8 * n_docs AS HUGEINT) * (10 * o_train - 8 * n_docs)
      |      + 8 * CAST(10 * o_val - n_docs AS HUGEINT) * (10 * o_val - n_docs)
      |      + 8 * CAST(10 * o_test - n_docs AS HUGEINT) * (10 * o_test - n_docs) AS num
      |  FROM c)
      |SELECT lang, n_docs, o_train, o_val, o_test,
      |  CAST((2 * num * 1000000 + 80 * n_docs) // (2 * 80 * n_docs) AS BIGINT) AS chi2_ppm,
      |  num * 1000000 < CAST(5991465 AS HUGEINT) * 80 * n_docs AS balanced
      |FROM n""".stripMargin

  // ---------------------------------------------------------------- X146
  /** MARKOV REMOVAL-EFFECT ATTRIBUTION — the model-based alternative to
    * x111's positional (first/last-touch) credit: journeys are
    * first-order Markov chains over channel states (event types,
    * truncated at the FIRST purchase → CONV; journeys without one end
    * at NULL), conversion probability from START is the chain's
    * absorption probability, and each channel's credit is its REMOVAL
    * EFFECT — how much P(CONV) drops when every edge into that channel
    * is redirected to NULL (Anderl et al.'s framework, the standard
    * "Markov attribution" of marketing analytics). All |channels|+1
    * removal chains (including the 'none' baseline) evaluate in ONE
    * relational fixed-point: the iteration frame is keyed
    * (removed_channel, state) and each of the 6 fixed rounds is one
    * aggregation over (removals × matrix) — bounded by |types|²·
    * |types|, corpus-independent. Exactness: probabilities are integer
    * PICOS with ONE half-up rational per (cell, round) —
    * p_k(rc,s) = ⌈Σ_t n(s,t)·val_k₋₁(rc,t) / n_s⌋ where val is 10¹²
    * for CONV, 0 for NULL and the removed channel — no doubles
    * anywhere; 6 rounds truncate long paths IDENTICALLY in engine and
    * oracle (the number is a defined 6-step absorption, documented).
    * Scale shape: ONE user-keyed exchange builds the transition matrix
    * (the x114/x124 cost class); the matrix is |types|²-bounded
    * metadata, so the chain solve runs driver-side in exact BigInt (the
    * accepted metadata-scale .collect() class — the corpus never
    * re-enters). Removal effects and shares are half-up ppm off the
    * final picos. */
  private[operators] def x146(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withRn = ev.withColumn("rn", row_number().over(w))
    val firstP = withRn.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val kept = withRn.join(firstP, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("state", when(col("event_type") === "purchase", lit("CONV"))
        .otherwise(col("event_type")))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val trans = kept
      .withColumn("to_s", coalesce(lead(col("state"), 1).over(w2),
        when(col("state") =!= "CONV", lit("NULL"))))
      .filter(col("to_s").isNotNull)
      .select(col("state").as("s"), col("to_s"))
      .unionByName(kept.filter(col("rn") === 1)
        .select(lit("START").as("s"), col("state").as("to_s")))
    val m = trans.groupBy(col("s"), col("to_s")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // driver-side exact BigInt chain solve over the metadata-scale matrix
    val totOut = m.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    val channels = m.keysIterator.map(_._2).filter(t => t != "CONV" && t != "NULL")
      .toSeq.distinct.sorted
    val states = totOut.keys.toSeq.sorted // channels + START
    val pico = BigInt(1000000000000L)
    def solve(rc: String): Map[String, BigInt] = {
      var p = states.map(_ -> BigInt(0)).toMap
      for (_ <- 1 to 6) {
        p = states.map { s =>
          val den = BigInt(totOut(s))
          val num = m.collect {
            case ((`s`, t), n) =>
              val v = if (t == "CONV") pico
                else if (t == "NULL" || t == rc) BigInt(0)
                else p.getOrElse(t, BigInt(0))
              BigInt(n) * v
          }.sum
          s -> (if (s == rc) BigInt(0) else (2 * num + den) / (2 * den))
        }.toMap
      }
      p
    }
    val pBase = solve("none")("START")
    def ppmOfPicos(x: BigInt): Long = ((2 * x + 1000000) / 2000000).toLong
    val res = channels.map { c =>
      val pc = solve(c)("START")
      val re = if (pBase == 0) BigInt(0)
        else (2 * (pBase - pc) * 1000000 + pBase) / (2 * pBase)
      (c, pc, re)
    }
    val totRe = res.map(_._3).sum
    val rows = res.map { case (c, pc, re) =>
      val attr = if (totRe == 0) 0L
        else ((2 * re * 1000000 + totRe) / (2 * totRe)).toLong
      (c, ppmOfPicos(pBase), ppmOfPicos(pc), re.toLong, attr)
    }
    import ev.sparkSession.implicits._
    rows.toDF("channel", "base_conv_ppm", "removed_conv_ppm",
      "removal_effect_ppm", "attribution_ppm")
  }

  /** The oracle evaluates the SAME 6-round fixed point relationally:
    * the (removed, state) frame iterates through 6 generated
    * MATERIALIZED CTEs (the x123/x124 unrolled-iteration discipline —
    * DuckDB would otherwise inline the recursion exponentially). */
  private[operators] lazy val x146Sql = {
    val rounds = (1 to 6).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT g.rc, g.s, CASE WHEN g.s = g.rc THEN 0 ELSE g.p END AS p FROM (
         |    SELECT r.rc, m.s,
         |      (2 * sum(CAST(m.n AS HUGEINT) *
         |           (CASE WHEN m.to_s = 'CONV' THEN 1000000000000
         |                 WHEN m.to_s = 'NULL' OR m.to_s = r.rc THEN 0
         |                 ELSE coalesce(pp.p, 0) END))
         |       + max(ns.tot)) // (2 * max(ns.tot)) AS p
         |    FROM rcs r
         |    CROSS JOIN m
         |    LEFT JOIN p${k - 1} pp ON pp.rc = r.rc AND pp.s = m.to_s
         |    JOIN ns ON ns.s = m.s
         |    GROUP BY r.rc, m.s) g)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, ts, event_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, min(rn) AS prn FROM e
       |       WHERE event_type = 'purchase' GROUP BY 1),
       |kept AS (SELECT e.user_id, e.rn,
       |    CASE WHEN e.event_type = 'purchase' THEN 'CONV' ELSE e.event_type END AS state
       |  FROM e LEFT JOIN fp USING (user_id)
       |  WHERE fp.prn IS NULL OR e.rn <= fp.prn),
       |tr AS (SELECT state AS s,
       |    coalesce(lead(state) OVER (PARTITION BY user_id ORDER BY rn),
       |             CASE WHEN state <> 'CONV' THEN 'NULL' END) AS to_s
       |  FROM kept),
       |alltr AS (SELECT s, to_s FROM tr WHERE to_s IS NOT NULL
       |          UNION ALL
       |          SELECT 'START' AS s, state AS to_s FROM kept WHERE rn = 1),
       |m AS MATERIALIZED (SELECT s, to_s, CAST(count(*) AS BIGINT) AS n
       |                   FROM alltr GROUP BY 1, 2),
       |ns AS MATERIALIZED (SELECT s, CAST(sum(n) AS BIGINT) AS tot FROM m GROUP BY 1),
       |rcs AS MATERIALIZED (
       |  SELECT DISTINCT to_s AS rc FROM m WHERE to_s NOT IN ('CONV', 'NULL')
       |  UNION ALL SELECT 'none'),
       |p0 AS MATERIALIZED (SELECT rcs.rc, ns.s, CAST(0 AS HUGEINT) AS p
       |                    FROM rcs CROSS JOIN ns),
       |$rounds,
       |fin AS (SELECT rc, p FROM p6 WHERE s = 'START'),
       |b AS (SELECT p AS pb FROM fin WHERE rc = 'none'),
       |re AS MATERIALIZED (SELECT rc AS channel, p AS pc,
       |        CASE WHEN (SELECT pb FROM b) = 0 THEN 0
       |             ELSE (2 * ((SELECT pb FROM b) - p) * 1000000 + (SELECT pb FROM b))
       |                  // (2 * (SELECT pb FROM b)) END AS re_ppm
       |      FROM fin WHERE rc <> 'none'),
       |t AS (SELECT sum(re_ppm) AS tot FROM re)
       |SELECT channel,
       |  CAST((2 * (SELECT pb FROM b) + 1000000) // 2000000 AS BIGINT) AS base_conv_ppm,
       |  CAST((2 * pc + 1000000) // 2000000 AS BIGINT) AS removed_conv_ppm,
       |  CAST(re_ppm AS BIGINT) AS removal_effect_ppm,
       |  CAST(CASE WHEN (SELECT tot FROM t) = 0 THEN 0
       |       ELSE (2 * re_ppm * 1000000 + (SELECT tot FROM t))
       |            // (2 * (SELECT tot FROM t)) END AS BIGINT) AS attribution_ppm
       |FROM re""".stripMargin
  }
  // ---------------------------------------------------------------- X150
  /** CAPPED TEMPERATURE-MIXTURE ALLOCATION — the budgeted data-mixing
    * plan a pretraining run executes, completing the mixture family:
    * x107 computes temperature weights with no budget, x72 waterfills a
    * budget with no weights; production mixing (UniMax-style, Chung et
    * al. 2023) needs BOTH — allocate a token budget B across sources
    * proportionally to temperature weights w_s ∝ n_s^(1/2), subject to a
    * per-source repetition cap (2.1 epochs here: temperature upweights
    * SMALL sources, so they hit the cap first and their surplus flows to
    * the rest). This is weighted water-filling with upper bounds; the
    * saturated set is a PREFIX of sources ordered by cap_s/w_s, so the
    * whole solve is closed-form — no iteration:
    * for each candidate boundary s, the capped set {r : cap_r·w_s ≤
    * cap_s·w_r} (an exact integer cross-multiplication — no rational
    * sort key, no division anywhere) yields level λ_s = (B−Σcap)/(W−Σw);
    * s is FEASIBLE iff w_s·(B−Σcap) ≥ cap_s·(W−Σw), and the true
    * boundary is the feasible candidate with maximal Σw (the sets are
    * nested, so the argmax is a 1-row max(struct)). Uncapped sources get
    * floor(w_r·λ*) — allocations never exceed the budget; the slack is
    * the mixture runner's rounding dust. Equivalence with the iterative
    * water-fill is fuzz-proven in the spec (20k random instances).
    * EXACTNESS — zero transcendentals, zero double rounds: the weight is
    * the EXACT integer square root w = isqrt(n·10¹²) via floor(sqrt) in
    * doubles plus a ±1 integer-square correction (IEEE sqrt is within
    * ulps, so floor is off by at most one; the correction compares
    * m² and (m+1)² to n·10¹² in DECIMAL(38,0) and lands exactly) — both
    * engines compute the identical integer with no Round node, so the
    * operator never enters the round-boundary audit at all. All
    * cross-products ride DECIMAL(38,0)/HUGEINT. Scale shape: ONE corpus
    * aggregation to the |sources|-row frame; the |sources|² candidate
    * self-join and the 1-row argmax are metadata-scale. */
  private[operators] def x150(spark: SparkSession, dir: String): DataFrame =
    cappedMixtureAlloc(
      Tables.documents(spark, dir)
        .select(col("source"), size(toks(col("text"))).cast(LongType).as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens")))

  /** x150's closed-form solve factored over any (source, n_tokens) frame —
    * shared with qs31's streamed per-source token state (the
    * bm25StatsWide/ivfCellMomentsWide pattern: ONE implementation serves
    * the batch leg, the streamed drain, and the recovery proof). */
  private[graft] def cappedMixtureAlloc(ns: DataFrame): DataFrame = {
    // exact isqrt(n·10^12): floor(sqrt(double)) then the +-1 correction
    val m = ns
      .withColumn("x", expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000000000"))
      .withColumn("m0", expr("CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        """m0 + (CASE WHEN CAST(m0 + 1 AS DECIMAL(38,0)) * (m0 + 1) <= x THEN 1 ELSE 0 END)
          |   - (CASE WHEN CAST(m0 AS DECIMAL(38,0)) * m0 > x THEN 1 ELSE 0 END)""".stripMargin))
      .withColumn("cap", expr("(21 * n_tokens) div 10")) // 2.1-epoch repetition cap
      .select(col("source"), col("n_tokens"), col("w"), col("cap"))
    cappedAllocSolve(m)
  }

  /** The water-filling solve itself, factored over any (source, n_tokens,
    * w, cap) frame (r12c: x178 re-runs it per temperature rung — the
    * solve is scale-invariant in w, only weight RATIOS matter). */
  private[graft] def cappedAllocSolve(m: DataFrame): DataFrame = {
    // budget and total weight pinned as literals (the x50/x58 pattern;
    // ONE bounded driver action over the |sources|-row frame)
    val g = m.agg(sum(col("n_tokens")), sum(col("w"))).head()
    val budget = 2L * g.getLong(0)
    val wTot = g.getLong(1)
    // candidate boundaries: |sources|^2 exact cross-mult prefix sums
    val cand = m.select(col("source").as("cs"), col("w").as("ws"), col("cap").as("caps"))
      .join(m.select(col("w").as("wr"), col("cap").as("capr")),
        expr("CAST(capr AS DECIMAL(38,0)) * ws <= CAST(caps AS DECIMAL(38,0)) * wr"))
      .groupBy(col("cs"), col("ws"), col("caps"))
      .agg(sum(col("capr")).as("cumcap"), sum(col("wr")).as("cumw"))
      .filter(expr(
        s"CAST(ws AS DECIMAL(38,0)) * (${budget}L - cumcap) >= CAST(caps AS DECIMAL(38,0)) * (${wTot}L - cumw)"))
    // the true boundary: feasible candidate with maximal capped mass
    // (sets are nested along the ratio order, so max cumw names the set)
    val b = cand.agg(max(struct(col("cumw"), col("cumcap"), col("ws"), col("caps"))).as("b"))
      .select(col("b.cumw").as("bcumw"), col("b.cumcap").as("bcumcap"),
        col("b.ws").as("bws"), col("b.caps").as("bcaps"))
    m.crossJoin(b) // 1-row boundary frame
      .withColumn("capped", expr(
        "bws IS NOT NULL AND CAST(cap AS DECIMAL(38,0)) * bws <= CAST(bcaps AS DECIMAL(38,0)) * w"))
      .withColumn("alloc_tokens", when(col("capped"), col("cap")).otherwise(expr(
        s"CAST(CAST(w AS DECIMAL(38,0)) * (${budget}L - coalesce(bcumcap, 0L)) div (${wTot}L - coalesce(bcumw, 0L)) AS BIGINT)")))
      .select(col("source"), col("n_tokens"), col("w").as("weight_micro"),
        col("cap").as("cap_tokens"), col("alloc_tokens"),
        expr("CAST((2 * CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000 + n_tokens) div (2 * n_tokens) AS BIGINT)")
          .as("epochs_ppm"),
        col("capped"))
      .orderBy(col("source"))
  }

  private[operators] lazy val x150Sql =
    """WITH ns AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |m AS (SELECT source, n_tokens,
      |    CAST(n_tokens AS HUGEINT) * 1000000000000 AS x,
      |    CAST(floor(sqrt(CAST(CAST(n_tokens AS HUGEINT) * 1000000000000 AS DOUBLE))) AS BIGINT) AS m0
      |  FROM ns),
      |mw AS (SELECT source, n_tokens,
      |    m0 + (CASE WHEN CAST(m0 + 1 AS HUGEINT) * (m0 + 1) <= x THEN 1 ELSE 0 END)
      |       - (CASE WHEN CAST(m0 AS HUGEINT) * m0 > x THEN 1 ELSE 0 END) AS w,
      |    (21 * n_tokens) // 10 AS cap
      |  FROM m),
      |g AS (SELECT 2 * CAST(sum(n_tokens) AS BIGINT) AS budget,
      |             CAST(sum(w) AS BIGINT) AS wtot FROM mw),
      |cand AS (SELECT s.source AS cs, s.w AS ws, s.cap AS caps,
      |    CAST(sum(r.cap) AS BIGINT) AS cumcap, CAST(sum(r.w) AS BIGINT) AS cumw
      |  FROM mw s JOIN mw r ON CAST(r.cap AS HUGEINT) * s.w <= CAST(s.cap AS HUGEINT) * r.w
      |  GROUP BY 1, 2, 3
      |  HAVING CAST(s.w AS HUGEINT) * ((SELECT budget FROM g) - CAST(sum(r.cap) AS BIGINT))
      |      >= CAST(s.cap AS HUGEINT) * ((SELECT wtot FROM g) - CAST(sum(r.w) AS BIGINT))),
      |b AS (SELECT cumw AS bcumw, cumcap AS bcumcap, ws AS bws, caps AS bcaps
      |  FROM cand ORDER BY cumw DESC, cumcap DESC, ws DESC, caps DESC LIMIT 1),
      |f AS (SELECT mw.*, b.bcumw, b.bcumcap, b.bws, b.bcaps,
      |    (b.bws IS NOT NULL AND CAST(mw.cap AS HUGEINT) * b.bws <= CAST(b.bcaps AS HUGEINT) * mw.w) AS capped
      |  FROM mw LEFT JOIN b ON TRUE)
      |SELECT source, n_tokens, w AS weight_micro, cap AS cap_tokens,
      |  CASE WHEN capped THEN cap
      |       ELSE CAST(CAST(w AS HUGEINT) * ((SELECT budget FROM g) - coalesce(bcumcap, 0))
      |            // ((SELECT wtot FROM g) - coalesce(bcumw, 0)) AS BIGINT) END AS alloc_tokens,
      |  CAST((2 * CAST((CASE WHEN capped THEN cap
      |       ELSE CAST(CAST(w AS HUGEINT) * ((SELECT budget FROM g) - coalesce(bcumcap, 0))
      |            // ((SELECT wtot FROM g) - coalesce(bcumw, 0)) AS BIGINT) END) AS HUGEINT) * 1000000
      |       + n_tokens) // (2 * n_tokens) AS BIGINT) AS epochs_ppm,
      |  capped
      |FROM f ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X178
  /** SAMPLING-TEMPERATURE CURVE — x150 fixes the mixture temperature at
    * τ = 1/2 (sqrt weighting) by fiat; this operator sweeps τ itself
    * (the x174/x176 rung discipline applied to the mixture): the SAME
    * capped water-filling solve runs at τ ∈ {1/4, 1/2, 1} and each rung
    * reports every source's allocation and epoch load — flat-ish
    * (τ=1/4, small sources upweighted hard) through sqrt (the x150
    * default) to proportional (τ=1, big sources dominate). The solve is
    * scale-invariant in w (only weight ratios matter), so each rung
    * just feeds its own exact integer weight: τ=1 uses n·10⁶; τ=1/2 the
    * x150 isqrt(n·10¹²) = ⌊√n·10⁶⌋; τ=1/4 the COMPOSED form
    * isqrt(isqrt(n·10¹²)·10⁶) — defined AS the composition (within 1 of
    * n^¼·10⁶; both isqrt stages stay ≤ ~10²¹ where the
    * floor-sqrt-double ± 1 correction is provably exact, unlike a
    * direct n·10²⁴ whose double cast can be off by 2). Exactness: the
    * x150 algebra unchanged per rung — isqrt corrections, cross-mult
    * boundary search, floor allocations; DuckDB re-derives identically
    * in HUGEINT. Scale shape: ONE corpus scan into the |sources|-row
    * frame (pinned across the three rungs, released by eagerFinish);
    * each rung's solve is |sources|²-bounded metadata work — three
    * temperatures cost the same scan as one. */
  private[operators] def x178(spark: SparkSession, dir: String): DataFrame = {
    val ns = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast(LongType).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .persist() // |sources|-row; three rung solves read it; eagerFinish releases
    val isq12 = // exact ⌊√(n·10¹²)⌋ (the x150 correction)
      """CAST(floor(sqrt(CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000000000 AS DOUBLE))) AS BIGINT)"""
    def corrected(v0: String, x: String): String =
      s"""($v0 + (CASE WHEN CAST($v0 + 1 AS DECIMAL(38,0)) * ($v0 + 1) <= $x THEN 1 ELSE 0 END)
         |     - (CASE WHEN CAST($v0 AS DECIMAL(38,0)) * $v0 > $x THEN 1 ELSE 0 END))""".stripMargin
    def rung(tauMilli: Long): DataFrame = {
      val base = tauMilli match {
        case 1000L => ns.withColumn("w", expr("n_tokens * 1000000L"))
        case 500L => ns
          .withColumn("x", expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000000000"))
          .withColumn("m0", expr(isq12))
          .withColumn("w", expr(corrected("m0", "x")))
        case 250L => ns
          .withColumn("x", expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000000000"))
          .withColumn("m0", expr(isq12))
          .withColumn("v1", expr(corrected("m0", "x")))
          .withColumn("x2", expr("CAST(v1 AS DECIMAL(38,0)) * 1000000"))
          .withColumn("r0", expr("CAST(floor(sqrt(CAST(x2 AS DOUBLE))) AS BIGINT)"))
          .withColumn("w", expr(corrected("r0", "x2")))
      }
      cappedAllocSolve(base
          .withColumn("cap", expr("(21 * n_tokens) div 10"))
          .select(col("source"), col("n_tokens"), col("w"), col("cap")))
        .withColumn("tau_milli", lit(tauMilli))
    }
    val out = Seq(250L, 500L, 1000L).map(rung).reduce(_.unionByName(_))
      .select(col("tau_milli"), col("source"), col("n_tokens"), col("weight_micro"),
        col("cap_tokens"), col("alloc_tokens"), col("epochs_ppm"), col("capped"))
      .orderBy(col("tau_milli"), col("source"))
    eagerFinish(out, ns)
  }

  /** Oracle: the x150 solve spelled per rung with its own weight CTE
    * chain, UNION ALL'd (CTE names suffixed per rung). */
  private[operators] lazy val x178Sql = {
    def corrected(v0: String, x: String): String =
      s"""$v0 + (CASE WHEN CAST($v0 + 1 AS HUGEINT) * ($v0 + 1) <= $x THEN 1 ELSE 0 END)
         |     - (CASE WHEN CAST($v0 AS HUGEINT) * $v0 > $x THEN 1 ELSE 0 END)""".stripMargin
    def leg(t: Int): String = {
      val wCte = t match {
        case 1000 =>
          s"""mw$t AS (SELECT source, n_tokens, CAST(n_tokens * 1000000 AS BIGINT) AS w,
             |    (21 * n_tokens) // 10 AS cap FROM ns)""".stripMargin
        case 500 =>
          s"""m$t AS (SELECT source, n_tokens,
             |    CAST(n_tokens AS HUGEINT) * 1000000000000 AS x,
             |    CAST(floor(sqrt(CAST(CAST(n_tokens AS HUGEINT) * 1000000000000 AS DOUBLE))) AS BIGINT) AS m0
             |  FROM ns),
             |mw$t AS (SELECT source, n_tokens,
             |    ${corrected("m0", "x")} AS w,
             |    (21 * n_tokens) // 10 AS cap FROM m$t)""".stripMargin
        case 250 =>
          s"""m$t AS (SELECT source, n_tokens,
             |    CAST(n_tokens AS HUGEINT) * 1000000000000 AS x,
             |    CAST(floor(sqrt(CAST(CAST(n_tokens AS HUGEINT) * 1000000000000 AS DOUBLE))) AS BIGINT) AS m0
             |  FROM ns),
             |v$t AS (SELECT source, n_tokens,
             |    CAST(${corrected("m0", "x")} AS HUGEINT) * 1000000 AS x2 FROM m$t),
             |r$t AS (SELECT *, CAST(floor(sqrt(CAST(x2 AS DOUBLE))) AS BIGINT) AS r0 FROM v$t),
             |mw$t AS (SELECT source, n_tokens,
             |    ${corrected("r0", "x2")} AS w,
             |    (21 * n_tokens) // 10 AS cap FROM r$t)""".stripMargin
      }
      s"""$wCte,
         |g$t AS (SELECT 2 * CAST(sum(n_tokens) AS BIGINT) AS budget,
         |             CAST(sum(w) AS HUGEINT) AS wtot FROM mw$t),
         |cand$t AS (SELECT s.source AS cs, s.w AS ws, s.cap AS caps,
         |    CAST(sum(r.cap) AS BIGINT) AS cumcap, CAST(sum(r.w) AS HUGEINT) AS cumw
         |  FROM mw$t s JOIN mw$t r ON CAST(r.cap AS HUGEINT) * s.w <= CAST(s.cap AS HUGEINT) * r.w
         |  GROUP BY 1, 2, 3
         |  HAVING CAST(s.w AS HUGEINT) * ((SELECT budget FROM g$t) - CAST(sum(r.cap) AS BIGINT))
         |      >= CAST(s.cap AS HUGEINT) * ((SELECT wtot FROM g$t) - CAST(sum(r.w) AS HUGEINT))),
         |b$t AS (SELECT cumw AS bcumw, cumcap AS bcumcap, ws AS bws, caps AS bcaps
         |  FROM cand$t ORDER BY cumw DESC, cumcap DESC, ws DESC, caps DESC LIMIT 1),
         |f$t AS (SELECT mw.*, b.bcumw, b.bcumcap, b.bws, b.bcaps,
         |    (b.bws IS NOT NULL AND CAST(mw.cap AS HUGEINT) * b.bws <= CAST(b.bcaps AS HUGEINT) * mw.w) AS capped
         |  FROM mw$t mw LEFT JOIN b$t b ON TRUE),
         |o$t AS (SELECT CAST($t AS BIGINT) AS tau_milli, source, n_tokens,
         |  CAST(w AS BIGINT) AS weight_micro, cap AS cap_tokens,
         |  CASE WHEN capped THEN cap
         |       ELSE CAST(CAST(w AS HUGEINT) * ((SELECT budget FROM g$t) - coalesce(bcumcap, 0))
         |            // ((SELECT wtot FROM g$t) - coalesce(bcumw, 0)) AS BIGINT) END AS alloc_tokens,
         |  capped
         |  FROM f$t)""".stripMargin
    }
    s"""WITH ns AS (SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |${Seq(250, 500, 1000).map(leg).mkString(",\n")}
       |SELECT tau_milli, source, n_tokens, weight_micro, cap_tokens, alloc_tokens,
       |  CAST((2 * CAST(alloc_tokens AS HUGEINT) * 1000000 + n_tokens)
       |    // (2 * n_tokens) AS BIGINT) AS epochs_ppm,
       |  capped
       |FROM (SELECT * FROM o250 UNION ALL SELECT * FROM o500 UNION ALL SELECT * FROM o1000)
       |ORDER BY tau_milli, source""".stripMargin
  }

  // ---------------------------------------------------------------- X152
  /** TRAINING-ORDER INTERLEAVE AUDIT ("shuffle quality") — per-source
    * run-length statistics of the corpus under its content-addressed
    * global training order (k = md5(doc_id): the deterministic, seedless
    * shuffle a reproducible pretraining run uses). Long same-source runs
    * are what a bad shuffle produces and what loss spikes trace back to;
    * this audit is the number a data engineer checks before a run:
    * per source, how many contiguous runs the order produces, the
    * LONGEST run, and the half-up mean run length.
    * Scale design — the global-window trap dodged: a run-length pass
    * "needs" lag() over the total order, which in Spark is a
    * single-task window (the x50 percentile trap at corpus scale).
    * Instead the hex-prefix BUCKETS of k partition the total order into
    * contiguous ranges (`spark.graft.shuffleaudit.hexChars`, default 2
    * → 256 buckets; production raises it — 4 → 65 536 — so bucket
    * partitions shrink with cluster width; the output is
    * bucketing-INVARIANT, spec-proven at 1 vs 2): within-bucket runs
    * come from bucket-partitioned windows (bounded partitions), and the
    * ≤2·buckets boundary runs collect to the driver where a single
    * ordered walk merges chains that cross bucket borders — including
    * chains spanning ENTIRE single-run buckets — in exact longs (the
    * x146 bounded-finisher class). Interior statistics stay distributed;
    * only |sources| + ≤2·buckets rows ever reach the driver.
    * Exactness: all integers (counts, lengths, half-up milli mean);
    * md5 keys are unique per doc_id (the x2/x61 collision-odds
    * contract), so the order is total and both engines walk the
    * identical sequence — the oracle is the single global window DuckDB
    * can afford. */
  private[operators] def x152(spark: SparkSession, dir: String): DataFrame = {
    val hexChars = spark.conf.getOption("spark.graft.shuffleaudit.hexChars")
      .map(_.toInt).getOrElse(2)
    require(hexChars >= 1 && hexChars <= 4,
      s"x152: spark.graft.shuffleaudit.hexChars must be 1..4, got $hexChars")
    val o = Tables.documents(spark, dir)
      .select(col("source"), md5(col("doc_id").cast(StringType)).as("k"))
      .withColumn("bucket",
        conv(substring(col("k"), 1, hexChars), 16, 10).cast(IntegerType))
    val wOrd = Window.partitionBy(col("bucket")).orderBy(col("k"))
    val rows = o
      .withColumn("prev", lag(col("source"), 1).over(wOrd))
      .withColumn("nr", when(col("prev").isNull || col("prev") =!= col("source"), 1L)
        .otherwise(0L))
      .withColumn("rid", sum(col("nr")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val runs = rows.groupBy(col("bucket"), col("rid"), col("source"))
      .agg(count(lit(1)).as("len"))
      .withColumn("max_rid", max(col("rid")).over(Window.partitionBy(col("bucket"))))
      .persist(StorageLevel.MEMORY_AND_DISK) // run-count-sized; released below
    // interior runs (touching neither bucket border) aggregate distributed
    val interior = runs.filter(col("rid") =!= 1L && col("rid") =!= col("max_rid"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_runs_i"), sum(col("len")).as("n_docs_i"),
        max(col("len")).as("max_run_i"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // boundary runs: ≤ 2·buckets rows — the driver stitch walks the
    // buckets in k-order and merges border-crossing chains exactly
    val border = runs.filter(col("rid") === 1L || col("rid") === col("max_rid"))
      .select(col("bucket"), col("rid"), col("source"), col("len"), col("max_rid"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(b => (b._1, b._2))
    runs.unpersist()
    val merged = scala.collection.mutable.Map[String, (Long, Long)]() // src -> (n_runs, max_run)
    def emit(src: String, len: Long): Unit = {
      val (n, m) = merged.getOrElse(src, (0L, 0L))
      merged(src) = (n + 1, math.max(m, len))
    }
    var chain: Option[(String, Long)] = None
    for (grp <- border.groupBy(_._1).toSeq.sortBy(_._1)) {
      val bs = grp._2
      val first = bs.head // rid == 1 (sort pinned it first)
      val single = first._5 == 1L // the bucket is ONE run end to end
      chain = chain match {
        case Some((src, len)) if src == first._3 => Some((src, len + first._4))
        case other =>
          other.foreach { case (s, l) => emit(s, l) }
          Some((first._3, first._4))
      }
      if (!single) {
        chain.foreach { case (s, l) => emit(s, l) } // chain ends inside this bucket
        val last = bs.last // rid == max_rid
        chain = Some((last._3, last._4))
      }
    }
    chain.foreach { case (s, l) => emit(s, l) }
    val sources = (interior.keySet ++ merged.keySet).toSeq.sorted
    val outRows = sources.map { src =>
      val (nI, _, mI) = interior.getOrElse(src, (0L, 0L, 0L))
      val (nB, mB) = merged.getOrElse(src, (0L, 0L))
      (src, nI + nB, math.max(mI, mB))
    }
    // n_docs per source is a plain distributed count (independent of runs)
    val nd = Tables.documents(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    import spark.implicits._
    outRows.map { case (src, nRuns, maxRun) =>
      val nDocs = nd.getOrElse(src, 0L)
      (src, nDocs, nRuns, maxRun,
        (2 * nDocs * 1000 + nRuns) / (2 * nRuns))
    }.toDF("source", "n_docs", "n_runs", "max_run", "mean_run_milli")
      .orderBy(col("source"))
  }

  private[operators] lazy val x152Sql =
    """WITH o AS (SELECT source, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
      |r AS (SELECT source, k,
      |    CASE WHEN lag(source) OVER (ORDER BY k) IS DISTINCT FROM source
      |         THEN 1 ELSE 0 END AS nr
      |  FROM o),
      |g AS (SELECT source, sum(nr) OVER (ORDER BY k
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
      |  FROM r),
      |runs AS (SELECT source, rid, CAST(count(*) AS BIGINT) AS len
      |  FROM g GROUP BY 1, 2)
      |SELECT source, CAST(sum(len) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_runs,
      |  CAST(max(len) AS BIGINT) AS max_run,
      |  (2 * CAST(sum(len) AS BIGINT) * 1000 + count(*)) // (2 * count(*)) AS mean_run_milli
      |FROM runs GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X155
  /** EXCESS-LOSS MIXTURE REWEIGHTING — the loss-DRIVEN member the mixture
    * family lacked: x25 takes weights as given, x72/x150 allocate a
    * budget under fairness/cap rules, but none of them DERIVES the
    * weights from a measured training signal. This is the DoReMi recipe
    * (Xie et al. 2023, "Doremi: Optimizing Data Mixtures Speeds Up
    * Language Model Pretraining") collapsed to its deterministic core:
    * domains whose data the current model fits WORST get upweighted.
    * The excess-loss proxy is x63's KL(source ‖ corpus) — per-source
    * cross-entropy under the corpus unigram LM minus the source's own
    * entropy, exactly the "how much worse does the shared model fit
    * this domain" gap, already nano-exact and cross-engine
    * bit-identical. DoReMi's exponentiated-gradient step exp(η·loss) is
    * LINEARIZED to the exact rational tilt w = n_tokens·(10⁹ + η·kl_nanos)
    * with η=4 (one documented first-order step — a static proxy loss
    * makes iterating the update theater, so the engine does not
    * pretend), and every share is then LARGEST-REMAINDER apportioned so
    * baseline_ppm and tilted_ppm each sum to EXACTLY 10⁶ and
    * alloc_tokens to exactly the 10⁹-token budget — floor shares plus
    * +1 units to the largest remainders (ties by source), the
    * apportionment a mixture executor can hand straight to x42's
    * weighted sampler. Scale shape: x63's one corpus scan produces the
    * |sources|-row KL frame; everything here is integer window math
    * over that tiny frame (the x72 discipline — global windows on a
    * metadata-scale frame, never a second corpus action). Exactness:
    * DECIMAL(38,0)/HUGEINT products (n_tokens·(10⁹+4·kl)·10⁹ needs
    * ~10³⁵ headroom at 100 TB), floor div + mod, no doubles beyond
    * x63's single quantized ln. */
  private[operators] def x155(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    x63(spark, dir)
      .select(col("source"), col("n_tokens"), col("kl_nanos"))
      // |sources|-row frame from here down — global windows are fine
      .withColumn("w0", col("n_tokens").cast(DecimalType(38, 0)))
      .withColumn("w1", expr(
        "CAST(n_tokens AS DECIMAL(38,0)) * (1000000000 + 4 * kl_nanos)"))
      .withColumn("tw0", sum(col("w0")).over(wAll))
      .withColumn("tw1", sum(col("w1")).over(wAll))
      .withColumn("q0", expr("CAST((w0 * 1000000) div tw0 AS BIGINT)"))
      .withColumn("r0", expr("(w0 * 1000000) % tw0"))
      .withColumn("q1", expr("CAST((w1 * 1000000) div tw1 AS BIGINT)"))
      .withColumn("r1", expr("(w1 * 1000000) % tw1"))
      .withColumn("qb", expr("CAST((w1 * 1000000000) div tw1 AS BIGINT)"))
      .withColumn("rb", expr("(w1 * 1000000000) % tw1"))
      .withColumn("l0", lit(1000000L) - sum(col("q0")).over(wAll))
      .withColumn("l1", lit(1000000L) - sum(col("q1")).over(wAll))
      .withColumn("lb", lit(1000000000L) - sum(col("qb")).over(wAll))
      .withColumn("rk0", row_number()
        .over(Window.orderBy(col("r0").desc, col("source").asc)).cast(LongType))
      .withColumn("rk1", row_number()
        .over(Window.orderBy(col("r1").desc, col("source").asc)).cast(LongType))
      .withColumn("rkb", row_number()
        .over(Window.orderBy(col("rb").desc, col("source").asc)).cast(LongType))
      .withColumn("baseline_ppm",
        col("q0") + when(col("rk0") <= col("l0"), 1L).otherwise(0L))
      .withColumn("tilted_ppm",
        col("q1") + when(col("rk1") <= col("l1"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("kl_nanos"),
        col("baseline_ppm"), col("tilted_ppm"),
        (col("tilted_ppm") - col("baseline_ppm")).as("delta_ppm"),
        (col("qb") + when(col("rkb") <= col("lb"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .orderBy(col("source"))
  }

  /** Oracle = x63's KL CTEs (text duplicated — the qs26 rule) + the same
    * integer tilt/apportionment arithmetic in HUGEINT. */
  private[operators] lazy val x155Sql =
    """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c_st FROM t GROUP BY 1, 2),
      |ct AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
      |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
      |n AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM ct),
      |j AS (SELECT st.source, ns.n_s,
      |        CAST(round(ln((CAST(st.c_st AS DOUBLE) * (SELECT n FROM n)) /
      |          (CAST(ns.n_s AS DOUBLE) * ct.c_t)) * 1000000000.0, 0) AS BIGINT) AS lr_nanos,
      |        st.c_st
      |      FROM st JOIN ct USING (token) JOIN ns USING (source)),
      |k AS (SELECT source, n_s, CAST(c_st AS HUGEINT) * lr_nanos AS numd FROM j),
      |kl AS (SELECT source, max(n_s) AS n_tokens,
      |  CAST(sum(CAST(CASE WHEN numd >= 0 THEN (2 * numd + n_s) // (2 * n_s)
      |    ELSE -((2 * (-numd) + n_s) // (2 * n_s)) END AS BIGINT)) AS BIGINT) AS kl_nanos
      |FROM k GROUP BY source),
      |w AS (SELECT source, n_tokens, kl_nanos,
      |    CAST(n_tokens AS HUGEINT) AS w0,
      |    CAST(n_tokens AS HUGEINT) * (1000000000 + 4 * kl_nanos) AS w1
      |  FROM kl),
      |q AS (SELECT source, n_tokens, kl_nanos,
      |    CAST((w0 * 1000000) // (sum(w0) OVER ()) AS BIGINT) AS q0,
      |    (w0 * 1000000) % (sum(w0) OVER ()) AS r0,
      |    CAST((w1 * 1000000) // (sum(w1) OVER ()) AS BIGINT) AS q1,
      |    (w1 * 1000000) % (sum(w1) OVER ()) AS r1,
      |    CAST((w1 * 1000000000) // (sum(w1) OVER ()) AS BIGINT) AS qb,
      |    (w1 * 1000000000) % (sum(w1) OVER ()) AS rb
      |  FROM w),
      |f AS (SELECT source, n_tokens, kl_nanos, q0, q1, qb,
      |    1000000 - sum(q0) OVER () AS l0,
      |    1000000 - sum(q1) OVER () AS l1,
      |    1000000000 - sum(qb) OVER () AS lb,
      |    CAST(row_number() OVER (ORDER BY r0 DESC, source) AS BIGINT) AS rk0,
      |    CAST(row_number() OVER (ORDER BY r1 DESC, source) AS BIGINT) AS rk1,
      |    CAST(row_number() OVER (ORDER BY rb DESC, source) AS BIGINT) AS rkb
      |  FROM q)
      |SELECT source, n_tokens, kl_nanos,
      |  CAST(q0 + CASE WHEN rk0 <= l0 THEN 1 ELSE 0 END AS BIGINT) AS baseline_ppm,
      |  CAST(q1 + CASE WHEN rk1 <= l1 THEN 1 ELSE 0 END AS BIGINT) AS tilted_ppm,
      |  CAST((q1 + CASE WHEN rk1 <= l1 THEN 1 ELSE 0 END)
      |     - (q0 + CASE WHEN rk0 <= l0 THEN 1 ELSE 0 END) AS BIGINT) AS delta_ppm,
      |  CAST(qb + CASE WHEN rkb <= lb THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
      |FROM f ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X156
  /** OFF-POLICY FILTER EVALUATION (IPS/SNIPS) — the evaluation family's
    * counterfactual member: estimate what a CANDIDATE admission filter
    * would keep, from the logs of the CURRENTLY-DEPLOYED stochastic
    * admission policy, without re-running anything over the raw corpus —
    * the data-pipeline A/B question ("if we deploy this filter, how many
    * training tokens per source survive?") answered from logs alone.
    * Estimators are the published ones: Horvitz–Thompson inverse
    * propensity scoring for the admitted-token TOTAL, and the
    * self-normalized variant (SNIPS — Swaminathan & Joachims 2015, "The
    * Self-Normalized Estimator for Counterfactual Learning") for the
    * mean-tokens-per-admitted-doc, which trades HT's unbiasedness for
    * bounded variance under propensity skew. The fixture logger admits
    * long docs at 0.9 and short docs at 0.1 (two-tier propensities), the
    * logging coin is CONTENT-ADDRESSED (md5-uniform, the x42 discipline —
    * no RNG state, both engines flip the identical coin), and the
    * candidate filter is a deterministic length gate that DISAGREES with
    * the logger's tiering on [150,200) chars, so the high-weight (×10)
    * correction path is genuinely exercised. Because the policies are
    * deterministic functions of the corpus, the on-policy TRUTH is
    * computable in the same scan — the output carries its own audit
    * (err_ppm of IPS vs truth), which is the point: the estimator's
    * error is a measured number, not a hope. Exactness: propensities are
    * exact ppm two-pointers, so every IPS weight is the exact rational
    * 10/9 or 10 — sums are kept in integer NINTHS and divided once with
    * half-up rounding; the logging flag is the DECIMAL(38,0)/HUGEINT
    * cross-multiplication hv·10⁶ < p0·2⁴⁸ (hv·10⁶ overflows int64).
    * Scale shape: ONE corpus scan, every per-doc column map-side, one
    * groupBy(source) of conditional sums — |sources| output rows, no
    * joins, no windows, no second action. */
  /** x156's moment core, factored for the qs35 streaming twin (the
    * cappedMixtureAlloc pattern): per-doc log replay map-side, ONE
    * groupBy(source) of commutative conditional sums — works identically
    * on a stream (|sources|-row state × 6 longs) and a batch frame. */
  private[graft] def ipsMoments(docs: DataFrame): DataFrame =
    docs
      .withColumn("tok", size(toks(col("text"))).cast(LongType))
      .withColumn("hv", conv(substring(md5(col("text")), 1, 12), 16, 10).cast(LongType))
      .withColumn("p0_ppm", when(col("n_chars") >= 200, 900000L).otherwise(100000L))
      .withColumn("logged", expr(
        "CAST(hv AS DECIMAL(38,0)) * 1000000 < CAST(p0_ppm AS DECIMAL(38,0)) * 281474976710656"))
      .withColumn("target", col("n_chars") >= 150)
      .withColumn("wn", when(col("p0_ppm") === 900000L, 10L).otherwise(90L))
      .groupBy(col("source"))
      .agg(
        sum(when(col("logged"), 1L).otherwise(0L)).as("n_logged"),
        sum(when(col("logged") && col("target"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("logged") && col("target"), col("tok") * col("wn"))
          .otherwise(0L)).as("ips_ninths"),
        sum(when(col("logged") && col("target"), col("wn")).otherwise(0L)).as("w_ninths"),
        sum(when(col("target"), col("tok")).otherwise(0L)).as("truth_tokens"),
        sum(when(col("target"), 1L).otherwise(0L)).as("truth_docs"))

  /** x156's estimator finish over a drained/batch moment frame: exact
    * half-up rationals from the integer ninths. */
  private[graft] def ipsFinish(moments: DataFrame): DataFrame =
    moments
      .withColumn("ips_tokens", expr("(2 * ips_ninths + 9) div 18"))
      .select(col("source"), col("n_logged"), col("n_match"), col("ips_tokens"),
        col("truth_tokens"),
        expr("""CAST((2 * CAST(abs(ips_tokens - truth_tokens) AS DECIMAL(38,0)) * 1000000
                + greatest(truth_tokens, 1)) div (2 * greatest(truth_tokens, 1)) AS BIGINT)""")
          .as("err_ppm"),
        expr("""CAST((2000 * CAST(ips_ninths AS DECIMAL(38,0)) + greatest(w_ninths, 1))
                div (2 * greatest(w_ninths, 1)) AS BIGINT)""").as("snips_mean_milli"),
        expr("""CAST((2000 * CAST(truth_tokens AS DECIMAL(38,0)) + greatest(truth_docs, 1))
                div (2 * greatest(truth_docs, 1)) AS BIGINT)""").as("truth_mean_milli"))
      .orderBy(col("source"))

  private[operators] def x156(spark: SparkSession, dir: String): DataFrame =
    ipsFinish(ipsMoments(Tables.documents(spark, dir)))

  // ---------------------------------------------------------------- X159
  /** POISSON-BOOTSTRAP CONFIDENCE INTERVALS — the statistics-at-scale
    * member the scorecards lacked: every per-source mean this engine
    * emits (quality, tokens, drift) is a point estimate, and the
    * question a release gate actually asks is "is the difference real or
    * sampling noise?". The classical bootstrap resamples n-of-n WITH
    * replacement — undistributable, because a resample needs global
    * coordination. The POISSON bootstrap (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams" — the standard production
    * form) replaces multinomial counts with independent Poisson(1)
    * weights per row, so B=32 resamples ride ONE corpus scan: each row
    * draws 32 weights map-side and contributes (w·tok, w) to 32 keyed
    * sums. Determinism: the draws are CONTENT-ADDRESSED (md5(doc_id, b)
    * uniform vs the Poisson(1) CDF), so both engines draw the identical
    * weight table — the CI is an estimator (B=32, weights capped at 5:
    * the cap bin holds 0.37% mass; nearest-rank endpoints ceil(0.025·32)=1
    * and ceil(0.975·32)=32, i.e. min/max of the 32 resample means — at
    * B=32 the nearest-rank 95% interval IS the full resample range;
    * tighten by raising B, not by discarding extremes), but the OUTPUT
    * is bit-reproducible, which
    * is what a hash gate and a rerun audit need. CDF thresholds are
    * pinned integer-ppb literals (e⁻¹-derived, comment below) — no
    * transcendental evaluated at runtime, so no cross-engine ulp risk
    * (the RBS discipline). Scale shape: one scan explodes ×32 but the
    * groupBy(source, b) map-side combines to |sources|·32 rows; the
    * rank selection is a window over that tiny frame. */
  private[operators] def x159(spark: SparkSession, dir: String): DataFrame = {
    // Poisson(1) CDF at k=0..4, round-nearest ppb: e^-1, 2e^-1, 2.5e^-1,
    // 2.5e^-1 + e^-1/6, + e^-1/24
    val cdf = Seq(367879441L, 735758882L, 919698603L, 981011843L, 996340153L)
    val wExpr = cdf.zipWithIndex.foldRight("CAST(5 AS BIGINT)") { case ((t, k), rest) =>
      s"IF(CAST(hv AS DECIMAL(38,0)) * 1000000000 < CAST($t AS DECIMAL(38,0)) * 281474976710656, CAST($k AS BIGINT), $rest)"
    }
    val perResample = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("tok"))
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("hv", conv(substring(
        md5(concat(col("doc_id").cast("string"), lit("_"), col("b").cast("string"))),
        1, 12), 16, 10).cast(LongType))
      .withColumn("w", expr(wExpr))
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w") * col("tok")).as("wt"), sum(col("w")).as("wn"))
      .withColumn("bmean_milli",
        expr("(2000 * wt + greatest(wn, 1)) div (2 * greatest(wn, 1))"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("bmean_milli").asc, col("b").asc)
    val ci = perResample // |sources|x32 rows from here down
      .withColumn("rk", row_number().over(wRank))
      .groupBy(col("source"))
      .agg(max(when(col("rk") === 1, col("bmean_milli"))).as("boot_lo_milli"),
        max(when(col("rk") === 32, col("bmean_milli"))).as("boot_hi_milli"))
    val point = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast(LongType).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("(2000 * sum(tok) + count(1)) div (2 * count(1))").as("mean_milli"))
    point.join(ci, Seq("source")) // |sources|-row frames
      .select(col("source"), col("n_docs"), col("mean_milli"),
        col("boot_lo_milli"), col("boot_hi_milli"),
        (col("boot_hi_milli") - col("boot_lo_milli")).as("ci_width_milli"))
      .orderBy(col("source"))
  }

  private[operators] lazy val x159Sql = {
    val cdf = Seq(367879441L, 735758882L, 919698603L, 981011843L, 996340153L)
    val wCase = cdf.zipWithIndex.map { case (t, k) =>
      s"WHEN hv::HUGEINT * 1000000000 < ${t}::HUGEINT * 281474976710656 THEN $k"
    }.mkString("CASE ", " ", " ELSE 5 END")
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
       |r AS (SELECT source, doc_id, tok, unnest(range(32)) AS b FROM d),
       |h AS (SELECT source, tok, b,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 1, 12))::BIGINT AS hv
       |  FROM r),
       |w AS (SELECT source, tok, b, CAST($wCase AS BIGINT) AS w FROM h),
       |g AS (SELECT source, b, CAST(sum(w * tok) AS BIGINT) AS wt,
       |        CAST(sum(w) AS BIGINT) AS wn
       |      FROM w GROUP BY 1, 2),
       |m AS (SELECT source, b,
       |    CAST((2000 * wt + greatest(wn, 1)) // (2 * greatest(wn, 1)) AS BIGINT) AS bmean_milli
       |  FROM g),
       |rk AS (SELECT source, bmean_milli,
       |    row_number() OVER (PARTITION BY source ORDER BY bmean_milli, b) AS rk FROM m),
       |ci AS (SELECT source,
       |    max(CASE WHEN rk = 1 THEN bmean_milli END) AS boot_lo_milli,
       |    max(CASE WHEN rk = 32 THEN bmean_milli END) AS boot_hi_milli
       |  FROM rk GROUP BY source),
       |p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST((2000 * sum(tok) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_milli
       |  FROM d GROUP BY source)
       |SELECT source, n_docs, mean_milli, boot_lo_milli, boot_hi_milli,
       |  CAST(boot_hi_milli - boot_lo_milli AS BIGINT) AS ci_width_milli
       |FROM p JOIN ci USING (source) ORDER BY source""".stripMargin
  }

  private[operators] lazy val x156Sql =
    """WITH d AS (SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS hv,
      |    CASE WHEN n_chars >= 200 THEN 900000 ELSE 100000 END AS p0_ppm,
      |    n_chars
      |  FROM documents),
      |f AS (SELECT source, tok,
      |    (hv::HUGEINT * 1000000 < p0_ppm::HUGEINT * 281474976710656) AS logged,
      |    (n_chars >= 150) AS target,
      |    CASE WHEN p0_ppm = 900000 THEN 10 ELSE 90 END AS wn
      |  FROM d),
      |a AS (SELECT source,
      |    CAST(count(*) FILTER (WHERE logged) AS BIGINT) AS n_logged,
      |    CAST(count(*) FILTER (WHERE logged AND target) AS BIGINT) AS n_match,
      |    CAST(coalesce(sum(tok * wn) FILTER (WHERE logged AND target), 0) AS BIGINT) AS ips_ninths,
      |    CAST(coalesce(sum(wn) FILTER (WHERE logged AND target), 0) AS BIGINT) AS w_ninths,
      |    CAST(coalesce(sum(tok) FILTER (WHERE target), 0) AS BIGINT) AS truth_tokens,
      |    CAST(count(*) FILTER (WHERE target) AS BIGINT) AS truth_docs
      |  FROM f GROUP BY source)
      |SELECT source, n_logged, n_match,
      |  CAST((2 * ips_ninths + 9) // 18 AS BIGINT) AS ips_tokens,
      |  truth_tokens,
      |  CAST((2 * CAST(abs((2 * ips_ninths + 9) // 18 - truth_tokens) AS HUGEINT) * 1000000
      |        + greatest(truth_tokens, 1)) // (2 * greatest(truth_tokens, 1)) AS BIGINT) AS err_ppm,
      |  CAST((2000 * CAST(ips_ninths AS HUGEINT) + greatest(w_ninths, 1))
      |       // (2 * greatest(w_ninths, 1)) AS BIGINT) AS snips_mean_milli,
      |  CAST((2000 * CAST(truth_tokens AS HUGEINT) + greatest(truth_docs, 1))
      |       // (2 * greatest(truth_docs, 1)) AS BIGINT) AS truth_mean_milli
      |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X163
  /** PACKING-STRATEGY EFFICIENCY A/B — the training-throughput decision
    * x21's offsets feed: per lang, what does each packing strategy COST
    * at seq_len 256? Strategy `concat_cut` (GPT-style concat-and-cut,
    * x21's manifest): sequences = the lang's token total cut into 256s,
    * padding only in the final sequence, but documents FRAGMENT across
    * boundaries (attention bleed / document-mask cost — counted
    * exactly as docs whose span crosses a cut). Strategy `pad_per_doc`
    * (no fragmentation): every doc pads to its own 256-multiple —
    * zero fragments, all waste explicit padding. The output is the
    * decision table: sequences, pad tokens, half-up utilization ppm,
    * fragmented docs — exact integers from ONE aggregation over x21's
    * offset frame (the two strategies' sufficient statistics ride the
    * same groupBy and melt into rows after; no second corpus pass).
    * Scale shape: x21's own (per-stratum bucketed prefix windows — no
    * global sort) plus a |langs|-row melt. */
  private[operators] def x163(spark: SparkSession, dir: String): DataFrame = {
    val agg = x21(spark, dir).groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
      (max(col("last_seq")) + 1L).as("seq_a"),
      sum(expr("cast((n_tokens + 255) div 256 as bigint)")).as("seq_b"),
      sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L)).as("frag_a"))
    agg.select(col("lang"), col("n_docs"), col("total_tokens"), explode(array(
        struct(lit("concat_cut").as("strategy"), col("seq_a").as("n_sequences"),
          col("frag_a").as("frag_docs")),
        struct(lit("pad_per_doc").as("strategy"), col("seq_b").as("n_sequences"),
          lit(0L).as("frag_docs")))).as("e"))
      .select(col("lang"), col("e.strategy").as("strategy"), col("n_docs"),
        col("total_tokens"), col("e.n_sequences").as("n_sequences"),
        col("e.frag_docs").as("frag_docs"))
      .withColumn("pad_tokens", col("n_sequences") * 256L - col("total_tokens"))
      .withColumn("util_ppm", expr(
        "(2 * total_tokens * 1000000 + n_sequences * 256) div (2 * n_sequences * 256)"))
      .select(col("lang"), col("strategy"), col("n_docs"), col("total_tokens"),
        col("n_sequences"), col("pad_tokens"), col("util_ppm"), col("frag_docs"))
      .orderBy(col("lang"), col("strategy"))
  }

  // ---------------------------------------------------------------- X165
  /** WEIGHTED PRIORITY SAMPLE — the size-biased complement of x7's
    * uniform-rate stratified sampler: pick k=50 docs per source with
    * inclusion probability RISING with token weight (the priority /
    * A-ES sampling shape, used to build eval slices that overweight the
    * heavy documents a uniform draw almost never sees). Exact-integer
    * form: priority = floor(hv·10⁶ / w) with hv the md5-derived 48-bit
    * content-addressed coin and w the token count — heavier docs draw
    * stochastically smaller priorities, and the k SMALLEST win. Fully
    * deterministic across runs, partitionings, and engines (the x7
    * reproducibility contract: a re-run of the eval-set builder must
    * pick the SAME docs), zero floating point. One corpus scan + the q7
    * per-stratum top-k window (partitioned by source, never global). */
  private[operators] def x165(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pri").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("hv", conv(substring(
          md5(concat(lit("x165_"), col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast(LongType))
      .withColumn("pri", expr("hv div greatest(n_tokens, 1)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_tokens"), col("pri"))
      .orderBy(col("source"), col("rnk"))
  }

  private[graft] lazy val x165Sql = // private[graft]: qs39's oracle IS this SQL (drain == batch)
    """WITH d AS (SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |h AS (SELECT *, ('0x' || substr(md5('x165_' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hv
      |  FROM d),
      |p AS (SELECT *, CAST(hv // greatest(n_tokens, 1) AS BIGINT) AS pri
      |  FROM h),
      |r AS (SELECT source, doc_id, n_tokens, pri,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS INT) AS rnk
      |  FROM p)
      |SELECT source, rnk, doc_id, n_tokens, pri FROM r WHERE rnk <= 10
      |ORDER BY source, rnk""".stripMargin

  /** Oracle: x21's offset CTE (per-lang doc_id-ordered prefix) aggregated
    * to both strategies' statistics, melted by UNION ALL. */
  private[operators] lazy val x163Sql =
    """WITH d AS (SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |o AS (SELECT doc_id, lang, n_tokens,
      |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      |  FROM d),
      |f AS (SELECT lang, n_tokens,
      |    start_offset // 256 AS first_seq,
      |    (start_offset + n_tokens - 1) // 256 AS last_seq FROM o),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |    CAST(max(last_seq) + 1 AS BIGINT) AS seq_a,
      |    CAST(sum((n_tokens + 255) // 256) AS BIGINT) AS seq_b,
      |    CAST(count(*) FILTER (WHERE last_seq > first_seq) AS BIGINT) AS frag_a
      |  FROM f GROUP BY lang),
      |m AS (SELECT lang, 'concat_cut' AS strategy, n_docs, total_tokens,
      |        seq_a AS n_sequences, frag_a AS frag_docs FROM g
      |      UNION ALL
      |      SELECT lang, 'pad_per_doc', n_docs, total_tokens,
      |        seq_b, CAST(0 AS BIGINT) FROM g)
      |SELECT lang, strategy, n_docs, total_tokens, n_sequences,
      |  CAST(n_sequences * 256 - total_tokens AS BIGINT) AS pad_tokens,
      |  CAST((2 * total_tokens * 1000000 + n_sequences * 256)
      |    // (2 * n_sequences * 256) AS BIGINT) AS util_ppm,
      |  frag_docs
      |FROM m ORDER BY lang, strategy""".stripMargin

  // ---------------------------------------------------------------- X168
  /** DATA-CONSTRAINED EPOCH ALLOCATION — the "how many epochs is each
    * source worth?" decision when the token budget EXCEEDS the corpus
    * (the data-constrained regime of Muennighoff et al. 2023: repeated
    * data decays in value, so spending the surplus budget is an
    * allocation problem, not a tautology). Value model: epoch e of
    * source s is worth quality_ppm(s) · decay_milli(e) per token, with
    * the x65 gate's keep rate as the per-source quality weight and the
    * exact halving ladder 1000/500/250/125 as the repetition decay (a
    * milli-exact stand-in for the paper's exponential decay — integers,
    * no transcendentals). Allocation is the GREEDY PREFIX rule over the
    * |sources|×4 candidate frame: admit candidates in (marginal desc,
    * source, epoch) order while the running token cost stays within
    * budget = ⌊1.5 · total corpus tokens⌋. For a fixed source the
    * marginal strictly decays in e, so each source's admitted epochs are
    * a prefix of 1..4 by construction — "epochs per source" is
    * well-defined. (Greedy-prefix, NOT knapsack: the first candidate
    * that overflows blocks later smaller ones — documented, determinism
    * over optimality; the gap is at most one candidate's tokens.)
    * Exactness: keep rates are half-up ppm rationals, marginals and
    * effective tokens are integer products — zero floating point.
    * Scale shape: one corpus scan into a |sources|-row frame; the
    * global window runs on |sources|×4 rows (the x72/x155 discipline —
    * a deliberate single-partition window over an aggregated frame,
    * never the corpus). */
  private[operators] def x168(spark: SparkSession, dir: String): DataFrame = {
    val keep = x65(spark, dir).select(col("doc_id"), col("keep"))
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"))
      .join(keep, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("quality_ppm",
        expr("(2 * n_keep * 1000000 + n_docs) div (2 * n_docs)"))
      .withColumn("budget", expr("(3 * sum(tokens) over ()) div 2"))
    val cand = src.select(col("source"), col("n_docs"), col("tokens"),
        col("quality_ppm"), col("budget"),
        explode(expr("""array(
          named_struct('epoch', 1, 'decay_milli', 1000L),
          named_struct('epoch', 2, 'decay_milli',  500L),
          named_struct('epoch', 3, 'decay_milli',  250L),
          named_struct('epoch', 4, 'decay_milli',  125L))""")).as("e"))
      .select(col("source"), col("n_docs"), col("tokens"), col("quality_ppm"),
        col("budget"), col("e.epoch").as("epoch"),
        col("e.decay_milli").as("decay_milli"))
      .withColumn("marginal", col("quality_ppm") * col("decay_milli"))
    val w = Window.orderBy(col("marginal").desc, col("source").asc, col("epoch").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand.withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("admit", col("cum") <= col("budget"))
      .groupBy(col("source"), col("n_docs"), col("tokens"), col("quality_ppm"),
        col("budget"))
      .agg(sum(when(col("admit"), 1L).otherwise(0L)).as("epochs"),
        sum(when(col("admit"), col("decay_milli")).otherwise(0L)).as("dsum"))
      .select(col("source"), col("n_docs"), col("tokens"), col("quality_ppm"),
        col("budget"), col("epochs"),
        (col("tokens") * col("epochs")).as("tokens_consumed"),
        (col("tokens") * col("dsum")).as("eff_tokens_milli"))
      .orderBy(col("source"))
  }

  private[operators] lazy val x168Sql =
    s"""WITH k AS ($x65Sql),
       |d AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |    CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_keep
       |  FROM d JOIN k USING (doc_id) GROUP BY source),
       |q AS (SELECT *,
       |    CAST((2 * n_keep * 1000000 + n_docs) // (2 * n_docs) AS BIGINT) AS quality_ppm,
       |    CAST((3 * sum(tokens) OVER ()) // 2 AS BIGINT) AS budget FROM s),
       |c AS (SELECT q.*, e.epoch, e.decay_milli,
       |    quality_ppm * e.decay_milli AS marginal
       |  FROM q CROSS JOIN (VALUES (1, 1000), (2, 500), (3, 250), (4, 125))
       |    AS e(epoch, decay_milli)),
       |w AS (SELECT *, CAST(sum(tokens) OVER (ORDER BY marginal DESC, source, epoch
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c),
       |a AS (SELECT *, cum <= budget AS admit FROM w)
       |SELECT source, n_docs, tokens, quality_ppm, budget,
       |  CAST(count(*) FILTER (WHERE admit) AS BIGINT) AS epochs,
       |  CAST(tokens * count(*) FILTER (WHERE admit) AS BIGINT) AS tokens_consumed,
       |  CAST(tokens * coalesce(sum(decay_milli) FILTER (WHERE admit), 0) AS BIGINT)
       |    AS eff_tokens_milli
       |FROM a GROUP BY source, n_docs, tokens, quality_ppm, budget
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X174
  /** BUDGET-SENSITIVITY CURVE — x168 fixes the token budget at 1.5× the
    * corpus by fiat; this operator turns the budget itself into the
    * swept variable (the x154/x161/x173 curve discipline applied to the
    * allocator): the SAME greedy-prefix spend runs at five budget rungs
    * (1.0×, 1.25×, 1.5×, 2.0×, 3.0× corpus tokens — exact milli
    * multipliers, floor division), and each rung reports what the
    * budget bought (admitted epochs, consumed and effective tokens,
    * utilization) plus its SHADOW PRICE — the smallest admitted
    * marginal, i.e. the quality_ppm × decay_milli rate at which the
    * budget ran out. Reading the curve: eff_tokens_milli flattens as
    * rungs rise (later epochs decay), so the marginal_floor column is
    * the "is more budget still buying data worth training on?" number.
    * Exactness: the x168 algebra unchanged — half-up ppm keep rates,
    * integer marginals, floor-divided budgets; per-rung windows are the
    * candidate frame partitioned BY rung. Scale shape: ONE corpus scan
    * into the |sources|-row frame (shared with x168's shape), then a
    * |sources|×4×5-row candidate frame — the sweep is metadata-scale,
    * five budgets cost the same scan as one (the x154 lesson). The
    * per-rung window is a deliberate |sources|×4-row single-partition
    * window over an aggregated frame (the x72 discipline), never the
    * corpus. */
  private[operators] def x174(spark: SparkSession, dir: String): DataFrame = {
    val keep = x65(spark, dir).select(col("doc_id"), col("keep"))
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"))
      .join(keep, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("quality_ppm",
        expr("(2 * n_keep * 1000000 + n_docs) div (2 * n_docs)"))
      .withColumn("total_tokens", expr("sum(tokens) over ()"))
    val cand = src.select(col("source"), col("tokens"), col("quality_ppm"),
        col("total_tokens"),
        explode(expr("""array(
          named_struct('epoch', 1, 'decay_milli', 1000L),
          named_struct('epoch', 2, 'decay_milli',  500L),
          named_struct('epoch', 3, 'decay_milli',  250L),
          named_struct('epoch', 4, 'decay_milli',  125L))""")).as("e"))
      .withColumn("budget_milli",
        explode(typedLit(Seq(1000L, 1250L, 1500L, 2000L, 3000L))))
      .select(col("source"), col("tokens"), col("quality_ppm"), col("budget_milli"),
        expr("(budget_milli * total_tokens) div 1000").as("budget_tokens"),
        col("e.epoch").as("epoch"), col("e.decay_milli").as("decay_milli"))
      .withColumn("marginal", col("quality_ppm") * col("decay_milli"))
    val w = Window.partitionBy(col("budget_milli"))
      .orderBy(col("marginal").desc, col("source").asc, col("epoch").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand.withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("admit", col("cum") <= col("budget_tokens"))
      .groupBy(col("budget_milli"), col("budget_tokens"))
      .agg(sum(when(col("admit"), 1L).otherwise(0L)).as("n_admitted"),
        countDistinct(when(col("admit"), col("source"))).as("n_sources_active"),
        sum(when(col("admit"), col("tokens")).otherwise(0L)).as("tokens_consumed"),
        sum(when(col("admit"), col("tokens") * col("decay_milli")).otherwise(0L))
          .as("eff_tokens_milli"),
        min(when(col("admit"), col("marginal"))).as("marginal_floor"))
      .select(col("budget_milli"), col("budget_tokens"), col("n_admitted"),
        col("n_sources_active"), col("tokens_consumed"), col("eff_tokens_milli"),
        expr("(2 * tokens_consumed * 1000000 + greatest(budget_tokens, 1)) " +
          "div (2 * greatest(budget_tokens, 1))").as("util_ppm"),
        col("marginal_floor"))
      .orderBy(col("budget_milli"))
  }

  /** Oracle: x168Sql's CTEs with the rung dimension cross-joined in and
    * the window partitioned per rung. */
  private[operators] lazy val x174Sql =
    s"""WITH k AS ($x65Sql),
       |d AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |    CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_keep
       |  FROM d JOIN k USING (doc_id) GROUP BY source),
       |q AS (SELECT *,
       |    CAST((2 * n_keep * 1000000 + n_docs) // (2 * n_docs) AS BIGINT) AS quality_ppm,
       |    CAST(sum(tokens) OVER () AS BIGINT) AS total_tokens FROM s),
       |c AS (SELECT q.source, q.tokens, q.quality_ppm,
       |    CAST(r.budget_milli AS BIGINT) AS budget_milli,
       |    CAST((r.budget_milli * q.total_tokens) // 1000 AS BIGINT) AS budget_tokens,
       |    e.epoch, e.decay_milli, q.quality_ppm * e.decay_milli AS marginal
       |  FROM q CROSS JOIN (VALUES (1, 1000), (2, 500), (3, 250), (4, 125))
       |    AS e(epoch, decay_milli)
       |  CROSS JOIN (VALUES (1000), (1250), (1500), (2000), (3000)) AS r(budget_milli)),
       |w AS (SELECT *, CAST(sum(tokens) OVER (PARTITION BY budget_milli
       |      ORDER BY marginal DESC, source, epoch
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c),
       |a AS (SELECT *, cum <= budget_tokens AS admit FROM w)
       |SELECT budget_milli, budget_tokens,
       |  CAST(count(*) FILTER (WHERE admit) AS BIGINT) AS n_admitted,
       |  CAST(count(DISTINCT source) FILTER (WHERE admit) AS BIGINT) AS n_sources_active,
       |  CAST(coalesce(sum(tokens) FILTER (WHERE admit), 0) AS BIGINT) AS tokens_consumed,
       |  CAST(coalesce(sum(tokens * decay_milli) FILTER (WHERE admit), 0) AS BIGINT)
       |    AS eff_tokens_milli,
       |  CAST((2 * coalesce(sum(tokens) FILTER (WHERE admit), 0) * 1000000
       |    + greatest(budget_tokens, 1)) // (2 * greatest(budget_tokens, 1)) AS BIGINT)
       |    AS util_ppm,
       |  CAST(min(marginal) FILTER (WHERE admit) AS BIGINT) AS marginal_floor
       |FROM a GROUP BY budget_milli, budget_tokens
       |ORDER BY budget_milli""".stripMargin

  // ---------------------------------------------------------------- X176
  /** SEQUENCE-LENGTH PACKING CURVE — x163 prices the two packing
    * strategies at seq_len 256 by fiat; this operator sweeps the
    * context length itself (128/256/512/1024 — the x174 rung discipline
    * applied to the packing decision): per (lang, seq_len, strategy),
    * sequences, pad tokens, half-up utilization ppm, and fragmented
    * docs. Reading the curve: concat_cut's utilization is ~1 at every
    * length (its pad is provably < seq_len per stratum — only the final
    * sequence pads) but it fragments documents, while pad_per_doc never
    * fragments and pays padding that GROWS with seq_len (each doc wastes
    * up to L−1 tokens) — the two costs move oppositely in L, and where
    * the trade balances is the length decision a training config hangs
    * on (attention-mask support for fragments vs wasted FLOPs). All four
    * lengths derive from x21's ONE offset frame (start_offset is
    * length-independent): per-L sufficient statistics ride ONE
    * aggregation as wide columns (the x167 tier trick), then melt to
    * |langs|×4×2 rows — four lengths cost the same scan as one.
    * Exactness: pure integer floor/ceil arithmetic, bit-stable across
    * engines. */
  private[operators] def x176(spark: SparkSession, dir: String): DataFrame = {
    val lens = Seq(128, 256, 512, 1024)
    val aggCols = lens.flatMap { l => Seq(
      (max(expr(s"(start_offset + n_tokens - 1) div $l")) + 1L).as(s"seqa_$l"),
      sum(when(expr(s"(start_offset + n_tokens - 1) div $l") >
        expr(s"start_offset div $l"), 1L).otherwise(0L)).as(s"fraga_$l"),
      sum(expr(s"cast((n_tokens + ${l - 1}) div $l as bigint)")).as(s"seqb_$l")) }
    val agg = x21(spark, dir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("total_tokens") +: aggCols: _*)
    val entries = lens.flatMap { l => Seq(
      struct(lit(l.toLong).as("seq_len"), lit("concat_cut").as("strategy"),
        col(s"seqa_$l").as("n_sequences"), col(s"fraga_$l").as("frag_docs")),
      struct(lit(l.toLong).as("seq_len"), lit("pad_per_doc").as("strategy"),
        col(s"seqb_$l").as("n_sequences"), lit(0L).as("frag_docs"))) }
    agg.select(col("lang"), col("n_docs"), col("total_tokens"),
        explode(array(entries: _*)).as("e"))
      .select(col("lang"), col("e.seq_len").as("seq_len"),
        col("e.strategy").as("strategy"), col("n_docs"), col("total_tokens"),
        col("e.n_sequences").as("n_sequences"), col("e.frag_docs").as("frag_docs"))
      .withColumn("pad_tokens",
        col("n_sequences") * col("seq_len") - col("total_tokens"))
      .withColumn("util_ppm", expr(
        """(2 * total_tokens * 1000000 + n_sequences * seq_len)
           div (2 * n_sequences * seq_len)"""))
      .select(col("lang"), col("seq_len"), col("strategy"), col("n_docs"),
        col("total_tokens"), col("n_sequences"), col("pad_tokens"),
        col("util_ppm"), col("frag_docs"))
      .orderBy(col("lang"), col("seq_len"), col("strategy"))
  }

  /** Oracle: x21's offset CTE with per-length statistics, melted by a
    * generated UNION ALL (the x163 oracle shape per length). */
  private[operators] lazy val x176Sql = {
    val lens = Seq(128, 256, 512, 1024)
    def legs(l: Int) =
      s"""SELECT lang, CAST($l AS BIGINT) AS seq_len, 'concat_cut' AS strategy,
         |  n_docs, total_tokens, seqa_$l AS n_sequences, fraga_$l AS frag_docs FROM g
         |UNION ALL
         |SELECT lang, CAST($l AS BIGINT), 'pad_per_doc',
         |  n_docs, total_tokens, seqb_$l, CAST(0 AS BIGINT) FROM g""".stripMargin
    val aggExprs = lens.map { l =>
      s"""    CAST(max((start_offset + n_tokens - 1) // $l) + 1 AS BIGINT) AS seqa_$l,
         |    CAST(count(*) FILTER (WHERE (start_offset + n_tokens - 1) // $l
         |      > start_offset // $l) AS BIGINT) AS fraga_$l,
         |    CAST(sum((n_tokens + ${l - 1}) // $l) AS BIGINT) AS seqb_$l""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
       |o AS (SELECT doc_id, lang, n_tokens,
       |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
       |  FROM d),
       |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |$aggExprs
       |  FROM o GROUP BY lang),
       |m AS (${lens.map(legs).mkString("\nUNION ALL ")})
       |SELECT lang, seq_len, strategy, n_docs, total_tokens, n_sequences,
       |  CAST(n_sequences * seq_len - total_tokens AS BIGINT) AS pad_tokens,
       |  CAST((2 * total_tokens * 1000000 + n_sequences * seq_len)
       |    // (2 * n_sequences * seq_len) AS BIGINT) AS util_ppm,
       |  frag_docs
       |FROM m ORDER BY lang, seq_len, strategy""".stripMargin
  }

  // ---------------------------------------------------------------- X177
  /** CORPUS NOVELTY FORECAST (Good–Turing / Chao, incidence form) — the
    * crawl-budget decision: is another crawl of this source worth the
    * compute, or is its content saturated? The species-sampling frame:
    * DOCUMENTS are the sampling units, distinct 3-shingles the species
    * (Chao 1987's incidence data — the right unit here, because crawled
    * corpora repeat PHRASES long before they repeat whole documents).
    * Per source, the singleton/doubleton incidence counts feed the two
    * classical estimators: Good's (1953) missing mass f1/N over the N
    * incidence draws (≈ the fraction of the next crawled doc's shingles
    * never seen before — half-up ppm) and Chao's lower-bound richness
    * D + f1²/(2·f2) (how much distinct phrasing the source plausibly
    * has in total; floor-divided, max(f2, 1) guard, a point estimate
    * documented as such). novelty_ppm near zero ⇒ saturated: the next
    * crawl buys repeats. repeat_ppm = 1 − D/N is the observed
    * saturation. Exactness: counts and floor/half-up divisions only.
    * Scale shape: one scan (per-doc distinct shingle hashes via the
    * graft_shingle_hashes kernel) into per-(source, shingle) incidence
    * counts, then a |sources|-row rollup + a broadcast |sources|-row
    * doc-count join — all shuffles key-partitioned, no windows. The
    * oracle replays string shingles — the x161/qs32
    * collision-free-in-data contract. */
  private[operators] def x177(spark: SparkSession, dir: String): DataFrame = {
    val nd = Tables.documents(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(expr("graft_shingle_hashes(split(text, ' '), 3)")).as("h"))
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_incidences"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .join(broadcast(nd), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_incidences"),
        col("n_distinct"), col("f1"), col("f2"),
        expr("(2 * f1 * 1000000 + n_incidences) div (2 * n_incidences)")
          .as("novelty_ppm"),
        expr("""(2 * (n_incidences - n_distinct) * 1000000 + n_incidences)
                div (2 * n_incidences)""").as("repeat_ppm"),
        expr("n_distinct + (f1 * f1) div (2 * greatest(f2, 1))").as("chao_total"))
      .orderBy(col("source"))
  }

  /** x177's streaming-legal incidence core (shared with qs43): per-doc
    * distinct shingle hashes melt with a SENTINEL species per doc (k=0 —
    * "the document itself", so the doc count rides the SAME single
    * aggregation; streaming allows only one), keyed by (source, kind,
    * hash). When streamed, the state IS the standing shingle-incidence
    * index — the same corpus-vocabulary-scale standing-state class as
    * qs7's dedup index and qs29's BM25 stats (the index is the product:
    * a crawler keeps it anyway to route fetches). */
  private[graft] def noveltyIncidence(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(expr(
        """concat(array(named_struct('k', 0, 'h', CAST(0 AS BIGINT))),
          |  transform(graft_shingle_hashes(split(text, ' '), 3),
          |    x -> named_struct('k', 1, 'h', x)))""".stripMargin)).as("e"))
      .groupBy(col("source"), col("e.k").as("k"), col("e.h").as("h"))
      .agg(count(lit(1)).as("c"))

  /** Stateless estimator finisher over the drained incidence index —
    * emits exactly x177's frame (shingle-less sources drop, matching
    * the batch inner join). */
  private[graft] def noveltyFinish(state: DataFrame): DataFrame =
    state.groupBy(col("source"))
      .agg(sum(when(col("k") === 0, col("c")).otherwise(0L)).as("n_docs"),
        sum(when(col("k") === 1, col("c")).otherwise(0L)).as("n_incidences"),
        sum(when(col("k") === 1, 1L).otherwise(0L)).as("n_distinct"),
        sum(when(col("k") === 1 && col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("k") === 1 && col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .filter(col("n_incidences") > 0)
      .select(col("source"), col("n_docs"), col("n_incidences"),
        col("n_distinct"), col("f1"), col("f2"),
        expr("(2 * f1 * 1000000 + n_incidences) div (2 * n_incidences)")
          .as("novelty_ppm"),
        expr("""(2 * (n_incidences - n_distinct) * 1000000 + n_incidences)
                div (2 * n_incidences)""").as("repeat_ppm"),
        expr("n_distinct + (f1 * f1) div (2 * greatest(f2, 1))").as("chao_total"))
      .orderBy(col("source"))

  private[graft] lazy val x177Sql = // private[graft]: qs43's oracle IS this SQL (drain == batch)
    """WITH sh AS (SELECT doc_id, source, list_distinct(list_transform(
      |    range(1, greatest(len(tk) - 1, 1)),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents)),
      |inc AS (SELECT source, s, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(sh) AS s FROM sh) GROUP BY 1, 2),
      |r AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_incidences,
      |    CAST(count(*) AS BIGINT) AS n_distinct,
      |    CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
      |    CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS f2
      |  FROM inc GROUP BY source),
      |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs, n_incidences, n_distinct, f1, f2,
      |  CAST((2 * f1 * 1000000 + n_incidences) // (2 * n_incidences) AS BIGINT)
      |    AS novelty_ppm,
      |  CAST((2 * (n_incidences - n_distinct) * 1000000 + n_incidences)
      |    // (2 * n_incidences) AS BIGINT) AS repeat_ppm,
      |  CAST(n_distinct + (f1 * f1) // (2 * greatest(f2, 1)) AS BIGINT) AS chao_total
      |FROM r JOIN nd USING (source) ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- X172
  /** CONTAMINATION-HANDLING A/B: DROP OR EXCISE — what to DO with a
    * contaminated document, the decision x20's gate and x161's n-curve
    * leave open: dropping the whole doc (the x20 0.2-rule policy) loses
    * every clean token it carries, while excising only the matched spans
    * (the n-gram-overlap scrub production pipelines run) keeps the rest —
    * but excision also touches BELOW-threshold docs the drop policy
    * ignores, so the trade is genuinely two-sided and the sign of the
    * gain is per-source empirical, not an identity. Per training doc:
    * distinct-shingle overlap (x20's gate numbers, integer 5·shared ≥
    * max(shingles,1) rule) and the EXACT positional token coverage of
    * matched 3-shingles (union of [i, i+2] over matched positions i —
    * overlapping matches never double-count a token). Per source: kept
    * tokens under `drop` vs `excise`, the signed gain in raw tokens (a
    * ppm of a signed quantity would floor-divide differently across
    * engines), and the excised share. Scale shape: ONE corpus-scan
    * positional explode (~n_tokens rows, the x20 postings shape) joined
    * to the benchmark's distinct-shingle frame (constant-size in corpus
    * scale by the qs32 boundedness contract), two doc-grain reductions,
    * |sources|-row output. String shingles both sides — no hash step,
    * the oracle replays glyph for glyph. */
  /** x172's benchmark artifact: distinct shingle hashes of the eval
    * slice (the qs32 boundedness contract — eval sets are
    * corpus-constant in production), enrolled in CollectInventorySpec.
    * Shared with qs42 (the live twin scores against the same frozen
    * benchmark literal). */
  private[graft] def excisionBench(spark: SparkSession, dir: String): Array[Long] = {
    val x172Bench = Tables.documents(spark, dir).filter(col("doc_id") % 97 === 0)
      .select(explode(expr("graft_shingle_hashes(split(text, ' '), 3)")).as("s"))
      .distinct()
      .agg(sort_array(collect_list(col("s"))).as("b")).head()
      .getSeq[Long](0).toArray
    x172Bench
  }

  /** x172's streaming-legal core (shared with qs42): ONE map-side scan
    * through the graft_shingle_audit kernel — distinct shingles, shared
    * shingles, and positional token coverage fall out of ONE hash pass
    * per doc — then ONE commutative groupBy(source); state is
    * |sources|-row × 6-long when streamed. r12c lesson trail: the
    * first-cut positional-struct form persisted the CORPUS-scale
    * positional frame and shuffled string-keyed postings against the
    * benchmark (1.6/8.3/166.7 s at 1×/10×/100× — the pin spilled and the
    * join dominated); a split distinct-set + coverage kernel pair still
    * paid 2× the hashing (64.9 s at 100×); the fold is the scan cost.
    * The oracle keeps string shingles — count equality is the same
    * collision-free-in-data contract as x161/qs32. */
  private[graft] def excisionAudit(docs: DataFrame, bench: Array[Long]): DataFrame =
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("source"),
        size(toks(col("text"))).cast(LongType).as("nt"),
        call_function("graft_shingle_audit", toks(col("text")), lit(3),
          typedLit(bench)).as("a"))
      .select(col("source"), col("nt"),
        col("a.n_shingles").cast(LongType).as("n_shingles"),
        col("a.n_shared").cast(LongType).as("n_shared"),
        col("a.covered").cast(LongType).as("covered"))
      .withColumn("flagged", col("n_shared") * 5 >= greatest(col("n_shingles"), lit(1L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("tokens_total"),
        sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("contaminated_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("flagged_docs"),
        sum(col("covered")).as("covered_tokens"),
        sum(when(col("flagged"), 0L).otherwise(col("nt"))).as("tokens_drop"),
        sum(col("nt") - col("covered")).as("tokens_excise"))

  /** Stateless per-source policy finisher over the drained audit frame. */
  private[graft] def excisionFinish(agg: DataFrame): DataFrame =
    agg.select(col("source"), col("n_docs"), col("tokens_total"),
        col("contaminated_docs"), col("flagged_docs"), col("covered_tokens"),
        col("tokens_drop"), col("tokens_excise"),
        (col("tokens_excise") - col("tokens_drop")).as("excise_gain_tokens"),
        expr("(2 * covered_tokens * 1000000 + tokens_total) div (2 * tokens_total)")
          .as("excised_share_ppm"))
      .orderBy(col("source"))

  private[operators] def x172(spark: SparkSession, dir: String): DataFrame =
    excisionFinish(excisionAudit(
      Tables.documents(spark, dir), excisionBench(spark, dir)))

  private[graft] lazy val x172Sql = // private[graft]: qs42's oracle IS this SQL (drain == batch)
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
      |ds AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS nt FROM d),
      |pos AS (SELECT doc_id, i, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
      |  FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 1))) AS i FROM d)),
      |bench AS (SELECT DISTINCT s FROM pos WHERE doc_id % 97 = 0),
      |tr AS (SELECT * FROM pos WHERE doc_id % 97 <> 0),
      |nsh AS (SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS n_shingles
      |  FROM tr GROUP BY 1),
      |m AS (SELECT tr.doc_id, tr.i, tr.s FROM tr JOIN bench USING (s)),
      |sh2 AS (SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS n_shared
      |  FROM m GROUP BY 1),
      |cov AS (SELECT doc_id, CAST(count(DISTINCT ti) AS BIGINT) AS covered FROM (
      |    SELECT doc_id, unnest([i, i + 1, i + 2]) AS ti FROM m) GROUP BY 1),
      |per AS (SELECT ds.doc_id, ds.source, ds.nt,
      |    coalesce(n_shingles, 0) AS n_shingles, coalesce(n_shared, 0) AS n_shared,
      |    coalesce(covered, 0) AS covered,
      |    coalesce(n_shared, 0) * 5 >= greatest(coalesce(n_shingles, 0), 1) AS flagged
      |  FROM ds LEFT JOIN nsh USING (doc_id) LEFT JOIN sh2 USING (doc_id)
      |    LEFT JOIN cov USING (doc_id)
      |  WHERE ds.doc_id % 97 <> 0)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS tokens_total,
      |  CAST(count(*) FILTER (WHERE n_shared > 0) AS BIGINT) AS contaminated_docs,
      |  CAST(count(*) FILTER (WHERE flagged) AS BIGINT) AS flagged_docs,
      |  CAST(sum(covered) AS BIGINT) AS covered_tokens,
      |  CAST(coalesce(sum(nt) FILTER (WHERE NOT flagged), 0) AS BIGINT) AS tokens_drop,
      |  CAST(sum(nt - covered) AS BIGINT) AS tokens_excise,
      |  CAST(sum(nt - covered) - coalesce(sum(nt) FILTER (WHERE NOT flagged), 0)
      |    AS BIGINT) AS excise_gain_tokens,
      |  CAST((2 * sum(covered) * 1000000 + sum(nt)) // (2 * sum(nt)) AS BIGINT)
      |    AS excised_share_ppm
      |FROM per GROUP BY source ORDER BY source""".stripMargin
}
