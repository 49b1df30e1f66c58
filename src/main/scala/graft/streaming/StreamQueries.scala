package graft.streaming

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Queries.Q

/** SURVEY §2.3 QS1/QS2 (+ extensions): Structured Streaming over the events
  * table. The reference has no streaming at all (absent from src/arti/ —
  * SURVEY §1.1); these are the engine's extension surface. Each query copies
  * the events parquet into a temp source dir, runs a real streaming query
  * (availableNow trigger → memory sink), and returns the sink table — so the
  * whole watermark/window/state machinery actually executes.
  *
  * Determinism: complete-mode windowed aggregations and min-by-timestamp
  * state folds are arrival-order-free, so results equal their batch oracle.
  */
object StreamQueries {

  /** events schema as the streaming source sees it: the source files carry
    * `ts` as a plain BIGINT of ns (written from `Tables.eventsRawNs`). */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Copy the events file into a fresh dir (file-source streams read dirs)
    * and open it as a stream with µs TimestampType `ts` (LTZ; session is
    * pinned UTC so values match the NTZ batch reads).
    *
    * The source DIRECTORY is memoized per (dir, nFiles): every twin of a
    * window family splits the SAME events file the SAME deterministic way
    * (quantile time bounds), so re-materializing it per query only re-runs
    * the quantile job and three writes for identical bytes. Streams never
    * mutate their source; each query still gets its own checkpoint/sink. */
  private val sourceCache = scala.collection.concurrent.TrieMap.empty[(String, Int), String]

  private def eventsStream(spark: SparkSession, dir: String, nFiles: Int = 1): DataFrame = {
    val src = sourceCache.getOrElseUpdate((dir, nFiles), {
      val fresh = graft.util.TempDirs.create("graft-stream")
      if (nFiles <= 1) {
        // REWRITE, not copy: the original file types ts as TIMESTAMP(NANOS)
        // and what an explicit LongType read schema yields for it is
        // runtime-dependent (raw ns on older 4.x, µs on newer — a silent
        // 1000× skew). eventsRawNs pins the chunk to a plain BIGINT ns
        // column that every runtime reads back verbatim.
        graft.operators.Tables.eventsRawNs(spark, dir)
          .coalesce(1).write.parquet(fresh.resolve("events").toString)
      } else {
        // split by time range so multi-batch runs advance the watermark —
        // no orderBy: only the FILE-level time ranges matter, rows within a
        // chunk need no sort (the old sort re-ran once per chunk write).
        // eventsRawNs: chunks must carry ns-LONG ts whichever nanos read
        // behavior this runtime has, so the explicit LongType stream
        // schema below reads them back unambiguously
        val ev = graft.operators.Tables.eventsRawNs(spark, dir)
        val bounds = ev.stat.approxQuantile("ts", (1 to (nFiles - 1)).map(_.toDouble / nFiles).toArray, 0.01)
        val all = Seq(Long.MinValue) ++ bounds.map(_.toLong) ++ Seq(Long.MaxValue)
        for (i <- 0 until nFiles) {
          ev.filter(col("ts") > all(i) && col("ts") <= all(i + 1))
            .coalesce(1).write.parquet(fresh.resolve(s"chunk-$i").toString)
          // order batches by file mtime: later chunks must arrive later
          Thread.sleep(5)
        }
      }
      fresh.toString
    })
    val reader = spark.readStream.schema(eventsRawSchema)
      .option("recursiveFileLookup", "true")
    (if (nFiles > 1) reader.option("maxFilesPerTrigger", "1") else reader)
      .parquet(src)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** The session confs every drain starts under. They must be in effect at
    * `start()`: that is when the query clones the session, and the clone
    * keeps its own copy of the conf for the whole drain.
    *   - Shuffle partitions set the state-store count: each state partition
    *     pays a fixed restore/commit file cost per batch, so 2 is the
    *     measured local sweet spot (r12: ~5 s at 4 partitions vs ~2 s at 2
    *     for the same 3-wave drain). Results are partition-count-free by
    *     construction (keyed state is hash-routed; every qs aggregation is
    *     commutative).
    *   - The NIO checkpoint manager: the checkpoint root below is always a
    *     local TempDirs path, so the per-batch offset/commit/state file ops
    *     skip Hadoop's local FileSystem, whose `RawLocalFileSystem` forks a
    *     `chmod` process for every file or directory it creates.
    *   - Artifact isolation off: with it on, each streaming query's cloned
    *     session (a new session UUID) gets its own executor classloader, and
    *     Spark's codegen cache is keyed by (classloader, code), so every
    *     drain would recompile its generated classes (13 for qs3). Off, the clone's
    *     tasks run on the default classloader and a repeated drain compiles
    *     nothing. No engine session adds artifacts, so isolation guards
    *     nothing here. */
  private val drainConfs = Seq(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[NioCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Per session: the number of live drains, and the values of
    * [[drainConfs]] before its first drain (None = unset). Guarded by
    * itself: LocalExecutor builds producers concurrently on one session. */
  private val liveDrains =
    scala.collection.mutable.HashMap.empty[SparkSession, (Int, Seq[(String, Option[String])])]

  /** Runs `body` with [[drainConfs]] set on `spark`. One override per
    * session, refcounted: the first drain saves and sets the confs, the
    * last one to finish restores them, so overlapping drains leave the
    * caller's confs as they found them. */
  private def withDrainConfs[T](spark: SparkSession)(body: => T): T = {
    liveDrains.synchronized {
      val (n, saved) = liveDrains.getOrElse(spark, {
        val set = spark.conf.getAll
        (0, drainConfs.map { case (k, _) => k -> set.get(k) })
      })
      if (n == 0) drainConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      liveDrains(spark) = (n + 1, saved)
    }
    try body
    finally liveDrains.synchronized {
      val (n, saved) = liveDrains(spark)
      if (n > 1) liveDrains(spark) = (n - 1, saved)
      else {
        liveDrains.remove(spark)
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
  }

  /** HARNESS-ONLY sink: `memory` materializes every batch on the driver,
    * which is exactly right for a bounded correctness drive (the driver
    * hashes the result anyway) and exactly wrong for production — a real
    * deployment writes `parquet`/`kafka`/`foreachBatch` sinks with a
    * durable checkpointLocation. Nothing outside this harness uses it.
    *
    * The returned frame is the sink's analyzed `MemoryPlan`; its temp view
    * is dropped before returning, so the sink's rows live exactly as long
    * as the caller holds the frame, not for the rest of the session. */
  private def runToTable(spark: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    val name = "sink_" + UUID.randomUUID().toString.replace("-", "")
    // deleted after termination (r13, ADVICE): a drained AvailableNow query
    // never reuses its checkpoint, and Spark's own implicit temp checkpoints
    // are deleted on stop — without this a multi-query run accumulates
    // offset/commit/state files in tmpfs RAM until JVM shutdown
    val ckpt = graft.util.TempDirs.create("graft-ckpt")
    try withDrainConfs(spark) {
      val q = df.writeStream.format("memory").queryName(name)
        // explicit checkpoint under the TempDirs root (tmpfs when the host
        // has one): without it Spark creates the temp checkpoint in
        // java.io.tmpdir, and the per-batch offset/commit/state-store file
        // churn pays disk I/O the harness never needs durable (r12 opt)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally graft.util.TempDirs.deleteTree(ckpt)
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    out
  }


  // ---------------------------------------------------------------- QS26
  /** STREAMING LEAKAGE-SAFE TARGET ENCODING — x133's online twin: the
    * out-of-fold categorical encodings refresh continuously as events
    * arrive, so a serving feature store reads a current, never-leaky
    * encoding table instead of waiting on a nightly batch. Streaming
    * supports ONE aggregation, so the trick is wide-form per-fold
    * conditional sums (folds are the fixed unit split user_id mod 5 —
    * x133's discipline) in a single groupBy(event_type): the totals and
    * every fold's complement derive from the same 10-column state row
    * MAP-SIDE after the agg, no second shuffle, no disallowed chained
    * aggregation. Complete mode + commutative integer sums →
    * arrival-order-free → the oracle is x133's own SQL (the streaming
    * drain and the batch featurizer must agree bit-for-bit). State:
    * |event_types| rows × 10 longs. */
  /** qs26's stateful core, factored for StreamRecoverySpec (the
    * mgTokenSummary pattern): one streaming aggregation holding the
    * wide-form per-fold moments — 10 longs of state per category. */
  private[graft] def foldMomentsWide(ev: DataFrame): DataFrame = {
    val proj = ev.filter(col("value").isNotNull)
      .select(col("event_type"), pmod(col("user_id"), lit(5L)).as("fold"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val foldCols = (0 until 5).flatMap(f => Seq(
      sum(when(col("fold") === f, 1L).otherwise(0L)).as(s"n_$f"),
      sum(when(col("fold") === f, col("cents")).otherwise(0L)).as(s"s_$f")))
    proj.groupBy(col("event_type")).agg(foldCols.head, foldCols.tail: _*)
  }

  /** The stateless complement algebra over the drained moment frame —
    * shared by the registry query and the recovery proof so the
    * "drain == batch featurizer" claim is checked through ONE code path. */
  private[graft] def foldEncodings(wide0: DataFrame): DataFrame = {
    val wide = wide0
      .withColumn("n", (0 until 5).map(f => col(s"n_$f")).reduce(_ + _))
      .withColumn("s", (0 until 5).map(f => col(s"s_$f")).reduce(_ + _))
    (0 until 5).map { f =>
      wide.filter(col("n") > col(s"n_$f"))
        .select(col("event_type"), lit(f.toLong).as("fold"),
          (col("n") - col(s"n_$f")).as("n_oof"),
          expr(s"(2 * (s - s_$f) * 1000000 + (n - n_$f)) div (2 * (n - n_$f))")
            .as("enc_microcents"))
    }.reduce(_ unionByName _)
  }

  private def qs26(spark: SparkSession, dir: String): DataFrame =
    foldEncodings(runToTable(spark, foldMomentsWide(eventsStream(spark, dir)),
      OutputMode.Complete()))

  /** Oracle = x133's batch SQL verbatim: stream drain == batch featurizer. */
  private val qs26Sql =
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

  // ---------------------------------------------------------------- QS27
  /** STREAMING SPLIT-CONFORMAL ADMISSION GATE — x137's online twin: the
    * coverage-guaranteed quality threshold refreshes continuously as
    * documents arrive, so an ingest gate always holds a CURRENT
    * conformal threshold instead of last night's. The scorer must be
    * per-doc deterministic to stream (x137's corpus-trained x108 NB is
    * not), so the score is x8's quality composite made integer-exact:
    * score_ppm = half-up((n_unique + n_tokens − n_stop)·10⁶ / 2·n_tokens)
    * — algebraically x8's 0.5·distinct_ratio + 0.5·(1−stop_ratio), map-
    * side codegen kernels. ONE streaming aggregation holds the state: a
    * count histogram keyed by (score_ppm, is_cal, label_good) — and the
    * key insight is that this state is bounded by the FIXED ppm grid
    * (≤10⁶ distinct scores), corpus-size-INDEPENDENT: the conformal
    * rank statistic over a million-cell exact histogram is the
    * scale-path x137's kthSmallestByHistogram approximates in one shot.
    * On drain, the bounded frame yields nCal, the ⌈0.9(n+1)⌉ rank
    * threshold by cumulative count (pure rank arithmetic, no doubles),
    * and the exact coverage audit. Complete mode + commutative counts →
    * arrival-order-free → oracle is the batch conformal SQL over the
    * same documents, bit-for-bit. */
  private[graft] def conformalHistogram(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n", size(col("tk")).cast(LongType))
      .withColumn("u", size(array_distinct(col("tk"))).cast(LongType))
      .withColumn("st", expr(
        s"graft_count_in(tk, ${graft.operators.TextConstants.stopwordsArrayExpr})").cast(LongType))
      .select(
        expr("((u + n - st) * 2000000 + 2 * n) div (4 * n)").as("score_ppm"),
        (pmod(col("doc_id"), lit(2L)) === 0).as("is_cal"),
        (col("n_chars") >= 150).as("label_good"))
      .groupBy(col("score_ppm"), col("is_cal"), col("label_good"))
      .agg(count(lit(1)).as("cnt"))

  /** The stateless conformal finisher over the drained histogram —
    * shared so a recovery proof and the registry query exercise ONE
    * code path (the qs26 discipline). The histogram cache is released
    * before returning: the 1-row audit is eagerly materialized via
    * localCheckpoint, so callers composing this in a long-lived session
    * never accumulate the drained histogram (r9, closing the advisor's
    * persist-leak note). */
  private[graft] def conformalAudit(h0: DataFrame): DataFrame = {
    val h = h0.persist()
    val calGood = h.filter(col("is_cal") && col("label_good"))
    val nCal = calGood.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    require(nCal > 0, "qs27: empty calibration fold - the conformal gate needs true-good calibration docs")
    val k = (9L * (nCal + 1) + 9) / 10
    val thr: Long =
      if (k > nCal) -1L // scores live in [0, 1e6]; -1 = accept-all regime
      else {
        // (nCal-k+1)-th smallest calibration score, exactly, from the
        // bounded histogram: first score whose cumulative count reaches
        // the rank (the window orders <=1e6 cells, never documents)
        val r = nCal - k + 1
        calGood
          .withColumn("cum",
            sum(col("cnt")).over(Window.orderBy(col("score_ppm"))))
          .filter(col("cum") >= r)
          .agg(min(col("score_ppm"))).head().getLong(0)
      }
    val out = h.filter(!col("is_cal"))
      .agg(
        coalesce(sum(col("cnt")), lit(0L)).as("n_test"),
        coalesce(sum(when(col("label_good"), col("cnt")).otherwise(0L)), lit(0L)).as("n_good"),
        coalesce(sum(when(col("label_good") && col("score_ppm") >= thr, col("cnt"))
          .otherwise(0L)), lit(0L)).as("n_good_accepted"),
        coalesce(sum(when(!col("label_good"), col("cnt")).otherwise(0L)), lit(0L)).as("n_bad"),
        coalesce(sum(when(!col("label_good") && col("score_ppm") >= thr, col("cnt"))
          .otherwise(0L)), lit(0L)).as("n_bad_accepted"))
      .select(lit(nCal).as("n_cal"), lit(k).as("k_rank"), lit(thr).as("thr_ppm"),
        col("n_test"), col("n_good"), col("n_good_accepted"),
        expr("(2 * n_good_accepted * 1000000 + n_good) div (2 * n_good)").as("coverage_ppm"),
        col("n_bad"), col("n_bad_accepted"))
    graft.operators.Queries.eagerFinish(out, h) // the 1-row audit no longer needs h
  }

  private def qs27(spark: SparkSession, dir: String): DataFrame =
    conformalAudit(runToTable(spark, conformalHistogram(docsStream(spark, dir)),
      OutputMode.Complete()))

  /** Oracle = the batch conformal SQL over the same documents (the x137
    * shape with the integer x8 score): drain == batch gate. */
  private val qs27Sql = {
    val stop = graft.operators.TextConstants.stopwordsSqlList
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |             doc_id % 2 = 0 AS is_cal, n_chars >= 150 AS label_good
       |           FROM documents),
       |s AS (SELECT is_cal, label_good,
       |        ((CAST(len(list_distinct(tk)) AS BIGINT) + len(tk)
       |          - len(list_filter(tk, x -> x IN ($stop)))) * 2000000
       |         + 2 * len(tk)) // (4 * len(tk)) AS score_ppm
       |      FROM d),
       |cal AS (SELECT score_ppm FROM s WHERE is_cal AND label_good),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
       |         (9 * (CAST(count(*) AS BIGINT) + 1) + 9) // 10 AS k FROM cal),
       |r AS (SELECT score_ppm,
       |        CAST(row_number() OVER (ORDER BY score_ppm) AS BIGINT) AS rn FROM cal),
       |thr AS (SELECT coalesce(
       |          max(CASE WHEN rn = (SELECT n_cal - k + 1 FROM kk) THEN score_ppm END),
       |          -1) AS thr_ppm FROM r)
       |SELECT (SELECT n_cal FROM kk) AS n_cal, (SELECT k FROM kk) AS k_rank,
       |  (SELECT thr_ppm FROM thr) AS thr_ppm,
       |  CAST(count(*) AS BIGINT) AS n_test,
       |  CAST(sum(CASE WHEN label_good THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       |  CAST(sum(CASE WHEN label_good AND score_ppm >= (SELECT thr_ppm FROM thr)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_good_accepted,
       |  CAST((2 * sum(CASE WHEN label_good AND score_ppm >= (SELECT thr_ppm FROM thr)
       |                THEN 1 ELSE 0 END) * 1000000
       |        + sum(CASE WHEN label_good THEN 1 ELSE 0 END))
       |       // (2 * sum(CASE WHEN label_good THEN 1 ELSE 0 END)) AS BIGINT) AS coverage_ppm,
       |  CAST(sum(CASE WHEN NOT label_good THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       |  CAST(sum(CASE WHEN NOT label_good AND score_ppm >= (SELECT thr_ppm FROM thr)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_accepted
       |FROM s WHERE NOT is_cal""".stripMargin
  }

  // ---------------------------------------------------------------- QS28
  /** STREAMING RANK-SUM DRIFT MONITOR — x144's online twin: the
    * per-source Mann–Whitney quality-drift test refreshes continuously
    * as documents arrive, so a crawl operator watches sources go
    * significant in near-real-time instead of at the nightly batch. The
    * state is qs27's insight widened by one key: ONE streaming
    * aggregation holds the (source, score_ppm) count histogram — still
    * bounded by |sources| × the fixed ppm grid, corpus-size-INDEPENDENT
    * — and the ENTIRE tie-corrected test (doubled midranks from pooled
    * cumulative counts, U, the exact 625/2401 integer gate) is
    * stateless post-drain algebra over that bounded frame, shared with
    * the batch path's shape. Complete mode + commutative counts →
    * arrival-order-free → oracle IS x144's batch SQL, bit-for-bit. */
  private[graft] def rankSumHistogram(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n", size(col("tk")).cast(LongType))
      .withColumn("u", size(array_distinct(col("tk"))).cast(LongType))
      .withColumn("st", expr(
        s"graft_count_in(tk, ${graft.operators.TextConstants.stopwordsArrayExpr})").cast(LongType))
      .select(col("source"),
        expr("((u + n - st) * 2000000 + 2 * n) div (4 * n)").as("score"))
      .groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"))

  private def qs28(spark: SparkSession, dir: String): DataFrame =
    graft.operators.RankSum.audit(
      runToTable(spark, rankSumHistogram(docsStream(spark, dir)),
        OutputMode.Complete()))

  /** Oracle = x144's batch SQL (both read RankSum.oracleSql — ONE
    * text): stream drain == batch test. RankSum carries no reference
    * to either registry, so this init-time read is cycle-safe (the
    * TextConstants rule). */
  private val qs28Sql = graft.operators.RankSum.oracleSql

  // ---------------------------------------------------------------- QS29
  /** STREAMING BM25 INDEX-STATS MAINTENANCE — x151's online twin and
    * recovery proof #10: the index-level statistics a retrieval serving
    * tier needs (N, Σdl, per-query-term df) maintain continuously as
    * document waves arrive, in ONE keyless streaming aggregation whose
    * state is a SINGLE wide row (2 + |terms| longs — the qs26 wide-form
    * trick collapsed to its limit). Per-doc membership computes map-side
    * via graft_count_in (df = docs containing the term — identical to
    * x151's countDistinct over postings), and commutative integer sums
    * make the drain arrival-order-free. On drain the audit serves the
    * pinned query top-10 from the STREAMED stats and from a batch
    * recomputation THROUGH THE SAME serve path (shared
    * bm25TermPostings/bm25LinearTop10 — the RankSum one-implementation
    * discipline), flagging per rank; the oracle is the full-corpus
    * linear-idf serve, so drain == batch is hash-gated, not asserted.
    * State: one row. Postings at serve time come from the stored corpus
    * (production: the index's posting files), so the streaming job's
    * state never grows with the corpus. */
  private[graft] def bm25StatsWide(docs: DataFrame): DataFrame = {
    val terms = Seq("dup", "vector", "join")
    val withTk = docs.select(split(col("text"), " ").as("tk"))
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(size(col("tk")).cast("long")).as("sdl")) ++
      terms.map(t => sum(when(expr(s"graft_count_in(tk, array('$t')) > 0"), 1L)
        .otherwise(0L)).as(s"df_$t"))
    withTk.agg(aggs.head, aggs.tail: _*)
  }

  /** Stateless serve from a drained stats row — shared by the registry
    * query's streamed and batch legs (and the recovery proof). */
  private[graft] def bm25ServeFromStats(spark: SparkSession, dir: String,
      statsRow: org.apache.spark.sql.Row): DataFrame = {
    val terms = Seq("dup", "vector", "join")
    val n = statsRow.getAs[Long]("n")
    val sdl = statsRow.getAs[Long]("sdl")
    val dfRows = terms.map(t =>
      org.apache.spark.sql.Row(t, statsRow.getAs[Long](s"df_$t")))
    val dfF = spark.createDataFrame(java.util.Arrays.asList(dfRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("df",
          org.apache.spark.sql.types.LongType))))
    val docs = graft.operators.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    graft.operators.Queries.bm25LinearTop10(
      graft.operators.Queries.bm25TermPostings(docs, terms), dfF, n, sdl)
  }

  private def qs29(spark: SparkSession, dir: String): DataFrame = {
    val drained = runToTable(spark,
      bm25StatsWide(docsStream(spark, dir)), OutputMode.Complete()).head()
    val batch = bm25StatsWide(graft.operators.Tables.documents(spark, dir)).head()
    val wr = Window.orderBy(col("score_ppm").desc, col("doc_id").asc) // 10-row frame
    val sR = bm25ServeFromStats(spark, dir, drained)
      .withColumn("rank", row_number().over(wr).cast("long"))
    val bR = bm25ServeFromStats(spark, dir, batch)
      .withColumn("rank", row_number().over(wr).cast("long"))
      .select(col("rank").as("b_rank"), col("doc_id").as("b_doc"),
        col("n_terms").as("b_nt"), col("score_ppm").as("b_score"))
    sR.join(bR, sR("rank") === bR("b_rank"), "left")
      .select(col("rank"), sR("doc_id"), col("n_terms"), col("score_ppm"),
        (col("b_doc").isNotNull && col("b_doc") === sR("doc_id") &&
          col("b_nt") === col("n_terms") && col("b_score") === col("score_ppm"))
          .as("matches_batch"))
      .orderBy(col("rank"))
  }

  /** Oracle = the full-corpus linear-idf serve (x151's convention; text
    * duplicated rather than referenced — the qs26 rule: a cross-registry
    * init-time read would deadlock the mutual clinit). */
  private val qs29Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(len(tk)) AS BIGINT) AS sdl FROM d),
      |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM d)
      |  WHERE token IN ('dup', 'vector', 'join') GROUP BY 1, 2, 3),
      |idf AS (SELECT token,
      |    (2 * (SELECT n FROM st) * 1000000 + CAST(count(DISTINCT doc_id) AS BIGINT))
      |      // (2 * CAST(count(DISTINCT doc_id) AS BIGINT)) AS idf_ppm
      |  FROM tf GROUP BY token),
      |sc AS (SELECT doc_id,
      |    CAST(idf_ppm AS HUGEINT) * tf * 22 * (SELECT sdl FROM st) AS num,
      |    CAST((SELECT sdl FROM st) AS HUGEINT) * 10 * tf
      |      + (SELECT sdl FROM st) * 3 + 9 * dl * (SELECT n FROM st) AS den
      |  FROM tf JOIN idf USING (token)),
      |bm AS (SELECT doc_id, CAST(count(*) AS INT) AS n_terms,
      |    CAST(sum(CAST((2 * num + den) // (2 * den) AS BIGINT)) AS BIGINT) AS score_ppm
      |  FROM sc GROUP BY doc_id),
      |top AS (SELECT doc_id, n_terms, score_ppm FROM bm
      |  ORDER BY score_ppm DESC, doc_id LIMIT 10)
      |SELECT CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, n_terms, score_ppm, TRUE AS matches_batch
      |FROM top ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- QS30
  /** STREAMING IVF ASSIGNMENT MAINTENANCE — x149's online twin and the
    * IVM matrix's last missing streaming leg (r10 verdict item 3):
    * arriving delta vectors are absorbed into the standing x14/x149 IVF
    * index CONTINUOUSLY instead of in a nightly batch. Assignment is
    * computed MAP-SIDE against the frozen base centroids (the x49
    * discipline): the k-row centroid manifest rides the plan as a
    * literal array — k×dim doubles, ~8 KB — so no join, no shuffle, no
    * per-vector state ever exists. The ONE streaming aggregation keys by
    * cent_id: state is k rows × (count + dim quantized first-moment
    * sums) longs — corpus-size-independent by construction, the number a
    * rebuild trigger reads to decide when frozen centroids drifted.
    * Exactness: each component is quantized ONCE to int64 ppm via the
    * x29 floor(x·1e6 + 0.5) convention applied to the RAW stored
    * component — both engines widen the identical parquet float to the
    * identical double and run the identical IEEE mul/add/floor, so no
    * cross-engine ulp band exists (the RoundBoundarySpec class covers
    * rounds of COMPUTED doubles; a round of stored bits cannot diverge).
    * Commutative integer sums make the drain arrival-order-free; the
    * audit re-derives the cell moments from the batch corpus THROUGH THE
    * SAME core and hash-gates agreement per cell (matches_batch), so
    * stream == batch is verified, not asserted. */
  private val embsRawSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Three deterministic arrival waves of the embeddings table
    * (hash-split like [[docsWaves]] so cells accumulate across batches). */
  private val embWaveCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def embWaves(spark: SparkSession, dir: String): String =
    embWaveCache.getOrElseUpdate(dir, {
      val src = graft.util.TempDirs.create("graft-stream-embs")
      val e = graft.operators.Tables(spark, dir, "embeddings")
      for (i <- 0 until 3) {
        e.filter(pmod(xxhash64(col("vec_id")), lit(3)) === i)
          .coalesce(1).write.parquet(src.resolve(s"wave-$i").toString)
        Thread.sleep(5) // file mtime orders the waves
      }
      src.toString
    })

  private def embStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embsRawSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(embWaves(spark, dir))

  /** qs30's stateful core, factored for StreamRecoverySpec (the
    * bm25StatsWide pattern): map-side nearest-centroid assignment
    * against the frozen manifest (ties to the LOWEST cent_id via
    * max(sim, −id) — bit-identical to ivfAssigned's max_by contract),
    * then one groupBy(cent_id) wide aggregation: count + per-dimension
    * quantized component sums. Works identically on a stream (k-row
    * state) and a batch frame (the audit's recompute leg). */
  /** Shared map-side assignment against a k-row frozen centroid LITERAL —
    * the common core of qs30's moment state and qs37's code/tombstone
    * counts (the one-implementation rule): ties to the LOWEST cent_id via
    * max(sim, −id), bit-identical to ivfAssigned's max_by contract. */
  private[graft] def ivfAssignLiteral(emb: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)]): DataFrame = {
    val centArr = array(cents.map { case (id, cv, cn) =>
      struct(lit(id).as("cent_id"), typedLit(cv).as("cv"), lit(cn).as("cn"))
    }: _*)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .withColumn("best", array_max(transform(centArr, c => struct(
        (call_function("graft_dot", col("v"), c.getField("cv"))
          / (col("nrm") * c.getField("cn"))).as("sim"),
        (lit(0L) - c.getField("cent_id")).as("nid")))))
      .withColumn("cent_id", lit(0L) - col("best.nid"))
  }

  private[graft] def ivfCellMomentsWide(emb: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)]): DataFrame = {
    val dim = cents.head._2.size
    val assigned = ivfAssignLiteral(emb, cents)
      .withColumn("q", expr("transform(v, x -> cast(floor(x * 1000000.0D + 0.5D) as bigint))"))
    val aggs = count(lit(1)).as("delta_cnt") +:
      (0 until dim).map(d => sum(expr(s"q[$d]")).as(s"m_$d"))
    assigned.groupBy(col("cent_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** qs37's stateful core, factored for StreamRecoverySpec: per-cell
    * (codes, tombstones) counts from the same literal assignment —
    * commutative integer sums, k-row state (2 longs per cell) by
    * construction. The %13 tombstone rule is x157/x158's fixture. */
  private[graft] def ivfCellCodeCounts(emb: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)]): DataFrame =
    ivfAssignLiteral(emb, cents)
      .select(col("cent_id"), (col("vec_id") % 13 === 0).cast(LongType).as("dead"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_codes"), sum(col("dead")).as("n_tombstoned"))

  private def qs30(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Queries.embWithNorm(spark, dir)
    val base = e.filter(col("vec_id") >= 5 && col("vec_id") % 10 =!= 0)
    // the frozen index manifest: k=16 rows by contract (production reads
    // the stored index artifact, never re-derives it) — bounded collect,
    // enrolled in CollectInventorySpec
    val cents = graft.operators.Queries.ivfSeedCentroids(base, 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2))).toSeq
    val dim = cents.head._2.size
    val isDelta = col("vec_id") >= 5 && col("vec_id") % 10 === 0
    val drained = runToTable(spark,
      ivfCellMomentsWide(embStream(spark, dir).filter(isDelta), cents),
      OutputMode.Complete())
    val batch = ivfCellMomentsWide(
      graft.operators.Tables(spark, dir, "embeddings").filter(isDelta), cents)
      .select(col("cent_id").as("b_cid") +: col("delta_cnt").as("b_cnt") +:
        (0 until dim).map(d => col(s"m_$d").as(s"b_m_$d")): _*)
    val m1 = (0 until dim).map(d => col(s"m_$d")).reduce(_ + _)
    val eq = col("delta_cnt") === col("b_cnt") &&
      (0 until dim).map(d => col(s"m_$d") === col(s"b_m_$d")).reduce(_ && _)
    drained.join(batch, drained("cent_id") === col("b_cid"), "left") // two k-row frames
      .select(drained("cent_id"), col("delta_cnt"), m1.as("m1_sum"),
        (col("b_cid").isNotNull && eq).as("matches_batch"))
      .orderBy(col("cent_id"))
  }

  /** Oracle = the batch maintenance leg: delta assignment against the
    * frozen base centroids (x149's assign CTE restricted to the delta
    * generation) + per-cell count and quantized first-moment total. */
  private val qs30Sql =
    """WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
      |          WHERE vec_id >= 5 AND vec_id % 10 <> 0
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (SELECT vec_id, cent_id FROM (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cent_id) AS rn
      |  FROM e, cents c WHERE e.vec_id >= 5 AND e.vec_id % 10 = 0) a WHERE rn = 1)
      |SELECT a.cent_id, CAST(count(*) AS BIGINT) AS delta_cnt,
      |  CAST(sum(CAST(list_sum(list_transform(e.v,
      |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))) AS BIGINT)) AS BIGINT) AS m1_sum,
      |  TRUE AS matches_batch
      |FROM assign a JOIN e ON e.vec_id = a.vec_id
      |GROUP BY a.cent_id ORDER BY a.cent_id""".stripMargin

  // ---------------------------------------------------------------- QS31
  /** STREAMING CAPPED-MIXTURE MAINTENANCE — x150's online twin: the
    * per-source token inventory a budgeted mixture plan reads maintains
    * CONTINUOUSLY as document waves arrive, so the mixture runner always
    * solves against current counts instead of a nightly recount. The
    * ONE streaming aggregation keys by source: state is |sources| rows
    * × one long (the commutative token-count sum — arrival-order-free,
    * corpus-size-independent by construction). On drain the closed-form
    * UniMax solve runs over the streamed counts and over a batch
    * recount THROUGH THE SAME core
    * ([[graft.operators.Queries.cappedMixtureAlloc]] — the
    * bm25StatsWide/ivfCellMomentsWide one-implementation discipline),
    * flagging per source; the oracle is x150's full closed-form SQL, so
    * drain == batch is hash-gated, not asserted. The solve itself is
    * |sources|²-metadata-scale and integer-exact (isqrt weights, zero
    * Round nodes — the x150 RBS-free contract carries over verbatim). */
  private[graft] def sourceTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), size(split(col("text"), " ")).cast(LongType).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))

  private def qs31(spark: SparkSession, dir: String): DataFrame = {
    val drained = runToTable(spark,
      sourceTokenCounts(docsStream(spark, dir)), OutputMode.Complete())
    val streamed = graft.operators.Queries.cappedMixtureAlloc(drained)
    val batch = graft.operators.Queries.cappedMixtureAlloc(
      sourceTokenCounts(graft.operators.Tables.documents(spark, dir)))
      .select(col("source").as("b_src"), col("n_tokens").as("b_nt"),
        col("weight_micro").as("b_w"), col("cap_tokens").as("b_cap"),
        col("alloc_tokens").as("b_alloc"), col("epochs_ppm").as("b_ep"),
        col("capped").as("b_capped"))
    streamed.join(batch, streamed("source") === col("b_src"), "left") // |sources|-row frames
      .select(streamed("source"), col("n_tokens"), col("weight_micro"),
        col("cap_tokens"), col("alloc_tokens"), col("epochs_ppm"), col("capped"),
        (col("b_src").isNotNull && col("n_tokens") === col("b_nt") &&
          col("weight_micro") === col("b_w") && col("cap_tokens") === col("b_cap") &&
          col("alloc_tokens") === col("b_alloc") && col("epochs_ppm") === col("b_ep") &&
          col("capped") === col("b_capped")).as("matches_batch"))
      .orderBy(col("source"))
  }

  /** Oracle = x150's closed-form solve over the full corpus (text
    * duplicated rather than referenced — the qs26/qs29 rule: a
    * cross-registry init-time read would deadlock the mutual clinit). */
  private val qs31Sql =
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
      |  capped, TRUE AS matches_batch
      |FROM f ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- QS32
  /** STREAMING DECONTAMINATION GATE — x20's online twin: arriving
    * training documents are screened against the held-out benchmark's
    * shingle set AT INGEST, so contaminated docs are flagged before they
    * ever reach a training shard (the batch x20 audit finds them after
    * the fact). The benchmark membership structure is a PLAN-TIME
    * CONSTANT: the distinct benchmark shingle hashes resolve once into
    * graft_count_in_longset (the CountInSet codegen class — sorted long[]
    * reference object, |sh|·log|bench| per row), so each arriving doc
    * computes its shared-shingle count MAP-SIDE — no explode, no join,
    * no per-doc streaming state — and the ONE streaming aggregation keys
    * by source: state is |sources| rows of three longs. (First cut used
    * array_intersect against a 1-row benchmark frame: that expression
    * REBUILDS the constant side's hash set per row — measured 3.1 → 85 s
    * at 1×→10× on the replication corpus, a 27× blowup for 10× data;
    * the constant-set expression is the fix, not an optimization.)
    * Boundedness contract: the set scales with the BENCHMARK, not the
    * corpus — a real eval set (x20's scale note) is constant-size in
    * corpus scale; the registry's 1/97 stand-in grows with the test
    * corpus but stays KBs–MBs at every tested SF. A 100 TB BATCH
    * decontamination keeps x20's postings-join shape (one linear scan,
    * benchmark side broadcast); this map-side form is the admission-gate
    * shape, where per-micro-batch volumes are deltas. Exactness: the
    * flag is the INTEGER cross-multiplication 5·n_shared ≥
    * max(n_shingles, 1) — x20's 0.2 ratio rule with the division removed
    * (RBS-free by construction), spelled identically in both engines;
    * drain == batch is hash-gated through the shared core. */
  private[graft] def contaminationGate(docs: DataFrame, bench: Array[Long]): DataFrame =
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("source"),
        expr("graft_shingle_hashes(split(text, ' '), 3)").as("sh"))
      .withColumn("n_shared",
        call_function("graft_count_in_longset", col("sh"), typedLit(bench)).cast(LongType))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .withColumn("contaminated", col("n_shared") * 5 >= greatest(col("n_sh"), lit(1L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_shared")).as("shared_total"))

  private def qs32(spark: SparkSession, dir: String): DataFrame = {
    // the published benchmark artifact: distinct shingle hashes of the
    // eval slice — bounded by the BENCHMARK's size (production eval sets
    // are constant in corpus scale), enrolled in CollectInventorySpec
    val benchArr = graft.operators.Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 === 0)
      .select(explode(expr("graft_shingle_hashes(split(text, ' '), 3)")).as("s"))
      .distinct()
      .agg(sort_array(collect_list(col("s"))).as("b")).head()
      .getSeq[Long](0).toArray
    val bench = benchArr
    val drained = runToTable(spark,
      contaminationGate(docsStream(spark, dir), bench), OutputMode.Complete())
    val batch = contaminationGate(
      graft.operators.Tables.documents(spark, dir), bench)
      .select(col("source").as("b_src"), col("n_docs").as("b_nd"),
        col("n_contaminated").as("b_nc"), col("shared_total").as("b_st"))
    drained.join(batch, drained("source") === col("b_src"), "left") // |sources|-row frames
      .select(drained("source"), col("n_docs"), col("n_contaminated"),
        expr("(2 * n_contaminated * 1000000 + n_docs) div (2 * n_docs)")
          .as("contaminated_ppm"),
        col("shared_total"),
        (col("b_src").isNotNull && col("n_docs") === col("b_nd") &&
          col("n_contaminated") === col("b_nc") &&
          col("shared_total") === col("b_st")).as("matches_batch"))
      .orderBy(col("source"))
  }

  /** Oracle = the per-source rollup of x20's postings-join count under
    * the integer flag rule (shingle SQL duplicated — the qs26 rule). */
  private val qs32Sql =
    """WITH s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
      |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      |b AS (SELECT DISTINCT unnest(sh) AS sng FROM s WHERE doc_id % 97 = 0),
      |t AS (SELECT doc_id, unnest(sh) AS sng FROM s WHERE doc_id % 97 <> 0),
      |shr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |        FROM t JOIN b USING (sng) GROUP BY doc_id),
      |d AS (SELECT s.doc_id, len(s.sh) AS n, coalesce(shr.n_shared, 0) AS n_shared
      |      FROM s LEFT JOIN shr USING (doc_id) WHERE s.doc_id % 97 <> 0),
      |j AS (SELECT doc.source, d.n, d.n_shared,
      |        (5 * d.n_shared >= greatest(d.n, 1)) AS contaminated
      |      FROM d JOIN documents doc USING (doc_id))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(*) FILTER (WHERE contaminated) AS BIGINT) AS n_contaminated,
      |  CAST((2 * count(*) FILTER (WHERE contaminated) * 1000000 + count(*))
      |    // (2 * count(*)) AS BIGINT) AS contaminated_ppm,
      |  CAST(sum(n_shared) AS BIGINT) AS shared_total,
      |  TRUE AS matches_batch
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- QS33
  /** STREAMING CDC AGGREGATE WITH RETRACTIONS — x121's online twin and
    * another cell of the IVM matrix (x110→qs7, x151→qs29, x149→qs30,
    * x150→qs31, x20→qs32): the standing per-type COUNT/SUM view is
    * maintained as the CDC feed arrives, deletes included. Plain
    * streaming aggregation cannot retract (append state only grows),
    * but the DBSP/differential-dataflow reading of x121's signed-weight
    * trick dissolves the problem: each arriving row expands MAP-SIDE
    * into its signed multiset weights (+1 base, −1 delete, +1 re-insert
    * — same generation arithmetic as x121), and a SIGNED sum is just a
    * sum, so the ONE streaming aggregation handles inserts and deletes
    * identically and the drain is arrival-order-free by commutativity.
    * That commutativity is precisely WHY this IVM member streams
    * trivially while x130's component-merge (whose label propagation is
    * order-sensitive) stays batch-delta. State: |event_types| rows × 2
    * longs — corpus-size-independent. Exactness: cents are the same
    * round(value·100) int64 both engines compute from the identical
    * stored double; everything after is integer. Drain == x121's
    * maintained view == the full generation-B rebuild (the oracle), and
    * the batch leg through the SAME core is hash-gated per row
    * (matches_batch). */
  private[graft] def cdcSignedAgg(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        explode(expr(
          """filter(array(
            |  CAST(1 AS BIGINT),
            |  IF(event_id % 89 = 0, CAST(-1 AS BIGINT), CAST(NULL AS BIGINT)),
            |  IF(event_id % 97 = 0 AND event_id % 89 <> 0,
            |     CAST(1 AS BIGINT), CAST(NULL AS BIGINT))),
            |x -> x IS NOT NULL)""".stripMargin)).as("w"))
      .groupBy(col("event_type"))
      .agg(sum(col("w")).as("n"), sum(col("w") * col("cents")).as("sum_cents"))

  private def qs33(spark: SparkSession, dir: String): DataFrame = {
    val drained = runToTable(spark,
      cdcSignedAgg(eventsStream(spark, dir, nFiles = 3)), OutputMode.Complete())
      .filter(col("n") > 0)
    val batch = cdcSignedAgg(graft.operators.Tables.events(spark, dir))
      .filter(col("n") > 0)
      .select(col("event_type").as("b_et"), col("n").as("b_n"),
        col("sum_cents").as("b_sc"))
    drained.join(batch, drained("event_type") === col("b_et"), "left") // |event_types|-row frames
      .select(drained("event_type"), col("n"), col("sum_cents"),
        (col("b_et").isNotNull && col("n") === col("b_n") &&
          col("sum_cents") === col("b_sc")).as("matches_batch"))
      .orderBy(col("event_type"))
  }

  /** Oracle = x121's full generation-B rebuild (text duplicated — the
    * qs26 rule: no cross-object init-time reads). */
  private val qs33Sql =
    """WITH b AS (SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |genB AS (
      |  SELECT event_type, cents FROM b WHERE event_id % 89 <> 0
      |  UNION ALL
      |  SELECT event_type, cents FROM b WHERE event_id % 97 = 0 AND event_id % 89 <> 0)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents, TRUE AS matches_batch
      |FROM genB GROUP BY event_type HAVING count(*) > 0
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- QS34
  /** STREAMING JOIN-VIEW MAINTENANCE — q44's online twin, completing the
    * IVM matrix's join leg: the per-segment revenue view over
    * orders⋈customer is maintained as BOTH sides' CDC rows arrive, in
    * any interleaving (the wave order deliberately lands a customer
    * delta AFTER its orders, the case a stream-stream join would buffer
    * the whole fact side for). The factorized-state trick makes that
    * buffering unnecessary: a key-equi join aggregated per key needs
    * only each side's per-key sufficient statistics, so state keyed by
    * custkey holds (n_orders, sum_cents, segment) — fact rows COLLAPSE
    * into two longs per key, and the dimension row fills the third slot
    * whenever it arrives. State is DIMENSION-cardinality (|custkeys| ×
    * 3 cols), never fact-cardinality — at 100 TB that is the difference
    * between a customer table and a lineitem table held in the state
    * store. One streaming aggregation (sums + the single-row max(seg)
    * are commutative → arrival-order-free); the inner-join semantics
    * (orders without a customer drop) apply on the drained key frame.
    * Drain-folded view == q44's maintained view == the full join
    * rebuild (the oracle); the batch leg through the SAME core is
    * hash-gated per segment (matches_batch). */
  private[graft] val joinCdcSchema = StructType(Seq(
    StructField("side", StringType), StructField("k", LongType),
    StructField("cents", LongType), StructField("seg", StringType)))

  /** Four deterministic arrival waves of the tagged two-sided CDC feed:
    * dim base, fact base, dim delta, fact delta (q44's generation
    * split) — facts meet both earlier- AND later-arriving dimension
    * rows. Memoized per dir like [[sourceCache]]. */
  private val joinCdcWaveCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def joinCdcBatch(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ord = graft.operators.Tables(spark, dir, "orders")
      .select(lit("O").as("side"), col("o_custkey").cast(LongType).as("k"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"),
        lit(null).cast(StringType).as("seg"),
        col("o_orderkey").cast(LongType).as("src_key"))
    val cust = graft.operators.Tables(spark, dir, "customer")
      .select(lit("C").as("side"), col("c_custkey").cast(LongType).as("k"),
        lit(null).cast(LongType).as("cents"), col("c_mktsegment").as("seg"),
        col("c_custkey").cast(LongType).as("src_key"))
    (ord, cust)
  }

  private def joinCdcWaves(spark: SparkSession, dir: String): String =
    joinCdcWaveCache.getOrElseUpdate(dir, {
      val src = graft.util.TempDirs.create("graft-stream-joincdc")
      val (ord, cust) = joinCdcBatch(spark, dir)
      val waves = Seq(
        cust.filter(col("src_key") % 17 =!= 0), // b: the dim base
        ord.filter(col("src_key") % 10 =!= 0),  // a: the fact base
        cust.filter(col("src_key") % 17 === 0), // db: late dim rows
        ord.filter(col("src_key") % 10 === 0))  // da: late fact rows
      waves.zipWithIndex.foreach { case (w, i) =>
        w.drop("src_key").coalesce(1).write.parquet(src.resolve(s"wave-$i").toString)
        Thread.sleep(5) // file mtime orders the waves
      }
      src.toString
    })

  private[graft] def joinCdcStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(joinCdcSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(joinCdcWaves(spark, dir))

  /** qs34's stateful core, factored for StreamRecoverySpec: per-custkey
    * factorized join state — each side's sufficient statistics in one
    * commutative aggregation. max(seg) is exact because q44's dim CDC is
    * insert-only (≤1 segment row per key ever arrives); an
    * update-capable dim feed would carry a (version, seg) pair and fold
    * max_by. */
  private[graft] def joinViewKeyState(cdc: DataFrame): DataFrame =
    cdc.groupBy(col("k"))
      .agg(sum(when(col("side") === "O", 1L).otherwise(0L)).as("n_orders"),
        sum(when(col("side") === "O", col("cents")).otherwise(0L)).as("sum_cents"),
        max(when(col("side") === "C", col("seg"))).as("seg"))

  /** Inner-join fold over the key-state frame (shared by the streamed
    * and batch legs): keys missing either side drop, exactly the join's
    * semantics. */
  private[graft] def joinViewFold(kv: DataFrame): DataFrame =
    kv.filter(col("seg").isNotNull && col("n_orders") > 0)
      .groupBy(col("seg").as("c_mktsegment"))
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("sum_cents")).as("sum_cents"))

  private def qs34(spark: SparkSession, dir: String): DataFrame = {
    val drained = joinViewFold(
      runToTable(spark, joinViewKeyState(joinCdcStream(spark, dir)),
        OutputMode.Complete()))
    val (ord, cust) = joinCdcBatch(spark, dir)
    val batch = joinViewFold(joinViewKeyState(
        ord.drop("src_key").unionByName(cust.drop("src_key"))))
      .select(col("c_mktsegment").as("b_seg"), col("n_orders").as("b_n"),
        col("sum_cents").as("b_sc"))
    drained.join(batch, drained("c_mktsegment") === col("b_seg"), "left") // |segments|-row frames
      .select(drained("c_mktsegment"), col("n_orders"), col("sum_cents"),
        (col("b_seg").isNotNull && col("n_orders") === col("b_n") &&
          col("sum_cents") === col("b_sc")).as("matches_batch"))
      .orderBy(col("c_mktsegment"))
  }

  /** Oracle = q44's full join rebuild (the IVM theorem's right side). */
  private val qs34Sql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  TRUE AS matches_batch
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- QS35
  /** STREAMING OFF-POLICY EVALUATION AT INGEST — x156's online twin: the
    * IPS/SNIPS estimate of the candidate filter's kept-token mass
    * refreshes continuously as logged admission decisions arrive, so the
    * filter A/B dashboard reads a LIVE counterfactual instead of waiting
    * on a nightly batch (the decision "deploy the new gate?" tracks the
    * corpus as it grows). Every per-doc column — the content-addressed
    * logging coin, the two-tier propensity, the candidate gate, the
    * exact ninths weight — is MAP-SIDE (x156's core, shared verbatim),
    * and the ONE streaming aggregation keys by source: state is
    * |sources| rows × 6 longs, corpus-size-independent. Commutative
    * integer sums make the drain arrival-order-free; the estimator
    * finish (half-up rationals from the drained ninths) runs on the
    * |sources|-row drain, and the batch leg through the SAME cores is
    * hash-gated per source (matches_batch). Oracle = x156's own SQL. */
  private def qs35(spark: SparkSession, dir: String): DataFrame = {
    val drained = graft.operators.Queries.ipsFinish(
      runToTable(spark,
        graft.operators.Queries.ipsMoments(docsStream(spark, dir)),
        OutputMode.Complete()))
    val batch = graft.operators.Queries.ipsFinish(graft.operators.Queries.ipsMoments(
        graft.operators.Tables.documents(spark, dir)))
      .select(col("source").as("b_src"), col("ips_tokens").as("b_ips"),
        col("err_ppm").as("b_err"), col("snips_mean_milli").as("b_snips"))
    drained.join(batch, drained("source") === col("b_src"), "left") // |sources|-row frames
      .select(drained("source"), col("n_logged"), col("n_match"), col("ips_tokens"),
        col("truth_tokens"), col("err_ppm"), col("snips_mean_milli"),
        col("truth_mean_milli"),
        (col("b_src").isNotNull && col("ips_tokens") === col("b_ips") &&
          col("err_ppm") === col("b_err") &&
          col("snips_mean_milli") === col("b_snips")).as("matches_batch"))
      .orderBy(drained("source"))
  }

  /** Oracle = x156's full replay (text duplicated — the qs26 rule). */
  private val qs35Sql =
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
      |       // (2 * greatest(truth_docs, 1)) AS BIGINT) AS truth_mean_milli,
      |  TRUE AS matches_batch
      |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- QS36
  /** STREAMING A/B SIGNIFICANCE DASHBOARD — x117's online twin: the
    * Welch t² readout per event type refreshes as events arrive, so an
    * experimenter watches significance emerge instead of polling a
    * nightly batch. The moment algebra is BUILT for this: x117's six
    * conditional sums (n/Σ/Σ² per arm) are commutative integers, the
    * arm assignment is the content-addressed md5(user_id)%2 (map-side,
    * no state), so the ONE streaming aggregation keys by event_type
    * with |event_types| rows × 6 longs of state — and the drained
    * moments feed the SAME driver-side BigInt finisher the batch query
    * uses (t², df, the integer χ²₁ significance flag). Drain ==
    * batch x117 is hash-gated per row (matches_batch, null-safe on the
    * t²/df columns a degenerate arm can null). */
  private def qs36(spark: SparkSession, dir: String): DataFrame = {
    val drained = graft.operators.Queries.x117Finish(spark,
      runToTable(spark,
        graft.operators.Queries.abMoments(eventsStream(spark, dir, nFiles = 3)),
        OutputMode.Complete()))
    val batch = graft.operators.Queries.x117Finish(spark,
        graft.operators.Queries.x117Moments(spark, dir))
      .select(col("event_type").as("b_et"), col("n_a").as("b_na"),
        col("n_b").as("b_nb"), col("t2_micros").as("b_t2"),
        col("df_micros").as("b_df"), col("significant").as("b_sig"))
    drained.join(batch, drained("event_type") === col("b_et"), "left") // |event_types|-row frames
      .select(drained("event_type"), col("n_a"), col("n_b"),
        col("mean_a_microcents"), col("mean_b_microcents"),
        col("t2_micros"), col("df_micros"), col("significant"),
        (col("b_et").isNotNull && col("n_a") === col("b_na") &&
          col("n_b") === col("b_nb") && col("t2_micros") <=> col("b_t2") &&
          col("df_micros") <=> col("b_df") && col("significant") === col("b_sig"))
          .as("matches_batch"))
      .orderBy(drained("event_type"))
  }

  /** Oracle = x117's full readout (text duplicated — the qs26 rule). */
  private val qs36Sql =
    """WITH e AS (SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |m AS (SELECT event_type,
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END) AS BIGINT) AS ss_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END) AS BIGINT) AS ss_b
      |  FROM e GROUP BY event_type),
      |v AS (SELECT *,
      |    CAST(n_a AS HUGEINT) * ss_a - CAST(s_a AS HUGEINT) * s_a AS aa,
      |    CAST(n_b AS HUGEINT) * ss_b - CAST(s_b AS HUGEINT) * s_b AS bb,
      |    CAST(n_b AS HUGEINT) * s_a - CAST(n_a AS HUGEINT) * s_b AS dd,
      |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) AS va,
      |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) AS vb
      |  FROM m WHERE n_a > 1 AND n_b > 1),
      |w AS (SELECT *,
      |    dd * dd * (n_a - 1) * (n_b - 1) AS tnum,
      |    aa * n_b * n_b * (n_b - 1) + bb * n_a * n_a * (n_a - 1) AS tden,
      |    va / n_a + vb / n_b AS se2 FROM v)
      |SELECT event_type, n_a, n_b,
      |  (2 * s_a * 1000000 + n_a) // (2 * n_a) AS mean_a_microcents,
      |  (2 * s_b * 1000000 + n_b) // (2 * n_b) AS mean_b_microcents,
      |  CAST((2 * tnum * 1000000 + tden) // (2 * tden) AS BIGINT) AS t2_micros,
      |  CAST(round(se2 * se2 / ((va / n_a) * (va / n_a) / (n_a - 1)
      |    + (vb / n_b) * (vb / n_b) / (n_b - 1)) * 1000000.0, 0) AS BIGINT) AS df_micros,
      |  tnum * 1000000 > 3841459 * tden AS significant,
      |  TRUE AS matches_batch
      |FROM w ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- QS37
  /** STREAMING COMPACTION-AUDIT MAINTENANCE — the DELETE side of the ANN
    * index goes live, closing the last open cell of the maintenance
    * matrix (r11 verdict item 6): x157 proved tombstone-masked serving
    * correct and x158 priced the rebuild decision as a batch audit; this
    * query maintains that decision's INPUT continuously, so the
    * compaction scheduler reads current per-cell live fractions instead
    * of a nightly recount — the erasure-request SLA ("how stale is the
    * index's dead mass?") becomes a micro-batch bound. Arriving vectors
    * assign MAP-SIDE against the frozen k-row centroid literal (the qs30
    * manifest, shared [[ivfAssignLiteral]] core), each carrying its
    * code/tombstone contribution as commutative integer sums; the ONE
    * streaming aggregation keys by cent_id, so state is k rows × 2 longs
    * — index-width, never corpus-width, by construction. On drain the
    * x158 finisher ([[graft.operators.Queries.compactionDecision]], the
    * one-implementation rule) turns the streamed counts into live_ppm /
    * reclaim_bytes / the rebuild flag, and a batch recount through the
    * SAME cores is flagged per cell (matches_batch). Oracle = x158's
    * full-rebuild SQL, so drain == batch == rebuild is hash-gated.
    * Recovery proof #17: the k-row state crosses a process death and the
    * recovered decision still equals the batch audit. */
  private def qs37(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.operators.Queries.embWithNorm(spark, dir)
      .filter(col("vec_id") >= 5)
    // the frozen index manifest: k=16 rows by contract (production reads
    // the stored index artifact) — bounded collect, enrolled in
    // CollectInventorySpec
    val qs37Cents = graft.operators.Queries.ivfSeedCentroids(base, 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2))).toSeq
    val drained = runToTable(spark,
      ivfCellCodeCounts(embStream(spark, dir).filter(col("vec_id") >= 5), qs37Cents),
      OutputMode.Complete())
    val dec = graft.operators.Queries.compactionDecision(drained)
    val batch = graft.operators.Queries.compactionDecision(ivfCellCodeCounts(
        graft.operators.Tables(spark, dir, "embeddings").filter(col("vec_id") >= 5),
        qs37Cents))
      .select(col("cent_id").as("b_cid"), col("n_codes").as("b_nc"),
        col("n_tombstoned").as("b_nt"), col("rebuild").as("b_rb"))
    dec.join(batch, dec("cent_id") === col("b_cid"), "left") // two k-row frames
      .select(dec("cent_id"), col("n_codes"), col("n_tombstoned"),
        col("live_ppm"), col("reclaim_bytes"), col("rebuild"),
        (col("b_cid").isNotNull && col("n_codes") === col("b_nc") &&
          col("n_tombstoned") === col("b_nt") && col("rebuild") === col("b_rb"))
          .as("matches_batch"))
      .orderBy(dec("cent_id"))
  }

  /** Oracle = x158's full-rebuild audit (the IVM theorem's right side). */
  private val qs37Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
      |          WHERE vec_id >= 5 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (SELECT vec_id, cent_id FROM (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cent_id) AS rn
      |  FROM e, cents c WHERE e.vec_id >= 5) a WHERE rn = 1),
      |g AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_codes,
      |        CAST(count(*) FILTER (WHERE vec_id % 13 = 0) AS BIGINT) AS n_tombstoned
      |      FROM assign GROUP BY cent_id)
      |SELECT cent_id, n_codes, n_tombstoned,
      |  CAST((2 * (n_codes - n_tombstoned) * 1000000 + n_codes)
      |       // (2 * n_codes) AS BIGINT) AS live_ppm,
      |  CAST(n_tombstoned * 80 AS BIGINT) AS reclaim_bytes,
      |  (2 * (n_codes - n_tombstoned) * 1000000 + n_codes) // (2 * n_codes) < 800000 AS rebuild,
      |  TRUE AS matches_batch
      |FROM g ORDER BY cent_id""".stripMargin

  // ---------------------------------------------------------------- QS38
  /** STREAMING FERTILITY DASHBOARD — x162's online twin: the tokenizer
    * fertility/cost ratios a budget dashboard reads maintain continuously
    * as document waves arrive (tokenizer regressions and source-mix
    * shifts surface as the corpus grows, not at the nightly recount).
    * Every per-doc column (bytes, chars, both tokenizers' counts) is
    * MAP-SIDE via x162's shared core ([[graft.operators.Queries
    * .fertilityMoments]], the one-implementation rule), and the ONE
    * streaming aggregation keys by (source, lang): state is
    * |sources×langs| rows × 5 longs — corpus-size-independent,
    * commutative integer sums → arrival-order-free drain. The ratio
    * finisher runs on the drained frame, and a batch recount through the
    * SAME cores is flagged per row (matches_batch). Oracle = x162's own
    * SQL, so drain == batch is hash-gated. Recovery proof #18. */
  private def qs38(spark: SparkSession, dir: String): DataFrame = {
    val drained = graft.operators.Queries.fertilityFinish(
      runToTable(spark,
        graft.operators.Queries.fertilityMoments(docsStream(spark, dir)),
        OutputMode.Complete()))
    val batch = graft.operators.Queries.fertilityFinish(
        graft.operators.Queries.fertilityMoments(
          graft.operators.Tables.documents(spark, dir)))
      .select(col("source").as("b_s"), col("lang").as("b_l"),
        col("re_tokens").as("b_re"), col("n_bytes").as("b_nb"))
    drained.join(batch,
        drained("source") === col("b_s") && drained("lang") === col("b_l"),
        "left") // two |sources×langs|-row frames
      .select(drained("source"), drained("lang"), col("n_docs"), col("n_bytes"),
        col("n_chars"), col("ws_tokens"), col("re_tokens"),
        col("fertility_re_per_kchar"), col("bytes_per_re_token_milli"),
        col("re_per_ws_milli"),
        (col("b_s").isNotNull && col("re_tokens") === col("b_re") &&
          col("n_bytes") === col("b_nb")).as("matches_batch"))
      .orderBy(drained("source"), drained("lang"))
  }

  /** Oracle = x162's batch SQL (drain == batch is the gate). */
  private lazy val qs38Sql =
    s"SELECT *, TRUE AS matches_batch FROM (${graft.operators.Queries.x162Sql}) t"

  // ---------------------------------------------------------------- QS39
  /** STREAMING WEIGHTED PRIORITY SAMPLE — x165's online twin, closing the
    * sampling family's live side next to qs14's uniform-key reservoir:
    * the size-biased eval-slice builder maintains continuously as
    * document waves arrive. Each doc computes its content-addressed
    * integer priority MAP-SIDE (floor(hv / tokens), exactly x165's coin),
    * and a [[graft.functions.PriorityK]] aggregation keeps AT MOST k=10
    * entries of state per source across micro-batches — k·|sources| rows
    * forever, the bounded-state property that lets the sampler run
    * unbounded at 100 TB. Because the k-smallest merge is associative/
    * commutative under the exact (pri, doc_id) integer order, the drained
    * sample equals batch x165's per-stratum window EXACTLY — the oracle
    * IS x165's SQL, so drain == batch is hash-gated. Pure int64 keys: no
    * rounding surface anywhere (qs14's 8dp-rounded double key note does
    * not arise). Recovery proof #19. */
  private[graft] def prioritySampleAgg(docs: DataFrame): DataFrame = {
    val pk = udaf(new graft.functions.PriorityK(10))
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .withColumn("hv", conv(substring(
          md5(concat(lit("x165_"), col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast(LongType))
      .withColumn("pri", expr("hv div greatest(n_tokens, 1)"))
      .groupBy(col("source"))
      .agg(pk(col("pri"), col("doc_id"), col("n_tokens")).as("sample"))
  }

  private[graft] def prioritySampleFinish(drained: DataFrame): DataFrame =
    drained
      .select(col("source"), posexplode(col("sample")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast(IntegerType).as("rnk"),
        col("e.doc_id").as("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.pri").as("pri"))
      .orderBy(col("source"), col("rnk"))

  private def qs39(spark: SparkSession, dir: String): DataFrame =
    prioritySampleFinish(runToTable(spark,
      prioritySampleAgg(docsStream(spark, dir)), OutputMode.Complete()))

  /** Same oracle as x165 — the equality IS the contract. */
  private lazy val qs39Sql = graft.operators.Queries.x165Sql

  // ---------------------------------------------------------------- QS40
  /** STREAMING DEDUP-INDEX COMPACTION AUDIT — x164's online twin,
    * extending the live compaction column to the SECOND standing index
    * family exactly as qs37 did for the first: x110/qs7 maintain the
    * exact-dedup index incrementally and x164 prices its shard rewrites
    * as a nightly audit; this query maintains that decision's input
    * continuously, so the rewrite scheduler reads current per-shard live
    * fractions at a micro-batch bound. Each arriving document computes
    * its 2-hex sha-256 prefix shard and tombstone flag MAP-SIDE (the
    * shared [[graft.operators.Queries.dedupShardCounts]] core — the
    * one-implementation rule), and the ONE streaming aggregation keys by
    * shard: state is 256 rows × 2 longs — index-geometry-width, never
    * corpus-width, by construction. On drain the shared
    * [[graft.operators.Queries.compactionDecision]] finisher (entry size
    * 48 bytes, x164's postings parameter) emits live_ppm / reclaim_bytes
    * / the rebuild flag, and a batch recount through the SAME cores is
    * flagged per shard. Oracle = x164's full-recount SQL, so drain ==
    * batch == rebuild is hash-gated. Recovery proof #20: the 256-row
    * state crosses a process death and the recovered decision still
    * equals the batch audit. */
  private def qs40(spark: SparkSession, dir: String): DataFrame = {
    val drained = runToTable(spark,
      graft.operators.Queries.dedupShardCounts(docsStream(spark, dir)),
      OutputMode.Complete())
    val dec = graft.operators.Queries.compactionDecision(drained, entryBytes = 48L)
    val batch = graft.operators.Queries.compactionDecision(
        graft.operators.Queries.dedupShardCounts(
          graft.operators.Tables.documents(spark, dir)), entryBytes = 48L)
      .select(col("cent_id").as("b_sh"), col("n_codes").as("b_np"),
        col("n_tombstoned").as("b_nt"), col("rebuild").as("b_rb"))
    dec.join(batch, dec("cent_id") === col("b_sh"), "left") // two 256-row frames
      .select(dec("cent_id").as("shard"), col("n_codes").as("n_postings"),
        col("n_tombstoned"), col("live_ppm"), col("reclaim_bytes"), col("rebuild"),
        (col("b_sh").isNotNull && col("n_codes") === col("b_np") &&
          col("n_tombstoned") === col("b_nt") && col("rebuild") === col("b_rb"))
          .as("matches_batch"))
      .orderBy(col("shard"))
  }

  /** Oracle = x164's full-recount audit (the IVM theorem's right side). */
  private lazy val qs40Sql =
    s"SELECT *, TRUE AS matches_batch FROM (${graft.operators.Queries.x164Sql}) t"

  // ---------------------------------------------------------------- QS41
  /** STREAMING OPERATING-POINT DASHBOARD — x175's live twin: the quality
    * gate's precision/recall/kept-token curve refreshes continuously as
    * held-out documents arrive, so threshold selection reads a current
    * dashboard instead of a nightly batch. The qs30/qs32 frozen-base
    * discipline: the x108 NB model trains ONCE on the batch train bucket
    * (b<80, the shared [[graft.operators.Queries.nbModelFrozen]] artifact
    * — a stream scores against the deployed model, it never retrains per
    * micro-batch), rides the plan as a sorted long→long literal, and
    * every arriving b>=80 doc is scored MAP-SIDE by the codegen'd
    * graft_sum_longmap kernel — no explode-join, no per-doc shuffle; the
    * ONE streaming aggregation is the shared
    * [[graft.operators.Queries.operatingPointCore]] (threshold melt →
    * groupBy thr), so state is 5 rows × 6 longs — threshold-count-width,
    * never corpus-width, by construction. The commutative integer sums
    * make the drain arrival-order-free; the ppm finisher is stateless
    * post-drain; a batch pass through the SAME cores is hash-gated per
    * threshold (matches_batch). Oracle = x175's SQL — drain == batch is
    * the contract. Recovery proof #21. */
  /** The map-side scored projection (shared with the recovery proof):
    * held-out filter + kernel score against the frozen model literal. */
  private[graft] def opPointScored(docs: DataFrame, prior: Long,
      keys: Array[Long], vals: Array[Long]): DataFrame =
    docs
      .filter(pmod(conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast(LongType), lit(100L)) >= 80)
      .select((col("n_chars") >= 150).as("label_good"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        (lit(prior) + call_function("graft_sum_longmap",
          expr("graft_sha48(split(text, ' '))"),
          typedLit(keys.toSeq), typedLit(vals.toSeq))).as("score_nanos"))

  private def qs41(spark: SparkSession, dir: String): DataFrame = {
    val (prior, keys, vals) = graft.operators.Queries.nbModelFrozen(spark, dir)
    val scored = opPointScored(docsStream(spark, dir), prior, keys, vals)
    val drained = graft.operators.Queries.operatingPointFinish(runToTable(spark,
      graft.operators.Queries.operatingPointCore(scored), OutputMode.Complete()))
    val batch = graft.operators.Queries.operatingPointFinish(
        graft.operators.Queries.operatingPointCore(
          graft.operators.Queries.x175Scored(spark, dir, prior, keys, vals)))
      .select(col("thr_nanos").as("b_t"), col("n_pred").as("b_np"),
        col("tp").as("b_tp"), col("kept_tokens").as("b_kt"))
    drained.join(batch, drained("thr_nanos") === col("b_t"), "left") // two 5-row frames
      .select(drained("thr_nanos"), col("n_docs"), col("n_pos"), col("n_pred"),
        col("tp"), col("precision_ppm"), col("recall_ppm"), col("kept_tokens"),
        col("total_tokens"), col("kept_token_ppm"),
        (col("b_t").isNotNull && col("n_pred") === col("b_np") &&
          col("tp") === col("b_tp") && col("kept_tokens") === col("b_kt"))
          .as("matches_batch"))
      .orderBy(col("thr_nanos"))
  }

  /** Oracle = x175's held-out curve (drain == batch is the gate). */
  private lazy val qs41Sql =
    s"SELECT *, TRUE AS matches_batch FROM (${graft.operators.Queries.x175Sql}) t"

  // ---------------------------------------------------------------- QS42
  /** STREAMING EXCISION DASHBOARD — x172's live twin: the
    * drop-vs-excise contamination economics refresh continuously as
    * documents arrive, so the scrub-policy decision reads current
    * per-source numbers at a micro-batch bound. The qs32 frozen-
    * benchmark discipline: the eval slice's distinct-shingle hash set
    * (the shared [[graft.operators.Queries.excisionBench]] artifact)
    * rides the plan as a sorted-long[] literal, every arriving doc runs
    * the ONE-hash-pass graft_shingle_audit kernel MAP-SIDE, and the one
    * streaming aggregation is the shared
    * [[graft.operators.Queries.excisionAudit]] groupBy(source) —
    * |sources|-row × 6-long state, corpus-size-independent by
    * construction. Commutative integer sums → arrival-order-free drain;
    * the policy finisher is stateless post-drain; a batch pass through
    * the SAME cores is hash-gated per source. Oracle = x172's SQL —
    * drain == batch is the contract. Recovery proof #22. */
  private def qs42(spark: SparkSession, dir: String): DataFrame = {
    val bench = graft.operators.Queries.excisionBench(spark, dir)
    val drained = graft.operators.Queries.excisionFinish(runToTable(spark,
      graft.operators.Queries.excisionAudit(docsStream(spark, dir), bench),
      OutputMode.Complete()))
    val batch = graft.operators.Queries.excisionFinish(
        graft.operators.Queries.excisionAudit(
          graft.operators.Tables.documents(spark, dir), bench))
      .select(col("source").as("b_src"), col("n_docs").as("b_nd"),
        col("covered_tokens").as("b_cv"), col("tokens_drop").as("b_td"),
        col("tokens_excise").as("b_te"))
    drained.join(batch, drained("source") === col("b_src"), "left") // |sources|-row frames
      .select(drained("source"), col("n_docs"), col("tokens_total"),
        col("contaminated_docs"), col("flagged_docs"), col("covered_tokens"),
        col("tokens_drop"), col("tokens_excise"), col("excise_gain_tokens"),
        col("excised_share_ppm"),
        (col("b_src").isNotNull && col("n_docs") === col("b_nd") &&
          col("covered_tokens") === col("b_cv") && col("tokens_drop") === col("b_td") &&
          col("tokens_excise") === col("b_te")).as("matches_batch"))
      .orderBy(drained("source"))
  }

  /** Oracle = x172's batch economics (drain == batch is the gate). */
  private lazy val qs42Sql =
    s"SELECT *, TRUE AS matches_batch FROM (${graft.operators.Queries.x172Sql}) t"

  // ---------------------------------------------------------------- QS43
  /** STREAMING NOVELTY FORECAST — x177's live twin and the next standing-
    * index IVM member (x110→qs7, x151→qs29, x149→qs30, x164→qs40):
    * the crawl-budget dashboard maintains as documents arrive, so
    * "is this source saturated?" reads a current Good–Turing/Chao
    * estimate instead of a nightly recount. The ONE streaming
    * aggregation is the shared
    * [[graft.operators.Queries.noveltyIncidence]] core — per-(source,
    * kind, shingle-hash) counts with the sentinel doc-species trick (the
    * doc denominator rides the same aggregation; streaming allows only
    * one) — so the state IS the standing shingle-incidence index, the
    * same corpus-vocabulary-scale class qs7/qs29 maintain (the index is
    * the product: a crawler keeps it to route fetches; the dashboard is
    * a free |sources|-row drain over it). Commutative counts →
    * arrival-order-free; the estimator finisher is stateless post-drain
    * and shared verbatim with nothing — batch x177 computes through its
    * own join path, so the hash-gate (matches_batch) is a genuinely
    * independent cross-check, and the DuckDB oracle is x177's SQL.
    * Recovery proof #23. */
  private def qs43(spark: SparkSession, dir: String): DataFrame = {
    val drained = graft.operators.Queries.noveltyFinish(runToTable(spark,
      graft.operators.Queries.noveltyIncidence(docsStream(spark, dir)),
      OutputMode.Complete()))
    val batch = graft.operators.Queries.byName("x177_novelty_forecast").run(spark, dir)
      .select(col("source").as("b_src"), col("n_docs").as("b_nd"),
        col("n_incidences").as("b_ni"), col("n_distinct").as("b_dx"),
        col("f1").as("b_f1"), col("f2").as("b_f2"))
    drained.join(batch, drained("source") === col("b_src"), "left") // |sources|-row frames
      .select(drained("source"), col("n_docs"), col("n_incidences"),
        col("n_distinct"), col("f1"), col("f2"), col("novelty_ppm"),
        col("repeat_ppm"), col("chao_total"),
        (col("b_src").isNotNull && col("n_docs") === col("b_nd") &&
          col("n_incidences") === col("b_ni") && col("n_distinct") === col("b_dx") &&
          col("f1") === col("b_f1") && col("f2") === col("b_f2")).as("matches_batch"))
      .orderBy(drained("source"))
  }

  /** Oracle = x177's full-recount estimators (the IVM theorem's right side). */
  private lazy val qs43Sql =
    s"SELECT *, TRUE AS matches_batch FROM (${graft.operators.Queries.x177Sql}) t"

  // ---------------------------------------------------------------- QS1
  /** Tumbling 1-hour windows with watermark, complete mode: counts + exact
    * decimal sums per (window, event_type). */
  private def qs1(spark: SparkSession, dir: String): DataFrame = {
    val windowed = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("total"))
    runToTable(spark, windowed, OutputMode.Complete())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("event_type"), col("n"),
        // exact decimal state; driver-compared output is double + round
        round(col("total").cast(DoubleType), 2).as("total"))
  }

  private val qs1Sql =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      |       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
      |       event_type, count(*) AS n,
      |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
      |FROM events
      |GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- QS2
  /** Session windows (5-minute gap) per user, complete mode. Spark's session
    * end = last event + gap, so `session_last = end - gap` aligns with the
    * oracle's max(ts); the oracle rebuilds sessions with the gaps-and-islands
    * idiom (new session when the gap is >= 5 minutes, matching Spark's
    * half-open [start, last+gap) windows). */
  private def qs2(spark: SparkSession, dir: String): DataFrame = {
    val sessions = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(spark, sessions, OutputMode.Complete())
      .select(
        col("session_window.start").cast(TimestampNTZType).as("session_start"),
        (col("session_window.end") - expr("INTERVAL 5 MINUTES")).cast(TimestampNTZType).as("session_last"),
        col("user_id"), col("n_events"))
  }

  private val qs2Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |m AS (SELECT user_id, ts,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |               OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts,
      |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |      FROM m)
      |SELECT min(ts) AS session_start, max(ts) AS session_last, user_id, count(*) AS n_events
      |FROM s GROUP BY user_id, sess_id""".stripMargin

  // --------------------------------------------------------------- QS1A
  /** APPEND-mode twin of qs1 — the production shape: complete mode re-emits
    * every window each trigger (unbounded sink work as history grows);
    * append emits each window exactly ONCE, when the watermark passes its
    * end, and the state store drops it. State and sink writes stay bounded
    * by the watermark horizon no matter how long the stream runs.
    *
    * The emission set is exactly derivable, so this is ORACLE-CHECKED, not
    * rows-only: with an availableNow drain, the final watermark is
    * max(event time) truncated to ms minus the 10-minute delay, and append
    * emits precisely the windows with `window_end <= watermark`
    * (empirically: qs4's 3380 = qs1's 3385 minus the 5 windows past the
    * final watermark). The source splits into 3 time-ordered files consumed
    * one per trigger so the watermark genuinely advances mid-stream —
    * emission happens incrementally, not in one final flush. */
  private def qs1a(spark: SparkSession, dir: String): DataFrame = {
    val windowed = eventsStream(spark, dir, nFiles = 3)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("total"))
    runToTable(spark, windowed, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("event_type"), col("n"),
        round(col("total").cast(DoubleType), 2).as("total"))
  }

  /** The final-watermark expression shared by the append oracles: Spark
    * tracks event-time stats in MILLISECONDS, so the µs part of max(ts)
    * truncates before the delay subtracts. */
  private val wmSql =
    """(SELECT make_timestamp((epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) * 1000)
      |   - INTERVAL 10 MINUTE FROM events)""".stripMargin

  private val qs1aSql =
    s"""WITH agg AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       |         CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |         event_type, count(*) AS n,
       |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
       |  FROM events GROUP BY 1, 2, 3)
       |SELECT * FROM agg WHERE window_end <= $wmSql""".stripMargin

  // --------------------------------------------------------------- QS2A
  /** APPEND-mode twin of qs2: session windows emit once, when the
    * watermark passes `session.end` (= last event + gap). An emitted
    * session is final — any event that could still merge into it would
    * carry ts < session.end <= watermark and be dropped as too late — so
    * the emitted rows equal the batch sessions whose end cleared the final
    * watermark, and the oracle replays exactly that. */
  private def qs2a(spark: SparkSession, dir: String): DataFrame = {
    val sessions = eventsStream(spark, dir, nFiles = 3)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(spark, sessions, OutputMode.Append())
      .select(
        col("session_window.start").cast(TimestampNTZType).as("session_start"),
        (col("session_window.end") - expr("INTERVAL 5 MINUTES")).cast(TimestampNTZType).as("session_last"),
        col("user_id"), col("n_events"))
  }

  private val qs2aSql =
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       |m AS (SELECT user_id, ts,
       |        CASE WHEN lag(ts) OVER w IS NULL
       |               OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_sess
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (SELECT user_id, ts,
       |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
       |      FROM m),
       |sess AS (SELECT min(ts) AS session_start, max(ts) AS session_last, user_id, count(*) AS n_events
       |         FROM s GROUP BY user_id, sess_id)
       |SELECT * FROM sess WHERE session_last + INTERVAL 5 MINUTE <= $wmSql""".stripMargin

  // ---------------------------------------------------------------- QS3
  // public: Spark codegen instantiates these from generated classes
  case class EvRow(event_id: Long, user_id: Long, event_type: String, tsMicros: Long)
  case class FirstSeen(first_ts: Long, first_event_id: Long, n: Long)
  case class FirstOut(user_id: Long, event_type: String, first_ts_micros: Long, first_event_id: Long, n_events: Long)

  /** Stateful processing via mapGroupsWithState: per (user, event_type) keep
    * the earliest event + a running count — a deterministic (arrival-order-
    * free) fold, unlike naive first-arrival dedup. */
  private def qs3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev: Dataset[EvRow] = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsMicros"))
      .as[EvRow]
    val folded = ev
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[FirstSeen, FirstOut](GroupStateTimeout.NoTimeout()) {
        case ((uid, etype), rows, state: GroupState[FirstSeen]) =>
          val prev = state.getOption.getOrElse(FirstSeen(Long.MaxValue, Long.MaxValue, 0L))
          val next = rows.foldLeft(prev) { (acc, e) =>
            val better =
              if (e.tsMicros < acc.first_ts ||
                (e.tsMicros == acc.first_ts && e.event_id < acc.first_event_id))
                (e.tsMicros, e.event_id)
              else (acc.first_ts, acc.first_event_id)
            FirstSeen(better._1, better._2, acc.n + 1)
          }
          state.update(next)
          FirstOut(uid, etype, next.first_ts, next.first_event_id, next.n)
      }
    runToTable(spark, folded.toDF(), OutputMode.Update())
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("first_ts_micros")).cast(TimestampNTZType).as("first_ts"),
        col("first_event_id"), col("n_events"))
  }

  private val qs3Sql =
    """SELECT user_id, event_type,
      |  CAST(min(ts) AS TIMESTAMP) AS first_ts,
      |  arg_min(event_id, ts) AS first_event_id,
      |  count(*) AS n_events
      |FROM events GROUP BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- QS4
  /** Watermark + append mode + dropDuplicatesWithinWatermark: the
    * late-data/duplicate path, HASH-GATED since r7 (formerly rows-only).
    * Two changes closed the gate: (1) the stream now doubles every event
    * map-side (qs15's at-least-once retransmit simulation, same event
    * time on both copies) so the dedup operator is NON-VACUOUS — without
    * injected duplicates the source has unique event_ids and the dedup
    * never fires; (2) the emission set is derived exactly under the
    * availableNow drain (the qs1a/qs13 watermark trick): duplicates share
    * their timestamp so dedup-to-one is total within the watermark, the
    * time-ordered file waves mean no event arrives after its window
    * finalizes, and append emits precisely the windows with
    * `window_end <= final watermark` with their exact distinct counts —
    * which is what the oracle replays from the batch table. */
  private def qs4(spark: SparkSession, dir: String): DataFrame = {
    val windowed = eventsStream(spark, dir, nFiles = 3)
      // at-least-once simulation: every event arrives twice in its batch
      .withColumn("copy", explode(array(lit(1), lit(2))))
      .drop("copy")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(spark, windowed, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), col("n"))
  }

  private val qs4Sql =
    s"""WITH agg AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       |         CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |         event_type, count(DISTINCT event_id) AS n
       |  FROM events GROUP BY 1, 2, 3)
       |SELECT window_start, event_type, n FROM agg WHERE window_end <= $wmSql""".stripMargin

  // ---------------------------------------------------------------- QS5
  /** Stream-static join: the event stream joins the static customer
    * dimension (broadcast by Catalyst — the static side is planned per
    * micro-batch), then aggregates per market segment in complete mode.
    * Arrival-order-free → exact batch oracle. */
  private def qs5(spark: SparkSession, dir: String): DataFrame = {
    val customers = graft.operators.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventsStream(spark, dir)
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("total"))
    runToTable(spark, joined, OutputMode.Complete())
      .select(col("c_mktsegment"), col("event_type"), col("n"),
        round(col("total").cast(DoubleType), 2).as("total"))
  }

  private val qs5Sql =
    """SELECT c_mktsegment, event_type, count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type""".stripMargin

  // ---------------------------------------------------------------- QS6
  /** STREAM-STREAM interval join (click→purchase attribution): two event
    * streams join on user with the purchase inside [click, click+15 min].
    * Watermarks on BOTH sides plus the time-range condition are what let
    * Spark bound the join state (old clicks age out instead of
    * accumulating forever — the property that matters when the streams
    * never end). Inner join in append mode; arrival-order-free → exact
    * batch oracle. */
  private def qs6(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 15 MINUTES"))
    runToTable(spark, joined, OutputMode.Append())
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"),
        col("purchase_ts").cast(TimestampNTZType).as("purchase_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
  }

  // --------------------------------------------------------------- QS13
  /** STREAM-STREAM LEFT OUTER join — qs6's attribution with the
    * unattributed clicks KEPT: a click with no purchase in its 15-minute
    * window emits null-extended exactly when the watermark passes the
    * window's end (state eviction = emission; Spark's availableNow final
    * no-data batch advances the watermark to its terminal value, flushing
    * the tail). This is the capability inner joins don't exercise: bounded
    * state AND completeness. The oracle is exact because the terminal
    * watermark is derivable — min(max click_ts, max purchase_ts) − 30 min —
    * so "which unmatched clicks have expired" is a pure batch predicate:
    * matched rows always emit; an unmatched click emits iff
    * click_ts + 15 min < terminal watermark. */
  private def qs13(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 15 MINUTES"),
      "left_outer")
    runToTable(spark, joined, OutputMode.Append())
      .select(col("click_id"), col("user_id"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"),
        col("purchase_id"),
        col("purchase_ts").cast(TimestampNTZType).as("purchase_ts"),
        col("purchase_id").isNotNull.as("attributed"))
  }

  private val qs13Sql =
    """WITH c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
      |      FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(click_ts) FROM c), (SELECT max(purchase_ts) FROM p))
      |         - INTERVAL 30 MINUTE AS w),
      |matched AS (
      |  SELECT c.click_id, c.user_id, c.click_ts, p.purchase_id, p.purchase_ts
      |  FROM c JOIN p ON c.user_id = p.user_id
      |    AND p.purchase_ts >= c.click_ts
      |    AND p.purchase_ts <= c.click_ts + INTERVAL 15 MINUTE),
      |expired_unmatched AS (
      |  SELECT c.click_id, c.user_id, c.click_ts,
      |    CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS TIMESTAMP) AS purchase_ts
      |  FROM c
      |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
      |    AND p.purchase_ts >= c.click_ts
      |    AND p.purchase_ts <= c.click_ts + INTERVAL 15 MINUTE)
      |    AND c.click_ts + INTERVAL 15 MINUTE < (SELECT w FROM wm))
      |SELECT click_id, user_id, click_ts, purchase_id, purchase_ts,
      |  purchase_id IS NOT NULL AS attributed
      |FROM (SELECT * FROM matched UNION ALL SELECT * FROM expired_unmatched) t""".stripMargin

  private val qs6Sql =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  date_diff('microsecond', CAST(c.ts AS TIMESTAMP), CAST(p.ts AS TIMESTAMP)) AS lag_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 15 MINUTE""".stripMargin

  // ---------------------------------------------------------------- QS7
  /** Streaming DEDUP-ON-INGEST: the streaming twin of x1 — documents arrive
    * over three micro-batches (file splits consumed one per trigger) and the
    * exact-dedup state (per content hash: min doc_id + copy count)
    * accumulates across batches in the aggregation state store. This is the
    * production shape for corpus construction: dedup decided AT INGEST, not
    * in a nightly batch over the full corpus. The content hash is computed
    * BEFORE the shuffle, so state keys are 64 hex chars, never document
    * text. Complete-mode aggregation is arrival-order-free → exact batch
    * oracle (same SQL family as x1). */
  private val docsRawSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Three deterministic arrival waves of the documents table (hash-split,
    * not modulo, so waves mix duplicates — the state store has real
    * cross-batch work to do). Memoized per dir like [[sourceCache]]. */
  /** Bench instrument hook (r12, r11 verdict item 5): make streaming
    * timings pay only their own query. Forces every memoized wave
    * directory to materialize (building each stream frame runs the
    * getOrElseUpdate write) and drains one tiny stateful query so the
    * state-store provider, streaming listeners, and memory-sink machinery
    * are JVM-warm before the first timed qs rep — without this, rep 1 of
    * whichever qs query ran first in a bench paid another family's
    * source build on top of its own time, and the resulting micro-batch
    * jitter forced repeated window triage across rounds. */
  private[graft] def prewarmStreaming(spark: SparkSession, dir: String): Unit = {
    eventsStream(spark, dir)
    eventsStream(spark, dir, nFiles = 3)
    embStream(spark, dir)
    docsStream(spark, dir)
    joinCdcStream(spark, dir)
    ordersWaves(spark, dir)
    runToTable(spark, joinViewKeyState(joinCdcStream(spark, dir)),
      OutputMode.Complete()).count()
    ()
  }

  private val docWaveCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def docsWaves(spark: SparkSession, dir: String): String =
    docWaveCache.getOrElseUpdate(dir, {
      val src = graft.util.TempDirs.create("graft-stream-docs")
      val docs = graft.operators.Tables(spark, dir, "documents")
      for (i <- 0 until 3) {
        docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
          .coalesce(1).write.parquet(src.resolve(s"wave-$i").toString)
        Thread.sleep(5) // file mtime orders the waves
      }
      src.toString
    })

  private def docsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docsRawSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(docsWaves(spark, dir))

  private def qs7(spark: SparkSession, dir: String): DataFrame = {
    val deduped = docsStream(spark, dir)
      .select(sha2(col("text"), 256).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    runToTable(spark, deduped, OutputMode.Complete())
  }

  private val qs7Sql =
    """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin

  // --------------------------------------------------------------- QS14
  /** Streaming STRATIFIED WEIGHTED RESERVOIR — x42's A-RES sampling as an
    * ingest-time operator: documents arrive over micro-batches, each
    * computes its content-addressed key map-side (md5-derived uniform,
    * weight = n_chars, rounded 8dp — identical to x42), and a
    * [[graft.functions.ReservoirK]] aggregation keeps AT MOST 20 entries
    * of state per language across batches. Because the reservoir merge is
    * associative/commutative under the exact key order, the final sample
    * equals the batch global-sort result EXACTLY — same oracle as x42 —
    * while state stays bounded at k·|strata| forever (the property that
    * lets "sample by quality at ingest" run unbounded at 100 TB; a
    * windowed top-k would need the whole corpus in state). */
  private def qs14(spark: SparkSession, dir: String): DataFrame = {
    val res = udaf(new graft.functions.ReservoirK(20))
    val keyed = docsStream(spark, dir)
      .withColumn("hv", conv(substring(md5(col("text")), 1, 12), 16, 10).cast(LongType))
      .withColumn("skey",
        round(log((col("hv") + 0.5) / lit(281474976710656.0)) / col("n_chars"), 8))
    val agged = keyed.groupBy(col("lang"))
      .agg(res(col("skey"), col("doc_id"), col("n_chars")).as("reservoir"))
    // explode on the drained table: the streaming plan stays one
    // complete-mode aggregation with bounded per-group state
    runToTable(spark, agged, OutputMode.Complete())
      .select(col("lang"), posexplode(col("reservoir")).as(Seq("pos", "e")))
      .select(col("lang"), col("e.doc_id").as("doc_id"), col("e.n_chars").as("n_chars"),
        col("e.skey").as("skey"), (col("pos") + 1).cast(IntegerType).as("rnk"))
  }

  /** Same oracle as x42 — the equality IS the contract. */
  private val qs14Sql =
    """WITH t AS (SELECT doc_id, lang, n_chars,
      |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS hv FROM documents),
      |k AS (SELECT doc_id, lang, n_chars,
      |    round(ln((hv + 0.5) / 281474976710656.0) / n_chars, 8) AS skey FROM t)
      |SELECT lang, doc_id, n_chars, skey,
      |  CAST(row_number() OVER (PARTITION BY lang ORDER BY skey DESC, doc_id) AS INT) AS rnk
      |FROM k QUALIFY rnk <= 20""".stripMargin

  // --------------------------------------------------------------- QS15
  /** Streaming RETRANSMIT DEDUP — exactly-once delivery from an
    * at-least-once source with BOUNDED state, the property qs7 cannot give
    * (its dedup state holds every content hash ever seen; this one's is
    * evicted by the watermark). The stream doubles every event map-side
    * (simulating at-least-once redelivery — both copies carry the SAME
    * event time, as retransmissions do), then
    * `dropDuplicatesWithinWatermark(event_id)` admits each event exactly
    * once: duplicates share their timestamp, so they always fall inside
    * the 10-minute watermark where the exactly-once guarantee is total,
    * while state for events older than the watermark is dropped — at
    * 100 TB/day the dedup store holds minutes, not the corpus. Append
    * emission happens on FIRST arrival (the watermark bounds state, not
    * latency). Oracle: the source table itself — every event delivered
    * exactly once is just `events`. */
  private def qs15(spark: SparkSession, dir: String): DataFrame = {
    val dedup = eventsStream(spark, dir, nFiles = 3)
      // at-least-once simulation: every event arrives twice in its batch
      .withColumn("copy", explode(array(lit(1), lit(2))))
      .drop("copy")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
    runToTable(spark, dedup, OutputMode.Append())
  }

  private val qs15Sql =
    """SELECT event_id, user_id, event_type FROM events""".stripMargin

  // --------------------------------------------------------------- QS17
  /** Streaming MODEL SCORING AT INGEST — x82's DSIR importance scoring
    * applied to arriving documents: the 10k-entry LM is trained ONCE from
    * the standing corpus (a batch pass, [[graft.operators.Queries
    * .dsirLlrTable]]) and pinned as a literal; every arriving document is
    * scored MAP-SIDE in the stream (fold over its hashed-bigram feature
    * ids — zero state, zero shuffles inside the stream) and gated on
    * score > 0 ("looks more target than raw"). This is the production
    * quality-gate shape: the model is a deploy-time artifact, ingest pays
    * O(tokens) per document, and the result is batch-exact because the
    * computation is stateless — the oracle recomputes LM + scores in one
    * batch SQL. */
  private def qs17(spark: SparkSession, dir: String): DataFrame = {
    val llr = graft.operators.Queries.dsirLlrTable(spark, dir)
    val llrLit = lit(llr)
    val scored = docsStream(spark, dir)
      .withColumn("fids", expr("graft_bigram_buckets(split(text, ' '), 10000)"))
      .select(col("doc_id"), col("lang"),
        aggregate(col("fids"), lit(0L),
          (acc, f) => acc + element_at(llrLit, f.cast("int") + 1)).as("score_nano"),
        size(col("fids")).cast(LongType).as("n_feats"))
      .withColumn("keep", col("score_nano") > 0L)
    runToTable(spark, scored, OutputMode.Append())
  }

  private val qs17Sql =
    """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
      |tf AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 8))::BIGINT % 10000 AS fid,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS i FROM d)
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
      |  FROM lm, tot)
      |SELECT t.doc_id, t.lang,
      |  CAST(sum(t.tf * l.llr_nano) AS BIGINT) AS score_nano,
      |  CAST(sum(t.tf) AS BIGINT) AS n_feats,
      |  CAST(sum(t.tf * l.llr_nano) AS BIGINT) > 0 AS keep
      |FROM tf t JOIN llr l ON t.fid = l.fid
      |GROUP BY t.doc_id, t.lang""".stripMargin

  // --------------------------------------------------------------- QS18
  /** Streaming DISTRIBUTION-DRIFT detection — the data-quality monitor a
    * production ingest runs continuously: per finalized event-time hour,
    * a PSI-style divergence of the hour's `value` histogram against the
    * standing corpus's baseline distribution. The baseline is trained
    * ONCE from the static table and PINNED AS LITERALS in the plan (the
    * qs17 deploy-time-model discipline) — the stream never joins it. The
    * per-window histogram rides the ONE windowed aggregation as 8
    * conditional sums (wide form — no second stateful operator, no
    * per-(window, bin) shuffle rows), and the divergence is a stateless
    * map over the finalized row. Exactness: bin = IEEE floor on
    * bit-identical doubles; shares are integer micros; each bin's
    * contribution is ONE IEEE expression nano-rounded (the x86
    * discipline), so the appended result is batch-exact. State at 100 TB:
    * one open hour × 9 longs per shuffle partition — constant. */
  private val driftBinExpr =
    "least(7, greatest(0, cast(floor(value / 15.0) as bigint)))"

  /** One bin's PSI-style contribution, integer-exact (r7, the x58/x63
    * recipe): p and q are integer micro-shares; the log difference is
    * quantized ONCE to int64 nanos (the only double ops are two ln's of
    * exact small integers — no association-order surface), and the term
    * (p−q)·lnΔ·1000 is then the exact integer rational
    * (p−q)·ld_nanos/10⁶ with half-up rounding. The product is ≥ 0 by
    * monotonicity of ln, so unsigned half-up is exact on both engines. */
  private def driftTerm(b: String, q: String, idiv: String): String = {
    val p = s"(($b * 1000000) $idiv n_events)"
    val ld = s"cast(round((ln($p + 1.0) - ln($q + 1.0)) * 1000000000) as bigint)"
    s"((2 * (($p - $q) * $ld) + 1000000) $idiv 2000000)"
  }

  private def qs18(spark: SparkSession, dir: String): DataFrame = {
    // pinned baseline: the standing corpus's value histogram, micro shares
    val base = graft.operators.Tables.events(spark, dir)
      .select(expr(driftBinExpr).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c")).collect()
    val tot = base.map(_.getLong(1)).sum
    val qm = Array.fill(8)(0L)
    base.foreach(r => qm(r.getLong(0).toInt) = r.getLong(1) * 1000000L / tot)
    val binSums = (0 until 8).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"b$i"))
    val windowed = eventsStream(spark, dir, nFiles = 3)
      .withColumn("bin", expr(driftBinExpr))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), binSums: _*)
    val drift = (0 until 8)
      .map(i => driftTerm(s"b$i", s"${qm(i)}L", "div")).mkString(" + ")
    runToTable(spark, windowed, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("n_events"), expr(drift).as("drift_nano"))
  }

  private val qs18Sql = {
    val binSql = "least(7, greatest(0, CAST(floor(value / 15.0) AS BIGINT)))"
    val qmCols = (0 until 8).map(i =>
      s"coalesce(CAST(sum(CASE WHEN bin = $i THEN qm END) AS BIGINT), 0) AS qm$i").mkString(",\n|  ")
    val bCols = (0 until 8).map(i =>
      s"CAST(sum(CASE WHEN $binSql = $i THEN 1 ELSE 0 END) AS BIGINT) AS b$i").mkString(",\n|    ")
    val drift = (0 until 8).map(i => driftTerm(s"b$i", s"qm$i", "//")).mkString(" + ")
    s"""WITH bc AS (SELECT $binSql AS bin, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |q AS (SELECT bin, CAST((c * 1000000) // (SELECT sum(c) FROM bc) AS BIGINT) AS qm FROM bc),
       |qw AS (SELECT $qmCols FROM q),
       |agg AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       |         CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |         CAST(count(*) AS BIGINT) AS n_events,
       |    $bCols
       |  FROM events GROUP BY 1, 2)
       |SELECT window_start, window_end, n_events,
       |  $drift AS drift_nano
       |FROM agg, qw WHERE window_end <= $wmSql""".stripMargin
  }

  // --------------------------------------------------------------- QS19
  /** STREAMING FUNNEL — q31's ordered sequential-pattern detection
    * (signup → click ≤ 48 h → purchase ≤ 48 h, each stage anchored at the
    * previous stage's FIRST qualifying event) as a continuously-running
    * per-user state machine: `flatMapGroupsWithState` holds each user's
    * funnel position (t1, t2, done) and emits ONE conversion row the
    * moment the purchase lands — the real-time variant of the analytics
    * query every growth dashboard batches nightly. Emissions are final by
    * construction (a conversion cannot un-happen), so append mode is
    * exact: the streamed conversion set equals the batch funnel's stage-3
    * users with their stage timestamps. Order: within a batch each user's
    * rows fold in (ts, event_id) order; the time-quantile file waves
    * guarantee cross-batch order (the qs12 argument). State is ≤ 17
    * bytes/user and MONOTONE (t1, t2 set once, then done) — at corpus
    * scale an EventTimeTimeout at each stage window's end would evict
    * users who can no longer convert; kept timeout-free here to mirror
    * qs12's |keys|-bounded contract. */
  case class FunnelEvt(user_id: Long, tsMicros: Long, event_id: Long, event_type: String)
  case class FunnelState(t1: Long, t2: Long, done: Boolean)
  case class FunnelConv(user_id: Long, t1_micros: Long, t2_micros: Long, t3_micros: Long)

  private val h48 = 48L * 3600 * 1000000 // micros

  /** The funnel state machine — shared verbatim by qs19 and the
    * checkpoint-recovery spec (the qs12/scd2Closed discipline: the
    * recovery test must resume THIS pipeline, not a copy). */
  private[graft] def funnelConversions(ev: Dataset[FunnelEvt]): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelConv](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.event_id))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, done = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelConv]
          for (r <- sorted if !st.done) {
            if (st.t1 < 0) {
              if (r.event_type == "signup") st = st.copy(t1 = r.tsMicros)
            } else if (st.t2 < 0) {
              if (r.event_type == "click" &&
                r.tsMicros > st.t1 && r.tsMicros <= st.t1 + h48)
                st = st.copy(t2 = r.tsMicros)
            } else if (r.event_type == "purchase" &&
              r.tsMicros > st.t2 && r.tsMicros <= st.t2 + h48) {
              out += FunnelConv(uid, st.t1, st.t2, r.tsMicros)
              st = st.copy(done = true)
            }
          }
          state.update(st)
          out.iterator
      }
      .toDF()
      .select(col("user_id"),
        timestamp_micros(col("t1_micros")).cast(TimestampNTZType).as("t1"),
        timestamp_micros(col("t2_micros")).cast(TimestampNTZType).as("t2"),
        timestamp_micros(col("t3_micros")).cast(TimestampNTZType).as("t3"))
  }

  private def qs19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir, nFiles = 3)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_id"), col("event_type"))
      .as[FunnelEvt]
    runToTable(spark, funnelConversions(ev), OutputMode.Append())
  }

  private val qs19Sql =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN s1 ON s1.user_id = e.user_id
      |  WHERE e.event_type = 'click'
      |    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 48 HOUR
      |  GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN s2 ON s2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 48 HOUR
      |  GROUP BY 1)
      |SELECT s3.user_id, CAST(s1.t1 AS TIMESTAMP) AS t1,
      |  CAST(s2.t2 AS TIMESTAMP) AS t2, CAST(s3.t3 AS TIMESTAMP) AS t3
      |FROM s3 JOIN s2 ON s2.user_id = s3.user_id
      |        JOIN s1 ON s1.user_id = s3.user_id""".stripMargin

  // --------------------------------------------------------------- QS20
  /** STREAMING TRENDING — the "top right now" dashboard row: per
    * finalized event-time hour, the most frequent event type with its
    * count and ppm share. The argmax rides the ONE windowed aggregation
    * as domain-pivoted conditional sums (event types are a bounded
    * domain — the qs18 wide-form discipline), so no second stateful
    * operator and no per-(window, type) shuffle rows exist anywhere;
    * the argmax itself is a stateless CASE chain over the finalized row
    * with a name-ascending tiebreak — total order, engine-independent.
    * State: one open hour × 6 longs per partition. */
  private val trendTypes = Seq("click", "error", "purchase", "signup", "view")

  private def qs20(spark: SparkSession, dir: String): DataFrame = {
    val typeSums = trendTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t"))
    val windowed = eventsStream(spark, dir, nFiles = 3)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), typeSums: _*)
    val topN = s"greatest(${trendTypes.map(t => s"c_$t").mkString(", ")})"
    val topType = trendTypes
      .map(t => s"WHEN c_$t = $topN THEN '$t'")
      .mkString("CASE ", " ", " END")
    runToTable(spark, windowed, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("n_events"),
        expr(topType).as("top_type"),
        expr(topN).as("top_n"),
        expr(s"($topN * 1000000) div n_events").as("top_share_ppm"))
  }

  private val qs20Sql = {
    val cSums = trendTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS c_$t")
      .mkString(",\n|         ")
    val topN = s"greatest(${trendTypes.map(t => s"c_$t").mkString(", ")})"
    val topType = trendTypes
      .map(t => s"WHEN c_$t = $topN THEN '$t'")
      .mkString("CASE ", " ", " END")
    s"""WITH agg AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       |         CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |         CAST(count(*) AS BIGINT) AS n_events,
       |         $cSums
       |  FROM events GROUP BY 1, 2)
       |SELECT window_start, window_end, n_events,
       |  $topType AS top_type, $topN AS top_n,
       |  ($topN * 1000000) // n_events AS top_share_ppm
       |FROM agg WHERE window_end <= $wmSql""".stripMargin
  }

  // --------------------------------------------------------------- QS21
  /** STREAMING INGEST QUOTA — admit only the FIRST 5 events per
    * (event_type, hour) and drop the rest at the door: the per-key rate
    * cap every ingest tier needs when one key floods (x33's source cap,
    * but enforced AS DATA ARRIVES with bounded state instead of a batch
    * rank over the accumulated corpus). The admission set rides a
    * mergeable [[graft.functions.FirstK]] aggregation inside a
    * watermarked tumbling-window groupBy: per open window the state is AT
    * MOST 5 entries — not the window's events — and the watermark evicts
    * it. Emission is APPEND-finalized (the qs1a contract: a window's
    * admitted set emits exactly once, when the watermark passes its end),
    * and because FirstK's merge is associative/commutative under the
    * total (ts, event_id) order, arrival order across micro-batches
    * cannot change the winners: the emitted set EQUALS the batch
    * row_number() ≤ 5 — the oracle replays exactly that. At 100 TB the
    * state is 5·|open windows × types| rows forever; the same shape caps
    * per-tenant/per-source ingest in any multi-tenant pipeline. */
  private def qs21(spark: SparkSession, dir: String): DataFrame = {
    val admit = udaf(new graft.functions.FirstK(5))
    val agged = eventsStream(spark, dir, nFiles = 3)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(admit(unix_micros(col("ts")), col("event_id"), col("user_id")).as("admitted"))
    runToTable(spark, agged, OutputMode.Append())
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), posexplode(col("admitted")).as(Seq("pos", "e")))
      .select(col("window_start"), col("event_type"),
        col("e.k2").as("event_id"), col("e.payload").as("user_id"),
        timestamp_micros(col("e.k1")).cast(TimestampNTZType).as("ts"),
        (col("pos") + 1).cast(IntegerType).as("admit_rank"))
  }

  private val qs21Sql =
    s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
       |             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start
       |           FROM events),
       |r AS (SELECT *, row_number() OVER (
       |        PARTITION BY event_type, window_start ORDER BY ts, event_id) AS rn
       |      FROM e)
       |SELECT window_start, event_type, event_id, user_id, ts,
       |  CAST(rn AS INT) AS admit_rank
       |FROM r WHERE rn <= 5
       |  AND window_start + INTERVAL 1 HOUR <= $wmSql""".stripMargin

  // --------------------------------------------------------------- QS22
  /** STREAMING LEADERBOARD — the "top sales this hour" dashboard row:
    * the 5 highest-value events per finalized hour, emitted once when
    * the watermark closes the window. Reuses [[graft.functions.FirstK]]
    * unchanged: FirstK is ordered admission under ANY total (long, long)
    * key — qs21 feeds it event time for a quota, this feeds it NEGATED
    * integer cents for a top-k by value (the unique event id still
    * breaks ties) — same ≤ k state per open window, same append-mode
    * finalization contract, same provable equality to the batch
    * row_number(). One Aggregator, two operators: the algebra, not the
    * key, is the primitive. */
  private def qs22(spark: SparkSession, dir: String): DataFrame = {
    val top = udaf(new graft.functions.FirstK(5))
    val agged = eventsStream(spark, dir, nFiles = 3)
      .filter(col("value").isNotNull) // FirstK keys are non-nullable longs
      .withWatermark("ts", "10 minutes")
      .withColumn("neg_cents", -expr("cast(round(value * 100, 0) as bigint)"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(top(col("neg_cents"), col("event_id"), col("user_id")).as("winners"))
    runToTable(spark, agged, OutputMode.Append())
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        posexplode(col("winners")).as(Seq("pos", "e")))
      .select(col("window_start"),
        col("e.k2").as("event_id"), col("e.payload").as("user_id"),
        (-col("e.k1")).as("value_cents"),
        (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  private val qs22Sql =
    s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       |             CAST(round(value * 100) AS BIGINT) AS cents,
       |             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start
       |           FROM events WHERE value IS NOT NULL),
       |r AS (SELECT *, row_number() OVER (
       |        PARTITION BY window_start ORDER BY cents DESC, event_id) AS rnk
       |      FROM e)
       |SELECT window_start, event_id, user_id, cents AS value_cents,
       |  CAST(rnk AS INT) AS rank
       |FROM r WHERE rnk <= 5
       |  AND window_start + INTERVAL 1 HOUR <= $wmSql""".stripMargin

  // --------------------------------------------------------------- QS23
  /** STREAMING K-ANONYMITY RELEASE GATE (r7) — x116's privacy audit run
    * continuously: per finalized event-time hour, treat
    * (event_type, value-bin) as the quasi-identifier and emit the
    * window's class count, MINIMUM class size, and the k=5 release flag
    * — the gate a privacy-budgeted real-time export checks before
    * shipping an hour of analytics. Shape: the qs18/qs20 WIDE-FORM
    * discipline — the 5×8 QI grid rides the ONE windowed aggregation as
    * 40 conditional sums (no second stateful operator, no per-(window,
    * class) shuffle rows), and min/count over present classes are a
    * stateless expression over the finalized row (absent classes don't
    * count: an empty class re-identifies nobody). State at 100 TB: one
    * open hour × 41 longs per shuffle partition — constant; a wider QI
    * domain turns the wide form back into the chained-agg shape (qs16)
    * at |classes|-bounded state. Append emission is exact under the
    * availableNow drain (the qs1a watermark derivation), so the oracle
    * replays the batch QI histogram on finalized windows only. */
  private def qs23(spark: SparkSession, dir: String): DataFrame = {
    val names = for (t <- trendTypes; b <- 0 until 8) yield s"c_${t}_$b"
    val cells = for (t <- trendTypes; b <- 0 until 8)
      yield sum(when(col("event_type") === t && col("bin") === b, 1L).otherwise(0L))
        .as(s"c_${t}_$b")
    val windowed = eventsStream(spark, dir, nFiles = 3)
      .filter(col("value").isNotNull)
      .withColumn("bin", expr(driftBinExpr))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), cells: _*)
    val minCls = s"least(${names.map(n =>
      s"case when $n = 0 then 9223372036854775807L else $n end").mkString(", ")})"
    val nCls = names.map(n => s"case when $n > 0 then 1 else 0 end").mkString(" + ")
    runToTable(spark, windowed, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("n_events"),
        expr(s"cast(($nCls) as bigint)").as("n_classes"),
        expr(minCls).as("min_class_size"),
        expr(s"$minCls >= 5").as("k5_ok"))
  }

  private val qs23Sql =
    s"""WITH e AS (SELECT
       |    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       |    CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |    event_type,
       |    least(7, greatest(0, CAST(floor(value / 15.0) AS BIGINT))) AS bin
       |  FROM events WHERE value IS NOT NULL),
       |cls AS (SELECT window_start, window_end, event_type, bin,
       |          CAST(count(*) AS BIGINT) AS cs
       |        FROM e GROUP BY 1, 2, 3, 4)
       |SELECT window_start, window_end,
       |  CAST(sum(cs) AS BIGINT) AS n_events,
       |  CAST(count(*) AS BIGINT) AS n_classes,
       |  CAST(min(cs) AS BIGINT) AS min_class_size,
       |  min(cs) >= 5 AS k5_ok
       |FROM cls
       |WHERE window_end <= $wmSql
       |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- QS24
  /** STREAMING DATA-CONTRACT GATE (r7) — the row-local half of x120's
    * expectation battery run continuously: per finalized event-time
    * hour, each streamable expectation (value present, value in its
    * contracted (0, 500] domain, event_type in the declared set,
    * user_id present) reports its violation count and the window's
    * overall pass flag — the per-batch contract report an ingest SLA
    * dashboard consumes, emitted once when the watermark closes the
    * hour. Only ROW-LOCAL expectations stream here (they ride the ONE
    * windowed aggregation as conditional sums, the qs18 wide-form
    * discipline — 5 longs of state per open hour); the corpus-state
    * expectations (key uniqueness, FK integrity) stay batch in x120,
    * which is the honest split — streaming them exactly would need
    * unbounded state. Oracle: the batch battery over finalized windows
    * (the qs1a watermark derivation). */
  private def qs24(spark: SparkSession, dir: String): DataFrame = {
    val types = trendTypes.map(t => s"'$t'").mkString(", ")
    val windowed = eventsStream(spark, dir, nFiles = 3)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("v_value_null"),
        sum(when(col("value").isNotNull &&
          (col("value") <= 0.0 || col("value") > 500.0), 1L).otherwise(0L))
          .as("v_value_domain"),
        sum(when(!expr(s"event_type in ($types)"), 1L).otherwise(0L)).as("v_type_set"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("v_user_null"))
    runToTable(spark, windowed, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("n_events"), col("v_value_null"), col("v_value_domain"),
        col("v_type_set"), col("v_user_null"),
        (col("v_value_null") + col("v_value_domain") + col("v_type_set") +
          col("v_user_null") === 0L).as("contract_pass"))
  }

  private val qs24Sql = {
    val types = trendTypes.map(t => s"'$t'").mkString(", ")
    s"""WITH agg AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       |         CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |         CAST(count(*) AS BIGINT) AS n_events,
       |         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_value_null,
       |         CAST(sum(CASE WHEN value IS NOT NULL AND (value <= 0.0 OR value > 500.0)
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS v_value_domain,
       |         CAST(sum(CASE WHEN event_type NOT IN ($types) THEN 1 ELSE 0 END) AS BIGINT)
       |           AS v_type_set,
       |         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_user_null
       |  FROM events GROUP BY 1, 2)
       |SELECT *, v_value_null + v_value_domain + v_type_set + v_user_null = 0
       |  AS contract_pass
       |FROM agg WHERE window_end <= $wmSql""".stripMargin
  }

  // --------------------------------------------------------------- QS25
  /** STREAMING HEAVY HITTERS — x57's Misra–Gries sketch maintained
    * CONTINUOUSLY over arriving documents: tokens feed ONE global
    * stateful aggregation whose state is the k-entry mergeable MG
    * summary (≤ 30 counters per state row regardless of corpus size —
    * the SKETCH, not the token distribution, bounds the state store; a
    * token-level exact-count state would be vocabulary-sized). On drain,
    * the summary's candidate set — which provably contains EVERY token
    * with frequency > n/(k+1) under ANY merge order (the mergeable-
    * summaries guarantee: cross-batch buffer merges only tighten the
    * deficit bound) — is exact-recounted in one batch pass and
    * thresholded, so the emitted rows are arrival-order-free and
    * hash-equal to batch x57 even though the intermediate sketch
    * contents are not. At 100 TB: the stream side shuffles k-entry maps
    * (one per partition per batch), the recount is x57's map-side
    * candidate filter. Oracle IS x57's (exact counts over the threshold). */
  /** qs25's stream + aggregation, exposed for the recovery spec: a
    * documents stream over an arbitrary wave dir, and the global
    * Misra–Gries token aggregation whose ≤ k-entry buffer IS the
    * streaming state (recoverable from checkpoint like any agg state). */
  private[graft] def docsStreamFrom(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(docsRawSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

  private[graft] def mgTokenSummary(docs: DataFrame, k: Int = 30): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(k))
    docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy().agg(mg(col("token")).as("mg"))
  }

  private def qs25(spark: SparkSession, dir: String): DataFrame = {
    val k = 30
    val agged = mgTokenSummary(docsStream(spark, dir), k)
    val summary = runToTable(spark, agged, OutputMode.Complete())
      .head().getAs[scala.collection.Map[String, Long]]("mg")
    val candidates = summary.keys.toSeq.sorted
    val toksDf = graft.operators.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val n = toksDf.count()
    toksDf.filter(col("token").isInCollection(candidates))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > lit(n))
      .withColumn("n_tokens", lit(n))
  }

  private val qs25Sql =
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
      |SELECT token, CAST(count(*) AS BIGINT) AS cnt, (SELECT n FROM n) AS n_tokens
      |FROM t GROUP BY token HAVING count(*) * 31 > (SELECT n FROM n)""".stripMargin

  // --------------------------------------------------------------- QS16
  /** Streaming EXACT UNIQUE VISITORS per hour — the metric a naive
    * streaming `count(distinct)` cannot give you (unsupported on
    * streams), expressed as CHAINED STATEFUL OPERATORS: a watermarked
    * per-(hour, user) dedup feeding a watermarked tumbling-window count.
    * This is the multi-stateful-operator pipeline shape (dedup state +
    * window state in ONE query, each evicted by the same watermark) that
    * Spark supports since 3.4 and every funnel/reach dashboard needs.
    * The dedup delay is 70 minutes — one full window plus the late
    * allowance — so any two same-(hour, user) events are necessarily
    * within the guarantee interval and the dedup is TOTAL: the appended
    * result is exactly `count(distinct user)` per finalized hour.
    * State: dedup keys live ≤ 70 min of event time, window state one
    * open hour per shuffle partition — bounded forever at any volume. */
  private def qs16(spark: SparkSession, dir: String): DataFrame = {
    val uniq = eventsStream(spark, dir, nFiles = 3)
      .withWatermark("ts", "70 minutes")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .select(col("ts"), col("hour_start"), col("user_id"))
      .dropDuplicatesWithinWatermark("hour_start", "user_id")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("unique_users"))
    runToTable(spark, uniq, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("unique_users"))
  }

  private val qs16WmSql =
    """(SELECT make_timestamp((epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) * 1000)
      |   - INTERVAL 70 MINUTE FROM events)""".stripMargin

  private val qs16Sql =
    s"""WITH agg AS (
       |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
       |         CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |         count(DISTINCT user_id) AS unique_users
       |  FROM events GROUP BY 1, 2)
       |SELECT * FROM agg WHERE window_end <= $qs16WmSql""".stripMargin

  // --------------------------------------------------------------- QS10
  /** Streaming CHUNK-dedup-on-ingest — x35's chunking composed with qs7's
    * cross-batch dedup state: documents arrive over three micro-batches,
    * each batch explodes into 64-token/48-stride chunks MAP-SIDE (row
    * expansion inside the stream, before any state), and the aggregation
    * state accumulates per chunk hash (first-owner doc + copy count)
    * across batches. This is the streaming RAG-ingest shape: chunk
    * identity decided AT INGEST, duplicate chunks never reach the
    * embedding stage twice. State keys are 64-hex chunk hashes, never
    * chunk text. Complete-mode aggregation is arrival-order-free → exact
    * batch oracle (x35's chunk CTE + one GROUP BY). */
  private def qs10(spark: SparkSession, dir: String): DataFrame = {
    val chunks = docsStream(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("s", explode(expr("sequence(0, size(tk) - 1, 48)")))
      .select(
        sha2(array_join(slice(col("tk"), col("s") + 1, lit(64)), " "), 256).as("chunk_hash"),
        col("doc_id"))
      .groupBy(col("chunk_hash"))
      .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("n_copies"))
    runToTable(spark, chunks, OutputMode.Complete())
  }

  private val qs10Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 48)) AS s FROM d)
      |SELECT sha256(array_to_string(tk[s+1 : least(s+64, len(tk))], ' ')) AS chunk_hash,
      |  min(doc_id) AS first_doc, count(*) AS n_copies
      |FROM c GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- QS11
  /** Streaming CLEAN-ON-INGEST — the stateless half of the ingest pipeline
    * (qs7/qs10 are its stateful dedup half): every arriving document is PII-
    * scrubbed (x22's passes) and quality-scored (x8's rules, over the
    * SCRUBBED text), and only passing docs reach the sink. No aggregation,
    * no watermark, NO STATE AT ALL — pure map-side transforms in append
    * mode, so at any scale this runs with zero state-store cost and
    * per-batch latency equal to the scan. Exact oracle: stateless row
    * transforms are trivially arrival-order-free (the batch SQL is the
    * same scrub→score→filter over the same files). */
  private def qs11(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val stopArr = Seq("the", "a", "of", "and", "to", "in", "is", "it")
      .map(s => s"'$s'").mkString("array(", ", ", ")")
    val cleaned = docsStream(spark, dir)
      .withColumn("injected",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com id 1234567890")))
          .otherwise(col("text")))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("injected"), emailPat, "<EMAIL>"),
          "\\d{6,}", "<NUM>"))
      .withColumn("pii_found", col("scrubbed") =!= col("injected"))
      .withColumn("tk", split(col("scrubbed"), " "))
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("n_unique", size(array_distinct(col("tk"))))
      .withColumn("n_stop", expr(s"graft_count_in(tk, $stopArr)"))
      .withColumn("quality_score",
        col("n_unique").cast(DoubleType) / col("n_tokens") * 0.5 +
          (lit(1.0) - col("n_stop").cast(DoubleType) / col("n_tokens")) * 0.5)
      .filter(col("quality_score") >= 0.5 && col("n_tokens") >= 20)
      .select(col("doc_id"), col("pii_found"),
        sha2(col("scrubbed"), 256).as("scrub_hash"),
        col("n_tokens"), col("quality_score"))
    runToTable(spark, cleaned, OutputMode.Append())
  }

  private val qs11Sql =
    """WITH i AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com id 1234567890'
      |      ELSE text END AS injected
      |  FROM documents),
      |s AS (SELECT doc_id, injected,
      |    regexp_replace(regexp_replace(injected,
      |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |      '\d{6,}', '<NUM>', 'g') AS scrubbed
      |  FROM i),
      |t AS (SELECT doc_id, injected, scrubbed, string_split(scrubbed, ' ') AS tk FROM s),
      |m AS (SELECT doc_id, injected, scrubbed,
      |    CAST(len(tk) AS INT) AS n_tokens,
      |    CAST(len(list_distinct(tk)) AS INT) AS n_unique,
      |    CAST(len(list_filter(tk, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS INT) AS n_stop
      |  FROM t)
      |SELECT doc_id, scrubbed <> injected AS pii_found, sha256(scrubbed) AS scrub_hash,
      |  n_tokens,
      |  CAST(n_unique AS DOUBLE) / n_tokens * 0.5 + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 AS quality_score
      |FROM m
      |WHERE (CAST(n_unique AS DOUBLE) / n_tokens * 0.5 + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) >= 0.5
      |  AND n_tokens >= 20""".stripMargin

  // --------------------------------------------------------------- QS12
  /** STREAMING SCD2 / CDC MERGE — x37's type-2 dimension build as a
    * continuously-maintained state machine: orders arrive in three
    * time-ordered waves, `flatMapGroupsWithState` keeps ONE open version
    * per customer (version, priority, valid_from, n_orders), and every
    * arriving priority CHANGE emits the closed version downstream in
    * append mode. This is the streaming upsert shape warehouses run MERGE
    * for — except versions are immutable emissions and state is exactly
    * |keys| rows, watermark-free. Within a batch each group's rows fold in
    * (date, orderkey) order, and the time-split waves guarantee cross-batch
    * order, so emissions equal the batch gaps-and-islands exactly: the
    * oracle is x37's SQL restricted to CLOSED versions (open versions live
    * in state, awaiting their closing change — the honest CDC contract). */
  private val ordersRawSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  /** Three arrival waves split on FIXED date bounds (no quantile job): a
    * change run never straddles a wave boundary mid-date, so cross-batch
    * fold order is the batch order. Memoized per dir like [[sourceCache]]. */
  private val orderWaveCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ordersWaves(spark: SparkSession, dir: String): String =
    orderWaveCache.getOrElseUpdate(dir, {
      val src = graft.util.TempDirs.create("graft-stream-orders")
      val o = graft.operators.Tables(spark, dir, "orders")
      val cuts = Seq(
        col("o_orderdate") < lit("1996-01-01").cast(TimestampNTZType),
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampNTZType) &&
          col("o_orderdate") < lit("1997-06-01").cast(TimestampNTZType),
        col("o_orderdate") >= lit("1997-06-01").cast(TimestampNTZType))
      for ((c, i) <- cuts.zipWithIndex) {
        o.filter(c).coalesce(1).write.parquet(src.resolve(s"wave-$i").toString)
        Thread.sleep(5) // file mtime orders the waves
      }
      src.toString
    })

  // public: Spark codegen instantiates these from generated classes
  case class OrdRow(o_custkey: Long, o_orderkey: Long, dateMicros: Long, priority: String)
  case class Scd2State(version: Int, priority: String, validFromMicros: Long, n: Long)
  case class Scd2Closed(custkey: Long, version: Int, priority: String,
      valid_from_micros: Long, valid_to_micros: Long, n_orders: Long)

  /** The order-change stream over a wave DIRECTORY — split out of qs12 so
    * the checkpoint-recovery spec can point the same pipeline at its own
    * incrementally-growing source dir. */
  private[graft] def ordersStreamFrom(spark: SparkSession, srcDir: String): Dataset[OrdRow] = {
    import spark.implicits._
    spark.readStream.schema(ordersRawSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("dateMicros"),
        col("o_orderpriority").as("priority"))
      .as[OrdRow]
  }

  /** The SCD2 state machine — closed versions only, append-mode emission.
    * Shared verbatim by qs12 and the restart/recovery spec: the WHOLE
    * point of the recovery test is that this exact pipeline resumes from
    * its checkpointed GroupState. */
  private[graft] def scd2Closed(ord: Dataset[OrdRow]): DataFrame = {
    import ord.sparkSession.implicits._
    ord.groupByKey(_.o_custkey)
      .flatMapGroupsWithState[Scd2State, Scd2Closed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (ck, rows, state: GroupState[Scd2State]) =>
          // arrival order within the batch is arbitrary; the fold order is
          // the DATA's order (date, orderkey) — same tiebreak as x37
          val sorted = rows.toSeq.sortBy(r => (r.dateMicros, r.o_orderkey))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          var st = state.getOption.orNull
          for (r <- sorted) {
            if (st == null) st = Scd2State(1, r.priority, r.dateMicros, 1L)
            else if (r.priority == st.priority) st = st.copy(n = st.n + 1)
            else {
              out += Scd2Closed(ck, st.version, st.priority, st.validFromMicros, r.dateMicros, st.n)
              st = Scd2State(st.version + 1, r.priority, r.dateMicros, 1L)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
      .toDF()
      .select(col("custkey"), col("version"), col("priority"),
        timestamp_micros(col("valid_from_micros")).cast(TimestampNTZType).as("valid_from"),
        timestamp_micros(col("valid_to_micros")).cast(TimestampNTZType).as("valid_to"),
        col("n_orders"))
  }

  private def qs12(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      scd2Closed(ordersStreamFrom(spark, ordersWaves(spark, dir))),
      OutputMode.Append())

  private val qs12Sql =
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
      |SELECT custkey, version, priority, valid_from, valid_to, n_orders FROM (
      |  SELECT *, lead(valid_from) OVER (PARTITION BY custkey ORDER BY version) AS valid_to
      |  FROM runs) t
      |WHERE valid_to IS NOT NULL""".stripMargin

  // ---------------------------------------------------------------- QS8
  /** SLIDING 1-hour windows every 30 minutes (complete mode): each event
    * lands in exactly two overlapping windows. Spark aligns sliding windows
    * to the epoch, so the oracle enumerates the same two epoch-aligned
    * 30-minute grid starts per event and replays the aggregation. */
  private def qs8(spark: SparkSession, dir: String): DataFrame = {
    val windowed = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("total"))
    runToTable(spark, windowed, OutputMode.Complete())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("event_type"), col("n"),
        round(col("total").cast(DoubleType), 2).as("total"))
  }

  private val qs8Sql =
    """WITH e AS (SELECT event_type, value,
      |    make_timestamp((epoch_ms(CAST(ts AS TIMESTAMP)) // 1800000) * 1800000000) AS g
      |  FROM events),
      |w AS (SELECT event_type, value, g AS ws FROM e
      |      UNION ALL
      |      SELECT event_type, value, g - INTERVAL 30 MINUTE FROM e)
      |SELECT CAST(ws AS TIMESTAMP) AS window_start,
      |       CAST(ws + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
      |       event_type, count(*) AS n,
      |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
      |FROM w GROUP BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- QS8A
  /** APPEND-mode twin of qs8: each sliding window emits once when the
    * watermark passes its end — same derivable contract as qs1a, over the
    * epoch-aligned 30-minute grid. */
  private def qs8a(spark: SparkSession, dir: String): DataFrame = {
    val windowed = eventsStream(spark, dir, nFiles = 3)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("total"))
    runToTable(spark, windowed, OutputMode.Append())
      .select(
        col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("event_type"), col("n"),
        round(col("total").cast(DoubleType), 2).as("total"))
  }

  private val qs8aSql =
    s"""WITH e AS (SELECT event_type, value,
       |    make_timestamp((epoch_ms(CAST(ts AS TIMESTAMP)) // 1800000) * 1800000000) AS g
       |  FROM events),
       |w AS (SELECT event_type, value, g AS ws FROM e
       |      UNION ALL
       |      SELECT event_type, value, g - INTERVAL 30 MINUTE FROM e),
       |agg AS (
       |  SELECT CAST(ws AS TIMESTAMP) AS window_start,
       |         CAST(ws + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       |         event_type, count(*) AS n,
       |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
       |  FROM w GROUP BY 1, 2, 3)
       |SELECT * FROM agg WHERE window_end <= $wmSql""".stripMargin

  // ---------------------------------------------------------------- QS9
  /** Checkpointed INCREMENTAL INGESTION — the streaming analog of the
    * executor's skip-if-built memoization: run 1 ingests waves 0-1 into a
    * parquet sink through a durable checkpoint; a third wave arrives; run 2
    * restarts the SAME query from the checkpoint and must process ONLY the
    * new wave (the query self-checks this via its progress counters and
    * fails loudly if the checkpoint re-read old files). Map-side stateless
    * transform → the final sink contents equal the batch oracle regardless
    * of batch boundaries. This is the production auto-ingest shape: each
    * periodic run pays for new data only, exactly-once. */
  private def qs9(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.TempDirs.create("graft-stream-ingest")
    val src = root.resolve("src"); Files.createDirectories(src)
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    // ns-LONG ts in the wave files, whichever nanos read behavior this
    // runtime has — the explicit stream schema below expects LongType
    val ev = graft.operators.Tables.eventsRawNs(spark, dir)
    def wave(i: Int): Unit = {
      ev.filter(pmod(xxhash64(col("event_id")), lit(3)) === i)
        .coalesce(1).write.parquet(src.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    // drain confs as in runToTable: with artifact isolation on, every run's
    // cloned session would recompile the ingest's generated classes
    def runIngest(): Long = withDrainConfs(spark) {
      val q = spark.readStream.schema(eventsRawSchema)
        .option("recursiveFileLookup", "true")
        .parquet(src.toString)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // sum over the run's batches (AvailableNow may append a zero-input
      // commit batch, so lastProgress alone under-counts)
      q.recentProgress.map(_.numInputRows).sum
    }
    wave(0); wave(1)
    runIngest()
    wave(2)
    val wave2Rows = spark.read.parquet(src.resolve("wave-2").toString).count()
    val run2Input = runIngest()
    // the checkpoint contract: run 2 saw exactly the new wave's rows
    require(run2Input == wave2Rows,
      s"checkpoint failed to skip ingested waves: run 2 read $run2Input rows, wave 2 has $wave2Rows")
    spark.read.parquet(out)
  }

  private val qs9Sql =
    """SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'""".stripMargin

  val all: Seq[Q] = Seq(
    Q("qs1_stream_tumbling", qs1, Some(qs1Sql), "tumbling windows + watermark (complete mode)"),
    Q("qs1a_stream_tumbling_append", qs1a, Some(qs1aSql),
      "append-mode tumbling windows: watermark-bounded state, exact emission oracle"),
    Q("qs2_stream_session", qs2, Some(qs2Sql), "session windows per user"),
    Q("qs2a_stream_session_append", qs2a, Some(qs2aSql),
      "append-mode session windows: emitted sessions are final (exact emission oracle)"),
    Q("qs3_stream_state", qs3, Some(qs3Sql), "mapGroupsWithState earliest-event fold"),
    Q("qs4_stream_late_append", qs4, Some(qs4Sql),
      "append + watermark + retransmit dedup, hash-gated on the finalized-window emission set"),
    Q("qs5_stream_static_join", qs5, Some(qs5Sql), "stream-static dimension join"),
    Q("qs6_stream_stream_join", qs6, Some(qs6Sql), "stream-stream interval join (watermark-bounded state)"),
    Q("qs7_stream_dedup_ingest", qs7, Some(qs7Sql), "streaming exact dedup-on-ingest (state across micro-batches)"),
    Q("qs8_stream_sliding", qs8, Some(qs8Sql), "sliding overlapping windows (epoch-aligned oracle replay)"),
    Q("qs8a_stream_sliding_append", qs8a, Some(qs8aSql),
      "append-mode sliding windows: per-window single emission (exact oracle)"),
    Q("qs9_stream_incremental_ingest", qs9, Some(qs9Sql),
      "checkpointed ingestion: restarted query pays for NEW files only (self-checked)"),
    Q("qs10_stream_chunk_ingest", qs10, Some(qs10Sql),
      "streaming chunk-dedup-on-ingest: map-side chunking + cross-batch chunk-hash state"),
    Q("qs11_stream_clean_ingest", qs11, Some(qs11Sql),
      "streaming clean-on-ingest: stateless PII scrub + quality gate in append mode"),
    Q("qs12_stream_scd2", qs12, Some(qs12Sql),
      "streaming SCD2/CDC merge: one open version per key in state, closed versions emitted append"),
    Q("qs13_stream_outer_join", qs13, Some(qs13Sql),
      "stream-stream LEFT OUTER interval join: null-extended emission at watermark expiry"),
    Q("qs14_stream_reservoir", qs14, Some(qs14Sql),
      "streaming stratified A-RES reservoir: bounded k-per-stratum state, exactly equal to batch x42"),
    Q("qs15_stream_retransmit_dedup", qs15, Some(qs15Sql),
      "exactly-once from at-least-once: dropDuplicatesWithinWatermark, state evicted past the watermark"),
    Q("qs16_stream_unique_visitors", qs16, Some(qs16Sql),
      "exact count(distinct user) per hour via chained stateful ops: watermarked dedup feeding the window agg"),
    Q("qs17_stream_dsir_score", qs17, Some(qs17Sql),
      "model scoring at ingest: the pinned DSIR LM scores arriving docs map-side, stateless and batch-exact"),
    Q("qs18_stream_drift", qs18, Some(qs18Sql),
      "streaming PSI-style drift per finalized hour vs the pinned baseline histogram: one windowed agg, nano-exact divergence"),
    Q("qs19_stream_funnel", qs19, Some(qs19Sql),
      "streaming funnel: per-user stage state machine emits conversions the moment the purchase lands, batch-funnel exact"),
    Q("qs20_stream_trending", qs20, Some(qs20Sql),
      "streaming trending: top event type per finalized hour via domain-pivoted sums, stateless argmax, one windowed agg"),
    Q("qs21_stream_quota_admit", qs21, Some(qs21Sql),
      "streaming ingest quota: first-5 events per (type, hour) via a mergeable bounded FirstK aggregation, append-finalized"),
    Q("qs22_stream_leaderboard", qs22, Some(qs22Sql),
      "streaming top-5-by-value per finalized hour: FirstK under the negated-cents order, same bounded-state contract"),
    Q("qs23_stream_k_anonymity", qs23, Some(qs23Sql),
      "streaming k-anonymity release gate: per finalized hour, QI-class count/min/k5 flag via the wide-form single stateful agg"),
    Q("qs24_stream_contract", qs24, Some(qs24Sql),
      "streaming data-contract gate: x120's row-local expectations per finalized hour as wide-form conditional sums + pass flag"),
    Q("qs25_stream_heavy_hitters", qs25, Some(qs25Sql),
      "streaming Misra-Gries heavy hitters: k-counter mergeable sketch state across arrival waves, exact recount on drain = batch x57"),
    Q("qs26_stream_target_encoding", qs26, Some(qs26Sql),
      "streaming leakage-safe target encoding: wide-form per-fold sums in ONE stateful agg, drain == x133's batch featurizer"),
    Q("qs27_stream_conformal", qs27, Some(qs27Sql),
      "streaming split-conformal admission gate: ppm-grid score histogram as bounded state, rank-arithmetic threshold on drain == batch gate"),
    Q("qs28_stream_rank_drift", qs28, Some(qs28Sql),
      "streaming Mann-Whitney drift monitor: (source, score) histogram state, the fully-integer x144 test on drain == batch"),
    Q("qs29_stream_bm25_stats", qs29, Some(qs29Sql),
      "streaming BM25 index-stats maintenance: 1-row wide state (N, sum dl, per-term df), drained serve == batch serve via the shared linear-idf path"),
    Q("qs30_stream_ivf_maintenance", qs30, Some(qs30Sql),
      "streaming IVF assignment maintenance: map-side assign vs the frozen k-row centroid literal, k-row wide state (count + dim quantized moment sums), drain hash-gated against the batch leg"),
    Q("qs31_stream_mixture", qs31, Some(qs31Sql),
      "streaming capped-mixture maintenance: |sources|-row token-count state, drained UniMax solve == batch x150 via the shared closed-form core"),
    Q("qs32_stream_contamination", qs32, Some(qs32Sql),
      "streaming decontamination gate: map-side shared-shingle count vs the 1-row benchmark set, |sources|-row state, integer 0.2 flag, drain == batch"),
    Q("qs33_stream_cdc_aggregate", qs33, Some(qs33Sql),
      "streaming CDC aggregate with retractions: map-side signed-weight expansion makes deletes a SUM, |event_types|-row state, drain == x121's maintained view == full rebuild"),
    Q("qs34_stream_join_view", qs34, Some(qs34Sql),
      "streaming join-view maintenance: per-custkey factorized state (each side's sufficient stats, dim-cardinality never fact-cardinality), drain-fold == q44's view == full join rebuild"),
    Q("qs35_stream_ips_eval", qs35, Some(qs35Sql),
      "streaming off-policy evaluation at ingest: x156's IPS/SNIPS refreshed continuously, map-side log replay, |sources|-row 6-long state, drain == batch estimator"),
    Q("qs36_stream_ab_test", qs36, Some(qs36Sql),
      "streaming A/B dashboard: x117's Welch moments as |event_types|-row 6-long state, drained into the same BigInt finisher, drain == batch t2/df/significance"),
    Q("qs37_stream_compaction", qs37, Some(qs37Sql),
      "streaming compaction-audit maintenance: map-side assign vs the frozen k-row centroid literal, k-row (codes, tombstones) state, drained x158 rebuild decision == batch recount == full rebuild"),
    Q("qs38_stream_fertility", qs38, Some(qs38Sql),
      "streaming tokenizer-fertility dashboard: x162's 5 commutative sums as |sources x langs|-row state, drained ratio finisher == batch x162 via the shared cores"),
    Q("qs39_stream_priority_sample", qs39, Some(qs39Sql),
      "streaming weighted priority sample: PriorityK keeps k=10 integer-keyed entries per source across waves, drain == batch x165 exactly (the oracle IS x165's SQL)"),
    Q("qs40_stream_dedup_compaction", qs40, Some(qs40Sql),
      "streaming dedup-index compaction audit: map-side sha-prefix shard counts, 256-row (postings, tombstones) state, drained x164 rebuild decision == batch recount via the shared cores"),
    Q("qs41_stream_operating_point", qs41, Some(qs41Sql),
      "streaming operating-point dashboard: frozen NB model served by the sorted-longmap kernel map-side, 5-row threshold state, drained precision/recall/kept-token curve == batch x175"),
    Q("qs42_stream_excision", qs42, Some(qs42Sql),
      "streaming excision dashboard: frozen benchmark literal + one-hash-pass shingle-audit kernel map-side, |sources|-row state, drained drop-vs-excise economics == batch x172"),
    Q("qs43_stream_novelty", qs43, Some(qs43Sql),
      "streaming novelty forecast: the shingle-incidence index as standing state (sentinel doc-species rides the one aggregation), drained Good-Turing/Chao dashboard == batch x177"))
}
