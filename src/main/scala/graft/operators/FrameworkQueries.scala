package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exec.LocalExecutor
import graft.graph.{Artifact, Graph, MemoryBackend, Producer, RehydratedSnapshot}
import graft.io.{Format, IO}
import graft.storage.{FileStorage, PathTemplate}
import graft.types.ArtiType._

/** SURVEY §2.3 Q13-Q16: the framework-semantics queries — each one runs a
  * real producer graph through the engine (snapshot → incremental executor →
  * backend) over the driver testdata, then returns the engine's output as
  * the query result. Q13/Q15/Q16 are SQL-expressible and oracle-checked;
  * Q14's build/skip accounting is engine-internal (rows-only).
  */
object FrameworkQueries {
  import Queries.Q
  import graft.types.SparkTypeSystem.{collectionOf, fromEncoder}

  private def tmp(): String = graft.util.TempDirs.create("graft-fw").toString

  // Row models: the case class IS the artifact schema, derived through the
  // product Encoder (F32 — the reference's python/pydantic adapter analog).
  final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.time.LocalDateTime, o_orderpriority: String)
  final case class OrderYearRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.time.LocalDateTime, o_orderpriority: String, y: Int)
  final case class OrderPartRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.time.LocalDateTime, o_orderpriority: String, i: Long)
  final case class DailyRow(day: java.time.LocalDate, spend: Double)
  final case class YearlyRow(y: Int, total: Double)
  final case class StatusPriceRow(o_orderstatus: String, o_totalprice: Double)
  final case class ByStatusRow(o_orderstatus: String, total: Double)
  final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class LangStatsRow(lang: String, n_docs: Long, total_chars: Long)

  /** q13_partitioned_spend: the reference's spend demo shape
    * (docs/examples/spend/demo.py) at testdata scale: orders → per-day
    * spend Collection → scalar total, built through the engine. */
  private def q13(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    val ordersType = collectionOf[OrderRow]("orders")
    val raw = Artifact(ordersType, Format.Parquet,
      FileStorage(PathTemplate(s"$dir/orders.parquet", Map.empty)))
    val daily = Artifact(collectionOf[DailyRow]("daily"),
      Format.Parquet, FileStorage(PathTemplate(s"$base/daily/{input_fingerprint}", Map.empty)))
    val total = Artifact(AFloat64(), Format.Parquet,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))

    val dailyAgg = Producer("daily_spend", build = (_, ins) => Seq(
      ins.head.groupBy(col("o_orderdate").cast(DateType).as("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend")).coalesce(1)))
    // the intermediate `spend` stays DECIMAL (exact, order-independent);
    // only the final driver-compared value becomes double + round
    val totalAgg = Producer("total_spend", build = (_, ins) => Seq(
      ins.head.agg(round(sum(col("spend")).cast(DoubleType), 2).as("total"),
        count(lit(1)).as("n_days")).coalesce(1)))

    val g = new Graph("spend")
      .add("orders", raw).add("daily", daily).add("total", total)
      .produce(dailyAgg, Seq("orders"), Seq("daily"))
      .produce(totalAgg, Seq("daily"), Seq("total"))
      .close()
    val backend = new MemoryBackend
    val (snap, _) = g.build(spark, backend)
    snap.read(spark, backend, "total")
  }

  private val q13Sql =
    """SELECT round(CAST(sum(spend) AS DOUBLE), 2) AS total, count(*) AS n_days FROM (
      |  SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)) d""".stripMargin

  /** q14_incremental_daily_agg: F10/F19 — per-partition builds with
    * memoization. The raw side is laid out as one partition per order-year;
    * build #1 builds everything, build #2 skips everything, and after a new
    * partition arrives only it (plus the downstream total) rebuilds. */
  private def q14(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    val orders = Tables.orders(spark, dir)
      .withColumn("y", year(col("o_orderdate")).cast(IntegerType))
    // fixture layout in ONE distributed job (the old per-year driver loop
    // was one write job per year — a scale anti-pattern even in a fixture):
    // partition directories come from a duplicated column so the real `y`
    // stays inside the files, as the artifact schema declares
    IO.writePartitioned(
      orders.withColumn("part_y", col("y")).repartition(col("part_y")),
      Format.Parquet, s"$base/raw", partitionBy = Seq("part_y"))

    val rawType = collectionOf[OrderYearRow]("orders_by_year", partitionBy = Seq("y"))
    val raw = Artifact(rawType, Format.Parquet,
      FileStorage(PathTemplate(s"$base/raw/part_y={y}", Map("y" -> "int"))))
    val yearly = Artifact(
      collectionOf[YearlyRow]("yearly", partitionBy = Seq("y")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/yearly/y={y}/{input_fingerprint}", Map("y" -> "int"))))
    val total = Artifact(AFloat64(), Format.Parquet,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))

    val yearlyAgg = Producer("yearly_agg",
      build = (_, ins) => Seq(
        ins.head.groupBy(col("y")).agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total")).coalesce(1)),
      map = Producer.mapByKey)
    val totalAgg = Producer("total_agg", build = (_, ins) => Seq(
      ins.head.agg(sum(col("total")).as("grand_total")).coalesce(1)))

    val g = new Graph("incr")
      .add("raw", raw).add("yearly", yearly).add("total", total)
      .produce(yearlyAgg, Seq("raw"), Seq("yearly"))
      .produce(totalAgg, Seq("yearly"), Seq("total"))
      .close()
    val backend = new MemoryBackend
    val exec = new LocalExecutor(backend)

    def phaseRow(phase: String, r: graft.exec.BuildReport): (String, Int, Int) =
      (phase, r.totalBuilt, r.totalSkipped)

    val r1 = phaseRow("first", exec.build(spark, g.snapshot(spark, backend)))
    val r2 = phaseRow("second", exec.build(spark, g.snapshot(spark, backend)))
    // a new year of data arrives (fixed synthetic content)
    spark.range(1).select(
      lit(999999L).as("o_orderkey"), lit(1L).as("o_custkey"), lit("F").as("o_orderstatus"),
      lit(123.45).as("o_totalprice"), lit("2099-01-01 00:00:00").cast(TimestampNTZType).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"), lit(2099).as("y"))
      .coalesce(1).write.parquet(s"$base/raw/part_y=2099")
    val r3 = phaseRow("third_new_partition", exec.build(spark, g.snapshot(spark, backend)))

    import spark.implicits._
    Seq(r1, r2, r3).toDF("phase", "built", "skipped")
  }

  /** The incremental contract is exactly derivable from the data, so the
    * engine's build/skip accounting is ORACLE-CHECKED, not rows-only:
    * with Y distinct order-years, run 1 builds Y yearly partitions + 1
    * total; run 2 skips all Y+1; after one new year arrives, run 3 builds
    * exactly 2 (the new yearly partition + the total) and skips Y. */
  private val q14Sql =
    """WITH y AS (SELECT count(DISTINCT year(CAST(o_orderdate AS TIMESTAMP))) AS n FROM orders)
      |SELECT 'first' AS phase, CAST(n + 1 AS INT) AS built, CAST(0 AS INT) AS skipped FROM y
      |UNION ALL
      |SELECT 'second', CAST(0 AS INT), CAST(n + 1 AS INT) FROM y
      |UNION ALL
      |SELECT 'third_new_partition', CAST(2 AS INT), CAST(n AS INT) FROM y""".stripMargin

  /** q15_validated_build: F13 — the quality gate runs before any write. */
  private def q15(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    val raw = Artifact(collectionOf[StatusPriceRow]("orders"),
      Format.Parquet, FileStorage(PathTemplate(s"$dir/orders.parquet", Map.empty)))
    val out = Artifact(collectionOf[ByStatusRow]("by_status"),
      Format.Parquet, FileStorage(PathTemplate(s"$base/by_status/{input_fingerprint}", Map.empty)))
    val gated = Producer("gated_agg",
      build = (_, ins) => Seq(
        ins.head.filter(col("o_totalprice") >= 0.0)
          .groupBy(col("o_orderstatus"))
          // exact decimal sum internally, one cast to double + round as the
          // written value — matches the artifact's declared AFloat64 and
          // keeps DECIMAL out of driver-compared output
          .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType), 2).as("total"),
            count(lit(1)).as("n")).coalesce(1)),
      validateOutputs = outs =>
        if (outs.head.filter(col("total") < 0).isEmpty) Right(())
        else Left("negative totals must not be written"))
    val g = new Graph("validated").add("orders", raw).add("out", out)
      .produce(gated, Seq("orders"), Seq("out")).close()
    val backend = new MemoryBackend
    // a failing gate would abort build() with IllegalStateException
    val (snap, _) = g.build(spark, backend)
    snap.read(spark, backend, "out")
  }

  private val q15Sql =
    """SELECT o_orderstatus, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total, count(*) AS n
      |FROM orders WHERE o_totalprice >= 0.0 GROUP BY o_orderstatus""".stripMargin

  /** q16_snapshot_replay: F14/F17 — tag a snapshot, change the raw data,
    * rebuild, then read both tags back: the old tag still serves the old
    * result. */
  private def q16(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    // raw partition 0 = the testdata orders; partition 1 arrives later
    Tables(spark, dir, "orders").coalesce(1)
      .write.parquet(s"$base/raw/part-0.parquet")

    val rawType = collectionOf[OrderPartRow]("orders", partitionBy = Seq("i"))
    val raw = Artifact(rawType, Format.Parquet,
      FileStorage(PathTemplate(s"$base/raw/part-{i}.parquet", Map("i" -> "int"))))
    val total = Artifact(AFloat64(), Format.Parquet,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
    val agg = Producer("total", build = (_, ins) => Seq(
      ins.head.agg(round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType), 2)
        .as("total")).coalesce(1)))
    val g = new Graph("replay").add("raw", raw).add("total", total)
      .produce(agg, Seq("raw"), Seq("total")).close()
    val backend = new MemoryBackend
    val exec = new LocalExecutor(backend)

    val snap1 = g.snapshot(spark, backend)
    exec.build(spark, snap1)
    snap1.tag(backend, "v1")

    spark.range(1).select(
      lit(999999L).as("o_orderkey"), lit(1L).as("o_custkey"), lit("F").as("o_orderstatus"),
      lit(42.42).as("o_totalprice"), lit("2099-01-01 00:00:00").cast(TimestampNTZType).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      .coalesce(1).write.parquet(s"$base/raw/part-1.parquet")
    val snap2 = g.snapshot(spark, backend)
    exec.build(spark, snap2)
    snap2.tag(backend, "v2")

    // F37 read-back: each tag resolves from backend metadata alone — the
    // live graph/artifact objects are NOT consulted (a fresh process with
    // only the backend could serve the same reads)
    def readTag(tag: String): DataFrame =
      RehydratedSnapshot.fromTag(backend, "replay", tag)
        .read(spark, backend, "total").withColumn("tag", lit(tag))
    readTag("v1").unionAll(readTag("v2")).select(col("tag"), col("total"))
  }

  private val q16Sql =
    """SELECT 'v1' AS tag, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total FROM orders
      |UNION ALL
      |SELECT 'v2' AS tag, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) + CAST(42.42 AS DECIMAL(18,2)) AS DOUBLE), 2) AS total FROM orders""".stripMargin

  final case class OrderSPP(o_orderstatus: String, o_totalprice: Double, o_orderpriority: String)
  final case class ByPrioRow(o_orderpriority: String, n: Long)

  /** q25_multi_output: F6's multi-OUTPUT leg through the full engine — one
    * `typedOut2` producer emits two artifacts (per-status totals, per-
    * priority counts) from one input read; the executor writes, hashes and
    * registers both under one input fingerprint. Result = both artifacts
    * read back and union-tagged, so the driver's oracle checks the whole
    * two-output path end to end. */
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    val raw = Artifact(collectionOf[OrderSPP]("orders"),
      Format.Parquet, FileStorage(PathTemplate(s"$dir/orders.parquet", Map.empty)))
    val byStatus = Artifact(collectionOf[ByStatusRow]("by_status"),
      Format.Parquet, FileStorage(PathTemplate(s"$base/by_status/{input_fingerprint}", Map.empty)))
    val byPrio = Artifact(collectionOf[ByPrioRow]("by_priority"),
      Format.Parquet, FileStorage(PathTemplate(s"$base/by_priority/{input_fingerprint}", Map.empty)))

    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val eI: Encoder[OrderSPP] = Encoders.product[OrderSPP]
    implicit val eS: Encoder[ByStatusRow] = Encoders.product[ByStatusRow]
    implicit val eP: Encoder[ByPrioRow] = Encoders.product[ByPrioRow]
    val split = Producer.typedOut2[OrderSPP, ByStatusRow, ByPrioRow]("status_prio_split") { in =>
      import in.sparkSession.implicits._
      val s = in.groupBy(col("o_orderstatus"))
        .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType), 2).as("total"))
        .coalesce(1).as[ByStatusRow]
      val p = in.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n")).coalesce(1).as[ByPrioRow]
      (s, p)
    }
    val g = new Graph("multiout")
      .add("orders", raw).add("by_status", byStatus).add("by_priority", byPrio)
      .produce(split, Seq("orders"), Seq("by_status", "by_priority"))
      .close()
    val backend = new MemoryBackend
    val (snap, _) = g.build(spark, backend)
    snap.read(spark, backend, "by_status")
      .select(lit("by_status").as("which"), col("o_orderstatus").as("k"), col("total").as("v"))
      .unionByName(snap.read(spark, backend, "by_priority")
        .select(lit("by_priority").as("which"), col("o_orderpriority").as("k"),
          col("n").cast(DoubleType).as("v")))
  }

  private val q25Sql =
    """SELECT 'by_status' AS which, o_orderstatus AS k,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS v
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'by_priority', o_orderpriority, CAST(count(*) AS DOUBLE)
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  final case class OrdSumRow(o_custkey: Long, total: Double, n_orders: Long)
  final case class CustSelRow(c_custkey: Long, c_mktsegment: String)

  /** q28_bucketed_join: the cluster_by leg of the Collection model through
    * the WHOLE engine under the driver's correctness gate — two producers
    * emit `cluster_by` Collections (per-customer order totals; the customer
    * dimension), which the executor writes as bucketed catalog tables
    * (pre-write full gate, no staging — LayoutSpec pins those semantics)
    * and snapshot reads resolve back through the catalog, so the join on
    * the cluster key needs no Exchange (PlansSpec/LayoutSpec assert the
    * plan; THIS query puts the result under the DuckDB oracle). */
  private def q28(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    val ordersT = collectionOf[OrderRow]("orders")
    val custT = ACollection("customer", fromEncoder[CustSelRow]("cust"))
    val rawOrders = Artifact(ordersT, Format.Parquet,
      FileStorage(PathTemplate(s"$dir/orders.parquet", Map.empty)))
    val rawCust = Artifact(
      ACollection("customer_raw", AStruct("c", Seq(
        "c_custkey" -> AInt64(), "c_name" -> AString(), "c_nationkey" -> AInt32(),
        "c_acctbal" -> AFloat64(), "c_mktsegment" -> AString()))),
      Format.Parquet, FileStorage(PathTemplate(s"$dir/customer.parquet", Map.empty)))
    val ordSum = Artifact(
      ACollection("ord_sum", fromEncoder[OrdSumRow]("os"), clusterBy = Seq("o_custkey")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/ord_sum/{input_fingerprint}", Map.empty)))
    val custSel = Artifact(
      ACollection("cust_sel", fromEncoder[CustSelRow]("cs"), clusterBy = Seq("c_custkey")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/cust_sel/{input_fingerprint}", Map.empty)))

    val sumP = Producer("ord_sum", build = (_, ins) => Seq(
      ins.head.groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType), 2).as("total"),
          count(lit(1)).as("n_orders"))))
    val selP = Producer("cust_sel", build = (_, ins) => Seq(
      ins.head.select(col("c_custkey"), col("c_mktsegment"))))

    val g = new Graph("bucketed")
      .add("orders", rawOrders).add("customer", rawCust)
      .add("ord_sum", ordSum).add("cust_sel", custSel)
      .produce(sumP, Seq("orders"), Seq("ord_sum"))
      .produce(selP, Seq("customer"), Seq("cust_sel"))
      .close()
    val backend = new MemoryBackend
    val (snap, _) = g.build(spark, backend)
    snap.read(spark, backend, "ord_sum")
      .join(snap.read(spark, backend, "cust_sel"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey"), col("total"), col("n_orders"), col("c_mktsegment"))
  }

  private val q28Sql =
    """SELECT o_custkey,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
      |  count(*) AS n_orders, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_custkey, c_mktsegment""".stripMargin

  /** x15_clean_corpus: the LLM-training-data pipeline as a PRODUCER GRAPH —
    * documents → exact dedup (keep min id per text) → near-dedup (drop the
    * higher id of every shingle-Jaccard ≥ 0.5 pair, via the inverted-index
    * join) → quality gate (stopword ratio ≤ 0.5, ≥ 10 tokens, enforced by
    * validateOutputs before the write) → per-language corpus stats. Every
    * stage is an incremental, fingerprint-addressed artifact; the oracle
    * replays the identical rules in SQL. */
  private def x15(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    val docType = collectionOf[DocRow]("documents")
    def art(name: String, t: AStruct) = Artifact(
      ACollection(name, t), Format.Parquet,
      FileStorage(PathTemplate(s"$base/$name/{input_fingerprint}", Map.empty)))
    val raw = Artifact(docType, Format.Parquet,
      FileStorage(PathTemplate(s"$dir/documents.parquet", Map.empty)))
    val docStruct = docType.element
    val deduped = art("dedup_exact", docStruct)
    val nearDeduped = art("dedup_near", docStruct)
    val clean = art("clean", docStruct)
    val stats = art("stats", fromEncoder[LangStatsRow]("stats"))

    val exactDedup = Producer("dedup_exact", build = (_, ins) => {
      val d = ins.head
      val keep = d.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      Seq(d.join(keep, Seq("doc_id", "text"), "left_semi").coalesce(4))
    })
    val nearDedup = Producer("dedup_near", build = (_, ins) => {
      val d = ins.head
      // same engine as x2 (shingle df-cap + bounded exact re-verify):
      // drop the higher id of every jac ≥ 0.5 pair
      val drop = Queries.nearDupPairs(Queries.shingleSets(d))
        .select(col("doc_b").as("doc_id")).distinct()
      Seq(d.join(drop, Seq("doc_id"), "left_anti").coalesce(4))
    })
    val qualityGate = Producer("quality_filter",
      build = (_, ins) => {
        val d = ins.head.withColumn("tk", toks(col("text")))
        val stopArr = "array('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"
        Seq(d
          .withColumn("n_tokens", size(col("tk")))
          .withColumn("stop_ratio",
            expr(s"graft_count_in(tk, $stopArr)").cast(DoubleType) / col("n_tokens"))
          .filter(col("stop_ratio") <= 0.5 && col("n_tokens") >= 10)
          .drop("tk", "n_tokens", "stop_ratio")
          .coalesce(4))
      },
      validateOutputs = outs => {
        // ONE aggregation job for both checks (emptiness + duplicate
        // texts), instead of an isEmpty action plus a groupBy-count action
        val r = outs.head.agg(
          count(lit(1)).as("n"), countDistinct(col("text")).as("n_distinct")).head()
        if (r.getLong(0) == 0) Left("clean corpus must not be empty")
        else if (r.getLong(0) == r.getLong(1)) Right(())
        else Left("duplicate texts survived the dedup stages")
      })
    val corpusStats = Producer("corpus_stats", build = (_, ins) => Seq(
      ins.head.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars")).coalesce(1)))

    val g = new Graph("clean_corpus")
      .add("documents", raw).add("dedup_exact", deduped)
      .add("dedup_near", nearDeduped).add("clean", clean).add("stats", stats)
      .produce(exactDedup, Seq("documents"), Seq("dedup_exact"))
      .produce(nearDedup, Seq("dedup_exact"), Seq("dedup_near"))
      .produce(qualityGate, Seq("dedup_near"), Seq("clean"))
      .produce(corpusStats, Seq("clean"), Seq("stats"))
      .close()
    val backend = new MemoryBackend
    val (snap, _) = g.build(spark, backend)
    snap.read(spark, backend, "stats")
  }

  private def toks(c: org.apache.spark.sql.Column) = split(c, " ")

  private val x15Sql =
    """WITH d1 AS (
      |  SELECT * FROM documents
      |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
      |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM d1)),
      |t AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) AS jac
      |  FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.n, b.n),
      |d2 AS (
      |  SELECT * FROM d1
      |  WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs WHERE jac >= 0.5)),
      |clean AS (
      |  SELECT * FROM (
      |    SELECT *,
      |      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |      CAST(len(list_filter(string_split(text, ' '),
      |           x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
      |        / len(string_split(text, ' ')) AS stop_ratio
      |    FROM d2) q
      |  WHERE stop_ratio <= 0.5 AND n_tokens >= 10)
      |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM clean GROUP BY lang""".stripMargin

  final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class RegionAggRow(n_regionkey: Int, n_nations: Long, name_chars: Long)

  /** q32_mock_storage: the q13 producer-graph shape run end to end over the
    * registered `mock://` scheme (F21 — the reference's object-store
    * storage class, src/arti/storage/google/cloud/storage.py:36-57), so
    * the non-file storage path is continuously TIMED, not just spec'd:
    * artifact discovery, staged write-audit-publish, content fingerprints,
    * and the final read all cross the scheme seam every bench round. Input
    * is the 25-row nation table (the machinery, not the data, is what this
    * entry prices — q13 already times the graph at table scale). */
  private def q32(spark: SparkSession, dir: String): DataFrame = {
    graft.storage.MockFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val base = s"mock:${tmp()}"
    val raw = Artifact(collectionOf[NationRow]("nation"), Format.Parquet,
      FileStorage(PathTemplate(s"$dir/nation.parquet", Map.empty)))
    val byRegion = Artifact(collectionOf[RegionAggRow]("by_region"),
      Format.Parquet,
      FileStorage(PathTemplate(s"$base/by_region/{input_fingerprint}", Map.empty)))
    val regionAgg = Producer("region_agg", build = (_, ins) => Seq(
      ins.head.groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          sum(length(col("n_name")).cast(LongType)).as("name_chars"))
        .coalesce(1)))
    val g = new Graph("mock-bench")
      .add("nation", raw).add("by_region", byRegion)
      .produce(regionAgg, Seq("nation"), Seq("by_region"))
      .close()
    val backend = new MemoryBackend
    val (snap, _) = g.build(spark, backend)
    snap.read(spark, backend, "by_region")
  }

  private val q32Sql =
    """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
      |  CAST(sum(length(n_name)) AS BIGINT) AS name_chars
      |FROM nation GROUP BY n_regionkey""".stripMargin

  final case class EmbRow(vec_id: Long, embedding: Seq[Float], label: Int)
  final case class CodebookRow(s: Int, c: Int, cent: Seq[Long])
  final case class CodesRow(vec_id: Long, c0: Int, c1: Int, c2: Int, c3: Int,
      c4: Int, c5: Int, c6: Int, c7: Int, err_micro2: Long)
  final case class ServeRow(qid: Long, rnk: Int, vec_id: Long,
      adc_micro2: Long, exact_micro2: Long)

  /** x112_pq_index_serve: the VECTOR-INDEX LIFECYCLE as a producer graph —
    * how a billion-vector deployment actually ships: train the PQ codebook
    * offline (x102's subspace Lloyd round), ENCODE the corpus against it,
    * publish both as validated, fingerprint-addressed artifacts
    * (write-audit-publish: the codes artifact must cover every vector with
    * in-range codes BEFORE it can publish — F13 guarding an index, not a
    * table), then SERVE queries from the published artifacts via the
    * TWO-STAGE shape every production PQ deployment uses (r7; previously
    * pure ADC): stage 1 scans CODES ONLY — per query an 8×16 lookup
    * table of exact integer subspace distances to every centroid (the
    * LUT broadcasts), summed over each vector's 8 codes, keeping a
    * top-64 ADC shortlist; stage 2 exactly re-ranks ONLY the shortlist
    * against the stored quantized vectors (≤ 64 rows/query — the x29
    * bounded-re-rank discipline) and emits the top-3 by exact L2.
    * Incremental corollary for free: a new corpus slice re-encodes
    * against the PUBLISHED codebook artifact without retraining (x49's
    * frozen-index discipline — the executor's fingerprints make that
    * skip automatic). At 100 TB the serve shuffle carries one
    * pre-combined (query, vec) partial per scan task; batched query
    * blocks shard that dimension; the re-rank joins a 64·|queries|-row
    * shortlist broadcast against ONE pass over the vector store.
    * Retrieval quality: r6's k=4 pure-ADC serve measured top-3 recall
    * ≈ 0.33 — below the engine's ≥ 0.8 ANN bar; with k=16 codebooks +
    * the exact re-rank the served top-3 is recall-gated against exact
    * quantized L2 by TrainingOpsSpec (measured values in BASELINE.md
    * next to the r4 ANN table). */
  private def x112(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp()
    def art(name: String, t: ACollection) = Artifact(t, Format.Parquet,
      FileStorage(PathTemplate(s"$base/$name/{input_fingerprint}", Map.empty)))
    val raw = Artifact(collectionOf[EmbRow]("embeddings"), Format.Parquet,
      FileStorage(PathTemplate(s"$dir/embeddings.parquet", Map.empty)))
    val codebook = art("codebook", collectionOf[CodebookRow]("codebook"))
    val codes = art("codes", collectionOf[CodesRow]("codes"))
    val hits = art("hits", collectionOf[ServeRow]("hits"))

    // persisted intermediates are handed to this buffer and released
    // after the graph run materializes every artifact — a producer-local
    // persist() would otherwise leak cache across the whole session
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val trainP = Producer("train_codebook", build = (_, ins) => Seq(
      Queries.pqCodebook({
        val s = Queries.pqSubspaces(ins.head).persist()
        pinned += s; s
      }).coalesce(1)))
    val encodeP = Producer("encode_corpus",
      build = (_, ins) => Seq(
        Queries.pqEncode(Queries.pqSubspaces(ins.head), ins(1)).coalesce(4)),
      validateOutputs = outs => {
        // ONE aggregation: coverage + code-range audit before publish
        val codeCols = (0 until 8).map(s => col(s"c$s"))
        val r = outs.head.agg(
          count(lit(1)).as("n"),
          max(codeCols.map(c => when(c < 0 || c > 15, 1).otherwise(0)).reduce(_ + _)).as("oob"))
          .head()
        if (r.getLong(0) == 0) Left("codes artifact is empty")
        else if (r.getInt(1) > 0) Left("a code left the k=16 codebook range")
        else Right(())
      })
    val serveP = Producer("serve_topk", build = (_, ins) => {
      val (emb, cb, cds) = (ins(0), ins(1), ins(2))
      // one quantize+explode pass over the vector artifact: the query
      // side, the ADC LUT, and the re-rank all derive from this persisted
      // frame instead of re-reading/re-deriving the artifact three times
      val vsubs = Queries.pqSubspaces(emb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += vsubs
      val qsubs = vsubs.filter(col("vec_id") < 10)
        .withColumnRenamed("vec_id", "qid")
      val lut = qsubs
        .join(broadcast(cb), "s")
        .withColumn("d", Queries.pqDist2)
        .select(col("qid"), col("s"), col("c"), col("d"))
      val melted = cds.select(col("vec_id"), posexplode(array(
        (0 until 8).map(s => col(s"c$s")): _*)).as(Seq("s", "c")))
      val wAdc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("adc_micro2").asc, col("vec_id").asc)
      // stage 1: codes-only ADC scan → top-64 shortlist per query
      val shortlist = melted.join(broadcast(lut), Seq("s", "c"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("d")).as("adc_micro2"))
        .withColumn("rn", row_number().over(wAdc))
        .filter(col("rn") <= 64)
        .select(col("qid"), col("vec_id"), col("adc_micro2"))
      // stage 2: exact quantized L2 over the shortlist only (≤ 64/query)
      val wEx = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("exact_micro2").asc, col("vec_id").asc)
      Seq(vsubs
        .join(broadcast(shortlist), "vec_id")
        .join(broadcast(qsubs.select(col("qid"), col("s"), col("sub").as("qsub"))),
          Seq("qid", "s"))
        .withColumn("d2", expr(
          "aggregate(zip_with(sub, qsub, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
        .groupBy(col("qid"), col("vec_id"), col("adc_micro2"))
        .agg(sum(col("d2")).as("exact_micro2"))
        .withColumn("rnk", row_number().over(wEx))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("rnk").cast(IntegerType).as("rnk"),
          col("vec_id"), col("adc_micro2"), col("exact_micro2"))
        .coalesce(1))
    })

    val g = new Graph("pq_index")
      .add("embeddings", raw).add("codebook", codebook)
      .add("codes", codes).add("hits", hits)
      .produce(trainP, Seq("embeddings"), Seq("codebook"))
      .produce(encodeP, Seq("embeddings", "codebook"), Seq("codes"))
      .produce(serveP, Seq("embeddings", "codebook", "codes"), Seq("hits"))
      .close()
    val backend = new MemoryBackend
    val (snap, _) = g.build(spark, backend)
    // every artifact is written (materialized) by build(); release the
    // producer-local caches before handing the result out
    pinned.foreach(_.unpersist(false))
    snap.read(spark, backend, "hits")
  }

  /** Shares the training CTE chain and the d2 spelling with x102Sql —
    * ONE copy of the Lloyd-round oracle (Queries.pqTrainCtesSql). */
  private lazy val x112Sql = {
    val d2 = Queries.pqD2Sql
    s"""WITH ${Queries.pqTrainCtesSql},
       |enc AS (SELECT vec_id, s, c FROM (
       |    SELECT v.vec_id, v.s, k.c,
       |      row_number() OVER (PARTITION BY v.vec_id, v.s
       |        ORDER BY ${d2("v.sub", "k.cent")}, k.c) AS rn
       |    FROM subs v JOIN cent k ON k.s = v.s) t WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, s, sub FROM subs WHERE vec_id < 10),
       |lut AS (SELECT q.qid, k.s, k.c, ${d2("q.sub", "k.cent")} AS d
       |        FROM q JOIN cent k ON k.s = q.s),
       |adc AS (SELECT l.qid, enc.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_micro2
       |        FROM enc JOIN lut l ON l.s = enc.s AND l.c = enc.c GROUP BY 1, 2),
       |short AS (SELECT qid, vec_id, adc_micro2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_micro2, vec_id) AS rn FROM adc) t
       |  WHERE rn <= 64),
       |exr AS (SELECT sh.qid, sh.vec_id, sh.adc_micro2,
       |    CAST(sum(${d2("v.sub", "qs.sub")}) AS BIGINT) AS exact_micro2
       |  FROM short sh
       |    JOIN subs v ON v.vec_id = sh.vec_id
       |    JOIN subs qs ON qs.vec_id = sh.qid AND qs.s = v.s
       |  GROUP BY 1, 2, 3)
       |SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, adc_micro2, exact_micro2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY exact_micro2, vec_id) AS rnk FROM exr) t
       |WHERE rnk <= 3""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q13_partitioned_spend", q13, Some(q13Sql), "spend demo through the engine (graph+producer+executor)"),
    Q("q32_mock_storage", q32, Some(q32Sql),
      "q13's graph shape over the registered mock:// object-store scheme (F21, continuously timed)"),
    Q("q14_incremental_daily_agg", q14, Some(q14Sql),
      "per-partition incremental build with fingerprint skip (oracle-checked build/skip contract)"),
    Q("q15_validated_build", q15, Some(q15Sql), "validate_outputs gate before write"),
    Q("q16_snapshot_replay", q16, Some(q16Sql), "snapshot tag + replay old tag"),
    Q("q25_multi_output", q25, Some(q25Sql), "one producer, two artifacts (F6 multi-output through the engine)"),
    Q("q28_bucketed_join", q28, Some(q28Sql),
      "cluster_by Collections end to end: bucketed executor writes, catalog reads, co-located join"),
    Q("x15_clean_corpus", x15, Some(x15Sql), "full dedup+quality pipeline as a producer graph"),
    Q("x112_pq_index_serve", x112, Some(x112Sql),
      "vector-index lifecycle as a producer graph: train PQ codebook, encode+validate+publish, serve ADC top-3 from artifacts"))
}
