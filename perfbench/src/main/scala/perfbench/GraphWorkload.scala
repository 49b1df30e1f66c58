package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exec.{BuildReport, LocalExecutor}
import graft.graph.{Artifact, Backend, FileBackend, Graph, Producer}
import graft.graph.Statistics.Threshold
import graft.io.Format
import graft.partitions.PartitionField.IntField
import graft.storage.{FileStorage, PathTemplate, StoragePartition}
import graft.types.SparkTypeSystem.collectionOf

/** Artifact row models of the benchmark graph. */
object GraphRows {
  final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.time.LocalDateTime, o_orderpriority: String, m: Int)
  final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
      l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: java.time.LocalDateTime, m: Int)
  final case class MonthAggRow(m: Int, o_orderstatus: String, n_orders: Long, price_cents: Long)
  final case class MonthJoinRow(m: Int, o_orderstatus: String, n_lines: Long, revenue: Long)
  final case class YearRow(y: Int, n_lines: Long, revenue: Long)
  final case class TotalRow(n_lines: Long, revenue: Long, n_orders: Long, price_cents: Long)
}

/** graph_incremental: a partitioned producer graph over per-month raw
  * partitions of `orders` and `lineitem`, built only through the public
  * Graph/Artifact/Producer API over a FileBackend. One timed op is one
  * rebuild cycle as a fresh CLI invocation would run it: open the backend
  * from disk, snapshot, build. A round is a cold build followed by three
  * pairs of a no-op rebuild and a rebuild after one raw partition was
  * rewritten, and a last no-op rebuild; every cycle's built/skipped counts
  * are checked against what the edit implies. */
final class GraphWorkload(dataDir: String, work: Path, seed: Long, cores: Int) extends Workload {
  import GraphRows._

  private val rawDir = java.nio.file.Paths.get(dataDir, "raw")
  private val outDir = work.resolve("graph-artifacts")
  private val backendDir = work.resolve("graph-backend")
  private val rng = new scala.util.Random(seed)
  // cold builds are long, so each round samples the short cycles more often
  private val roundPlan = "cold_build" +: Seq.fill(3)(Seq("noop_rebuild", "delta_rebuild")).flatten :+ "noop_rebuild"
  private var step = 0
  private var edits = 0
  private var months: Seq[Int] = Nil
  private var lastRoundEnd = 0
  private var last: Option[(Backend, graft.graph.GraphSnapshot)] = None
  /** (stored bytes, raw bytes) after each complete round. */
  private val roundBytes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private def cents(c: String) = round(col(c) * 100).cast(LongType)

  private val monthAgg = Producer("month_agg",
    build = (_, ins) => Seq(ins.head.groupBy("m", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum(cents("o_totalprice")).as("price_cents")).coalesce(1)),
    map = Producer.mapByKey,
    validateOutputs = outs => Trace.span("exec", "validate") {
      if (outs.head.isEmpty) Left("empty month aggregate") else Right(())
    },
    computeStatistics = true,
    thresholds = Seq(Threshold.MinRows(1), Threshold.NoNulls("price_cents")))

  private val monthJoin = Producer("month_join",
    build = (_, ins) => Seq(ins(0).join(ins(1), col("o_orderkey") === col("l_orderkey"))
      .groupBy(ins(0)("m"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(cents("l_extendedprice") * (lit(100L) - round(col("l_discount") * 100).cast(LongType))).as("revenue"))
      .coalesce(1)),
    map = Producer.mapByKey)

  /** Month partitions roll up into the partition of their year. */
  private val byYear: Seq[Seq[StoragePartition]] => Producer.PartitionDeps = ins =>
    ins.head.groupBy(p => p.key("m").asInstanceOf[IntField].value / 100).toSeq.sortBy(_._1)
      .map { case (y, ps) => Map("y" -> (IntField(y): graft.partitions.PartitionField)) -> Seq(ps) }

  private val yearly = Producer("yearly_rollup",
    build = (_, ins) => Seq(ins.head.groupBy((col("m") / 100).cast(IntegerType).as("y"))
      .agg(sum("n_lines").as("n_lines"), sum("revenue").as("revenue")).coalesce(1)),
    map = byYear)

  private val total = Producer("total",
    build = (_, ins) => Seq(ins(0).agg(sum("n_lines").as("n_lines"), sum("revenue").as("revenue"))
      .crossJoin(ins(1).agg(sum("n_orders").as("n_orders"), sum("price_cents").as("price_cents")))
      .coalesce(1)))

  private def graph(): Graph = {
    def art(t: graft.types.ArtiType, tpl: String, kinds: Map[String, String]) =
      Artifact(t, Format.Parquet, FileStorage(PathTemplate(tpl, kinds)))
    val m = Map("m" -> "int")
    new Graph("sales")
      .add("orders", art(collectionOf[OrderRow]("orders", partitionBy = Seq("m")), s"$rawDir/orders/part_m={m}", m))
      .add("lineitem", art(collectionOf[LineRow]("lineitem", partitionBy = Seq("m")), s"$rawDir/lineitem/part_m={m}", m))
      .add("month_agg", art(collectionOf[MonthAggRow]("month_agg", partitionBy = Seq("m")),
        s"$outDir/month_agg/m={m}/{input_fingerprint}", m))
      .add("month_join", art(collectionOf[MonthJoinRow]("month_join", partitionBy = Seq("m")),
        s"$outDir/month_join/m={m}/{input_fingerprint}", m))
      .add("yearly", art(collectionOf[YearRow]("yearly", partitionBy = Seq("y")),
        s"$outDir/yearly/y={y}/{input_fingerprint}", Map("y" -> "int")))
      .add("total", art(collectionOf[TotalRow]("total"), s"$outDir/total/{input_fingerprint}", Map.empty))
      .produce(monthAgg, Seq("orders"), Seq("month_agg"))
      .produce(monthJoin, Seq("orders", "lineitem"), Seq("month_join"))
      .produce(yearly, Seq("month_join"), Seq("yearly"))
      .produce(total, Seq("yearly", "month_agg"), Seq("total"))
      .close()
  }

  /** The raw month partitions are inputs; set-up lists them and runs one
    * cold build, so the first timed one is not charged JIT. */
  def setup(spark: SparkSession): Unit = {
    months = Workload.listDirs(rawDir.resolve("orders")).map(_.getFileName.toString.stripPrefix("part_m=").toInt).sorted
    require(months.nonEmpty, "no raw month partitions")
    val warm = op(spark)
    warm.error.foreach(e => throw new IllegalStateException(s"warm-up build failed: $e"))
    step = 0
  }

  /** Rewrite one raw partition with changed content (outside the timer). */
  private def edit(spark: SparkSession, table: String, m: Int): Unit = {
    val dir = rawDir.resolve(table).resolve(s"part_m=$m")
    val tmp = work.resolve(s"$table-edit")
    Workload.deleteTree(tmp)
    val priceCol = if (table == "orders") "o_totalprice" else "l_extendedprice"
    spark.read.parquet(dir.toString).withColumn(priceCol, col(priceCol) + lit(1.0))
      .coalesce(1).write.parquet(tmp.toString)
    Workload.deleteTree(dir)
    Files.move(tmp, dir)
  }

  def op(spark: SparkSession): OpResult = {
    val kind = roundPlan(step % roundPlan.size)
    step += 1
    // prepare the cycle's input state; expected built counts per producer
    val nM = months.size
    val nY = months.map(_ / 100).distinct.size
    val expected: Map[String, Int] = kind match {
      case "cold_build" =>
        Seq(outDir, backendDir).foreach(Workload.deleteTree)
        Map("month_agg" -> nM, "month_join" -> nM, "yearly_rollup" -> nY, "total" -> 1)
      case "noop_rebuild" => Map.empty
      case "delta_rebuild" =>
        val table = if (rng.nextBoolean()) "orders" else "lineitem"
        edit(spark, table, months(rng.nextInt(nM)))
        edits += 1
        if (table == "orders") Map("month_agg" -> 1, "month_join" -> 1, "yearly_rollup" -> 1, "total" -> 1)
        else Map("month_join" -> 1, "yearly_rollup" -> 1, "total" -> 1)
    }
    val totalParts = Map("month_agg" -> nM, "month_join" -> nM, "yearly_rollup" -> nY, "total" -> 1)
    val rawBytes = Workload.treeBytes(rawDir.resolve("orders")) + Workload.treeBytes(rawDir.resolve("lineitem"))
    Workload.timedOp(kind) {
      val g = graph()
      val backend: Backend = {
        val fb = Trace.span("backend", "open")(new FileBackend(backendDir.toString))
        if (Trace.enabled) new CountingBackend(fb) else fb
      }
      val read0 = if (Trace.enabled) Trace.readBytes else 0L
      val snap = Trace.span("graph", "snapshot")(g.snapshot(spark, backend))
      if (Trace.enabled) Trace.count("graph.snapshot_raw_bytes", (Trace.readBytes - read0).toDouble)
      val report = Trace.span("exec", "build")(new LocalExecutor(backend, cores).build(spark, snap))
      last = Some((backend, snap))
      () => {
        Trace.count("exec.partitions_built", report.totalBuilt)
        Trace.count("exec.partitions_skipped", report.totalSkipped)
        Trace.count("exec.partitions_expected", expected.values.sum)
        Trace.count("io.artifact_bytes", Workload.treeBytes(outDir).toDouble)
        Trace.count("backend.log_bytes", Workload.treeBytes(backendDir).toDouble)
        if (step - lastRoundEnd == roundPlan.size) {
          lastRoundEnd = step
          roundBytes += ((Workload.treeBytes(outDir) + Workload.treeBytes(backendDir), rawBytes))
        }
        checkCounts(report, expected, totalParts)
      }
    }
  }

  private def checkCounts(r: BuildReport, expected: Map[String, Int], parts: Map[String, Int]): Option[String] = {
    val bad = parts.keys.toSeq.sorted.flatMap { p =>
      val b = r.built.getOrElse(p, 0)
      val s = r.skipped.getOrElse(p, 0)
      val eb = expected.getOrElse(p, 0)
      if (b == eb && s == parts(p) - eb) None
      else Some(s"$p built $b skipped $s, expected built $eb skipped ${parts(p) - eb}")
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    // the last build's total, read back through its snapshot
    val (backend, snap) = last.getOrElse(throw new IllegalStateException("no build completed"))
    val row = snap.read(spark, backend, "total").collect().head
    Map(
      "final_total" -> Map("n_lines" -> row.getAs[Long]("n_lines"), "revenue" -> row.getAs[Long]("revenue"),
        "n_orders" -> row.getAs[Long]("n_orders"), "price_cents" -> row.getAs[Long]("price_cents")),
      "raw_dir" -> rawDir.toString,
      "months" -> months.size,
      "edits" -> edits,
      "stored_bytes_per_input_byte" -> roundBytes.map { case (s, r) => s.toDouble / r })
  }
}
