package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamQueries
import graft.tools.Harness

/** F19's streaming durability story, proven across a PROCESS-death
  * boundary: the qs12 SCD2 state machine (flatMapGroupsWithState) writes
  * a parquet sink through a durable checkpoint; the query is stopped
  * after the first waves, a new wave arrives, and a SECOND query started
  * from the same checkpoint must (a) read ONLY the new wave and (b) emit
  * exactly the closed versions the single-run pipeline emits — which is
  * only possible if the GroupState (open version per customer) was
  * recovered, not rebuilt: a fresh state would re-open version 1 for
  * every customer and mis-number/mis-date every closure the new wave
  * triggers. (The reference's analog is the executor's skip-if-built
  * memoization, producers/__init__.py:326-346 — here the "partition" is
  * the processed source file set plus the live state store.) */
class StreamRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = Harness.session("stream-recovery-spec",
      Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("qs12's SCD2 machine restarts from checkpoint: new wave only, emission-set equality") {
    val root = graft.util.TempDirs.create("graft-recovery")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString

    // the same fixed date cuts as qs12's wave layout (no quantile job)
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val cuts = Seq(
      col("o_orderdate") < lit("1996-01-01").cast(org.apache.spark.sql.types.TimestampNTZType),
      col("o_orderdate") >= lit("1996-01-01").cast(org.apache.spark.sql.types.TimestampNTZType) &&
        col("o_orderdate") < lit("1997-06-01").cast(org.apache.spark.sql.types.TimestampNTZType),
      col("o_orderdate") >= lit("1997-06-01").cast(org.apache.spark.sql.types.TimestampNTZType))

    def writeWave(i: Int): Unit = {
      o.filter(cuts(i)).coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5) // file mtime orders the waves
    }

    def runOnce(): Long = {
      val q = StreamQueries.scd2Closed(StreamQueries.ordersStreamFrom(spark, srcDir.toString))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    // ---- run 1: waves 0+1 arrive, query processes them and STOPS
    writeWave(0); writeWave(1)
    val run1Input = runOnce()
    val emittedRun1 = spark.read.parquet(sink).count()

    // ---- wave 2 arrives while no query is running; run 2 resumes
    writeWave(2)
    val wave2Rows = o.filter(cuts(2)).count()
    val run2Input = runOnce()

    // (a) the restarted query paid for the NEW wave only — the checkpoint
    // remembered the ingested file set
    assert(run2Input === wave2Rows,
      s"restart re-read old waves: run 2 input $run2Input, wave 2 has $wave2Rows")

    // (b) emission-set equality with the one-shot pipeline: recovered
    // GroupState means version numbers, valid_from chains, and run counts
    // all continue across the restart. Fresh state would emit version-1
    // closures with wave-2 dates — set inequality, loudly.
    val recovered = spark.read.parquet(sink)
      .select("custkey", "version", "priority", "valid_from", "valid_to", "n_orders")
    val oneShot = graft.operators.Queries.byName("qs12_stream_scd2").run(spark, sf)
      .select("custkey", "version", "priority", "valid_from", "valid_to", "n_orders")
    assert(recovered.exceptAll(oneShot).isEmpty && oneShot.exceptAll(recovered).isEmpty,
      "restarted emission set differs from the single-run pipeline")

    // and the restart actually ADDED emissions (wave 2 closes versions)
    assert(spark.read.parquet(sink).count() > emittedRun1,
      "wave 2 closed no versions — the recovery assertion would be vacuous")
  }

  test("qs16's chained dedup+window states restart from checkpoint: new wave only, emission-set equality") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery16")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString

    // ns-long waves cut at fixed dates (the qs12-test discipline: no
    // quantile job); a same-(hour, user) pair can straddle a cut only
    // via the dedup STATE, which is exactly the recovery payload here
    val raw = graft.operators.Tables.eventsRawNs(spark, sf)
    def ns(day: String): Long =
      java.time.LocalDate.parse(day).atStartOfDay.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val cuts = Seq(
      col("ts") < ns("2024-01-05"),
      col("ts") >= ns("2024-01-05") && col("ts") < ns("2024-01-10"),
      col("ts") >= ns("2024-01-10"))
    def writeWave(i: Int): Unit = {
      raw.filter(cuts(i)).coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    def runOnce(): Long = {
      val uniq = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true")
        .parquet(srcDir.toString)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ts", "70 minutes")
        .withColumn("hour_start", date_trunc("hour", col("ts")))
        .select(col("ts"), col("hour_start"), col("user_id"))
        .dropDuplicatesWithinWatermark("hour_start", "user_id")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("unique_users"))
      val q = uniq.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce()
    val emittedRun1 = spark.read.parquet(sink).count()

    writeWave(2)
    val wave2Rows = raw.filter(cuts(2)).count()
    val run2Input = runOnce()

    // (a) the checkpoint remembered the ingested file set
    assert(run2Input === wave2Rows,
      s"restart re-read old waves: run 2 input $run2Input, wave 2 has $wave2Rows")

    // (b) emission-set equality with the single-run qs16 pipeline: BOTH
    // state stores (dedup keys + open windows) must have been recovered —
    // lost dedup state would double-count straddling (hour, user) pairs,
    // lost window state would drop or re-emit hours
    val recovered = spark.read.parquet(sink).select(
      col("window.start").cast(TimestampNTZType).as("window_start"),
      col("window.end").cast(TimestampNTZType).as("window_end"),
      col("unique_users"))
    val oneShot = graft.operators.Queries.byName("qs16_stream_unique_visitors").run(spark, sf)
    assert(recovered.exceptAll(oneShot).isEmpty && oneShot.exceptAll(recovered).isEmpty,
      "restarted emission set differs from the single-run pipeline")
    assert(spark.read.parquet(sink).count() > emittedRun1,
      "wave 2 finalized no windows — the recovery assertion would be vacuous")
  }

  test("qs19's funnel machine restarts from checkpoint: mid-funnel state survives the death") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery19")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString

    // cuts chosen so at least one user is MID-FUNNEL at the boundary:
    // at sf0.001, user 6 signs up + clicks on Jan 4 and purchases Jan 5
    // 17:16 — its (t1, t2) state is the recovery payload; a fresh state
    // would never emit that conversion (the purchase alone can't)
    val raw = graft.operators.Tables.eventsRawNs(spark, sf)
    def ns(day: String): Long =
      java.time.LocalDate.parse(day).atStartOfDay.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val cuts = Seq(
      col("ts") < ns("2024-01-03"),
      col("ts") >= ns("2024-01-03") && col("ts") < ns("2024-01-05"),
      col("ts") >= ns("2024-01-05"))
    def writeWave(i: Int): Unit = {
      raw.filter(cuts(i)).coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    def runOnce(): Long = {
      val stable = spark
      import stable.implicits._
      val ev = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true")
        .parquet(srcDir.toString)
        .select(col("user_id"), expr("ts div 1000").as("tsMicros"),
          col("event_id"), col("event_type"))
        .as[StreamQueries.FunnelEvt]
      val q = StreamQueries.funnelConversions(ev)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce()
    val emittedRun1 = spark.read.parquet(sink).count()

    writeWave(2)
    val wave2Rows = raw.filter(cuts(2)).count()
    val run2Input = runOnce()

    // (a) the checkpoint remembered the ingested file set
    assert(run2Input === wave2Rows,
      s"restart re-read old waves: run 2 input $run2Input, wave 2 has $wave2Rows")

    // (b) emission-set equality with the single-run qs19 pipeline — only
    // possible if the (t1, t2) funnel positions were recovered: a fresh
    // state sees wave 2's purchases with no prior stages and emits nothing
    val recovered = spark.read.parquet(sink)
      .select("user_id", "t1", "t2", "t3")
    val oneShot = graft.operators.Queries.byName("qs19_stream_funnel").run(spark, sf)
      .select("user_id", "t1", "t2", "t3")
    assert(recovered.exceptAll(oneShot).isEmpty && oneShot.exceptAll(recovered).isEmpty,
      "restarted conversion set differs from the single-run pipeline")

    // (c) the straddle really happened: run 2 added a conversion whose
    // click PRECEDES the restart boundary — pure recovered state
    val straddled = spark.read.parquet(sink)
      .filter(col("t2") < lit("2024-01-05 00:00:00").cast(TimestampNTZType) &&
        col("t3") >= lit("2024-01-05 00:00:00").cast(TimestampNTZType))
    assert(straddled.count() > 0 && spark.read.parquet(sink).count() > emittedRun1,
      "no conversion straddled the restart — the recovery assertion would be vacuous")
  }

  test("qs21's FirstK window buffers restart from checkpoint: a half-filled quota survives the death") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery21")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString

    // the second cut lands MID-HOUR (19:30 inside a 6-event hour), so the
    // [19:00, 20:00) windows' FirstK buffers are HALF-FILLED at the kill:
    // their earliest admissions exist only in checkpointed UDAF state
    val raw = graft.operators.Tables.eventsRawNs(spark, sf)
    def ns(t: String): Long =
      java.time.LocalDateTime.parse(t).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val cut2 = ns("2024-01-09T19:30:00")
    val cuts = Seq(
      col("ts") < ns("2024-01-05T00:00:00"),
      col("ts") >= ns("2024-01-05T00:00:00") && col("ts") < cut2,
      col("ts") >= cut2)
    def writeWave(i: Int): Unit = {
      raw.filter(cuts(i)).coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    def runOnce(): Long = {
      val admit = udaf(new graft.functions.FirstK(5))
      val agged = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true")
        .parquet(srcDir.toString)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(admit(unix_micros(col("ts")), col("event_id"), col("user_id")).as("admitted"))
      val q = agged.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce()
    val emittedRun1 = spark.read.parquet(sink).count()

    writeWave(2)
    val wave2Rows = raw.filter(cuts(2)).count()
    val run2Input = runOnce()

    // (a) the checkpoint remembered the ingested file set
    assert(run2Input === wave2Rows,
      s"restart re-read old waves: run 2 input $run2Input, wave 2 has $wave2Rows")

    // (b) emission-set equality with the single-run qs21 pipeline — only
    // possible if the serialized Seq[AdmitEntry] buffers round-tripped
    // through the state store: a fresh buffer for the straddling windows
    // would admit only post-restart events
    val recovered = spark.read.parquet(sink)
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), posexplode(col("admitted")).as(Seq("pos", "e")))
      .select(col("window_start"), col("event_type"),
        col("e.k2").as("event_id"), col("e.payload").as("user_id"),
        timestamp_micros(col("e.k1")).cast(TimestampNTZType).as("ts"),
        (col("pos") + 1).cast(IntegerType).as("admit_rank"))
    val oneShot = graft.operators.Queries.byName("qs21_stream_quota_admit").run(spark, sf)
    assert(recovered.exceptAll(oneShot).isEmpty && oneShot.exceptAll(recovered).isEmpty,
      "restarted admission set differs from the single-run pipeline")

    // (c) the straddle really happened: a window finalized AFTER the
    // restart admitted an event from BEFORE it — pure recovered state
    val straddleStart = lit("2024-01-09 19:00:00").cast(TimestampNTZType)
    val straddled = recovered.filter(col("window_start") === straddleStart &&
      col("ts") < lit("2024-01-09 19:30:00").cast(TimestampNTZType))
    assert(straddled.count() > 0 && spark.read.parquet(sink).count() > emittedRun1,
      "no admission straddled the restart — the recovery assertion would be vacuous")
  }

  test("qs23's wide-form QI partial sums restart from checkpoint: the release gate survives the death") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery23")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString

    val raw = graft.operators.Tables.eventsRawNs(spark, sf)
    def ns(day: String): Long =
      java.time.LocalDate.parse(day).atStartOfDay.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val cuts = Seq(
      col("ts") < ns("2024-01-05"),
      col("ts") >= ns("2024-01-05") && col("ts") < ns("2024-01-10"),
      col("ts") >= ns("2024-01-10"))
    def writeWave(i: Int): Unit = {
      raw.filter(cuts(i)).coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val trendTypes = Seq("click", "error", "purchase", "signup", "view")
    val names = for (t <- trendTypes; b <- 0 until 8) yield s"c_${t}_$b"
    val cells = for (t <- trendTypes; b <- 0 until 8)
      yield sum(when(col("event_type") === t && col("bin") === b, 1L).otherwise(0L))
        .as(s"c_${t}_$b")

    def runOnce(): Long = {
      val agged = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true")
        .parquet(srcDir.toString)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        .filter(col("value").isNotNull)
        .withColumn("bin", expr("least(7, greatest(0, cast(floor(value / 15.0) as bigint)))"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"), cells: _*)
      val q = agged.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce()
    val emittedRun1 = spark.read.parquet(sink).count()

    writeWave(2)
    val wave2Rows = raw.filter(cuts(2)).count()
    val run2Input = runOnce()

    // (a) the checkpoint remembered the ingested file set
    assert(run2Input === wave2Rows,
      s"restart re-read old waves: run 2 input $run2Input, wave 2 has $wave2Rows")

    // (b) the report over the recovered sink equals the single-run qs23
    // registry output — only possible if the 41 partial sums of the
    // window straddling the death were recovered: a fresh buffer would
    // under-count its classes and flip min/k5 on that window
    val minCls = s"least(${names.map(n =>
      s"case when $n = 0 then 9223372036854775807L else $n end").mkString(", ")})"
    val nCls = names.map(n => s"case when $n > 0 then 1 else 0 end").mkString(" + ")
    val recovered = spark.read.parquet(sink).select(
      col("window.start").cast(TimestampNTZType).as("window_start"),
      col("window.end").cast(TimestampNTZType).as("window_end"),
      col("n_events"),
      expr(s"cast(($nCls) as bigint)").as("n_classes"),
      expr(minCls).as("min_class_size"),
      expr(s"$minCls >= 5").as("k5_ok"))
    val oneShot = graft.operators.Queries.byName("qs23_stream_k_anonymity").run(spark, sf)
    assert(recovered.exceptAll(oneShot).isEmpty && oneShot.exceptAll(recovered).isEmpty,
      "restarted release-gate report differs from the single-run pipeline")
    assert(spark.read.parquet(sink).count() > emittedRun1,
      "wave 2 finalized no windows — the recovery assertion would be vacuous")
  }

  test("qs25's Misra-Gries sketch state restarts from checkpoint: new wave only, recount equals batch") {
    val root = graft.util.TempDirs.create("graft-recovery-mg")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): (Long, scala.collection.Map[String, Long]) = {
      val q = StreamQueries.mgTokenSummary(StreamQueries.docsStreamFrom(spark, from))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val m = spark.table(name).head().getAs[scala.collection.Map[String, Long]]("mg")
      (q.recentProgress.map(_.numInputRows).sum, m)
    }

    // ---- run 1: waves 0+1 arrive, the sketch absorbs them, query STOPS
    writeWave(0); writeWave(1)
    val (run1Input, _) = runOnce("mg_run1", ckpt)

    // ---- wave 2 arrives while nothing is running; run 2 resumes from ckpt
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    val (run2Input, recoveredMg) = runOnce("mg_run2", ckpt)
    assert(run2Input === wave2Docs,
      s"restart re-read old waves: input $run2Input vs wave-2 $wave2Docs (run1 read $run1Input)")

    // the recovered sketch's candidates must recount to EXACTLY the batch
    // heavy hitters — only possible if the waves-0/1 counter state survived
    // the death (a wave-2-only sketch has no waves-0/1 mass to protect the
    // candidates' deficit bound corpus-wide)
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
    val n = toks.count()
    val recount = toks
      .filter(col("token").isInCollection(recoveredMg.keys.toSeq.sorted))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 31 > lit(n))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.operators.Queries.byName("x57_heavy_hitters").run(spark, sf)
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt"))).toSet
    assert(recount === batch,
      "recovered-sketch recount differs from the batch heavy hitters")
    assert(batch.nonEmpty, "no heavy hitters in the fixture — assertions vacuous")

    // non-vacuity: a FRESH sketch fed only wave 2 carries visibly less
    // count mass than the recovered one — the state really crossed the death
    val (_, freshMg) = runOnce("mg_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    assert(recoveredMg.values.sum > freshMg.values.sum,
      s"recovered sketch mass ${recoveredMg.values.sum} not above fresh wave-2-only mass ${freshMg.values.sum}")
  }

  test("qs26's per-fold moment state restarts from checkpoint: drained encodings equal batch x133") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery26")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val raw = graft.operators.Tables.eventsRawNs(spark, sf)
    def writeWave(i: Int): Unit = {
      raw.filter(pmod(xxhash64(col("event_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.foldMomentsWide(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("enc_run1", ckpt)

    writeWave(2)
    val wave2Rows = raw.filter(pmod(xxhash64(col("event_id")), lit(3)) === 2).count()
    val run2Input = runOnce("enc_run2", ckpt)
    // (a) the checkpoint remembered the ingested file set
    assert(run2Input === wave2Rows,
      s"restart re-read old waves: run 2 input $run2Input vs wave-2 $wave2Rows")

    // (b) the encodings derived from the RECOVERED moment state equal the
    // batch featurizer — only possible if waves 0/1's 10-long moment rows
    // crossed the death (a fresh state would shift every out-of-fold mean)
    val recovered = StreamQueries.foldEncodings(spark.table("enc_run2"))
    val batch = graft.operators.Queries.byName("x133_target_encoding").run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted encodings differ from batch x133")

    // non-vacuity: a fresh wave-2-only run carries visibly less mass
    runOnce("enc_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val massOf = (t: String) => spark.table(t)
      .select((0 until 5).map(f => sum(col(s"n_$f"))).reduce(_ + _)).head().getLong(0)
    assert(massOf("enc_run2") > massOf("enc_fresh"),
      "recovered moment mass not above the fresh wave-2-only mass")
  }

  test("qs27's conformal score histogram restarts from checkpoint: drained audit equals the batch gate") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery27")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = graft.operators.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.conformalHistogram(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("cf_run1", ckpt)

    writeWave(2)
    val wave2Rows = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    val run2Input = runOnce("cf_run2", ckpt)
    // (a) the checkpoint remembered the ingested file set
    assert(run2Input === wave2Rows,
      s"restart re-read old waves: run 2 input $run2Input vs wave-2 $wave2Rows")

    // (b) the RECOVERED histogram equals the batch histogram cell-for-cell
    // — only possible if waves 0/1's count cells crossed the death; the
    // conformal audit over it then equals the batch gate by construction
    val batchHist = StreamQueries.conformalHistogram(docs)
    val recovered = spark.table("cf_run2")
    assert(recovered.exceptAll(batchHist).isEmpty && batchHist.exceptAll(recovered).isEmpty,
      "restarted score histogram differs from the batch histogram")
    val audit = StreamQueries.conformalAudit(recovered).head()
    val registry = graft.operators.Queries.byName("qs27_stream_conformal").run(spark, sf).head()
    assert(audit === registry, "recovered audit differs from the registry drain")

    // non-vacuity: a fresh wave-2-only histogram carries visibly less mass
    runOnce("cf_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val massOf27 = (t: String) =>
      spark.table(t).agg(sum(col("cnt"))).head().getLong(0)
    assert(massOf27("cf_run2") > massOf27("cf_fresh"),
      "recovered histogram mass not above the fresh wave-2-only mass")
  }

  test("qs28's (source, score) histogram restarts from checkpoint: drained test equals batch x144") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery28")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = graft.operators.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.rankSumHistogram(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("rs_run1", ckpt)
    writeWave(2)
    val wave2Rows = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("rs_run2", ckpt) === wave2Rows, "restart re-read old waves")

    // the RECOVERED histogram must equal the batch histogram cell-for-cell,
    // and the shared finisher over it must equal the batch registry test —
    // only possible if waves 0/1's count cells crossed the death
    val batchHist = StreamQueries.rankSumHistogram(docs)
    val recovered = spark.table("rs_run2")
    assert(recovered.exceptAll(batchHist).isEmpty && batchHist.exceptAll(recovered).isEmpty,
      "restarted (source, score) histogram differs from the batch histogram")
    val audit = graft.operators.RankSum.audit(recovered).collect().toSet
    val registry = graft.operators.Queries.byName("x144_rank_sum_drift")
      .run(spark, sf).collect().toSet
    assert(audit === registry, "recovered drift test differs from batch x144")

    runOnce("rs_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val massOf28 = (t: String) =>
      spark.table(t).agg(sum(col("c"))).head().getLong(0)
    assert(massOf28("rs_run2") > massOf28("rs_fresh"),
      "recovered histogram mass not above the fresh wave-2-only mass")
  }

  test("qs29's 1-row BM25 stats state restarts from checkpoint: drained serve equals batch serve (recovery proof #10)") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery29")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = graft.operators.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.bm25StatsWide(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("bm_run1", ckpt)
    writeWave(2)
    val wave2Rows = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("bm_run2", ckpt) === wave2Rows, "restart re-read old waves")

    // the recovered 1-row stats must equal the batch stats FIELD-FOR-FIELD
    // (only possible if waves 0/1's sums crossed the death), and serving
    // from them must equal serving from batch stats through the shared path
    val recovered = spark.table("bm_run2").head()
    val batch = StreamQueries.bm25StatsWide(docs).head()
    assert(recovered === batch, "restarted index stats differ from batch stats")
    val served = StreamQueries.bm25ServeFromStats(spark, sf, recovered).collect().toSeq
    val batchServed = StreamQueries.bm25ServeFromStats(spark, sf, batch).collect().toSeq
    assert(served === batchServed, "recovered serve differs from batch serve")

    // non-vacuity: a fresh wave-2-only run carries visibly fewer docs
    runOnce("bm_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    assert(spark.table("bm_run2").head().getAs[Long]("n")
        > spark.table("bm_fresh").head().getAs[Long]("n"),
      "recovered doc count not above the fresh wave-2-only count")
  }

  test("qs30's k-row IVF cell-moment state restarts from checkpoint: drained cells equal the batch leg (recovery proof #11)") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery30")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    // the frozen manifest, exactly as qs30 derives it (k=16 rows)
    val e = graft.operators.Queries.embWithNorm(spark, sf)
    val cents = graft.operators.Queries.ivfSeedCentroids(
        e.filter(col("vec_id") >= 5 && col("vec_id") % 10 =!= 0), 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2))).toSeq

    val delta = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= 5 && col("vec_id") % 10 === 0)
    def writeWave(i: Int): Unit = {
      delta.filter(pmod(xxhash64(col("vec_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.ivfCellMomentsWide(stream, cents)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("ivf_run1", ckpt)
    writeWave(2)
    val wave2Rows = delta.filter(pmod(xxhash64(col("vec_id")), lit(3)) === 2).count()
    assert(runOnce("ivf_run2", ckpt) === wave2Rows, "restart re-read old waves")

    // the recovered cell table must equal the batch leg CELL-FOR-CELL
    // through the same core — counts AND every quantized moment column —
    // which is only possible if waves 0/1's sums crossed the death
    val recovered = spark.table("ivf_run2")
    val batch = StreamQueries.ivfCellMomentsWide(delta, cents)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted cell-moment table differs from the batch maintenance leg")
    // state is provably k-row: cells are keyed by the 16-row manifest
    assert(recovered.count() <= 16, "state rows exceed the centroid count")

    // non-vacuity: a fresh wave-2-only run carries visibly less cell mass
    runOnce("ivf_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("delta_cnt"))).head().getLong(0)
    assert(mass("ivf_run2") > mass("ivf_fresh"),
      "recovered cell mass not above the fresh wave-2-only mass")
  }

  test("qs37's k-row code/tombstone state restarts from checkpoint: recovered compaction decision equals the batch audit (recovery proof #17)") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery37")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    // the frozen manifest, exactly as qs37 derives it (k=16 rows over the
    // FULL base — the x157/x158 seeding)
    val e = graft.operators.Queries.embWithNorm(spark, sf)
    val cents = graft.operators.Queries.ivfSeedCentroids(
        e.filter(col("vec_id") >= 5), 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2))).toSeq

    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= 5)
    def writeWave(i: Int): Unit = {
      base.filter(pmod(xxhash64(col("vec_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.ivfCellCodeCounts(stream, cents)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("cmp_run1", ckpt)
    writeWave(2)
    val wave2Rows = base.filter(pmod(xxhash64(col("vec_id")), lit(3)) === 2).count()
    assert(runOnce("cmp_run2", ckpt) === wave2Rows, "restart re-read old waves")

    // the recovered DECISION must equal the batch audit cell-for-cell
    // through the shared finisher — only possible if waves 0/1's code and
    // tombstone sums crossed the death (a fresh state undercounts both,
    // which shifts live_ppm and can flip the rebuild flag)
    val recovered = graft.operators.Queries.compactionDecision(spark.table("cmp_run2"))
    val batch = graft.operators.Queries.compactionDecision(
      StreamQueries.ivfCellCodeCounts(base, cents))
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted compaction decision differs from the batch audit")
    // state is provably k-row: cells are keyed by the 16-row manifest
    assert(spark.table("cmp_run2").count() <= 16, "state rows exceed the centroid count")
    // non-vacuity: tombstones genuinely accumulated somewhere
    assert(spark.table("cmp_run2").agg(sum(col("n_tombstoned"))).head().getLong(0) > 0,
      "no tombstoned codes - the delete side is vacuous")

    // non-vacuity: a fresh wave-2-only run carries visibly less code mass
    runOnce("cmp_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("n_codes"))).head().getLong(0)
    assert(mass("cmp_run2") > mass("cmp_fresh"),
      "recovered code mass not above the fresh wave-2-only mass")
  }

  test("qs38's |sources x langs|-row fertility state restarts from checkpoint: drained ratios equal batch x162 (recovery proof #18)") {
    val root = graft.util.TempDirs.create("graft-recovery38")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = graft.operators.Queries.fertilityMoments(
          StreamQueries.docsStreamFrom(spark, from))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("fert_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("fert_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the recovered ratio table must equal batch x162 row-for-row — only
    // possible if waves 0/1's 5-long sums crossed the death (a fresh
    // state shifts every token and byte total)
    val recovered = graft.operators.Queries.fertilityFinish(spark.table("fert_run2"))
    val batch = graft.operators.Queries.byName("x162_tokenizer_fertility").run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted fertility dashboard differs from batch x162")

    // non-vacuity: a fresh wave-2-only run carries visibly fewer tokens
    runOnce("fert_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("re_tokens"))).head().getLong(0)
    assert(mass("fert_run2") > mass("fert_fresh"),
      "recovered token mass not above the fresh wave-2-only mass")
  }

  test("qs31's |sources|-row token-count state restarts from checkpoint: drained solve equals batch x150 (recovery proof #12)") {
    val root = graft.util.TempDirs.create("graft-recovery31")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = StreamQueries.sourceTokenCounts(
          StreamQueries.docsStreamFrom(spark, from))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("mix_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("mix_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the recovered counts must equal the batch recount EXACTLY — the
    // closed-form solve is deterministic in the counts, so drained-solve ==
    // batch-x150 reduces to count equality across the death
    val recovered = spark.table("mix_run2")
    val batchCounts = StreamQueries.sourceTokenCounts(docs)
    assert(recovered.exceptAll(batchCounts).isEmpty &&
      batchCounts.exceptAll(recovered).isEmpty,
      "restarted per-source token counts differ from the batch recount")
    // state is provably |sources|-row
    assert(recovered.count() === batchCounts.count(),
      "state rows exceed the source count")

    // the solve over the recovered counts must equal the registry's batch
    // leg row-for-row (the qs31 audit's own contract)
    val solved = graft.operators.Queries.cappedMixtureAlloc(recovered)
    val batchSolve = graft.operators.Queries.cappedMixtureAlloc(batchCounts)
    assert(solved.exceptAll(batchSolve).isEmpty &&
      batchSolve.exceptAll(solved).isEmpty,
      "solve over recovered counts differs from the batch solve")

    // non-vacuity: a fresh wave-2-only run carries visibly less token mass
    runOnce("mix_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("n_tokens"))).head().getLong(0)
    assert(mass("mix_run2") > mass("mix_fresh"),
      "recovered token mass not above the fresh wave-2-only mass")
  }

  test("qs33's signed-CDC aggregate state restarts from checkpoint: drained view equals x121's rebuild (recovery proof #13)") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery33")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val raw = graft.operators.Tables.eventsRawNs(spark, sf)
    def writeWave(i: Int): Unit = {
      raw.filter(pmod(xxhash64(col("event_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.cdcSignedAgg(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("cdc_run1", ckpt)
    writeWave(2)
    val wave2Rows = raw.filter(pmod(xxhash64(col("event_id")), lit(3)) === 2).count()
    assert(runOnce("cdc_run2", ckpt) === wave2Rows, "restart re-read old waves")

    // the recovered signed sums must equal the batch core exactly — only
    // possible if waves 0/1's (n, sum_cents) state crossed the death,
    // RETRACTIONS INCLUDED (a fresh state would miss their deletes)
    val recovered = spark.table("cdc_run2").filter(col("n") > 0)
    val batch = StreamQueries.cdcSignedAgg(
      graft.operators.Tables.events(spark, sf)).filter(col("n") > 0)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted signed-CDC view differs from the batch core")
    // deletes genuinely crossed the death
    val earlyDeletes = raw.filter(pmod(xxhash64(col("event_id")), lit(3)) < 2 &&
      col("event_id") % 89 === 0).count()
    assert(earlyDeletes > 0, "no pre-death deletes - the retraction path is unexercised")

    // non-vacuity: a fresh wave-2-only run carries visibly less mass
    runOnce("cdc_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("n"))).head().getLong(0)
    assert(mass("cdc_run2") > mass("cdc_fresh"),
      "recovered row mass not above the fresh wave-2-only mass")
  }

  test("qs34's per-custkey factorized join state restarts from checkpoint: drained fold equals the join rebuild (recovery proof #14)") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery34")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val (ord, cust) = StreamQueries.joinCdcBatch(spark, sf)
    def writeWave(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      df.drop("src_key").coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("side", StringType), StructField("k", LongType),
      StructField("cents", LongType), StructField("seg", StringType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = StreamQueries.joinViewKeyState(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    // pre-death: dim base + fact base (the registry query's wave order)
    writeWave(cust.filter(col("src_key") % 17 =!= 0), 0)
    writeWave(ord.filter(col("src_key") % 10 =!= 0), 1)
    runOnce("jv_run1", ckpt)
    // post-death: the LATE dim and fact deltas
    writeWave(cust.filter(col("src_key") % 17 === 0), 2)
    writeWave(ord.filter(col("src_key") % 10 === 0), 3)
    val lateRows = cust.filter(col("src_key") % 17 === 0).count() +
      ord.filter(col("src_key") % 10 === 0).count()
    assert(runOnce("jv_run2", ckpt) === lateRows, "restart re-read old waves")

    // the recovered fold equals the full join rebuild — only possible if
    // the pre-death per-key fact sums survived: the late dim rows must
    // CLAIM orders that arrived before the death (a fresh state drops them)
    val recovered = StreamQueries.joinViewFold(spark.table("jv_run2"))
    val batch = StreamQueries.joinViewFold(StreamQueries.joinViewKeyState(
      ord.drop("src_key").unionByName(cust.drop("src_key"))))
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted join view differs from the full rebuild")
    val claimedAcrossDeath = ord.filter(col("src_key") % 10 =!= 0)
      .join(cust.filter(col("src_key") % 17 === 0).select(col("k")), "k").count()
    assert(claimedAcrossDeath > 0,
      "no pre-death orders claimed by late dim rows - the recovery claim is vacuous")

    // non-vacuity: a fresh run over the fact delta alone has NO dim rows,
    // so its inner-join fold is empty while the recovered fold is not
    runOnce("jv_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-3").toString)
    assert(recovered.count() > 0, "recovered fold is empty")
    assert(StreamQueries.joinViewFold(spark.table("jv_fresh")).count() === 0,
      "fact-only fold nonempty - the dim-dependency check is vacuous")
  }

  test("qs35's |sources|-row IPS moment state restarts from checkpoint: drained estimator equals batch x156 (recovery proof #15)") {
    val root = graft.util.TempDirs.create("graft-recovery35")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = graft.operators.Queries.ipsMoments(
          StreamQueries.docsStreamFrom(spark, from))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("ips_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("ips_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the estimator over the RECOVERED moments must equal batch x156 —
    // only possible if waves 0/1's 6-long rows crossed the death (a fresh
    // state would shift every ninths sum and every truth total)
    val recovered = graft.operators.Queries.ipsFinish(spark.table("ips_run2"))
    val batch = graft.operators.Queries.byName("x156_ips_filter_eval").run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted IPS estimator differs from batch x156")

    // non-vacuity: a fresh wave-2-only run carries visibly less logged mass
    runOnce("ips_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("n_logged"))).head().getLong(0)
    assert(mass("ips_run2") > mass("ips_fresh"),
      "recovered logged mass not above the fresh wave-2-only mass")
  }

  test("qs36's |event_types|-row Welch moment state restarts from checkpoint: drained dashboard equals batch x117 (recovery proof #16)") {
    import org.apache.spark.sql.types._
    val root = graft.util.TempDirs.create("graft-recovery36")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val raw = graft.operators.Tables.eventsRawNs(spark, sf)
    def writeWave(i: Int): Unit = {
      raw.filter(pmod(xxhash64(col("event_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val stream = spark.readStream.schema(sch)
        .option("recursiveFileLookup", "true").parquet(from)
      val q = graft.operators.Queries.abMoments(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("ab_run1", ckpt)
    writeWave(2)
    val wave2Rows = raw.filter(pmod(xxhash64(col("event_id")), lit(3)) === 2).count()
    assert(runOnce("ab_run2", ckpt) === wave2Rows, "restart re-read old waves")

    // the finisher over the RECOVERED moments must equal batch x117 —
    // only possible if waves 0/1's 6-long rows crossed the death (a
    // fresh state would shift every variance and flip marginal flags)
    val recovered = graft.operators.Queries.x117Finish(spark, spark.table("ab_run2"))
    val batch = graft.operators.Queries.byName("x117_ab_welch").run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted A/B dashboard differs from batch x117")

    // non-vacuity: a fresh wave-2-only run carries visibly fewer samples
    runOnce("ab_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t)
      .agg(sum(col("n_a") + col("n_b"))).head().getLong(0)
    assert(mass("ab_run2") > mass("ab_fresh"),
      "recovered sample mass not above the fresh wave-2-only mass")
  }

  test("qs39's k-per-source priority-sample state restarts from checkpoint: drained sample equals batch x165 (recovery proof #19)") {
    // initialize the Queries registry BEFORE first touching StreamQueries:
    // StreamQueries.all strictly references Queries' oracle SQL and
    // Queries.all references StreamQueries.all, so the only safe clinit
    // order is Queries-first (every other recovery test gets this for free
    // by calling a graft.operators.Queries core before the stream run)
    val batchQ = graft.operators.Queries.byName("x165_priority_sample")
    val root = graft.util.TempDirs.create("graft-recovery39")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = StreamQueries.prioritySampleAgg(
          StreamQueries.docsStreamFrom(spark, from))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("pri_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("pri_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the recovered winner set must equal batch x165 row-for-row — only
    // possible if waves 0/1's per-source reservoirs crossed the death (a
    // fresh k-sample over wave 2 alone picks different winners)
    val recovered = StreamQueries.prioritySampleFinish(spark.table("pri_run2"))
    val batch = batchQ.run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted priority sample differs from batch x165")

    // state is provably k-bounded: at most 10 entries per source
    val maxLen = spark.table("pri_run2")
      .agg(max(size(col("sample")))).head().getInt(0)
    assert(maxLen <= 10, s"a source's reservoir holds $maxLen > k entries")

    // non-vacuity: the fresh wave-2-only sample genuinely differs (the
    // recovered state changed the winner set)
    runOnce("pri_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val fresh = StreamQueries.prioritySampleFinish(spark.table("pri_fresh"))
    assert(!recovered.exceptAll(fresh).isEmpty,
      "wave-2-only sample equals the full sample - the recovery proved nothing")
  }

  test("qs40's 256-row shard state restarts from checkpoint: recovered dedup-index compaction decision equals the batch audit (recovery proof #20)") {
    val root = graft.util.TempDirs.create("graft-recovery40")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = graft.operators.Queries.dedupShardCounts(
          StreamQueries.docsStreamFrom(spark, from))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("shc_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("shc_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the recovered DECISION must equal the batch recount shard-for-shard
    // through the shared finisher — only possible if waves 0/1's posting
    // and tombstone sums crossed the death (a fresh state undercounts
    // both, which shifts live_ppm and can flip the rebuild flag)
    val recovered = graft.operators.Queries.compactionDecision(
      spark.table("shc_run2"), entryBytes = 48L)
    val batch = graft.operators.Queries.compactionDecision(
      graft.operators.Queries.dedupShardCounts(docs), entryBytes = 48L)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted dedup-index compaction decision differs from the batch audit")
    // state is provably index-geometry-bounded: 2-hex-char prefix shards
    assert(spark.table("shc_run2").count() <= 256, "state rows exceed the shard count")
    // non-vacuity: tombstones genuinely accumulated somewhere
    assert(spark.table("shc_run2").agg(sum(col("n_tombstoned"))).head().getLong(0) > 0,
      "no tombstoned postings - the delete side is vacuous")

    // non-vacuity: a fresh wave-2-only run carries visibly less posting mass
    runOnce("shc_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("n_codes"))).head().getLong(0)
    assert(mass("shc_run2") > mass("shc_fresh"),
      "recovered posting mass not above the fresh wave-2-only mass")
  }

  test("qs41's 5-row threshold state restarts from checkpoint: recovered operating-point curve equals batch x175 (recovery proof #21)") {
    val root = graft.util.TempDirs.create("graft-recovery41")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val (prior, keys, vals) = graft.operators.Queries.nbModelFrozen(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = graft.operators.Queries.operatingPointCore(
          StreamQueries.opPointScored(
            StreamQueries.docsStreamFrom(spark, from), prior, keys, vals))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("opc_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("opc_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the recovered curve must equal batch x175 rung-for-rung through the
    // shared finisher — only possible if waves 0/1's confusion sums
    // crossed the death (a fresh state undercounts every rung)
    val recovered = graft.operators.Queries.operatingPointFinish(spark.table("opc_run2"))
    val batch = graft.operators.Queries.byName("x175_operating_point").run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted operating-point curve differs from batch x175")
    // state is provably threshold-count-bounded
    assert(spark.table("opc_run2").count() <= 5, "state rows exceed the threshold count")
    // non-vacuity: a fresh wave-2-only run carries visibly fewer docs
    runOnce("opc_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("n_docs"))).head().getLong(0)
    assert(mass("opc_run2") > mass("opc_fresh"),
      "recovered doc mass not above the fresh wave-2-only mass")
  }

  test("qs42's per-source state restarts from checkpoint: recovered excision economics equal batch x172 (recovery proof #22)") {
    val root = graft.util.TempDirs.create("graft-recovery42")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val bench = graft.operators.Queries.excisionBench(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = graft.operators.Queries.excisionAudit(
          StreamQueries.docsStreamFrom(spark, from), bench)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("exc_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("exc_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the recovered economics must equal batch x172 source-for-source
    // through the shared finisher — only possible if waves 0/1's audit
    // sums crossed the death (a fresh state undercounts every column)
    val recovered = graft.operators.Queries.excisionFinish(spark.table("exc_run2"))
    val batch = graft.operators.Queries.byName("x172_contamination_excision").run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted excision economics differ from batch x172")
    // state is provably source-count-bounded
    val nSources = docs.select(col("source")).distinct().count()
    assert(spark.table("exc_run2").count() <= nSources, "state rows exceed the source count")
    // non-vacuity: a fresh wave-2-only run carries visibly fewer tokens
    runOnce("exc_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass2 = (t: String) => spark.table(t).agg(sum(col("tokens_total"))).head().getLong(0)
    assert(mass2("exc_run2") > mass2("exc_fresh"),
      "recovered token mass not above the fresh wave-2-only mass")
  }

  test("qs43's incidence-index state restarts from checkpoint: recovered novelty forecast equals batch x177 (recovery proof #23)") {
    val root = graft.util.TempDirs.create("graft-recovery43")
    val srcDir = Files.createDirectories(root.resolve("waves"))
    val ckpt = root.resolve("ckpt").toString

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeWave(i: Int): Unit = {
      docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i)
        .coalesce(1).write.parquet(srcDir.resolve(s"wave-$i").toString)
      Thread.sleep(5)
    }

    def runOnce(name: String, checkpoint: String,
        from: String = srcDir.toString): Long = {
      val q = graft.operators.Queries.noveltyIncidence(
          StreamQueries.docsStreamFrom(spark, from))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    writeWave(0); writeWave(1)
    runOnce("nov_run1", ckpt)
    writeWave(2)
    val wave2Docs = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 2).count()
    assert(runOnce("nov_run2", ckpt) === wave2Docs, "restart re-read old waves")

    // the recovered estimators must equal batch x177 source-for-source —
    // only possible if waves 0/1's incidence counts crossed the death
    // (a fresh index inflates f1: old shingles look like singletons)
    val recovered = graft.operators.Queries.noveltyFinish(spark.table("nov_run2"))
    val batch = graft.operators.Queries.byName("x177_novelty_forecast").run(spark, sf)
    assert(recovered.exceptAll(batch).isEmpty && batch.exceptAll(recovered).isEmpty,
      "restarted novelty forecast differs from batch x177")
    // the state IS the incidence index: exactly one row per live
    // (source, shingle) species + one sentinel per source
    val expectedRows = docs
      .select(col("source"), explode(expr("graft_shingle_hashes(split(text, ' '), 3)")).as("h"))
      .distinct().count() + docs.select(col("source")).distinct().count()
    assert(spark.table("nov_run2").count() === expectedRows,
      "state rows diverge from the incidence-index cardinality")
    // non-vacuity: a fresh wave-2-only run sees fewer incidences
    runOnce("nov_fresh", root.resolve("ckpt-fresh").toString,
      srcDir.resolve("wave-2").toString)
    val mass = (t: String) => spark.table(t).agg(sum(col("c"))).head().getLong(0)
    assert(mass("nov_run2") > mass("nov_fresh"),
      "recovered incidence mass not above the fresh wave-2-only mass")
  }

  test("runToTable drops its sink_ view; the returned frame still reads the sink's rows") {
    def sinkViews = spark.catalog.listTables().collect()
      .count(t => t.isTemporary && t.name.startsWith("sink_"))
    // qs3 selects on top of the drained sink frame after the view is gone
    val df = graft.operators.Queries.byName("qs3_stream_state").run(spark, sf)
    assert(sinkViews === 0, "a memory-sink view outlived its qs run")
    val rows = df.collect().map(_.toString).sorted.toSeq
    assert(rows.nonEmpty)
    assert(df.collect().map(_.toString).sorted.toSeq === rows, "second read diverged")
  }
}
