package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Queries

/** Scale-evidence probes for the operator LEGS that registry-level timing
  * can't separate (r10, verdict item 2):
  *
  *   - `x149_maint`  — the IVF delta-add MAINTENANCE leg alone: frozen
  *     base centroids pinned as a local frame (production reads them from
  *     the stored index), timing covers ONLY the delta assignment pass.
  *     The registry query's own time is brute-ground-truth-dominated by
  *     contract (the audit exists to measure recall), so the maintenance
  *     claim needs its own number.
  *   - `x149_serve`  — the production serving leg: rank the probed cells
  *     of the maintained (base ∪ delta) assignment for the 5 queries —
  *     no brute pass anywhere.
  *   - `x135_routed` — the split-leak audit with
  *     spark.graft.splitleak.broadcastTestCap=0, forcing the IVF-routed
  *     leg at any size (the r9 verdict's unmeasured claim).
  *   - `x135_exact`  — the same corpus through the default exact leg, for
  *     the same-window cost ratio.
  *
  * Usage: runMain graft.tools.ScaleProbes <probe> <dir> [reps] [key=value ...]
  * Prints one JSON line; timing protocol is Bench/ScaleCurve's
  * `Harness.timedReps` (median-of-N, noop-sink full materialization,
  * cache clear per rep) except where a probe says otherwise.
  */
object ScaleProbes {
  def main(args: Array[String]): Unit = {
    val probe = args(0)
    val dir = args(1)
    val reps = if (args.length > 2 && !args(2).contains('=')) args(2).toInt else 3
    // trailing key=value args become session-build confs — lets a probe
    // A/B hadoop/fs-level settings that must be present before getOrCreate
    val spark = Harness.session("graft-scaleprobes", args.drop(2).filter(_.contains('=')).toSeq)
    def timed(build: () => DataFrame): Seq[Double] = Harness.timedReps(spark, reps)(build)

    // frozen centroids pinned OUTSIDE the timer: production maintenance
    // reads them from the stored index artifact, never re-derives them
    lazy val pinnedCents = {
      val e = Queries.embWithNorm(spark, dir)
      val base = e.filter(col("vec_id") >= 5 && col("vec_id") % 10 =!= 0)
      val rows = Queries.ivfSeedCentroids(base, 16).collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        Queries.ivfSeedCentroids(base, 16).schema)
    }

    val times = probe match {
      case "x149_maint" =>
        val cents = pinnedCents
        timed { () =>
          val delta = Queries.embWithNorm(spark, dir)
            .filter(col("vec_id") >= 5 && col("vec_id") % 10 === 0)
          Queries.ivfAssigned(delta, cents)
        }
      case "x149_serve" =>
        val cents = pinnedCents
        timed { () =>
          val e = Queries.embWithNorm(spark, dir)
          val corpus = e.filter(col("vec_id") >= 5)
          val maintained = Queries.ivfAssigned(corpus.filter(col("vec_id") % 10 =!= 0), cents)
            .unionByName(Queries.ivfAssigned(corpus.filter(col("vec_id") % 10 === 0), cents))
          val queries = e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
          val wq = Window.partitionBy(col("query_id"))
            .orderBy(col("csim").desc, col("cent_id").asc)
          val probes = queries.join(broadcast(cents))
            .withColumn("csim", expr("graft_dot(qv, cv)") / (col("qn") * col("cn")))
            .withColumn("crank", row_number().over(wq))
            .filter(col("crank") <= 4)
            .select(col("query_id"), col("cent_id"), col("qv"), col("qn"))
          val wv = Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)
          maintained.join(broadcast(probes), Seq("cent_id")) // probed cells only
            .withColumn("cos", expr("graft_dot(qv, v)") / (col("qn") * col("nrm")))
            .withColumn("rn", row_number().over(wv)).filter(col("rn") <= 10)
            .select(col("query_id"), col("vec_id"), col("cos"))
        }
      case "x151_maint" =>
        // the index-maintenance leg alone: base-side artifacts (df_base,
        // N_base, Σdl_base) pinned OUTSIDE the timer — production reads
        // them from the stored index manifest; timing covers the delta
        // postings scan, the per-term df combine, and the stat adds
        val terms = Seq("dup", "vector", "join")
        val docsAll = graft.operators.Tables.documents(spark, dir)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        val baseRows = Queries.bm25TermPostings(
            docsAll.filter(col("doc_id") % 10 =!= 0), terms)
          .groupBy(col("token")).agg(count_distinct(col("doc_id")).as("dfb")).collect()
        val dfBPinned = spark.createDataFrame(
          java.util.Arrays.asList(baseRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("token",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("dfb",
              org.apache.spark.sql.types.LongType))))
        timed { () =>
          val delta = docsAll.filter(col("doc_id") % 10 === 0)
          val postD = Queries.bm25TermPostings(delta, terms)
          val dfD = postD.groupBy(col("token")).agg(count_distinct(col("doc_id")).as("dfd"))
          val stats = delta.agg(count(lit(1)).as("n_d"),
            sum(size(col("tk")).cast("long")).as("sdl_d"))
          dfBPinned.join(dfD, Seq("token"), "full_outer")
            .select(col("token"),
              (coalesce(col("dfb"), lit(0L)) + coalesce(col("dfd"), lit(0L))).as("df"))
            .crossJoin(stats) // 3x1 rows: the maintained manifest update
        }
      case "x112_train" =>
        // the codebook-training leg alone: one seeded Lloyd round over the
        // subspace decomposition (x102's trainer, exactly what x112's
        // train_codebook producer runs)
        timed { () =>
          val subs = Queries.pqSubspaces(spark, dir)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          Queries.pqCodebook(subs).coalesce(1)
        }
      case "x112_encode" =>
        // the corpus-encode leg against a PUBLISHED codebook: the codebook
        // artifact is written outside the timer (production re-encodes new
        // slices against the stored artifact — x49's frozen-index
        // discipline), so timing covers one corpus scan + the single
        // map-side-combined encode shuffle
        val cbDir = java.nio.file.Files.createTempDirectory("x112cb").toString
        Queries.pqCodebook(Queries.pqSubspaces(spark, dir)).coalesce(1)
          .write.mode("overwrite").parquet(cbDir)
        timed { () =>
          Queries.pqEncode(Queries.pqSubspaces(spark, dir),
            spark.read.parquet(cbDir)).coalesce(4)
        }
      case "x112_serve" =>
        // the two-stage serve leg alone, from PUBLISHED artifacts: codebook
        // + codes parquet written outside the timer (the registry query's
        // 4.3 s is lifecycle-dominated — train + encode + WAP audits + real
        // artifact writes; this probe prices what a deployed index pays per
        // query batch: the codes-only ADC scan, the ≤64/query shortlist
        // broadcast, and the exact re-rank against the vector store)
        val base = java.nio.file.Files.createTempDirectory("x112art").toString
        val subsAll = Queries.pqSubspaces(spark, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Queries.pqCodebook(subsAll).coalesce(1)
          .write.mode("overwrite").parquet(s"$base/cb")
        Queries.pqEncode(subsAll, spark.read.parquet(s"$base/cb")).coalesce(4)
          .write.mode("overwrite").parquet(s"$base/codes")
        subsAll.unpersist(blocking = false)
        timed { () =>
          val cb = spark.read.parquet(s"$base/cb")
          val cds = spark.read.parquet(s"$base/codes")
          val vsubs = Queries.pqSubspaces(spark, dir)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val qsubs = vsubs.filter(col("vec_id") < 10)
            .withColumnRenamed("vec_id", "qid")
          val lut = qsubs.join(broadcast(cb), "s")
            .withColumn("d", Queries.pqDist2)
            .select(col("qid"), col("s"), col("c"), col("d"))
          val melted = cds.select(col("vec_id"), posexplode(array(
            (0 until 8).map(s => col(s"c$s")): _*)).as(Seq("s", "c")))
          val wAdc = Window.partitionBy(col("qid"))
            .orderBy(col("adc_micro2").asc, col("vec_id").asc)
          val shortlist = melted.join(broadcast(lut), Seq("s", "c"))
            .groupBy(col("qid"), col("vec_id"))
            .agg(sum(col("d")).as("adc_micro2"))
            .withColumn("rn", row_number().over(wAdc))
            .filter(col("rn") <= 64)
            .select(col("qid"), col("vec_id"), col("adc_micro2"))
          val wEx = Window.partitionBy(col("qid"))
            .orderBy(col("exact_micro2").asc, col("vec_id").asc)
          vsubs.join(broadcast(shortlist), "vec_id")
            .join(broadcast(qsubs.select(col("qid"), col("s"), col("sub").as("qsub"))),
              Seq("qid", "s"))
            .withColumn("d2", expr(
              "aggregate(zip_with(sub, qsub, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
            .groupBy(col("qid"), col("vec_id"), col("adc_micro2"))
            .agg(sum(col("d2")).as("exact_micro2"))
            .withColumn("rnk", row_number().over(wEx))
            .filter(col("rnk") <= 3)
            .select(col("qid"), col("rnk"), col("vec_id"),
              col("adc_micro2"), col("exact_micro2"))
        }
      case "x44_graph" =>
        // the corpus-dependent TextRank leg alone: one scan -> bigram
        // groupBy -> c12>=5 filter -> w1-window out-weights
        timed(() => Queries.textrankTrans(spark, dir))
      case "x44_iter" =>
        // the vocab-bounded leg: two power iterations + global ranking
        // against a transition frame pinned + materialized OUTSIDE the
        // timer (production iterates over a stored edge artifact). No
        // per-rep cache clear: that would evict the pinned leg itself.
        val trans = Queries.textrankTrans(spark, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        trans.write.format("noop").mode("overwrite").save()
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          Queries.textrankRank(spark, trans).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      case "x123_matrix" =>
        // the corpus-scale Bradley-Terry leg alone: the order-keyed
        // self-join collapsed into the |items|²-bounded matrix
        timed { () =>
          Queries.btMatrix(graft.operators.Tables.lineitem(spark, dir)
            .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
              col("l_quantity").as("qty")))
        }
      case "x123_mm" =>
        // the solve alone: item filter + 4 MM rounds + ranking against a
        // matrix pinned + materialized OUTSIDE the timer (production
        // iterates over a stored matrix artifact). No per-rep cache
        // clear: that would evict the pinned leg itself.
        val mtx = Queries.btMatrix(graft.operators.Tables.lineitem(spark, dir)
            .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
              col("l_quantity").as("qty")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        mtx.write.format("noop").mode("overwrite").save()
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          Queries.btSolve(spark, mtx, releaseMatrix = false)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      case "x2_legs" =>
        // r12 opt: the pair engine's internal composition — (a) the shingle
        // kernel scan, (b) the adaptive df-cap probe (dfs agg + max action),
        // (c) the posting self-join + jac verify given (a)+(b) warm. One
        // JSON per leg would fight the shared-persist design, so this probe
        // prints its own three-leg line and exits.
        val t = (1 to reps).map { _ =>
          Harness.clearCaches(spark)
          val t0 = System.nanoTime()
          val docs = Queries.shingleSets(
            graft.operators.Tables.documents(spark, dir)).persist()
          docs.write.format("noop").mode("overwrite").save()
          val t1 = System.nanoTime()
          val posts = docs.select(col("doc_id"), explode(col("sh")).as("s"))
          val dfs = posts.groupBy(col("s")).agg(count(lit(1)).as("df"))
          val maxDf = Option(dfs.agg(max(col("df"))).head().get(0)).fold(0L)(_.asInstanceOf[Long])
          val t2 = System.nanoTime()
          Queries.nearDupPairs(docs).write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          (maxDf, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        }
        val m = t(t.size / 2)
        def n4(d: Double) = f"$d%.4f"
        println("{\"probe\":\"x2_legs\",\"maxDf\":" + m._1 +
          ",\"shingle_s\":" + n4(m._2) + ",\"dfprobe_s\":" + n4(m._3) +
          ",\"pairs_s\":" + n4(m._4) + "}")
        spark.stop()
        return
      case "x135_routed" =>
        spark.conf.set("spark.graft.splitleak.broadcastTestCap", "0")
        timed(() => Queries.byName("x135_semantic_split_leak").run(spark, dir))
      case "x135_exact" =>
        timed(() => Queries.byName("x135_semantic_split_leak").run(spark, dir))
      case "x152_width_ab" =>
        // r11 verdict item 6: the interleave audit at PRODUCTION bucket
        // width — hexChars=4 (65 536 buckets, the width a 1000-executor
        // cluster would run so bucket partitions stay narrow) vs the
        // default 2 (256), INTERLEAVED in one JVM with per-rep arm-order
        // alternation (separate-JVM runs of this query measure JIT
        // warmup, not the operator — observed 19→3 s decay across reps
        // on the 100× corpus). The claim under
        // test: the ≤2·buckets border stitch and the |sources|-row walk
        // stay flat as buckets scale ×256.
        val fn152 = Queries.byName("x152_shuffle_quality")
        def once152(hex: String): Double = {
          spark.conf.set("spark.graft.shuffleaudit.hexChars", hex)
          Harness.timedReps(spark, 1)(() => fn152.run(spark, dir)).head
        }
        try once152("2") catch { case _: Throwable => () } // untimed warmup
        val arms152 = (1 to reps).flatMap { rep =>
          (if (rep % 2 == 0) Seq("2", "4") else Seq("4", "2")).map(h => h -> once152(h))
        }
        def med152(h: String) = {
          val t = arms152.filter(_._1 == h).map(_._2).sorted
          t(t.size / 2)
        }
        spark.conf.unset("spark.graft.shuffleaudit.hexChars")
        println(f"""{"probe":"x152_width_ab","dir":"$dir","hex2_median_sec":${med152("2")}%.3f,"hex4_median_sec":${med152("4")}%.3f,"reps":$reps}""")
        spark.stop()
        return
      case "qs34_update" =>
        // the PRODUCTION emission shape for qs34's join-view maintenance:
        // update-mode (changed keys only) into a noop sink. The registry
        // query's complete-mode drain re-emits the FULL |custkeys|-row
        // state per micro-batch through the harness memory sink BY DESIGN
        // (the exactness instrument needs the whole view to hash), so its
        // scale reading is drain volume, not maintenance cost — this probe
        // is the number a deployed update-mode view pays: state updates +
        // per-batch delta emission, no driver materialization anywhere.
        import org.apache.spark.sql.streaming.{OutputMode, Trigger}
        def onceQs34(): Double = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val q = graft.streaming.StreamQueries.joinViewKeyState(
              graft.streaming.StreamQueries.joinCdcStream(spark, dir))
            .writeStream.format("noop").outputMode(OutputMode.Update())
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        // untimed warmup: pays the one-time joinCdcWaves materialization
        // (memoized per dir) + codegen, matching the sibling probes'
        // discipline so the timed median isn't skewed at low rep counts
        try onceQs34() catch { case _: Throwable => () }
        (1 to reps).map(_ => onceQs34())
      case "qs34_delta" =>
        // r11 verdict item 3: isolate qs34's MAINTENANCE cost from ingest.
        // The qs34_update probe replays the ENTIRE feed as deltas (a cold
        // start), so its scale slope reads ingest volume. This probe is
        // the steady-state number: per rep, a FRESH checkpoint ingests the
        // two base waves (untimed — that is the standing view's history),
        // then the two delta waves (~10% of facts, ~6% of dims) land in
        // the source dir and ONLY the restarted update-mode replay over
        // the new files is timed — the file-source checkpoint skips the
        // already-seen base files, so the timed run covers exactly: state
        // reload + delta assignment into per-key factorized state +
        // changed-key emission. A final no-new-files restart is timed too
        // (the micro-batch floor), so delta cost above harness floor is
        // explicit. Prediction under the factorized-state claim: delta_sec
        // tracks DELTA volume, near-flat vs corpus scale.
        import org.apache.spark.sql.streaming.{OutputMode, Trigger}
        import java.nio.file.{Files, Path, Paths, StandardCopyOption}
        val (ordCdc, custCdc) = graft.streaming.StreamQueries.joinCdcBatch(spark, dir)
        val stash = Files.createTempDirectory("graft-qs34delta-stash")
        def writeWave(df: DataFrame, p: Path): Unit =
          df.drop("src_key").coalesce(1).write.parquet(p.toString)
        writeWave(custCdc.filter(col("src_key") % 17 =!= 0), stash.resolve("wave-0"))
        writeWave(ordCdc.filter(col("src_key") % 10 =!= 0), stash.resolve("wave-1"))
        writeWave(custCdc.filter(col("src_key") % 17 === 0), stash.resolve("wave-2"))
        writeWave(ordCdc.filter(col("src_key") % 10 === 0), stash.resolve("wave-3"))
        def copyTree(from: Path, to: Path): Unit = {
          Files.createDirectories(to)
          Files.list(from).forEach(f =>
            Files.copy(f, to.resolve(f.getFileName.toString),
              StandardCopyOption.REPLACE_EXISTING))
        }
        def deleteTree(p: Path): Unit = if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
        def drain(src: Path, ckpt: Path): Double = {
          val schema = graft.streaming.StreamQueries.joinCdcSchema
          val t0 = System.nanoTime()
          val q = graft.streaming.StreamQueries.joinViewKeyState(
              spark.readStream.schema(schema)
                .option("recursiveFileLookup", "true")
                .option("maxFilesPerTrigger", "1")
                .parquet(src.toString))
            .writeStream.format("noop").outputMode(OutputMode.Update())
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        def oneCycle(): (Double, Double, Double) = {
          val src = Files.createTempDirectory("graft-qs34delta-src")
          val ckpt = Files.createTempDirectory("graft-qs34delta-ckpt")
          copyTree(stash.resolve("wave-0"), src.resolve("wave-0"))
          copyTree(stash.resolve("wave-1"), src.resolve("wave-1"))
          val baseSec = drain(src, ckpt) // untimed in spirit: reported for context
          copyTree(stash.resolve("wave-2"), src.resolve("wave-2"))
          copyTree(stash.resolve("wave-3"), src.resolve("wave-3"))
          val deltaSec = drain(src, ckpt) // ONLY the new files replay
          val floorSec = drain(src, ckpt) // no new files: harness floor
          deleteTree(src); deleteTree(ckpt)
          (baseSec, deltaSec, floorSec)
        }
        try oneCycle() catch { case _: Throwable => () } // untimed warmup cycle
        val cycles = (1 to reps).map(_ => oneCycle())
        def medOf(xs: Seq[Double]) = { val s = xs.sorted; s(s.size / 2) }
        println(f"""{"probe":"qs34_delta","dir":"$dir","base_median_sec":${medOf(cycles.map(_._1))}%.3f,"delta_median_sec":${medOf(cycles.map(_._2))}%.3f,"floor_median_sec":${medOf(cycles.map(_._3))}%.3f,"reps":$reps}""")
        deleteTree(stash)
        spark.stop()
        return
      case other => sys.error(s"unknown probe $other")
    }
    val sorted = times.sorted
    val median = sorted(sorted.size / 2)
    println(f"""{"probe":"$probe","dir":"$dir","median_sec":$median%.3f,"times":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
    spark.stop()
  }
}
