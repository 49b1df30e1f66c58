package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Tiny cross-family helpers shared by every query trait. */
private[operators] trait QueriesShared { this: Queries.type =>

  private[operators] def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private[operators] def tsNtz(s: String): Column = lit(s).cast(TimestampNTZType)
  private[operators] def toks(c: Column): Column = split(c, " ")

  // ------------------------------------------------ distributed Bloom
  // x41's shape, factored so x130 (and any future runtime-filter user)
  // shares ONE copy: k=4 double-hashed positions per key, map-side
  // bit_or partials, the ≤(mBits/64)-row word table densified into a
  // single Long-array row at plan-build time. Embedding the array as a
  // LITERAL is what pins evaluation order — as a join, Catalyst legally
  // reorders the semi join underneath it and the pre-filter stops
  // pre-filtering; as a scan-level predicate it provably runs before
  // any join (the plan Spark's own InjectRuntimeFilter produces).

  /** The k=4 double-hashed bit positions of `key` in Z_mBits. Each hash
    * is reduced mod m BEFORE combining: the raw h1 + j·h2 overflows
    * Long under ANSI arithmetic; mod-first is the same position
    * sequence and stays tiny. */
  private[operators] def bloomPositions(key: Column, mBits: Int): Seq[Column] = {
    val h1 = pmod(xxhash64(key), lit(mBits.toLong))
    val h2 = pmod(xxhash64(key, lit("graft_bloom")), lit(mBits.toLong))
    (0 until 4).map(j => pmod(h1 + lit(j.toLong) * h2, lit(mBits.toLong)))
  }

  /** Builds the mBits filter over `keys(keyCol)` as a DISTRIBUTED
    * aggregation (map-side bit_or partials); only the densified
    * mBits/64-Long word array ever reaches the driver. */
  private[operators] def bloomBuild(keys: DataFrame, keyCol: String, mBits: Int): Array[Long] = {
    val words = mBits / 64
    keys
      .select(explode(array(bloomPositions(col(keyCol), mBits): _*)).as("pos"))
      .groupBy(expr("pos div 64").as("w"))
      .agg(bit_or(expr("shiftleft(1L, cast(pos % 64 as int))")).as("bits"))
      .agg(map_from_arrays(collect_list(col("w")), collect_list(col("bits"))).as("mp"))
      .select(expr(s"transform(sequence(0, ${words - 1}), w -> coalesce(mp[cast(w as bigint)], 0L))").as("bloom"))
      .head().getSeq[Long](0).toArray
  }

  /** k-th smallest value of `valueCol` (1-based) via x104's histogram
    * rank refinement — the big-rank replacement for orderBy().limit(k)
    * (TakeOrdered materializes k rows on ONE task; this materializes
    * ~n/1024). Pass 1 histograms the value domain into 1024 equi-width
    * buckets (map-side combined; the 1024-row cumulative table is a
    * metadata-scale driver action) and names the single bucket holding
    * rank k; pass 2 TakeOrders only inside that bucket at the residual
    * rank. Bucket boundaries only ROUTE the search — the answer is rank
    * arithmetic, never boundary comparison. */
  private[graft] def kthSmallestByHistogram(vals0: DataFrame, valueCol: String,
      k: Long): Double = {
    val nb = 1024
    val vals = vals0.select(col(valueCol).as("v")).filter(col("v").isNotNull)
    val stats = vals.agg(min(col("v")), max(col("v"))).head()
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    val span = if (hi > lo) hi - lo else 1.0
    val bucket = least(floor((col("v") - lo) / span * nb), lit(nb - 1)).cast(IntegerType)
    val hist = vals.groupBy(bucket.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cum = (0 until nb).scanLeft(0L)((acc, b) => acc + hist.getOrElse(b, 0L))
    require(k >= 1 && k <= cum.last, s"rank $k out of range 1..${cum.last}")
    val b = cum.indexWhere(_ >= k) - 1 // cum(b) < k <= cum(b + 1)
    val below = cum(b)
    // a pathological near-constant bucket can still exceed the Int bound:
    // the fix is a recursive refinement of that bucket — fail loud, the
    // x104 discipline, rather than truncate the rank
    require(k - below <= Int.MaxValue,
      s"bucket $b holds ${k - below} candidate ranks (> Int.MaxValue); " +
        "refine the histogram recursively")
    vals.filter(bucket === b).orderBy(col("v")).limit((k - below).toInt)
      .agg(max(col("v"))).head().getDouble(0)
  }

  /** The x130/q44 bounded-broadcast recipe as ONE reusable gate (r9):
    * broadcast `df` only while its row count sits within the registered
    * `spark.graft.*Cap` conf; past the cap return it hinted for a
    * SHUFFLE HASH join — still delta-proportional (the probe side hashes
    * only against the delta's partitions), never an 8 GB-capped driver
    * broadcast of a corpus-proportional frame. The sizing count is a
    * construction-time action here because the registry is stateless; a
    * production maintenance job reads delta sizes from its manifest. The
    * frame is PERSISTED before the count (r10, ADVICE) so the sizing
    * count and the downstream join share ONE scan — without it, every
    * gated query paid an extra full delta scan the DuckDB oracle never
    * pays, a one-sided asymmetry in the bench instrument. The cache is
    * delta-scale by contract (that is what the gate certifies when it
    * broadcasts; past the cap it spills to disk like any shuffle input)
    * and is released by the standard between-queries cache clear — the
    * returned plan pins it, so the callee cannot release it earlier.
    * ACCUMULATION CAVEAT (r10 ADVICE): a session composing several gated
    * queries back-to-back holds one delta pin per query until that
    * boundary; chain-heavy composers should eagerFinish the consuming
    * query or clear between ops (rationale recorded in
    * CacheInventorySpec's GATED class). Every consumer is enrolled in
    * BroadcastInventorySpec as conf-gated and carries a cap-0
    * output-identity spec. */
  private[graft] def gatedBroadcast(spark: SparkSession, df: DataFrame,
      confKey: String, defaultCap: Long = 8000000L): DataFrame = {
    val cap = spark.conf.getOption(confKey).map(_.toLong).getOrElse(defaultCap)
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (pinned.count() <= cap) broadcast(pinned) else pinned.hint("shuffle_hash")
  }

  /** True when `spark.graft.reliableLineageCut=true`: every lineage cut
    * (iterative round leaves, [[eagerFinish]]) keeps recomputable lineage
    * instead of localCheckpoint blocks, which are executor-local,
    * NON-replicated and NON-recomputable — on a cluster with dynamic
    * allocation or preemptible executors, losing one fails the query
    * instead of recomputing. Default false: local mode has no executor
    * loss. */
  private[graft] def reliableLineageCut(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.reliableLineageCut").exists(_.toBoolean)

  /** Lineage cut with an exact release handle: `plan`'s rows behind a leaf
    * plan, so the next iteration's plan starts here, plus a `release` that
    * unpersists exactly the leaf's own RDD (a checkpointed Dataset's
    * unpersist() is a CacheManager no-op). Default: localCheckpoint(eager),
    * whose LogicalRDD's RDD holds the blocks. Under [[reliableLineageCut]]:
    * a persisted `.rdd` with full lineage re-entered through
    * createDataFrame, counted when `eager`. The handle holds the RDD
    * itself, never a getPersistentRDDs set diff: LocalExecutor builds
    * producers concurrently on one session, and a diff would also catch
    * and free another query's blocks persisted during the cut. */
  private[graft] def lineageCut(plan: DataFrame, eager: Boolean): (DataFrame, () => Unit) = {
    val spark = plan.sparkSession
    val (leaf, rdd) =
      if (reliableLineageCut(spark)) {
        val rows = plan.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        val df = spark.createDataFrame(rows, plan.schema)
        if (eager) df.count()
        (df, rows)
      } else {
        val df = plan.localCheckpoint(eager)
        (df, df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get)
      }
    (leaf, () => { rdd.unpersist(blocking = false); () })
  }

  /** THE EAGER-RELEASE FINISH (r10, hoisted from the x137/x143/qs27
    * conversions): materialize `out` ONCE via localCheckpoint(true) —
    * partitions land in the EXECUTORS' block managers, never the driver,
    * so driver memory is safe for corpus-sized outputs, not just scalar
    * audits — then release every `pinned` intermediate immediately. The
    * returned frame reads its own checkpointed blocks, so no operator
    * hands the caller a plan pinned to an unreleased corpus-scale cache;
    * without this, the persist() lives until somebody else's
    * clearCache(). Cost contract: one materialization of `out`, which
    * every consumer (Verify's parquet dump, Bench's noop sink, a
    * production write) was about to pay anyway — the only extra work is
    * a block re-read (A/B-priced per converted query, BASELINE.md r11).
    *
    * FAULT-TOLERANCE TRADE-OFF (r10 ADVICE, medium): the checkpointed
    * blocks cannot be recomputed, so under [[reliableLineageCut]] `out` is
    * returned as is — it keeps full lineage and the pins live until the
    * session's normal cache clear. Construction also transiently holds
    * pins + the checkpointed copy; for the corpus-scale conversions (x141,
    * x108) that peak is the price of not leaking the pins to composers. */
  private[graft] def eagerFinish(out: DataFrame, pinned: DataFrame*): DataFrame =
    if (reliableLineageCut(out.sparkSession)) out
    else {
      val done = out.localCheckpoint(true)
      pinned.foreach(_.unpersist(blocking = false))
      done
    }

  /** Membership predicate: every one of the 4 bit positions is set. */
  private[operators] def bloomTest(bloomArr: Array[Long], mBits: Int)(probe: Column): Column = {
    val bloomLit = typedLit(bloomArr)
    bloomPositions(probe, mBits).map { p =>
      (element_at(bloomLit, (p / 64).cast(IntegerType) + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast(IntegerType)))) =!= 0L
    }.reduce(_ && _)
  }

}
