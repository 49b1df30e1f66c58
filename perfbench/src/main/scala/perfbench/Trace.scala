package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval on the shared epoch-microsecond clock. `op` is the timed
  * operation it belongs to (0 = none yet; listener events are attributed to
  * an op by time when the trace is summarised). */
final case class Span(op: Int, layer: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory tracing for the traced run. Spans are recorded from the
  * benchmark's own code around calls into each layer, and from Spark's
  * public listeners (jobs, stages, tasks, query planning phases, streaming
  * progress). Nothing is written until [[Trace.summary]] runs at the end.
  * When disabled every hook is a no-op, so untraced runs pay nothing. */
object Trace {
  @volatile var enabled = false
  @volatile private var currentOp = 0

  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L
  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentLinkedQueue[(Int, String, Double)]()
  /** Closed ops: (id, kind, start, end). */
  private val ops = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]

  // Listener captures; attributed to ops by time at the end.
  private val tasks = new ConcurrentLinkedQueue[(Long, Array[Double])]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val progress = new ConcurrentLinkedQueue[(Long, String, Map[String, Double])]()
  private val planPhases = new ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  @volatile private var events = 0L

  /** Drop everything recorded so far (set-up and warm-up work). */
  def clear(): Unit = {
    Seq(spans, counters, tasks, stages, progress, planPhases).foreach(_.clear())
    ops.synchronized(ops.clear())
  }

  def beginOp(id: Int): Long = { currentOp = id; nowMicros }
  /** Close an op timed from `start` to `end`; counters recorded up to
    * this call still belong to it. */
  def endOp(id: Int, kind: String, start: Long, end: Long): Unit = {
    if (enabled) ops.synchronized(ops += ((id, kind, start, end)))
    currentOp = 0
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val op = currentOp
      val s = nowMicros
      try body finally spans.add(Span(op, layer, name, s, nowMicros))
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters.add((currentOp, name, v))

  /** Register Spark's public listeners on a session. */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events += 1
        jobStarts.put(e.jobId, e.time * 1000L)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        events += 1
        val s = Option(jobStarts.remove(e.jobId)).getOrElse(e.time * 1000L)
        spans.add(Span(0, "spark", "job", s, math.max(s, e.time * 1000L)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        events += 1
        stages.add(e.stageInfo.submissionTime.getOrElse(0L) * 1000L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        events += 1
        val m = e.taskMetrics
        if (m != null) tasks.add((e.taskInfo.launchTime * 1000L, Array(
          m.executorRunTime / 1e3,
          m.executorCpuTime / 1e9,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          m.resultSize.toDouble)))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        events += 1
        val ph = qe.tracker.phases
        if (ph.nonEmpty) planPhases.add((ph.values.map(_.startTimeMs).min * 1000L,
          ph.map { case (k, v) => k -> v.durationMs / 1e3 }))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        events += 1
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
        val st = p.stateOperators
        val m = d ++ Map(
          "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> st.map(_.numRowsTotal).sum.toDouble,
          "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum.toDouble,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum.toDouble)
        spans.add(Span(0, "streaming", "batch", start, start + d.getOrElse("triggerExecution", 0.0).toLong * 1000L))
        progress.add((start, p.runId.toString, m))
      }
    })
  }

  /** Wait until the asynchronous listener buses have gone quiet. */
  def settle(): Unit = if (enabled) {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
  }

  /** Per-op layer metrics, and every span with the index of its parent
    * in the same list (-1 for the workload root). */
  final case class Summary(perOp: Map[Int, Map[String, Double]], spans: Seq[(Span, Int)])

  def summary(): Summary = {
    val opList = ops.synchronized(ops.toVector).sortBy(_._3)
    val starts = opList.map(_._3).toArray
    def opAt(t: Long): Int = {
      // the op whose interval holds t; listener times have ms resolution
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      val cands = Seq(i, i + 1).filter(j => j >= 0 && j < opList.size)
      cands.find(j => t >= opList(j)._3 - 1000 && t <= opList(j)._4 + 1000).map(opList(_)._1).getOrElse(0)
    }
    val m = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def add(op: Int, k: String, v: Double): Unit =
      if (op != 0) { val mm = m.getOrElseUpdate(op, mutable.Map.empty); mm(k) = mm.getOrElse(k, 0.0) + v }

    counters.asScala.foreach { case (op, k, v) => add(op, k, v) }
    val all = spans.asScala.toVector.map(s => if (s.op == 0) s.copy(op = opAt(s.start)) else s)
    all.foreach { s =>
      add(s.op, if (s.name.isEmpty) s"${s.layer}.s" else s"${s.layer}.${s.name}_s", s.dur / 1e6)
      if (s.layer == "spark") add(s.op, "spark.jobs", 1)
      if (s.layer == "streaming") add(s.op, "streaming.batches", 1)
    }
    stages.asScala.foreach(t => add(opAt(t), "spark.stages", 1))
    val taskKeys = Seq("spark.task_s", "spark.task_cpu_s", "spark.shuffle_bytes", "spark.spill_bytes", "spark.result_bytes")
    tasks.asScala.foreach { case (t, vs) =>
      val op = opAt(t)
      add(op, "spark.tasks", 1)
      taskKeys.zip(vs).foreach { case (k, v) => add(op, k, v) }
    }
    planPhases.asScala.foreach { case (t, ph) =>
      val op = opAt(t)
      Seq("analysis", "optimization", "planning").foreach(p => add(op, s"plans.${p}_s", ph.getOrElse(p, 0.0)))
    }
    val streamKeys = Map("addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
      "commitOffsets" -> "commit_offsets_ms", "queryPlanning" -> "query_planning_ms",
      "latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
      "input_rows" -> "input_rows", "state_commit_ms" -> "state_commit_ms")
    val prog = progress.asScala.toVector
    prog.foreach { case (t, _, p) =>
      val op = opAt(t)
      streamKeys.foreach { case (src, dst) => add(op, s"streaming.$dst", p.getOrElse(src, 0.0)) }
    }
    // state size at the end of each drain: the last batch of every run
    prog.groupBy(_._2).values.map(_.maxBy(_._1)).foreach { case (t, _, p) =>
      add(opAt(t), "streaming.state_rows", p("state_rows"))
      add(opAt(t), "streaming.state_mem_bytes", p("state_mem_bytes"))
    }
    // Span tree: workload -> op -> layer call -> Spark job / streaming
    // batch. A span's parent is the shortest span of the same op that
    // contains it and may have caused it (calls run concurrently inside
    // exec.build, so containment alone is not enough); listener times have
    // ms resolution, hence the slack. Self time is a span's duration minus
    // what its children cover.
    val opSpans = opList.map { case (id, kind, s, e) => Span(id, "op", kind, s, e) }
    val root = Span(0, "workload", "", opList.headOption.map(_._3).getOrElse(0L), opList.lastOption.map(_._4).getOrElse(0L))
    val tree = mutable.ArrayBuffer[(Span, Int)]((root, -1))
    val byOp = all.groupBy(_.op)
    opSpans.foreach { o =>
      val opIdx = tree.size
      tree += ((o, 0))
      val mine = byOp.getOrElse(o.op, Vector.empty)
      val base = tree.size
      val parents = mine.map { c =>
        mine.indices.filter { j =>
          val p = mine(j)
          (p ne c) && canParent(p, c) && p.start <= c.start + 1000 && p.end >= c.end - 1000
        }.minByOption(j => mine(j).dur).map(base + _).getOrElse(opIdx)
      }
      tree ++= mine.zip(parents)
      mine.indices.foreach { i =>
        val s = mine(i)
        val kids = parents.indices.filter(parents(_) == base + i).map(mine)
        add(o.op, s"${s.layer}.self_s", (s.dur - covered(s, kids)) / 1e6)
      }
      add(o.op, "spark.no_job_s", (o.dur - covered(o, mine.filter(_.layer == "spark"))) / 1e6)
    }
    Summary(m.map { case (k, v) => k -> v.toMap }.toMap, tree.toSeq)
  }

  /** Layer calls (1) sit under an op; validation hooks, backend calls and
    * streaming batches (2-3) under a layer call; Spark jobs (4) under a
    * layer call, a validation hook or a streaming batch. */
  private def level(s: Span): Int = (s.layer, s.name) match {
    case ("exec", "validate") => 2
    case ("backend", "open") => 1
    case ("backend", _) | ("streaming", _) => 3
    case ("spark", _) => 4
    case _ => 1
  }

  private def canParent(p: Span, c: Span): Boolean =
    if (level(c) == 4) level(p) <= 2 || p.layer == "streaming"
    else level(c) > 1 && level(p) == 1

  /** Length of the part of `p` covered by the union of `cs`. */
  private def covered(p: Span, cs: Seq[Span]): Long = {
    var total = 0L
    var curS = 0L
    var curE = -1L
    cs.map(c => (math.max(c.start, p.start), math.min(c.end, p.end))).filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    total + math.max(0L, curE - curS)
  }

  /** JVM counters read around the timed window. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use right after a garbage collection, highest seen since
    * [[watchHeap]] (MB). After-GC figures are what the heap retains, so
    * they grow with leaked or piled-up state, not with allocation rate. */
  def heapAfterGcPeakMb: Double = heapAfterGcPeak / 1048576.0
  @volatile private var heapAfterGcPeak = 0L

  /** Start tracking [[heapAfterGcPeakMb]]; call once. */
  def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          heapAfterGcPeak = math.max(heapAfterGcPeak, used)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Bytes this process has read through read-like system calls (Linux
    * rchar), page-cache hits included. */
  def readBytes: Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Peak resident set of this process (Linux VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
