package graft.exec

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.fingerprints.Fingerprint
import graft.graph.{Artifact, Backend, GraphSnapshot, ProducerBinding, Statistics}
import graft.io.IO
import graft.storage.StoragePartition

/** Per-producer build accounting, used by tests and the incremental-build
  * queries to prove skip-if-built behavior. */
final case class BuildReport(built: Map[String, Int], skipped: Map[String, Int]) {
  def totalBuilt: Int = built.values.sum
  def totalSkipped: Int = skipped.values.sum
}

/** What one (producer, output partition) came to in a build. */
private sealed trait PartitionOutcome
private case object Built extends PartitionOutcome
private case object Skipped extends PartitionOutcome
/** A validation or threshold gate failed; `message` names the producer. */
private final case class Failed(message: String) extends PartitionOutcome

/** One output of a partition build after its write: staged outputs carry
  * their staging path, bucketed ones (written in place) do not; an
  * observed write carries the observation holding its profile. */
private final case class StagedOutput(
    key: String,
    artifact: Artifact,
    schema: StructType,
    part: StoragePartition,
    staging: Option[String],
    parentPreExisting: Boolean,
    observation: Option[Observation])

/** The incremental topo-order executor
  * (reference: src/arti/executors/local.py:22-57 + executors/__init__.py:22-106):
  * for each producer, run `map` to route partitions, fingerprint each output
  * partition's inputs, SKIP partitions already built with the same
  * (partition_key, input_fingerprint) — the memoization that makes re-runs
  * cheap (reference F19, proven by tests/arti/graphs/test_graph.py:137-169) —
  * then build, validate, write, and register the rest.
  *
  * Orchestration is driver-side and eager per node (like the reference), but
  * every `build` body is a lazy Spark plan whose actions fan out to the
  * cluster — the executor never materializes data on the driver.
  */
final class LocalExecutor(backend: Backend,
    // orchestration threads are cheap (each only issues Spark plans and
    // actions); track the host so a wide wave — sibling producers or a
    // backfill's partitions — overlaps its jobs instead of queueing 4-wide
    parallelism: Int = math.max(4, Runtime.getRuntime.availableProcessors() / 4)) {

  /** Build independent WORK UNITS concurrently (the reference's own TODO,
    * executors/local.py:14-16) with DAG SCHEDULING at producer
    * granularity: each producer binding gets a completion future chained
    * off exactly the futures of the producers feeding it — not a global
    * wave barrier — so a producer starts the moment ITS inputs are ready,
    * even while a slow sibling chain is still building (with barriers, the
    * deepest chain's latency is Σ of the slowest producer per DEPTH
    * LEVEL; with DAG chaining it is Σ over the chain's own producers).
    * Within a producer, every (producer, output-partition) pair is its own
    * task on a fixed thread pool — so sibling producers AND the partitions
    * of one incremental producer build in parallel (a 7-year backfill
    * occupies 7 slots, not 1). SparkSession is thread-safe; each task only
    * issues lazy plans + actions, and output partitions write to disjoint
    * paths by construction. All composition below is non-blocking (no
    * pool thread ever awaits another future), so a fixed pool cannot
    * deadlock.
    *
    * Failure semantics: a validation/threshold failure blocks everything
    * DOWNSTREAM of the failing producer (they never run — their inputs
    * are unpublished); independent subtrees still complete cleanly, and
    * `build` then throws with every accumulated failure. A thrown
    * exception (IO, publish) likewise fails its chain; the final await
    * lets all in-flight siblings settle before rethrowing. */
  def build(spark: SparkSession, snapshot: GraphSnapshot): BuildReport = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success, Try}

    val g = snapshot.graph
    val order = g.topoOrder()
    val pool = Executors.newFixedThreadPool(math.max(1, parallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // None = this producer did not run because something upstream failed
    val done = mutable.Map.empty[ProducerBinding, Future[Option[Seq[PartitionOutcome]]]]
    val settled: Seq[Try[Option[Seq[PartitionOutcome]]]] =
      try {
        for (b <- order) {
          val upstream = b.inputKeys.flatMap(g.producerOf).distinct.map(done)
          done(b) = Future.sequence(upstream).flatMap { ups =>
            // blocked: an upstream producer did not run, or failed a partition
            if (ups.exists(_.forall(_.exists(_.isInstanceOf[Failed])))) Future.successful(None)
            else {
              // `map` routing is driver-side metadata — cheap to compute
              // here, on this producer's own schedule
              val inputParts = b.inputKeys.map(snapshot.partitions(backend, _))
              Future.traverse(b.producer.map(inputParts)) { case (outKey, partDeps) =>
                Future(buildPartition(spark, snapshot, b, outKey, partDeps))
              }.map(Some(_))
            }
          }
        }
        // settle EVERY chain (failed or not) before acting: in-flight
        // sibling writes finish cleanly instead of being abandoned mid-way
        Await.result(
          Future.traverse(order)(b => done(b).transform(t => Success(t))),
          Duration.Inf)
      } finally pool.shutdown()

    settled.collectFirst { case Failure(e) => e }.foreach(throw _)
    val outcomes = order.zip(settled).flatMap {
      case (b, Success(Some(os))) => os.map(b.producer.name -> _)
      case _ => Nil
    }
    val failures = outcomes.collect { case (_, Failed(msg)) => msg }
    if (failures.nonEmpty)
      throw new IllegalStateException(s"validate_outputs failed for: ${failures.mkString("; ")}")
    def count(o: PartitionOutcome): Map[String, Int] =
      outcomes.collect { case (name, `o`) => name }.groupBy(identity).map { case (k, v) => k -> v.size }
    BuildReport(count(Built), count(Skipped))
  }

  /** Build, skip or fail ONE output partition of one producer binding. */
  private def buildPartition(
      spark: SparkSession,
      snapshot: GraphSnapshot,
      binding: ProducerBinding,
      outKey: graft.partitions.PartitionKey.PartitionKey,
      partDeps: Seq[Seq[StoragePartition]]): PartitionOutcome = {
    val g = snapshot.graph
    val ProducerBinding(producer, inputKeys, outputKeys) = binding
    def failed(msg: String): PartitionOutcome = Failed(s"${producer.name}: $msg")
    def checkThresholds(stats: Seq[Map[String, String]]): Either[String, Unit] = {
      val viol = stats.flatMap(st => Statistics.checkThresholds(producer.thresholds, st).left.toOption)
      if (viol.isEmpty) Right(()) else Left(viol.mkString("; "))
    }
    // input fingerprint: producer id ⊕ content of every dep partition
    // (reference F11, producers/__init__.py:326-346)
    val inputFp = producer.fingerprint.combine(
      Fingerprint.combineAll(partDeps.flatten.map(p => p.contentFingerprint.getOrElse(Fingerprint.identity))))

    // skip-if-built: every output artifact already has this
    // (partition_key, input_fingerprint) registered
    val existing = outputKeys.map { k =>
      k -> backend.readArtifactPartitions(s"${g.name}/$k", Some(Set(inputFp)))
        .filter(_.key == outKey)
    }
    if (existing.forall(_._2.nonEmpty)) {
      // F38: thresholds re-check on EVERY run, even memoized skips,
      // against the stored statistics — they may have been tightened
      // since the data was built, and that must re-gate without a
      // rebuild (reference executors/local.py:26-29)
      val gate =
        if (producer.thresholds.isEmpty) Right(())
        else checkThresholds(existing.flatMap { case (k, parts) =>
          val stored = backend.readStatistics(s"${g.name}/$k")
          // absent stored statistics must FAIL the gate, not pass it:
          // checkThresholds against an empty map yields the
          // "statistic … was not collected" failure, so thresholds
          // added after a stats-less build force a rebuild/error
          // instead of silently bypassing the quality gate
          parts.map(p => stored.getOrElse(p.path, Map.empty[String, String]))
        })
      gate match {
        case Left(msg) => failed(msg)
        case Right(()) =>
          existing.foreach { case (k, parts) =>
            backend.linkSnapshotPartitions(snapshot.id, s"${g.name}/$k", parts)
          }
          Skipped
      }
    } else {
      val inputDfs = inputKeys.zip(partDeps).map { case (k, parts) =>
        val a = g.artifacts(k)
        IO.read(spark, a.format, a.storage, parts)
      }
      val outputs = producer.build(spark, inputDfs)
      require(outputs.size == outputKeys.size,
        s"producer '${producer.name}' returned ${outputs.size} outputs for ${outputKeys.size} declared")
      // WRITE-AUDIT-PUBLISH: each output plan executes exactly ONCE —
      // into a staging path next to its final location. Statistics are
      // OBSERVED on that write (Dataset.observe: the profile's
      // aggregates ride the write job, no profiling pass of their own);
      // validation then audits the MATERIALIZED staged bytes (a file
      // scan, not a re-execution of the producer plan), thresholds gate
      // on the observed profile, and only a passing gate publishes
      // staging → final with a metadata rename. A failing gate deletes
      // staging: no byte ever appears at an artifact path past a
      // failing gate, and validation audits exactly what was written.
      // Bucketed cluster_by outputs cannot stage (their identity lives
      // in the catalog, not just the path), so the no-write-past-a-
      // failing-gate contract is preserved the OLD way for them:
      // validate the plan BEFORE the bucketed write lands.
      val conf = spark.sparkContext.hadoopConfiguration
      val planned = outputKeys.zip(outputs).map { case (k, df) =>
        val a = g.artifacts(k)
        val part = a.storage.generatePartition(outKey, inputFp)
        val clusterBy = a.atype match {
          case c: graft.types.ArtiType.ACollection
            if c.clusterBy.nonEmpty && !c.isPartitioned && a.format == graft.io.Format.Parquet =>
            c.clusterBy
          case _ => Nil
        }
        (k, a, df, part, clusterBy)
      }
      val anyBucketed = planned.exists(_._5.nonEmpty)
      val wantStats = producer.computeStatistics || producer.thresholds.nonEmpty
      // Pre-write gate for producers with a bucketed output: bucketed
      // writes land at the FINAL path and register the catalog table,
      // so the ENTIRE gate — validation AND thresholds — must pass on
      // the plan before any byte lands (a post-write threshold check
      // would leave published bucketed bytes behind a failing gate).
      // Profiles computed here double as the recorded statistics, so
      // the plan re-executes once for the gate, once for the write —
      // the same cost shape as the pre-WAP path this preserves.
      val prePlanProfiles: Seq[Option[Map[String, String]]] =
        if (anyBucketed && wantStats) outputs.map(df => Some(Statistics.profile(df)))
        else planned.map(_ => None)
      val preGate: Either[String, Unit] =
        if (!anyBucketed) Right(())
        else producer.validateOutputs(outputs).flatMap(_ => checkThresholds(prePlanProfiles.flatten))
      preGate match {
        case Left(msg) => failed(msg)
        case Right(()) =>
          // audit frames scan the MATERIALIZED staged bytes
          def auditDf(a: Artifact, schema: StructType, path: String) =
            IO.read(spark, a.format, a.storage,
              Seq(StoragePartition(path, outKey)), Some(schema))
          val staged = planned.map { case (k, a, df, part, clusterBy) =>
            if (clusterBy.nonEmpty) {
              graft.util.Timing.timed(s"${producer.name}/$k writeBucketed") {
                IO.writeBucketed(df, a.format, part.path, clusterBy,
                  IO.bucketTableName(g.name, k), overwrite = true)
              }
              StagedOutput(k, a, df.schema, part, None, parentPreExisting = false, None)
            } else {
              val stagingPath = part.path.stripSuffix("/") + "__staging"
              val sp = new org.apache.hadoop.fs.Path(stagingPath)
              val fs = sp.getFileSystem(conf)
              // remember whether staging had to create the artifact's parent
              // dir: a failing gate must leave the artifact TREE untouched,
              // not just data-free
              val parentPreExisting = sp.getParent == null || fs.exists(sp.getParent)
              fs.delete(sp, true) // stale staging from a crashed run
              // Built-in writers run the frame as one Dataset write, so the
              // profile is observed on it; an extension writer (IO.register)
              // may not fire the observation, so its staged bytes are
              // profiled after the write instead.
              val observation =
                if (wantStats && !anyBucketed && IO.isBuiltinWrite(a.format, a.storage))
                  Some(Observation())
                else None
              val toWrite = observation.fold(df) { o =>
                val aggs = Statistics.profileColumns(df.schema)
                df.observe(o, aggs.head, aggs.tail: _*)
              }
              graft.util.Timing.timed(s"${producer.name}/$k stagingWrite") {
                IO.write(toWrite, a.format, a.storage, part.copy(path = stagingPath), overwrite = true)
              }
              StagedOutput(k, a, df.schema, part, Some(stagingPath), parentPreExisting, observation)
            }
          }
          def dropStaging(): Unit = staged.foreach { st =>
            st.staging.foreach { spStr =>
              val p = new org.apache.hadoop.fs.Path(spStr)
              val fs = p.getFileSystem(conf)
              fs.delete(p, true)
              if (!st.parentPreExisting && p.getParent != null &&
                  fs.exists(p.getParent) && fs.listStatus(p.getParent).isEmpty)
                fs.delete(p.getParent, false)
            }
          }
          // Post-write audit over materialized bytes: the staging path for
          // plain outputs. Pure-bucketed producers already passed the full
          // gate pre-write (re-running it would double the gate's actions
          // for no additional safety); a MIXED producer (bucketed + plain
          // outputs) still audits — the plain outputs' staged bytes deserve
          // the same materialized-bytes check as a pure-plain producer, so
          // the gate re-runs with audit frames for staged outputs and plan
          // frames for bucketed ones.
          val gate = graft.util.Timing.timed(s"${producer.name} auditValidate") {
            if (staged.forall(_.staging.isEmpty)) Right(())
            else producer.validateOutputs(staged.zip(outputs).map { case (st, plan) =>
              st.staging.fold(plan)(auditDf(st.artifact, st.schema, _))
            })
          }
          // F38: the profile is recorded when stats are wanted OR
          // thresholds gate the publish; violations abort BEFORE the
          // rename, so nothing is published past a failing threshold.
          // Bucketed producers recorded their profiles pre-write (the
          // plan pass that also fed the threshold gate) — reuse them.
          // Lazy: a failing audit gate profiles nothing.
          lazy val profiles =
            if (anyBucketed || !wantStats) prePlanProfiles
            else staged.map(st => Some(st.observation match {
              case Some(o) => Statistics.statsOf(o.get)
              case None => Statistics.profile(auditDf(st.artifact, st.schema, st.staging.get))
            }))
          // bucketed producers checked thresholds pre-write on the same profiles
          gate.flatMap(_ => if (anyBucketed) Right(()) else checkThresholds(profiles.flatten)) match {
            case Left(msg) =>
              dropStaging()
              failed(msg)
            case Right(()) =>
              graft.util.Timing.timed(s"${producer.name} publish+fingerprint") {
                staged.zip(profiles).foreach { case (StagedOutput(k, a, _, part, stagingOpt, _, _), prof) =>
                  stagingOpt.foreach { sp =>
                    val fin = new org.apache.hadoop.fs.Path(part.path)
                    val fs = fin.getFileSystem(conf)
                    fs.delete(fin, true) // rebuild of a changed partition
                    if (fin.getParent != null) fs.mkdirs(fin.getParent)
                    require(fs.rename(new org.apache.hadoop.fs.Path(sp), fin),
                      s"publish failed: could not rename $sp -> ${part.path}")
                  }
                  val withFp = part.copy(contentFingerprint =
                    Some(a.storage.contentFingerprints(spark, Seq(part)).head))
                  backend.writeArtifactPartitions(s"${g.name}/$k", Seq(withFp))
                  backend.linkSnapshotPartitions(snapshot.id, s"${g.name}/$k", Seq(withFp))
                  prof.foreach(st => backend.writeStatistics(s"${g.name}/$k", part.path, st))
                }
              }
              Built
          }
      }
    }
  }
}
