package graft.graph

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fingerprints.{Canonical, Fingerprint, Version}
import graft.io.{Format, IO}
import graft.partitions.PartitionKey.{NotPartitioned, PartitionKey}
import graft.storage.{ContentHash, FileStorage, Storage, StoragePartition}
import graft.types.ArtiType

/** A typed, formatted, stored dataset template
  * (reference: src/arti/artifacts/__init__.py:24-78). */
final case class Artifact(
    atype: ArtiType,
    format: Format,
    storage: Storage,
    annotations: Map[String, String] = Map.empty) {

  /** Partition-field kinds for the storage template parser, derived from the
    * declared Collection schema (reference derives them from the Type via the
    * PartitionField registry, partitions/__init__.py:21-53). */
  def partitionFieldKinds: Map[String, String] = atype match {
    case c: ArtiType.ACollection =>
      c.partitionBy.map { f =>
        val ft = c.element.fields.find(_._1 == f).get._2
        val kind = ft match {
          case _: ArtiType.ADate => "date"
          case _: ArtiType.AInt8 | _: ArtiType.AInt16 | _: ArtiType.AInt32 | _: ArtiType.AInt64 => "int"
          case _: ArtiType.ANull => "null"
          case other => throw new IllegalArgumentException(s"field '$f' of type $other is not partitionable (only Date/Int*/Null are)")
        }
        f -> kind
      }.toMap
    case _ => Map.empty
  }

  def isPartitioned: Boolean = atype match {
    case c: ArtiType.ACollection => c.isPartitioned
    case _                       => false
  }

  /** Fingerprint excludes annotations/descriptions so doc edits never cascade
    * into rebuilds (reference: artifacts/__init__.py:44-56, types/__init__.py:31-32). */
  lazy val fingerprint: Fingerprint = Canonical.fingerprint((atype, format.name, storage))
}

object Artifact {
  import graft.storage.LiteralStorage

  /** Artifact.cast for inline values (reference F2/F21: literal storage,
    * artifacts/__init__.py:80-116 + storage/literal.py): carry a JSON-line
    * payload in the model itself; reads become a one-row in-memory scan. */
  def literal(atype: ArtiType, jsonLine: String): Artifact =
    Artifact(atype, Format.Json, LiteralStorage(jsonLine))

  /** `Artifact.cast` with TYPE INFERENCE from the value (the reference
    * infers via the python TypeSystem, artifacts/__init__.py:80-116 —
    * int → Int64 etc.): `of(6L)` declares an AInt64 literal readable as a
    * one-row frame with column `value` (and via `readScalar`). */
  def of(value: Any): Artifact =
    literal(inferType(value), s"""{"value":${encodeJsonValue(value)}}""")

  private[graft] def inferType(v: Any): ArtiType = v match {
    case _: Boolean                 => ArtiType.ABoolean()
    case _: Byte | _: Short | _: Int | _: Long => ArtiType.AInt64() // reference: python int → Int64
    case _: Float | _: Double       => ArtiType.AFloat64()
    case _: String                  => ArtiType.AString()
    case _: java.time.LocalDate     => ArtiType.ADate()
    case _: java.time.LocalDateTime => ArtiType.ADateTime()
    case s: Seq[_] if s.nonEmpty    => ArtiType.AList(inferType(s.head))
    case other => throw new IllegalArgumentException(
      s"cannot infer an ArtiType from value '$other' (${other.getClass.getName}) — declare it with Artifact.literal")
  }

  private def encodeJsonValue(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: java.time.LocalDate     => "\"" + d.toString + "\""
    case t: java.time.LocalDateTime => "\"" + t.toString + "\""
    case s: Seq[_]                  => s.map(encodeJsonValue).mkString("[", ",", "]")
    case other                      => String.valueOf(other)
  }
}

/** A versioned build step over artifacts
  * (reference: src/arti/producers/__init__.py:56-94): `build` is the
  * transformation, `map` routes input partitions to output partitions
  * (enabling incremental builds), `validateOutputs` is the quality gate.
  */
final case class Producer(
    name: String,
    version: Version = Version.SemVer(0, 0, 1),
    build: (SparkSession, Seq[DataFrame]) => Seq[DataFrame],
    map: Seq[Seq[StoragePartition]] => Producer.PartitionDeps = Producer.mapAll,
    validateOutputs: Seq[DataFrame] => Either[String, Unit] = _ => Right(()),
    computeStatistics: Boolean = false,
    /** F38 Thresholds, checked by the executor on every build — including
      * memoized skips, against stored statistics — and deliberately OUTSIDE
      * the fingerprint: tightening a threshold must re-gate, not rebuild
      * (reference executors/local.py:26-29). Non-empty thresholds imply
      * statistics collection. */
    thresholds: Seq[Statistics.Threshold] = Nil) {

  /** name ⊕ version (reference F11, producers/__init__.py:326-334). */
  lazy val fingerprint: Fingerprint =
    Fingerprint.fromString(name).combine(version.fingerprint)
}

object Producer {
  import org.apache.spark.sql.{Dataset, Encoder}

  /** Typed single-input producer (reference F6: build signatures carry typed
    * views inferred from annotations, producers/__init__.py:170-221 — here
    * the types are `Dataset[I] => Dataset[O]` with compile-time encoders;
    * schema conformance is enforced by `.as[I]` at read time). */
  def typed[I: Encoder, O: Encoder](
      name: String,
      version: Version = Version.SemVer(0, 0, 1))(f: Dataset[I] => Dataset[O]): Producer =
    Producer(name, version, build = (_, ins) => Seq(f(ins.head.as[I]).toDF()))

  /** Two typed inputs (reference F6: multi-parameter build signatures,
    * producers/__init__.py:170-221). */
  def typed2[I1: Encoder, I2: Encoder, O: Encoder](
      name: String,
      version: Version = Version.SemVer(0, 0, 1))(f: (Dataset[I1], Dataset[I2]) => Dataset[O]): Producer =
    Producer(name, version, build = (_, ins) => Seq(f(ins(0).as[I1], ins(1).as[I2]).toDF()))

  def typed3[I1: Encoder, I2: Encoder, I3: Encoder, O: Encoder](
      name: String,
      version: Version = Version.SemVer(0, 0, 1))(f: (Dataset[I1], Dataset[I2], Dataset[I3]) => Dataset[O]): Producer =
    Producer(name, version, build = (_, ins) => Seq(f(ins(0).as[I1], ins(1).as[I2], ins(2).as[I3]).toDF()))

  /** Two typed OUTPUTS (the reference's multi-return builds,
    * producers/__init__.py:206-221; output-partitioning consistency is
    * checked at wiring time by [[Graph.produce]]). */
  def typedOut2[I: Encoder, O1: Encoder, O2: Encoder](
      name: String,
      version: Version = Version.SemVer(0, 0, 1))(f: Dataset[I] => (Dataset[O1], Dataset[O2])): Producer =
    Producer(name, version, build = (_, ins) => {
      val (o1, o2) = f(ins.head.as[I])
      Seq(o1.toDF(), o2.toDF())
    })

  /** For each output partition key: per input, the partitions it reads. */
  type PartitionDeps = Seq[(PartitionKey, Seq[Seq[StoragePartition]])]

  /** Default map: ALL input partitions → the single NotPartitioned output
    * (reference: producers/__init__.py:280-293). */
  val mapAll: Seq[Seq[StoragePartition]] => PartitionDeps =
    inputs => Seq(NotPartitioned -> inputs)

  /** 1:1 key-aligned routing: each distinct partition key of the inputs
    * becomes one output partition depending only on the matching input
    * partitions — the shape that makes incremental per-partition rebuilds
    * possible (reference F10, executors/__init__.py:34-60). */
  val mapByKey: Seq[Seq[StoragePartition]] => PartitionDeps = inputs => {
    val keys = inputs.flatMap(_.map(_.key)).distinct
    keys.map(k => k -> inputs.map(_.filter(_.key == k)))
  }
}

final case class ProducerBinding(producer: Producer, inputKeys: Seq[String], outputKeys: Seq[String])

/** A DAG of artifacts connected by producers
  * (reference: src/arti/graphs/__init__.py:90-141). Keys are dotted names
  * (`"ns.key"`), the Scala stand-in for the reference's nested TypedBox DSL.
  */
final class Graph(val name: String) {
  private val _artifacts = mutable.LinkedHashMap.empty[String, Artifact]
  private val _bindings = mutable.ListBuffer.empty[ProducerBinding]
  private var sealed_ = false

  def artifacts: Map[String, Artifact] = _artifacts.toMap
  def bindings: Seq[ProducerBinding] = _bindings.toSeq

  /** Assigning an artifact late-binds `{graph_name}`/`{names}` in its
    * storage template (reference: graphs/__init__.py:60-64 — the template's
    * graph-level placeholders resolve at assignment; partition-key fields
    * stay templated until partitions render). */
  def add(key: String, artifact: Artifact): this.type = {
    require(!sealed_, s"graph '$name' is sealed")
    require(!_artifacts.contains(key), s"artifact '$key' already defined")
    val bound = artifact.storage match {
      case fs: FileStorage =>
        artifact.copy(storage = fs.copy(template =
          fs.template.bind(Map("graph_name" -> name, "names" -> key.replace('.', '/')))))
      case _ => artifact
    }
    _artifacts(key) = bound
    this
  }

  /** Nested-namespace block (reference F3 — the TypedBox nesting of
    * graphs/__init__.py:90-141, where `g.artifacts.ns.x = a` builds dotted
    * paths structurally): every `add` inside the block prefixes `ns.`, and
    * blocks nest (`namespace("a") { _.namespace("b") { ... } }` → `a.b.x`).
    * Purely a builder affordance — keys, storage late-binding, and reads
    * are identical to spelling the dotted name out. */
  def namespace(ns: String)(build: NamespaceBuilder => Unit): this.type = {
    build(new NamespaceBuilder(this, ns))
    this
  }

  final class NamespaceBuilder private[Graph] (g: Graph, prefix: String) {
    def add(key: String, artifact: Artifact): this.type = {
      g.add(s"$prefix.$key", artifact); this
    }
    def namespace(ns: String)(build: NamespaceBuilder => Unit): this.type = {
      build(new NamespaceBuilder(g, s"$prefix.$ns")); this
    }
    /** Producer wiring with namespace-relative keys. */
    def produce(producer: Producer, inputs: Seq[String], outputs: Seq[String]): this.type = {
      g.produce(producer, inputs.map(k => s"$prefix.$k"), outputs.map(k => s"$prefix.$k")); this
    }
  }

  /** Wire a producer: inputs must exist; outputs must exist and not already
    * be produced by another producer (reference: producers/__init__.py:384-415). */
  def produce(producer: Producer, inputs: Seq[String], outputs: Seq[String]): this.type = {
    require(!sealed_, s"graph '$name' is sealed")
    inputs.foreach(k => require(_artifacts.contains(k), s"unknown input artifact '$k'"))
    outputs.foreach(k => require(_artifacts.contains(k), s"unknown output artifact '$k'"))
    val produced = _bindings.flatMap(_.outputKeys).toSet
    outputs.foreach(k => require(!produced(k), s"artifact '$k' is already produced by another producer"))
    // all outputs of one producer must share one partitioning: `map` routes
    // partition keys uniformly across outputs, so divergent schemes would
    // mis-key every build (reference producers/__init__.py:217-219)
    val schemes = outputs.map { k =>
      k -> (_artifacts(k).atype match {
        case c: ArtiType.ACollection => c.partitionBy.toSet
        case _                       => Set.empty[String]
      })
    }
    require(schemes.map(_._2).distinct.size <= 1,
      s"producer '${producer.name}' outputs must share one partitioning, got: " +
        schemes.map { case (k, s) => s"$k=${s.toSeq.sorted.mkString("{", ",", "}")}" }.mkString(", "))
    // io-capability check at WIRING time, not first build (reference
    // views/__init__.py:89-145 resolves io at registration): every output
    // must have a WRITER for its (format, storage)
    outputs.foreach { k =>
      val a = _artifacts(k)
      require(IO.canWrite(a.format, a.storage),
        s"producer '${producer.name}' output '$k' has no writer for (${a.format.name}, ${a.storage.getClass.getSimpleName}) — wire a writable format/storage")
    }
    _bindings += ProducerBinding(producer, inputs, outputs)
    this
  }

  def producerOf(key: String): Option[ProducerBinding] = _bindings.find(_.outputKeys.contains(key))
  def isRaw(key: String): Boolean = producerOf(key).isEmpty

  /** Seal + cycle check (reference: graphs/__init__.py:124-133). */
  def close(): this.type = {
    topoOrder() // throws on cycles
    sealed_ = true
    this
  }

  /** Kahn toposort over producer bindings (reference F4/F18). */
  def topoOrder(): Seq[ProducerBinding] = {
    val deps: Map[ProducerBinding, Set[ProducerBinding]] =
      _bindings.map { b =>
        b -> b.inputKeys.flatMap(producerOf).toSet
      }.toMap
    val order = mutable.ListBuffer.empty[ProducerBinding]
    val remaining = mutable.Set.empty[ProducerBinding] ++ _bindings
    var progress = true
    while (remaining.nonEmpty && progress) {
      val ready = remaining.filter(b => deps(b).forall(d => !remaining(d)))
      progress = ready.nonEmpty
      order ++= _bindings.filter(ready) // keep declaration order within a wave
      remaining --= ready
    }
    if (remaining.nonEmpty)
      throw new IllegalStateException(s"graph '$name' has a producer cycle involving ${remaining.map(_.producer.name).mkString(", ")}")
    order.toSeq
  }

  /** Live read without a snapshot (reference: graphs/__init__.py:229-241):
    * raw artifacts discover their partitions on the fly; produced artifacts
    * require a snapshot (their partitions are snapshot-linked metadata). */
  def read(spark: SparkSession, key: String): DataFrame = {
    val a = _artifacts.getOrElse(key, throw new NoSuchElementException(s"unknown artifact '$key'"))
    if (!isRaw(key))
      throw new IllegalStateException(
        s"'$key' is produced — read it through a snapshot (reference requires a snapshot for produced artifacts)")
    val parts = a.storage.discoverPartitions(spark.sparkContext.hadoopConfiguration)
    IO.read(spark, a.format, a.storage, parts)
  }

  /** Convenience mirroring the reference's `Graph.build()`
    * (graphs/__init__.py:147-162): snapshot, then execute incrementally
    * with the executor's default parallelism. */
  def build(spark: SparkSession, backend: Backend): (GraphSnapshot, graft.exec.BuildReport) = {
    val snap = snapshot(spark, backend)
    (snap, new graft.exec.LocalExecutor(backend).build(spark, snap))
  }

  /** Snapshot: content-address the graph + all raw inputs
    * (reference F14, graphs/__init__.py:294-360). */
  def snapshot(spark: SparkSession, backend: Backend): GraphSnapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raws = _artifacts.toSeq.filter { case (k, _) => isRaw(k) }
    val discovered = raws.map { case (k, a) =>
      val parts = a.storage.discoverPartitions(conf)
      if (parts.isEmpty)
        throw new IllegalStateException(s"raw artifact '$k' has no data — cannot snapshot (reference graphs/__init__.py:345-347)")
      (k, a.storage, parts)
    }
    // batched, cluster-capable hashing: every FileStorage partition of every
    // raw artifact goes through ONE call (one parallel driver pass for the
    // small ones, one Spark job with a task per data file for the large
    // ones); at 100 TB that is Spark tasks, never a driver byte-stream
    val (files, others) = discovered.partition(_._2.isInstanceOf[FileStorage])
    val fileFps = graft.util.Timing.timed(s"snapshot/$name contentFingerprints(${files.map(_._3.size).sum})") {
      ContentHash.forPartitions(spark, files.flatMap(_._3))
    }.iterator
    val fps: Map[String, Seq[Fingerprint]] =
      files.map { case (k, _, parts) => k -> Seq.fill(parts.size)(fileFps.next()) }.toMap ++
        others.map { case (k, storage, parts) => k -> storage.contentFingerprints(spark, parts) }
    val rawPartitions: Map[String, Seq[StoragePartition]] = discovered.map { case (k, _, parts) =>
      k -> parts.zip(fps(k)).map { case (p, fp) => p.copy(contentFingerprint = Some(fp)) }
    }.toMap
    val nodeFps = _artifacts.toSeq.map { case (k, a) => Fingerprint.fromString(k).combine(a.fingerprint) } ++
      _bindings.map(b => b.producer.fingerprint.combine(Canonical.fingerprint((b.inputKeys, b.outputKeys))))
    val contentFps = rawPartitions.values.flatten.flatMap(_.contentFingerprint)
    val id = Fingerprint.fromString(name)
      .combine(Fingerprint.combineAll(nodeFps))
      .combine(Fingerprint.combineAll(contentFps))
    backend.writeGraph(name, Canonical.fingerprint(name))
    // F37: tagged reads survive without this object — but model persistence
    // must not break the core snapshot path for custom Storage subclasses
    // (the F23 extension seam): no codec → skip the model write with a
    // warning, everything else about the snapshot still works
    val model = GraphModel.of(this)
    if (ModelCodec.canEncode(model)) backend.writeGraphModel(model)
    else System.err.println(s"[graft] graph '$name' uses a Storage with no model codec; " +
      "snapshot metadata persisted without the graph model (register one via " +
      "ModelCodec.registerStorage to enable tag rehydration)")
    backend.writeSnapshot(name, id)
    rawPartitions.foreach { case (k, parts) =>
      backend.writeArtifactPartitions(s"$name/$k", parts)
      backend.linkSnapshotPartitions(id, s"$name/$k", parts)
    }
    GraphSnapshot(this, id, rawPartitions)
  }
}

/** The read half of a snapshot, one implementation for a live
  * [[GraphSnapshot]] and a [[RehydratedSnapshot]]: they differ only in
  * where a key's artifact comes from (the live Graph or the stored
  * GraphModel) and where its partitions come from. */
sealed trait SnapshotReads {
  def id: Fingerprint
  protected def graphName: String
  protected def artifact(key: String): Artifact
  /** Every partition of `key` in this snapshot. */
  private[graft] def partitions(backend: Backend, key: String): Seq[StoragePartition]

  /** Read an artifact through the snapshot (reference F15). */
  def read(spark: SparkSession, backend: Backend, key: String): DataFrame =
    readWhere(spark, backend, key)(_ => true)

  /** Partition-pruned read: only partitions whose typed key passes the
    * predicate are scanned — the file-list is filtered BEFORE Spark ever
    * sees it, so at 100 TB this touches exactly the matching partitions
    * (reference F15's partition selection, graphs/__init__.py:229-241).
    * A predicate matching nothing returns an EMPTY frame with the declared
    * schema (an empty pruned read is a legitimate outcome, e.g. "today's
    * partition isn't there yet"), not an error. */
  def readWhere(spark: SparkSession, backend: Backend, key: String)(pred: PartitionKey => Boolean): DataFrame = {
    val a = artifact(key)
    val all = partitions(backend, key)
    val parts = all.filter(p => pred(p.key))
    if (parts.isEmpty && all.nonEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.types.SparkTypeSystem.toSpark(a.atype) match {
          case st: org.apache.spark.sql.types.StructType => st
          case dt => org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("value", dt)))
        })
    else {
      // clustered artifacts prefer their bucketed catalog table (same
      // files, plus bucket metadata → no Exchange in cluster-key joins);
      // fall back to the plain path scan when the catalog doesn't have it
      val bucketed = a.atype match {
        case c: ArtiType.ACollection if c.clusterBy.nonEmpty && !c.isPartitioned && parts.size == 1 =>
          IO.readBucketTable(spark, IO.bucketTableName(graphName, key), parts.head.path)
        case _ => None
      }
      bucketed.getOrElse(IO.read(spark, a.format, a.storage, parts))
    }
  }

  /** Read through the VIEW REGISTRY (F33, views/__init__.py:89-145): the
    * best registered view whose target is assignable to `cls` and whose
    * compatibility check accepts the artifact's declared type materializes
    * the result. `readAs`/`readScalar` below are sugar over registrations
    * in [[ViewRegistry]], not special cases. */
  def readView[T](spark: SparkSession, backend: Backend, key: String, cls: Class[T]): T = {
    val a = artifact(key)
    ViewRegistry.resolve(cls, a.atype).materialize(spark, read(spark, backend, key), a.atype)
  }

  /** Typed view of an artifact (reference F33 — View resolution: a
    * `Dataset[T]` is the engine's analog of the reference's typed python
    * views, views/python.py:215-250). Routed through the per-encoder
    * dataset view so the registry's compatibility gate applies. */
  def readAs[T: org.apache.spark.sql.Encoder](spark: SparkSession, backend: Backend, key: String): org.apache.spark.sql.Dataset[T] =
    ArtiView.datasetView[T].materialize(spark, read(spark, backend, key), artifact(key).atype)

  /** Scalar view (reference F33's non-Collection views,
    * views/__init__.py:89-145: an `int`-annotated artifact reads back as an
    * int, not a table): RESOLVED FROM THE REGISTRY — a table-shaped
    * artifact finds no scalar view and fails loudly, same contract as
    * before the registry existed. */
  def readScalar[T](spark: SparkSession, backend: Backend, key: String)(implicit ct: scala.reflect.ClassTag[T]): T = {
    val boxed: Class[_] = ct.runtimeClass match {
      case java.lang.Long.TYPE      => classOf[java.lang.Long]
      case java.lang.Double.TYPE    => classOf[java.lang.Double]
      case java.lang.Boolean.TYPE   => classOf[java.lang.Boolean]
      case java.lang.Integer.TYPE   => classOf[java.lang.Long] // scalar ints read back as Long
      case other                    => other
    }
    readView(spark, backend, key, boxed).asInstanceOf[T]
  }
}

/** A content-addressed, buildable snapshot of a graph
  * (reference: graphs/__init__.py:294-385). Raw artifacts read the
  * partitions discovered when the snapshot was taken plus those written
  * through it since; produced ones read their backend-linked partitions. */
final case class GraphSnapshot(graph: Graph, id: Fingerprint, rawPartitions: Map[String, Seq[StoragePartition]])
    extends SnapshotReads {

  /** Raw partitions written through [[write]], per key. A write to a
    * discovered path replaces that partition: its bytes changed. */
  private val written = TrieMap.empty[String, Vector[StoragePartition]]

  protected def graphName: String = graph.name
  protected def artifact(key: String): Artifact = graph.artifacts(key)
  private[graft] def partitions(backend: Backend, key: String): Seq[StoragePartition] =
    if (graph.isRaw(key)) {
      val mine = written.getOrElse(key, Vector.empty)
      rawPartitions(key).filterNot(p => mine.exists(_.path == p.path)) ++ mine
    } else backend.readSnapshotPartitions(id, s"${graph.name}/$key")

  def tag(backend: Backend, tagName: String, overwrite: Boolean = false): Unit =
    backend.tag(graph.name, id, tagName, overwrite)

  /** Write data into a RAW artifact partition through the snapshot
    * (reference F16, graphs/__init__.py:249-291): render the partition path
    * from the key, dispatch the writer, hash the content, register in the
    * backend and link to this snapshot, whose reads and builds then see the
    * partition as a rehydrated copy does. Produced artifacts are written only
    * by their producer (via the executor). */
  def write(
      spark: SparkSession,
      backend: Backend,
      key: String,
      df: DataFrame,
      partitionKey: PartitionKey = NotPartitioned): StoragePartition = {
    require(graph.isRaw(key), s"'$key' is produced — write it by building its producer, not directly")
    val a = graph.artifacts(key)
    val part = a.storage.generatePartition(partitionKey, Fingerprint.identity)
    IO.write(df, a.format, a.storage, part)
    val withFp = part.copy(contentFingerprint = Some(a.storage.contentFingerprints(spark, Seq(part)).head))
    backend.writeArtifactPartitions(s"${graph.name}/$key", Seq(withFp))
    backend.linkSnapshotPartitions(id, s"${graph.name}/$key", Seq(withFp))
    written.updateWith(key)(cur => Some(cur.getOrElse(Vector.empty).filterNot(_.path == withFp.path) :+ withFp))
    withFp
  }
}

/** A snapshot rehydrated from backend METADATA ALONE (F37 read-back —
  * reference `read_graph`/`read_snapshot`, backends/__init__.py:59-81): the
  * stored [[GraphModel]] supplies types/formats/storages, the snapshot's
  * partition links supply the data paths (snapshot() links raw partitions
  * too), so a tag resolves and serves reads in a process that never
  * constructed the Graph (producers are code and are NOT rehydrated — a
  * rehydrated snapshot reads, it does not build). */
final case class RehydratedSnapshot(model: GraphModel, id: Fingerprint) extends SnapshotReads {
  protected def graphName: String = model.name
  protected def artifact(key: String): Artifact = model.artifact(key)
  private[graft] def partitions(backend: Backend, key: String): Seq[StoragePartition] =
    backend.readSnapshotPartitions(id, s"${model.name}/$key")
}

object RehydratedSnapshot {
  /** from_tag with no live Graph (F17 ∘ F37). */
  def fromTag(backend: Backend, graphName: String, tag: String): RehydratedSnapshot = {
    val id = backend.snapshotForTag(graphName, tag)
      .getOrElse(throw new NoSuchElementException(s"no tag '$tag' for graph '$graphName'"))
    val model = backend.readGraphModel(graphName)
      .getOrElse(throw new IllegalStateException(
        s"backend has tag '$tag' but no stored model for graph '$graphName' — written by a pre-model engine?"))
    RehydratedSnapshot(model, id)
  }
}
