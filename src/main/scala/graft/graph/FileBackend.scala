package graft.graph

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.fingerprints.Fingerprint
import graft.partitions.PartitionField
import graft.partitions.PartitionField.{DateField, IntField, NullField}
import graft.storage.StoragePartition
import graft.util.MiniJson
import graft.util.MiniJson._

/** Durable metadata backend (reference F37 — the reference ships only the
  * in-memory backend with real stores left TODO, backends/__init__.py:20-23):
  * the same contract as [[MemoryBackend]], persisted as append-only JSONL
  * event logs under a directory and replayed on construction; a write
  * appends only the records that change the replayed state. Metadata is
  * driver-scale (one record per partition, not per row), so a local/object
  * store file is the right shape; skip-if-built memoization now survives
  * process restarts — a property the reference never had.
  */
final class FileBackend(dir: String) extends Backend {
  private val root: Path = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    p
  }
  private val mem = new MemoryBackend
  private val lock = new Object

  /** Each graph's last logged model encoding: replay rebuilds the model
    * from it, so an equal encoding changes nothing. */
  private val modelJson = scala.collection.mutable.HashMap.empty[String, String]

  // ---- JSON codec (MiniJson): typed partition fields and keys nest as
  // objects; the model rides as ONE string value (ModelCodec's own JSON) ----
  private def encodeField(f: PartitionField): J = f match {
    case DateField(d) => JObj.of("kind" -> JStr("date"), "iso" -> JStr(d.toString))
    case IntField(v)  => JObj.of("kind" -> JStr("int"), "value" -> JNum(v))
    case NullField    => JObj.of("kind" -> JStr("null"))
  }

  private def encodePartition(p: StoragePartition): J = JObj.of(
    "path" -> JStr(p.path),
    "key" -> JObj(p.key.toSeq.sortBy(_._1).map { case (n, f) => n -> encodeField(f) }),
    "input_fp" -> JNum(p.inputFingerprint.key),
    "content_fp" -> p.contentFingerprint.fold[J](JNull)(fp => JNum(fp.key)))

  private def fp(j: J): Fingerprint = Fingerprint(j.num)

  private def decodeField(j: J): PartitionField = j("kind").str match {
    case "date" => DateField(LocalDate.parse(j("iso").str))
    case "int"  => IntField(j("value").num)
    case "null" => NullField
  }

  private def decodePartition(j: J): StoragePartition =
    StoragePartition(
      path = j("path").str,
      key = j("key").obj.map { case (n, f) => n -> decodeField(f) },
      inputFingerprint = fp(j("input_fp")),
      contentFingerprint = j("content_fp") match {
        case JNull => None
        case v => Some(fp(v))
      })

  // ---- persistence ----
  /** Crash recovery at open: a torn final line (append died before the
    * trailing '\n') is an uncommitted record. Left in place it would merge
    * with the NEXT append into one unparseable interior line — bricking the
    * strict replay forever. Truncating back to the last committed newline is
    * the standard append-only-log repair: the torn record was never
    * acknowledged, so dropping it loses nothing. */
  private def repairTail(file: String): Unit = {
    val p = root.resolve(file)
    if (Files.exists(p) && Files.size(p) > 0) {
      val bytes = Files.readAllBytes(p)
      if (bytes.last != '\n') {
        val lastNl = bytes.lastIndexOf('\n'.toByte)
        val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.WRITE)
        try ch.truncate(lastNl + 1L) finally ch.close()
      }
    }
  }

  private def append(file: String, records: J*): Unit = if (records.nonEmpty) lock.synchronized {
    Files.write(root.resolve(file), records.map(MiniJson.render(_) + "\n").mkString.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def readLines(file: String): Seq[String] = {
    val p = root.resolve(file)
    if (Files.exists(p)) Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq else Nil
  }

  // replay the event logs into the in-memory projection. Only the FINAL
  // line of an append-only log can be torn by a crash mid-append, so that
  // is the only position where a structural failure (no closing '}' or an
  // unparseable prefix) is tolerated. Anywhere else — an interior line that
  // doesn't parse, or any record that parses but can't apply (missing keys,
  // bad numbers) — is real corruption and must be loud: silently dropping
  // it would lose partition/tag metadata and break memoization.
  private def replay(file: String)(apply: J => Unit): Unit = {
    val lines = readLines(file)
    for ((l, idx) <- lines.zipWithIndex) {
      val structural: Option[J] =
        if (!l.endsWith("}")) None else scala.util.Try(MiniJson.parse(l)).toOption
      structural match {
        case Some(m) =>
          scala.util.Try(apply(m)).failed.foreach { e =>
            throw new IllegalStateException(s"corrupt backend log $file: ${e.getMessage} in: $l", e)
          }
        case None if idx == lines.size - 1 => () // torn trailing append: skip
        case None =>
          throw new IllegalStateException(
            s"corrupt backend log $file: unparseable interior line ${idx + 1}: $l")
      }
    }
  }

  private val LogFiles = Seq("graphs.jsonl", "snapshots.jsonl", "tags.jsonl",
    "artifact_parts.jsonl", "snapshot_parts.jsonl", "stats.jsonl", "models.jsonl")

  locally {
    LogFiles.foreach(repairTail)
    replay("graphs.jsonl")(m => mem.writeGraph(m("name").str, fp(m("fp"))))
    replay("snapshots.jsonl")(m => mem.writeSnapshot(m("graph").str, fp(m("id"))))
    replay("tags.jsonl")(m => mem.tag(m("graph").str, fp(m("id")), m("tag").str, overwrite = true))
    replay("artifact_parts.jsonl")(m =>
      mem.writeArtifactPartitions(m("artifact").str, Seq(decodePartition(m("part")))))
    replay("snapshot_parts.jsonl")(m =>
      mem.linkSnapshotPartitions(fp(m("snapshot")), m("artifact").str, Seq(decodePartition(m("part")))))
    replay("stats.jsonl")(m =>
      mem.writeStatistics(m("artifact").str, m("path").str, m("stats").obj.map { case (k, v) => k -> v.str }))
    // last write per graph wins
    replay("models.jsonl") { m =>
      val json = m("model").str
      val model = ModelCodec.decode(json)
      mem.writeGraphModel(model)
      modelJson(model.name) = json
    }
  }

  // ---- Backend contract: write-through to log + memory projection ----
  // A write is logged only when it changes what replay would rebuild: a
  // set-union record whose dedup key the projection already holds, or a
  // last-write-wins record equal to the current value, is dropped, so a
  // no-op rebuild appends nothing. Check, append and projection update run
  // as one step under `lock`: LocalExecutor's producers write concurrently.

  def writeGraph(name: String, fingerprint: Fingerprint): Unit = lock.synchronized {
    if (!mem.holdsGraph(name, fingerprint)) {
      append("graphs.jsonl", JObj.of("name" -> JStr(name), "fp" -> JNum(fingerprint.key)))
      mem.writeGraph(name, fingerprint)
    }
  }

  def writeSnapshot(graphName: String, id: Fingerprint): Unit = lock.synchronized {
    if (!mem.holdsSnapshot(graphName, id)) {
      append("snapshots.jsonl", JObj.of("graph" -> JStr(graphName), "id" -> JNum(id.key)))
      mem.writeSnapshot(graphName, id)
    }
  }

  def tag(graphName: String, id: Fingerprint, tag: String, overwrite: Boolean): Unit = lock.synchronized {
    val changed = !mem.snapshotForTag(graphName, tag).contains(id)
    mem.tag(graphName, id, tag, overwrite) // throws on conflict BEFORE logging
    if (changed)
      append("tags.jsonl", JObj.of("graph" -> JStr(graphName), "tag" -> JStr(tag), "id" -> JNum(id.key)))
  }

  def snapshotForTag(graphName: String, tag: String): Option[Fingerprint] =
    mem.snapshotForTag(graphName, tag)

  def writeArtifactPartitions(artifactKey: String, parts: Seq[StoragePartition]): Unit = lock.synchronized {
    val fresh = mem.newArtifactPartitions(artifactKey, parts)
    append("artifact_parts.jsonl",
      fresh.map(p => JObj.of("artifact" -> JStr(artifactKey), "part" -> encodePartition(p))): _*)
    mem.writeArtifactPartitions(artifactKey, fresh)
  }

  def readArtifactPartitions(artifactKey: String, inputFingerprints: Option[Set[Fingerprint]]): Seq[StoragePartition] =
    mem.readArtifactPartitions(artifactKey, inputFingerprints)

  def linkSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String, parts: Seq[StoragePartition]): Unit =
    lock.synchronized {
      val fresh = mem.newSnapshotPartitions(snapshotId, artifactKey, parts)
      append("snapshot_parts.jsonl", fresh.map(p => JObj.of("snapshot" -> JNum(snapshotId.key),
        "artifact" -> JStr(artifactKey), "part" -> encodePartition(p))): _*)
      mem.linkSnapshotPartitions(snapshotId, artifactKey, fresh)
    }

  def readSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String): Seq[StoragePartition] =
    mem.readSnapshotPartitions(snapshotId, artifactKey)

  def writeStatistics(artifactKey: String, partitionPath: String, stats: Map[String, String]): Unit =
    lock.synchronized {
      if (!mem.holdsStatistics(artifactKey, partitionPath, stats)) {
        append("stats.jsonl", JObj.of("artifact" -> JStr(artifactKey), "path" -> JStr(partitionPath),
          "stats" -> JObj(stats.toSeq.sortBy(_._1).map { case (k, v) => k -> JStr(v) })))
        mem.writeStatistics(artifactKey, partitionPath, stats)
      }
    }

  def readStatistics(artifactKey: String): Map[String, Map[String, String]] =
    mem.readStatistics(artifactKey)

  def writeGraphModel(model: GraphModel): Unit = lock.synchronized {
    val json = ModelCodec.encode(model)
    if (!modelJson.get(model.name).contains(json)) {
      append("models.jsonl", JObj.of("graph" -> JStr(model.name), "model" -> JStr(json)))
      mem.writeGraphModel(model)
      modelJson(model.name) = json
    }
  }

  def readGraphModel(graphName: String): Option[GraphModel] = mem.readGraphModel(graphName)
}
