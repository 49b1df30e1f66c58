package graft.graph

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import graft.fingerprints.Fingerprint
import graft.storage.StoragePartition

/** Metadata backend: graphs, snapshots, tags, artifact partitions, and
  * snapshot→partition links (reference: src/arti/backends/__init__.py:27-147,
  * memory impl backends/memory.py:24-138). The artifact-partition store is
  * keyed `graphName/artifactKey`; partitions dedup on
  * (path, key, inputFingerprint) exactly like the reference's set-union
  * write (backends/memory.py:70-82). */
trait Backend {
  def writeGraph(name: String, fingerprint: Fingerprint): Unit
  def writeSnapshot(graphName: String, id: Fingerprint): Unit

  def tag(graphName: String, id: Fingerprint, tag: String, overwrite: Boolean): Unit
  def snapshotForTag(graphName: String, tag: String): Option[Fingerprint]

  def writeArtifactPartitions(artifactKey: String, parts: Seq[StoragePartition]): Unit
  /** Optionally filtered by expected input fingerprints — the memoization
    * lookup (reference: backends/__init__.py read_artifact_partitions filter). */
  def readArtifactPartitions(artifactKey: String, inputFingerprints: Option[Set[Fingerprint]] = None): Seq[StoragePartition]

  def linkSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String, parts: Seq[StoragePartition]): Unit
  def readSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String): Seq[StoragePartition]

  /** Artifact statistics per written partition (reference F38 hook). */
  def writeStatistics(artifactKey: String, partitionPath: String, stats: Map[String, String]): Unit
  def readStatistics(artifactKey: String): Map[String, Map[String, String]]

  /** F37 model read-back (reference `read_graph`/`read_snapshot`,
    * backends/__init__.py:59-81): persist the graph's artifact models +
    * producer wiring so a tagged snapshot can be rehydrated — and its
    * artifacts read — without the live Graph object (see
    * [[RehydratedSnapshot.fromTag]]). Last write wins per graph name. */
  def writeGraphModel(model: GraphModel): Unit
  def readGraphModel(graphName: String): Option[GraphModel]
}

final class MemoryBackend extends Backend {
  private val graphs = TrieMap.empty[String, Fingerprint]
  private val snapshots = TrieMap.empty[(String, Fingerprint), Long]
  private val tags = TrieMap.empty[(String, String), Fingerprint]
  private val artifactParts = TrieMap.empty[String, Vector[StoragePartition]]
  private val snapshotParts = TrieMap.empty[(Fingerprint, String), Vector[StoragePartition]]

  def writeGraph(name: String, fingerprint: Fingerprint): Unit = graphs(name) = fingerprint

  def writeSnapshot(graphName: String, id: Fingerprint): Unit =
    snapshots((graphName, id)) = System.nanoTime()

  def tag(graphName: String, id: Fingerprint, tag: String, overwrite: Boolean): Unit = {
    val k = (graphName, tag)
    if (!overwrite && tags.contains(k) && tags(k) != id)
      throw new IllegalStateException(s"tag '$tag' already exists for graph '$graphName' (pass overwrite=true)")
    tags(k) = id
  }

  def snapshotForTag(graphName: String, tag: String): Option[Fingerprint] = tags.get((graphName, tag))

  /** `parts` less those `cur` already holds and repeats within `parts`,
    * by the (path, key, inputFingerprint) dedup key: what a set-union write
    * of `parts` adds. */
  private def unseen(cur: Seq[StoragePartition], parts: Seq[StoragePartition]): Seq[StoragePartition] = {
    val seen = mutable.Set.from(cur.map(p => (p.path, p.key, p.inputFingerprint)))
    parts.filter(p => seen.add((p.path, p.key, p.inputFingerprint)))
  }

  // what a write would change, for FileBackend's log-only-changes rule
  private[graph] def holdsGraph(name: String, fingerprint: Fingerprint): Boolean =
    graphs.get(name).contains(fingerprint)
  private[graph] def holdsSnapshot(graphName: String, id: Fingerprint): Boolean =
    snapshots.contains((graphName, id))
  private[graph] def newArtifactPartitions(artifactKey: String, parts: Seq[StoragePartition]): Seq[StoragePartition] =
    unseen(artifactParts.getOrElse(artifactKey, Vector.empty), parts)
  private[graph] def newSnapshotPartitions(
      snapshotId: Fingerprint, artifactKey: String, parts: Seq[StoragePartition]): Seq[StoragePartition] =
    unseen(snapshotParts.getOrElse((snapshotId, artifactKey), Vector.empty), parts)
  private[graph] def holdsStatistics(artifactKey: String, partitionPath: String, s: Map[String, String]): Boolean =
    stats.get((artifactKey, partitionPath)).contains(s)

  def writeArtifactPartitions(artifactKey: String, parts: Seq[StoragePartition]): Unit =
    artifactParts.updateWith(artifactKey) { existing =>
      val cur = existing.getOrElse(Vector.empty)
      Some(cur ++ unseen(cur, parts))
    }

  def readArtifactPartitions(artifactKey: String, inputFingerprints: Option[Set[Fingerprint]]): Seq[StoragePartition] = {
    val all = artifactParts.getOrElse(artifactKey, Vector.empty)
    inputFingerprints.fold(all: Seq[StoragePartition])(fps => all.filter(p => fps(p.inputFingerprint)))
  }

  def linkSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String, parts: Seq[StoragePartition]): Unit =
    snapshotParts.updateWith((snapshotId, artifactKey)) { existing =>
      val cur = existing.getOrElse(Vector.empty)
      Some(cur ++ unseen(cur, parts))
    }

  def readSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String): Seq[StoragePartition] =
    snapshotParts.getOrElse((snapshotId, artifactKey), Vector.empty)

  private val stats = TrieMap.empty[(String, String), Map[String, String]]

  def writeStatistics(artifactKey: String, partitionPath: String, s: Map[String, String]): Unit =
    stats((artifactKey, partitionPath)) = s

  def readStatistics(artifactKey: String): Map[String, Map[String, String]] =
    stats.toMap.collect { case ((k, p), v) if k == artifactKey => p -> v }

  private val models = TrieMap.empty[String, GraphModel]

  def writeGraphModel(model: GraphModel): Unit = models(model.name) = model

  def readGraphModel(graphName: String): Option[GraphModel] = models.get(graphName)
}
