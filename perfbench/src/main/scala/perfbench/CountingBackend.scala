package perfbench

import graft.fingerprints.Fingerprint
import graft.graph.{Backend, GraphModel}
import graft.storage.StoragePartition

/** Counts and times every call into a [[Backend]] (the graph layer's
  * metadata store) without changing what the call does. */
final class CountingBackend(inner: Backend) extends Backend {
  private def call[A](method: String)(body: => A): A = {
    Trace.count(s"backend.calls.$method", 1)
    Trace.span("backend", "")(body)
  }

  def writeGraph(name: String, fingerprint: Fingerprint): Unit =
    call("writeGraph")(inner.writeGraph(name, fingerprint))
  def writeSnapshot(graphName: String, id: Fingerprint): Unit =
    call("writeSnapshot")(inner.writeSnapshot(graphName, id))
  def tag(graphName: String, id: Fingerprint, tag: String, overwrite: Boolean): Unit =
    call("tag")(inner.tag(graphName, id, tag, overwrite))
  def snapshotForTag(graphName: String, tag: String): Option[Fingerprint] =
    call("snapshotForTag")(inner.snapshotForTag(graphName, tag))
  def writeArtifactPartitions(artifactKey: String, parts: Seq[StoragePartition]): Unit =
    call("writeArtifactPartitions")(inner.writeArtifactPartitions(artifactKey, parts))
  def readArtifactPartitions(artifactKey: String, inputFingerprints: Option[Set[Fingerprint]]): Seq[StoragePartition] =
    call("readArtifactPartitions")(inner.readArtifactPartitions(artifactKey, inputFingerprints))
  def linkSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String, parts: Seq[StoragePartition]): Unit =
    call("linkSnapshotPartitions")(inner.linkSnapshotPartitions(snapshotId, artifactKey, parts))
  def readSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String): Seq[StoragePartition] =
    call("readSnapshotPartitions")(inner.readSnapshotPartitions(snapshotId, artifactKey))
  def writeStatistics(artifactKey: String, partitionPath: String, stats: Map[String, String]): Unit =
    call("writeStatistics")(inner.writeStatistics(artifactKey, partitionPath, stats))
  def readStatistics(artifactKey: String): Map[String, Map[String, String]] =
    call("readStatistics")(inner.readStatistics(artifactKey))
  def writeGraphModel(model: GraphModel): Unit =
    call("writeGraphModel")(inner.writeGraphModel(model))
  def readGraphModel(graphName: String): Option[GraphModel] =
    call("readGraphModel")(inner.readGraphModel(graphName))
}

