package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity
import graft.store.DomainStore

/**
 * Streaming ANN-index ingestion — the vector twin of
 * [[StreamingDomain]]'s versioned ingest and [[StreamingDedup]]'s
 * index probe: a published [[Similarity.ivfIndexKv]] domain absorbs
 * each arriving micro-batch of vectors through
 * [[Similarity.ivfIndexUpsert]], so the servable index stays current
 * without ever re-assigning the indexed corpus. Per-batch work is
 * O(batch + affected posting lists); untouched cells copy-forward.
 *
 * `foreachBatch` is required (not just convenient): the upsert reads
 * the affected cells by driver-routed point lookup and publishes a
 * token-gated version — batch operations. Versions are `baseVersion +
 * batchId + 1` with [[StreamingDomain]]'s replay protocol: a replayed
 * batch (restart between publish and checkpoint commit) whose version
 * is already published and newest is a no-op; an already-published
 * NON-newest version means the stream is pointed at the wrong
 * domain/baseVersion/checkpoint and fails loudly.
 */
object StreamingAnn {

  def ingestStream(
      index: DomainStore,
      vecStream: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      maxCellMembers: Int = Similarity.MaxCellMembers,
      linked: Boolean = false): StreamingQuery =
    VersionGate.start(vecStream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) => Similarity.ivfIndexUpsert(
        index, batch, idCol, vecCol, centroids, newVersion = version,
        maxCellMembers = maxCellMembers, linked = linked)
    }

  /** [[ingestStream]] for a PQ-coded index ([[Similarity.ivfPqIndexKv]]):
    * identical version/replay protocol, entry-union merge via
    * [[Similarity.ivfPqIndexUpsert]]. */
  def ingestStreamPq(
      index: DomainStore,
      vecStream: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      maxCellMembers: Int = Similarity.MaxCellMembers,
      linked: Boolean = false): StreamingQuery =
    VersionGate.start(vecStream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) => Similarity.ivfPqIndexUpsert(
        index, batch, idCol, vecCol, centroids, books, newVersion = version,
        maxCellMembers = maxCellMembers, linked = linked)
    }

  /** The TAKEDOWN side of the streaming ANN cycle — [[ingestStream]]'s
    * inverse for BOTH posting-list grammars (plain and PQ: removal
    * needs only cell + id, codes are irrelevant): each micro-batch of
    * removal requests (the vectors AS INDEXED) publishes one
    * content-addressed takedown version via
    * [[Similarity.ivfIndexDelete]] under the SAME build quantizer.
    * Version/replay protocol as ingest; ingest and takedown feeds onto
    * one domain must share a version line. Certify with
    * [[Similarity.ivfIndexRemovalAudit]] over the same rows. */
  def takedownStream(
      index: DomainStore,
      vecStream: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      linked: Boolean = false): StreamingQuery =
    VersionGate.start(vecStream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) => Similarity.ivfIndexDelete(
        index, batch, idCol, vecCol, centroids, newVersion = version, linked = linked)
    }
}
