package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.DomainStore

/**
 * The ONE definition of the streaming version/replay protocol every
 * index-maintaining `foreachBatch` loop shares (domain ingest, plain and
 * PQ ANN ingest, membership-index growth and takedown, search-index
 * growth): batch `i` publishes version `baseVersion + i + 1`; a replayed
 * batch (restart between publish and checkpoint commit) whose version is
 * already published AND newest is a no-op — Spark only ever replays the
 * last batch, so an already-published NON-newest version means the
 * stream is pointed at the wrong domain, baseVersion, or checkpointDir,
 * and the gate fails loudly instead of silently dropping the batch's
 * data.
 */
private[streaming] object VersionGate {

  /** Start `stream` as an AvailableNow query whose every micro-batch
    * runs `publish(batch, version)` behind the gate. */
  def start(
      stream: DataFrame,
      index: DomainStore,
      baseVersion: Long,
      checkpointDir: String,
      queryName: String)(publish: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val version = baseVersion + batchId + 1
        if (index.versions.isPublished(version) && version != index.latestVersion)
          throw new IllegalStateException(
            s"stream batch $batchId maps to version $version, which is already " +
              s"published but is not the domain's latest (${index.latestVersion}) — " +
              "baseVersion/checkpointDir mismatch, refusing to drop the batch")
        if (!index.versions.isPublished(version)) publish(batch, version)
      }
      .start()
}
