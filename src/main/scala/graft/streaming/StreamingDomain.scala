package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.store.DomainStore

/**
 * Streaming ingest into a versioned domain — the Structured-Streaming
 * analog of the reference's incremental update cycle (new version built
 * from deltas, copy-forward of untouched shards, atomic publish; SURVEY
 * W7/W8 + V1–V3). Each micro-batch of `(key binary, value binary)` rows
 * becomes one `upsert` publishing `baseVersion + batchId + 1`, so:
 *
 *  - readers always see a fully-published snapshot (token-gated, exactly
 *    like batch publishes — a crash mid-batch leaves a `.failed` marker
 *    and the previous version serving);
 *  - shards untouched by a batch are file-copied forward, keeping
 *    per-batch work O(delta), not O(domain);
 *  - replaying a batch after a failure re-attempts the same version id
 *    (Spark redelivers the failed batchId), so the version sequence has
 *    no holes and retries are idempotent at the version level.
 *
 * `dedupKeys = true` is forwarded to upsert because streaming sources
 * cannot generally promise one row per key within a batch.
 */
object StreamingDomain {

  /** `linked = true` publishes each micro-batch MANIFEST-LINKED
    * (`DomainStore.upsert(linked)`): per-batch publish I/O is O(batch)
    * even at 64k shards — the streaming twin of the high-shard-count
    * publish mode, since a stream is exactly the many-small-deltas shape
    * the copy-forward floor punishes. Link chains stay one-hop, but GC
    * must retain every version that still physically hosts a shard, so a
    * long-running linked stream accretes retained versions; `compactEvery
    * = N` re-materializes every Nth batch as a COPY-MODE publish (a
    * self-contained version releases everything older once the keep
    * window passes it). 0 = never auto-compact. */
  def upsertStream(
      store: DomainStore,
      kvStream: DataFrame,
      baseVersion: Long,
      queryName: String,
      checkpointDir: String,
      linked: Boolean = false,
      compactEvery: Int = 0): StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    // ONE replay protocol for every index-maintaining foreachBatch
    // loop (VersionGate): a replayed last batch is a no-op, an
    // already-published non-latest version fails loud
    VersionGate.start(kvStream, store, baseVersion, checkpointDir, queryName) {
      (batch, version) =>
        // Keyed off the VERSION, not the batch id: replays re-derive the
        // same decision, so a re-attempted batch publishes the same mode.
        val linkThis = linked &&
          (compactEvery == 0 || (version - baseVersion) % compactEvery != 0)
        // First-ever batch bootstraps the domain (upsert needs a
        // published version to merge against).
        if (store.versions.mostRecentVersion.isEmpty)
          store.write(batch, version, dedupKeys = true)
        else
          store.upsert(batch.sparkSession, batch, version, dedupKeys = true,
            linked = linkThis)
    }
  }

  /** The takedown twin of [[upsertStream]]: a stream of `key` rows (a
    * deletion/takedown feed) where each micro-batch publishes one
    * [[DomainStore.delete]] version — named keys absent, untouched
    * shards copy-forward, O(batch) per publish. Same version/replay
    * protocol as upsertStream (version = baseVersion + batchId + 1;
    * an already-published non-latest version fails loud; deleting keys
    * that are already absent is a no-op by delete's contract, which is
    * exactly what an at-least-once replayed batch needs). Requires a
    * published base version — deleting from a domain that was never
    * built is a wiring error, not a bootstrap.
    *
    * `linked`/`compactEvery` as on [[upsertStream]] — a long-running
    * linked takedown stream accretes retained versions exactly like the
    * upsert stream, so it gets the same periodic copy-mode
    * re-materialization escape. */
  def deleteStream(
      store: DomainStore,
      keyStream: DataFrame,
      baseVersion: Long,
      queryName: String,
      checkpointDir: String,
      linked: Boolean = false,
      compactEvery: Int = 0): StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    VersionGate.start(keyStream, store, baseVersion, checkpointDir, queryName) {
      (batch, version) =>
        val linkThis = linked &&
          (compactEvery == 0 || (version - baseVersion) % compactEvery != 0)
        store.delete(batch.sparkSession, batch, version, linked = linkThis)
    }
  }
}
