package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, IndexFamily}
import graft.store.DomainStore

/**
 * Streaming dedup-on-ingest against a PUBLISHED band-index domain — the
 * incremental-dedup loop of a live pipeline: a corpus's MinHash-LSH band
 * index is published once ([[Dedup.bandIndexKv]] + `DomainStore.write`),
 * and every arriving micro-batch of documents probes it by point lookup
 * and appends its verified duplicate pairs. The reference's updater-cycle
 * shape (`foreachBatch`) is REQUIRED here, not just convenient:
 * [[Dedup.dedupAgainstIndex]]'s probe routes keys driver-side (multiGet),
 * which is a batch operation — foreachBatch hands each micro-batch over
 * as a plain DataFrame, exactly like [[StreamingDomain.upsertStream]]
 * publishes versions.
 *
 * Per-batch work is O(batch + its candidates): banding and verification
 * touch only the arriving docs (plus the corpus rows named by their
 * candidate pairs), never re-banding the indexed corpus. Batch/stream
 * equivalence is pinned in StreamingSpec: because pairs are per-incoming-
 * doc independent, the union of per-batch outputs equals the one-shot
 * batch probe of the whole delta.
 */
object StreamingDedup {

  /**
   * Callers bound catch-up batches at the SOURCE (`maxFilesPerTrigger` /
   * `maxBytesPerTrigger`) — AvailableNow otherwise processes a whole
   * backlog as one batch; a backlog batch whose band keys exceed
   * multiGet's driver threshold switches to the co-shuffled probe on its
   * own (the bounded decision probe in `DomainStore.multiGet`).
   * Output lands in one `batch=<id>` directory per micro-batch,
   * OVERWRITTEN on replay: foreachBatch is at-least-once, and an
   * append-mode sink would duplicate every pair of a batch replayed
   * after a crash-between-commit-and-checkpoint (readers see the extra
   * `batch` partition column; `spark.read.parquet(outDir)` handles it).
   */
  def dedupAgainstIndexToFiles(
      store: DomainStore,
      docStream: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      outDir: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    docStream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Dedup.dedupAgainstIndex(store, batch, corpus, "doc_id", "text", threshold)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** The IMAGE twin of [[dedupAgainstIndexToFiles]]: each micro-batch of
    * arriving image hashes (media_id, phash) probes a published
    * [[graft.operators.Multimodal.phashIndexKv]] domain by point lookup
    * + local popcount verify and appends its near-dup pairs — per-batch
    * work is O(batch + candidates), no corpus table at all (the index
    * values carry the phashes). Same batch=<id> overwrite-on-replay sink
    * discipline. Compose with [[growStream]] as probe-then-grow. */
  def imageDedupToFiles(
      store: DomainStore,
      hashStream: DataFrame,
      maxHamming: Int,
      outDir: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    hashStream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Multimodal.phashDedupAgainstIndex(store, batch, maxHamming)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** The EMBEDDING twin: each micro-batch of arriving embeddings probes
    * a published [[graft.operators.Similarity.semIndexKv]] domain and
    * appends its verified semantic near-dup pairs (exact cosine against
    * only the candidate-named corpus rows). Compose with
    * [[growStream]] as probe-then-grow. */
  def semDedupToFiles(
      store: DomainStore,
      embStream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int,
      outDir: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    embStream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.semDedupAgainstIndex(
            store, batch, corpus, idCol, vecCol, threshold, planes)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** The GROWTH side of the streaming updater cycle: each micro-batch of
    * accepted members folds into the published index through
    * `family.upsert` (affected buckets merged, the rest copy-forward),
    * so the next delta probes today's accepts too. The family descriptor
    * carries the build's geometry (fingerprint anchors, semantic planes,
    * the cap), so the stream cannot fold in keys no probe matches.
    * Version/replay protocol is [[VersionGate]]'s: replayed newest
    * version no-ops, published non-newest fails loud. Compose with the
    * `*ToFiles` probes as probe-then-grow: dedup the batch against the
    * index, admit its survivors, grow with them.
    *
    * `linked = true`: each micro-batch publishes O(delta) with untouched
    * shards riding `_links.json` — the perpetual-updater mode at high
    * shard counts (a copy-forward publish per micro-batch pays O(domain)
    * raw copies each trigger); GC of the accreting link chain is the
    * serving daemons' pull policy. */
  def growStream(
      family: IndexFamily,
      index: DomainStore,
      stream: DataFrame,
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      linked: Boolean = false): StreamingQuery =
    VersionGate.start(stream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) => family.upsert(index, batch, version, linked)
    }

  /** The TAKEDOWN side — the court-ordered-removal feed,
    * [[growStream]]'s inverse: each micro-batch of removal requests (the
    * content AS INDEXED) publishes ONE content-addressed `family.delete`
    * version (affected buckets shrunken, emptied buckets absent,
    * untouched shards copy-forward — or `_links.json` under `linked`,
    * the perpetual-feed mode). Same version/replay protocol; grow and
    * takedown feeds onto ONE domain must share a version line
    * (interleave them behind one stream — [[updaterIndexStream]] — not
    * two racing checkpoints). Certify each takedown with
    * `family.removalAudit` over the same rows, the O(removals)
    * completeness check; drifted-content requests need
    * `family.idAudit` instead. */
  def takedownStream(
      family: IndexFamily,
      index: DomainStore,
      stream: DataFrame,
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      linked: Boolean = false): StreamingQuery =
    VersionGate.start(stream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) => family.delete(index, batch, version, linked)
    }

  /** The COMBINED updater feed — one stream, one version per batch: rows
    * carry `op` ('add' | 'remove') beside (doc_id, text), and each
    * micro-batch publishes its accepts AND its removal requests as ONE
    * band-index update version ([[Dedup.bandIndex]]`.update`) — final
    * bucket membership == the rebuild on corpus ∪ adds \ removes, modulo
    * the documented cur-tombstone carve-out (a bucket the publish
    * cap-tombstoned carries; only a rebuild recounts it). An id on both
    * sides of one batch fails loud. This is the version-line answer for
    * domains fed by growth and takedown simultaneously — two racing
    * streams would collide on the `baseVersion + batchId` arithmetic;
    * here both ride one checkpoint. Unknown op values fail loud (a
    * silently dropped 'delete' misspelling would leave court-ordered
    * removals published). `maxBucket` MUST match the build's cap — a
    * mismatched cap silently diverges from the rebuild at exactly the
    * bucket sizes between the two values. */
  def updaterIndexStream(
      index: DomainStore,
      opStream: DataFrame,
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      maxBucket: Int = graft.operators.LshBuckets.MaxBucket,
      linked: Boolean = false): StreamingQuery = {
    val band = Dedup.bandIndex("doc_id", "text", maxBucket)
    VersionGate.start(opStream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) =>
        // narrow import: functions.version would shadow the gate's param
        import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
        val typed = batch.withColumn("op",
          when(col("op").isin("add", "remove"), col("op"))
            .otherwise(raise_error(concat(
              lit("updaterIndexStream: unknown op '"), col("op"),
              lit("' (use 'add' | 'remove')")))))
          // one source scan per trigger: the clash probe and both build
          // sides read the cached batch, not the file source 4x (the op
          // check also evaluates once per row this way)
          .persist()
        try band.update(
          index, typed.where(col("op") === "add"), typed.where(col("op") === "remove"),
          version, linked)
        finally typed.unpersist()
    }
  }
}
