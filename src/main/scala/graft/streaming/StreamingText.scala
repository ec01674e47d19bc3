package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/**
 * Streaming twins of the text-pipeline operators: the corpus arrives as a
 * document file stream, the model/reference side stays static — the shape
 * of a live ingestion pipeline scoring documents as they land (CCNet
 * scores each CommonCrawl dump against a fixed Wikipedia model the same
 * way).
 */
object StreamingText {

  /**
   * Score a document stream with [[TextAnalysis.lmScore]] against a model
   * trained on a STATIC reference corpus — the very same operator code
   * path as batch: the sentinel-gram formulation needs only stream-static
   * broadcast joins (stateless) plus one per-doc stateful aggregation, so
   * it is streaming-legal as written (an aggregate-then-rejoin shape
   * would be a stream-to-its-own-aggregate self-join, which streaming
   * forbids). Complete mode re-emits the running score table per batch —
   * the test-scope sink (a production run would use update mode with a
   * doc-id watermark; each doc's grams arrive in one batch, so no
   * cross-batch gram state is ever needed).
   *
   * After the stream drains, `spark.table(queryName)` equals the batch
   * [[TextAnalysis.lmScore]] over the same files (pinned in
   * StreamingSpec).
   */
  def lmScoreToMemory(
      spark: SparkSession,
      dir: String,
      train: DataFrame,
      queryName: String,
      maxGrams: Int = 1 << 20,
      vocab: Long = 1L << 16,
      scale: Long = 1000000L): StreamingQuery = {
    val docs = spark.readStream
      .schema(StreamingEvents.DocumentsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    TextAnalysis.lmScore(docs, train, "doc_id", "text", maxGrams, vocab, scale)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
  }

  /**
   * DSIR-score a document stream against a model FITTED ON STATIC frames
   * ([[TextAnalysis.dsirModel]]) — the paper's deployment shape (fit once
   * on samples, apply to the whole corpus) is exactly the streaming-legal
   * split: the apply half is a stream-static broadcast join plus one
   * per-doc stateful aggregation, the same legality argument as
   * [[lmScoreToMemory]]. The fit half stays batch (it aggregates the raw
   * distribution, which a stream cannot self-reference).
   */
  def dsirScoreToMemory(
      spark: SparkSession,
      dir: String,
      model: DataFrame,
      queryName: String,
      buckets: Int = 4096): StreamingQuery = {
    val docs = spark.readStream
      .schema(StreamingEvents.DocumentsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    TextAnalysis.dsirScore(docs, model, "doc_id", "text", buckets)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
  }

  /**
   * Feature-hash-embed a document stream ([[TextAnalysis.featureHashEmbed]]
   * unchanged) — per-row hashing plus one (doc, cell) stateful
   * aggregation, no model at all, so the op is streaming-legal as
   * written; each doc's grams arrive in one file-stream batch, so the
   * running sparse-embedding table is correct per batch. The ingest-side
   * twin of the batch text→vector bridge: embed documents AS THEY ARRIVE,
   * then feed the vector stack.
   */
  def hashEmbedToMemory(
      spark: SparkSession,
      dir: String,
      queryName: String,
      dim: Int = 64): StreamingQuery = {
    val docs = spark.readStream
      .schema(StreamingEvents.DocumentsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    TextAnalysis.featureHashEmbed(docs, "doc_id", "text", dim)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
  }

  /** Streaming growth of a published SEARCH-index domain
    * ([[graft.operators.Search]]) — the full-text member of the
    * streaming updater cycle beside `StreamingDedup.growStream` and
    * `StreamingAnn.ingestStream`: each micro-batch of new documents folds
    * into the affected postings (`Search.searchIndexUpsert`: append-only
    * merge, doc lengths + corpus stats advance, tombstoned terms stay
    * elided), untouched terms copy-forward. Version/replay protocol via
    * [[VersionGate]]: a replayed newest version no-ops, a published
    * non-newest fails loud. Multi-batch ingest is order-insensitive
    * (postings re-sort by doc id, stats are additive), so the drained
    * stream equals the one-shot full rebuild — pinned in StreamingSpec. */
  def growSearchIndexStream(
      index: graft.store.DomainStore,
      docStream: org.apache.spark.sql.DataFrame,
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      linked: Boolean = false): StreamingQuery =
    VersionGate.start(docStream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) => graft.operators.Search.searchIndexUpsert(
        index, batch, "doc_id", "text", newVersion = version, linked = linked)
    }

  /** Streaming growth of a published POSITIONAL index — phrase search's
    * member of the same updater cycle ([[growSearchIndexStream]]'s
    * contract verbatim: gated versions, append-only merge, tombstones
    * respected, order-insensitive across batches since postings re-sort
    * by doc id). Pinned convergent with the from-scratch
    * `positionalIndexKv` build in StreamingSpec. */
  def growPositionalIndexStream(
      index: graft.store.DomainStore,
      docStream: org.apache.spark.sql.DataFrame,
      baseVersion: Long,
      checkpointDir: String,
      queryName: String,
      linked: Boolean = false): StreamingQuery =
    VersionGate.start(docStream, index, baseVersion, checkpointDir, queryName) {
      (batch, version) => graft.operators.Search.positionalIndexUpsert(
        index, batch, "doc_id", "text", newVersion = version, linked = linked)
    }

  /**
   * Temperature-rebalance a DOCUMENT STREAM to a row budget — the
   * production shape of corpus mixing: the per-source rates FIT ONCE on
   * a static census ([[graft.operators.Sampling.alphaRates]] — in a live
   * pipeline, a periodic census of the indexed corpus), and each arriving
   * micro-batch passes the stateless md5-bucket membership test
   * ([[graft.operators.Sampling.stratifiedSample]]) with those rates.
   * Membership is a pure deterministic row predicate, so this is
   * append-mode streaming-legal with NO state, and the drained stream
   * equals the batch [[graft.operators.Sampling.alphaMix]] over the same
   * files with the same census (pinned in StreamingSpec). The same
   * md5-bucket determinism that lets batch membership survive
   * reprocessing means an accepted row never flickers out as later
   * batches arrive — replayed files re-emit the identical accept set.
   */
  def alphaMixToMemory(
      spark: SparkSession,
      dir: String,
      census: DataFrame,
      budgetRows: Long,
      queryName: String,
      halfPow: Int = 1): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val rates = graft.operators.Sampling.alphaRates(census, "source", budgetRows, halfPow)
    val docs = spark.readStream
      .schema(StreamingEvents.DocumentsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    graft.operators.Sampling
      .stratifiedSample(docs, "doc_id", col("source"), rates, defaultRate = 0)
      .select(col("doc_id"), col("source"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
  }
}
