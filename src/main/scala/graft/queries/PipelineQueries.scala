package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DomainSpec
import graft.operators.{Dedup, Multimodal, Packing, Sampling, Similarity, TextAnalysis}

/**
 * The end-to-end composition check: a realistic training-corpus
 * preprocessing recipe chaining the pipeline operators — quality gate →
 * language gate → test-set decontamination → exact dedup representative
 * selection — verified against one DuckDB oracle that replays every
 * stage. Each stage is oracle-verified on its own elsewhere; this query
 * pins that the stages compose (id plumbing, filter ordering, join
 * semantics between them).
 */
object PipelineQueries {

  import TextQueries.{BenchMod, DecontamN, MixBudget, MixWeights, PackBudget, ShuffleSeed}

  val MinTokens = 20
  val DeltaMod = 10

  /** pipeline_index_audit's takedown slice: indexed docs (doc_id %
    * DeltaMod != 0) with doc_id % AuditDropMod == 0 leave the corpus of
    * record while their entries stay published — the stale direction.
    * Coprime with DeltaMod so the slice is non-degenerate. */
  val AuditDropMod = 7

  /** pipeline_takedown_audit's not-removed audit slice: indexed docs
    * with doc_id % TakedownExtraMod == 0 are audited WITHOUT having been
    * taken down, so their entries report `present` (a nonzero result
    * proving the probe path) while the genuinely-removed AuditDropMod
    * slice certifies clean. Coprime with DeltaMod and AuditDropMod. */
  val TakedownExtraMod = 11
  // pipeline_media_filter's quality gates: minimum pixel area and minimum
  // mean byte value (byte_sum >= area * MinMeanByte). Both replayed in
  // closed form by the oracle over the synthetic pixel formula.
  val MediaMinArea = 64
  val MediaMinMeanByte = 110
  // pipeline_semdedup_index's verify threshold: LOWER than
  // dedup_semantic's 0.44 on purpose — the synthetic embeddings carry
  // few >= 0.44 delta-corpus pairs (5 at sf0.01), and a contract query
  // whose correct answer is near-empty pins nothing; 0.3 yields a
  // non-vacuous pair set at every sf while exercising the identical path
  val SemIndexThreshold = 0.3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_corpus_filter" -> { (s, dir) =>
      val docs = Fixtures.table(s, dir, "documents")
      val bench = docs.where(col("doc_id") % BenchMod === 0)
      val corpus = docs.where(col("doc_id") % BenchMod =!= 0)
      // quality + language gates: per-row, no shuffle
      val gated = corpus.where(
        TextAnalysis.wsTokenCount(col("text")) >= MinTokens &&
          TextAnalysis.langScore(col("text"), "en") > 0)
      // decontamination gate by the SMALL side: contaminated ids are a
      // sliver of the corpus (clean ids are corpus-sized), so the
      // anti-join broadcasts and the text payload never shuffles for
      // this filter — the dataPrune drop-set rule. The sliver is consumed
      // by BOTH survivors consumers below, so it is materialized once:
      // left lazy, each consumer's broadcast build re-runs the whole
      // decontamination pipeline (stage stats r16: twin ~0.9 s builds;
      // AQE reuse is not transitive)
      val contaminated = TextAnalysis.decontaminate(gated, bench, "doc_id", "text", DecontamN)
        .where(col("contaminated") === 1)
        .select("doc_id")
        .localCheckpoint(true)
      val surviving = gated.join(contaminated, Seq("doc_id"), "left_anti")
      // dedup decision: keep the min-id representative of each normalized
      // text among survivors. The rep id set is corpus-sized (both join
      // sides big), so project the output columns FIRST — the exchange
      // moves two longs per row, never the text
      val reps = Dedup.exact(surviving, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      surviving
        .select(
          col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
        .join(reps, "doc_id")
    },
    // The back half of the recipe: token-budget source mixing → seed-keyed
    // epoch shuffle of the kept docs → sequence packing in SHUFFLED order
    // (the order a training run actually consumes — packing by raw doc_id
    // would co-locate each source's contiguous id ranges in the same
    // chunks). Pins that mix/shuffle/pack compose: the shuffle position
    // becomes packing's ordering key.
    "pipeline_train_mix" -> { (s, dir) =>
      val docs = Fixtures.table(s, dir, "documents")
      // the kept (doc_id, nt) decisions and the shuffle positions are
      // each consumed twice below — materialize both (two longs per row)
      // or every consumer re-runs the mix / prefix-sum machinery (AQE
      // reuse is not transitive; token counts projected BEFORE the
      // position join so the exchange never moves text)
      val kept = Sampling.tokenBudgetMix(
          docs, "doc_id", "source", col("n_chars"), MixWeights, MixBudget)
        .select(col("doc_id"), TextAnalysis.wsTokenCount(col("text")).cast("long").as("nt"))
        .localCheckpoint(true)
      val pos = Sampling.globalShuffle(kept.select(col("doc_id")), "doc_id", ShuffleSeed)
        .localCheckpoint(true)
      val ordered = kept.join(pos, "doc_id")
      Packing.chunkSpans(ordered, "pos", col("nt"), PackBudget)
        .join(pos, "pos")
        .select(col("doc_id"), col("pos"), col("n_tokens"),
          col("first_chunk"), col("last_chunk"))
    },
    // The two halves of the engine composed: the corpus's MinHash-LSH band
    // buckets are PUBLISHED AS A KV DOMAIN (key = (band, band_hash), value
    // = member doc ids), and an incoming delta dedups against it by POINT
    // LOOKUP — the delta's band keys are a bounded probe set (delta ≪
    // corpus is the incremental contract), so multiGet prunes the index
    // scan to the probed shards and bloom sidecars answer definite misses
    // with zero I/O; candidates then get the exact Jaccard verify. (A
    // jumbo delta auto-switches — multiGet's bounded decision probe — to
    // one linear co-shuffled join rather than pretending to point-look-up.)
    // The reference's whole purpose (batch-built domains, point-queried)
    // applied to the pipeline's dedup index; at 100 TB the published index
    // is how a daily delta avoids re-banding the full corpus. Banding
    // recall at the threshold is ~1 - 6e-8 (DedupQueries), so the oracle
    // is the exact delta x corpus Jaccard.
    "pipeline_dedup_index" -> { (s, dir) =>
      dedupIndexStore(s, dir)
      dedupIndexProbe(s, dir)
    },
    // The IMAGE twin of pipeline_dedup_index: the corpus's perceptual
    // hashes banded (4×16-bit pigeonhole — recall exactly 1.0 for
    // hamming ≤ 3) and PUBLISHED AS A KV DOMAIN whose values carry
    // id:phash entries, so an incoming media delta dedups against it by
    // point lookup + LOCAL popcount verify — no corpus access at all.
    // Closes the one all-corpus-per-delta shape left in the pipeline
    // family (mm_image_neardup re-bands the whole corpus per run; this
    // probes yesterday's index). The oracle replays hash + banding +
    // oriented candidate join + popcount in closed form.
    "pipeline_image_index" -> { (s, dir) =>
      imageIndexStore(s, dir)
      imageIndexProbe(s, dir)
    },
    // The VERBATIM-OVERLAP twin of pipeline_dedup_index: the corpus's
    // anchored shared-substring fingerprints (winnowing, md5 of each
    // anchored 64-codepoint run) PUBLISHED AS A KV DOMAIN, and an
    // incoming delta detects exact >= 64-char overlap against it by
    // POINT LOOKUP alone — no corpus re-anchoring and NO verify stage
    // (a fingerprint hit IS a shared run; the set-similarity families
    // structurally miss this overlap class). The contamination /
    // boilerplate-provenance probe a daily delta runs against
    // yesterday's corpus at 100 TB. md5 fingerprints are SQL-replayable,
    // so the oracle replays anchoring, the publish-time hot-fingerprint
    // cap, and the oriented candidate join exactly.
    "pipeline_span_index" -> { (s, dir) =>
      spanIndexStore(s, dir)
      Dedup.sharedSubstringAgainstIndex(
        spanIndexStore(s, dir),
        Fixtures.table(s, dir, "documents").where(col("doc_id") % DeltaMod === 0),
        "doc_id", "text",
        minLen = DedupQueries.SubstringMinLen,
        window = DedupQueries.SubstringWindow,
        modulus = DedupQueries.SubstringModulus)
    },
    // The STALE-ENTRY AUDIT served on the span index — the content-drift
    // detector (IndexDelete.idAudit) as a contract query, on the ONE
    // family whose keys the oracle can replay (md5 anchors; xxhash64
    // bands / seeded hyperplanes cannot). The corpus of record drifts
    // from what the index saw in both directions: a takedown slice
    // (indexed docs with doc_id % AuditDropMod == 0) is GONE from the
    // record but still published — every unshared fingerprint of theirs
    // must report `stale` (the entries a content-addressed takedown
    // would miss); the never-indexed delta (doc_id % DeltaMod == 0) is
    // IN the record — its fingerprints report `unindexed` (the probes
    // that would silently miss). Publish-time cap tombstones are
    // excluded both ways (cap drops are semantics, not drift), and the
    // oracle replays anchoring, the cap, and the full-outer orphan
    // report in closed form.
    "pipeline_index_audit" -> { (s, dir) =>
      val store = spanIndexStore(s, dir)
      val record = Fixtures.table(s, dir, "documents").where(
        col("doc_id") % DeltaMod === 0 || col("doc_id") % AuditDropMod =!= 0)
      spanIndex.idAudit(store, record)
        .select(lower(hex(col("key"))).as("fp"),
          col("id").cast("long").as("id"), col("kind"))
    },
    // The TARGETED TAKEDOWN-CERTIFICATION as a contract query
    // (IndexDelete.removalAudit — the O(removals) completeness proof the
    // sampled idAudit explicitly cannot give), end to end through a REAL
    // takedown: the fixture store publishes v1 (the fp index over the
    // corpus slice) then a LINKED publishRemoval v2 of the AuditDropMod
    // slice, and the audit targets that removed slice PLUS a
    // never-removed TakedownExtraMod slice. The removed ids certify
    // clean (their entries are gone — zero rows), the never-removed ids'
    // surviving entries report `present` (the nonzero half proving the
    // point-probe + id-join path), and any targeted id mapping to a
    // cap-tombstoned fingerprint reports `tombstoned` (membership
    // unknown — loud, never silently clean). The oracle replays
    // anchoring, the cap, the takedown subtraction, and both report
    // joins in closed form.
    "pipeline_takedown_audit" -> { (s, dir) =>
      val store = takedownIndexStore(s, dir)
      // the audit's key rows ARE the memoized superset derivation the
      // fixture's takedown filtered (one anchorOccurrences pass serves
      // both — r16 verdict item 3); same math as deriving from the audit
      // slice directly, since anchoring is per-doc
      spanIndex.removalAuditRows(store, takedownKeyRows(s, dir))
        .select(lower(hex(col("key"))).as("fp"),
          col("id").cast("long").as("id"), col("entry"), col("kind"))
    },
    // The SECOND oracled audit family (phash bands): pipeline_index_audit
    // proves the shared idAudit ENGINE on the fp-anchor key kernel; this
    // one proves the family-wrapper COMPOSITION isn't fp-shaped by
    // accident — a different key grammar (composite (band:int_be,
    // bucket:long_be) keys vs raw md5), a different entry grammar
    // (payload-carrying `id:phash` vs plain id, so the FULL-entry compare
    // path is what's on trial), and the pigeonhole banding chain in
    // place of anchoring. Same drift construction: a takedown slice
    // (indexed media with media_id % AuditDropMod == 0) leaves the
    // record while its entries stay published (`stale`), the
    // never-indexed delta is in the record (`unindexed`), and the
    // publish-time cap tombstones are excluded both ways.
    "pipeline_image_audit" -> { (s, dir) =>
      val store = imageIndexStore(s, dir)
      val recordMedia = Multimodal.synthImageMedia(
        s, Fixtures.table(s, dir, "documents")
          .where(col("doc_id") % DeltaMod === 0 || col("doc_id") % AuditDropMod =!= 0)
          .select(col("doc_id")))
      Multimodal.phashIndex().idAudit(
          store,
          Multimodal.imageHashes(s, recordMedia).toDF()
            .select(col("media_id"), col("phash")))
        .select(lower(hex(col("key"))).as("fp"),
          col("id").cast("long").as("id"), col("entry"), col("kind"))
    },
    // The composed IMAGE filter recipe — the multimodal twin of
    // pipeline_corpus_filter (VERDICT r11 task 5): decode → quality gate
    // (per-row column math, no shuffle) → perceptual near-dup DROP
    // (keep-min-id: any image within hamming <= 3 of a smaller id goes;
    // banding makes that exact) → kept census. The drop set is pair-
    // sized ≪ corpus, so it broadcasts into a left-anti and the decoded
    // features never shuffle for the drop — the dataPrune drop-set rule.
    // Pins the id plumbing across decodeImages → imageHashes →
    // phashNearDupPairs → keep rule, which no single mm_* query composes.
    "pipeline_media_filter" -> { (s, dir) =>
      val media = Multimodal.synthImageMedia(
        s, Fixtures.table(s, dir, "documents").select(col("doc_id")))
      val feats = Multimodal.decodeImages(s, media).toDF()
      val gated = feats.where(
        col("width") * col("height") >= MediaMinArea &&
          col("byte_sum") >= col("width").cast("long") * col("height") * MediaMinMeanByte)
      val dropped = Multimodal.phashNearDupPairs(
          s,
          Multimodal.imageHashes(s, media).toDF().select(col("media_id"), col("phash")),
          maxHamming = 3)
        .select(col("id_b").as("media_id")).distinct()
      gated.join(dropped, Seq("media_id"), "left_anti")
        .select(
          col("media_id"),
          (col("width").cast("long") * col("height")).as("area"),
          col("byte_sum"))
    },
    // The EMBEDDING twin of pipeline_dedup_index (SemDeDup served from a
    // published index): the corpus's seeded-hyperplane cells published
    // AS A KV DOMAIN (key = cell, value = member ids), an incoming
    // embedding delta probes them by point lookup, and only the corpus
    // rows named by candidates get the exact cosine verify — a daily
    // delta never re-clusters the corpus. Deterministic planes make the
    // whole path oracled (cells + oriented candidates + cosine replayed).
    "pipeline_semdedup_index" -> { (s, dir) =>
      semIndexStore(s, dir)
      semIndexProbe(s, dir)
    },
    // ANN served from a PUBLISHED domain — the other flagship composition
    // (vector-search twin of pipeline_dedup_index): the corpus's IVF
    // posting lists published as a kv-sorted domain (key = cell, value =
    // member ids), queries answered by nprobe point lookups + exact
    // re-rank of only the met candidates. Must equal the direct
    // sim_ann_ivf_fixed pipeline bit-for-bit, so the oracle IS that
    // query's SQL — the domain publish/probe roundtrip is pinned to be
    // semantics-free.
    "pipeline_ann_index" -> { (s, dir) =>
      annIndexStore(s, dir)
      annIndexProbe(s, dir)
    },
    // The PQ-coded variant: posting lists carry (id, PQ codes), so the
    // ADC preselection ranks candidates straight off the domain — no
    // vector loads until the exact re-rank of the k·rerank shortlist.
    // Oracle = sim_ann_ivfpq_fixed's SQL: the serving layout must be
    // result-invisible.
    "pipeline_annpq_index" -> { (s, dir) =>
      annPqIndexStore(s, dir)
      annPqIndexProbe(s, dir)
    },
    // The RAG recipe end to end: sliding-window chunking -> model-free
    // hash embeddings (chunk AND query text through ONE embedder) ->
    // fixed-quantizer IVF retrieval with exact cosine re-rank. The
    // oracle replays every stage — window arithmetic, gram hashing,
    // dense assembly, cell assignment, probing, ranking — so a hash
    // match pins the whole retrieval path, not one operator.
    "pipeline_rag_retrieval" -> { (s, dir) =>
      import s.implicits._
      val chunks = graft.operators.TextAnalysis.chunkDocuments(
          Fixtures.table(s, dir, "documents"), "doc_id", "text",
          RagChunkTokens, RagOverlap)
        .select(
          // composed id space: doc_id * 4096 + chunk_no, guarded — a
          // ≥4096-chunk document (~100k tokens) must fail loud, not
          // silently collide into a neighbor's ids
          when(col("chunk_no") >= RagIdStride,
            raise_error(concat(lit("pipeline_rag_retrieval: doc "),
              col("doc_id").cast("string"),
              lit(s" has >= $RagIdStride chunks — the composed id space overflows"))))
            .otherwise(col("doc_id") * RagIdStride + col("chunk_no")).as("chunk_id"),
          col("chunk_text"))
      val corpusEmb = graft.operators.TextAnalysis.featureHashVector(
        chunks, "chunk_id", "chunk_text", TextQueries.HashEmbedDim)
      // query ids live below zero — disjoint from every chunk id by sign
      val qdf = RagQueryLits.toDF("qid", "qtext")
        .select((-col("qid")).as("chunk_id"), col("qtext").as("chunk_text"))
      val queryEmb = graft.operators.TextAnalysis.featureHashVector(
        qdf, "chunk_id", "chunk_text", TextQueries.HashEmbedDim)
      graft.operators.Similarity.ivfTopKFixed(
          corpusEmb, queryEmb, "chunk_id", "emb", RagK,
          graft.operators.Similarity.fixedCentroids(RagNlist, TextQueries.HashEmbedDim),
          nprobe = RagNprobe)
        .select(
          (-col("query_id")).as("query_id"),
          expr(s"CAST(neighbor_id div $RagIdStride AS BIGINT)").as("doc_id"),
          pmod(col("neighbor_id"), lit(RagIdStride.toLong)).as("chunk_no"),
          col("rank").cast("long").as("rank"))
    },
    // The D4 data-pruning recipe (Tirumala et al. 2023, arXiv:2308.12284)
    // composed: SemDeDup drops near-duplicate embeddings (step 1,
    // semanticDedup — same threshold/planes as dedup_semantic), then
    // SSL-prototype pruning ranks the SURVIVORS against their cell means
    // and drops the most prototypical fraction (step 2,
    // prototypePruning — same params as sim_prototype_prune). Both
    // stages are oracled standalone; this pins their COMPOSITION — the
    // ids-only survivor plumbing and the drop-set interaction (a doc
    // deduped in step 1 must not occupy a rank in step 2's cells). The
    // oracle replays both stages in one chain, the pruning half shared
    // verbatim with sim_prototype_prune's (SimQueries.protoPruneChain).
    "pipeline_data_prune" -> { (s, dir) =>
      dataPrune(Fixtures.table(s, dir, "embeddings"))
    })

  /** The composed D4 recipe on any (vec_id, embedding, ...) frame —
    * shared by the contract query and the PlanShapeSpec exchange pin.
    * The dedup stage contributes only its DROP SET (ids of dominated
    * near-dups — a sliver of the corpus), anti-joined against the
    * input: the small side broadcasts (AQE), so the corpus payload
    * never shuffles for the filter and its one big exchange is the
    * pruning stage's own partial-agg sketch. The semi-join-on-keeps
    * formulation would instead co-shuffle the full embedding payload
    * against a corpus-sized id set — at 100 TB that is an extra
    * full-data exchange for the same answer. The oracle's `surv` CTE
    * is literally this anti-join. */
  def dataPrune(emb: DataFrame): DataFrame = {
    // pair-sized drop set consumed through every re-execution of the
    // pruning input below — materialize it once or each pass re-runs
    // the whole in-cell pair detection (AQE reuse is not transitive)
    val dropped = Similarity.semanticDropSet(
        emb, "vec_id", "embedding",
        DedupQueries.CosineThreshold, DedupQueries.SemPlanes)
      .select(col("id").as("vec_id"))
      .localCheckpoint(true)
    val kept = emb.join(dropped, Seq("vec_id"), "left_anti")
    Similarity.prototypePruning(
        kept, "vec_id", "embedding",
        planes = SimQueries.ProtoPlanes,
        dropNum = SimQueries.ProtoDropNum, dropDen = SimQueries.ProtoDropDen)
      .select(col("id").as("vec_id"), col("cell"), col("proto_rank"),
        col("cell_n"), col("kept"))
  }

  // pipeline_rag_retrieval constants — shared by query and oracle
  val RagChunkTokens = 32
  val RagOverlap = 8
  val RagIdStride = 4096
  val RagNlist = 16
  val RagNprobe = 4
  val RagK = 5
  val RagQueryLits: Seq[(Long, String)] = Seq(
    1L -> "fast table merge scan",
    2L -> "customer query window data",
    3L -> "spark stream batch sort")

  /** BUILD half of pipeline_annpq_index: PQ-coded posting lists on the
    * servable kv format, same fixed tensors as sim_ann_ivfpq_fixed. */
  def annPqIndexStore(s: SparkSession, dir: String): graft.store.DomainStore = {
    val spec = DomainSpec(numShards = 8, persistenceFormat = DomainSpec.KvSorted,
      indexType = Similarity.IvfPqIndexType)
    Fixtures.domain(s, dir, "ann-ivfpq-index", spec) { (st, sp) =>
      st.write(
        Similarity.ivfPqIndexKv(
          Fixtures.table(sp, dir, "embeddings"), "vec_id", "embedding",
          Similarity.fixedCentroids(SimQueries.IvfNlist, SimQueries.EmbeddingDim),
          Similarity.fixedPqCodebooks(SimQueries.PqM, SimQueries.PqKsub, SimQueries.PqDsub)),
        version = 1L)
    }
  }

  /** PROBE half: ADC off the posting lists, exact re-rank of the
    * shortlist only. */
  def annPqIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = Fixtures.table(s, dir, "embeddings")
    Similarity.ivfPqSearchIndex(
      annPqIndexStore(s, dir),
      emb,
      emb.where(col("vec_id") % SimQueries.QueryMod === 0),
      "vec_id", "embedding", SimQueries.TopK,
      Similarity.fixedCentroids(SimQueries.IvfNlist, SimQueries.EmbeddingDim),
      Similarity.fixedPqCodebooks(SimQueries.PqM, SimQueries.PqKsub, SimQueries.PqDsub),
      nprobe = SimQueries.IvfNprobe, rerank = SimQueries.PqRerank)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** The BUILD half of pipeline_ann_index: assign cells against the
    * SHARED fixed quantizer and publish the inverted index as a
    * kv-sorted domain (point lookups = per-shard binary search). */
  def annIndexStore(s: SparkSession, dir: String): graft.store.DomainStore = {
    val spec = DomainSpec(numShards = 8, persistenceFormat = DomainSpec.KvSorted,
      indexType = Similarity.IvfIndexType)
    Fixtures.domain(s, dir, "ann-ivf-index", spec) { (st, sp) =>
      st.write(
        Similarity.ivfIndexKv(
          Fixtures.table(sp, dir, "embeddings"), "vec_id", "embedding",
          Similarity.fixedCentroids(SimQueries.IvfNlist, SimQueries.EmbeddingDim)),
        version = 1L)
    }
  }

  /** The PROBE half: nprobe cell lookups against the published index,
    * candidate unpack, exact cosine re-rank — sim_ann_ivf_fixed's exact
    * output through the serving path. */
  def annIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = Fixtures.table(s, dir, "embeddings")
    Similarity.ivfSearchIndex(
      annIndexStore(s, dir),
      emb,
      emb.where(col("vec_id") % SimQueries.QueryMod === 0),
      "vec_id", "embedding", SimQueries.TopK,
      Similarity.fixedCentroids(SimQueries.IvfNlist, SimQueries.EmbeddingDim),
      nprobe = SimQueries.IvfNprobe)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** The span fixtures' fingerprint family at the contract queries'
    * anchor geometry: the fixture build and every later op use it. */
  private val spanIndex = Dedup.fpIndex("doc_id", "text",
    minLen = DedupQueries.SubstringMinLen,
    window = DedupQueries.SubstringWindow,
    modulus = DedupQueries.SubstringModulus)

  /** The fp-index kv frame BOTH fp-family stores publish as v1
    * (spanIndexStore and takedownIndexStore — same corpus slice, same
    * geometry): built once per pass and shared via Fixtures.memo (the
    * eager localCheckpoint is the materialization both writes reuse;
    * blocks release with the memo at Fixtures.reset, the trained-
    * quantizer memo lifecycle). */
  private[graft] def fpIndexFrame(s: SparkSession, dir: String): DataFrame =
    Fixtures.memo(s"fp-index-kv:$dir") {
      spanIndex.build(
          Fixtures.table(s, dir, "documents").where(col("doc_id") % DeltaMod =!= 0),
          spanIndex.maxBucket)
        .localCheckpoint(true)
    }

  /** The BUILD half of pipeline_span_index: publish the corpus's anchored
    * fingerprints as a KV domain (bloom sidecars for the probe's misses,
    * like every index fixture). The md5 fingerprints are SQL-replayable,
    * so — unlike the band index — the publish keeps the documented
    * cap-dropping default and the oracle replays the cap. */
  def spanIndexStore(s: SparkSession, dir: String): graft.store.DomainStore = {
    val spec = DomainSpec(
      numShards = 8, indexer = classOf[graft.store.BloomKeyIndexer].getName,
      indexType = Dedup.SpanIndexType,
      // the zero-job cap-semantics authority (IndexMarker.requireTombstoneCap):
      // without it every upsert pays a per-publish marker point lookup
      capSemantics = graft.core.DomainSpec.CapTombstoneV1)
    Fixtures.domain(s, dir, "span-fp-index", spec) { (st, sp) =>
      st.write(fpIndexFrame(sp, dir), version = 1L)
    }
  }

  /** ONE anchor derivation shared by pipeline_takedown_audit's takedown
    * (the AuditDropMod slice) and its certification (AuditDropMod ∪
    * TakedownExtraMod): the audit set is a superset, so the takedown's
    * removal rows are a FILTER of this memoized frame rather than a
    * second anchorOccurrences pass over overlapping docs (r16 verdict
    * item 3 — certification re-derivation ≈ 0.7× the takedown's own
    * bill, BASELINE r16). Anchoring is per-doc, so filtering derived
    * rows by rid ≡ deriving from the filtered docs; rows are deduped
    * here to shrink the checkpoint (every consumer dedupes anyway).
    * Blocks release with the memo at Fixtures.reset (the fpIndexFrame
    * lifecycle). */
  private[graft] def takedownKeyRows(s: SparkSession, dir: String): DataFrame =
    Fixtures.memo(s"takedown-fp-keyrows:$dir") {
      spanIndex.keyRows(
          Fixtures.table(s, dir, "documents")
            .where(col("doc_id") % DeltaMod =!= 0 &&
              (col("doc_id") % AuditDropMod === 0 ||
                col("doc_id") % TakedownExtraMod === 0)))
        .dropDuplicates("key", "rid")
        .localCheckpoint(true)
    }

  /** The BUILD + TAKEDOWN halves of pipeline_takedown_audit: v1 = the
    * fp index over the corpus slice (spanIndexStore's kernel/params,
    * its own root — the shared span fixture must keep serving v1 to the
    * other queries), v2 = a LINKED publishRemoval of the AuditDropMod
    * slice (the O(affected + delta) takedown publish exercised inside a
    * contract query), its removal rows filtered from the shared
    * [[takedownKeyRows]] derivation. Memoized per sf by Fixtures. */
  def takedownIndexStore(s: SparkSession, dir: String): graft.store.DomainStore = {
    val spec = DomainSpec(
      numShards = 8, indexer = classOf[graft.store.BloomKeyIndexer].getName,
      indexType = Dedup.SpanIndexType,
      capSemantics = graft.core.DomainSpec.CapTombstoneV1)
    Fixtures.domain(s, dir, "takedown-fp-index", spec) { (st, sp) =>
      st.write(fpIndexFrame(sp, dir), version = 1L)
      spanIndex.deleteRows(st,
        takedownKeyRows(sp, dir)
          .where(col("rid").cast("long") % AuditDropMod === 0),
        newVersion = 2L,
        linked = true)
    }
  }

  /** The BUILD half of pipeline_dedup_index: band the corpus and publish
    * the index as a KV domain (memoized per sf by Fixtures, so inside one
    * bench pass the probe half reuses it). Bloom sidecars are what make
    * index probes cheap (band keys are overwhelmingly misses): without
    * the indexer, mightContain is constantly true and the advertised
    * zero-I/O miss path never runs. Exposed separately so Bench can
    * attribute build vs probe time (VERDICT r3 task 7). */
  def dedupIndexStore(s: SparkSession, dir: String): graft.store.DomainStore = {
    val spec = DomainSpec(
      numShards = 8, indexer = classOf[graft.store.BloomKeyIndexer].getName,
      indexType = Dedup.BandIndexType,
      // the zero-job cap-semantics authority (IndexMarker.requireTombstoneCap):
      // without it every upsert pays a per-publish marker point lookup
      capSemantics = graft.core.DomainSpec.CapTombstoneV1)
    Fixtures.domain(s, dir, "dedup-band-index", spec) { (st, sp) =>
      st.write(
        Dedup.bandIndexKv(
          Fixtures.table(sp, dir, "documents").where(col("doc_id") % DeltaMod =!= 0),
          // the contract oracle is the exhaustive delta x corpus Jaccard,
          // which cannot replay a build-time bucket drop (xxhash64
          // banding) — so the CONTRACT build fails loud on an oversized
          // bucket; production publishes keep the documented drop
          "doc_id", "text", failOversized = true),
        version = 1L)
    }
  }

  /** The BUILD half of pipeline_semdedup_index: publish the corpus
    * embeddings' hyperplane cells as a KV domain (bloom sidecars for
    * the probe's misses, like every index fixture). */
  def semIndexStore(s: SparkSession, dir: String): graft.store.DomainStore = {
    val spec = DomainSpec(
      numShards = 8, indexer = classOf[graft.store.BloomKeyIndexer].getName,
      indexType = Similarity.SemIndexType,
      // the zero-job cap-semantics authority (IndexMarker.requireTombstoneCap):
      // without it every upsert pays a per-publish marker point lookup
      capSemantics = graft.core.DomainSpec.CapTombstoneV1)
    Fixtures.domain(s, dir, "semdedup-cell-index", spec) { (st, sp) =>
      st.write(
        Similarity.semIndexKv(
          Fixtures.table(sp, dir, "embeddings").where(col("vec_id") % DeltaMod =!= 0),
          "vec_id", "embedding", DedupQueries.SemPlanes),
        version = 1L)
    }
  }

  /** The PROBE half: delta cell assignment + point lookups + exact
    * cosine verify of the named corpus rows only. */
  def semIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = Fixtures.table(s, dir, "embeddings")
    Similarity.semDedupAgainstIndex(
      semIndexStore(s, dir),
      emb.where(col("vec_id") % DeltaMod === 0),
      emb.where(col("vec_id") % DeltaMod =!= 0),
      "vec_id", "embedding", SemIndexThreshold, DedupQueries.SemPlanes)
  }

  /** The BUILD half of pipeline_image_index: hash the corpus images
    * (REAL decode) and publish the pigeonhole band index as a KV domain
    * (memoized per sf by Fixtures; bloom sidecars answer the probe's
    * definite misses with zero I/O, same rationale as dedupIndexStore). */
  def imageIndexStore(s: SparkSession, dir: String): graft.store.DomainStore = {
    val spec = DomainSpec(
      numShards = 8, indexer = classOf[graft.store.BloomKeyIndexer].getName,
      indexType = graft.operators.Multimodal.PhashIndexType,
      // the zero-job cap-semantics authority (IndexMarker.requireTombstoneCap):
      // without it every upsert pays a per-publish marker point lookup
      capSemantics = graft.core.DomainSpec.CapTombstoneV1)
    Fixtures.domain(s, dir, "image-phash-index", spec) { (st, sp) =>
      val media = graft.operators.Multimodal.synthImageMedia(
        sp, Fixtures.table(sp, dir, "documents")
          .where(col("doc_id") % DeltaMod =!= 0).select(col("doc_id")))
      st.write(
        graft.operators.Multimodal.phashIndexKv(
          graft.operators.Multimodal.imageHashes(sp, media).toDF()
            .select(col("media_id"), col("phash"))),
        version = 1L)
    }
  }

  /** The PROBE half: hash the delta images, point-look-up the published
    * band index, popcount-verify the unpacked id:phash candidates. */
  def imageIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val deltaMedia = graft.operators.Multimodal.synthImageMedia(
      s, Fixtures.table(s, dir, "documents")
        .where(col("doc_id") % DeltaMod === 0).select(col("doc_id")))
    graft.operators.Multimodal.phashDedupAgainstIndex(
      imageIndexStore(s, dir),
      graft.operators.Multimodal.imageHashes(s, deltaMedia).toDF()
        .select(col("media_id"), col("phash")),
      maxHamming = 3)
  }

  /** The PROBE half: delta banding + point lookups against the published
    * index + exact Jaccard verify of the named corpus rows. */
  def dedupIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = Fixtures.table(s, dir, "documents")
    Dedup.dedupAgainstIndex(
      dedupIndexStore(s, dir),
      docs.where(col("doc_id") % DeltaMod === 0),
      docs.where(col("doc_id") % DeltaMod =!= 0),
      "doc_id", "text", DedupQueries.MinHashThreshold)
  }

  /** The fixed coarse quantizer as SQL literals — RagNlist × HashEmbedDim,
    * same tensor object the Spark query broadcasts (toString round-trips
    * doubles exactly; nsq folded left-to-right like the kernel's norms). */
  private def ragCentroidValues: String = {
    val ct = graft.operators.Similarity.fixedCentroids(RagNlist, TextQueries.HashEmbedDim)
    ct.zipWithIndex.map { case (c, i) =>
      val arr = c.map(_.toString).mkString("[", ", ", "]")
      val nsq = c.map(x => x * x).sum
      s"($i, CAST($arr AS DOUBLE[]), CAST($nsq AS DOUBLE))"
    }.mkString(",\n")
  }

  private def ragQueryValues: String =
    RagQueryLits.map { case (qid, text) =>
      s"(CAST(${-qid} AS BIGINT), '$text')"
    }.mkString(",\n|")

  def oracleSql: Map[String, String] = Map(
    "pipeline_rag_retrieval" -> {
      val d = TextQueries.HashEmbedDim
      s"""WITH ct(cell, p, nsq) AS (VALUES
         |$ragCentroidValues),
         |t AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |  FROM documents),
         |dd AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
         |  WHERE len(toks) > 0),
         |cc AS (
         |  SELECT doc_id, toks, n,
         |    greatest(1, (n - $RagOverlap + ${RagChunkTokens - RagOverlap - 1})
         |      // ${RagChunkTokens - RagOverlap}) AS n_chunks FROM dd),
         |ee AS (
         |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS k FROM cc),
         |chunks AS (
         |  SELECT doc_id * $RagIdStride + k AS id,
         |    array_to_string(list_slice(toks,
         |      CAST(k * ${RagChunkTokens - RagOverlap} + 1 AS INT),
         |      CAST(k * ${RagChunkTokens - RagOverlap} + $RagChunkTokens AS INT)), ' ') AS txt
         |  FROM ee),
         |q(id, txt) AS (VALUES
         |$ragQueryValues),
         |corp AS (
         |  SELECT id, txt FROM chunks UNION ALL SELECT id, txt FROM q),
         |ctoks AS MATERIALIZED (
         |  SELECT id, regexp_extract_all(lower(txt), '[a-z0-9]+') AS t FROM corp),
         |grams AS (
         |  SELECT id, unnest(t) AS g FROM ctoks
         |  UNION ALL
         |  SELECT id, unnest([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))])
         |  FROM ctoks WHERE len(t) >= 2),
         |cw AS (
         |  SELECT id,
         |    CAST(('0x' || substr(md5(g), 17, 16))::UBIGINT % $d AS BIGINT) AS cell,
         |    CASE WHEN ('0x' || substr(md5(g || '#s'), 17, 16))::UBIGINT % 2 = 1
         |         THEN 1 ELSE -1 END AS sgn
         |  FROM grams),
         |sp AS (
         |  SELECT id, list(cell ORDER BY cell) AS cs, list(w ORDER BY cell) AS ws
         |  FROM (SELECT id, cell, CAST(sum(sgn) AS BIGINT) AS w
         |        FROM cw GROUP BY 1, 2 HAVING sum(sgn) != 0)
         |  GROUP BY id),
         |efn AS MATERIALIZED (
         |  SELECT id, v FROM (
         |    SELECT id,
         |      [CAST(coalesce(ws[list_position(cs, i)], 0) AS DOUBLE)
         |       FOR i IN range(0, $d)] AS v
         |    FROM sp)
         |  WHERE sqrt(list_inner_product(v, v)) > 0),
         |scored AS (
         |  SELECT e.id, ct.cell, ct.nsq - 2 * list_inner_product(e.v, ct.p) AS dist
         |  FROM efn e CROSS JOIN ct),
         |rnk AS MATERIALIZED (
         |  SELECT id, cell,
         |    row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
         |  FROM scored),
         |assigned AS (SELECT id, cell FROM rnk WHERE rn = 1 AND id >= 0),
         |qprobe AS (SELECT id AS query_id, cell FROM rnk
         |  WHERE rn <= $RagNprobe AND id < 0),
         |cand AS (
         |  SELECT DISTINCT qp.query_id, a.id
         |  FROM qprobe qp JOIN assigned a USING (cell)),
         |sc AS (
         |  SELECT cand.query_id, cand.id, list_cosine_similarity(ce.v, qe.v) AS cos
         |  FROM cand JOIN efn ce ON ce.id = cand.id
         |            JOIN efn qe ON qe.id = cand.query_id),
         |ranked AS (
         |  SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank
         |  FROM sc)
         |SELECT CAST(-query_id AS BIGINT) AS query_id,
         |  CAST(id // $RagIdStride AS BIGINT) AS doc_id,
         |  CAST(id % $RagIdStride AS BIGINT) AS chunk_no,
         |  CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= $RagK""".stripMargin
    },
    "pipeline_corpus_filter" -> {
      val scoreEn = TextQueries.scoreSql("en")
      s"""WITH gated AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % $BenchMod != 0
         |    AND len(regexp_extract_all(text, '\\S+')) >= $MinTokens
         |    AND $scoreEn > 0),
         |btoks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents WHERE doc_id % $BenchMod = 0),
         |bench AS (SELECT DISTINCT
         |    unnest([array_to_string(t[i:i+${DecontamN - 1}], ' ') FOR i IN range(1, len(t) - ${DecontamN - 2})]) AS g
         |  FROM btoks WHERE len(t) >= $DecontamN),
         |gtoks AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM gated),
         |ggrams AS (SELECT doc_id,
         |    unnest([array_to_string(t[i:i+${DecontamN - 1}], ' ') FOR i IN range(1, len(t) - ${DecontamN - 2})]) AS g
         |  FROM gtoks WHERE len(t) >= $DecontamN),
         |contaminated AS (SELECT DISTINCT ggrams.doc_id FROM ggrams JOIN bench USING (g)),
         |surviving AS (SELECT doc_id, text FROM gated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |norms AS (SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM surviving),
         |reps AS (SELECT min(doc_id) AS doc_id FROM norms GROUP BY norm)
         |SELECT n.doc_id, len(regexp_extract_all(n.text, '\\S+')) AS n_tokens
         |FROM norms n JOIN reps USING (doc_id)""".stripMargin
    },
    // Mix rates, md5-bucket keeps, shuffle positions, and the running
    // token total replayed stage for stage (same fragments as the
    // samp_token_mix / samp_epoch_shuffle / text_packing oracles).
    "pipeline_train_mix" -> {
      val w = MixWeights.map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      s"""WITH avail AS (SELECT source, sum(n_chars) AS a FROM documents GROUP BY source),
         |w(source, wgt) AS (VALUES $w),
         |r AS (SELECT w.source,
         |  least(1000, (1000 * ((wgt::BIGINT * $MixBudget) // 1000)) // a) AS rate
         |  FROM w JOIN avail USING (source)),
         |b AS (SELECT doc_id, source,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000 AS bk
         |  FROM documents),
         |kept AS (SELECT d.doc_id, d.text FROM b JOIN r USING (source)
         |  JOIN documents d USING (doc_id) WHERE b.bk < r.rate),
         |pos AS (SELECT doc_id, row_number() OVER (
         |    ORDER BY ('0x' || substr(md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT,
         |             doc_id) - 1 AS pos
         |  FROM kept),
         |t AS (SELECT k.doc_id, p.pos,
         |    len(regexp_extract_all(k.text, '\\S+')) AS n_tokens
         |  FROM kept k JOIN pos p USING (doc_id)),
         |pk AS (SELECT doc_id, pos, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS first_chunk,
         |  CAST((cum - 1) // $PackBudget AS BIGINT) AS last_chunk
         |FROM pk""".stripMargin
    },
    // Delta-vs-corpus exact word-3gram Jaccard — what the banded index
    // lookup + verify must equal at ~1 recall.
    "pipeline_dedup_index" ->
      s"""WITH ${DedupQueries.wordShingleCtes},
         |c AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT d.doc_id AS delta_id, x.doc_id AS corpus_id, count(*) AS i
         |          FROM s d JOIN s x ON d.sh = x.sh
         |          WHERE d.doc_id % $DeltaMod = 0 AND x.doc_id % $DeltaMod != 0 GROUP BY 1, 2)
         |SELECT delta_id, corpus_id,
         |  CAST(i AS DOUBLE) / (cd.n + cx.n - i) AS jaccard
         |FROM inter JOIN c cd ON cd.doc_id = delta_id JOIN c cx ON cx.doc_id = corpus_id
         |WHERE CAST(i AS DOUBLE) / (cd.n + cx.n - i) >= ${DedupQueries.MinHashThreshold}""".stripMargin,
    // Delta-vs-corpus semantic near-dups: same seeded-plane cell CTEs as
    // dedup_semantic, with the candidate join ORIENTED (delta side x,
    // corpus side y) and the exact cosine filter — the index probe path
    // must equal this bit for bit (cells are deterministic, candidates
    // are exactly the co-cell pairs, verify is the same cosine). The
    // publish-time hot-cell cap is REPLAYED (`cok`: corpus-member count
    // per cell <= MaxBucket — semIndexKv drops bigger cells, so probes
    // of them miss): without it the contract silently diverges on any
    // corpus with a >cap cell (the dedup_shared_substring class).
    "pipeline_semdedup_index" ->
      s"""WITH pl(tbl, bit, p) AS (VALUES
         |${SimQueries.planesValues(1, DedupQueries.SemPlanes)}),
         |ef AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings
         |  WHERE sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0),
         |cells AS MATERIALIZED (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN list_inner_product(ef.v, pl.p) > 0
         |        THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS cell
         |  FROM ef, pl GROUP BY 1),
         |cok AS (SELECT cell FROM cells WHERE vec_id % $DeltaMod != 0
         |        GROUP BY cell HAVING count(*) <= ${graft.operators.LshBuckets.MaxBucket}),
         |cand AS (
         |  SELECT x.vec_id AS delta_id, y.vec_id AS corpus_id
         |  FROM cells x JOIN cells y ON x.cell = y.cell
         |  JOIN cok ON cok.cell = x.cell
         |  WHERE x.vec_id % $DeltaMod = 0 AND y.vec_id % $DeltaMod != 0)
         |SELECT DISTINCT delta_id, corpus_id
         |FROM cand
         |JOIN ef ex ON ex.vec_id = delta_id
         |JOIN ef ey ON ey.vec_id = corpus_id
         |WHERE list_cosine_similarity(ex.v, ey.v) >= $SemIndexThreshold""".stripMargin,
    // Delta-vs-corpus image near-dups — the phash + pigeonhole banding
    // replayed in closed form, with the candidate join ORIENTED (delta
    // side a, corpus side b; the two are disjoint by the mod split).
    // Banding recall is exactly 1.0 at hamming <= 3 (pigeonhole), so
    // this equals the index-probe path bit for bit — INCLUDING the
    // publish-time hot-bucket cap (`bok`: corpus-member count per
    // (band, bucket) <= MaxBucket — phashIndexKv drops bigger buckets,
    // so probes of them miss; same replay rule as the LSH oracles).
    "pipeline_image_index" ->
      s"""WITH ${MmQueries.PhashBandCtes},
         |bok AS (SELECT b, bucket FROM bands WHERE media_id % $DeltaMod != 0
         |        GROUP BY b, bucket HAVING count(*) <= ${graft.operators.LshBuckets.MaxBucket}),
         |cand AS (SELECT DISTINCT a.media_id AS delta_id, b2.media_id AS corpus_id,
         |    a.phash AS ph_a, b2.phash AS ph_b
         |  FROM bands a JOIN bands b2
         |    ON a.b = b2.b AND a.bucket = b2.bucket
         |  JOIN bok ON bok.b = a.b AND bok.bucket = a.bucket
         |  WHERE a.media_id % $DeltaMod = 0 AND b2.media_id % $DeltaMod != 0)
         |SELECT delta_id, corpus_id, CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3""".stripMargin,
    // Delta-vs-corpus verbatim overlap served from the published
    // fingerprint index — the dedup_shared_substring anchor/fingerprint
    // replay with the candidate join ORIENTED (delta side a, corpus side
    // b) and the publish-time cap on the CORPUS side (fpIndexKv drops
    // fingerprints shared by > MaxBucket corpus docs, so probes of them
    // miss — same replay rule as the phash/sem index oracles).
    "pipeline_span_index" ->
      s"""WITH pos AS (
         |  SELECT doc_id, text,
         |    unnest(range(1, greatest(length(text) - ${DedupQueries.SubstringMinLen - 1}, 0) + 1)) AS i
         |  FROM documents WHERE length(text) >= ${DedupQueries.SubstringMinLen}),
         |anch AS (
         |  SELECT doc_id, md5(substr(text, CAST(i AS INT), ${DedupQueries.SubstringMinLen})) AS fp
         |  FROM pos
         |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(c) AS BIGINT) FOR c IN
         |        list_filter(string_split(substr(text, CAST(i AS INT), ${DedupQueries.SubstringWindow}), ''), x -> x != '')]),
         |      (a, b) -> (a * 31 + b) % 1000000007) % ${DedupQueries.SubstringModulus} = 0),
         |f AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM anch),
         |fok AS (SELECT fp FROM f WHERE doc_id % $DeltaMod != 0
         |        GROUP BY fp HAVING count(*) <= ${graft.operators.LshBuckets.MaxBucket})
         |SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS corpus_id
         |FROM f a JOIN f b ON a.fp = b.fp
         |JOIN fok ON fok.fp = a.fp
         |WHERE a.doc_id % $DeltaMod = 0 AND b.doc_id % $DeltaMod != 0""".stripMargin,
    // The stale-entry audit replayed in closed form: anchors over ALL
    // documents (the same pos/anch chain as pipeline_span_index), the
    // index side = the publish's corpus slice with its cap tombstones
    // removed BOTH ways (a tombstoned fingerprint has unknown membership
    // by design), the record side = corpus minus the takedown slice plus
    // the delta, and the orphan report = the two anti-joins of the
    // full-outer. DuckDB md5() is already lowercase hex — the Spark side
    // lower(hex(key))s its binary key to match.
    "pipeline_index_audit" ->
      s"""WITH pos AS (
         |  SELECT doc_id, text,
         |    unnest(range(1, greatest(length(text) - ${DedupQueries.SubstringMinLen - 1}, 0) + 1)) AS i
         |  FROM documents WHERE length(text) >= ${DedupQueries.SubstringMinLen}),
         |anch AS (
         |  SELECT doc_id, md5(substr(text, CAST(i AS INT), ${DedupQueries.SubstringMinLen})) AS fp
         |  FROM pos
         |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(c) AS BIGINT) FOR c IN
         |        list_filter(string_split(substr(text, CAST(i AS INT), ${DedupQueries.SubstringWindow}), ''), x -> x != '')]),
         |      (a, b) -> (a * 31 + b) % 1000000007) % ${DedupQueries.SubstringModulus} = 0),
         |f AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM anch),
         |fidx AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % $DeltaMod != 0),
         |ftomb AS MATERIALIZED (SELECT fp FROM fidx
         |        GROUP BY fp HAVING count(*) > ${graft.operators.LshBuckets.MaxBucket}),
         |live_idx AS MATERIALIZED (SELECT doc_id, fp FROM fidx
         |        WHERE fp NOT IN (SELECT fp FROM ftomb)),
         |rec_live AS MATERIALIZED (SELECT doc_id, fp FROM f
         |        WHERE (doc_id % $DeltaMod = 0 OR doc_id % $AuditDropMod != 0)
         |          AND fp NOT IN (SELECT fp FROM ftomb))
         |SELECT i.fp, i.doc_id AS id, 'stale' AS kind
         |FROM live_idx i LEFT JOIN rec_live r ON i.fp = r.fp AND i.doc_id = r.doc_id
         |WHERE r.doc_id IS NULL
         |UNION ALL
         |SELECT r.fp, r.doc_id AS id, 'unindexed' AS kind
         |FROM rec_live r LEFT JOIN live_idx i ON i.fp = r.fp AND i.doc_id = r.doc_id
         |WHERE i.doc_id IS NULL""".stripMargin,
    // The targeted takedown-certification replayed in closed form: the
    // same anchor chain derives the audit slice's (fp, id) rows; the
    // post-takedown index = the v1 corpus slice minus its cap tombstones
    // minus the removed AuditDropMod docs' rows (publishRemoval probes
    // exactly the keys their unchanged text derives, so the subtraction
    // is per-doc row removal — tombstoned fps stay tombstoned); `present`
    // = audit rows still in that index (the never-removed
    // TakedownExtraMod slice), `tombstoned` = audit rows whose
    // fingerprint the publish capped (membership unknown, '!capped' is
    // the stored sentinel the engine reports).
    "pipeline_takedown_audit" ->
      s"""WITH pos AS (
         |  SELECT doc_id, text,
         |    unnest(range(1, greatest(length(text) - ${DedupQueries.SubstringMinLen - 1}, 0) + 1)) AS i
         |  FROM documents WHERE length(text) >= ${DedupQueries.SubstringMinLen}),
         |anch AS (
         |  SELECT doc_id, md5(substr(text, CAST(i AS INT), ${DedupQueries.SubstringMinLen})) AS fp
         |  FROM pos
         |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(c) AS BIGINT) FOR c IN
         |        list_filter(string_split(substr(text, CAST(i AS INT), ${DedupQueries.SubstringWindow}), ''), x -> x != '')]),
         |      (a, b) -> (a * 31 + b) % 1000000007) % ${DedupQueries.SubstringModulus} = 0),
         |f AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM anch),
         |fidx AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % $DeltaMod != 0),
         |ftomb AS MATERIALIZED (SELECT fp FROM fidx
         |        GROUP BY fp HAVING count(*) > ${graft.operators.LshBuckets.MaxBucket}),
         |idx2 AS MATERIALIZED (SELECT doc_id, fp FROM fidx
         |        WHERE doc_id % $AuditDropMod != 0
         |          AND fp NOT IN (SELECT fp FROM ftomb)),
         |audit AS MATERIALIZED (SELECT doc_id, fp FROM f
         |        WHERE doc_id % $DeltaMod != 0
         |          AND (doc_id % $AuditDropMod = 0 OR doc_id % $TakedownExtraMod = 0))
         |SELECT a.fp, CAST(a.doc_id AS BIGINT) AS id,
         |  CAST(a.doc_id AS VARCHAR) AS entry, 'present' AS kind
         |FROM audit a JOIN idx2 e ON e.fp = a.fp AND e.doc_id = a.doc_id
         |UNION ALL
         |SELECT a.fp, CAST(a.doc_id AS BIGINT) AS id,
         |  '${graft.core.IndexTombstone.Value}' AS entry, 'tombstoned' AS kind
         |FROM audit a JOIN ftomb t ON t.fp = a.fp""".stripMargin,
    // The phash-family audit replayed in closed form: the shared
    // PhashBandCtes derive every (band, bucket, id:phash) entry the
    // corpus of record implies, the index side = the publish's corpus
    // slice minus its cap tombstones (count > MaxBucket per (band,
    // bucket) — tombstoned both ways, cap drops are semantics), and the
    // orphan report = the two anti-joins of the full-outer at FULL-entry
    // granularity (the join carries phash, so a payload drift would
    // read as stale + unindexed, never clean). The hex key replays
    // composite_key(int_be(band), long_be(bucket)) as printf.
    "pipeline_image_audit" ->
      s"""WITH ${MmQueries.PhashBandCtes},
         |bidx AS MATERIALIZED (SELECT media_id, phash, b, bucket FROM bands
         |  WHERE media_id % $DeltaMod != 0),
         |btomb AS MATERIALIZED (SELECT b, bucket FROM bidx GROUP BY b, bucket
         |  HAVING count(*) > ${graft.operators.LshBuckets.MaxBucket}),
         |live_idx AS MATERIALIZED (
         |  SELECT i.b, i.bucket, i.media_id, i.phash FROM bidx i
         |  LEFT JOIN btomb t ON t.b = i.b AND t.bucket = i.bucket
         |  WHERE t.b IS NULL),
         |rec_live AS MATERIALIZED (
         |  SELECT r.b, r.bucket, r.media_id, r.phash FROM bands r
         |  LEFT JOIN btomb t ON t.b = r.b AND t.bucket = r.bucket
         |  WHERE (r.media_id % $DeltaMod = 0 OR r.media_id % $AuditDropMod != 0)
         |    AND t.b IS NULL)
         |SELECT printf('%08x%016x', i.b, i.bucket) AS fp,
         |  CAST(i.media_id AS BIGINT) AS id,
         |  CAST(i.media_id AS VARCHAR) || ':' || CAST(i.phash AS VARCHAR) AS entry,
         |  'stale' AS kind
         |FROM live_idx i LEFT JOIN rec_live r
         |  ON i.b = r.b AND i.bucket = r.bucket
         |    AND i.media_id = r.media_id AND i.phash = r.phash
         |WHERE r.media_id IS NULL
         |UNION ALL
         |SELECT printf('%08x%016x', r.b, r.bucket) AS fp,
         |  CAST(r.media_id AS BIGINT) AS id,
         |  CAST(r.media_id AS VARCHAR) || ':' || CAST(r.phash AS VARCHAR) AS entry,
         |  'unindexed' AS kind
         |FROM rec_live r LEFT JOIN live_idx i
         |  ON i.b = r.b AND i.bucket = r.bucket
         |    AND i.media_id = r.media_id AND i.phash = r.phash
         |WHERE i.media_id IS NULL""".stripMargin,
    // The composed image filter replayed end to end: aHash + banding
    // (the shared PhashBandCtes), the keep-min-id drop set (id_b of any
    // hamming <= 3 pair), and the pixel-formula quality gates — one
    // oracle pinning that decode, hashing, banding, and the drop rule
    // COMPOSE on the same ids.
    "pipeline_media_filter" ->
      s"""WITH ${MmQueries.PhashBandCtes},
         |mbok AS (SELECT b, bucket FROM bands GROUP BY 1, 2
         |  HAVING count(*) <= ${graft.operators.LshBuckets.MaxBucket}),
         |dropped AS (SELECT DISTINCT b2.media_id
         |  FROM bands a JOIN bands b2
         |    ON a.b = b2.b AND a.bucket = b2.bucket AND a.media_id < b2.media_id
         |  JOIN mbok ON mbok.b = a.b AND mbok.bucket = a.bucket
         |  WHERE bit_count(xor(a.phash, b2.phash)) <= 3),
         |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
         |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
         |feat AS (SELECT doc_id AS media_id, w, h,
         |    CAST(sum((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS byte_sum
         |  FROM px GROUP BY 1, 2, 3)
         |SELECT f.media_id, CAST(f.w * f.h AS BIGINT) AS area, f.byte_sum
         |FROM feat f
         |WHERE f.w * f.h >= $MediaMinArea
         |  AND f.byte_sum >= f.w * f.h * $MediaMinMeanByte
         |  AND f.media_id NOT IN (SELECT media_id FROM dropped)""".stripMargin,
    // The serving path must be invisible in the result: publishing the
    // posting lists as a domain and probing them by point lookup has to
    // reproduce the direct fixed-quantizer IVF search EXACTLY — so the
    // oracle IS sim_ann_ivf_fixed's SQL. A dropped id in the pack/unpack
    // roundtrip, a lost cell in multiGet, or a shard-routing mismatch
    // all hash-mismatch here.
    "pipeline_ann_index" -> SimQueries.oracleSql("sim_ann_ivf_fixed"),
    // same contract for the PQ-coded serving layout: the encode → ADC →
    // shortlist → re-rank math is sim_ann_ivfpq_fixed's, so its SQL is
    // the oracle; only the posting-list roundtrip is new, and it must be
    // invisible
    "pipeline_annpq_index" -> SimQueries.oracleSql("sim_ann_ivfpq_fixed"),
    // D4 composed: the dedup_semantic survivor chain — SHARED verbatim
    // with that query's oracle (DedupQueries.semDedupChain, s-prefixed
    // CTE names) — feeds sim_prototype_prune's chain VERBATIM
    // (SimQueries.protoPruneChain over `surv` instead of `embeddings`).
    // Survivors = everything not dropped, including the zero-norm rows
    // SemDeDup can't compare (they surface from the prune chain's own
    // unclustered branch). Both halves are single-definition, so neither
    // standalone oracle can drift from this composition.
    "pipeline_data_prune" ->
      s"""WITH ${DedupQueries.semDedupChain("s")},
         |surv AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding FROM embeddings e
         |  LEFT JOIN sdropped d ON e.vec_id = d.id WHERE d.id IS NULL),
         |${SimQueries.protoPruneChain("surv")}
         |SELECT * FROM clustered UNION ALL SELECT * FROM unclustered""".stripMargin)
}
