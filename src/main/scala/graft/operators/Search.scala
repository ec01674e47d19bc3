package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{bytes_utf8, utf8_bytes}
import graft.store.{DomainStore, SearchLayout}

/** Full-text search served from a PUBLISHED kv domain — the engine-service
  * twin of [[Dedup.bandIndexKv]] for ranked retrieval: the corpus's
  * inverted index (term → postings) is built in one batch pass, published
  * as a versioned sharded domain, and queried by point lookups of the
  * query's terms (the reference's `multiGet` serving surface,
  * `elephantdb-thrift/src/thrift/core.thrift:6-8`, carrying ranked search
  * the way `bandIndexKv` carries dedup).
  *
  * Why a training-data pipeline wants this: corpus exploration ("which
  * documents mention X"), decontamination probes against a published
  * benchmark index, and quality triage all reduce to ranked term lookup
  * over corpora far too large to grep — and serving them from an immutable
  * published version is exactly the elephantdb deployment shape.
  *
  * == Index layout (one domain, three record classes by key prefix) ==
  *
  *  - `t:<term>`  → postings `"docId:tf,docId:tf,…"` sorted by docId asc
  *  - `d:<docId>` → token count of the document (BM25 length norm)
  *  - `m:stats`   → `"<numDocs>,<totalTokens>"` (corpus-level constants)
  *
  * Values are UTF-8 CSV like the band index — trivially replayable in any
  * SQL engine, prefix-scannable (`t:` enumerates the vocabulary), and
  * key-sorted so the kv-sorted format serves them Spark-free.
  *
  * == Exactly-replayable BM25 ==
  *
  * Scores are BM25 with k1 = 6/5 and b = 3/4 — chosen so every per-term
  * contribution is a SINGLE integer rational, exact in any engine:
  *
  * {{{
  *   idf      = (N - df + 1) / (df + 1)          (rational, monotone)
  *   contrib  = floor( 2^20 * idf * tf*(k1+1) / (tf + k1*(1-b+b*len/avg)) )
  *            = floor( 2^20 * (N-df+1) * tf * 22 * T
  *                     / ((df+1) * (10*tf*T + 3*T + 9*len*N)) )
  *   score(q,d) = Σ_t contrib(t,d)               (integer sum, order-free)
  * }}}
  *
  * where N = docs, T = total tokens, len = doc tokens. Numerator and
  * denominator stay under 10^38 even at 10^10 docs, so Decimal(38,0)
  * `div` (exact `divideToIntegralValue`) on the Spark side and HUGEINT
  * `//` on the oracle side agree bit-for-bit — the quantized-integer
  * contract every trained/scored operator here follows (CLAUDE.md:
  * query-time-trained operators). Ties break by doc id.
  *
  * == Scale shape ==
  *
  * Build is two shuffles (tf group-by, term group-by) + the standard
  * one-shuffle domain write; postings move as ids+counts, never text.
  * Search shuffles only the query's term keys (multiGet) and the
  * candidate rows (lookupJoin on doc lengths) — the corpus is never
  * rescanned. Stop-term postings are the hot-bucket class: a term in
  * every document is a posting list the size of the corpus, so build
  * DROPS terms past `maxPostings` (recall accounting via
  * [[oversizedPostingTerms]], same contract as `LshBuckets.MaxBucket`) —
  * for ranked retrieval such terms carry ~zero idf anyway.
  */
object Search {

  /** Postings-length cap: terms in more documents than this are dropped
    * at build — replaced by an `x:` tombstone carrying their df, so
    * incremental upserts can keep the elision consistent (and surfaced
    * by [[oversizedPostingTerms]]). 64k entries ≈ 0.75 MB of CSV value —
    * comfortably a single kv record. */
  val MaxPostings: Int = 1 << 16

  // Layout + scoring constants live Spark-free in graft.store.SearchLayout
  // (shared with the serving-side SearchReader); these are the operator-
  // side aliases.
  val ScaleBits: Int = SearchLayout.ScaleBits
  val TermPrefix: String = SearchLayout.TermPrefix
  val DocPrefix: String = SearchLayout.DocPrefix
  val DroppedPrefix: String = SearchLayout.DroppedPrefix
  val MetaKey: String = SearchLayout.MetaKey

  private val d38 = DecimalType(38, 0)

  /** (term, doc_id, tf) over [[TextAnalysis.wordTokens]] — the shared
    * tokenization unit (simhash/stopwords/decontam), so index and corpus
    * operators agree on what a term is. */
  /** The CANONICAL long doc id every index record derives from —
    * postings, `d:` records, probe keys, upsert merges — so the struct
    * sorts order numerically and the `d:` key for an id always matches
    * its postings entry regardless of the source column's type. A null
    * or non-long-castable id fails LOUD at build/probe time: a silent
    * null would collapse ids into one group and publish corrupt
    * postings, and a lossy canonicalization ('007' → 7) is only sound
    * because EVERY record class goes through this one definition. */
  private def docIdLong(idCol: String): Column = {
    val c = col(idCol).cast("long")
    // NULL ids get their own actionable message (ADVICE r11: under ANSI
    // mode a malformed string fails the cast itself, so NULL input is
    // the only way to reach this branch — and the aggregate guard's
    // clearer 'drop or re-key' text never surfaced because this
    // raise_error fired first on the same pass)
    when(c.isNull,
      raise_error(
        when(col(idCol).isNull,
          lit(s"search index: corpus has a NULL '$idCol' — a null doc id " +
            "cannot key a d: record; drop or re-key the null-id rows"))
          .otherwise(concat(
            lit("search index: doc id '"),
            col(idCol).cast("string"),
            lit("' is not long-castable — index records key on a canonical long id")))))
      .otherwise(c)
  }

  /** Build-time guard for [[docIdLong]]'s deliberately lossy
    * canonicalization: two DISTINCT raw ids that collapse under the long
    * cast ('007' vs '7') would silently merge into one doc — fused
    * postings, duplicate `d:` keys — and nothing downstream could tell.
    * One column-pruned aggregate over the id column turns that silent
    * collision into a loud build failure (ADVICE r5). */
  private def requireCollisionFreeIds(corpus: DataFrame, idCol: String): Unit = {
    val row = corpus
      .agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n_rows"),
        count_distinct(col(idCol)).as("n_raw"),
        // MUST derive from docIdLong (the one-definition rule): the guard
        // counts the same canonicalization the records key on, and ids
        // that fail the cast take docIdLong's named error, not a
        // misleading collision message
        count_distinct(docIdLong(idCol)).as("n_canonical"),
        // null-id accounting (ADVICE r10): count(lit(1)) includes null-id
        // rows while count_distinct skips them, so a NULL id must not
        // reach the duplicate-id compare — it would fail with a
        // misleading "de-duplicate the corpus" when nothing is
        // duplicated. Today docIdLong's raise_error usually fires first
        // (n_canonical evaluates it on the null row, SearchSpec pins the
        // message), but that guard is docIdLong's to keep — this one
        // makes the arithmetic below correct regardless
        coalesce(sum(when(col(idCol).isNull, 1L)), lit(0L)).as("n_null"))
      .head()
    require(row.getLong(3) == 0L,
      s"search index: corpus has ${row.getLong(3)} rows with a NULL '$idCol' — " +
        "a null doc id cannot key a d: record; drop or re-key the null-id rows")
    // plain duplicate ids corrupt just as silently as cast collisions:
    // fused postings with doubled tf/df, duplicate d: records (a kv
    // build tolerates duplicate keys), and an over-counted m:stats N —
    // the build must fail loud, like the upsert path's key-repeat guard
    // (row count compared over NON-NULL ids only — nulls fail above)
    require(row.getLong(0) - row.getLong(3) == row.getLong(1),
      s"search index: corpus has ${row.getLong(0)} rows but only " +
        s"${row.getLong(1)} distinct '$idCol' values — duplicate doc ids " +
        "would fuse postings and double-count stats; de-duplicate the corpus")
    require(row.getLong(1) == row.getLong(2),
      s"search index: ${row.getLong(1)} distinct '$idCol' values canonicalize to " +
        s"only ${row.getLong(2)} distinct long doc ids — distinct raw ids collide " +
        "under the long cast (e.g. '007' vs '7'); re-key or de-duplicate the corpus")
  }

  def termFrequencies(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus
      .select(docIdLong(idCol).as("doc_id"),
        explode(TextAnalysis.wordTokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** The inverted index as (key, value) rows ready for
    * [[DomainStore.write]] — postings + doc lengths + corpus stats in one
    * frame (see the class doc for the layout). */
  def invertedIndexKv(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int = MaxPostings): DataFrame = {
    requireCollisionFreeIds(corpus, idCol)
    // A stop-term ('the', df ≈ N) must never collect its full posting
    // list into one aggregation buffer just so the cap can discard it —
    // `x:<term>` → df publishes the drop as a queryable fact
    // (searchIndexUpsert keeps the elision consistent instead of
    // resurrecting a partial list). ONE capped aggregation pass
    // ([[graft.core.BoundedCollectAgg]] via LshBuckets.boundedMembers):
    // a hot term overflows its partial buffer MAP-SIDE and ships a
    // constant-size marker with the exact df — no counts pass, no
    // broadcast anti-join, no explicit term re-exchange (the r13
    // count-first layout's toy-scale cost, BASELINE.md).
    val tf = termFrequencies(corpus, idCol, textCol)
    val postings = LshBuckets.boundedMembers(
        tf, Seq("term"),
        col("doc_id"), // canonical posting order: ascending numeric doc id
        concat_ws(":", col("doc_id").cast("string"), col("tf").cast("string")),
        maxPostings)
      .select(
        utf8_bytes(concat(
          when(col("_members").isNull, lit(DroppedPrefix)).otherwise(lit(TermPrefix)),
          col("term"))).as("key"),
        utf8_bytes(
          when(col("_members").isNull, col("_n").cast("string"))
            .otherwise(concat_ws(",", col("_members")))).as("value"))
    val lens = lensOf(corpus, idCol, textCol)
    val lenRecords = lens.select(
      utf8_bytes(concat(lit(DocPrefix), col("doc_id").cast("string"))).as("key"),
      utf8_bytes(col("len").cast("string")).as("value"))
    postings.unionByName(lenRecords).unionByName(metaRecordOf(lens))
  }

  /** Recall accounting for the build-time postings cap: the dropped
    * terms and their document frequencies (mirror of
    * `Dedup.oversizedLshBuckets`). */
  def oversizedPostingTerms(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int = MaxPostings): DataFrame =
    termFrequencies(corpus, idCol, textCol)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") > maxPostings)

  /** Ops report of a PUBLISHED search/positional domain — the index
    * operator's first health questions ("how big is each record class,
    * how hot is the hottest term, did the cap tombstone anything")
    * answered from the INDEX alone, never the corpus: one row per
    * record class (`t`/`p` postings, `d` doc records, `x` tombstones,
    * `m` meta) with record count, total value payload, and the largest
    * postings list. One linear scan of the index domain + a 5-group
    * aggregate — at 100 TB this reads the index, which is orders of
    * magnitude smaller than what it indexes. */
  def indexStats(spark: org.apache.spark.sql.SparkSession, store: DomainStore): DataFrame =
    store.read(spark)
      .select(bytes_utf8(col("key")).as("k"), bytes_utf8(col("value")).as("v"))
      .withColumn("record_class",
        when(col("k").startsWith(TermPrefix), lit("t"))
          .when(col("k").startsWith(PosPrefix), lit("p"))
          .when(col("k").startsWith(DocPrefix), lit("d"))
          .when(col("k").startsWith(DroppedPrefix), lit("x"))
          .otherwise(lit("m")))
      .withColumn("entries",
        when(col("record_class").isin("t", "p"), size(split(col("v"), ",")).cast("long"))
          .otherwise(lit(null).cast("long")))
      .groupBy("record_class")
      .agg(
        count(lit(1)).as("n_records"),
        sum(octet_length(col("v"))).cast("long").as("value_bytes"),
        max(col("entries")).as("max_entries"))

  /** Ranked retrieval against a published [[invertedIndexKv]] domain:
    * `queries` needs (`query_id: long`, `query_text: string`); returns
    * (query_id, doc_id, score, rank) with rank 1..k per query (ties by
    * doc id). Terms absent from the index (never seen, or dropped by the
    * postings cap) contribute nothing, the standard stop-term elision.
    *
    * Candidate generation is a hits-only multiGet of the distinct term
    * keys; length norm joins through [[DomainStore.lookupJoin]] (the
    * co-shuffled bulk path — candidates never funnel through the
    * driver); corpus constants ride a 1-row broadcast from `m:stats`.
    * A candidate whose `d:` record is missing fails loud: that is index
    * corruption, not a miss. */
  /** ONE bounded probe resolving both the index's TYPE and its corpus
    * constants: fetches `m:stats` and `m:positional` in a single
    * multiGet, enforces the marker's required polarity (`m:positional`
    * is the type authority — a BM25 op on a positional domain would
    * return silently empty, a positional op on BM25 would pollute), and
    * fails LOUD when `m:stats` is absent (the silently-empty crossJoin
    * class: a 0-row meta frame annihilates every candidate). Returns
    * (nDocs, totalTokens). */
  private def statsAndTypeCheck(
      index: DomainStore,
      spark: org.apache.spark.sql.SparkSession,
      opName: String,
      expectPositional: Boolean,
      wrongTypeHint: String,
      noStatsHint: String): (Long, Long) = {
    import spark.implicits._
    val hits = index.multiGet(
        Seq(MetaKey, PosMetaKey).toDF("k").select(utf8_bytes(col("k")).as("key")),
        includeMisses = false)
      .select(bytes_utf8(col("key")).as("k"), bytes_utf8(col("value")).as("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val isPositional = hits.contains(PosMetaKey)
    if (expectPositional) require(isPositional,
      s"$opName: no '$PosMetaKey' record — not a positional-index domain ($wrongTypeHint)")
    else require(!isPositional,
      s"$opName: '$PosMetaKey' marker present — this is a positional-index domain; $wrongTypeHint")
    val raw = hits.getOrElse(MetaKey, throw new IllegalArgumentException(
      s"$opName: no '$MetaKey' record — $noStatsHint"))
    val parts = raw.split(",")
    (parts(0).toLong, parts(1).toLong)
  }

  /** The EXACT-integer BM25 contribution, shared by every scorer (the
    * oracles replay this formula term by term, so there must be exactly
    * ONE copy): input needs `tf`, `df`, `len` and the corpus constants
    * `n_docs`, `total_toks`; appends `contrib` (LongType — decimal `div`
    * is IntegralDivide, exact, == DuckDB HUGEINT `//` for positive
    * operands). */
  private def withBm25Contrib(cand: DataFrame): DataFrame =
    cand
      .withColumn("num",
        lit(1L << ScaleBits).cast(d38)
          * (col("n_docs") - col("df") + lit(1L)).cast(d38)
          * col("tf").cast(d38) * lit(22L).cast(d38) * col("total_toks").cast(d38))
      .withColumn("den",
        (col("df") + lit(1L)).cast(d38)
          * (lit(10L).cast(d38) * col("tf").cast(d38) * col("total_toks").cast(d38)
            + lit(3L).cast(d38) * col("total_toks").cast(d38)
            + lit(9L).cast(d38) * col("len").cast(d38) * col("n_docs").cast(d38)))
      .withColumn("contrib", expr("num div den"))

  /** Attach each candidate's doc length from its `d:` record (bulk
    * lookupJoin); a candidate with NO length record is index corruption
    * and fails loud naming the doc. */
  private def attachDocLengths(store: DomainStore, cand: DataFrame, opName: String): DataFrame =
    store
      .lookupJoin(cand.withColumn(
        "key", utf8_bytes(concat(lit(DocPrefix), col("doc_id").cast("string")))))
      .withColumn("len",
        when(col("value").isNull, raise_error(concat(
          lit(s"$opName: candidate doc "), col("doc_id").cast("string"),
          lit(" has no length record — the index is corrupt (postings and " +
            "doc records must publish together)"))))
          .otherwise(bytes_utf8(col("value")).cast("long")))
      .drop("key", "value")

  /** `(doc_id, len)` token counts — the shared unit behind both index
    * builders' `d:` records and `m:stats`. Materialized (one row per
    * doc, two longs): both callers consume it twice (`d:` records + the
    * stats aggregate), and AQE stage reuse is not transitive
    * (LshBuckets.keyPartitioned) — the lazy layout tokenized the corpus
    * a third time just for the stats row. */
  private def lensOf(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(
        docIdLong(idCol).as("doc_id"),
        size(TextAnalysis.wordTokens(col(textCol))).cast("long").as("len"))
      .localCheckpoint(true)

  /** The `m:stats` kv record (corpus doc count + total tokens). */
  private def metaRecordOf(lens: DataFrame): DataFrame =
    lens
      .agg(count(lit(1)).as("n"), coalesce(sum(col("len")), lit(0L)).as("t"))
      .select(
        utf8_bytes(lit(MetaKey)).as("key"),
        utf8_bytes(concat_ws(",", col("n").cast("string"), col("t").cast("string")))
          .as("value"))

  /** The upsert-advanced `m:stats` record: current constants + the
    * delta's census (shared by both upserts — phrase fusion and BM25
    * must see the grown corpus identically). */
  private def advancedMetaRecord(
      delta: DataFrame, textCol: String, curN: Long, curT: Long): DataFrame =
    delta
      .select(size(TextAnalysis.wordTokens(col(textCol))).cast("long").as("len"))
      .agg(count(lit(1)).as("an"), coalesce(sum(col("len")), lit(0L)).as("at"))
      .select(
        utf8_bytes(lit(MetaKey)).as("key"),
        utf8_bytes(concat_ws(",",
          (col("an") + lit(curN)).cast("string"),
          (col("at") + lit(curT)).cast("string"))).as("value"))

  def searchTopK(store: DomainStore, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // one bounded probe: type check + corpus constants together
    val (nDocs, totalToks) = statsAndTypeCheck(
      store, queries.sparkSession, "searchTopK", expectPositional = false,
      wrongTypeHint = "phrase queries take phraseSearch/phraseSearchRanked; " +
        "BM25 needs invertedIndexKv",
      noStatsHint = "not a search-index domain (build with invertedIndexKv)")
    val qterms = queries
      .select(col("query_id"),
        explode(array_distinct(TextAnalysis.wordTokens(col("query_text")))).as("term"))
    val termKeys = qterms
      .select(utf8_bytes(concat(lit(TermPrefix), col("term"))).as("key"))
      .distinct()
    val postings = store.multiGet(termKeys, includeMisses = false)
      .select(
        substring(bytes_utf8(col("key")), TermPrefix.length + 1, Int.MaxValue).as("term"),
        split(bytes_utf8(col("value")), ",").as("plist"))
    val entries = postings
      .select(col("term"), size(col("plist")).cast("long").as("df"),
        explode(col("plist")).as("e"))
      .select(col("term"), col("df"),
        split(col("e"), ":").getItem(0).cast("long").as("doc_id"),
        split(col("e"), ":").getItem(1).cast("long").as("tf"))
    val withLen = attachDocLengths(store, entries, "searchTopK")
    val scored = withBm25Contrib(
      withLen.withColumn("n_docs", lit(nDocs)).withColumn("total_toks", lit(totalToks)))
    val byQuery = qterms.join(scored, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    byQuery
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  val PosPrefix: String = SearchLayout.PosPrefix
  val PosMetaKey: String = SearchLayout.PosMetaKey

  /** The POSITIONAL index as (key, value) rows for [[DomainStore.write]] —
    * the phrase/proximity sibling of [[invertedIndexKv]], published as its
    * own domain:
    *
    *  - `p:<term>` → `"docId:pos;pos;…,docId:pos;…"` (docId asc, 0-based
    *    token positions asc — [[TextAnalysis.wordTokens]] order)
    *  - `x:<term>` → tombstone for a term whose posting list exceeds
    *    `maxPostings` DOCUMENTS (value = its df) — same recall-accounting
    *    contract as the BM25 index, except phrase semantics make elision
    *    a correctness matter, so [[phraseSearch]] FAILS LOUD when a query
    *    touches a tombstoned term instead of silently scoring without it.
    *
    * Positions cost ~len/df extra integers per posting entry vs `t:`
    * records — the standard positional-index overhead; values stay UTF-8
    * CSV (SQL-replayable, Spark-free-servable) like every published
    * index here. */
  def positionalIndexKv(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int = MaxPostings): DataFrame = {
    requireCollisionFreeIds(corpus, idCol)
    // cap from COUNTS, drop hot terms' rows BEFORE any position list is
    // collected (invertedIndexKv's rationale — positional payloads are
    // heavier still, ~len/df integers per entry)
    val perDoc = corpus
      .select(docIdLong(idCol).as("doc_id"),
        posexplode(TextAnalysis.wordTokens(col(textCol))).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("ps"))
    // one capped aggregation pass (invertedIndexKv's rationale — the
    // per-(term, doc) entry renders BEFORE the term aggregate, so the
    // capped buffer holds strings, never position arrays)
    val postings = LshBuckets.boundedMembers(
        perDoc, Seq("term"),
        col("doc_id"),
        concat_ws(":",
          col("doc_id").cast("string"),
          concat_ws(";", transform(col("ps"), p => p.cast("string")))),
        maxPostings)
      .select(
        utf8_bytes(concat(
          when(col("_members").isNull, lit(DroppedPrefix)).otherwise(lit(PosPrefix)),
          col("term"))).as("key"),
        utf8_bytes(
          when(col("_members").isNull, col("_n").cast("string"))
            .otherwise(concat_ws(",", col("_members")))).as("value"))
    // `d:` doc records (value = token count): load-bearing for
    // [[positionalIndexUpsert]]'s disjointness contract AND for
    // [[phraseSearchRanked]]'s length norm — the same role they play in
    // the BM25 index. Keys derive from the SAME canonical long id as the
    // postings (docIdLong).
    val lens = lensOf(corpus, idCol, textCol)
    val lenRecords = lens.select(
      utf8_bytes(concat(lit(DocPrefix), col("doc_id").cast("string"))).as("key"),
      utf8_bytes(col("len").cast("string")).as("value"))
    // corpus constants (same `m:stats` layout as the BM25 index, one
    // shared builder): lets the ranked phrase fusion score candidates
    // without touching the corpus. The `m:positional` marker below stays
    // the TYPE authority — every cross-index guard keys on it, never on
    // m:stats presence.
    // type marker: positionalIndexUpsert refuses a domain without it —
    // pointed at a BM25 domain (which also has d: records) it would
    // otherwise silently pollute the wrong index type
    val marker = corpus.sparkSession.range(1).select(
      utf8_bytes(lit(PosMetaKey)).as("key"),
      utf8_bytes(lit("1")).as("value"))
    postings.unionByName(lenRecords).unionByName(metaRecordOf(lens)).unionByName(marker)
  }

  private val PosArrayType = "array<struct<doc_id:bigint,ps:string>>"

  /** Incremental growth of a PUBLISHED [[positionalIndexKv]] domain — the
    * updater cycle for phrase search, completing the set (band / IVF /
    * PQ / BM25 / positional all have one). Same ENFORCED contracts as
    * [[searchIndexUpsert]]: delta doc ids disjoint (probed via `d:`
    * records, bounded `limit(1)`), tombstoned terms stay elided with
    * advancing df, a merge crossing the cap fails loud naming the
    * rebuild. Takedown: same as BM25 — not supported incrementally
    * (position payloads + stats would need exact surgery); rebuild via
    * [[positionalIndexKv]] on the corpus minus the removed docs.
    * Work is O(delta + affected postings). */
  def positionalIndexUpsert(
      index: DomainStore,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      newVersion: Long,
      maxPostings: Int = MaxPostings,
      linked: Boolean = false): Unit = {
    requireCollisionFreeIds(delta, idCol)
    // ONE bounded probe: type guard (both index types publish d: records
    // AND m:stats, so only the marker separates them — an upsert aimed at
    // a BM25 domain would otherwise silently pollute the wrong index) +
    // the corpus constants, which advance with the delta exactly like the
    // BM25 upsert (phraseSearchRanked must see the grown corpus).
    val (curN, curT) = statsAndTypeCheck(
      index, delta.sparkSession, "positionalIndexUpsert", expectPositional = true,
      wrongTypeHint = "build with positionalIndexKv; BM25 domains take searchIndexUpsert",
      noStatsHint = "rebuild with positionalIndexKv " +
        "(older positional domains predate the stats record)")
    // scoped persist: same rationale as searchIndexUpsert's additions
    // per-(term, doc) position lists are doc-bounded; the TERM-level
    // aggregation rides the capped aggregate (searchIndexUpsert's
    // rationale — positional payloads are heavier still)
    val additions = LshBuckets.boundedMembers(
        delta
          .select(docIdLong(idCol).as("doc_id"),
            posexplode(TextAnalysis.wordTokens(col(textCol))).as(Seq("pos", "term")))
          .groupBy("term", "doc_id")
          .agg(sort_array(collect_list(col("pos").cast("long"))).as("psArr")),
        Seq("term"),
        col("doc_id"),
        concat_ws(":", col("doc_id").cast("string"),
          concat_ws(";", transform(col("psArr"), p => p.cast("string")))),
        maxPostings)
      .persist()
    try {
      val records = mergePostingsUpsert(
        index, delta, idCol, textCol, additions,
        livePrefix = PosPrefix,
        arrayType = PosArrayType,
        parseEntry = e => struct(
          split(e, ":").getItem(0).cast("long").as("doc_id"),
          split(e, ":").getItem(1).as("ps")),
        formatEntry = d => concat_ws(":", d("doc_id").cast("string"), d("ps")),
        opName = "positionalIndexUpsert",
        rebuildName = "positionalIndexKv",
        maxPostings = maxPostings)
      index.upsert(delta.sparkSession,
        records.unionByName(advancedMetaRecord(delta, textCol, curN, curT)), newVersion,
        linked = linked)
    } finally additions.unpersist()
  }

  /** Exact phrase search against a published [[positionalIndexKv]]
    * domain: `queries` needs (`query_id: long`, `phrase: string`);
    * returns (query_id, doc_id, n_matches, rank) for documents containing
    * the phrase's tokens CONSECUTIVELY, ranked by occurrence count (ties
    * by doc id), rank 1..k.
    *
    * Relational formulation — no per-document position walk: each
    * (query term at offset j) joins the term's postings, every match
    * votes for anchor `pos - j`, and an anchor that collects ALL the
    * phrase's offsets is one occurrence:
    * {{{
    *   matches(q, d, a) ⇔ ∀j: term_j(q) occurs in d at a + j
    * }}}
    * Work is proportional to the probed postings (multiGet prunes to the
    * query terms' shards), then two partial-agg shuffles on (query, doc,
    * anchor) — candidates move as ids+positions, never text. A repeated
    * term inside the phrase ("the cat the") is handled by counting
    * DISTINCT offsets. A query term the build tombstoned fails loud (see
    * [[positionalIndexKv]]); a term simply absent from the corpus yields
    * zero matches for that query, like any non-matching phrase. */
  def phraseSearch(store: DomainStore, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (byDoc, _, _) = phraseMatches(store, queries)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_matches").desc, col("doc_id"))
    byDoc.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Phrase-constrained BM25 (the rank-fusion retrieval shape: the
    * phrase decides WHO is a candidate, BM25 decides the ORDER): exact
    * consecutive-token matching as [[phraseSearch]], then each matching
    * doc scored by the exact-integer BM25 of the phrase's distinct terms
    * — tf from the positional postings' position counts, df from the
    * postings lists, length norm from the `d:` records, corpus constants
    * from `m:stats` — so the WHOLE rank comes from the index, never the
    * corpus. Returns (query_id, doc_id, n_matches, score, rank), rank by
    * (score desc, doc_id), top k per query. Scoring is bit-identical to
    * [[searchTopK]]'s integer BM25 (same quantized constants), so a SQL
    * oracle replays match + score + rank end to end. */
  def phraseSearchRanked(store: DomainStore, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the corpus constants ride the match's own bounded probe and are
    // LOUD when m:stats is absent (a pre-r6 positional domain): a 0-row
    // meta frame would otherwise annihilate every candidate through the
    // crossJoin — silently empty results, the exact failure class the
    // marker guards exist to kill
    val (byDoc, entries, stats) = phraseMatches(store, queries, fetchStats = true)
    val (nDocs, totalToks) = stats.get
    // tf = positions per (term, doc); df = docs per term — both straight
    // from the postings the match already fetched (no second probe)
    val tf = entries.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qd = queries
      .select(col("query_id"),
        explode(array_distinct(TextAnalysis.wordTokens(col("phrase")))).as("term"))
    val cand = byDoc.join(qd, Seq("query_id"))
      .join(tf, Seq("term", "doc_id"))
      .join(dfs, Seq("term"))
    val withLen = attachDocLengths(store, cand, "phraseSearchRanked")
    val scored = withBm25Contrib(
      withLen.withColumn("n_docs", lit(nDocs)).withColumn("total_toks", lit(totalToks)))
      .groupBy(col("query_id"), col("doc_id"), col("n_matches"))
      .agg(sum(col("contrib")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** The shared phrase-match core: exact consecutive-token occurrences
    * against a positional domain. Returns
    * (matches = (query_id, doc_id, n_matches), entries = the parsed
    * (term, doc_id, pos) postings of every query term — ALL docs holding
    * the term, not just matches, so df derives correctly downstream,
    * stats = the `m:stats` constants when `fetchStats`, fetched in the
    * same probe round). */
  private def phraseMatches(
      store: DomainStore,
      queries: DataFrame,
      fetchStats: Boolean = false): (DataFrame, DataFrame, Option[(Long, Long)]) = {
    import queries.sparkSession.implicits._
    val qterms = queries
      .select(col("query_id"),
        posexplode(TextAnalysis.wordTokens(col("phrase"))).as(Seq("j", "term")))
    // ONE bounded probe (≤ distinct query terms + 2 hits — phrase queries
    // are human-sized) checks every precondition AND, for the ranked
    // fusion, fetches the corpus constants in the same round: the domain
    // is actually a positional index (marker present — a BM25 domain
    // also has d: records and would otherwise return silent empties), no
    // query term was tombstoned by the build cap (eliding one would
    // silently UNDERCOUNT phrases), and — when asked — `m:stats` rides
    // the same multiGet so the scorer never pays a second probe.
    val extraKeys = if (fetchStats) Seq(PosMetaKey, MetaKey) else Seq(PosMetaKey)
    val probeRows = store.multiGet(
        qterms.select(utf8_bytes(concat(lit(DroppedPrefix), col("term"))).as("key")).distinct()
          .unionByName(extraKeys.toDF("k").select(utf8_bytes(col("k")).as("key"))),
        includeMisses = false)
      .select(bytes_utf8(col("key")).as("k"), bytes_utf8(col("value")).as("v"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    val probeHits = probeRows.map(_._1)
    require(probeHits.contains(PosMetaKey),
      s"phraseSearch: no '$PosMetaKey' record — not a positional-index domain " +
        "(build with positionalIndexKv)")
    val dropped = probeHits.filter(_.startsWith(DroppedPrefix))
    require(dropped.isEmpty,
      s"phraseSearch: query term '${dropped.headOption.map(_.substring(DroppedPrefix.length)).getOrElse("")}' " +
        "was dropped by the build-time postings cap — phrase semantics cannot elide a " +
        "term; rebuild the positional index with a higher maxPostings")
    val stats = if (!fetchStats) None else {
      val raw = probeRows.collectFirst { case (MetaKey, v) => v }
        .getOrElse(throw new IllegalArgumentException(
          s"phraseSearchRanked: no '$MetaKey' record — rebuild with positionalIndexKv " +
            "(older positional domains predate the stats record)"))
      val parts = raw.split(",")
      Some((parts(0).toLong, parts(1).toLong))
    }
    val termKeys = qterms
      .select(utf8_bytes(concat(lit(PosPrefix), col("term"))).as("key"))
      .distinct()
    val entriesRaw = store.multiGet(termKeys, includeMisses = false)
      .select(
        substring(bytes_utf8(col("key")), PosPrefix.length + 1, Int.MaxValue).as("term"),
        explode(split(bytes_utf8(col("value")), ",")).as("e"))
      .select(col("term"),
        split(col("e"), ":").getItem(0).cast("long").as("doc_id"),
        explode(split(split(col("e"), ":").getItem(1), ";")).as("p"))
      .select(col("term"), col("doc_id"), col("p").cast("long").as("pos"))
    // The ranked fusion consumes the parsed postings THREE times (the
    // anchor match, tf, and dfs via tf) — AQE stage reuse is not
    // transitive (LshBuckets.keyPartitioned), so the lazy layout re-ran
    // the multiGet + parse pipeline per consumer (stage stats r16: three
    // identical postings stages). Query-term postings are probe-sized
    // (≤ terms × maxPostings); materialize once for the multi-consumer
    // path, stay lazy for the plain phrase match (one consumer).
    val entries = if (fetchStats) entriesRaw.localCheckpoint(true) else entriesRaw
    val qlen = qterms.groupBy("query_id")
      .agg(countDistinct(col("j")).as("n_terms"))
    val anchors = qterms.join(entries, Seq("term"))
      .select(col("query_id"), col("j"), col("doc_id"),
        (col("pos") - col("j")).as("anchor"))
      .where(col("anchor") >= 0)
      .groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(countDistinct(col("j")).as("found"))
    val byDoc = anchors.join(qlen, Seq("query_id"))
      .where(col("found") === col("n_terms"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    (byDoc, entries, stats)
  }

  private val PostingsArrayType = "array<struct<doc_id:bigint,tf:bigint>>"

  /** Incremental growth of a PUBLISHED [[invertedIndexKv]] domain — the
    * updater cycle for search (sibling of [[IndexFamily.upsert]] /
    * `Similarity.ivfIndexUpsert`): new documents fold into the affected
    * postings, publish their lengths, and advance the corpus stats;
    * untouched terms copy-forward via the standard delta publish.
    *
    * Contracts, all ENFORCED:
    *  - delta doc ids must be disjoint from the index (postings merge is
    *    append-only; an update needs a rebuild) — probed via the `d:`
    *    records, bounded `limit(1)`;
    *  - a term the BUILD tombstoned stays elided: its `x:` df advances,
    *    no partial postings list resurrects;
    *  - a merge that would CROSS the cap fails loud naming the rebuild
    *    (an upsert cannot drop a published `t:` key — same reasoning as
    *    the membership families' bucket cap);
    *  - internally duplicated delta ids trip upsert's key-repeat guard.
    *
    * Takedown: NOT supported incrementally — a removed doc's tf entries
    * sit inside every one of its terms' postings AND the corpus
    * constants (`m:stats` N, total tokens) and per-term dfs would all
    * need exact decrement; the supported path is a rebuild via
    * [[invertedIndexKv]] on the corpus minus the removed docs (contrast the
    * dedup/ANN families, whose membership-only cells take
    * [[IndexFamily.delete]] / `ivfIndexDelete`).
    *
    * Work is O(delta + affected postings): three bounded multiGets (term
    * keys ×2, the 1-row stats) plus the delta-sized upsert. */
  def searchIndexUpsert(
      index: DomainStore,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      newVersion: Long,
      maxPostings: Int = MaxPostings,
      linked: Boolean = false): Unit = {
    requireCollisionFreeIds(delta, idCol)
    val spark = delta.sparkSession
    // ONE bounded probe: positional domains publish m:stats too (ranked
    // fusion), so stats presence alone no longer proves BM25 — the
    // m:positional marker is the type authority and must be ABSENT here
    val (curN, curT) = statsAndTypeCheck(
      index, spark, "searchIndexUpsert", expectPositional = false,
      wrongTypeHint = "positional domains take positionalIndexUpsert",
      noStatsHint = "not a search-index domain")

    // SCOPED persist (the IndexDelete.publishUpsert pattern): the additions
    // aggregate feeds the two current-record multiGets AND the merge —
    // without it the delta is re-tokenized and re-aggregated per
    // consumer (an expensive-source delta would be scanned ~4x per
    // upsert). Released before returning; nothing outlives the call.
    // the delta's hot term must not collect its whole posting list into
    // one buffer just for the merge to reject it (the build side's
    // BoundedCollectAgg rule): past the cap, members are null and `_n`
    // carries the exact delta df — enough for the tombstone arithmetic,
    // and the live-term merge fails loud without ever building the blob
    val additions = LshBuckets.boundedMembers(
        termFrequencies(delta, idCol, textCol), Seq("term"),
        col("doc_id"),
        concat_ws(":", col("doc_id").cast("string"), col("tf").cast("string")),
        maxPostings)
      .persist()
    try {
      val records = mergePostingsUpsert(
        index, delta, idCol, textCol, additions,
        livePrefix = TermPrefix,
        arrayType = PostingsArrayType,
        parseEntry = e => struct(
          split(e, ":").getItem(0).cast("long").as("doc_id"),
          split(e, ":").getItem(1).cast("long").as("tf")),
        formatEntry = p =>
          concat_ws(":", p("doc_id").cast("string"), p("tf").cast("string")),
        opName = "searchIndexUpsert",
        rebuildName = "invertedIndexKv",
        maxPostings = maxPostings)
      index.upsert(spark,
        records.unionByName(advancedMetaRecord(delta, textCol, curN, curT)), newVersion,
        linked = linked)
    } finally additions.unpersist()
  }

  /** The shared merge scaffold of the two index upserts (BM25 `t:` and
    * positional `p:`): d:-probed doc-id disjointness, current-record
    * multiGets, the tombstone-df advance, the sorted append-only merge,
    * the cap-crossing raise, and the refreshed `d:` records — one
    * definition so the contracts cannot drift between index types. The
    * callers differ only in their additions frame, entry codec, and
    * names. Returns term + d: records ready to union with any
    * caller-specific meta and upsert. */
  private def mergePostingsUpsert(
      index: DomainStore,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      additions: DataFrame,
      livePrefix: String,
      arrayType: String,
      parseEntry: Column => Column,
      formatEntry: Column => Column,
      opName: String,
      rebuildName: String,
      maxPostings: Int): DataFrame = {
    val clash = index.multiGet(
        delta.select(
          utf8_bytes(concat(lit(DocPrefix), docIdLong(idCol).cast("string"))).as("key")),
        includeMisses = false)
      .limit(1).collect()
    require(clash.isEmpty,
      s"$opName: a delta doc id is already indexed — postings " +
        s"merge is append-only; rebuild with $rebuildName to update documents")
    def current(prefix: String, as: String) = index.multiGet(
        additions.select(utf8_bytes(concat(lit(prefix), col("term"))).as("key")),
        includeMisses = true)
      .select(
        substring(bytes_utf8(col("key")), prefix.length + 1, Int.MaxValue).as("term"),
        bytes_utf8(col("value")).as(as))
    // additions carry entry STRINGS in the stored grammar (`_members`,
    // null once the delta term alone crossed the cap — where only `_n`
    // survives, exact, for the tombstone arithmetic), so current and
    // delta entries parse through the SAME parseEntry
    val merged = additions
      .join(current(livePrefix, "cur"), Seq("term"), "left_outer")
      .join(current(DroppedPrefix, "xdf").withColumn("xdf", col("xdf").cast("long")),
        Seq("term"), "left_outer")
      .withColumn("curps",
        when(col("cur").isNull, array().cast(arrayType))
          .otherwise(transform(split(col("cur"), ","), parseEntry).cast(arrayType)))
      .withColumn("aps",
        when(col("_members").isNull, array().cast(arrayType))
          .otherwise(transform(col("_members"), parseEntry).cast(arrayType)))
      .withColumn("ps",
        array_sort(concat(col("curps"), col("aps"))))
    def mergedOverflow = raise_error(concat(
      lit(s"$opName: merged postings for term '"), col("term"),
      lit(s"' exceed maxPostings=$maxPostings members — a rebuild " +
        "would tombstone the term (recall accounting) and an upsert " +
        s"cannot drop a published key: re-index with $rebuildName")))
    val termRecords = merged.select(
      utf8_bytes(concat(
        when(col("xdf").isNotNull, lit(DroppedPrefix)).otherwise(lit(livePrefix)),
        col("term"))).as("key"),
      utf8_bytes(
        when(col("xdf").isNotNull, (col("xdf") + col("_n")).cast("string"))
          // the delta alone crossed the cap onto a LIVE term — the merge
          // can only exceed it; fail loud without ever having built the
          // delta's posting blob
          .otherwise(when(col("_members").isNull, mergedOverflow)
            .when(size(col("ps")) <= maxPostings,
              concat_ws(",", transform(col("ps"), formatEntry)))
            .otherwise(mergedOverflow)))
        .as("value"))
    val lenRecords = delta.select(
      utf8_bytes(concat(lit(DocPrefix), docIdLong(idCol).cast("string"))).as("key"),
      utf8_bytes(size(TextAnalysis.wordTokens(col(textCol))).cast("string")).as("value"))
    termRecords.unionByName(lenRecords)
  }
}
