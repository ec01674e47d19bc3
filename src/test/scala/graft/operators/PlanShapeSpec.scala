package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/**
 * Physical-plan regression pins: the shapes that make the operators
 * scale are asserted here, so a refactor that silently re-introduces a
 * shuffle, drops a broadcast, or falls out of the intended pattern
 * fails a test instead of only moving a bench number on a noisy box.
 * Inputs are built in-memory (no fixture Repartition noise) so the
 * exchange counts are exactly the operators' own.
 */
class PlanShapeSpec extends SparkSuite {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def countOccurrences(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  private lazy val events = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (0 until 2000).map(i =>
      (i.toLong, rnd.nextInt(50).toLong, rnd.nextInt(100000).toLong,
        if (i % 3 == 0) "ref" else "probe")).toDF("event_id", "user_id", "ts", "kind")
  }

  test("phraseSearchRanked: the WHOLE rank derives from the index — corpus never scanned") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    // build the index FROM a corpus parquet, then plan the fusion query:
    // its scans must touch the index domain only. At 100 TB that is the
    // entire point — tf, df, lengths, and corpus constants all come from
    // published records, so retrieval cost scales with the INDEX.
    val corpusPath = scratch("fusion-plan-corpus")
    Seq(1L -> "cat cat dog", 2L -> "cat fish", 3L -> "dog cat dog")
      .toDF("doc_id", "text").write.parquet(corpusPath)
    val store = graft.store.DomainStore.create(
      scratch("fusion-plan-idx"),
      graft.core.DomainSpec(4, persistenceFormat = graft.core.DomainSpec.KvSorted), conf)
    store.write(
      Search.positionalIndexKv(spark.read.parquet(corpusPath), "doc_id", "text"), 1L)
    val out = Search.phraseSearchRanked(
      store, Seq(0L -> "cat dog").toDF("query_id", "phrase"), 5)
    val p = plan(out)
    assert(!p.contains("fusion-plan-corpus"),
      s"fusion plan scans the corpus parquet:\n$p")
    // and the result is non-trivial (docs 1 and 3 match)
    assert(out.collect().map(_.getLong(1)).toSet === Set(1L, 3L))
  }

  test("asOfJoin: exactly one exchange (the key shuffle), no join operator at all") {
    val probe = events.where(col("kind") === "probe")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ref = events.where(col("kind") === "ref")
      .select(col("user_id"), col("ts"), col("event_id").as("ref_id"))
    val p = plan(Events.asOfJoin(probe, ref, Seq("user_id"), "ts", Seq("ref_id")))
    assert(countOccurrences(p, "Exchange") === 1, s"expected 1 exchange:\n$p")
    assert(!p.contains("Join"), s"as-of must not be a join:\n$p")
  }

  test("asOfJoinBucketed: big side never re-shuffled for the carry join (broadcast)") {
    val probe = events.where(col("kind") === "probe")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ref = events.where(col("kind") === "ref")
      .select(col("user_id"), col("ts"), col("event_id").as("ref_id"))
    val p = plan(Events.asOfJoinBucketed(
      probe, ref, Seq("user_id"), "ts", Seq("ref_id"), bucketNs = 1000L))
    assert(p.contains("BroadcastHashJoin"), s"carry join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge of the big side:\n$p")
  }

  /** Shuffle-exchange partition-key sets, deduplicated by CANONICALIZED
    * plan: the summary branches of the bucketed event operators repeat
    * the big (user, bucket) exchange subtree verbatim, and AQE reuses a
    * stage exactly when the canonicalized plans match — so the distinct
    * count here IS the number of shuffles that run (the listener test
    * below confirms the record volume at runtime). */
  private def distinctShuffleKeys(df: DataFrame): Seq[Set[String]] = {
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.groupBy(_.canonicalized).values.map { es =>
      es.head.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
          }.toSet
        case other => Set(other.toString)
      }
    }.toSeq
  }

  /** Total shuffle records written while running `df`, scoped by job
    * group (robust under sbt's parallel suites). */
  private def shuffleRecordsWritten(df: DataFrame): Long =
    graft.StageStats.measure(spark.sparkContext, s"shuffle-pin-${System.nanoTime()}")(
      df.write.format("noop").mode("overwrite").save())._2.shuffleRecords.get()

  test("sessionizeBucketed: event log shuffles ONCE — on (user, bucket); carry join broadcast") {
    val ev = events.select(col("event_id"), col("user_id"), col("ts"))
    val df = Events.sessionizeBucketed(ev, 30, bucketNs = 20000L)
    // exactly one distinct shuffle carries event-log rows (the
    // (user, bucket) window exchange — the summary branch repeats it and
    // AQE runs it once); the only other shuffle is the summary frame's
    // per-user window, bucket-count-sized. The summary aggregation and
    // the final session_idx window both reuse the (user, bucket)
    // partitioning.
    val keys = distinctShuffleKeys(df)
    assert(keys.count(_ == Set("user_id", "_bucket")) === 1, s"shuffle keys: $keys")
    assert(keys.size === 2, s"expected 2 distinct shuffles: $keys")
    assert(keys.contains(Set("user_id")), s"summary shuffle missing: $keys")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"carry join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge of the big side:\n$p")
    // runtime proof: 2000 events + at most 50 users x 5 buckets of
    // summaries — a second event-log shuffle would double this
    val written = shuffleRecordsWritten(df)
    assert(written < 2000 + 600, s"event log shuffled more than once: $written records")
    assert(written >= 2000, s"suspiciously few shuffle records: $written")
  }

  test("transitionsBucketed: event log shuffles ONCE; no join; edge agg is |types|^2-keyed") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // few users/buckets so the summary-partial shuffle volume is clearly
    // separable from the event volume in the runtime assertion below
    val ev = (0 until 2000).map(i =>
      (i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(100000).toLong,
        if (i % 3 == 0) "a" else "b")).toDF("event_id", "user_id", "ts", "event_type")
    val df = Events.transitionsBucketed(
      ev, "user_id", "event_type", "ts", "event_id", bucketNs = 50000L)
    // exactly ONE exchange carries event-log-width rows (the window's
    // (user, bucket) shuffle — identified by the raw event_id column in
    // its output); every other shuffle carries min_by/max_by summary
    // partials (map-side-combined per (user, bucket)), per-user bucket
    // summaries, or (from, to) edge partials — all bounded by group
    // counts, never by event counts
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val eventRowShuffles = exchanges.filter(_.output.exists(_.name == "event_id"))
    assert(eventRowShuffles.size === 1,
      s"expected exactly one event-row shuffle:\n${plan(df)}")
    val keys = distinctShuffleKeys(df)
    assert(keys.contains(Set("from_type", "to_type")), s"edge-agg shuffle missing: $keys")
    assert(!plan(df).contains("Join"), s"transitions must not join:\n${plan(df)}")
    // runtime proof: 2000 events cross once; summary partials are
    // ~(map tasks x 10 users x 2 buckets) and edge partials ~(tasks x 4)
    // — a second event-log shuffle would add another 2000
    val written = shuffleRecordsWritten(df)
    assert(written < 2000 + 1000, s"event log shuffled more than once: $written records")
    assert(written >= 2000, s"suspiciously few shuffle records: $written")
  }

  test("chunkSpans: a MapPartitions pass, never a Window") {
    import spark.implicits._
    val docs = (0 until 1000).map(i => (i.toLong, (i % 37 + 1).toLong)).toDF("doc_id", "toks")
    val p = plan(Packing.chunkSpans(docs, "doc_id", col("toks"), 64L))
    assert(p.contains("MapPartitions"), s"expected mapPartitions pass:\n$p")
    assert(!p.contains("Window"), s"global/partition-id Window re-appeared:\n$p")
  }

  test("decontaminate: benchmark grams broadcast; corpus grams never hash-join-shuffled") {
    import spark.implicits._
    val corpus = (0 until 500).map(i => (i.toLong, s"alpha beta gamma delta token$i"))
      .toDF("doc_id", "text")
    val bench = Seq((9999L, "alpha beta gamma")).toDF("doc_id", "text")
    val p = plan(TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", 3))
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams must not sort-merge:\n$p")
  }

  test("lmScore: model tables broadcast to the probe side, corpus grams never sort-merged") {
    import spark.implicits._
    val corpus = (0 until 500).map(i => (i.toLong, s"alpha beta gamma delta token$i more words"))
      .toDF("doc_id", "text")
    val p = plan(TextAnalysis.lmScore(corpus, corpus, "doc_id", "text", maxGrams = 1024))
    assert(countOccurrences(p, "BroadcastHashJoin") >= 2,
      s"both capped count tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams must not sort-merge:\n$p")
  }

  test("minhash signatures: exactly one exchange (the partial-agg shuffle)") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"w$i x${i % 7} y${i % 3} z common words here"))
      .toDF("doc_id", "text")
    val p = plan(Dedup.minHashSignatures(Dedup.wordShingles(docs, "doc_id", "text")))
    assert(countOccurrences(p, "Exchange") === 1, s"expected 1 exchange:\n$p")
  }

  test("LSH candidate dedup exchanges carry ids only, never raw vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val embs = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val queries = (0 until 5).map(i =>
      (1000L + i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    def dedupExchangesHaveNoArrays(df: DataFrame, idCols: Set[String]): Unit = {
      // collect() on the AQE wrapper sees only the wrapper node — descend
      // into its current plan to reach the exchanges
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val exchanges = root.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // the dedup exchange partitions by exactly the id pair; its rows
      // must be the ids alone (a vec smuggled through re-widens it)
      val dedupEx = exchanges.filter { e =>
        e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            val names = h.expressions.collect {
              case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
            }.toSet
            names == idCols
          case _ => false
        }
      }
      assert(dedupEx.nonEmpty, s"no dedup exchange found in:\n${df.queryExecution.executedPlan}")
      dedupEx.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"dedup exchange carries arrays ${arrays.map(_.name).mkString(",")}:\n$e")
      }
    }
    dedupExchangesHaveNoArrays(
      Similarity.nearDupPairsBucketed(embs, "id", "vec", 0.8), Set("id_a", "id_b"))
    dedupExchangesHaveNoArrays(
      Similarity.annTopK(embs, queries, "id", "vec", 5), Set("query_id", "id"))
    dedupExchangesHaveNoArrays(
      Similarity.knnJoin(queries, embs, "id", "vec", 5), Set("query_id", "id"))

    // the composed D4 recipe (pipeline_data_prune): the semantic-dedup
    // drop-set dedup exchange (keyed exactly {id}) must move ids alone —
    // an embedding smuggled into the drop set re-widens the exchange AND
    // un-broadcasts the drop-set anti-join that keeps the corpus payload
    // from shuffling for the filter. Since the r16 optimization the
    // composed query materializes the drop set at construction (its
    // exchange no longer appears in the final frame's plan), so the pin
    // targets the drop-set OPERATOR's own plan; the composed plan is
    // additionally checked to carry no array column through ANY
    // remaining exchange.
    val embCorpus = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    dedupExchangesHaveNoArrays(
      Similarity.semanticDropSet(embCorpus, "vec_id", "embedding", 0.44, 4), Set("id"))
    locally {
      val composed = graft.queries.PipelineQueries.dataPrune(embCorpus)
      val root = composed.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"dataPrune exchange carries arrays ${arrays.map(_.name).mkString(",")}:\n$e")
      }
    }
  }

  test("removeSharedSpans: document text crosses no exchange; reattach join broadcasts") {
    // a real file scan — a local relation constant-folds the plan
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val df = Dedup.removeSharedSpans(docs, "doc_id", "text")
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"expected fp/cut exchanges:\n${plan(df)}")
    // the exchanges carry anchor rows (id, pos, fp) and per-doc position
    // lists — the text column (internal name "t") must never ride one:
    // at corpus scale the fingerprint shuffle is anchor-sized precisely
    // because the payload stays columnar at its source until the final
    // per-doc reattach
    val textCarrying = exchanges.filter(_.output.exists(_.name == "t"))
    assert(textCarrying.isEmpty,
      s"text rides ${textCarrying.size} exchange(s):\n${plan(df)}")
    // the reattach (base ⋈ per-doc cut lists) broadcasts the cut lists —
    // only docs WITH cut sites have a row there, a sliver of the corpus
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"reattach join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"text side must not sort-merge:\n$p")
  }

  test("pipeline_media_filter: drop set broadcasts into the anti-join, features never re-shuffle") {
    val df = graft.queries.PipelineQueries.queries("pipeline_media_filter")(
      spark, sf("sf0.001"))
    // The drop-set side is a TYPED MapPartitions pipeline (decode +
    // banding), so the initial planner has no stats and conservatively
    // plans a sort-merge anti; the pin is on the FINAL adaptive plan —
    // AQE must convert it to a BroadcastHashJoin LeftAnti once the
    // pair-sized drop set materializes (a surviving sort-merge would
    // shuffle every decoded feature row for a sliver-sized filter — the
    // dataPrune drop-set rule). AQE hides exchanges/joins inside query
    // stages, so inspect the final plan's STRING after an action, cut at
    // the initial-plan section (the KvDomainV2Spec.finalPlan idiom).
    df.collect() // an action on THIS QueryExecution (df.write would spawn a fresh one)
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), s"adaptive plan never finalized:\n$full")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"drop-set anti-join must broadcast in the final plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"features must not sort-merge in the final plan:\n$p")
  }

  test("text analysis reports are shuffle-free whole-stage codegen") {
    // a real file scan — a local relation constant-folds the whole plan
    // into LocalTableScan and proves nothing
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    for (df <- Seq(
        TextAnalysis.qualityReport(docs, "doc_id", "text"),
        TextAnalysis.repetitionReport(docs, "doc_id", "text"),
        TextAnalysis.langIdReport(docs, "doc_id", "text"))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"per-row report must not shuffle:\n$p")
      // codegen stages print as `*(n)`; the documented higher-order-fn
      // islands (stopword filter, n-gram transform) are allowed to sit
      // between them, but the plan must not be entirely interpreted
      assert(p.contains("*("), s"no codegen stage at all:\n$p")
    }
  }

  test("repetitionReport tokenizes once: exactly one regexp_extract_all in the plan") {
    // The flat formulation depended on codegen subexpression elimination
    // to dedupe up to six tokenizations per row, and the wordTokens
    // null-safety `coalesce` silently defeated that (conditional
    // subtrees are excluded from subexpression extraction — the r10
    // 17.9 s bench-of-record outlier). The staged projections make the
    // single evaluation STRUCTURAL; this pin fails if a future refactor
    // (or a "harmless" wrapper) re-multiplies the tokenizer.
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val p = plan(TextAnalysis.repetitionReport(docs, "doc_id", "text"))
    val n = countOccurrences(p, "regexp_extract_all")
    assert(n === 1, s"expected exactly 1 regexp_extract_all, got $n:\n$p")
  }

  test("ivfTopK: the executed plan does not grow with nlist") {
    // centroids ride one broadcast and the per-row argmin is a single
    // NearestCellsExpr call whatever nlist is; a literal-centroid
    // formulation would grow the plan linearly in nlist
    val embs = graft.queries.Fixtures.table(spark, sf("sf0.001"), "embeddings")
    val q = embs.where(col("vec_id") % 100 === 0)
    def planLen(nlist: Int): Int =
      plan(Similarity.ivfTopK(embs, q, "vec_id", "embedding", 10, nlist = nlist, nprobe = 4)).length
    val (p16, p256) = (planLen(16), planLen(256))
    assert(math.abs(p256 - p16) <= 0.1 * p16,
      s"plan length nlist=16: $p16 chars, nlist=256: $p256 chars")
  }
}
