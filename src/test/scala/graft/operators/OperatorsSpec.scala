package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Behavior checks the DuckDB oracle can't express: LSH recall, sketch
  * invariants, batching-independence of the multimodal stub. */
class OperatorsSpec extends SparkSuite {

  private lazy val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
  private lazy val embs = spark.read.parquet(sf("sf0.001/embeddings.parquet"))

  test("minhash: identical docs get identical signatures; sig length 128") {
    import spark.implicits._
    val two = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again")).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(Dedup.shingles(two, "doc_id", "text"))
      .collect().map(r => r.getSeq[Long](1))
    assert(sigs.length === 2)
    assert(sigs(0).length === 128)
    assert(sigs(0) === sigs(1))
  }

  test("minhash-LSH finds every exact-jaccard pair at threshold (recall = 1 here)") {
    val exact = Dedup.jaccardPairsFromShingles(
        Dedup.wordShingles(docs, "doc_id", "text"), 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashPairs(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(exact.nonEmpty)
  }

  test("minhash-LSH == exhaustive jaccard on a random corpus with planted dups") {
    import spark.implicits._
    // Seeded, so deterministic: exact copies (j = 1), one-token mutations
    // (j anywhere in [0, 1)), and unrelated docs. At threshold 0.8 the
    // 32x4 banding miss probability is ~6e-8 per qualifying pair.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    def doc() = Seq.fill(10 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, doc()))
    val copies = base.take(10).map { case (i, t) => (1000L + i, t) }
    val mutated = base.slice(10, 25).map { case (i, t) =>
      val toks = t.split(" ")
      toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
      (2000L + i, toks.mkString(" "))
    }
    val corpus = (base ++ copies ++ mutated).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairsFromShingles(
        Dedup.wordShingles(corpus, "doc_id", "text"), 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashPairs(corpus, "doc_id", "text", 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(exact.size >= 10) // at least the planted exact copies
  }

  test("prefix-filtered jaccard == naive inverted-index jaccard") {
    import org.apache.spark.sql.functions.col
    val sample = docs.where(col("doc_id") % 4 === 0)
    val sh = Dedup.shingles(sample, "doc_id", "text")
    val naive = Dedup.jaccardPairsFromShingles(sh, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = Dedup.prefixFilteredJaccardPairs(sh, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered === naive)
  }

  test("simhash: identical text -> distance 0; disjoint vocab -> large distance") {
    import spark.implicits._
    val three = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zulu yankee xray whiskey victor")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(Dedup.simHash(three, "doc_id", "text"), 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("banded simhash pairing == exhaustive all-pairs (pigeonhole exactness)") {
    val sketches = Dedup.simHash(docs, "doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exhaustive = norm(Dedup.simHashPairs(sketches, 3))
    val banded = norm(Dedup.simHashPairsBanded(sketches, 3))
    assert(banded === exhaustive)
    assert(exhaustive.nonEmpty)
  }

  test("decontaminate: planted benchmark n-grams found, clean docs 0, n-gram edge cases") {
    import spark.implicits._
    val bench = Seq((100L, "the secret benchmark answer sequence here")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "totally unrelated words about weather patterns"),
      // shares "the secret benchmark" + "secret benchmark answer"
      (2L, "contains the secret benchmark answer verbatim inside"),
      (3L, "short doc"), // fewer than 3 tokens -> no grams, still a row
      (4L, "benchmark answer sequence appears once more") // 1 shared 3-gram
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((0L, 0L)), 2L -> ((2L, 1L)), 3L -> ((0L, 0L)), 4L -> ((1L, 1L))))
  }

  test("decontaminate: hashed-gram scale path == exact string path on real docs") {
    val bench = docs.where(col("doc_id") % 23 === 0)
    val corpus = docs.where(col("doc_id") % 23 =!= 0)
    def result(hashed: Boolean) =
      TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", 3, hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = result(false)
    assert(result(true) === exact)
    assert(exact.exists(_._3 == 1L)) // some contamination actually present
  }

  test("chunkSpans: spans tile the token stream; distributed == single global window") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (0 until 500).map(i => (i.toLong, rnd.nextInt(40).toLong))
      .toDF("doc_id", "toks")
    val budget = 64L
    val spans = Packing.chunkSpans(docs, "doc_id", col("toks"), budget)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // oracle: plain in-memory prefix sum over doc_id order
    val expected = docs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 > 0).sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, t)) => (id, t, cum + t) }.drop(1)
      .map { case (id, t, cum) => (id, t, (cum - t) / budget, (cum - 1) / budget) }
    assert(spans.toSeq === expected.toSeq)
    // coalesce(1) merges every range partition into ONE task (exactly
    // what Verify's .coalesce(1).write does): per-partition offsets must
    // still seed correctly because they key on first-id, not task id
    val coalesced = Packing.chunkSpans(docs, "doc_id", col("toks"), budget)
      .coalesce(1).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(coalesced.toSeq === expected.toSeq)
    // tiling: each doc starts in the chunk where the previous one ended
    // or in the directly following one — no gaps, no overlaps backwards
    spans.sliding(2).foreach { w =>
      if (w.length == 2) {
        val lastA = w(0)._4
        val firstB = w(1)._3
        assert(firstB === lastA || firstB === lastA + 1,
          s"gap between ${w(0)} and ${w(1)}")
      }
    }
  }

  test("chunkSpans: correct when partitions exceed the range-sampler reservoir (50k rows)") {
    import spark.implicits._
    // > ~300 rows/partition puts RangePartitioner's reservoir sampling in
    // play — the regime where un-materialized two-phase prefix sums see
    // different boundaries per job. Totals are the strong invariant here:
    // any mis-seeded offset shifts every later chunk id.
    val rnd = new scala.util.Random(17)
    val docs = (0 until 50000).map(i => (i.toLong, (1 + rnd.nextInt(50)).toLong))
      .toDF("doc_id", "toks")
    val budget = 512L
    val spans = Packing.chunkSpans(docs, "doc_id", col("toks"), budget)
    val totalTokens = docs.agg(sum("toks")).collect()(0).getLong(0)
    val stats = Packing.packingStats(spans).collect()(0)
    assert(stats.getAs[Long]("n_docs") === 50000L)
    assert(stats.getAs[Long]("total_tokens") === totalTokens)
    assert(stats.getAs[Long]("n_chunks") === (totalTokens + budget - 1) / budget)
    // last doc must end exactly at the global token total
    val lastSpan = spans.orderBy(col("doc_id").desc).limit(1).collect()(0)
    assert(lastSpan.getLong(3) === (totalTokens - 1) / budget)
  }

  test("approx vocab (HLL scale path) within 5% of exact count_distinct") {
    def vocab(exact: Boolean): Long =
      TextAnalysis.corpusStats(docs, "text", exactVocab = exact)
        .select("vocab_size").collect()(0).getLong(0)
    val (e, a) = (vocab(true), vocab(false))
    assert(e > 0)
    assert(math.abs(a - e).toDouble / e <= 0.05, s"exact=$e approx=$a")
  }

  test("chunkSpans + packingStats: empty corpus yields zero rows / zero stats") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "toks")
    val spans = Packing.chunkSpans(empty, "doc_id", col("toks"), 64L)
    assert(spans.count() === 0L)
    val stats = Packing.packingStats(spans).collect()(0)
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
      === ((0L, 0L, 0L, 0L)))
    // all-zero-token corpus behaves like empty (zero-token docs excluded)
    val zeros = Seq((1L, 0L), (2L, 0L)).toDF("doc_id", "toks")
    assert(Packing.chunkSpans(zeros, "doc_id", col("toks"), 64L).count() === 0L)
  }

  test("paragraph dedup: keep first occurrence globally, drop later repeats incl. in-doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\n\nSHARED A\n\nunique two"),
      (2L, "SHARED A\n\nunique three\n\nSHARED A"), // both lose to doc 1 pos 1
      (3L, "  SHARED A  \n\n\n\nunique four"),      // trim + newline-run split
      (4L, ""),                                     // no paragraphs at all
      (5L, "unique one")                            // whole text repeats doc 1's first para
    ).toDF("doc_id", "text")
    val got = TextAnalysis.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === (("unique one\n\nSHARED A\n\nunique two", 0L)))
    assert(got(2L) === (("unique three", 2L)))
    assert(got(3L) === (("unique four", 1L)))
    assert(got(4L) === (("", 0L)))
    assert(got(5L) === (("", 1L)))
  }

  test("URL blocklist: suffix-chain matching, host normalization, deterministic rule pick") {
    import spark.implicits._
    val rows = Seq(
      (1L, "https://ads.WWW.Tracker.example.COM/x?q=1"), // nested subdomain, mixed case
      (2L, "http://user@tracker.example.com:9090/path"), // userinfo + port
      (3L, "docs.example.org/readme"),                   // scheme-less
      (4L, "https://example.com/"),                      // parent of a blocked child: NOT blocked
      (5L, "https://nottracker.example.com/")            // substring but not a dot-suffix
    ).toDF("doc_id", "url")
    val got = TextAnalysis.urlBlocklistFilter(
      rows, "doc_id", "url", Seq("tracker.example.com", "docs.example.org"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), Option(r.getString(3))))).toMap
    assert(got(1L) === (("ads.www.tracker.example.com", 1, Some("tracker.example.com"))))
    assert(got(2L) === (("tracker.example.com", 1, Some("tracker.example.com"))))
    assert(got(3L) === (("docs.example.org", 1, Some("docs.example.org"))))
    assert(got(4L) === (("example.com", 0, None)))
    assert(got(5L) === (("nottracker.example.com", 0, None)))
  }

  test("DSIR weights: target-like docs rank above corpus-generic docs; empty docs survive at 0") {
    import spark.implicits._
    val target = Seq(
      (100L, "quantum physics entangled states decohere rapidly"),
      (101L, "quantum field theory predicts entangled states")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "quantum physics entangled states"), // target-like
      (2L, "cheap pills buy now cheap pills buy now"), // corpus-generic spam
      (3L, "cheap pills buy now cheap pills buy now"), // same spam (raises q, lowers w)
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.dsirWeights(corpus, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got(4L) === ((0L, 0L)))
    // the target-like doc outranks the spam twins
    assert(got(1L)._2 > got(2L)._2)
    assert(got(2L) === got(3L)) // identical text, identical weight
  }

  test("degenerate inputs: null text/ids/sources never vanish rows or crash (review-pass pins)") {
    import spark.implicits._
    // dsirScore: a NULL-text doc is KEPT at (0, 0) exactly like an
    // empty-text doc (the null-sentinel contract) — it used to vanish
    // (explode of a nulled concat emits zero rows)
    val target = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    val corpus = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeights(corpus, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(w.keySet === Set(1L, 2L, 3L))
    assert(w(2L) === ((0L, 0L)) && w(3L) === ((0L, 0L)))
    // featureHashVector: null-text doc gets the zero vector (kept)
    val emb = TextAnalysis.featureHashVector(corpus, "doc_id", "text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(emb.keySet === Set(1L, 2L, 3L))
    assert(emb(2L) === Seq.fill(8)(0.0))
    assert(emb(1L).exists(_ != 0.0))
    // chunkSpans: null ids are excluded like zero-token docs (they used
    // to NPE the phase-2 seed on the executor)
    val docs = Seq((Some(1L), 10L), (None, 5L), (Some(2L), 3L))
      .toDF("doc_id", "toks")
    val spans = Packing.chunkSpans(docs, "doc_id", col("toks"), 4L)
      .collect().map(_.getLong(0)).toSet
    assert(spans === Set(1L, 2L))
    // alphaRates: a null source is excluded from the census (it can
    // never match a per-source rate) instead of NPE-ing the driver sort
    val mixed = Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]))
      .toDF("id", "src")
    val rates = Sampling.alphaRates(mixed, "src", budgetRows = 10L, halfPow = 0)
    assert(rates.map(_._1) === Seq("a"))
    // alphaRates: a per-mille step that would wrap fails loud, never a
    // silently-negative (select-nothing) rate
    val tiny = Seq((1L, "solo")).toDF("id", "src")
    val e = intercept[IllegalArgumentException](
      Sampling.alphaRates(tiny, "src", budgetRows = Long.MaxValue / 500, halfPow = 0))
    assert(e.getMessage.contains("per-mille"), e.getMessage)
  }

  test("DSIR fit/apply: bucket-space mismatch fails loud; unseen-corpus grams hit the OOV floor") {
    import spark.implicits._
    val target = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = Seq((2L, "delta epsilon zeta")).toDF("doc_id", "text")
    val model = TextAnalysis.dsirModel(raw, target, "text", buckets = 64)
    // scoring a corpus the fit never saw: novel grams score the smoothed
    // floor difference, not silent zero — two docs of all-novel grams
    // with equal gram counts get EQUAL nonzero-count weights
    val novel = Seq((10L, "qqq www eee"), (11L, "rrr ttt yyy")).toDF("doc_id", "text")
    val scored = TextAnalysis.dsirScore(novel, model, "doc_id", "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scored(10L) === 5L && scored(11L) === 5L) // 3 unigrams + 2 bigrams each
    // mismatched bucket space: fail loud, never garbage
    val e = intercept[Exception](
      TextAnalysis.dsirScore(novel, model, "doc_id", "text", buckets = 32).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("bucket count mismatch")), messages(e).mkString(" | "))
  }

  test("PII scrub: phone/IP dialects redact; dates, versions and decimals are spared") {
    import spark.implicits._
    val rows = Seq(
      (1L, "call (650) 555-0199 or +44-207-555-0011 now"),
      (2L, "released 2024-01-02 at 12:30:45, version 1.2.3, pi 3.14159"),
      (3L, "host 192.168.0.1 and mail a@b.co via https://x.io/p?q=1"),
      (4L, "paren-less 650.555.0199 and bare 6505550199 stays")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPiiReport(rows, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L) === ((0L, 0L, 2L, 0L)))
    assert(got(2L) === ((0L, 0L, 0L, 0L)), "dates/versions/decimals must not count as PII")
    assert(got(3L) === ((1L, 1L, 0L, 1L)))
    assert(got(4L) === ((0L, 0L, 1L, 0L)), "separated phone matches, a bare digit run does not")
    val s = rows.select(col("doc_id"), TextAnalysis.scrubbedPii(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s(1L) === "call <PHONE> or <PHONE> now")
    assert(s(2L) === "released 2024-01-02 at 12:30:45, version 1.2.3, pi 3.14159")
    assert(s(3L) === "host <IP> and mail <EMAIL> via <URL>")
    assert(s(4L) === "paren-less <PHONE> and bare 6505550199 stays")
  }

  test("scrub: planted emails/urls counted and redacted; clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at bob.smith+1@ex-ample.co.uk or https://foo.bar/baz?q=1 x"),
      (2L, "no pii here"),
      (3L, "two mails a@b.io c@d.org and http://x.y")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubReport(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((1L, 1L)), 2L -> ((0L, 0L)), 3L -> ((2L, 1L))))
    val scrubbedTexts = docs.select(col("doc_id"), TextAnalysis.scrubbed(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scrubbedTexts(1L) === "reach me at <EMAIL> or <URL> x")
    assert(scrubbedTexts(2L) === "no pii here")
    assert(scrubbedTexts(3L) === "two mails <EMAIL> <EMAIL> and <URL>")
    // a URL at end-of-line must not eat the next line's text
    import spark.implicits._
    val multiline = Seq((4L, "link https://a.b/c\nNext line.")).toDF("doc_id", "text")
    val m = multiline.select(TextAnalysis.scrubbed(col("text"))).collect()(0).getString(0)
    assert(m === "link <URL>\nNext line.", m)
  }

  test("repetition: constructed repeats measured exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam"),       // one token repeated
      (2L, "all tokens here differ"),    // no repetition
      (3L, "")                            // empty
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionReport(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "dup_token_cnt", "dup_trigram_cnt", "top_bigram_cnt")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // "spam spam spam spam": 4 tokens, 3 dup instances; trigrams
    // ["spam spam spam" x2] -> 1 dup; bigrams ["spam spam" x3] -> top 3
    assert(got(1L) === ((4L, 3L, 1L, 3L)))
    assert(got(2L) === ((4L, 0L, 0L, 1L)))
    assert(got(3L) === ((0L, 0L, 0L, 0L)))
  }

  test("stratified sampling: nested at increasing rates, default rate for unlisted strata") {
    val band = when(length(col("text")) < 300, "a").otherwise("b")
    val banded = docs.withColumn("band", band)
    def kept(rates: Seq[(String, Int)], dflt: Int): Set[Long] =
      Sampling.stratifiedSample(banded, "doc_id", col("band"), rates, dflt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val r250 = kept(Seq("a" -> 250), 0)
    val r500 = kept(Seq("a" -> 250, "b" -> 500), 0)
    val all = kept(Seq.empty, 1000)
    // unlisted stratum at default 0 contributes nothing
    assert(r250.nonEmpty && r250.subsetOf(r500))
    // nesting: raising a's rate only adds ids, never swaps them
    val a500 = kept(Seq("a" -> 500), 0)
    assert(r250.subsetOf(a500))
    assert(all.size === docs.count())
  }

  /** Collect a two-column frame as id -> Option[second col] (null-safe). */
  private def idToOptRef(
      df: org.apache.spark.sql.DataFrame, cols: (String, String)): Map[Long, Option[Long]] =
    df.select(cols._1, cols._2).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("as-of join: <= at equal ts, left nulls, tolerance voiding, multi-ref ordering") {
    import spark.implicits._
    val ref = Seq(
      (1L, 100L, 10L), // user 1: refs at ts 100, 200
      (1L, 200L, 11L),
      (2L, 500L, 20L)  // user 2: one ref at 500
    ).toDF("user_id", "ts", "ref_id")
    val probe = Seq(
      (101L, 1L, 150L), // between refs -> 10
      (102L, 1L, 200L), // equal ts -> <= semantics must match 11
      (103L, 1L, 999L), // far after -> 11
      (104L, 2L, 400L), // before user 2's only ref -> null
      (105L, 3L, 100L)  // user with no refs at all -> null
    ).toDF("event_id", "user_id", "ts")
    val got = idToOptRef(
      Events.asOfJoin(probe, ref, Seq("user_id"), "ts", Seq("ref_id")),
      ("event_id", "ref_id"))
    assert(got === Map(
      101L -> Some(10L), 102L -> Some(11L), 103L -> Some(11L),
      104L -> None, 105L -> None))
    // tolerance: match older than toleranceNs is voided, in-range kept
    val tol = idToOptRef(
      Events.asOfJoin(probe, ref, Seq("user_id"), "ts", Seq("ref_id"),
        toleranceNs = Some(100L)),
      ("event_id", "ref_id"))
    assert(tol(101L) === Some(10L)) // gap 50 <= 100
    assert(tol(102L) === Some(11L)) // gap 0
    assert(tol(103L) === None)      // gap 799 > 100 -> voided
  }

  test("as-of join == brute-force scan on random data (with and without tolerance)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val refsRaw = (0 until 300).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, 10000L + i)) // user, ts, ref_id
    // dedup per (user, ts) keeping max ref_id — the operator's documented
    // determinism precondition
    val refs = refsRaw.groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toSeq
    val probes = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(1200).toLong)) // event_id, user, ts
    def brute(tol: Option[Long]): Map[Long, Option[Long]] =
      probes.map { case (eid, u, ts) =>
        val cand = refs.filter(r => r._1 == u && r._2 <= ts && tol.forall(t => ts - r._2 <= t))
        eid -> (if (cand.isEmpty) None else Some(cand.maxBy(r => (r._2, r._3))._3))
      }.toMap
    val refDf = refs.toDF("user_id", "ts", "ref_id")
    val probeDf = probes.toDF("event_id", "user_id", "ts")
    def run(tol: Option[Long]): Map[Long, Option[Long]] =
      idToOptRef(
        Events.asOfJoin(probeDf, refDf, Seq("user_id"), "ts", Seq("ref_id"), tol),
        ("event_id", "ref_id"))
    assert(run(None) === brute(None))
    assert(run(Some(100L)) === brute(Some(100L)))
    assert(brute(None).valuesIterator.count(_.isDefined) > 100) // non-trivial corpus
    // skew-proof bucketed variant: identical result at every bucket
    // granularity (bucket == 1 maximizes cross-bucket handoffs; huge
    // bucket degenerates to the plain single-window case)
    for (bucketNs <- Seq(1L, 7L, 64L, 1000000L); tol <- Seq(None, Some(100L))) {
      val bucketed = idToOptRef(
        Events.asOfJoinBucketed(probeDf, refDf, Seq("user_id"), "ts", Seq("ref_id"), bucketNs, tol),
        ("event_id", "ref_id"))
      assert(bucketed === brute(tol), s"bucketNs=$bucketNs tol=$tol")
    }
  }

  test("as-of null semantics: null refs never match, null probes kept — both variants") {
    import spark.implicits._
    val ref = Seq(
      (Option(1L), Option(100L), 10L),
      (Option.empty[Long], Option(50L), 11L), // null key ref: must never match
      (Option(1L), Option.empty[Long], 12L)   // null ts ref: must never match
    ).toDF("user_id", "ts", "ref_id")
    val probe = Seq(
      (101L, Option(1L), Option(150L)), // matches ref 10
      (102L, Option.empty[Long], Option(60L)), // null key probe: kept, unmatched
      (103L, Option(1L), Option.empty[Long])   // null ts probe: kept, unmatched
    ).toDF("event_id", "user_id", "ts")
    val expected = Map(101L -> Some(10L), 102L -> None, 103L -> None)
    assert(idToOptRef(
      Events.asOfJoin(probe, ref, Seq("user_id"), "ts", Seq("ref_id")),
      ("event_id", "ref_id")) === expected)
    assert(idToOptRef(
      Events.asOfJoinBucketed(probe, ref, Seq("user_id"), "ts", Seq("ref_id"), bucketNs = 64L),
      ("event_id", "ref_id")) === expected)
  }

  test("interval join: open-ended sentinel interval fails loud, not OOM") {
    import spark.implicits._
    val points = Seq((1L, 1L, 500L)).toDF("pid", "user_id", "ts")
    val intervals = Seq((10L, 1L, 0L, Long.MaxValue)).toDF("iid", "user_id", "s", "e")
    val ex = intercept[Exception] {
      Events.intervalJoin(points, intervals, Seq("user_id"), "ts", "s", "e", 1000L).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("clamp open-ended sentinels")), msgs(ex).mkString(" | "))
  }

  test("interval join == naive non-equi join at every bucket size; empty intervals dropped") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val points = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong)).toDF("pid", "user_id", "ts")
    val intervals = (0 until 150).map { i =>
      val s = rnd.nextInt(1000).toLong
      // includes zero-length (s == e) and boundary-heavy intervals
      (1000L + i, rnd.nextInt(10).toLong, s, s + rnd.nextInt(120).toLong)
    }.toDF("iid", "user_id", "s", "e")
    val naive = points.as("p").join(intervals.as("i"),
        col("p.user_id") === col("i.user_id") &&
          col("ts") >= col("s") && col("ts") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.size > 100, "fixture too sparse to prove anything")
    for (bucket <- Seq(1L, 7L, 100L, 1000000L)) {
      val bucketed = Events.intervalJoin(
        points, intervals, Seq("user_id"), "ts", "s", "e", bucket)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(bucketed.length === bucketed.distinct.length, s"duplicate pairs at bucket=$bucket")
      assert(bucketed.toSet === naive, s"bucket=$bucket")
    }
  }

  test("ann recall@10 >= 0.5 vs brute force (random vectors are LSH-adversarial)") {
    val q = embs.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("ivf recall@10 >= 0.5 vs brute force; probing all cells -> recall 1") {
    val q = embs.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall@10 = $recall")
    val full = Similarity.ivfTopK(embs, q, "vec_id", "embedding", 10, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "nprobe = nlist must equal the exact result")
  }

  test("ivf index upsert == from-scratch rebuild on the union corpus (byte-identical)") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val centroids = Similarity.fixedCentroids(8, 64)
    val base = embs.where(col("vec_id") % 3 =!= 0).limit(120)
    // delta includes some ALREADY-INDEXED ids (re-ingest must be idempotent)
    val delta = embs.where(col("vec_id") % 3 === 0).limit(40)
      .unionByName(base.limit(5))
    val union = base.unionByName(delta).dropDuplicates("vec_id")

    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    val inc = graft.store.DomainStore.create(scratch("ivf-upsert/inc"), spec, conf)
    inc.write(Similarity.ivfIndexKv(base, "vec_id", "embedding", centroids), 1L)
    Similarity.ivfIndexUpsert(inc, delta, "vec_id", "embedding", centroids, newVersion = 2L)

    val full = graft.store.DomainStore.create(scratch("ivf-upsert/full"), spec, conf)
    full.write(Similarity.ivfIndexKv(union, "vec_id", "embedding", centroids), 1L)

    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(pairs(inc) === pairs(full))
    // and the search result through the upserted index equals the direct
    // pipeline over the union corpus
    val q = union.where(col("vec_id") % 20 === 0)
    val viaIndex = Similarity.ivfSearchIndex(
      inc, union, q, "vec_id", "embedding", 5, centroids, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = Similarity.ivfTopKFixed(
      union, q, "vec_id", "embedding", 5, centroids, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty)
  }

  test("PQ index upsert == rebuild; plain merge on a PQ index fails loud; changed vector fails loud") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val centroids = Similarity.fixedCentroids(8, 64)
    val books = Similarity.fixedPqCodebooks(8, 16, 8)
    val base = embs.where(col("vec_id") % 3 =!= 0).limit(100)
    val delta = embs.where(col("vec_id") % 3 === 0).limit(30)
      .unionByName(base.limit(4)) // idempotent re-ingest of unchanged vectors
    val union = base.unionByName(delta).dropDuplicates("vec_id")
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)

    val inc = graft.store.DomainStore.create(scratch("pq-upsert/inc"), spec, conf)
    inc.write(Similarity.ivfPqIndexKv(base, "vec_id", "embedding", centroids, books), 1L)
    Similarity.ivfPqIndexUpsert(inc, delta, "vec_id", "embedding", centroids, books, 2L)
    val full = graft.store.DomainStore.create(scratch("pq-upsert/full"), spec, conf)
    full.write(Similarity.ivfPqIndexKv(union, "vec_id", "embedding", centroids, books), 1L)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(pairs(inc) === pairs(full))

    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // the plain-id merge pointed at a PQ index: loud, names the right tool
    val e1 = intercept[Exception](
      Similarity.ivfIndexUpsert(inc, delta, "vec_id", "embedding", centroids, 3L))
    assert(messages(e1).exists(_.contains("ivfPqIndexUpsert")), messages(e1).mkString(" | "))
    // a re-ingested id with a CHANGED vector that stays in its cell: two
    // encodings of one id -> fail loud. Pick the donor DETERMINISTICALLY
    // from the same coarse cell (the kernel's own argmin math), so the
    // collision is structural, not fixture luck. (A changed vector that
    // MOVES cells is invisible to a per-cell merge — documented, and
    // detected globally by ivfIndexIdAudit below.)
    val norms2 = centroids.map(_.map(x => x * x).sum)
    def cellOf(v: Array[Double]): Int =
      centroids.indices.minBy { c =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * centroids(c)(i); i += 1 }
        (norms2(c) - 2.0 * s, c)
      }
    val byCell = base.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .groupBy { case (_, v) => cellOf(v) }
    val Seq((victimId, _), (_, donorVec)) =
      byCell.values.find(_.length >= 2).get.take(2).toSeq
    val changed = Seq(victimId).toDF("vec_id")
      .crossJoin(Seq(donorVec.toSeq).toDF("embedding"))
    val e2 = intercept[Exception](
      Similarity.ivfPqIndexUpsert(inc, changed, "vec_id", "embedding", centroids, books, 4L))
    assert(messages(e2).exists(_.contains("remove+add")), messages(e2).mkString(" | "))

    // the cross-cell corruption detector: a clean index audits empty
    assert(Similarity.ivfIndexIdAudit(inc, spark).count() === 0L)
  }

  test("ivf index publish: degenerate cell past the member cap fails loud, naming the fix") {
    import spark.implicits._
    // identical vectors -> every row lands in ONE cell
    val vecs = (0 until 20).map(i => (i.toLong, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val centroids = Similarity.fixedCentroids(4, 8)
    val e = intercept[Exception](
      Similarity.ivfIndexKv(vecs, "vec_id", "embedding", centroids, maxCellMembers = 10)
        .collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("re-quantize")), messages(e).mkString(" | "))
    // under the cap the same input publishes fine
    assert(Similarity.ivfIndexKv(vecs, "vec_id", "embedding", centroids, maxCellMembers = 20)
      .count() === 1L)
  }

  test("exact-trained ivf: recall holds, exhaustive probe == exact, corpus bound enforced") {
    val q = embs.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopKExact(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"exact-trained ivf recall@10 = $recall")
    val full = Similarity.ivfTopKExact(embs, q, "vec_id", "embedding", 10, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "nprobe = nlist must equal the exact result")
    // determinism: two runs produce identical rows (the property the SQL
    // replay rests on — no RNG, no float accumulation order anywhere)
    val again = Similarity.ivfTopKExact(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === ivf)
    // whole-corpus training is bounded: past the cap it throws, naming
    // the hash-sampled scale twin
    val e = intercept[IllegalArgumentException](
      Similarity.ivfTopKExact(embs, q, "vec_id", "embedding", 10, maxTrainRows = 10))
    assert(e.getMessage.contains("ivfTopK"), e.getMessage)
  }

  test("exact-trained ivf-pq: recall holds; exhaustive probe + wide rerank == exact; deterministic") {
    val q = embs.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopKExact(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"exact-trained ivf-pq recall@10 = $recall")
    val n = embs.count().toInt
    val full = Similarity.ivfPqTopKExact(embs, q, "vec_id", "embedding", 10,
      nlist = 4, nprobe = 4, rerank = n)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "nprobe = nlist + corpus-wide rerank must equal exact")
    val again = Similarity.ivfPqTopKExact(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === pq)
  }

  test("ivf-pq: recall holds on codes-only candidates; exhaustive probe + wide rerank == exact") {
    val q = embs.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf-pq recall@10 = $recall")
    // probing every cell with a rerank window covering the whole corpus
    // makes the ADC preselect lossless -> must equal brute force exactly
    val full = Similarity.ivfPqTopK(embs, q, "vec_id", "embedding", 10,
      nlist = 8, nprobe = 8, rerank = 100)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "nprobe = nlist with corpus-wide rerank must equal exact")
  }

  test("ivf scales to nlist >= 256: recall holds and nprobe = nlist is exact") {
    // With broadcast centroids the plan must not grow with nlist — this
    // runs a cell count the literal-centroid formulation could not codegen.
    val q = embs.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, q, "vec_id", "embedding", 10, nlist = 256, nprobe = 64)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf(nlist=256) recall@10 = $recall")
    val full = Similarity.ivfTopK(embs, q, "vec_id", "embedding", 10, nlist = 256, nprobe = 256)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "nprobe = nlist must equal the exact result at nlist = 256")
  }

  test("bucketed embedding near-dup: exact precision, pinned recall vs exhaustive") {
    val threshold = 0.44
    val exact = Similarity.nearDupPairs(embs, "vec_id", "embedding", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.nearDupPairsBucketed(embs, "vec_id", "embedding", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction: every candidate passed the
    // cosine check, so no pair outside the exhaustive result can appear
    assert(bucketed.subsetOf(exact))
    assert(exact.nonEmpty)
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.5, s"bucketed near-dup recall = $recall")
    // determinism: seeded hyperplanes, same result on a re-run
    val again = Similarity.nearDupPairsBucketed(embs, "vec_id", "embedding", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === bucketed)
  }

  test("lazy dedup/similarity operators pin no cache blocks") {
    // ngramJaccardPairs is exempt by design (it eagerly materializes its
    // small audit result and releases its internals before returning);
    // every LAZY operator must leave the block manager untouched.
    // Exempt BY DESIGN — operators whose returned plan reads a
    // ContextCleaner-reaped localCheckpoint (released when the caller
    // drops the frame, never a permanent pin; the reap itself is pinned
    // by the "checkpoint blocks reap" case below): prototypePruning,
    // removeSharedSpansIterated, IndexDelete.publishRemoval internally —
    // and, since the r16 optimization round, every pair family riding
    // LshBuckets.bounded (minHashPairs, simHashPairsBanded,
    // nearDupPairsBucketed, sharedSubstringPairs, phashNearDupPairs,
    // semanticDedup, prefixFilteredJaccardPairs): AQE stage reuse does
    // not compose transitively, so the shared bucket frame is an eager
    // checkpoint (LshBuckets.keyPartitioned) instead of a re-executed
    // exchange.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    run(Dedup.exact(docs, "doc_id", "text"))
    run(Dedup.simHash(docs, "doc_id", "text"))
    run(Similarity.nearDupPairs(embs, "vec_id", "embedding", 0.44))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"operators leaked persisted RDDs: ${leaked.mkString(", ")}")
  }

  test("pair-family checkpoint blocks reap once the caller drops the frame") {
    // The r16 optimization moved the band families' shared bucket frame
    // (and minHashPairs' shingle sets) onto eager localCheckpoints. The
    // no-leak contract becomes: blocks live only as long as the caller
    // holds the result frame — once dropped, ContextCleaner reaps them
    // after GC. A permanent pin (an operator holding a strong reference,
    // or a persist outside the checkpoint seam) fails this loudly.
    // Per-op tight capture windows (suites share one SparkContext — a
    // foreign suite's long-lived persist landing in a wide window would
    // read as our leak; the window here is one operator construction +
    // one action), and the capture keeps ONLY checkpointed RDDs
    // (isCheckpointed — already true at capture because the operators
    // materialize eagerly via localCheckpoint(true) before returning;
    // isLocallyCheckpointed would be the precise probe but is
    // private[spark]). Plain persists landing in a window are captured
    // too and must be gone by the same deadline: an operator that
    // persists and never releases keeps its blocks through GC (the
    // CacheManager holds them), while a foreign suite's transient
    // persist is released on its own.
    def leakWindow(action: => Unit): (Set[Int], Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      action
      val added = spark.sparkContext.getPersistentRDDs -- before.toSeq
      // ids only: a map's keySet is a view that holds its RDDs strongly
      (added.collect { case (id, rdd) if rdd.isCheckpointed => id }.toSet,
        added.keysIterator.toSet)
    }
    def frameWindow(mk: => org.apache.spark.sql.DataFrame): (Set[Int], Set[Int]) =
      leakWindow(mk.write.format("noop").mode("overwrite").save())
    // the generic membership-index ops persist internally and must
    // release what they persist: one update (both engines' inputs, the
    // probe and merge checkpoints) on a ramfs domain
    val leakAuth = "opsleak"
    graft.store.RamFileSystem.clear(leakAuth)
    val leakDocs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(20)
    val leakIndex = graft.store.DomainStore.create(s"ramfs://$leakAuth/band",
      graft.core.DomainSpec(numShards = 2, persistenceFormat = graft.core.DomainSpec.KvSorted),
      new org.apache.hadoop.conf.Configuration())
    leakIndex.write(Dedup.bandIndexKv(leakDocs.where(col("doc_id") % 2 === 0),
      "doc_id", "text"), 1L)
    val windows = Seq(
      frameWindow(Dedup.minHashPairs(docs, "doc_id", "text", 0.8)),
      frameWindow(Dedup.simHashPairsBanded(Dedup.simHash(docs, "doc_id", "text"), 3)),
      frameWindow(Dedup.components(
        docs.select(col("doc_id").as("id")),
        Dedup.minHashPairs(docs, "doc_id", "text", 0.8))),
      frameWindow(Similarity.nearDupPairsBucketed(embs, "vec_id", "embedding", 0.44)),
      leakWindow(Dedup.bandIndex("doc_id", "text").update(leakIndex,
        leakDocs.where(col("doc_id") % 2 =!= 0),
        leakDocs.where(col("doc_id") % 4 === 0), 2L)))
    assert(leakIndex.latestVersion === 2L)
    val held = windows.flatMap(_._2).toSet
    assert(windows.flatMap(_._1).nonEmpty,
      "expected the pair families to hold checkpoint blocks while frames are live")
    // frames were method-local to leakWindow: unreachable now. Reap is
    // async (weak-ref queue drained by ContextCleaner after GC) — poll
    // OUR ids with repeated GCs, bounded.
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.intersect(held)
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(500)
    }
    assert(leaked.isEmpty,
      s"checkpoint or persist blocks survived frame drop + GC: ${leaked.mkString(", ")}")
    graft.store.RamFileSystem.clear(leakAuth)
  }

  test("bounded_collect: exact cap boundary, canonical orders, merge across partitions") {
    import spark.implicits._
    def run(rows: Seq[(String, Long)], cap: Int, numericKey: Boolean) = {
      // many partitions force partial buffers + merges (the map-side
      // overflow path), not just a single-update stream
      val df = rows.toDF("k", "id").repartition(8)
      val payload = col("id").cast("string")
      val sortKey = if (numericKey) col("id") else payload
      LshBuckets.boundedMembers(df, Seq("k"), sortKey, payload, cap)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), Option(r.getSeq[String](2)).map(_.toList))))
        .toMap
    }
    // exactly AT the cap survives; one past it tombstones with the EXACT
    // total count (the x:/tombstone records publish it)
    val rows = (1L to 5L).map(("hot", _)) ++ (1L to 4L).map(("ok", _))
    val got = run(rows, cap = 4, numericKey = false)
    assert(got("hot") === ((5L, None)))
    assert(got("ok") === ((4L, Some(List("1", "2", "3", "4")))))
    // canonical order follows the SORT KEY: numeric doc ids ascend
    // numerically (the posting-list form), string payloads ascend by
    // bytes (the band-family form) — "10" < "2" as strings
    val two = Seq(("k", 2L), ("k", 10L))
    assert(run(two, 16, numericKey = true)("k")._2 === Some(List("2", "10")))
    assert(run(two, 16, numericKey = false)("k")._2 === Some(List("10", "2")))
    // equivalence with the retired sort_array(collect_list(...)) form on
    // a within-cap random fixture (the band families' byte contract)
    val rnd = new scala.util.Random(7)
    val big = (1 to 300).map(_ => (s"g${rnd.nextInt(9)}", rnd.nextInt(1000).toLong))
    val ref = big.toDF("k", "id")
      .groupBy("k")
      .agg(sort_array(collect_list(col("id").cast("string"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(run(big, 4096, numericKey = false).view.mapValues(_._2.get).toMap === ref)
    // distinct mode (the ANN posting-list semantics): duplicates collapse
    // INSIDE the capped buffer, so the cap applies to DISTINCT members —
    // 100 copies of 3 ids stay well under a cap of 3
    def runD(rows: Seq[(String, Long)], cap: Int) =
      LshBuckets.boundedMembers(
          rows.toDF("k", "id").repartition(8),
          Seq("k"), col("id"), col("id").cast("string"), cap,
          distinctMembers = true)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), Option(r.getSeq[String](2)).map(_.toList))))
        .toMap
    val dup = (1 to 100).flatMap(_ => Seq(("k", 3L), ("k", 1L), ("k", 2L)))
    assert(runD(dup, 3)("k") === ((3L, Some(List("1", "2", "3")))))
    // ...and a fourth DISTINCT member overflows (members null)
    assert(runD(dup :+ (("k", 4L)), 3)("k")._2 === None)
  }

  test("bounded_collect: sort-based fallback (spill-restore) equals the in-memory path") {
    // the ONE integration seam the direct buffer pins (BoundedCollectSpec)
    // don't cross: ObjectAggregationIterator's sort-based fallback
    // serializes every live buffer into the external sorter and restores
    // it via deserialize + merge — including the serialize FAST-PATH on
    // re-spill and the lazy-deserialize discard path on overflowed
    // reducers. Force it with fallbackThreshold = 1 (every task falls
    // back after its first group) on an ISOLATED session (newSession:
    // same context, separate SQLConf — parallel suites unaffected), over
    // a fixture mixing overflowed, at-cap, and under-cap groups, both
    // modes. The two paths must agree exactly.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    val rnd = new scala.util.Random(11)
    val rows: Seq[(String, Long)] =
      (1 to 4000).map(_ => (s"hot${rnd.nextInt(40)}", rnd.nextInt(500).toLong)) ++
        (0 until 30).flatMap(i => (0 until 1 + i % 4).map(j => (s"u$i", j.toLong))) ++
        (1L to 16L).map(("atcap", _))
    def run(s: org.apache.spark.sql.SparkSession, distinct: Boolean) = {
      import s.implicits._
      LshBuckets.boundedMembers(
          rows.toDF("k", "id").repartition(8),
          Seq("k"), col("id").cast("string"), col("id").cast("string"),
          maxBucket = 16, distinctMembers = distinct)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), Option(r.getSeq[String](2)).map(_.toList))))
        .toMap
    }
    for (distinct <- Seq(false, true)) {
      val plain = run(spark, distinct)
      val spilled = run(s2, distinct)
      assert(spilled === plain, s"distinct=$distinct")
      // fixture sanity: all three regimes are actually present
      assert(plain.exists(_._2._2.isEmpty), "no overflowed group in the fixture")
      assert(plain.exists(kv => kv._2._2.exists(_.size == 16)), "no at-cap group")
      assert(plain.exists(kv => kv._2._2.exists(_.size < 16)), "no under-cap group")
    }
  }

  test("bucket-cap entry points reject a caller-supplied reserved _bsz column") {
    import spark.implicits._
    val bands = Seq((1L, 0, 7L, 99L)).toDF("id", "band", "band_hash", "_bsz")
    val e = intercept[IllegalArgumentException](Dedup.lshCandidates(bands).collect())
    assert(e.getMessage.contains("_bsz"))
  }

  test("hot-bucket cap: oversized LSH buckets drop whole, small buckets survive") {
    import spark.implicits._
    // 60 near-identical boilerplate docs collapse into ONE bucket per band
    // — the degenerate cluster that would run 60^2/2 pairs in one task —
    // plus one honest planted pair that must survive the cap
    val boiler = (0 until 60).map(i =>
      (i.toLong, "the same boilerplate footer text repeated on every page of this corpus"))
    val pairDocs = Seq(
      (1000L, "a genuinely unique article about alpine marmot hibernation cycles in winter"),
      (1001L, "a genuinely unique article about alpine marmot hibernation cycles in winter"))
    val corpus = (boiler ++ pairDocs).toDF("doc_id", "text")
    val bands = Dedup.lshBands(
      Dedup.minHashSignatures(Dedup.wordShingles(corpus, "doc_id", "text")))
    val capped = Dedup.lshCandidates(bands, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1000L, 1001L)))
    assert(Dedup.lshCandidates(bands).count() === (60 * 59 / 2 + 1).toLong)
    // recall accounting: every band reports its one monster bucket
    val over = Dedup.oversizedLshBuckets(bands, 16).collect().map(_.getLong(2))
    assert(over.length === Dedup.numBands && over.forall(_ === 60L))
    // the published index applies the same cap: dropped buckets never
    // become KV rows, so no value cell packs more than maxBucket ids
    val idx = Dedup.bandIndexKv(corpus, "doc_id", "text", maxBucket = 16)
      .select(graft.functions.bytes_utf8(col("value")).as("ids")).collect()
    assert(idx.nonEmpty)
    assert(idx.forall(_.getString(0).split(",").length <= 16))
    // embeddings: one degenerate cell of identical vectors -> zero pairs
    // under the cap, the full clique without it
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    assert(Similarity.nearDupPairsBucketed(vecs, "vec_id", "embedding", 0.9, maxBucket = 8)
      .count() === 0L)
    assert(Similarity.nearDupPairsBucketed(vecs, "vec_id", "embedding", 0.9)
      .count() === (50 * 49 / 2).toLong)
    // simhash banding: identical sketches land the same cv in EVERY chunk
    // — the capped join must drop the monster but keep the planted pair
    val sims = Dedup.simHashPairsBanded(
        Dedup.simHash(corpus, "doc_id", "text"), 3, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sims.contains((1000L, 1001L)))
    assert(!sims.exists(p => p._1 < 60 && p._2 < 60))
    // the fail-loud variant (contract queries: the xxhash64 banding's
    // drop is not SQL-replayable, so the oracle contract demands a loud
    // error instead of a silent divergence) raises naming the cap
    val eCand = intercept[Exception](
      Dedup.lshCandidates(bands, maxBucket = 16, failOversized = true).collect())
    assert(eCand.getMessage.contains("hot-bucket cap"), eCand.getMessage)
    val eIdx = intercept[Exception](
      Dedup.bandIndexKv(corpus, "doc_id", "text", maxBucket = 16, failOversized = true)
        .collect())
    assert(eIdx.getMessage.contains("hot-bucket cap"), eIdx.getMessage)
    // and below the cap it must NOT fire: same pairs as the dropping
    // default (the contract queries ride this identity)
    val mhFail = Dedup.minHashPairs(corpus, "doc_id", "text", 0.8, failOversized = true)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhDrop = Dedup.minHashPairs(corpus, "doc_id", "text", 0.8)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhFail === mhDrop && mhFail.contains((1000L, 1001L)))
  }

  test("band index upsert == rebuild on the union corpus; cap crossings tombstone") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val base = docs.where(col("doc_id") % 4 =!= 0)
    val delta = docs.where(col("doc_id") % 4 === 0)
      .unionByName(base.limit(3)) // idempotent re-ingest of indexed docs
    val union = base.unionByName(delta).dropDuplicates("doc_id")
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)

    val inc = graft.store.DomainStore.create(scratch("band-upsert/inc"), spec, conf)
    inc.write(Dedup.bandIndexKv(base, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").upsert(inc, delta, newVersion = 2L)
    val full = graft.store.DomainStore.create(scratch("band-upsert/full"), spec, conf)
    full.write(Dedup.bandIndexKv(union, "doc_id", "text"), 1L)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(pairs(inc) === pairs(full))
    assert(pairs(inc).nonEmpty)

    // a merged bucket crossing the cap: 30 identical docs published at a
    // permissive cap, 30 more arriving -> the upsert writes the TOMBSTONE
    // a rebuild would, so upsert == rebuild holds ACROSS the cap boundary
    // (the r12 verdict's resurrect hole, closed) — and a later delta on
    // the tombstoned bucket keeps it dropped
    val sameText = "same same text for every doc here"
    val same = (0L until 30L).map(i => (i, sameText)).toDF("doc_id", "text")
    val more = (100L until 130L).map(i => (i, sameText)).toDF("doc_id", "text")
    val later = (200L until 210L).map(i => (i, sameText)).toDF("doc_id", "text")
    val capped = graft.store.DomainStore.create(scratch("band-upsert/cap"), spec, conf)
    capped.write(Dedup.bandIndexKv(same, "doc_id", "text", maxBucket = 40), 1L)
    Dedup.bandIndex("doc_id", "text", maxBucket = 40).upsert(capped, more, 2L)
    val crossed = graft.store.DomainStore.create(scratch("band-upsert/crossed"), spec, conf)
    crossed.write(
      Dedup.bandIndexKv(same.unionByName(more), "doc_id", "text", maxBucket = 40), 1L)
    assert(pairs(capped) === pairs(crossed))
    val tombstone = graft.core.IndexTombstone.Value.getBytes("UTF-8").toSeq
    assert(pairs(capped).exists(_._2 == tombstone), "cap crossing left no tombstone")
    // the tombstoned bucket stays dropped through the NEXT upsert —
    // byte-identical to the three-way union rebuild (the resurrect case)
    Dedup.bandIndex("doc_id", "text", maxBucket = 40).upsert(capped, later, 3L)
    val crossed3 = graft.store.DomainStore.create(scratch("band-upsert/crossed3"), spec, conf)
    crossed3.write(
      Dedup.bandIndexKv(same.unionByName(more).unionByName(later),
        "doc_id", "text", maxBucket = 40), 1L)
    assert(pairs(capped) === pairs(crossed3))
    // and probes of the tombstoned buckets MISS (cap semantics):
    // an incoming clone of the boilerplate yields no candidate pairs
    val incoming = Seq((5000L, sameText)).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstIndex(
      capped, incoming, same.unionByName(more).unionByName(later),
      "doc_id", "text", 0.5).count() === 0L)

    // a DELTA that alone crosses the cap (the upsert now builds its
    // delta AT the cap — a hot delta bucket arrives as a tombstone, its
    // member list never packed into one value cell) still lands
    // byte-identical to the union rebuild
    val fresh = graft.store.DomainStore.create(scratch("band-upsert/fresh"), spec, conf)
    fresh.write(Dedup.bandIndexKv(
      (900L until 905L).map(i => (i, s"unique text for doc number $i here"))
        .toDF("doc_id", "text"), "doc_id", "text", maxBucket = 40), 1L)
    val bigDelta = (1000L until 1050L).map(i => (i, sameText)).toDF("doc_id", "text")
    Dedup.bandIndex("doc_id", "text", maxBucket = 40).upsert(fresh, bigDelta, 2L)
    val freshFull = graft.store.DomainStore.create(scratch("band-upsert/fresh-full"), spec, conf)
    freshFull.write(Dedup.bandIndexKv(
      (900L until 905L).map(i => (i, s"unique text for doc number $i here"))
        .toDF("doc_id", "text").unionByName(bigDelta),
      "doc_id", "text", maxBucket = 40), 1L)
    assert(pairs(fresh) === pairs(freshFull))
    assert(pairs(fresh).exists(_._2 == tombstone), "hot delta left no tombstone")
  }

  test("fingerprint index: probe == oriented pairs, upsert/delete == rebuild, guards loud") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val rnd = new scala.util.Random(41)
    def randText(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // two planted 200-char runs: run1 in base docs 1,2 and delta doc 100;
    // run2 in base doc 3 and delta doc 104; docs 4/108 are noise
    val (run1, run2) = (randText(200), randText(200))
    val baseDocs = Seq(
      1L -> (randText(300) + run1 + randText(100)),
      2L -> (randText(50) + run1 + randText(350)),
      3L -> (randText(200) + run2 + randText(200)),
      4L -> randText(600)).toDF("doc_id", "text")
    val deltaDocs = Seq(
      100L -> (randText(120) + run1 + randText(280)),
      104L -> (run2 + randText(400)),
      108L -> randText(600)).toDF("doc_id", "text")
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted,
      indexType = Dedup.SpanIndexType)

    val idx = graft.store.DomainStore.create(scratch("fp-idx/inc"), spec, conf)
    idx.write(Dedup.fpIndexKv(baseDocs, "doc_id", "text"), 1L)
    def probe(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.sharedSubstringAgainstIndex(idx, df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the indexed probe equals the direct detector's oriented cross pairs
    val direct = Dedup.sharedSubstringPairs(
        baseDocs.unionByName(deltaDocs), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oriented = direct.collect {
      case (a, b) if a < 100 && b >= 100 => (b, a)
      case (a, b) if a >= 100 && b < 100 => (a, b)
    }
    assert(oriented === Set((100L, 1L), (100L, 2L), (104L, 3L)))
    assert(probe(deltaDocs) === oriented)

    // upsert == rebuild on the union, byte-identical
    Dedup.fpIndex("doc_id", "text").upsert(idx, deltaDocs, newVersion = 2L)
    val full = graft.store.DomainStore.create(scratch("fp-idx/full"), spec, conf)
    full.write(Dedup.fpIndexKv(baseDocs.unionByName(deltaDocs), "doc_id", "text"), 1L)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(pairs(idx) === pairs(full))
    assert(pairs(idx).size > 1) // fingerprints + the marker row

    // delete == rebuild on corpus-minus-removed, byte-identical; the
    // removed doc's pairs stop surfacing on the next probe
    val idx2 = graft.store.DomainStore.create(scratch("fp-idx/del"), spec, conf)
    idx2.write(Dedup.fpIndexKv(baseDocs, "doc_id", "text"), 1L)
    Dedup.fpIndex("doc_id", "text").delete(idx2, baseDocs.where(col("doc_id") === 1L), 2L)
    val minus = graft.store.DomainStore.create(scratch("fp-idx/minus"), spec, conf)
    minus.write(Dedup.fpIndexKv(baseDocs.where(col("doc_id") =!= 1L), "doc_id", "text"), 1L)
    assert(pairs(idx2) === pairs(minus))
    val afterDel = Dedup.sharedSubstringAgainstIndex(idx2, deltaDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterDel === Set((100L, 2L), (104L, 3L)))

    // the rows-based seam (one shared derivation for takedown +
    // certification, r17): pre-derived keyRows through
    // deleteRows must publish byte-identically to the docs-based
    // delete, and the SAME rows frame must certify the takedown clean
    val idx3 = graft.store.DomainStore.create(scratch("fp-idx/del-rows"), spec, conf)
    idx3.write(Dedup.fpIndexKv(baseDocs, "doc_id", "text"), 1L)
    val delRows = Dedup.fpIndex("doc_id", "text").keyRows(
        baseDocs.where(col("doc_id") === 1L))
      .localCheckpoint(true)
    Dedup.fpIndex("doc_id", "text").deleteRows(idx3, delRows, newVersion = 2L)
    assert(pairs(idx3) === pairs(minus))
    assert(Dedup.fpIndex("doc_id", "text").removalAuditRows(idx3, delRows).count() === 0L)

    // cap tombstones: 6 docs sharing one run published at cap 4 -> the
    // shared fingerprints tombstone (not vanish), probes miss them, an
    // upsert keeps them dropped (byte-identical to the union rebuild),
    // and the Spark-free OverlapReader reads the tombstone as a miss too
    val boiler = randText(100) + run1 + randText(50)
    val sixSame = (0L until 6L).map(i => (i, boiler)).toDF("doc_id", "text")
    val twoMore = (500L until 502L).map(i => (i, boiler)).toDF("doc_id", "text")
    val capRoot = scratch("fp-idx/cap")
    val cap = graft.store.DomainStore.create(capRoot, spec, conf)
    cap.write(Dedup.fpIndexKv(sixSame, "doc_id", "text", maxBucket = 4), 1L)
    val tombstone = graft.core.IndexTombstone.Value.getBytes("UTF-8").toSeq
    assert(pairs(cap).exists(_._2 == tombstone), "capped publish left no tombstone")
    assert(Dedup.sharedSubstringAgainstIndex(
      cap, Seq((900L, boiler)).toDF("doc_id", "text"), "doc_id", "text").count() === 0L)
    Dedup.fpIndex("doc_id", "text", maxBucket = 4).upsert(cap, twoMore, newVersion = 2L)
    val capFull = graft.store.DomainStore.create(scratch("fp-idx/cap-full"), spec, conf)
    capFull.write(
      Dedup.fpIndexKv(sixSame.unionByName(twoMore), "doc_id", "text", maxBucket = 4), 1L)
    assert(pairs(cap) === pairs(capFull))
    val ovr = new graft.store.OverlapReader(
      graft.store.KvDomainReader.open(capRoot, conf))
    try assert(ovr.overlapping(boiler).isEmpty,
      "OverlapReader must read a cap tombstone as a miss")
    finally ovr.close()
    // a DELTA that alone crosses the cap: the add side arrives as a
    // tombstone (delta builds AT the cap) and merges straight through —
    // byte-identical to the union rebuild even though cur was LIVE
    val fpBase = (700L until 702L).map(i => (i, boiler)).toDF("doc_id", "text")
    val fpHot = (800L until 806L).map(i => (i, boiler)).toDF("doc_id", "text")
    val fpFresh = graft.store.DomainStore.create(scratch("fp-idx/delta-hot"), spec, conf)
    fpFresh.write(Dedup.fpIndexKv(fpBase, "doc_id", "text", maxBucket = 4), 1L)
    Dedup.fpIndex("doc_id", "text", maxBucket = 4).upsert(fpFresh, fpHot, newVersion = 2L)
    val fpFreshFull = graft.store.DomainStore.create(scratch("fp-idx/delta-hot-full"), spec, conf)
    fpFreshFull.write(
      Dedup.fpIndexKv(fpBase.unionByName(fpHot), "doc_id", "text", maxBucket = 4), 1L)
    assert(pairs(fpFresh) === pairs(fpFreshFull))
    assert(pairs(fpFresh).exists(_._2 == tombstone), "hot fp delta left no tombstone")

    // overlapping id spaces fail loud (oriented pairs need disjointness)
    val clashing = Seq(1L -> (randText(10) + run1 + randText(40))).toDF("doc_id", "text")
    val eClash = intercept[IllegalArgumentException](probe(clashing))
    assert(eClash.getMessage.contains("disjoint"), eClash.getMessage)
    // and a probe aimed at a different index family fails loud by type
    val band = graft.store.DomainStore.create(
      scratch("fp-idx/band"),
      spec.copy(indexType = Dedup.BandIndexType), conf)
    band.write(Dedup.bandIndexKv(baseDocs, "doc_id", "text"), 1L)
    val eType = intercept[IllegalArgumentException](
      Dedup.sharedSubstringAgainstIndex(band, deltaDocs, "doc_id", "text").collect())
    assert(eType.getMessage.contains(Dedup.BandIndexType), eType.getMessage)
  }

  test("image phash index: probe == banded pairs, upsert == rebuild, cap + overlap fail loud") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet")).select(col("doc_id"))
    def hashesOf(ids: org.apache.spark.sql.DataFrame) =
      Multimodal.imageHashes(spark, Multimodal.synthImageMedia(spark, ids)).toDF()
        .select(col("media_id"), col("phash"))
    val corpusH = hashesOf(docs.where(col("doc_id") % 4 =!= 0))
    val deltaH = hashesOf(docs.where(col("doc_id") % 4 === 0))
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)

    // probe against the published index == the all-pairs banding path,
    // restricted to oriented delta->corpus pairs
    val ix = graft.store.DomainStore.create(scratch("phash-ix/base"), spec, conf)
    ix.write(Multimodal.phashIndexKv(corpusH), 1L)
    val got = Multimodal.phashDedupAgainstIndex(ix, deltaH, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val allPairs = Multimodal.phashNearDupPairs(
        spark, corpusH.unionByName(deltaH), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = allPairs.collect {
      case (a, b, h) if a % 4 == 0 && b % 4 != 0 => (a, b, h)
      case (a, b, h) if b % 4 == 0 && a % 4 != 0 => (b, a, h)
    }
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no near-dup pairs — test is vacuous")

    // upsert == rebuild on the union corpus (incl. idempotent re-ingest)
    val inc = graft.store.DomainStore.create(scratch("phash-ix/inc"), spec, conf)
    inc.write(Multimodal.phashIndexKv(corpusH), 1L)
    Multimodal.phashIndex().upsert(
      inc, deltaH.unionByName(corpusH.limit(3)), newVersion = 2L)
    val full = graft.store.DomainStore.create(scratch("phash-ix/full"), spec, conf)
    full.write(Multimodal.phashIndexKv(corpusH.unionByName(deltaH)), 1L)
    def kvPairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(kvPairs(inc) === kvPairs(full))
    assert(kvPairs(inc).nonEmpty)

    // a merged bucket crossing the cap writes the tombstone a rebuild
    // would (upsert == rebuild across the cap boundary), a later delta
    // keeps it dropped, and probes of it miss
    val sameA = (0L until 30L).map(i => (i, 7L)).toDF("media_id", "phash")
    val sameB = (100L until 130L).map(i => (i, 7L)).toDF("media_id", "phash")
    val sameC = (200L until 210L).map(i => (i, 7L)).toDF("media_id", "phash")
    val capped = graft.store.DomainStore.create(scratch("phash-ix/cap"), spec, conf)
    capped.write(Multimodal.phashIndexKv(sameA, maxBucket = 40), 1L)
    Multimodal.phashIndex(maxBucket = 40).upsert(capped, sameB, 2L)
    val crossed = graft.store.DomainStore.create(scratch("phash-ix/crossed"), spec, conf)
    crossed.write(Multimodal.phashIndexKv(sameA.unionByName(sameB), maxBucket = 40), 1L)
    assert(kvPairs(capped) === kvPairs(crossed))
    val tombstone = graft.core.IndexTombstone.Value.getBytes("UTF-8").toSeq
    assert(kvPairs(capped).exists(_._2 == tombstone), "cap crossing left no tombstone")
    Multimodal.phashIndex(maxBucket = 40).upsert(capped, sameC, 3L)
    val crossed3 = graft.store.DomainStore.create(scratch("phash-ix/crossed3"), spec, conf)
    crossed3.write(
      Multimodal.phashIndexKv(sameA.unionByName(sameB).unionByName(sameC), maxBucket = 40), 1L)
    assert(kvPairs(capped) === kvPairs(crossed3))
    assert(Multimodal.phashDedupAgainstIndex(
      capped, Seq((5000L, 7L)).toDF("media_id", "phash"), maxHamming = 3).count() === 0L)
    // a DELTA that alone crosses the cap (add-side tombstone pass-through)
    val phBase = (600L until 605L).map(i => (i, 9L)).toDF("media_id", "phash")
    val phHot = (700L until 745L).map(i => (i, 9L)).toDF("media_id", "phash")
    val phFresh = graft.store.DomainStore.create(scratch("phash-ix/delta-hot"), spec, conf)
    phFresh.write(Multimodal.phashIndexKv(phBase, maxBucket = 40), 1L)
    Multimodal.phashIndex(maxBucket = 40).upsert(phFresh, phHot, 2L)
    val phFreshFull = graft.store.DomainStore.create(scratch("phash-ix/delta-hot-full"), spec, conf)
    phFreshFull.write(Multimodal.phashIndexKv(phBase.unionByName(phHot), maxBucket = 40), 1L)
    assert(kvPairs(phFresh) === kvPairs(phFreshFull))
    assert(kvPairs(phFresh).exists(_._2 == tombstone), "hot phash delta left no tombstone")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

    // an id re-ingested with a CHANGED phash fails loud (old and new
    // entries meet in an unchanged band's bucket — guaranteed for
    // hamming <= 3 by the pigeonhole), never silently feeds the verify
    // a stale hash
    val orig = (0L until 5L).map(i => (i, 100L + i)).toDF("media_id", "phash")
    val chg = graft.store.DomainStore.create(scratch("phash-ix/chg"), spec, conf)
    chg.write(Multimodal.phashIndexKv(orig), 1L)
    val e4 = intercept[Exception](
      Multimodal.phashIndex().upsert(
        chg, Seq((2L, 103L)).toDF("media_id", "phash"), 2L)) // was 102, hamming 1
    assert(messages(e4).exists(_.contains("CHANGED")), messages(e4).mkString(" | "))

    // overlapping id spaces rejected even when the hashes differ
    val e2 = intercept[IllegalArgumentException](
      Multimodal.phashDedupAgainstIndex(
        ix, corpusH.limit(5), maxHamming = 3))
    assert(e2.getMessage.contains("disjoint"))

    // maxHamming past the pigeonhole guarantee fails loud
    val e3 = intercept[IllegalArgumentException](
      Multimodal.phashDedupAgainstIndex(ix, deltaH, maxHamming = 4))
    assert(e3.getMessage.contains("pigeonhole"))
  }

  test("semantic cell index: probe == in-cell cosine pairs, upsert == rebuild, guards loud") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val base = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .select(col("vec_id"), col("embedding"))
    val corpus = base.where(col("vec_id") % 4 =!= 0)
    // plant exact semantic dups: clones of corpus vectors under fresh
    // delta-side ids (cosine 1 to their sources), plus the natural delta
    val clones = corpus.orderBy(col("vec_id")).limit(5)
      .withColumn("vec_id", lit(1000000L) + monotonically_increasing_id() * 4)
    val delta = base.where(col("vec_id") % 4 === 0).unionByName(clones)
    val emb = corpus.unionByName(delta)
    val planes = 4
    val t = 0.44
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)

    // probe against the published index == semanticDedup's candidate rule
    // (co-cell + cosine >= t), oriented delta -> corpus
    val ix = graft.store.DomainStore.create(scratch("sem-ix/base"), spec, conf)
    ix.write(Similarity.semIndexKv(corpus, "vec_id", "embedding", planes), 1L)
    val got = Similarity.semDedupAgainstIndex(
        ix, delta, corpus, "vec_id", "embedding", t, planes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected: same cells over the UNION, oriented pairs, exact cosine
    val p = Similarity.prepared(emb, "vec_id", "embedding")
    val dim = p.select(size(col("vec"))).head().getInt(0)
    val cells = Similarity.lshBuckets(p, 1, planes, dim)
      .select(col("id"), col("vec"), col("norm"), col("bucket"))
    val expected = cells.as("x").join(cells.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.id") % 4 === 0 && col("y.id") % 4 =!= 0 &&
          Similarity.dot(col("x.vec"), col("y.vec")) /
            (col("x.norm") * col("y.norm")) >= t)
      .select(col("x.id"), col("y.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no semantic near-dups — test is vacuous")

    // upsert == rebuild on the union (idempotent re-ingest included)
    val inc = graft.store.DomainStore.create(scratch("sem-ix/inc"), spec, conf)
    inc.write(Similarity.semIndexKv(corpus, "vec_id", "embedding", planes), 1L)
    Similarity.semIndex("vec_id", "embedding", planes).upsert(
      inc, delta.unionByName(corpus.limit(3)), 2L)
    val full = graft.store.DomainStore.create(scratch("sem-ix/full"), spec, conf)
    full.write(Similarity.semIndexKv(emb, "vec_id", "embedding", planes), 1L)
    def kvPairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(kvPairs(inc) === kvPairs(full))
    assert(kvPairs(inc).nonEmpty)

    // overlapping id spaces fail loud
    val e = intercept[IllegalArgumentException](
      Similarity.semDedupAgainstIndex(
        ix, corpus.limit(5), corpus, "vec_id", "embedding", t, planes))
    assert(e.getMessage.contains("disjoint"))

    // a cap-crossing merge writes the tombstone a rebuild would
    // (upsert == rebuild across the cap boundary), a later delta keeps
    // it dropped: identical vectors land ONE cell — 3 published under
    // cap 4, 3 more crossing it, 2 more probing the tombstone
    val cellA = (1 to 3).map(i => (300L + i, Array.fill(8)(0.7f), 0L))
      .toDF("vec_id", "embedding", "label")
    val cellB = (1 to 3).map(i => (400L + i, Array.fill(8)(0.7f), 0L))
      .toDF("vec_id", "embedding", "label")
    val cellC = (1 to 2).map(i => (500L + i, Array.fill(8)(0.7f), 0L))
      .toDF("vec_id", "embedding", "label")
    val capped = graft.store.DomainStore.create(scratch("sem-ix/cap"), spec, conf)
    capped.write(Similarity.semIndexKv(cellA, "vec_id", "embedding", planes, maxBucket = 4), 1L)
    Similarity.semIndex("vec_id", "embedding", planes, maxBucket = 4).upsert(
      capped, cellB, 2L)
    val crossed = graft.store.DomainStore.create(scratch("sem-ix/crossed"), spec, conf)
    crossed.write(Similarity.semIndexKv(
      cellA.unionByName(cellB), "vec_id", "embedding", planes, maxBucket = 4), 1L)
    assert(kvPairs(capped) === kvPairs(crossed))
    val tombstone = graft.core.IndexTombstone.Value.getBytes("UTF-8").toSeq
    assert(kvPairs(capped).exists(_._2 == tombstone), "cap crossing left no tombstone")
    Similarity.semIndex("vec_id", "embedding", planes, maxBucket = 4).upsert(
      capped, cellC, 3L)
    val crossed3 = graft.store.DomainStore.create(scratch("sem-ix/crossed3"), spec, conf)
    crossed3.write(Similarity.semIndexKv(
      cellA.unionByName(cellB).unionByName(cellC),
      "vec_id", "embedding", planes, maxBucket = 4), 1L)
    assert(kvPairs(capped) === kvPairs(crossed3))
    // a DELTA that alone crosses the cap (add-side tombstone pass-through)
    val cellHot = (1 to 5).map(i => (600L + i, Array.fill(8)(0.7f), 0L))
      .toDF("vec_id", "embedding", "label")
    val semFresh = graft.store.DomainStore.create(scratch("sem-ix/delta-hot"), spec, conf)
    semFresh.write(Similarity.semIndexKv(cellA, "vec_id", "embedding", planes, maxBucket = 4), 1L)
    Similarity.semIndex("vec_id", "embedding", planes, maxBucket = 4).upsert(semFresh, cellHot, 2L)
    val semFreshFull = graft.store.DomainStore.create(scratch("sem-ix/delta-hot-full"), spec, conf)
    semFreshFull.write(Similarity.semIndexKv(
      cellA.unionByName(cellHot), "vec_id", "embedding", planes, maxBucket = 4), 1L)
    assert(kvPairs(semFresh) === kvPairs(semFreshFull))
    assert(kvPairs(semFresh).exists(_._2 == tombstone), "hot sem delta left no tombstone")

    // PUBLISH-time drop => probe MISS: a cell past the cap never becomes
    // a key, so a delta probing it finds no candidates — exactly what the
    // pipeline_semdedup_index oracle's `cok` HAVING replays (validated
    // against DuckDB on an oversized synthetic cell, BASELINE r11).
    // Deterministic mini-corpus: identical vectors land ONE cell with 6
    // members (> cap 4 => dropped whole); the same probe against an
    // uncapped publish finds every pair, proving the emptiness comes
    // from the drop, not a broken probe.
    val oneCellCorpus = (1 to 6).map(i => (100L + i, Array.fill(8)(0.7f), 0L))
      .toDF("vec_id", "embedding", "label")
    val oneCellDelta = Seq((10L, Array.fill(8)(0.7f), 0L))
      .toDF("vec_id", "embedding", "label")
    val dropAll = graft.store.DomainStore.create(scratch("sem-ix/drop"), spec, conf)
    dropAll.write(
      Similarity.semIndexKv(oneCellCorpus, "vec_id", "embedding", planes, maxBucket = 4), 1L)
    assert(Similarity.semDedupAgainstIndex(
      dropAll, oneCellDelta, oneCellCorpus, "vec_id", "embedding", t, planes).count() === 0L)
    val keepAll = graft.store.DomainStore.create(scratch("sem-ix/keep"), spec, conf)
    keepAll.write(
      Similarity.semIndexKv(oneCellCorpus, "vec_id", "embedding", planes), 1L)
    assert(Similarity.semDedupAgainstIndex(
      keepAll, oneCellDelta, oneCellCorpus, "vec_id", "embedding", t, planes).count() === 6L)
  }

  test("index type markers: cross-type upserts and probes fail loud, never pollute") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 2, persistenceFormat = graft.core.DomainSpec.KvSorted)
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val hashes = Seq((1L, 42L)).toDF("media_id", "phash")
    val emb = Seq((1L, Array.fill(8)(0.5))).toDF("vec_id", "embedding")

    // a TEXT band index: image/semantic calls aimed at it must fail loud
    // naming both types (byte-compatible keys, different value grammar —
    // the silent-pollution class the marker exists for)
    val band = graft.store.DomainStore.create(scratch("marker/band"), spec, conf)
    band.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    def loud(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(loud(Multimodal.phashIndex().upsert(band, hashes, 2L))
      .contains("'lsh-band' index, not 'phash-band'"))
    assert(loud(Multimodal.phashDedupAgainstIndex(band, hashes))
      .contains("'lsh-band' index, not 'phash-band'"))
    assert(loud(Similarity.semIndex("vec_id", "embedding", 3).upsert(band, emb, 2L))
      .contains("'lsh-band' index, not 'sem-cell'"))

    // ...and a text call aimed at an IMAGE index fails the same way
    val img = graft.store.DomainStore.create(scratch("marker/img"), spec, conf)
    img.write(Multimodal.phashIndexKv(hashes), 1L)
    assert(loud(Dedup.dedupAgainstIndex(img, docs, docs.limit(0), "doc_id", "text", 0.8))
      .contains("'phash-band' index, not 'lsh-band'"))

    // an unmarked plain kv domain is rejected as not-an-index
    val plain = graft.store.DomainStore.create(scratch("marker/plain"), spec, conf)
    plain.write(Seq(("k", "v")).toDF("k", "v").select(
      graft.functions.utf8_bytes(col("k")).as("key"),
      graft.functions.utf8_bytes(col("v")).as("value")), 1L)
    assert(loud(Multimodal.phashDedupAgainstIndex(plain, hashes))
      .contains("no m:index-type marker"))
  }

  test("tombstone-era gate: upserts refuse a legacy (pre-tombstone) publish, all four families") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 2, persistenceFormat = graft.core.DomainSpec.KvSorted)
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val hashes = Seq((1L, 42L)).toDF("media_id", "phash")
    val emb = Seq((1L, Array.fill(8)(0.5))).toDF("vec_id", "embedding")
    // a legacy publish = today's build minus the m:cap-semantics marker
    // (exactly what a pre-r14 build wrote): its build may have dropped
    // hot buckets with NO tombstone, so growth must fail loud naming the
    // rebuild — not silently resurrect them with delta-only members
    def legacy(name: String, built: org.apache.spark.sql.DataFrame) = {
      val st = graft.store.DomainStore.create(scratch(s"cap-gate/$name"), spec, conf)
      st.write(built.where(col("key") =!= lit(IndexMarker.CapKey)), 1L)
      st
    }
    def refused(f: => Any): String = {
      val m = intercept[IllegalArgumentException](f).getMessage
      assert(m.contains("published before cap tombstones"), m)
      m
    }
    assert(refused(Dedup.bandIndex("doc_id", "text").upsert(
      legacy("band", Dedup.bandIndexKv(docs, "doc_id", "text")),
      docs, 2L)).contains("bandIndexKv"))
    assert(refused(Dedup.fpIndex("doc_id", "text", minLen = 8).upsert(
      legacy("fp", Dedup.fpIndexKv(docs, "doc_id", "text", minLen = 8)),
      docs, 2L)).contains("fpIndexKv"))
    assert(refused(Multimodal.phashIndex().upsert(
      legacy("ph", Multimodal.phashIndexKv(hashes)), hashes, 2L))
      .contains("phashIndexKv"))
    assert(refused(Similarity.semIndex("vec_id", "embedding", 3).upsert(
      legacy("sem", Similarity.semIndexKv(emb, "vec_id", "embedding", 3)),
      emb, 2L)).contains("semIndexKv"))

    // the spec field is the zero-job authority (the indexType precedent):
    // a legacy publish whose build verifiably dropped nothing can declare
    // capSemantics instead of rebuilding — the gate passes on metadata
    val declared = graft.store.DomainStore.create(
      scratch("cap-gate/declared"),
      spec.copy(capSemantics = graft.core.DomainSpec.CapTombstoneV1), conf)
    declared.write(
      Dedup.bandIndexKv(docs, "doc_id", "text")
        .where(col("key") =!= lit(IndexMarker.CapKey)), 1L)
    Dedup.bandIndex("doc_id", "text").upsert(declared, docs, 2L)
    assert(declared.latestVersion === 2L)
    // fresh publishes carry the in-data marker, so growth needs no spec
    // declaration — and upsert keeps carrying the marker forward (the
    // gate stays green on the grown version too)
    val fresh = graft.store.DomainStore.create(scratch("cap-gate/fresh"), spec, conf)
    fresh.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").upsert(fresh, docs, 2L)
    Dedup.bandIndex("doc_id", "text").upsert(fresh, docs, 3L)
    assert(fresh.latestVersion === 3L)
    // an unknown capSemantics value is a spec error, never a silent pass
    intercept[IllegalArgumentException](
      graft.core.DomainSpec(numShards = 2, capSemantics = "tombstone-v99").validate())
    // a FUTURE (or corrupt) cap-semantics marker value fails the v1 gate
    // loud — the version string exists to prevent silently merging under
    // a different drop contract
    val futureEra = graft.store.DomainStore.create(scratch("cap-gate/future"), spec, conf)
    futureEra.write(
      Dedup.bandIndexKv(docs, "doc_id", "text")
        .where(col("key") =!= lit(IndexMarker.CapKey))
        .unionByName(spark.range(1).select(
          lit(IndexMarker.CapKey).as("key"),
          lit("tombstone-v99".getBytes("UTF-8")).as("value"))), 1L)
    val eFuture = intercept[IllegalArgumentException](
      Dedup.bandIndex("doc_id", "text").upsert(futureEra, docs, 2L))
    assert(eFuture.getMessage.contains("declares cap semantics 'tombstone-v99'"),
      eFuture.getMessage)
  }

  test("index takedown: delete == byte-identical rebuild on corpus-minus-removed, all families") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def kvPairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet

    // text band index: the removed doc's ids leave every band bucket;
    // the result must be byte-identical to building on the survivors
    // (emptied buckets ABSENT, shrunken cells re-canonicalized)
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(40)
    val removedDocs = docs.where(col("doc_id") % 5 === 0)
    val keptDocs = docs.where(col("doc_id") % 5 =!= 0)
    val band = graft.store.DomainStore.create(scratch("ix-del/band"), spec, conf)
    band.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").delete(band, removedDocs, 2L)
    val bandRebuilt = graft.store.DomainStore.create(scratch("ix-del/band-rb"), spec, conf)
    bandRebuilt.write(Dedup.bandIndexKv(keptDocs, "doc_id", "text"), 1L)
    assert(kvPairs(band) === kvPairs(bandRebuilt))
    assert(kvPairs(band).nonEmpty)
    // ...and the probe FORGETS the removed doc: its own text re-ingested
    // under a fresh id no longer pairs with it
    val ghost = removedDocs.limit(1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val hits = Dedup.dedupAgainstIndex(band, ghost, keptDocs, "doc_id", "text", 0.9)
      .collect()
    val preHits = {
      val pre = graft.store.DomainStore.create(scratch("ix-del/band-pre"), spec, conf)
      pre.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
      Dedup.dedupAgainstIndex(pre, ghost, docs, "doc_id", "text", 0.9).collect()
    }
    assert(preHits.nonEmpty, "fixture vacuous: the doomed doc never matched itself")
    assert(hits.isEmpty, "probe still finds the removed doc")

    // LINKED takedown twin: same logical result as the rebuild, with the
    // untouched shards carried by _links.json instead of raw copies —
    // the O(affected + delta) publish bound the 64Ki-shard regime needs
    // (measured at scale in BASELINE.md "Round 15: mass takedown at the
    // linked-publish 64Ki-shard regime", recipe DebugTakedownShardScale
    // at commit 6547131). One removed doc on
    // a 64-shard domain guarantees untouched shards exist.
    val oneId = removedDocs.orderBy(col("doc_id")).limit(1).collect()(0).getLong(0)
    val spec64 = spec.copy(numShards = 64)
    val bandL = graft.store.DomainStore.create(scratch("ix-del/band-lnk"), spec64, conf)
    bandL.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").delete(
      bandL, docs.where(col("doc_id") === oneId), 2L, linked = true)
    val bandLRebuilt =
      graft.store.DomainStore.create(scratch("ix-del/band-lnk-rb"), spec64, conf)
    bandLRebuilt.write(
      Dedup.bandIndexKv(docs.where(col("doc_id") =!= oneId), "doc_id", "text"), 1L)
    assert(kvPairs(bandL) === kvPairs(bandLRebuilt))
    val lfs = new org.apache.hadoop.fs.Path(bandL.root.toString).getFileSystem(conf)
    assert(graft.store.VersionedStore.readLinks(
      lfs, bandL.versions.versionPath(2L)).nonEmpty,
      "linked takedown must record untouched shards in _links.json")
    // ...and the linked UPSERT twin (the daily-growth publish mode, now a
    // passthrough on every family upsert + streaming grower): grow the
    // linked head — still byte-identical to the union rebuild, untouched
    // shards again carried by the manifest (one-hop onto the v2 links)
    val extraDoc =
      Seq((888888L, "an entirely fresh growth document for the linked upsert twin"))
        .toDF("doc_id", "text")
    Dedup.bandIndex("doc_id", "text").upsert(bandL, extraDoc, 3L, linked = true)
    val bandLGrown =
      graft.store.DomainStore.create(scratch("ix-del/band-lnk-grown"), spec64, conf)
    bandLGrown.write(Dedup.bandIndexKv(
      docs.where(col("doc_id") =!= oneId).unionByName(extraDoc), "doc_id", "text"), 1L)
    assert(kvPairs(bandL) === kvPairs(bandLGrown))
    assert(graft.store.VersionedStore.readLinks(
      lfs, bandL.versions.versionPath(3L)).nonEmpty,
      "linked upsert must record untouched shards in _links.json")

    // semantic cell index
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(60)
    val remEmb = emb.where(col("vec_id") % 4 === 0)
    val keptEmb = emb.where(col("vec_id") % 4 =!= 0)
    val sem = graft.store.DomainStore.create(scratch("ix-del/sem"), spec, conf)
    sem.write(Similarity.semIndexKv(emb, "vec_id", "embedding", 3), 1L)
    Similarity.semIndex("vec_id", "embedding", 3).delete(sem, remEmb, 2L)
    val semRebuilt = graft.store.DomainStore.create(scratch("ix-del/sem-rb"), spec, conf)
    semRebuilt.write(Similarity.semIndexKv(keptEmb, "vec_id", "embedding", 3), 1L)
    assert(kvPairs(sem) === kvPairs(semRebuilt))

    // image phash band index (id:phash entries — removal matches the id part)
    val hashes = (0L until 30L).map(i => (i, i * 37L + (i % 3))).toDF("media_id", "phash")
    val remH = hashes.where(col("media_id") % 3 === 0)
    val keptH = hashes.where(col("media_id") % 3 =!= 0)
    val ph = graft.store.DomainStore.create(scratch("ix-del/ph"), spec, conf)
    ph.write(Multimodal.phashIndexKv(hashes), 1L)
    Multimodal.phashIndex().delete(ph, remH, 2L)
    val phRebuilt = graft.store.DomainStore.create(scratch("ix-del/ph-rb"), spec, conf)
    phRebuilt.write(Multimodal.phashIndexKv(keptH), 1L)
    assert(kvPairs(ph) === kvPairs(phRebuilt))

    // ANN posting lists: plain AND PQ-coded through the SAME delete
    val cents = Similarity.fixedCentroids(4, 64)
    val vecs = emb.limit(40)
    val remV = vecs.where(col("vec_id") % 4 === 0)
    val keptV = vecs.where(col("vec_id") % 4 =!= 0)
    val ivf = graft.store.DomainStore.create(scratch("ix-del/ivf"), spec, conf)
    ivf.write(Similarity.ivfIndexKv(vecs, "vec_id", "embedding", cents), 1L)
    Similarity.ivfIndexDelete(ivf, remV, "vec_id", "embedding", cents, 2L)
    val ivfRebuilt = graft.store.DomainStore.create(scratch("ix-del/ivf-rb"), spec, conf)
    ivfRebuilt.write(Similarity.ivfIndexKv(keptV, "vec_id", "embedding", cents), 1L)
    assert(kvPairs(ivf) === kvPairs(ivfRebuilt))
    val books = Similarity.fixedPqCodebooks(4, 4, 16)
    val pq = graft.store.DomainStore.create(scratch("ix-del/pq"), spec, conf)
    pq.write(Similarity.ivfPqIndexKv(vecs, "vec_id", "embedding", cents, books), 1L)
    Similarity.ivfIndexDelete(pq, remV, "vec_id", "embedding", cents, 2L)
    val pqRebuilt = graft.store.DomainStore.create(scratch("ix-del/pq-rb"), spec, conf)
    pqRebuilt.write(Similarity.ivfPqIndexKv(keptV, "vec_id", "embedding", cents, books), 1L)
    assert(kvPairs(pq) === kvPairs(pqRebuilt))

    // wrong-type guard holds for deletes too
    val e = intercept[IllegalArgumentException](
      Similarity.semIndex("vec_id", "embedding", 3).delete(band, remEmb, 9L))
    assert(e.getMessage.contains("'lsh-band' index, not 'sem-cell'"))
    // ...and for the marker-free ANN family via the SPEC declaration:
    // an ivf takedown aimed at a sem-declared domain fails loud
    val semDeclared = graft.store.DomainStore.create(
      scratch("ix-del/sem-declared"),
      spec.copy(indexType = Similarity.SemIndexType), conf)
    semDeclared.write(Similarity.semIndexKv(keptEmb, "vec_id", "embedding", 3), 1L)
    val e2 = intercept[IllegalArgumentException](
      Similarity.ivfIndexDelete(semDeclared, remV, "vec_id", "embedding", cents, 2L))
    assert(e2.getMessage.contains("declares index type 'sem-cell'"), e2.getMessage)
    // a PQ-declared domain refuses the PLAIN ivf upsert before any
    // grammar read, and vice versa
    val pqDeclared = graft.store.DomainStore.create(
      scratch("ix-del/pq-declared"),
      spec.copy(indexType = Similarity.IvfPqIndexType), conf)
    pqDeclared.write(Similarity.ivfPqIndexKv(keptV, "vec_id", "embedding", cents, books), 1L)
    val e3 = intercept[IllegalArgumentException](
      Similarity.ivfIndexUpsert(pqDeclared, remV, "vec_id", "embedding", cents, 2L))
    assert(e3.getMessage.contains("declares index type 'ivf-pq-postings'"), e3.getMessage)
    // an UNDECLARED wrong domain whose cells HIT with a foreign value
    // grammar fails loud inside the removal engine (never silently
    // keeps everything): same cell keys, garbage values
    val bogus = Similarity.ivfIndexKv(remV, "vec_id", "embedding", cents)
      .select(col("key"), graft.functions.utf8_bytes(lit("foo:x,bar")).as("value"))
    val wrong = graft.store.DomainStore.create(scratch("ix-del/wrong-grammar"), spec, conf)
    wrong.write(bogus, 1L, dedupKeys = true)
    def messages(th: Throwable): Seq[String] =
      if (th == null) Nil else Option(th.getMessage).toSeq ++ messages(th.getCause)
    val e4 = intercept[Exception](
      Similarity.ivfIndexDelete(wrong, remV, "vec_id", "embedding", cents, 2L))
    assert(messages(e4).exists(_.contains("no integral id part")), messages(e4).mkString(" | "))
    // deleting never-indexed content publishes a no-op version
    val before = kvPairs(band)
    Dedup.bandIndex("doc_id", "text").delete(
      band, Seq((777777L, "totally novel unseen takedown text")).toDF("doc_id", "text"), 3L)
    assert(kvPairs(band) === before)
    assert(band.latestVersion === 3L)
  }

  test("index id audit: drift detected both ways, all families; clean empty; tombstone-aware") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def kinds(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.groupBy(col("id"), col("kind")).count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    // text band family: clean corpus reports EMPTY; a dropped-from-record
    // doc reads stale; a never-indexed doc reads unindexed
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(30)
    val band = graft.store.DomainStore.create(scratch("ix-audit/band"), spec, conf)
    band.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    assert(Dedup.bandIndex("doc_id", "text").idAudit(band, docs).isEmpty)
    val gone = docs.orderBy(col("doc_id")).limit(1)
      .collect()(0).getLong(0) // takedown target of record
    val record = docs.where(col("doc_id") =!= gone)
      .unionByName(Seq((990001L, "a genuinely novel never indexed document text body"))
        .toDF("doc_id", "text"))
    val k1 = kinds(Dedup.bandIndex("doc_id", "text").idAudit(band, record))
    assert(k1.keys.map(_._1).toSet === Set(gone.toString, "990001"))
    assert(k1.keySet.forall { case (id, kind) =>
      if (id == gone.toString) kind == "stale" else kind == "unindexed" })

    // composed: a takedown handed DRIFTED content misses buckets (audit
    // says stale), the corrected delete with the content AS INDEXED
    // empties them (audit clean, store == rebuild-on-survivors)
    val drifted = Seq((gone, "completely different drifted takedown text payload"))
      .toDF("doc_id", "text")
    Dedup.bandIndex("doc_id", "text").delete(band, drifted, 2L)
    val survivors = docs.where(col("doc_id") =!= gone)
    val afterDrifted = kinds(Dedup.bandIndex("doc_id", "text").idAudit(band, survivors))
    assert(afterDrifted.nonEmpty && afterDrifted.keys.forall(_ == (gone.toString, "stale")),
      s"drifted takedown should leave only stale rows for $gone: $afterDrifted")
    Dedup.bandIndex("doc_id", "text").delete(band, docs.where(col("doc_id") === gone), 3L)
    assert(Dedup.bandIndex("doc_id", "text").idAudit(band, survivors).isEmpty)
    val rebuilt = graft.store.DomainStore.create(scratch("ix-audit/band-rb"), spec, conf)
    rebuilt.write(Dedup.bandIndexKv(survivors, "doc_id", "text"), 1L)
    def kvPairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(kvPairs(band) === kvPairs(rebuilt))

    // fp family: same contract on the anchor kernel (shared boilerplate
    // run so fingerprints actually exist)
    val run = "this exact shared boilerplate run is long enough to anchor " +
      "and repeats verbatim across documents in the fixture corpus body"
    val fpDocs = (1L to 8L).map(i => (i, s"doc $i prefix $run suffix $i"))
      .toDF("doc_id", "text")
    val fpIdx = graft.store.DomainStore.create(scratch("ix-audit/fp"), spec, conf)
    fpIdx.write(Dedup.fpIndexKv(fpDocs, "doc_id", "text", minLen = 32, window = 4,
      modulus = 4), 1L)
    val fpFam = Dedup.fpIndex("doc_id", "text", minLen = 32, window = 4, modulus = 4)
    assert(fpFam.idAudit(fpIdx, fpDocs).isEmpty)
    val fpRecord = fpDocs.where(col("doc_id") =!= 3L)
    val k2 = kinds(fpFam.idAudit(fpIdx, fpRecord))
    assert(k2.nonEmpty && k2.keys.forall(_ == ("3", "stale")), k2.toString)

    // phash family: compared at FULL id:phash entry granularity — a
    // payload drift in a SHARED bucket (low-band bits flipped, upper
    // bands identical) must read stale + unindexed at the same key,
    // never clean
    val hashes = (0L until 20L).map(i => (i, i * 37L + (i % 3))).toDF("media_id", "phash")
    val ph = graft.store.DomainStore.create(scratch("ix-audit/ph"), spec, conf)
    ph.write(Multimodal.phashIndexKv(hashes), 1L)
    assert(Multimodal.phashIndex().idAudit(ph, hashes).isEmpty)
    val reHashed = hashes.withColumn("phash",
      when(col("media_id") === 5L, col("phash").bitwiseXOR(lit(1L)))
        .otherwise(col("phash")))
    val k3 = kinds(Multimodal.phashIndex().idAudit(ph, reHashed))
    assert(k3.keys.map(_._1).toSet === Set("5"), k3.toString)
    assert(k3.contains(("5", "stale")) && k3.contains(("5", "unindexed")), k3.toString)
    // bands 1..3 share buckets (only bit 0 flipped): stale and unindexed
    // counts match band-for-band — 4 each (old entry out, new entry in)
    assert(k3(("5", "stale")) === 4L && k3(("5", "unindexed")) === 4L, k3.toString)

    // semantic cell family
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(40)
    val sem = graft.store.DomainStore.create(scratch("ix-audit/sem"), spec, conf)
    sem.write(Similarity.semIndexKv(emb, "vec_id", "embedding", 3), 1L)
    assert(Similarity.semIndex("vec_id", "embedding", 3).idAudit(sem, emb).isEmpty)
    val semGone = emb.orderBy(col("vec_id")).limit(1).collect()(0).getLong(0)
    val k4 = kinds(Similarity.semIndex("vec_id", "embedding", 3).idAudit(
      sem, emb.where(col("vec_id") =!= semGone)))
    assert(k4.nonEmpty && k4.keys.forall(_ == (semGone.toString, "stale")), k4.toString)

    // ANN families, at ID level (PQ codes are payload — membership is
    // the takedown contract): the duplicate-id audit is structurally
    // blind to a takedown-missed REMOVED id (no duplicate left to pair
    // with); the content audit reports it stale
    val cents = Similarity.fixedCentroids(4, 64)
    val vecs = emb.limit(32)
    val ivf = graft.store.DomainStore.create(
      scratch("ix-audit/ivf"), spec.copy(indexType = Similarity.IvfIndexType), conf)
    ivf.write(Similarity.ivfIndexKv(vecs, "vec_id", "embedding", cents), 1L)
    assert(Similarity.ivfIndexContentAudit(ivf, vecs, "vec_id", "embedding", cents).isEmpty)
    val ivfGone = vecs.orderBy(col("vec_id")).limit(1).collect()(0).getLong(0)
    val ivfRecord = vecs.where(col("vec_id") =!= ivfGone)
    val k5 = kinds(Similarity.ivfIndexContentAudit(
      ivf, ivfRecord, "vec_id", "embedding", cents))
    assert(k5.nonEmpty && k5.keys.forall(_ == (ivfGone.toString, "stale")), k5.toString)
    assert(Similarity.ivfIndexIdAudit(ivf, spark).isEmpty,
      "the duplicate-id audit must be blind to this hole — if it ever " +
        "sees it, the content audit is redundant")
    // PQ twin: same audit, same quantizer, codes ignored; an extra
    // never-indexed vector reads unindexed
    val books = Similarity.fixedPqCodebooks(4, 4, 16)
    val pq = graft.store.DomainStore.create(
      scratch("ix-audit/pq"), spec.copy(indexType = Similarity.IvfPqIndexType), conf)
    pq.write(Similarity.ivfPqIndexKv(ivfRecord, "vec_id", "embedding", cents, books), 1L)
    assert(Similarity.ivfIndexContentAudit(pq, ivfRecord, "vec_id", "embedding", cents).isEmpty)
    val k6 = kinds(Similarity.ivfIndexContentAudit(
      pq, vecs, "vec_id", "embedding", cents))
    assert(k6.nonEmpty && k6.keys.forall(_ == (ivfGone.toString, "unindexed")), k6.toString)

    // tombstone-aware: a cap-tombstoned bucket has unknown membership by
    // design — the audit reports NOTHING for it, in either direction
    val hotDocs = (1L to 6L).map(i => (i, "identical boilerplate cluster text body " +
      "shared verbatim by every document here")).toDF("doc_id", "text")
    val hot = graft.store.DomainStore.create(scratch("ix-audit/hot"), spec, conf)
    hot.write(Dedup.bandIndexKv(hotDocs, "doc_id", "text", maxBucket = 2), 1L)
    // fixture sanity: the cap actually tombstoned the buckets
    assert(hot.read(spark).where(
      graft.functions.bytes_utf8(col("value")) === lit(graft.core.IndexTombstone.Value))
      .count() > 0)
    assert(Dedup.bandIndex("doc_id", "text").idAudit(hot, hotDocs).isEmpty)

    // wrong-type guard holds for audits too
    val e = intercept[IllegalArgumentException](
      Similarity.semIndex("vec_id", "embedding", 3).idAudit(band, emb))
    assert(e.getMessage.contains("not 'sem-cell'"), e.getMessage)
  }

  test("idAudit sampleMod: in-sample drift flagged both directions; " +
      "out-of-sample invisible (sampled-clean does not prove completeness)") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(30)
    val mod = 2L
    // the sample predicate is the audit's own definition — derive the
    // in/out split with the same expression so the test can't drift
    def parity(ids: Seq[Long]): Map[Long, Long] =
      ids.toDF("id").select(col("id"),
          pmod(xxhash64(col("id").cast("string")), lit(mod)).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val samp = parity(docs.select("doc_id").as[Long].collect().toIndexedSeq)
    val inS = samp.collectFirst { case (id, h) if h == 0L => id }.get
    val outS = samp.collectFirst { case (id, h) if h != 0L => id }.get
    val novelIn = parity(990001L to 990016L)
      .collectFirst { case (id, h) if h == 0L => id }.get
    val st = graft.store.DomainStore.create(scratch("ix-audit/sampled"), spec, conf)
    st.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    // record drifts: two indexed docs leave (one in-sample, one out),
    // one never-indexed in-sample doc arrives
    val record = docs
      .where(col("doc_id") =!= inS && col("doc_id") =!= outS)
      .unionByName(Seq((novelIn, "a genuinely novel never indexed document text body"))
        .toDF("doc_id", "text"))
    def audited(sampleMod: Long): Map[String, Set[String]] =
      Dedup.bandIndex("doc_id", "text").idAudit(st, record, sampleMod = sampleMod)
        .select(col("id"), col("kind")).distinct().collect()
        .groupBy(_.getString(1)).view.mapValues(_.map(_.getString(0)).toSet).toMap
    // full audit (sampleMod = 1, the default) sees all three
    val full = audited(1L)
    assert(full("stale") === Set(inS.toString, outS.toString), full.toString)
    assert(full("unindexed") === Set(novelIn.toString), full.toString)
    // the sampled sweep flags the in-sample drift BOTH directions and is
    // structurally blind to the out-of-sample stale id — the documented
    // contract: sampled-clean does not prove takedown completeness
    val sampled = audited(mod)
    assert(sampled("stale") === Set(inS.toString),
      s"out-of-sample stale id $outS must be invisible to the sample: $sampled")
    assert(sampled("unindexed") === Set(novelIn.toString), sampled.toString)
    // wrapper passthrough on a second family (phash, full-entry grammar):
    // a sampled run over a clean record is clean
    val hashes = (0L until 20L).map(i => (i, i * 37L)).toDF("media_id", "phash")
    val ph = graft.store.DomainStore.create(scratch("ix-audit/sampled-ph"), spec, conf)
    ph.write(Multimodal.phashIndexKv(hashes), 1L)
    assert(Multimodal.phashIndex().idAudit(ph, hashes, sampleMod = 7L).isEmpty)
    // ANN wrapper passthrough (ivfIndexContentAudit rides the same
    // engine at ID level): a sampled run over a clean record is clean
    val embS = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(16)
    val centsS = Similarity.fixedCentroids(4, 64)
    val ivfS = graft.store.DomainStore.create(
      scratch("ix-audit/sampled-ivf"),
      spec.copy(indexType = Similarity.IvfIndexType), conf)
    ivfS.write(Similarity.ivfIndexKv(embS, "vec_id", "embedding", centsS), 1L)
    assert(Similarity.ivfIndexContentAudit(
      ivfS, embS, "vec_id", "embedding", centsS, sampleMod = 5L).isEmpty)
    // nonsense sampleMod fails loud
    val e = intercept[IllegalArgumentException](
      Dedup.bandIndex("doc_id", "text").idAudit(st, record, sampleMod = 0L))
    assert(e.getMessage.contains("sampleMod"), e.getMessage)
  }

  test("removalAudit: post-takedown certification clean; missed entries present; " +
      "tombstoned loud; content-addressed caveat; wrong family refused") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(30)
    val st = graft.store.DomainStore.create(scratch("rm-audit/band"), spec, conf)
    st.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val removed = docs.where(col("doc_id") === ids(0) || col("doc_id") === ids(1))
    // BEFORE the takedown every targeted entry reports present — and ONLY
    // the targeted ids report (shared buckets never leak other members)
    val pre = Dedup.bandIndex("doc_id", "text").removalAudit(st, removed)
    val preRows = pre.select(col("id"), col("kind")).distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(preRows === Set((ids(0).toString, "present"), (ids(1).toString, "present")),
      preRows.toString)
    // entry == id for the plain-id band grammar
    assert(pre.where(col("entry") =!= col("id")).isEmpty)
    // after the real takedown the SAME audit certifies clean...
    Dedup.bandIndex("doc_id", "text").delete(st, removed, 2L)
    assert(Dedup.bandIndex("doc_id", "text").removalAudit(st, removed).isEmpty)
    // ...and a never-removed id still reports present (the empty result
    // above is a live certification, not a dead probe)
    assert(Dedup.bandIndex("doc_id", "text").removalAudit(
        st, docs.where(col("doc_id") === ids(2)))
      .where(col("kind") === "present").count() > 0)
    // content-addressed caveat, pinned: a DRIFTED takedown certifies
    // clean against its own (drifted) content while the content AS
    // INDEXED surfaces exactly what it missed — certify with the content
    // of record, use idAudit when content is untrusted
    val drifted = Seq((ids(2), "completely different drifted takedown text payload"))
      .toDF("doc_id", "text")
    Dedup.bandIndex("doc_id", "text").delete(st, drifted, 3L)
    assert(Dedup.bandIndex("doc_id", "text").removalAudit(st, drifted).isEmpty)
    assert(Dedup.bandIndex("doc_id", "text").removalAudit(
        st, docs.where(col("doc_id") === ids(2)))
      .where(col("kind") === "present").count() > 0,
      "the content-as-indexed audit must surface what the drifted takedown missed")
    // a removal mapping to a cap-tombstoned bucket is UNCERTIFIABLE and
    // says so — never silently clean
    val hotDocs = (1L to 6L).map(i => (i, "identical boilerplate cluster text body " +
      "shared verbatim by every document here")).toDF("doc_id", "text")
    val hot = graft.store.DomainStore.create(scratch("rm-audit/hot"), spec, conf)
    hot.write(Dedup.bandIndexKv(hotDocs, "doc_id", "text", maxBucket = 2), 1L)
    val tomb = Dedup.bandIndex("doc_id", "text").removalAudit(
      hot, hotDocs.where(col("doc_id") === 1L))
    assert(tomb.where(col("kind") === "tombstoned").count() > 0)
    assert(tomb.where(col("kind") === "present").isEmpty)
    assert(tomb.where(col("entry") =!= lit(graft.core.IndexTombstone.Value)).isEmpty)
    // ANN family: the id-part join certifies membership over `id:codes`
    // entries (payload irrelevant), pre-takedown present, post clean
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(24)
    val cents = Similarity.fixedCentroids(4, 64)
    val books = Similarity.fixedPqCodebooks(4, 4, 16)
    val pq = graft.store.DomainStore.create(
      scratch("rm-audit/pq"), spec.copy(indexType = Similarity.IvfPqIndexType), conf)
    pq.write(Similarity.ivfPqIndexKv(emb, "vec_id", "embedding", cents, books), 1L)
    val vGone = emb.orderBy(col("vec_id")).limit(1).collect()(0).getLong(0)
    val vRemoved = emb.where(col("vec_id") === vGone)
    val pqPre = Similarity.ivfIndexRemovalAudit(pq, vRemoved, "vec_id", "embedding", cents)
    assert(pqPre.where(col("kind") === "present").count() > 0)
    assert(pqPre.select(col("id")).distinct().collect().map(_.getString(0)).toSet
      === Set(vGone.toString))
    Similarity.ivfIndexDelete(pq, vRemoved, "vec_id", "embedding", cents, 2L)
    assert(Similarity.ivfIndexRemovalAudit(
      pq, vRemoved, "vec_id", "embedding", cents).isEmpty)
    // semantic cell family on the same rows: pre-takedown present (only
    // the targeted id), post clean
    val semFam = Similarity.semIndex("vec_id", "embedding", 3)
    val sem = graft.store.DomainStore.create(scratch("rm-audit/sem"), spec, conf)
    sem.write(Similarity.semIndexKv(emb, "vec_id", "embedding", 3), 1L)
    val semPre = semFam.removalAudit(sem, vRemoved)
    assert(semPre.where(col("kind") === "present").count() > 0)
    assert(semPre.select(col("id")).distinct().collect().map(_.getString(0)).toSet
      === Set(vGone.toString))
    semFam.delete(sem, vRemoved, 2L)
    assert(semFam.removalAudit(sem, vRemoved).isEmpty)
    // wrong-family wiring refused before any probe
    val e = intercept[IllegalArgumentException](
      Dedup.fpIndex("doc_id", "text").removalAudit(st, docs))
    assert(e.getMessage.contains("not 'fp-anchor'"), e.getMessage)
  }

  test("bandIndexUpdate: one version == rebuild on corpus+added-removed; " +
      "wrapper lockstep; cap semantics; clash loud") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def kvPairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(30)
    val added = Seq(
      (990001L, "a genuinely novel added document text body for the update"),
      (990002L, "another added document with different novel content body"))
      .toDF("doc_id", "text")
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val removed = docs.where(col("doc_id") === ids(0) || col("doc_id") === ids(1))
    val survivors = docs.where(col("doc_id") =!= ids(0) && col("doc_id") =!= ids(1))

    // the flagship claim: ONE update version == the rebuild on
    // (corpus ∪ added \ removed), byte for byte — incl. emptied-bucket
    // deletion (the removed ids' unshared buckets)
    val st = graft.store.DomainStore.create(scratch("upd-band"), spec, conf)
    st.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").update(st, added, removed, 2L, linked = true)
    assert(st.latestVersion === 2L)
    val rebuilt = graft.store.DomainStore.create(scratch("upd-band-rb"), spec, conf)
    rebuilt.write(
      Dedup.bandIndexKv(survivors.unionByName(added), "doc_id", "text"), 1L)
    assert(kvPairs(st) === kvPairs(rebuilt))
    assert(Dedup.bandIndex("doc_id", "text").removalAudit(st, removed).isEmpty)

    // wrapper lockstep: update(adds, none) == upsert, update(none,
    // removed) == delete — the three merges can never drift apart
    val a1 = graft.store.DomainStore.create(scratch("upd-a1"), spec, conf)
    a1.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").update(a1, added, added.limit(0), 2L)
    val a2 = graft.store.DomainStore.create(scratch("upd-a2"), spec, conf)
    a2.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").upsert(a2, added, 2L)
    assert(kvPairs(a1) === kvPairs(a2))
    val d1 = graft.store.DomainStore.create(scratch("upd-d1"), spec, conf)
    d1.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").update(d1, added.limit(0), removed, 2L)
    val d2 = graft.store.DomainStore.create(scratch("upd-d2"), spec, conf)
    d2.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    Dedup.bandIndex("doc_id", "text").delete(d2, removed, 2L)
    assert(kvPairs(d1) === kvPairs(d2))

    // cap semantics both directions: a build-tombstoned bucket CARRIES
    // even when the removals would shrink it under cap (membership
    // unknown — rebuild to recount)...
    def hotText = "identical boilerplate cluster text body shared verbatim by every document here"
    val hotDocs = (1L to 6L).map(i => (i, hotText)).toDF("doc_id", "text")
    val hot = graft.store.DomainStore.create(scratch("upd-hot"), spec, conf)
    hot.write(Dedup.bandIndexKv(hotDocs, "doc_id", "text", maxBucket = 2), 1L)
    val hotBefore = kvPairs(hot)
    Dedup.bandIndex("doc_id", "text", maxBucket = 2).update(hot, hotDocs.limit(0),
      hotDocs.where(col("doc_id") <= 4L), 2L)
    assert(kvPairs(hot) === hotBefore, "tombstoned buckets must carry through the update")
    // ...and a live bucket pushed past the cap by the adds tombstones,
    // exactly as the rebuild would
    val l1 = graft.store.DomainStore.create(scratch("upd-live1"), spec, conf)
    l1.write(Dedup.bandIndexKv(
      hotDocs.where(col("doc_id") <= 3L), "doc_id", "text", maxBucket = 4), 1L)
    Dedup.bandIndex("doc_id", "text", maxBucket = 4).update(l1, hotDocs.where(col("doc_id") >= 4L),
      hotDocs.limit(0), 2L)
    val l2 = graft.store.DomainStore.create(scratch("upd-live2"), spec, conf)
    l2.write(Dedup.bandIndexKv(hotDocs, "doc_id", "text", maxBucket = 4), 1L)
    assert(kvPairs(l1) === kvPairs(l2))

    // an id on both sides has no defined final state: loud, pre-publish
    val e = intercept[IllegalArgumentException](
      Dedup.bandIndex("doc_id", "text").update(st, docs.limit(1), docs.limit(1), 9L))
    assert(e.getMessage.contains("BOTH"), e.getMessage)
    assert(st.latestVersion === 2L, "the clash must refuse before publishing")
    // INTERSECT matches NULLs null-safely: a null-id clash must print the
    // diagnostic too, never NPE on the unbox
    val nullId = Seq((Option.empty[Long], "null id text body"))
      .toDF("doc_id", "text")
    val eN = intercept[IllegalArgumentException](
      Dedup.bandIndex("doc_id", "text").update(st, nullId, nullId, 9L))
    assert(eN.getMessage.contains("BOTH"), eN.getMessage)
  }

  test("index updates fp/phash/sem: one version == rebuild; phash payload conflict loud") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def kvPairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // the band test's lockstep pins, per family: update(adds, ∅) ==
    // upsert and update(∅, removed) == delete, byte for byte, and each
    // really changed the published index
    def lockstep(name: String, fam: IndexFamily, built: org.apache.spark.sql.DataFrame,
        adds: org.apache.spark.sql.DataFrame, rm: org.apache.spark.sql.DataFrame): Unit = {
      def published(tag: String) = {
        val st = graft.store.DomainStore.create(scratch(s"upd-fam/$name-$tag"), spec, conf)
        st.write(built, 1L)
        st
      }
      val base = kvPairs(published("base"))
      val (u1, u2) = (published("u1"), published("u2"))
      fam.update(u1, adds, adds.limit(0), 2L)
      fam.upsert(u2, adds, 2L)
      assert(kvPairs(u1) === kvPairs(u2), s"$name: update(adds, none) != upsert")
      assert(kvPairs(u1) !== base, s"$name: the adds changed nothing — vacuous")
      val (d1, d2) = (published("d1"), published("d2"))
      fam.update(d1, rm.limit(0), rm, 2L)
      fam.delete(d2, rm, 2L)
      assert(kvPairs(d1) === kvPairs(d2), s"$name: update(none, removed) != delete")
      assert(kvPairs(d1) !== base, s"$name: the removals changed nothing — vacuous")
    }

    // fp family (shared boilerplate run so fingerprints exist)
    val run = "this exact shared boilerplate run is long enough to anchor " +
      "and repeats verbatim across documents in the fixture corpus body"
    val fpDocs = (1L to 8L).map(i => (i, s"doc $i prefix $run suffix $i"))
      .toDF("doc_id", "text")
    val fpAdds = Seq(
      (101L, s"added doc prefix $run trailing a"),
      (102L, s"second added document $run trailing b")).toDF("doc_id", "text")
    val fpRm = fpDocs.where(col("doc_id") <= 2L)
    val fp = graft.store.DomainStore.create(scratch("upd-fam/fp"), spec, conf)
    fp.write(Dedup.fpIndexKv(fpDocs, "doc_id", "text",
      minLen = 32, window = 4, modulus = 4), 1L)
    Dedup.fpIndex("doc_id", "text", minLen = 32, window = 4, modulus = 4)
      .update(fp, fpAdds, fpRm, 2L, linked = true)
    val fpRb = graft.store.DomainStore.create(scratch("upd-fam/fp-rb"), spec, conf)
    fpRb.write(Dedup.fpIndexKv(
      fpDocs.where(col("doc_id") > 2L).unionByName(fpAdds), "doc_id", "text",
      minLen = 32, window = 4, modulus = 4), 1L)
    assert(kvPairs(fp) === kvPairs(fpRb) && kvPairs(fp).nonEmpty)
    lockstep("fp", Dedup.fpIndex("doc_id", "text", minLen = 32, window = 4, modulus = 4),
      Dedup.fpIndexKv(fpDocs, "doc_id", "text", minLen = 32, window = 4, modulus = 4),
      fpAdds, fpRm)

    // phash family: rebuild equality plus the LIVE payload-uniqueness
    // guard (the engine check that is vacuous for plain-id grammars)
    val hashes = (0L until 20L).map(i => (i, i * 37L)).toDF("media_id", "phash")
    val phAdds = Seq((201L, 999L), (202L, 1234L)).toDF("media_id", "phash")
    val phRm = hashes.where(col("media_id") < 5L)
    val ph = graft.store.DomainStore.create(scratch("upd-fam/ph"), spec, conf)
    ph.write(Multimodal.phashIndexKv(hashes), 1L)
    Multimodal.phashIndex().update(ph, phAdds, phRm, 2L)
    val phRb = graft.store.DomainStore.create(scratch("upd-fam/ph-rb"), spec, conf)
    phRb.write(Multimodal.phashIndexKv(
      hashes.where(col("media_id") >= 5L).unionByName(phAdds)), 1L)
    assert(kvPairs(ph) === kvPairs(phRb) && kvPairs(ph).nonEmpty)
    lockstep("ph", Multimodal.phashIndex(), Multimodal.phashIndexKv(hashes), phAdds, phRm)
    // id 7 is still indexed with phash 259; re-adding it with 260 meets
    // the old entry in every unchanged band's bucket → loud, never a
    // silent stale-payload winner
    val eP = intercept[Exception](
      Multimodal.phashIndex().update(ph,
        Seq((7L, 260L)).toDF("media_id", "phash"),
        phAdds.limit(0), 3L))
    assert(messages(eP).exists(_.contains("TWO different payloads")),
      messages(eP).mkString(" | "))
    assert(ph.latestVersion === 2L, "a refused conflict must publish nothing")

    // sem family (same vectors re-added under fresh ids; bottom two
    // vec_ids removed)
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(24)
    val vids = emb.select("vec_id").as[Long].collect().sorted
    val semAdds = emb.where(col("vec_id") === vids(0) || col("vec_id") === vids(1))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val semRm = emb.where(col("vec_id") === vids(0) || col("vec_id") === vids(1))
    val sem = graft.store.DomainStore.create(scratch("upd-fam/sem"), spec, conf)
    sem.write(Similarity.semIndexKv(emb, "vec_id", "embedding", 4), 1L)
    Similarity.semIndex("vec_id", "embedding", 4).update(sem, semAdds, semRm, 2L)
    val semRb = graft.store.DomainStore.create(scratch("upd-fam/sem-rb"), spec, conf)
    semRb.write(Similarity.semIndexKv(
      emb.where(col("vec_id") =!= vids(0) && col("vec_id") =!= vids(1))
        .unionByName(semAdds), "vec_id", "embedding", 4), 1L)
    assert(kvPairs(sem) === kvPairs(semRb) && kvPairs(sem).nonEmpty)
    lockstep("sem", Similarity.semIndex("vec_id", "embedding", 4),
      Similarity.semIndexKv(emb, "vec_id", "embedding", 4), semAdds, semRm)
  }

  test("index type via domain-spec: zero Spark jobs to verify; spec authority overrides") {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // spec declares the type → the check reads metadata only. Pin it:
    // ZERO jobs run inside IndexMarker.require on a spec-typed domain
    // (the pre-spec marker fallback costs a Spark point lookup per
    // publish — the exact bench regression this field removed).
    val spec = graft.core.DomainSpec(
      numShards = 2, persistenceFormat = graft.core.DomainSpec.KvSorted,
      indexType = Dedup.BandIndexType)
    val band = graft.store.DomainStore.create(scratch("spec-ix/band"), spec, conf)
    band.write(Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.LongAdder
    val sentinelSeen = new java.util.concurrent.atomic.LongAdder
    val group = s"spec-ix-pin-${System.nanoTime()}"
    val sentinelGroup = s"$group-sentinel"
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        j.properties.getProperty("spark.jobGroup.id") match {
          case `group` => jobs.increment()
          case `sentinelGroup` => sentinelSeen.increment()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "spec index-type pin")
      IndexMarker.require(band, spark, Dedup.BandIndexType, "specPin", "bandIndexKv")
      // a SENTINEL job in a sibling group proves the async listener bus
      // has drained past our window — zero fixed sleep, no 5 s deadline
      // burned on the (correct) passing case
      spark.sparkContext.setJobGroup(sentinelGroup, "listener drain sentinel")
      spark.range(1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sentinelSeen.sum() == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.sum() > 0, "listener bus never delivered the sentinel")
      assert(jobs.sum() === 0, "spec-typed verification ran a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the spec is the AUTHORITY: a wrong-type call fails loud from
    // metadata alone, even on a domain with NO marker record at all
    val wrongSpec = graft.core.DomainSpec(
      numShards = 2, persistenceFormat = graft.core.DomainSpec.KvSorted,
      indexType = Similarity.SemIndexType)
    val mislabeled = graft.store.DomainStore.create(
      scratch("spec-ix/mislabeled"), wrongSpec, conf)
    mislabeled.write(Seq(("k", "v")).toDF("k", "v").select(
      graft.functions.utf8_bytes(col("k")).as("key"),
      graft.functions.utf8_bytes(col("v")).as("value")), 1L)
    val e = intercept[IllegalArgumentException](
      Dedup.dedupAgainstIndex(mislabeled, docs, docs.limit(0), "doc_id", "text", 0.8))
    assert(e.getMessage.contains("'sem-cell' index, not 'lsh-band'"))
    // and the spec round-trips through JSON with the field (plus
    // pre-field JSON normalizing to "none")
    assert(graft.core.DomainSpec.fromJson(spec.toJson) === spec)
    assert(graft.core.DomainSpec.fromJson("""{"numShards": 2}""").indexTypeOption.isEmpty)
  }

  test("dedupAgainstIndex rejects overlapping id spaces even when the texts differ") {
    import spark.implicits._
    val corpus = Seq(
      (42L, "completely different corpus text about volcanic rock formations today"),
      (8L, "an unrelated corpus article describing the migration of arctic terns")
    ).toDF("doc_id", "text")
    val store = graft.store.DomainStore.create(
      scratch("overlap-ix"), graft.core.DomainSpec(2),
      new org.apache.hadoop.conf.Configuration())
    store.write(Dedup.bandIndexKv(corpus, "doc_id", "text"), 1L)
    // incoming 7 near-dups corpus 42 (bands collide), and incoming ALSO
    // carries id 42 with a totally different text — the silent shingle
    // merge case the guard exists for (an id_a == id_b check would miss
    // it: the two 42s never co-band)
    val incoming = Seq(
      (7L, "completely different corpus text about volcanic rock formations today"),
      (42L, "a fresh incoming document about medieval falconry training methods")
    ).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.dedupAgainstIndex(store, incoming, corpus, "doc_id", "text", 0.5).collect())
    assert(e.getMessage.contains("disjoint"))
  }

  test("audit twins enforce their bound: oversized input throws, naming the scale twin") {
    import spark.implicits._
    val five = (0 until 5).map(i => (i.toLong, s"document number $i some words")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(five, "doc_id", "text", 0.5, maxRows = 4))
    assert(e1.getMessage.contains("minHashPairs"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.simHashPairs(Dedup.simHash(five, "doc_id", "text"), 3, maxRows = 4))
    assert(e2.getMessage.contains("simHashPairsBanded"))
    val vecs = (0 until 5).map(i => (i.toLong, Array.fill(4)(i + 1.0f))).toDF("vec_id", "embedding")
    val e3 = intercept[IllegalArgumentException](
      Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.9, maxRows = 4))
    assert(e3.getMessage.contains("nearDupPairsBucketed"))
    val e4 = intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(vecs, vecs.limit(1), "vec_id", "embedding", 2, maxCorpusRows = 4))
    assert(e4.getMessage.contains("annTopK"))
    // at the cap exactly, the audit path runs (the bound is > max, not >=)
    assert(Dedup.ngramJaccardPairs(five, "doc_id", "text", 0.0, maxRows = 5).count() >= 0)
  }

  test("cosine: self-similarity is 1.0") {
    val p = Similarity.prepared(embs.limit(10), "vec_id", "embedding")
    val selfs = p.select(Similarity.dot(col("vec"), col("vec")) / (col("norm") * col("norm")))
      .collect().map(_.getDouble(0))
    selfs.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("multimodal: feature extraction is independent of partitioning/batching") {
    import spark.implicits._
    val media = Multimodal.pack(docs, "doc_id", "text").as[MediaRecord]
    val a = Multimodal.extractFeatures(spark, media)
      .collect().map(f => f.media_id -> f).toMap
    val b = Multimodal.extractFeatures(spark, media.repartition(7))
      .collect().map(f => f.media_id -> f).toMap
    assert(a === b)
    assert(a.nonEmpty)
    // byte_sum really is the payload byte sum
    val one = docs.orderBy("doc_id").limit(1).collect()(0)
    val expected = one.getString(1).getBytes("UTF-8").map(_.toLong & 0xff).sum
    assert(a(one.getLong(0)).byte_sum === expected)
  }

  test("multimodal REAL codecs: PNG round-trips exactly, JPEG decodes, resize picks exact pixels") {
    import spark.implicits._
    // PNG: encode -> decode returns the formula's pixels bit-for-bit
    (Seq(0L, 1L, 7L, 123L, 499L)).foreach { seed =>
      val png = Multimodal.synthPng(seed)
      assert(png.take(8).toSeq === Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte), "payload is not a PNG")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth === Multimodal.synthWidth(seed))
      assert(img.getHeight === Multimodal.synthHeight(seed))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        assert(img.getRaster.getSample(x, y, 0) === Multimodal.pixelValue(seed, x, y))
    }
    // distributed: decode features and the 1/2 resize agree with the
    // closed-form expectation (the same math the SQL oracle replays)
    val ids = spark.range(0, 40).toDF("media_id")
    val media = Multimodal.synthImageMedia(spark, ids)
    val feats = Multimodal.decodeImages(spark, media)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.size === 40)
    feats.foreach { case (id, f) =>
      val (w, h) = (Multimodal.synthWidth(id), Multimodal.synthHeight(id))
      assert((f.width, f.height) === (w, h))
      val want = (for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.pixelValue(id, x, y).toLong).sum
      assert(f.byte_sum === want, s"seed $id")
    }
    val resized = Multimodal.decodeImages(
      spark, Multimodal.resizeImages(spark, media, 2))
      .collect().map(f => f.media_id -> f).toMap
    resized.foreach { case (id, f) =>
      val (w, h) = (Multimodal.synthWidth(id), Multimodal.synthHeight(id))
      val (ow, oh) = ((w + 1) / 2, (h + 1) / 2)
      assert((f.width, f.height) === (ow, oh))
      val want = (for (y <- 0 until oh; x <- 0 until ow)
        yield Multimodal.pixelValue(id, 2 * x, 2 * y).toLong).sum
      assert(f.byte_sum === want, s"seed $id")
    }
    // JPEG: lossy, so only container sniffing + dimensions are contractual
    val gray = new java.awt.image.BufferedImage(
      12, 9, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(gray, "jpg", bos), "no JPEG writer")
    val jpegRec = MediaRecord(7L, bos.toByteArray, "image/jpeg", bos.size().toLong)
    val jf = Multimodal.decodeImages(
      spark, spark.createDataset(Seq(jpegRec))).collect()
    assert(jf.length === 1 && jf(0).width === 12 && jf(0).height === 9)
    // a non-image payload fails loud, naming the media id
    val junk = MediaRecord(99L, Array[Byte](1, 2, 3), "fake/raw", 3L)
    val e = intercept[Exception] {
      Multimodal.decodeImages(spark, spark.createDataset(Seq(junk))).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("99"), msgs(e))
  }

  test("image aHash: bit-exact vs closed form, sizes below the grid, brightness invariance") {
    import spark.implicits._
    def expectedHash(seed: Long): Long = {
      val (w, h) = (Multimodal.synthWidth(seed), Multimodal.synthHeight(seed))
      val samples = (0 until 64).map { j =>
        Multimodal.pixelValue(seed, (j & 7) * w / 8, (j >> 3) * h / 8)
      }
      val sum = samples.map(_.toLong).sum
      samples.zipWithIndex.foldLeft(0L) { case (acc, (p, j)) =>
        if (p * 64L > sum) acc | (1L << j) else acc
      }
    }
    val ids = spark.range(0, 80).toDF("media_id") // covers w=1 and h=1 images
    val hashes = Multimodal.imageHashes(spark, Multimodal.synthImageMedia(spark, ids))
      .collect().map(mh => mh.media_id -> mh).toMap
    assert(hashes.size === 80)
    hashes.foreach { case (id, mh) =>
      assert(mh.phash === expectedHash(id), s"seed $id")
      assert((mh.width, mh.height) ===
        ((Multimodal.synthWidth(id), Multimodal.synthHeight(id))))
    }
    assert(hashes.values.exists(_.phash < 0), "bit 63 never exercised")
    // the dedup property: a GLOBAL brightness shift that never wraps any
    // sampled pixel leaves the hash unchanged (above-the-mean is
    // shift-invariant), while real content changes move it
    val base = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16)
      base.getRaster.setSample(x, y, 0, 40 + ((x * 5 + y * 11) % 120))
    val shifted = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16)
      shifted.getRaster.setSample(x, y, 0, 40 + ((x * 5 + y * 11) % 120) + 30)
    def rec(id: Long, img: java.awt.image.BufferedImage): MediaRecord = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRecord(id, bos.toByteArray, "image/png", bos.size().toLong)
    }
    val pair = Multimodal.imageHashes(
      spark, spark.createDataset(Seq(rec(1L, base), rec(2L, shifted))))
      .collect().map(mh => mh.media_id -> mh.phash).toMap
    assert(pair(1L) === pair(2L), "brightness shift must not move the hash")
  }

  test("phash near-dup banding == brute-force popcount pairs (pigeonhole exactness)") {
    import spark.implicits._
    // random hashes with planted near-dups: flip 0..4 bits of shared bases
    val rnd = new scala.util.Random(43)
    val bases = Seq.fill(12)(rnd.nextLong())
    val hashes = (0 until 150).map { i =>
      val base = bases(i % bases.size)
      var h = base
      (0 until (i % 5)).foreach(_ => h ^= 1L << rnd.nextInt(64))
      (i.toLong, h)
    }
    def brute(t: Int) = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= t
    } yield (ia, ib, java.lang.Long.bitCount(ha ^ hb))).toSet
    val df = hashes.toDF("media_id", "phash")
    for (t <- Seq(0, 1, 3)) {
      val got = Multimodal.phashNearDupPairs(spark, df, maxHamming = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === brute(t), s"maxHamming=$t")
      assert(got.nonEmpty, s"degenerate fixture at t=$t")
    }
    // past the pigeonhole guarantee: loud, never silent recall loss
    val e = intercept[IllegalArgumentException](
      Multimodal.phashNearDupPairs(spark, df, maxHamming = 4))
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
  }

  test("multimodal REAL audio codec: WAV round-trips exactly, decimation picks exact samples") {
    import spark.implicits._
    // encode -> JDK AudioSystem decode returns the formula's samples
    // bit-for-bit at the formula's rate (the same math the SQL oracle
    // replays)
    Seq(0L, 1L, 7L, 123L, 499L).foreach { seed =>
      val wav = Multimodal.synthWav(seed)
      assert(new String(wav.take(4), "US-ASCII") === "RIFF", "payload is not a WAV")
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      try {
        val fmt = in.getFormat
        assert(fmt.getSampleRate.toInt === Multimodal.synthSampleRate(seed))
        assert(fmt.getChannels === 1 && fmt.getSampleSizeInBits === 16)
        val bytes = in.readAllBytes()
        val n = Multimodal.synthSampleCount(seed)
        assert(bytes.length === n * 2)
        val bb = java.nio.ByteBuffer.wrap(bytes).order(
          if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until n).foreach { i =>
          assert(bb.getShort.toInt === Multimodal.sampleValue(seed, i), s"seed $seed sample $i")
        }
      } finally in.close()
    }
    // distributed: decoded stats and the 1/2 decimation agree with the
    // closed-form expectation
    val ids = spark.range(0, 40).toDF("media_id")
    val media = Multimodal.synthAudioMedia(spark, ids)
    val feats = Multimodal.decodeAudio(spark, media)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(feats.size === 40)
    feats.foreach { case (id, r) =>
      val n = Multimodal.synthSampleCount(id)
      val vals = (0 until n).map(Multimodal.sampleValue(id, _))
      assert(r.getInt(1) === Multimodal.synthSampleRate(id))
      assert(r.getLong(2) === n.toLong)
      assert(r.getLong(3) === vals.map(_.toLong).sum, s"seed $id")
      assert(r.getInt(4) === vals.map(math.abs).max, s"seed $id")
    }
    val res = Multimodal.decodeAudio(spark, Multimodal.resampleAudio(spark, media, 2))
      .collect().map(r => r.getLong(0) -> r).toMap
    res.foreach { case (id, r) =>
      val n = Multimodal.synthSampleCount(id)
      val on = (n + 1) / 2
      val vals = (0 until on).map(i => Multimodal.sampleValue(id, 2 * i))
      assert(r.getInt(1) === Multimodal.synthSampleRate(id) / 2)
      assert(r.getLong(2) === on.toLong)
      assert(r.getLong(3) === vals.map(_.toLong).sum, s"seed $id")
      assert(r.getInt(4) === vals.map(math.abs).max, s"seed $id")
    }
    // a non-audio payload fails loud, naming the media id
    val junk = MediaRecord(99L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), "fake/raw", 8L)
    val e = intercept[Exception] {
      Multimodal.decodeAudio(spark, spark.createDataset(Seq(junk))).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("99"), msgs(e))
  }

  test("resampleAudioFir: exact integer half-band; nulls Nyquist where decimation aliases it") {
    import spark.implicits._
    // a pure folding-frequency tone: alternating ±A at the source rate
    val amp: Short = 8000
    val tone = Array.tabulate(64)(i => if (i % 2 == 0) amp else (-amp).toShort)
    val rec = MediaRecord(1L, Multimodal.encodeWav(tone, 16000), "audio/wav", 0L)
    val ds = spark.createDataset(Seq(rec))
    // plain decimation keeps full-amplitude aliased DC (picks every +A)
    val dec = Multimodal.decodeAudio(spark, Multimodal.resampleAudio(spark, ds, 2)).head()
    assert(dec.getInt(4) === amp.toInt, "decimation aliases Nyquist to full amplitude")
    // the half-band FIR nulls it everywhere the kernel sees both taps
    // (only the clamped first sample keeps residue): (−A + 2A − A)/4 = 0
    val fir = Multimodal.decodeAudio(spark, Multimodal.resampleAudioFir(spark, ds)).head()
    assert(fir.getInt(1) === 8000)
    assert(fir.getLong(2) === 32L)
    assert(fir.getInt(4) === amp / 2,
      "only the edge-clamped first tap survives; interior is nulled")
    assert(math.abs(fir.getLong(3)) <= amp / 2, "interior samples all zero")
    // and on the synthetic corpus the distributed result equals the
    // closed-form convolution sample by sample (the oracle's formula)
    val ids = spark.range(0, 25).toDF("media_id")
    val media = Multimodal.synthAudioMedia(spark, ids)
    val res = Multimodal.decodeAudio(spark, Multimodal.resampleAudioFir(spark, media))
      .collect().map(r => r.getLong(0) -> r).toMap
    res.foreach { case (id, r) =>
      val n = Multimodal.synthSampleCount(id)
      val on = (n + 1) / 2
      def v(j: Int) = Multimodal.sampleValue(id, math.max(0, math.min(j, n - 1)))
      val vals = (0 until on).map { i =>
        ((v(2 * i - 1) + 2 * v(2 * i) + v(2 * i + 1) + 131072) >> 2) - 32768
      }
      assert(r.getLong(2) === on.toLong)
      assert(r.getLong(3) === vals.map(_.toLong).sum, s"seed $id sum")
      assert(r.getInt(4) === vals.map(math.abs).max, s"seed $id peak")
    }
  }

  test("chunkDocuments: sliding windows cover every token, no redundant tail") {
    import spark.implicits._
    val docs = Seq(
      1L -> (1 to 100).map(i => s"w$i").mkString(" "), // many chunks
      2L -> (1 to 32).map(i => s"x$i").mkString(" "),  // exactly one chunk
      3L -> (1 to 33).map(i => s"y$i").mkString(" "),  // one token past: 2 chunks
      4L -> "solo",                                     // tiny
      5L -> "!!! ???")                                  // zero tokens -> no chunks
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 32, 8)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_no"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok"), r.getAs[String]("chunk_text")))
      .toSeq.sortBy(t => (t._1, t._2))
    // reference: same windowing in plain Scala
    def ref(id: Long, text: String): Seq[(Long, Long, Long, Long, String)] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      if (toks.isEmpty) return Nil
      val n = toks.size
      val nChunks = math.max(1, (n - 8 + 23) / 24)
      (0 until nChunks).map { k =>
        val ctoks = toks.slice(k * 24, math.min(k * 24 + 32, n))
        (id, k.toLong, (k * 24).toLong, ctoks.size.toLong, ctoks.mkString(" "))
      }
    }
    val want = Seq(
      1L -> (1 to 100).map(i => s"w$i").mkString(" "),
      2L -> (1 to 32).map(i => s"x$i").mkString(" "),
      3L -> (1 to 33).map(i => s"y$i").mkString(" "),
      4L -> "solo", 5L -> "!!! ???").flatMap { case (id, t) => ref(id, t) }
    assert(out === want)
    // every token of doc 1 is covered by the union of its chunks
    val covered = out.filter(_._1 == 1L)
      .flatMap { case (_, _, s0, nt, _) => s0 until (s0 + nt) }.toSet
    assert(covered === (0L until 100L).toSet)
    // doc 2 (exactly chunk-size) gets ONE chunk; doc 3 gets two
    assert(out.count(_._1 == 2L) === 1 && out.count(_._1 == 3L) === 2)
    // zero-token doc yields nothing; invalid params refuse
    assert(!out.exists(_._1 == 5L))
    intercept[IllegalArgumentException](
      TextAnalysis.chunkDocuments(docs, "doc_id", "text", 8, 8))
  }

  test("components: min-label clusters match a reference union-find") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, triangle 20-21-22 (+ isolated 30, 40)
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 30L, 40L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 40L -> 40L)
    // driver union-find path (default) and distributed propagation path
    // (forced by driverPairLimit = 0) must agree exactly
    val viaDriver = Dedup.components(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.components(ids, pairs, driverPairLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === expected)
    assert(viaLoop === expected)
  }

  test("shared-substring pairs: embedded verbatim run found, disjoint docs not") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    def randText(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // a 200-char verbatim run embedded in two otherwise-unrelated docs:
    // set-based Jaccard barely notices it, the anchored fingerprints must
    val run = randText(200)
    val docs = Seq(
      (1L, randText(400) + run + randText(400)),
      (2L, randText(150) + run + randText(650)),
      (3L, randText(1000)),
      (4L, randText(1000))).toDF("doc_id", "text")
    val pairs = Dedup.sharedSubstringPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // and the set-based audit path indeed scores the pair far below any
    // useful dedup threshold — the two detectors are complementary
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      .where(col("id_a") === 1L && col("id_b") === 2L)
      .select("jaccard").collect().headOption.map(_.getDouble(0)).getOrElse(0.0)
    assert(j < 0.3, s"planted run should not dominate set similarity (j = $j)")
  }

  test("shared-substring finds runs past non-BMP chars (codepoint-consistent anchors)") {
    import spark.implicits._
    // The emoji is one codepoint but two UTF-16 units: a code-unit anchor
    // kernel would shift every downstream position by one and fingerprint
    // different text in the two docs, silently missing the shared run.
    val run = "the quick brown fox jumps over the lazy dog and keeps running through the meadow " * 2
    val docs = Seq(
      (1L, "😀 " + run),
      (2L, "x " + run)).toDF("doc_id", "text")
    val pairs = Dedup.sharedSubstringPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("span cut (Lee et al.): keeper survives verbatim, duplicates excised, re-detection clean") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    def randText(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val (minLen, window, modulus) = (64, 8, 4)
    // one 300-char verbatim run planted in three docs (keeper = doc 1);
    // doc 3's prefix carries a non-BMP char so a code-unit excision would
    // shift every boundary after it
    val run = randText(300)
    val texts = Map(
      1L -> (randText(200) + run + randText(200)),
      2L -> (randText(500) + run + randText(100)),
      3L -> ("😀" + randText(79) + run + randText(420)),
      4L -> randText(700))
    val docs = texts.toSeq.toDF("doc_id", "text")
    val out = Dedup.removeSharedSpans(docs, "doc_id", "text", minLen, window, modulus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

    // Independent Scala model of keeper choice + codepoint excision (the
    // anchor kernel itself is pinned by the shift-invariance/non-BMP
    // tests; the DuckDB oracle replays it independently end to end).
    def anchorsOf(text: String): Seq[Int] =
      Seq(text).toDF("t")
        .select(graft.functions.anchor_positions(col("t"), window, modulus).as("a"))
        .head().getSeq[Int](0)
    def cpSub(cps: Array[Int], pos1: Int, len: Int): String = {
      val from = pos1 - 1
      val n = math.min(len, math.max(0, cps.length - from))
      if (n <= 0) "" else new String(cps, from, n)
    }
    val occ = texts.toSeq.flatMap { case (id, t) =>
      val cps = t.codePoints().toArray
      if (cps.length < minLen) Nil
      else anchorsOf(t).filter(_ <= cps.length - (minLen - 1))
        .map(p => (id, p, cpSub(cps, p, minLen)))
    }
    val keeper = occ.groupBy(_._3).map { case (fp, os) => fp -> os.map(o => (o._1, o._2)).min }
    val cutsByDoc = occ
      .filter { case (id, p, fp) => keeper(fp) != ((id, p)) }
      .groupBy(_._1).map { case (id, os) => id -> os.map(_._2).distinct.sorted }
    val expected = texts.map { case (id, t) =>
      val cps = t.codePoints().toArray
      val ps = cutsByDoc.getOrElse(id, Nil)
      val sb = new StringBuilder
      var done = 1
      ps.foreach { p =>
        if (p > done) sb.append(cpSub(cps, done, p - done))
        done = math.max(done, p + minLen)
      }
      sb.append(cpSub(cps, done, cps.length))
      id -> ((ps.size.toLong, sb.toString))
    }
    assert(out === expected)

    // keeper + untouched docs pass through verbatim; dups actually shrank
    assert(out(1L) === ((0L, texts(1L))))
    assert(out(4L) === ((0L, texts(4L))))
    Seq(2L, 3L).foreach { id =>
      assert(out(id)._1 > 0L, s"doc $id: no cut sites")
      assert(out(id)._2.length < texts(id).length, s"doc $id: nothing excised")
    }
    // the non-BMP prefix survived with exact boundaries (model already
    // checks equality; this pins the headline property by name)
    assert(out(3L)._2.startsWith("😀"))
    // THE convergence pin: detection over the scrubbed corpus is clean
    val scrubbed = out.toSeq.map { case (id, (_, t)) => (id, t) }.toDF("doc_id", "text")
    val residual = Dedup.sharedSubstringPairs(
      scrubbed, "doc_id", "text", minLen, window, modulus).collect()
    assert(residual.isEmpty,
      s"re-detection found pairs on the scrubbed corpus: ${residual.mkString(", ")}")
  }

  test("span cut fixpoint: a cut boundary exposing a NEW shared run converges in round 2") {
    import spark.implicits._
    val (minLen, window, modulus) = (64, 8, 4)
    val rnd = new scala.util.Random(53)
    def randText(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def anchorsOf(text: String): Seq[Int] =
      Seq(text).toDF("t")
        .select(graft.functions.anchor_positions(col("t"), window, modulus).as("a"))
        .head().getSeq[Int](0)
    // Construction: doc2 carries A + S + B (S shared with keeper doc1);
    // round 1 excises S's anchored interior from doc2, leaving
    // A + s_pre + s_suf + B — and doc3 carries exactly that JOINED text,
    // which no 64-codepoint fingerprint could see in the ORIGINAL corpus
    // (|A + s_pre| < 64 and |s_suf + B| < 64, so every shared window
    // straddling the future boundary diverges into S's cut interior).
    val S = randText(300)
    val A = randText(48)
    val B = randText(48)
    val interior = anchorsOf(S).filter(_ <= S.length - (minLen - 1))
    assert(interior.nonEmpty, "fixture: S has no interior anchors — reseed")
    val sPre = S.substring(0, interior.head - 1)
    val sSuf = S.substring(interior.last + minLen - 1)
    // the no-round-1-detection precondition (see comment above)
    assert(sPre.length < minLen - A.length, s"fixture: s_pre too long (${sPre.length}) — reseed")
    assert(sSuf.length < minLen - B.length, s"fixture: s_suf too long (${sSuf.length}) — reseed")
    val J = A + sPre + sSuf + B
    assert(J.length >= minLen)
    assert(anchorsOf(J).exists(_ <= J.length - (minLen - 1)),
      "fixture: joined run has no interior anchor to detect — reseed")
    val texts = Map(
      1L -> (randText(100) + S + randText(100)),
      2L -> (randText(120) + A + S + B + randText(150)),
      3L -> (randText(90) + J + randText(200)),
      4L -> randText(400))
    val docs = texts.toSeq.toDF("doc_id", "text")

    // ONE pass does NOT converge here: the excision joins A..B in doc2
    // and re-detection sees the run doc3 carried all along
    val once = Dedup.removeSharedSpans(docs, "doc_id", "text", minLen, window, modulus)
      .localCheckpoint(true)
    try {
      val residualOnce = Dedup.sharedSubstringPairs(
        once.select(col("doc_id"), col("text")), "doc_id", "text", minLen, window, modulus)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(residualOnce === Set((2L, 3L)),
        s"fixture should expose exactly the joined doc2/doc3 run, got $residualOnce")

      val iterated = Dedup.removeSharedSpansIterated(
        docs, "doc_id", "text", minLen, window, modulus, maxRounds = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

      // fixpoint: re-detection over the iterated output is clean
      val residual = Dedup.sharedSubstringPairs(
        iterated.toSeq.map { case (id, (_, t)) => (id, t) }.toDF("doc_id", "text"),
        "doc_id", "text", minLen, window, modulus).collect()
      assert(residual.isEmpty, s"iterated output still shares runs: ${residual.mkString(", ")}")

      // and it equals the manual two-pass composition exactly (text AND
      // the accumulated cut count)
      val twice = Dedup.removeSharedSpans(
        once.select(col("doc_id"), col("text")), "doc_id", "text", minLen, window, modulus)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      val onceMap = once.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      texts.keys.foreach { id =>
        assert(iterated(id)._2 === twice(id)._2, s"doc $id: text != two-pass composition")
        assert(iterated(id)._1 === onceMap(id)._1 + twice(id)._1,
          s"doc $id: n_cuts not accumulated across rounds")
      }
      // keeper + control untouched through both rounds
      assert(iterated(1L) === ((0L, texts(1L))))
      assert(iterated(4L) === ((0L, texts(4L))))

      // the loud bound: a corpus still cutting at maxRounds throws
      val err = intercept[IllegalStateException] {
        Dedup.removeSharedSpansIterated(
          docs, "doc_id", "text", minLen, window, modulus, maxRounds = 1)
      }
      assert(err.getMessage.contains("no fixpoint"))
    } finally once.unpersist(true)

    // a corpus that converges in one pass: iterated == single pass verbatim
    val simple = Seq(
      (1L, texts(1L)),
      (2L, randText(120) + S + randText(150)),
      (4L, texts(4L))).toDF("doc_id", "text")
    val single = Dedup.removeSharedSpans(simple, "doc_id", "text", minLen, window, modulus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val iteratedSimple = Dedup.removeSharedSpansIterated(
      simple, "doc_id", "text", minLen, window, modulus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(iteratedSimple === single)
  }

  test("span_excise codegen == the HOF aggregate fold (incl. non-BMP + boundary cuts)") {
    import spark.implicits._
    val minLen = 8
    // the interpreted formulation SpanExciseExpr replaced — kept here as
    // the equivalence reference (this IS the r12 production fold)
    val hofFold = expr(
      s"""aggregate(
         |  ps,
         |  named_struct('o', '', 'd', 1),
         |  (acc, p) -> named_struct(
         |    'o', concat(acc.o, substring(t, acc.d, greatest(p - acc.d, 0))),
         |    'd', greatest(acc.d, p + $minLen)),
         |  acc -> concat(acc.o, substring(t, acc.d, length(t))))""".stripMargin)
    val rnd = new scala.util.Random(43)
    val astral = Array("😀", "𝔘", "🚀")
    def randText(n: Int): String =
      (0 until n).map { _ =>
        if (rnd.nextInt(10) == 0) astral(rnd.nextInt(astral.length))
        else ('a' + rnd.nextInt(26)).toChar.toString
      }.mkString
    def randCuts(cpLen: Int): Seq[Int] = {
      val k = rnd.nextInt(8)
      (0 until k).map(_ => 1 + rnd.nextInt(math.max(cpLen + minLen, 1))).sorted
    }
    val random = (1 to 60).map { _ =>
      val t = randText(rnd.nextInt(120))
      (t, randCuts(t.codePointCount(0, t.length)))
    }
    val edge: Seq[(String, Seq[Int])] = Seq(
      ("", Seq(1)),                               // cut on an empty doc
      ("abcdefghij", Seq.empty[Int]),             // no cuts (empty, not null)
      ("abcdefghij", Seq(1)),                     // cut at the first codepoint
      ("abcdefghij", Seq(10)),                    // cut at the last codepoint
      ("abcdefghij", Seq(25)),                    // cut entirely past the end
      ("abcdefghij", Seq(1, 2, 3, 4)),            // chained overlaps cover all
      ("abcdefghijklmnopqrstuvwxyz", Seq(2, 4, 20)), // coalesce then a gap
      ("😀😀😀😀😀😀😀😀😀😀", Seq(3)),            // all-astral doc
      ("a😀b😀c😀d😀e😀f😀g😀h😀", Seq(2, 9)))     // mixed, cut straddles astral
    val frame = (random ++ edge).toDF("t", "ps")
    val rows = frame.select(
        col("t"), col("ps"),
        hofFold.as("hof"),
        graft.functions.span_excise(col("t"), col("ps"), minLen).as("cg"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(2) === r.getString(3),
        s"divergence on t='${r.getString(0)}' ps=${r.getSeq[Int](1)}")
    }
    // unsorted cut positions fail loud, never excise different text
    // (literal inputs may constant-fold, so the IAE can surface bare or
    // wrapped in a SparkException — accept either, require the message)
    val err = intercept[Exception] {
      Seq(("abcdefghijklmnop", Seq(9, 2))).toDF("t", "ps")
        .select(graft.functions.span_excise(col("t"), col("ps"), minLen))
        .collect()
    }
    assert(err.getMessage.contains("sorted ascending") ||
      Option(err.getCause).exists(_.getMessage.contains("sorted ascending")))
  }

  test("anchor positions are position-shift invariant (content-defined)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def randText(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val s = randText(300)
    val prefixes = Seq("X", "0123456789", randText(57))
    val (window, modulus) = (8, 4)
    def anchors(text: String): Seq[Int] =
      Seq(text).toDF("t")
        .select(graft.functions.anchor_positions(col("t"), window, modulus).as("a"))
        .head().getSeq[Int](0)
    val base = anchors(s)
    assert(base.nonEmpty, "degenerate fixture: no anchors at all")
    prefixes.foreach { p =>
      // every window fully inside s anchors identically after any shift;
      // positions <= |p| (windows over the prefix or straddling the seam)
      // are the only ones allowed to differ
      val shifted = anchors(p + s).filter(_ > p.length).map(_ - p.length)
      assert(shifted === base, s"prefix of length ${p.length} changed anchors")
    }
  }

  test("components: star contraction == union-find on random graphs") {
    import spark.implicits._
    // Seeded random graphs with mixed shapes (isolated nodes, small
    // clusters, occasional big components): the distributed star
    // contraction must agree exactly with the driver union-find.
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 4) {
      val n = 50 + rnd.nextInt(30)
      val ids = (1L to n.toLong).toDF("id")
      val m = 20 + rnd.nextInt(60)
      val pairs = Seq.fill(m)((1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter(p => p._1 != p._2)
        .toDF("id_a", "id_b")
      val viaDriver = Dedup.components(ids, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStars = Dedup.components(ids, pairs, driverPairLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStars === viaDriver, s"trial $trial (n=$n, m=$m)")
    }
  }

  test("components: star contraction resolves a deep chain in O(log n) rounds") {
    import spark.implicits._
    // A 256-node path graph: min-label propagation would need ~256 rounds
    // (diameter-bound); alternating large-star/small-star must finish in
    // logarithmic rounds, so maxIters = 12 both proves the speed and
    // fails loudly (components throws on non-convergence) if the
    // implementation regresses to diameter-bound behavior.
    val n = 256
    val ids = (1L to n.toLong).toDF("id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.components(ids, pairs, maxIters = 12, driverPairLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === n)
    assert(out.values.toSet === Set(1L))
  }

  test("sampling: splits are disjoint, exhaustive, stable; samples are nested") {
    val s1 = Sampling.split(docs, "doc_id", Seq("a" -> 500, "b" -> 300, "c" -> 200))
    val total = docs.count()
    assert(s1.groupBy("split").count().collect().map(_.getLong(1)).sum === total)
    // stability: same ids get the same split on a re-run over shuffled input
    val s2 = Sampling.split(docs.orderBy(rand(99)), "doc_id", Seq("a" -> 500, "b" -> 300, "c" -> 200))
    val m1 = s1.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m2 = s2.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1 === m2)
    // nested fractions: the 10% sample is a subset of the 20% sample
    val p10 = Sampling.sample(docs, "doc_id", 0.10).select("doc_id").collect().map(_.getLong(0)).toSet
    val p20 = Sampling.sample(docs, "doc_id", 0.20).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(p10.subsetOf(p20))
    assert(p10.nonEmpty && p20.size < total)
    intercept[IllegalArgumentException](Sampling.split(docs, "doc_id", Seq("a" -> 999)))
  }

  test("boilerplate removal: repeated lines dropped, order/blanks kept, emptied doc survives") {
    import spark.implicits._
    val banner = "accept cookies"
    val corpus = (1L to 30L).map(i => (i, s"$banner\nunique body $i\n\ntail $i")) ++
      Seq((31L, banner), (32L, s"one\n$banner\ntwo"))
    val out = TextAnalysis.boilerplateRemoval(corpus.toDF("id", "text"), "id", "text", 20)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out.size === 32)
    // banner dropped; blank line and order preserved
    assert(out(1L) === (("unique body 1\n\ntail 1", 1L)))
    // a doc that was ALL boilerplate stays in the corpus, empty
    assert(out(31L) === (("", 1L)))
    assert(out(32L) === (("one\ntwo", 1L)))
    // within-doc repetition is not boilerplate (threshold counts DISTINCT docs)
    val rep = TextAnalysis.boilerplateRemoval(
      Seq((1L, "same\nsame\nsame")).toDF("id", "text"), "id", "text", 2).collect().head
    assert(rep.getString(1) === "same\nsame\nsame" && rep.getLong(2) === 0L)
  }

  test("token-budget mix: rates hit targets, cap at availability, nest with budget") {
    import spark.implicits._
    // A has 10k tokens, B only 500 — B's half of a 4000-token budget
    // (2000) exceeds its availability, so B keeps everything (rate 1000)
    val rows = (0 until 100).map(i => (i.toLong, "A", 100L)) ++
      (100 until 110).map(i => (i.toLong, "B", 50L))
    val df = rows.toDF("id", "src", "toks")
    val weights = Seq("A" -> 500, "B" -> 500)
    val rates = Sampling.tokenBudgetRates(df, "src", col("toks"), weights, 4000L).toMap
    assert(rates("B") === 1000)
    assert(rates("A") === 200) // 1000 * 2000 / 10000
    val kept = Sampling.tokenBudgetMix(df, "id", "src", col("toks"), weights, 4000L)
    assert(kept.where(col("src") === "B").count() === 10L)
    // a bigger budget only ADDS documents (rates monotone, buckets fixed)
    val k1 = kept.select("id").collect().map(_.getLong(0)).toSet
    val k2 = Sampling.tokenBudgetMix(df, "id", "src", col("toks"), weights, 8000L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(k1.subsetOf(k2) && k1.size < k2.size)
    // a source outside the recipe contributes nothing
    val withC = df.union(Seq((500L, "C", 100L)).toDF("id", "src", "toks"))
    assert(Sampling.tokenBudgetMix(withC, "id", "src", col("toks"), weights, 4000L)
      .where(col("src") === "C").count() === 0L)
  }

  test("alpha mix: temperature flattens the source distribution, integer rates replay") {
    import spark.implicits._
    // big source A (900 rows), small source B (100 rows)
    val rows = (0 until 900).map(i => (i.toLong, "A")) ++
      (900 until 1000).map(i => (i.toLong, "B"))
    val df = rows.toDF("id", "src")

    // h=0: proportional — targets track raw counts
    val r0 = Sampling.alphaRates(df, "src", budgetRows = 500L, halfPow = 0).toMap
    assert(r0("A") === 500) // target 900*500/1000=450 -> rate 1000*450/900
    assert(r0("B") === 500) // target 100*500/1000=50  -> rate 1000*50/100

    // h=1: sqrt temperature — B's SHARE of the kept set rises
    // weights: isqrt(900)=30, isqrt(100)=10, W=40
    val r1 = Sampling.alphaRates(df, "src", budgetRows = 500L, halfPow = 1).toMap
    assert(r1("A") === 416) // target 30*500/40=375 -> 1000*375/900
    assert(r1("B") === 1000) // target 10*500/40=125 > 100 -> capped
    // ieeeIsqrt is exact floor-sqrt in the long range the rates use
    assert(Sampling.ieeeIsqrt(0) === 0 && Sampling.ieeeIsqrt(1) === 1)
    assert(Sampling.ieeeIsqrt(899) === 29 && Sampling.ieeeIsqrt(900) === 30)

    // membership is the shared md5 bucket: deterministic, nested in rate
    val kept = Sampling.alphaMix(df, "id", "src", 500L, halfPow = 1)
    val again = Sampling.alphaMix(df.orderBy(rand(5)), "id", "src", 500L, halfPow = 1)
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(kept) === ids(again))
    assert(kept.where(col("src") === "B").count() === 100L) // capped = keep all
    // flattening: B's kept share exceeds its corpus share
    val keptB = kept.where(col("src") === "B").count().toDouble / kept.count()
    assert(keptB > 0.1, s"B share $keptB")
  }

  test("global shuffle: exact seed-keyed permutation, deterministic, seed-sensitive") {
    val n = docs.count()
    val out = Sampling.globalShuffle(docs, "doc_id", seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length === n)
    assert(out.map(_._2).sorted.toSeq === (0L until n).toSeq, "positions are dense 0..n-1")
    // matches the brute-force ordering: md5(seed:id) with id tiebreak
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(seed: Long, id: Long): Long = {
      val hex = md.digest(s"$seed:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val expected = out.map(_._1).sortBy(id => (h(7L, id), id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    assert(out.toMap === expected)
    // same seed on shuffled input -> identical permutation; new seed -> new one
    val again = Sampling.globalShuffle(docs.orderBy(rand(3)), "doc_id", 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === out.toMap)
    val other = Sampling.globalShuffle(docs, "doc_id", 8L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other !== out.toMap)
  }

  test("multimodal: resize halves payloads; frame sampling is evenly spaced and bounded") {
    import spark.implicits._
    val media = Multimodal.pack(docs, "doc_id", "text").as[MediaRecord]
    val resized = Multimodal.resize(spark, media).collect().map(r => r.media_id -> r).toMap
    val orig = media.collect().map(r => r.media_id -> r).toMap
    assert(resized.keySet === orig.keySet)
    orig.foreach { case (id, r) =>
      val out = resized(id)
      assert(out.n_bytes === (r.n_bytes + 1) / 2)
      assert(out.content.toSeq === r.content.grouped(2).map(_.head).toSeq)
      assert(out.format.endsWith(";resize=1/2"))
    }
    val frames = Multimodal.frameSample(media.toDF(), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    frames.groupBy(_._1).foreach { case (_, fs) =>
      val n = fs.head._2
      assert(fs.map(_._3).distinct.length === fs.length) // deduplicated
      assert(fs.length <= math.min(4, n))                // never more than k or n_frames
      fs.foreach { case (_, nf, no) => assert(no >= 0 && no < nf) }
    }
    assert(frames.nonEmpty)
  }

  test("knnJoin == annTopK on disjoint id sets (no-broadcast path changes nothing)") {
    // Same plane seed, same candidate semantics: with left/right ids
    // disjoint, annTopK's self-exclusion is vacuous, so the big-both-sides
    // join must produce the identical frame the broadcast path does.
    val left = embs.where(col("vec_id") % 2 === 0)
    val right = embs.where(col("vec_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val joined = rows(Similarity.knnJoin(left, right, "vec_id", "embedding", k = 5))
    val bcast = rows(Similarity.annTopK(right, left, "vec_id", "embedding", k = 5))
    assert(joined === bcast)
    assert(joined.nonEmpty)
  }

  test("labelTransfer == majority vote over knnJoin neighbors (deterministic ties)") {
    val left = embs.where(col("vec_id") % 2 === 0)
    val right = embs.where(col("vec_id") % 2 === 1)
    val preds = Similarity.labelTransfer(left, right, "vec_id", "embedding", "label", 5)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val labels = embs.select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nn = Similarity.knnJoin(left, right, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = nn.groupBy(_._1).map { case (q, ns) =>
      val votes = ns.map(n => labels(n._2)).groupBy(identity).view.mapValues(_.size)
      val (lbl, n) = votes.toSeq.minBy { case (l, c) => (-c, l) }
      q -> ((lbl, n.toLong))
    }
    assert(preds === expect)
    assert(preds.nonEmpty)
  }

  test("semanticDedup == naive in-cell dominated-by-smaller-id replay; zero vecs kept") {
    import spark.implicits._
    val planes = 4
    val threshold = 0.4
    // A zero-norm vector (failed encoder) has no cosine to anything: a
    // KEEP decision must keep it, surfaced as the unclustered cell -1.
    val zeroId = 999999L
    val corpus = embs.unionByName(
      Seq((zeroId, Array.fill(64)(0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val kept = Similarity.semanticDedup(corpus, "vec_id", "embedding", threshold, planes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept(zeroId) === -1L)
    // Naive replay in plain Scala: same seeded planes, same bit
    // convention (bit b set iff dot > 0), same left-to-right dot order.
    val vecs = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .sortBy(_._1)
    val pl = Similarity.hyperplanes(1, planes, vecs.head._2.length)(0)
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val withNorm = vecs.map { case (id, v) => (id, v, math.sqrt(dot(v, v))) }
      .filter(_._3 > 0)
    val cell = withNorm.map { case (id, v, _) =>
      id -> (0 until planes).map(b => if (dot(v, pl(b)) > 0) 1L << b else 0L).sum
    }.toMap
    val dropped = (for {
      (ib, vb, nb) <- withNorm
      (ia, va, na) <- withNorm
      if ia < ib && cell(ia) == cell(ib) && dot(va, vb) / (na * nb) >= threshold
    } yield ib).toSet
    val expect = withNorm.map(_._1).filterNot(dropped).map(id => id -> cell(id)).toMap +
      (zeroId -> -1L)
    assert(kept === expect)
    assert(dropped.nonEmpty, "fixture produced no in-cell drops — threshold/planes need retuning")
    assert(kept.nonEmpty)
  }

  test("prototypePruning: naive replay agrees; per-cell drop counts exact; zero vecs kept") {
    import spark.implicits._
    val planes = 4
    val (dropNum, dropDen) = (1, 4)
    val zeroId = 999999L
    // large-magnitude rows (hash-embed count vectors reach thousands):
    // q*q at quantization scale overflows a LONG for |v| ≳ 3000 — the
    // ranking must accumulate in decimal, or these rows corrupt the
    // keep/drop decision (regression for the r6 review finding)
    val bigRows = Seq(
      (999997L, Array.fill(64)(3000.0f), 0),
      (999998L, Array.tabulate(64)(i => (i - 32) * 2900.0f), 0))
    val corpus = embs.unionByName(
      (bigRows :+ ((zeroId, Array.fill(64)(0.0f), 0))).toDF("vec_id", "embedding", "label"))
    val out = Similarity.prototypePruning(
      corpus, "vec_id", "embedding", planes, dropNum, dropDen)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    // the zero-norm vector is unclustered and NEVER pruned
    assert(out(zeroId) === ((-1L, 0L, 0L, true)))
    // the DISTRIBUTED rank tier (above the window bound) must rank
    // identically — forced here by windowMaxRows = 0, so the
    // globalRank + per-cell rebase branch runs at fixture scale instead
    // of first executing at >1M-row production scale
    val outDistributed = Similarity.prototypePruning(
      corpus, "vec_id", "embedding", planes, dropNum, dropDen, windowMaxRows = 0L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(outDistributed === out, "window and distributed rank tiers diverged")
    // naive replay: same planes/cells as semanticDedup, exact quantized
    // distance-to-mean ranking in BigInt — over embs AND the big rows
    // (they share cells, so they shift every cell's mean)
    val vecs = (embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)) ++
      bigRows.map { case (id, v, _) => id -> v.map(_.toDouble) })
      .sortBy(_._1)
    val pl = Similarity.hyperplanes(1, planes, vecs.head._2.length)(0)
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val withNorm = vecs.filter { case (_, v) => math.sqrt(dot(v, v)) > 0 }
    val cell = withNorm.map { case (id, v) =>
      id -> (0 until planes).map(b => if (dot(v, pl(b)) > 0) 1L << b else 0L).sum
    }.toMap
    val q = withNorm.map { case (id, v) =>
      id -> v.map(x => BigInt(math.floor(x * 1048576.0 + 0.5).toLong))
    }.toMap
    val byCell = withNorm.map(_._1).groupBy(cell)
    byCell.foreach { case (c, ids) =>
      val n = BigInt(ids.length)
      val sums = ids.map(q).transpose.map(_.sum)
      def key(id: Long): BigInt = {
        val v = q(id)
        val vv = v.map(x => x * x).sum
        val vs = v.zip(sums).map { case (a, b) => a * b }.sum
        n * n * vv - 2 * n * vs + sums.map(x => x * x).sum
      }
      val ranked = ids.sortBy(id => (key(id), id))
      val thresh = ids.length.toLong * dropNum / dropDen
      ranked.zipWithIndex.foreach { case (id, idx) =>
        val rank = idx + 1L
        assert(out(id) === ((c, rank, ids.length.toLong, rank > thresh)),
          s"id $id in cell $c")
      }
      // exact per-cell drop count: floor(n/4)
      assert(ids.count(id => !out(id)._4) === thresh.toInt, s"cell $c drop count")
    }
    assert(out.values.exists(!_._4), "fixture produced no drops — retune planes")
  }

  test("featureHashEmbed: dense == sparse, signs/cells replay, composes with the vector stack") {
    import spark.implicits._
    val dim = 16
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq((888888L, "")).toDF("doc_id", "text")) // gramless doc
    val sparse = TextAnalysis.featureHashEmbed(corpus, "doc_id", "text", dim)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(sparse.nonEmpty)
    assert(sparse.forall(_._3 != 0L), "zero-weight cells must be dropped from the sparse form")
    // naive replay of one doc: same tokens, same md5 routing, same sign
    val sample = docs.select(col("doc_id"), col("text")).head()
    val toks = "[a-z0-9]+".r.findAllIn(sample.getString(1).toLowerCase).toSeq
    val grams = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    val expect = grams.groupBy(g => graft.core.ShardIndex.shardIndex(g.getBytes("UTF-8"), dim))
      .view.mapValues(_.map { g =>
        if (graft.core.ShardIndex.shardIndex((g + "#s").getBytes("UTF-8"), 2) == 1) 1L else -1L
      }.sum).toMap.filter(_._2 != 0L)
    val got = sparse.filter(_._1 == sample.getLong(0)).map(t => t._2 -> t._3).toMap
    assert(got === expect)
    // dense form: one row per input doc, dim-wide, values match sparse
    val dense = TextAnalysis.featureHashVector(corpus, "doc_id", "text", dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(dense.size === corpus.count())
    assert(dense.values.forall(_.size == dim))
    assert(dense(888888L).forall(_ == 0.0), "gramless doc must embed as the zero vector")
    sparse.foreach { case (id, cell, w) =>
      assert(dense(id)(cell) === w.toDouble, s"doc $id cell $cell")
    }
    // composes with the vector stack: prototypePruning accepts the dense
    // output directly; the zero vector lands unclustered and kept
    val pruned = Similarity.prototypePruning(
      TextAnalysis.featureHashVector(corpus, "doc_id", "text", dim),
      "doc_id", "emb", planes = 3, dropNum = 1, dropDen = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(4)))).toMap
    assert(pruned.size === dense.size)
    assert(pruned(888888L) === ((-1L, true)))
    assert(pruned.values.exists(!_._2), "pruning on hash embeds produced no drops")
  }

  test("globalRank == local sort position; bands are even and ordered") {
    // Non-unique leading key (n_chars repeats), unique doc_id tiebreak —
    // the documented total-order contract.
    val ranked = Ranking.globalRank(docs, Seq("n_chars", "doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"), r.getAs[Long]("rank")))
    val expected = ranked.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, _, _), i) => id -> i.toLong }.toMap
    assert(ranked.map(t => t._1 -> t._3).toMap === expected)
    assert(ranked.map(_._3).sorted.toSeq === (0L until ranked.length.toLong))

    val n = 3
    val banded = Ranking.bands(docs, Seq("n_chars", "doc_id"), n)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("band")))
    val sizes = banded.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.keySet === (1 to n).map(_.toLong).toSet)
    assert(sizes.values.max - sizes.values.min <= 1)
    // bands partition the rank order: every rank in band b precedes band b+1
    val maxByBand = banded.groupBy(_._2).view.mapValues(_.map(_._1).max).toMap
    val minByBand = banded.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    for (b <- 1 until n) assert(maxByBand(b.toLong) < minByBand(b.toLong + 1))
  }

  test("globalRank correct past the range-sampler reservoir (50k rows)") {
    import spark.implicits._
    // Keys arrive in descending order so rank must genuinely reorder; the
    // 50k size pushes repartitionByRange past its ~300-row reservoir per
    // partition, exercising the pinned-layout (localCheckpoint) path.
    val n = 50000
    val df = (0 until n).map(i => (i.toLong, (n - i).toLong)).toDF("id", "key")
      .repartition(32)
    val ranked = Ranking.globalRank(df, Seq("key", "id"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // key = n - id, so ascending key order is descending id order
    ranked.foreach { case (id, rank) => assert(rank === (n - 1 - id)) }
    assert(ranked.length === n)
  }

  test("lmScore: hand-computed fixed point, OOV floor, eviction cap, short docs score 0") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "z z"), (3L, "a")).toDF("doc_id", "text")
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    def run(maxGrams: Int) =
      TextAnalysis.lmScore(corpus, train, "doc_id", "text",
          maxGrams = maxGrams, vocab = 16L, scale = 1000L)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Uncapped model: c2 = {"a b" -> 2, "b a" -> 1}, c1 = {a -> 2, b -> 2}.
    // doc1 grams: "a b" -> (2+1)*1000/(2+16) = 166, "b a" -> 2000/18 = 111,
    // "a b" -> 166; sum 443, n 3 -> 147. doc2: "z z" OOV -> 1000/16 = 62.
    // doc3: one token -> n = 0, score 0.
    assert(run(Int.MaxValue) === Map(1L -> ((3L, 147L)), 2L -> ((1L, 62L)), 3L -> ((0L, 0L))))
    // maxGrams = 1 keeps only ("a b", 2) and unigram ("a", 2) — the
    // (count DESC, gram ASC) tie-break picks "a" over "b". "b a" falls to
    // the floor on both counts: (0+1)*1000/(0+16) = 62.
    // doc1: 166 + 62 + 166 = 394, n 3 -> 131. doc2 unchanged.
    assert(run(1) === Map(1L -> ((3L, 131L)), 2L -> ((1L, 62L)), 3L -> ((0L, 0L))))
  }

  test("funnel == brute-force staged minima on random data; strictness pinned") {
    import spark.implicits._
    val stages = Seq("a", "b", "c")
    // hand-built strictness cases: equal ts does NOT advance a stage
    val pinned = Seq(
      (1L, "a", 10L), (1L, "b", 10L),               // b at == ts: stage 1
      (2L, "a", 10L), (2L, "b", 11L), (2L, "c", 11L), // c tied with b: stage 2
      (3L, "b", 5L), (3L, "c", 6L),                 // never did a: stage 0
      (4L, "a", 1L), (4L, "b", 2L), (4L, "c", 3L),  // clean: stage 3
      (5L, "c", 1L), (5L, "b", 2L), (5L, "a", 3L)   // reverse order: stage 1
    ).toDF("user_id", "event_type", "ts")
    val gotPinned = Events.funnel(pinned, "user_id", "event_type", "ts", stages)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotPinned === Map(1L -> 1, 2L -> 2, 3L -> 0, 4L -> 3, 5L -> 1))

    val rnd = new scala.util.Random(29)
    val evs = (0 until 2000).map(_ =>
      (rnd.nextInt(60).toLong, stages(rnd.nextInt(3)), rnd.nextInt(50).toLong))
    def brute(u: Long): Int = {
      val mine = evs.filter(_._1 == u)
      var reached = 0
      var t = Long.MinValue
      var advanced = true
      while (advanced && reached < stages.length) {
        val next = mine.filter(e => e._2 == stages(reached) &&
          (if (reached == 0) true else e._3 > t)).map(_._3)
        if (next.isEmpty) advanced = false
        else { t = next.min; reached += 1 }
      }
      reached
    }
    val got = Events.funnel(
      evs.toDF("user_id", "event_type", "ts"), "user_id", "event_type", "ts", stages)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === evs.map(_._1).distinct.map(u => u -> brute(u)).toMap)
    assert(got.valuesIterator.count(_ == 3) > 5, "degenerate corpus") // non-trivial
  }

  test("transitions == brute-force ordered pairs; tie-break + null exclusion pinned") {
    import spark.implicits._
    // hand-built: equal ts orders by event_id; nulls drop out entirely
    val pinned = Seq(
      (1L, 10L, "a", 1L), (1L, 10L, "b", 2L), (1L, 11L, "c", 3L), // a->b->c via id tiebreak
      (2L, 5L, "x", 4L), (2L, 5L, "y", 0L),                       // y->x (id 0 first)
      (3L, 1L, "a", 5L)                                           // single event: no edge
    ).toDF("user_id", "ts", "event_type", "event_id")
    val gotPinned = Events.transitions(pinned, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gotPinned === Map(("a", "b") -> 1L, ("b", "c") -> 1L, ("y", "x") -> 1L))

    val rnd = new scala.util.Random(37)
    val types = Vector("a", "b", "c", "d")
    val evs = (0 until 3000).map(i =>
      (rnd.nextInt(50).toLong, rnd.nextInt(200).toLong, types(rnd.nextInt(4)), i.toLong))
    val brute = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._2, e._4)).map(_._3)
      ordered.zip(ordered.drop(1))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = Events.transitions(
      evs.toDF("user_id", "ts", "event_type", "event_id"),
      "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === brute)
    assert(got.values.sum === evs.groupBy(_._1).values.map(_.size - 1).sum.toLong)
  }

  test("sessionizeBucketed == sessionize at every bucket width (nulls, negatives, ties)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val minuteNs = 60L * 1000000000L
    // ~25 users x ~120 events over a 5000-minute span (typical gap ~40
    // min vs the 30-min threshold → a real mix of continues and starts);
    // null users, null timestamps, pre-epoch timestamps, and ts ties all
    // present so every documented equivalence edge is exercised
    val evs = (0 until 3000).map { i =>
      val u = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(25).toLong)
      val ts = if (rnd.nextInt(40) == 0) None
               else Some((rnd.nextInt(4000) - 1000).toLong * minuteNs)
      (i.toLong, u, ts)
    }.toDF("event_id", "user_id", "ts")
    def byEvent(df: org.apache.spark.sql.DataFrame): Map[Long, (Option[Any], Long, Long)] =
      df.collect().map(r =>
        r.getLong(0) -> ((Option(r.get(3)), r.getLong(4), r.getLong(5)))).toMap
    val plain = byEvent(Events.sessionize(evs, 30))
    assert(plain.valuesIterator.map(_._3).max > 3, "degenerate corpus: no multi-session users")
    // bucket == 1 ns maximizes cross-bucket handoffs (every event its own
    // bucket); a prime width misaligns every boundary; the gap-sized and
    // huge widths cover the in-bucket-dominant and degenerate-to-plain
    // extremes
    for (bucketNs <- Seq(1L, 997L, 30L * minuteNs, 1000000000000000L)) {
      val bucketed = byEvent(Events.sessionizeBucketed(evs, 30, bucketNs))
      assert(bucketed === plain, s"bucketNs=$bucketNs")
    }
  }

  test("transitionsBucketed == transitions at every bucket width") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val types = Vector("a", "b", "c", "d")
    val evs = (0 until 3000).map(i =>
      (rnd.nextInt(50).toLong, rnd.nextInt(200).toLong, types(rnd.nextInt(4)), i.toLong))
      .toDF("user_id", "ts", "event_type", "event_id")
    def edges(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val plain = edges(Events.transitions(evs, "user_id", "event_type", "ts", "event_id"))
    assert(plain.values.sum > 2000, "degenerate corpus")
    for (bucketNs <- Seq(1L, 7L, 64L, 1000000L)) {
      val bucketed = edges(Events.transitionsBucketed(
        evs, "user_id", "event_type", "ts", "event_id", bucketNs))
      assert(bucketed === plain, s"bucketNs=$bucketNs")
    }
  }

  test("retention == brute-force cohort matrix on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val bucketNs = 100L
    val evs = (0 until 3000).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong)) // user, ts
    val byUser = evs.groupBy(_._1)
    val brute = byUser.toSeq.flatMap { case (u, es) =>
      val buckets = es.map(_._2 / bucketNs).distinct
      val cohort = buckets.min
      buckets.map(b => (cohort, b - cohort))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = Events.retention(
      evs.toDF("user_id", "ts"), "user_id", "ts", bucketNs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === brute)
    // period-0 cell of each cohort == cohort size
    val sizes = byUser.values.map(_.map(_._2 / bucketNs).min)
      .groupBy(identity).map { case (c, v) => (c, 0L) -> v.size.toLong }
    sizes.foreach { case (cell, n) => assert(got(cell) === n, cell) }
  }
}
