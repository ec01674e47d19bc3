package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, each designed around
 * its scale behavior:
 *
 *  - exact:        one hash-shuffle on the normalized text (groupBy).
 *  - n-gram Jaccard: exact set-similarity via a shingle inverted index —
 *                  quadratic in the worst case, meant for *samples/audits*.
 *  - MinHash+LSH:  the 100 TB path — fixed-width signatures (one shuffle),
 *                  band buckets (one shuffle), candidate pairs verified
 *                  exactly; cost is ~linear in corpus size + candidates.
 *  - SimHash:      fixed 32-bit sketch per doc, Hamming-distance pairing.
 *
 * All randomness is seeded constants, so results are reproducible and
 * oracle-checkable.
 */
object Dedup {

  val ShingleSize = 5

  /** Sample bound for the QUADRATIC exact-Jaccard audit twin — tighter
    * than the generic [[AuditBound.MaxAuditRows]] because this
    * operator's WORK is O(rows²) in shingle-join candidates, not O(rows):
    * measured at ~300-char docs, 12.5k rows cost ~400 s and ~20 GB heap
    * on a 32-core box (r6 sf1 scale audit, BASELINE.md), so the generic
    * 100k-row cap would admit ~64× that work and read as a hang. 16k
    * keeps the single-box audit in minutes; callers auditing more pass
    * `maxRows` explicitly, everyone else is pointed at the banded scale
    * twin by the bound's error. */
  val MaxQuadraticShingleRows: Long = 16384L

  /** Distinct character n-gram shingles: (id, shingle). The unit for the
    * exact char-level Jaccard audit. Built from explode + substring
    * (whole-stage codegen) rather than a higher-order `transform` (which is
    * interpreter-only) — the distinct happens in the aggregate shuffle. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = ShingleSize): DataFrame =
    df.where(length(col(textCol)) >= n) // sequence(1, len-n+1) needs len >= n (it would count *down* otherwise)
      .select(
        col(idCol).as("id"),
        col(textCol).as("t"),
        explode(sequence(lit(1), length(col(textCol)) - (n - 1))).as("pos"))
      .select(col("id"), expr(s"substring(t, pos, $n)").as("shingle"))
      .dropDuplicates("id", "shingle")

  val WordShingleSize = 3

  /** Distinct word n-gram shingles — the MinHash unit. Word n-grams give
    * near-zero Jaccard between unrelated documents while near-duplicates
    * stay ~1, so LSH banding actually separates (char shingles on natural
    * text push random-pair similarity high enough that every pair becomes
    * an LSH candidate).
    *
    * Per-doc dedup is `groupBy(id).collect_set` (not
    * `dropDuplicates(id, shingle)`) so the output stays hash-partitioned
    * by `id` through the explode: the downstream signature aggregate and
    * set-size aggregate both group by `id` and reuse this partitioning —
    * the whole MinHash sketch pipeline runs on a single shuffle. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int = WordShingleSize): DataFrame =
    wordShingleSets(df, idCol, textCol, n)
      .select(col("id"), explode(col("shs")).as("shingle"))

  /** The pre-explode form of [[wordShingles]]: (id, shs array&lt;string&gt;)
    * — each doc's DISTINCT word n-gram shingle set, one row per doc.
    * Split out so [[minHashPairs]] can materialize the expensive part
    * (tokenize + explode + collect_set) ONCE and derive the exploded
    * shingle table AND the per-doc set size as cheap projections
    * (`size(shs)` replaces a whole second aggregation over the exploded
    * rows). */
  private[operators] def wordShingleSets(
      df: DataFrame, idCol: String, textCol: String, n: Int = WordShingleSize): DataFrame =
    df.select(
        col(idCol).as("id"),
        TextAnalysis.wordTokens(col(textCol)).as("ts"))
      .where(size(col("ts")) >= n)
      .select(col("id"), col("ts"), explode(sequence(lit(1), size(col("ts")) - (n - 1))).as("pos"))
      .select(
        col("id"),
        concat_ws(" ", (0 until n).map(i => element_at(col("ts"), col("pos") + i)): _*).as("shingle"))
      .groupBy(col("id"))
      .agg(collect_set(col("shingle")).as("shs"))

  /** Exact dedup on normalized text: keep the smallest id per group.
    * Output: (keep_id, n_copies) — one row per distinct normalized text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // group by the md5 of the normalized text, not the text: the key
    // never reaches the output (keep_id, n_copies), so the digest is
    // output-identical while the exchange carries 32 bytes/row instead
    // of the corpus text (~1000x at web scale; the same 128-bit-identity
    // assumption shard routing already stakes the store on). The oracle
    // groups by the full norm — equal results bar an md5 collision.
    df.select(col(idCol).as("id"), md5(TextAnalysis.normalized(col(textCol))).as("norm"))
      .groupBy(col("norm"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Exact n-gram Jaccard pairs >= threshold via the shingle inverted
    * index. Quadratic blowup on common shingles — use on samples; the
    * corpus-scale path is [[minHashPairs]]. The audit contract is
    * ENFORCED, not advisory: more than `maxRows` input documents throws
    * (bounded limit+1 probe) instead of launching an O(sum df^2) join
    * over a full corpus. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = ShingleSize,
      maxRows: Long = Dedup.MaxQuadraticShingleRows): DataFrame = {
    AuditBound.check(df, maxRows, "ngramJaccardPairs", "minHashPairs (or prefixFilteredJaccardPairs)")
    // Three consumers (both join sides + the size aggregate) share the
    // char-shingle table; caching it columnar is measurably faster than
    // exchange reuse or a row-block checkpoint for the quadratic join.
    // The cache cannot be allowed to outlive the call (ADVICE r1: leaked
    // operator persists pile up in long sessions), so the operator runs
    // eagerly: materialize the (tiny — this is the audit path on samples)
    // pair set with a localCheckpoint, then drop the shingle cache before
    // returning. Only the small result blocks remain, GC-reaped by the
    // ContextCleaner.
    val sh = shingles(df, idCol, textCol, n).persist()
    try {
      // persist() is LAZY: the quadratic join's sides and the size
      // aggregate materialize CONCURRENTLY under AQE and race on the
      // cold cache, each computing the shingle pipeline (measured: twin
      // 39k-record dedup-exchange stages). One cheap count() fills the
      // cache before the fan-out.
      sh.count()
      jaccardPairsFromShingles(sh, threshold).localCheckpoint(true)
    } finally sh.unpersist()
  }

  /**
   * Exact Jaccard pairs via prefix filtering (AllPairs/PPJoin): order each
   * doc's shingles by global document frequency (rarest first); two sets
   * with J >= t must share an element within their first
   * n - ceil(t*n) + 1 shingles under any shared total order. Joining only
   * those prefixes keeps inverted lists short (rare shingles), then exact
   * verification removes false positives — same output as the naive
   * all-shingle join.
   *
   * Use on realistic (zipfian-vocabulary) corpora, where prefixes land on
   * rare shingles; on degenerate tiny-alphabet corpora every shingle is
   * common and the extra df/rank pass costs more than it saves (measured:
   * the driver's synthetic word-salad corpus).
   *
   * The exactness guarantee forbids a silent hot-bucket drop, so the
   * prefix join BOUNDS instead: a prefix shingle shared by more than
   * `maxBucket` docs — possible only on the degenerate corpora above,
   * where the AllPairs bound has already stopped helping — fails LOUD
   * naming the scale twin, never runs bucket²/2 candidate pairs in one
   * task (the lshCandidates failOversized discipline: exact-or-loud,
   * never silently quadratic OR silently lossy).
   */
  def prefixFilteredJaccardPairs(
      shIn: DataFrame,
      threshold: Double,
      maxBucket: Int = LshBuckets.MaxBucket): DataFrame = {
    val sh = shIn
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val szW = Window.partitionBy(col("id"))
    // ceil with an epsilon: when t*n is mathematically integral the double
    // product can land at n.000...001 and ceil one too high, shortening the
    // prefix below what the AllPairs bound requires (missed exact-threshold
    // pairs). The prefix table feeds both self-join sides; its window runs
    // behind an exchange on id, which ReuseExchange dedups across the two
    // identical scans — no persist needed (or leaked).
    val prefix = LshBuckets.bounded(
      sh.join(df, "shingle")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_sh", count(lit(1)).over(szW))
        .where(col("rn") <= col("n_sh") - ceil(col("n_sh") * threshold - lit(1e-9)) + 1)
        .select(col("id"), col("shingle")),
      Seq("shingle"), maxBucket, failOversized = true)
    val cand = prefix.as("a")
      .join(prefix.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    exactJaccardOfCandidates(sh, cand, threshold)
  }

  /** Exhaustive exact Jaccard pairs >= threshold from any shingle table. */
  def jaccardPairsFromShingles(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    jaccardFilter(inter, sizes, threshold)
  }

  private def jaccardFilter(inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn(
        "jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  val NumHashes = 128
  val BandRows = 4
  def numBands: Int = NumHashes / BandRows

  /** Mersenne prime 2^31-1: the affine MinHash family works in this field
    * so no 64-bit multiply can overflow (Spark 4 runs ANSI mode — wrapping
    * arithmetic throws). */
  val HashPrime = 2147483647L

  /** Seeded affine-hash constants for the MinHash family. */
  private lazy val (hashA, hashB) = {
    val rnd = new Random(42)
    val a = Array.fill(NumHashes)(1L + (rnd.nextLong() & Long.MaxValue) % (HashPrime - 1))
    val b = Array.fill(NumHashes)((rnd.nextLong() & Long.MaxValue) % HashPrime)
    (a, b)
  }

  /** MinHash signatures: (id, sig array<long>). One aggregation = one
    * shuffle; 128 partial-aggregated min columns, no row explosion. The
    * shingle base hash is projected once, not recomputed per hash column. */
  def minHashSignatures(sh: DataFrame): DataFrame = {
    val based = sh.select(col("id"), pmod(xxhash64(col("shingle")), lit(HashPrime)).as("x"))
    val mins = (0 until NumHashes)
      .map(i => min(pmod(col("x") * hashA(i) + hashB(i), lit(HashPrime))).as(s"m$i"))
    based.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH band buckets: (id, band, band_hash) — docs sharing any bucket are
    * candidate pairs. Banding 128 sigs as 32x4 puts the S-curve threshold
    * around j ~ 0.55 with recall ~1 - 6e-8 at j = 0.8. */
  def lshBands(sigs: DataFrame): DataFrame = {
    val bands = (0 until numBands).map { bIdx =>
      val cols = (0 until BandRows).map(r => col("sig").getItem(bIdx * BandRows + r))
      struct(lit(bIdx).as("band"), xxhash64(cols: _*).as("band_hash"))
    }
    sigs.select(col("id"), explode(array(bands: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))
  }

  /** Candidate pairs from shared LSH buckets (distinct, a < b).
    *
    * Hot-bucket cap: a band bucket above `maxBucket` members (a
    * boilerplate cluster hashing thousands of near-identical docs into
    * one (band, band_hash)) is DROPPED whole — its self-join would run
    * bucket² pairs inside a single task. The recall trade is explicit
    * and auditable: pairs living ONLY in oversized buckets are missed
    * (docs that similar are near-always caught by [[exact]] dedup first,
    * and any pair also sharing a sub-cap bucket still surfaces);
    * [[oversizedLshBuckets]] reports exactly what was dropped so a
    * pipeline can alert instead of silently stalling. The window count
    * shares the self-join's hash partitioning — no extra exchange. */
  def lshCandidates(
      bands: DataFrame,
      maxBucket: Int = LshBuckets.MaxBucket,
      failOversized: Boolean = false): DataFrame = {
    val b = LshBuckets.bounded(bands, Seq("band", "band_hash"), maxBucket, failOversized)
    b.as("x")
      .join(b.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Recall accounting for the hot-bucket cap: the (band, band_hash,
    * n_members) of every bucket [[lshCandidates]]/[[bandIndexKv]] would
    * drop at this cap. */
  def oversizedLshBuckets(bands: DataFrame, maxBucket: Int = LshBuckets.MaxBucket): DataFrame =
    bands.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)

  /**
   * Corpus-scale near-dup detection: MinHash -> LSH buckets -> exact
   * Jaccard verification of candidates only. With 32x4 banding, recall at
   * threshold 0.8 is 1 - (1-0.8^4)^32 ~ 0.9999999, and false positives are
   * removed by the exact verify — so output equals the exact all-pairs
   * result while touching ~linear data. The one qualification is the
   * hot-bucket cap (see [[lshCandidates]]): pairs confined to band
   * buckets above the cap — degenerate clusters of thousands of
   * near-identical docs — are dropped by design, with
   * [[oversizedLshBuckets]] as the audit.
   */
  def minHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      // The MinHash band hash is xxhash64 — no SQL oracle can replay the
      // hot-bucket drop (unlike the simhash/plane-LSH oracles, whose
      // banding is md5/dot-product replayable). Contract queries pass
      // true so a corpus with an oversized bucket fails LOUD instead of
      // silently diverging from the exhaustive-Jaccard oracle; pipeline
      // callers keep the dropping default (the declared recall trade,
      // audited by [[oversizedLshBuckets]]).
      failOversized: Boolean = false): DataFrame = {
    // The shingle SETS feed every consumer (signatures, sizes, both
    // verification sides) as an eager localCheckpoint: AQE stage reuse
    // does not compose transitively (see LshBuckets.keyPartitioned —
    // measured on this exact pipeline: the collect_set map stage ran
    // twice under the lazy layout), so the tokenize+shingle aggregation
    // is materialized ONCE and each consumer reads its blocks. The
    // per-doc set size is `size(shs)` on the set rows — a projection
    // where the previous layout re-aggregated the exploded shingle
    // table. Blocks are ContextCleaner-reaped when the caller drops the
    // result frame (the removeSharedSpansIterated ownership precedent;
    // OperatorsSpec "checkpoint blocks reap" pins the release).
    val sets = wordShingleSets(df, idCol, textCol).localCheckpoint(true)
    val sh = sets.select(col("id"), explode(col("shs")).as("shingle"))
    val sizes = sets.select(col("id"), size(col("shs")).cast("long").as("n_sh"))
    val cand = lshCandidates(lshBands(minHashSignatures(sh)), failOversized = failOversized)
    exactJaccardOfCandidates(sh, cand, threshold, precomputedSizes = Some(sizes))
  }

  /** Exact Jaccard verification restricted to a candidate pair set. No
    * broadcast hint: the candidate set is unbounded (quadratic inside dup
    * clusters), so the join strategy is left to the planner/AQE — small
    * candidate sets still broadcast automatically, huge ones shuffle
    * instead of blowing the broadcast limit.
    *
    * `precomputedSizes` (id, n_sh): callers that already hold the per-id
    * distinct-shingle count (minHashPairs derives it from the checkpointed
    * set rows) pass it to skip the count aggregation over `sh`. */
  def exactJaccardOfCandidates(
      sh: DataFrame,
      cand: DataFrame,
      threshold: Double,
      precomputedSizes: Option[DataFrame] = None): DataFrame = {
    val sizes = precomputedSizes.getOrElse(
      sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh")))
    val inter = sh.as("sa")
      .join(cand, col("sa.id") === col("id_a"))
      .join(sh.as("sb"),
        col("sb.id") === col("id_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    jaccardFilter(inter, sizes, threshold)
  }

  /** 32-bit SimHash over word tokens (frequency-weighted — every token
    * occurrence votes): per token take 32 bits of md5, each bit votes +-1;
    * sketch bit b is 1 iff the vote sum > 0. One aggregation with 32
    * partial-sum columns — no 32x bit-row explosion, single shuffle. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(
      col(idCol).as("id"),
      explode(TextAnalysis.wordTokens(col(textCol))).as("t"))
    val h32 = graft.functions.md5_prefix32(col("t"))
    val votes = (0 until 32)
      .map(b => sum(when(expr(s"(h >> $b) & 1") === 1, 1L).otherwise(-1L)).as(s"s$b"))
    tok.select(col("id"), h32.as("h"))
      .groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(
        col("id"),
        (0 until 32)
          .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
          .as("simhash"))
  }

  /**
   * Connected components over a near-dup pair set: the dedup *decision*.
   * Every id gets the component's minimum id as `rep_id`; keeping rows
   * where `id == rep_id` retains exactly one document per near-dup
   * cluster. Deterministic: labels are ids, min is order-free.
   *
   * Near-dup pairs are a tiny fraction of any sane corpus, so when the
   * pair set fits comfortably on the driver (`driverPairLimit`) the
   * clustering runs as an exact union-find there — one bounded collect
   * (`limit(driverPairLimit + 1)`, so an unexpectedly huge pair set cannot
   * flood the driver), no iteration, no caching — and only the component
   * map (smaller still) is broadcast back.
   *
   * Corpora whose pair set exceeds the limit run the distributed
   * alternating large-star/small-star algorithm (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14): each round
   * rewires every node toward its neighborhood minimum, converging in
   * O(log^2 n) rounds even on deep chains (min-label propagation would
   * need diameter rounds). Each round is materialized with an eager
   * localCheckpoint, so the plan stays O(1) deep and no operator-internal
   * persist outlives the call; at production scale point
   * `spark.sparkContext.setCheckpointDir` at durable storage and swap
   * `localCheckpoint()` for `checkpoint()` if executor loss during the
   * loop must be survivable. Non-convergence within `maxIters` throws —
   * a partial dedup decision must never pass silently.
   */
  def components(
      ids: DataFrame,
      pairs: DataFrame,
      maxIters: Int = 25,
      driverPairLimit: Long = 1000000L): DataFrame = {
    // Pairs touching ids absent from `ids` (docs filtered out after pair
    // generation) are ignored — otherwise the two execution paths would
    // disagree, and a representative could point outside the corpus
    // (dropping whole clusters under keep-where-id==rep_id).
    val idSet = ids.select(col("id").cast("long"))
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .join(idSet.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(idSet.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
    val limit = math.min(driverPairLimit, Int.MaxValue - 1L).toInt
    // One bounded action decides the path AND feeds the driver path: a
    // row count above the limit proves the pair set is "too big" without
    // ever materializing more than limit+1 rows on the driver.
    val probe = p.limit(limit + 1).collect()
    if (probe.length <= limit) {
      val spark = ids.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      probe.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) {
          // attach the larger root under the smaller: roots are component minima
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val reps = parent.keys.map(k => (k, find(k))).toSeq.toDF("id", "rep0")
      return ids.select(col("id"))
        .join(broadcast(reps), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("rep0"), col("id")).as("rep_id"))
    }
    val stars = starContraction(p, maxIters)
    val out = ids.select(col("id"))
      .join(stars.withColumnRenamed("src", "id").withColumnRenamed("dst", "rep0"),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("rep0"), col("id")).as("rep_id"))
    out
  }

  /**
   * Alternating large-star/small-star contraction. Input: undirected edges
   * as (id_a, id_b) longs. Output: one edge (node -> component minimum)
   * per non-root node — a star forest. Fixed point is detected with an
   * order-independent fingerprint (count + sum of per-edge hashes), one
   * aggregate per round.
   */
  private[graft] def starContraction(p: DataFrame, maxIters: Int): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    // Order-independent edge-set fingerprint: count + XOR of per-edge
    // hashes (xor, not sum: ANSI mode makes long sums overflow-checked,
    // and the edge set is distinct so nothing self-cancels).
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // large-star: every node u sends its *larger* neighbors to
    // m(u) = min(neighborhood(u) + u) — long chains fold toward minima.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      canon(sym.join(m, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
    }
    // small-star: every node u rewires its *smaller* neighbors (and
    // itself) to their minimum — stars flatten.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = canon(e) // (bigger -> smaller)
      val m = dir.groupBy(col("src")).agg(min(col("dst")).as("m"))
      canon(dir.join(m, "src")
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(m.select(col("src"), col("m").as("dst"))))
    }
    var edges = canon(p.select(col("id_a").as("src"), col("id_b").as("dst")))
      .localCheckpoint(true)
    var fp = fingerprint(edges)
    var it = 0
    while (it < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nfp = fingerprint(next)
      edges = next
      it += 1
      if (nfp == fp) return edges
      fp = nfp
    }
    throw new IllegalStateException(
      s"components: star contraction did not converge in $maxIters rounds — " +
        "raise maxIters; returning partial labels would silently under-dedup")
  }

  /**
   * Partial-overlap pairs: documents sharing at least one exact run of
   * `minLen` characters — the contamination/boilerplate-reuse detector
   * that *set*-based dedup (Jaccard/MinHash/SimHash) structurally misses
   * (a 200-char verbatim quote inside two otherwise-unrelated documents
   * moves their shingle-set Jaccard barely above 0).
   *
   * Winnowing-style content-defined anchoring (the MOSS lineage): a
   * position is an anchor iff the Rabin-Karp rolling hash of its
   * `window`-char context falls in 1/`modulus` of hash space
   * ([[graft.core.Anchors]]). Anchors depend only on local CONTENT, so a
   * run shared by two documents produces the same anchors in both
   * regardless of where it sits (position-shift invariance pinned in
   * OperatorsSpec) — the `minLen`-char substring at each anchor is the
   * fingerprint (md5, anchors only), and one equi-join on fingerprint
   * hashes pairs the documents. Three shuffles, all of anchor-sized data
   * (the (id, fp) distinct, the join on fp, the final pair distinct); no
   * O(N^2) anywhere — a fingerprint shared by more than `maxBucket`
   * documents is dropped whole before the self-join (the lshCandidates
   * hot-bucket rule: B co-anchored docs would emit B²/2 pairs in one
   * task), so corpus-wide boilerplate bounds the task instead of
   * stalling it.
   *
   * Detection is probabilistic in run length r: a shared run is found iff
   * an anchor lands in its first r - minLen positions, p ~ 1 -
   * (1 - 1/modulus)^(r - minLen) (~97% at r = 2*minLen with the
   * defaults); emitted pairs are never false positives at the fingerprint
   * level (both sides hashed the same minLen chars). The anchor rule is a
   * plain mod-p polynomial fold per window, so the DuckDB oracle replays
   * it exactly with a per-window list fold.
   *
   * Cost model: ONE O(len) rolling pass per document inside whole-stage
   * codegen ([[graft.core.AnchorPositionsExpr]] — constant work per
   * character, no per-position md5), then one fingerprint-md5 per anchor
   * (1/modulus of positions); only anchors ever become rows (the explode
   * is over the ~len/modulus anchor array, never an O(len) position
   * range), and only anchors reach a shuffle.
   */
  /** The ONE anchored-fingerprint kernel (id, pos, fp) shared by the
    * pair detector, the span cut, and the published fingerprint index —
    * the three must fingerprint identically or probes miss what builds
    * indexed (the Search.docIdLong one-definition rule). `pos` is the
    * 1-based CODEPOINT position; `fp` the md5 hex of the minLen-codepoint
    * run at it. Anchors are content-defined ([[graft.core.Anchors]]), so
    * a shared run fingerprints identically wherever it sits. */
  private def anchorOccurrences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      window: Int,
      modulus: Int): DataFrame = {
    require(window >= 1 && window <= minLen,
      s"anchor window $window must be in [1, minLen=$minLen]")
    require(modulus >= 1, s"modulus must be >= 1, got $modulus (1 anchors everywhere)")
    df.select(col(idCol).as("id"), col(textCol).as("t"))
      .where(length(col("t")) >= minLen)
      .select(col("id"), col("t"),
        explode(graft.functions.anchor_positions(col("t"), window, modulus)).as("pos"))
      // the anchor kernel emits every window position; fingerprints need
      // minLen chars of runway
      .where(col("pos") <= length(col("t")) - (minLen - 1))
      .select(col("id"), col("pos"), md5(expr(s"substring(t, pos, $minLen)")).as("fp"))
  }

  def sharedSubstringPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 64,
      window: Int = 8,
      modulus: Int = 16,
      maxBucket: Int = LshBuckets.MaxBucket): DataFrame = {
    val fp = anchorOccurrences(df, idCol, textCol, minLen, window, modulus)
      .select(col("id"), col("fp"))
      .dropDuplicates("id", "fp")
    // Hot-fingerprint cap (the lshCandidates rule): a 64-char run shared
    // VERBATIM by B documents (legal footer, license header — exactly
    // this operator's target class) puts B rows under one fp and the
    // self-join emits B²/2 pairs inside ONE task. Buckets past the cap
    // are dropped whole — bounding any single bucket's task — and the
    // window count shares the join's fp hash partitioning, so the cap
    // costs no extra exchange. Pairs of a dropped run simply don't emit
    // (boilerplate that common is a [[TextAnalysis.boilerplateRemoval]]
    // job, not a pair listing).
    val capped = LshBuckets.bounded(fp, Seq("fp"), maxBucket)
    capped.as("a")
      .join(capped.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /**
   * Span-level duplicate-text REMOVAL — the cut step of Lee et al. 2022
   * ("Deduplicating Training Data Makes Language Models Better", the half
   * [[sharedSubstringPairs]] doesn't do): where the detector only LISTS
   * documents sharing a verbatim >= `minLen`-codepoint run, this produces
   * the CLEANED corpus — every anchored duplicate span is kept in exactly
   * ONE place (the lexicographically first (id, position) occurrence:
   * keep-first by doc id, then by position) and excised, codepoint-
   * exactly, everywhere else.
   *
   * Shares the detector's anchoring verbatim (same kernel, same
   * fingerprint definition — the two operators cannot drift): a CUT SITE
   * is any anchored occurrence (id, pos) of a fingerprint that is not
   * that fingerprint's keeper. Per document the sites excise as intervals
   * `[pos, pos + minLen)` over the ORIGINAL codepoint positions in one
   * left-to-right fold, overlaps coalescing naturally — consecutive
   * anchors inside one long shared run chain their intervals, so the run
   * is removed end to end, not just its first minLen chars.
   *
   * Distributed shape: NO self-join anywhere — unlike pair listing, the
   * cut decision is a per-fingerprint MIN (one aggregation), so no
   * hot-bucket cap is needed and corpus-wide boilerplate costs one row
   * per occurrence, linear at any corpus size (the pair listing's
   * B²/2 blow-up class cannot occur). Exchanges carry (id, pos, fp)
   * anchor rows and per-doc position lists only; document text
   * re-attaches once, by id. The excision is per-row codegen compute,
   * ONE O(len) byte pass per document ([[graft.core.SpanExciseExpr]]) —
   * linear even for a mostly-duplicated document whose cut-site count
   * approaches len/modulus — and shuffle-free.
   *
   * Deterministic and SQL-replayable end to end (anchor rule = the
   * detector's mod-p rolling fold, keeper = min, excision = substring
   * arithmetic), so the contract oracle hash-checks the full cleaned
   * text. One pass removes every anchored occurrence found in the
   * ORIGINAL corpus; as in Lee et al., an excision can join previously-
   * distant text, so two non-keeper documents cut identically may (in
   * principle) expose new shared windows across a cut boundary — iterate
   * to a fixpoint if the corpus demands it (OperatorsSpec pins one-pass
   * convergence on the detector's own target class).
   *
   * Output: one row per input document — (idCol, n_cuts, textCol), the
   * cleaned text under the original column name; untouched documents
   * pass through verbatim with n_cuts = 0.
   */
  def removeSharedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 64,
      window: Int = 8,
      modulus: Int = 16): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("t"))
    // the detector's exact fingerprint rows, with the anchor POSITION kept
    val occ = anchorOccurrences(df, idCol, textCol, minLen, window, modulus)
    // keeper of a fingerprint = its first occurrence in (id, pos) order;
    // a fingerprint occurring once is its own keeper and cuts nothing
    val keeper = occ.groupBy("fp").agg(min(struct(col("id"), col("pos"))).as("k"))
    val cuts = occ.join(keeper, Seq("fp"))
      .where(col("id") =!= col("k.id") || col("pos") =!= col("k.pos"))
      .select(col("id"), col("pos"))
    val perDoc = cuts.groupBy("id")
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
    // One codegen pass excises every interval [p, p + minLen), overlaps
    // coalescing left to right ([[graft.core.SpanExciseExpr]]) — O(len)
    // per document where the equivalent `aggregate(ps, ...)` HOF fold
    // was interpreted per cut site with quadratic string assembly
    // (OperatorsSpec pins the two formulations equal).
    val excised = graft.functions.span_excise(col("t"), col("ps"), minLen)
    base.join(perDoc, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(size(col("ps")), lit(0)).cast("long").as("n_cuts"),
        when(col("ps").isNull, col("t")).otherwise(excised).as(textCol))
  }

  /**
   * [[removeSharedSpans]] iterated to a FIXPOINT — Lee et al. 2022's
   * iterate-to-convergence note made an operator: an excision can join
   * previously-distant text, and when two non-keeper documents are cut
   * identically the joined text can expose a NEW shared >= minLen run
   * across the cut boundary that the original corpus never contained.
   * One pass cannot see it (the detector ran on the original text);
   * this re-detects + re-cuts until a round finds zero cut sites.
   *
   * Driver-loop shape (the [[components]] precedent): each round runs the
   * one-pass operator to a materialized intermediate (eager
   * `localCheckpoint` — multi-pass algorithms must not recompute a
   * re-sampled lineage, the repartitionByRange rule), folds the running
   * cut total in (one cheap join against the PREVIOUS round's
   * materialized rows — never a self-join of the unmaterialized
   * pipeline), and probes the new total; rounds are data-dependent,
   * typically 2 (the second round IS the convergence proof). Past
   * `maxRounds` detection rounds the operator fails LOUD — a corpus
   * still cutting at the bound is either adversarial or
   * mis-parameterized, and silently returning a non-fixpoint would
   * break the operator's one contract.
   *
   * The RETURNED frame is the final round's ALREADY-PAID checkpoint (the
   * converged round cut nothing, so its rows ARE the fixpoint): the
   * detector runs exactly `rounds` times total and downstream actions
   * replay nothing — where re-composing the passes lazily would run the
   * whole chain again per action (the r13 shape: a 1-round corpus paid
   * the detector 3×). Superseded rounds are unpersisted before
   * returning; the returned checkpoint is reaped by the ContextCleaner
   * when the caller drops the frame (the [[IndexDelete]] precedent —
   * deliberately NOT in the lazy-operator no-cache pin, whose list
   * covers operators returning pure plans). NOTE the frame is
   * CORPUS-SIZED (id, n_cuts, full cleaned text) and
   * lineage-truncated: the caller owns those blocks until it drops the
   * reference — write the result out (the normal pipeline step after a
   * span cut) or release it promptly; a lost executor cannot recompute
   * a truncated frame, so long-lived holders should prefer persisting
   * to storage over keeping the handle.
   *
   * Output: [[removeSharedSpans]]'s schema — (idCol, n_cuts, textCol) —
   * with `n_cuts` the TOTAL cut sites across all rounds.
   */
  def removeSharedSpansIterated(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 64,
      window: Int = 8,
      modulus: Int = 16,
      maxRounds: Int = 4): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    def onePass(d: DataFrame): DataFrame =
      removeSharedSpans(d, idCol, textCol, minLen, window, modulus)
    // superseded rounds, released on every exit path; the final round's
    // checkpoint is the return value and survives
    val superseded = scala.collection.mutable.Buffer[DataFrame]()
    var acc: DataFrame = null
    var ok = false
    try {
      var rounds = 0
      var cumTotal = 0L
      var lastCuts = -1L
      while (lastCuts != 0L) {
        if (rounds == maxRounds)
          throw new IllegalStateException(
            s"removeSharedSpansIterated: no fixpoint after $maxRounds detection rounds " +
              s"(the last round still found cut sites) — raise maxRounds or inspect the " +
              "corpus; returning a non-converged cut would violate the operator contract")
        val base =
          if (acc == null) df.select(col(idCol), col(textCol))
          else acc.select(col(idCol), col(textCol))
        val pass = onePass(base)
        // fold the running total so the returned rows carry cumulative
        // n_cuts; the join's right side is last round's MATERIALIZED
        // checkpoint — tiny, and never re-runs the detector
        val cum =
          if (acc == null) pass
          else pass
            .join(acc.select(col(idCol), col("n_cuts").as("_nc_prev")), Seq(idCol))
            .select(
              col(idCol),
              (col("_nc_prev") + col("n_cuts")).as("n_cuts"),
              col(textCol))
        val ck = cum.localCheckpoint(true)
        if (acc != null) superseded += acc
        acc = ck
        rounds += 1
        val total = ck.agg(coalesce(sum(col("n_cuts")), lit(0L))).head().getLong(0)
        lastCuts = total - cumTotal
        cumTotal = total
      }
      ok = true
      // the converged round cut nothing: its text equals the fixpoint and
      // its cumulative n_cuts gained zero — these rows ARE the answer
      acc
    } finally {
      superseded.foreach(_.unpersist(true))
      if (!ok && acc != null) acc.unpersist(true)
    }
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist, exhaustively
    * (O(N^2) — the audit/oracle twin of [[simHashPairsBanded]]). Enforced
    * audit bound: > `maxRows` sketches throws (see [[AuditBound]]). */
  def simHashPairs(
      simhashes: DataFrame,
      maxDist: Int,
      maxRows: Long = AuditBound.MaxAuditRows): DataFrame = {
    AuditBound.check(simhashes, maxRows, "simHashPairs", "simHashPairsBanded")
    simhashes.as("a")
      .join(simhashes.as("b"), col("a.id") < col("b.id"))
      .withColumn("dist", expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)"))
      .where(col("dist") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))
  }

  /**
   * Corpus-scale SimHash pairing: band the 32-bit sketch into `chunks`
   * equal bit-ranges; by pigeonhole, two sketches within Hamming distance
   * maxDist < chunks must agree exactly on at least one chunk, so an
   * equi-join on (chunk index, chunk value) yields a candidate superset
   * and the exact bit_count check removes false positives — output is
   * identical to [[simHashPairs]] while the join touches only same-bucket
   * pairs (~linear for non-degenerate corpora, same shape as MinHash-LSH
   * banding).
   *
   * Hot-bucket cap (same rule and rationale as [[lshCandidates]]): a
   * (chunk, cv) bucket above `maxBucket` members — identical sketches
   * from a boilerplate cluster land the same cv in EVERY chunk — is
   * dropped whole; the contract oracle replays the identical banding +
   * cap, so the query stays hash-checkable at any corpus size.
   */
  def simHashPairsBanded(
      simhashes: DataFrame,
      maxDist: Int,
      chunks: Int = 4,
      maxBucket: Int = LshBuckets.MaxBucket): DataFrame = {
    require(maxDist < chunks, s"pigeonhole needs maxDist < chunks (got $maxDist >= $chunks)")
    require(32 % chunks == 0, "chunks must divide 32")
    val width = 32 / chunks
    val mask = (1L << width) - 1L
    // No persist: both self-join sides are the identical banded subplan,
    // whose sketch aggregate ends in an exchange ReuseExchange dedups —
    // the sketch computes once, and nothing outlives the query (the leak
    // class ADVICE r1 flagged; pinned by the pin-no-cache spec).
    val sh = simhashes
    val banded = LshBuckets.bounded(
      sh.select(
          col("id"), col("simhash"),
          explode(array((0 until chunks).map { c =>
            struct(lit(c).as("chunk"), expr(s"(simhash >> ${c * width}) & $mask").as("cv"))
          }: _*)).as("b"))
        .select(col("id"), col("simhash"), col("b.chunk").as("chunk"), col("b.cv").as("cv")),
      Seq("chunk", "cv"), maxBucket)
    banded.as("x")
      .join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("dist"))
      .where(col("dist") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * A corpus's MinHash-LSH band buckets as publishable KV rows — key =
   * (band:int_be, band_hash:long_be), value = comma-joined member doc
   * ids. Publish with `DomainStore.write` to get a versioned, sharded
   * dedup INDEX that later deltas probe by point lookup
   * ([[dedupAgainstIndex]]) — at 100 TB this is how a daily delta avoids
   * re-banding the full corpus (the engine's KV half applied to its
   * pipeline half). Ids are sorted for deterministic bytes; bucket
   * membership, not order, carries the semantics.
   *
   * Hot-bucket cap (same rule and rationale as [[lshCandidates]]): a
   * bucket above `maxBucket` members never materializes a member list —
   * the capped aggregate ([[LshBuckets.boundedMembers]]) overflows its
   * buffer map-side, bounding the value cell (≤ maxBucket ids, ~80 KB
   * at the default, never the multi-MB blob a boilerplate cluster would
   * pack), the exchange, AND the probe-side explode — but its KEY is
   * published as a [[graft.core.IndexTombstone]] row so incremental
   * upserts keep it dropped instead of silently resurrecting it with
   * delta-only members.
   * Probes of a tombstoned bucket miss (the documented cap semantics);
   * [[oversizedLshBuckets]] over the same bands is the audit.
   */
  def bandIndexKv(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      maxBucket: Int = LshBuckets.MaxBucket,
      // xxhash64 banding is not SQL-replayable, so an exact-Jaccard
      // oracle cannot see the drop OR the tombstone row — contract/
      // oracle-verified builds pass true to fail loud instead (the
      // minHashPairs rationale); production publishes keep the
      // documented tombstoning default.
      failOversized: Boolean = false): DataFrame = {
    import graft.functions.{composite_key, int_be, long_be, utf8_bytes}
    val bands = lshBands(minHashSignatures(wordShingles(corpus, idCol, textCol)))
    def bandKey = composite_key(int_be(col("band")), long_be(col("band_hash"))).as("key")
    // ONE capped aggregation pass (LshBuckets.boundedMembers): members
    // collect and the cap decide together — a hot bucket overflows its
    // partial buffer map-side, so no exchange ever carries its rows
    val member = col("id").cast("string")
    val bc = LshBuckets.boundedMembers(
      bands, Seq("band", "band_hash"), member, member, maxBucket)
    val buckets =
      if (failOversized)
        bc.select(bandKey, utf8_bytes(
          when(col("_members").isNotNull, concat_ws(",", col("_members")))
            .otherwise(raise_error(concat(
              lit("bucket (band="), col("band").cast("string"),
              lit(", band_hash="), col("band_hash").cast("string"),
              lit(s") exceeds the hot-bucket cap $maxBucket with "),
              col("_n").cast("string"),
              lit(" members — this caller's oracle cannot replay the drop; " +
                "inspect with oversizedLshBuckets, then dedup the degenerate " +
                "cluster (exact dedup / boilerplate removal) or use the " +
                "tombstoning default explicitly"))))).as("value"))
      else
        bc.select(bandKey, utf8_bytes(
          when(col("_members").isNull, lit(graft.core.IndexTombstone.Value))
            .otherwise(concat_ws(",", col("_members")))).as("value"))
    // the type authority: the index families share this key shape
    // with different value grammars — see IndexMarker. The cap-semantics
    // marker records that this publish tombstones its cap-dropped
    // buckets (upserts gate on it — IndexMarker.requireTombstoneCap);
    // the fail-loud contract mode raises instead of dropping, which is
    // tombstone-compatible by vacuity, so it carries the marker too.
    buckets
      .unionByName(IndexMarker.row(corpus.sparkSession, BandIndexType))
      .unionByName(IndexMarker.capRow(corpus.sparkSession))
  }

  /** The band family's (key, rid) rows — the pre-aggregation half of
    * [[bandIndexKv]]'s key kernel, so a mass takedown never packs a
    * per-bucket member array (the [[IndexDelete.publishRemoval]] row
    * contract). */
  private def bandKeyRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.{composite_key, int_be, long_be}
    lshBands(minHashSignatures(wordShingles(docs, idCol, textCol)))
      .select(
        composite_key(int_be(col("band")), long_be(col("band_hash"))).as("key"),
        col("id").cast("string").as("rid"))
  }

  /** [[bandIndexKv]]'s `m:index-type` marker value. */
  val BandIndexType = "lsh-band"

  /**
   * The lifecycle of a PUBLISHED [[bandIndexKv]] domain ([[IndexFamily]]):
   * after a delta is deduped against the index ([[dedupAgainstIndex]]),
   * `upsert` folds its survivors' band keys in so tomorrow's delta probes
   * them too; `delete` takes docs down by their text AS INDEXED;
   * `update` does both in one version; `idAudit` / `removalAudit` audit
   * drift and takedowns. `maxBucket` must be the build's cap. Recall
   * accounting for cap-dropped buckets is [[oversizedLshBuckets]] at
   * build time.
   */
  def bandIndex(
      idCol: String,
      textCol: String,
      maxBucket: Int = LshBuckets.MaxBucket): IndexFamily = {
    val rows = (docs: DataFrame) => bandKeyRows(docs, idCol, textCol)
    new IndexFamily("band", BandIndexType, idCol, maxBucket,
      (df, cap) => bandIndexKv(df, idCol, textCol, maxBucket = cap), rows, rows)
  }

  /** `bandIndex(idCol, textCol).upsert(index, delta, newVersion)`. */
  def bandIndexUpsert(
      index: graft.store.DomainStore,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      newVersion: Long): Unit =
    bandIndex(idCol, textCol).upsert(index, delta, newVersion)

  /**
   * Dedup `incoming` docs against a PUBLISHED [[bandIndexKv]] domain:
   * band the incoming docs, probe the index with hits-only point lookups
   * (`multiGet(includeMisses = false)` — the incoming band keys are a
   * bounded probe set by the incremental contract, so the index scan
   * prunes to their shards and bloom sidecars kill definite misses; a
   * miss just means "no candidates"), then exact-verify candidates with
   * the true Jaccard against `corpus`. Incoming and corpus id spaces
   * must be disjoint (pairs are oriented incoming -> corpus), and ids
   * must be INTEGRAL (they round-trip through the index values as
   * decimal strings — fail loud here, not as an ANSI cast error later).
   *
   * Per-call cost is O(incoming + candidates), NOT O(corpus): the verify
   * shingles only the corpus rows named by candidate pairs (semi-join
   * first), the incoming shingle table is persisted across every action
   * issued before the finally-unpersist (the probe's driver-side key
   * routing, the candidate checkpoint, the result checkpoint), and the
   * candidate set is checkpointed so the band pipeline never re-runs.
   * Only the small result/candidate blocks outlive the call
   * (ContextCleaner-reaped — the ngramJaccardPairs pattern).
   *
   * Jumbo batches need no escape hatch: multiGet's bounded decision
   * probe switches to the co-shuffled join on its own when a backlog
   * delta's band keys exceed [[graft.store.DomainStore.MaxDriverKeys]]
   * (no pruning — such a batch touches every shard anyway), so no flag
   * the caller could forget can driver-OOM this path.
   *
   * Output: (delta_id, corpus_id, jaccard), one row per verified pair —
   * banding recall at the threshold is ~1 - 6e-8 (see [[minHashPairs]]),
   * so this equals the exhaustive incoming x corpus Jaccard.
   */
  def dedupAgainstIndex(
      store: graft.store.DomainStore,
      incoming: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.{bytes_utf8, composite_key, int_be, long_be}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq("incoming" -> incoming, "corpus" -> corpus).foreach { case (side, df) =>
      df.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw new IllegalArgumentException(
          s"dedupAgainstIndex: $side id column '$idCol' must be integral " +
            s"(ids travel through index values as decimal strings), got ${other.simpleString}")
      }
    }
    IndexMarker.require(
      store, incoming.sparkSession, BandIndexType, "dedupAgainstIndex", "bandIndexKv")
    // Scoped persists (released in finally — the result is an eager
    // checkpoint, so nothing returned depends on them): the SET rows,
    // not the exploded shingles — the exploded table, the probe
    // signatures, and the per-doc sizes all derive from them by cheap
    // projections, so the tokenize+collect_set pipeline runs once per
    // side (the verify tail reads the union three times: sizes, sa, sb).
    // (no eager fill: the multiGet decision probe is the first and only
    // cold-cache consumer — later actions hit the filled cache)
    val setsIn = wordShingleSets(incoming, idCol, textCol).persist()
    try {

      val shIn = setsIn.select(col("id"), explode(col("shs")).as("shingle"))
      val probes = lshBands(minHashSignatures(shIn)).select(
        col("id").as("id_a"),
        composite_key(int_be(col("band")), long_be(col("band_hash"))).as("key"))
      // a tombstoned bucket (cap-dropped at publish) is a MISS — no
      // candidates, the documented cap semantics
      val hits = store.multiGet(probes.select(col("key")), includeMisses = false)
        .where(bytes_utf8(col("value")) =!= lit(graft.core.IndexTombstone.Value))
      val cand = probes.join(hits, "key")
        .select(col("id_a"), explode(split(bytes_utf8(col("value")), ",")).as("cid"))
        .select(col("id_a"), col("cid").cast("long").as("id_b"))
        .distinct()
        .localCheckpoint(true)
      // The incoming/corpus id spaces must be DISJOINT (pairs are oriented
      // incoming -> corpus; an overlapping id would silently merge both
      // documents' shingle sets in the verify union below). The harmful
      // set is exactly the candidate CORPUS ids that also occur among the
      // incoming ids — only those corpus rows enter the shingle union —
      // so probe that intersection (bounded: candidates are checkpointed,
      // the incoming id column is the delta), not merely id_a == id_b
      // pairs (which would only fire when the two same-id TEXTS happen to
      // co-band). Fail loud, like the integral-id contract above.
      val inIds = incoming.select(col(idCol).cast("long").as("_in_id"))
      val clash = cand.join(inIds, col("id_b") === col("_in_id"), "left_semi")
        .limit(1).collect()
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"dedupAgainstIndex: id ${clash(0).get(1)} appears on both the incoming and corpus " +
          "sides — id spaces must be disjoint (pairs are oriented incoming -> corpus)")
      // project corpus to its two named columns and probe under a
      // reserved name: a wide corpus carrying its own `id_b` column would
      // otherwise make the join condition ambiguous (left_semi already
      // deduplicates, so no distinct pass on the candidate ids)
      val corpusNeeded = corpus.select(col(idCol), col(textCol)).join(
        cand.select(col("id_b").as("_cand_id")), col(idCol) === col("_cand_id"), "left_semi")
      val sets = wordShingleSets(corpusNeeded, idCol, textCol).unionByName(setsIn).persist()
      try {
        sets.count() // fill the cache before the verify's three consumers race on it

        val sh = sets.select(col("id"), explode(col("shs")).as("shingle"))
        val sizes = sets.select(col("id"), size(col("shs")).cast("long").as("n_sh"))
        exactJaccardOfCandidates(sh, cand, threshold, precomputedSizes = Some(sizes))
          .select(col("id_a").as("delta_id"), col("id_b").as("corpus_id"), col("jaccard"))
          .localCheckpoint(true)
      } finally sets.unpersist()
    } finally setsIn.unpersist()
  }

  /** [[fpIndexKv]]'s `m:index-type` marker / spec-indexType value —
    * ONE definition, owned by the Spark-free serving side. */
  val SpanIndexType: String = graft.store.OverlapReader.IndexType

  /**
   * Publish the corpus's anchored FINGERPRINTS as a KV domain — the
   * shared-substring family's index twin (the fourth membership-index
   * family beside the text band, image phash, and semantic cell
   * indexes): key = the 16 raw md5 bytes of a minLen-codepoint anchored
   * run, value = the comma-joined (string-sorted) member doc ids. An
   * incoming delta then detects VERBATIM overlap against the corpus by
   * POINT LOOKUP ([[sharedSubstringAgainstIndex]]) — no corpus
   * re-anchoring, no re-shingling, no verify pass at all (fingerprints
   * are exact at the minLen level: both sides hashed the same chars) —
   * the decontamination/boilerplate-provenance check a daily delta runs
   * against yesterday's corpus at 100 TB.
   *
   * The detector's hot-fingerprint cap applies at publish (a fingerprint
   * shared by more than `maxBucket` docs is corpus-wide boilerplate, a
   * [[TextAnalysis.boilerplateRemoval]] job, not a membership list);
   * capped fingerprints keep their key as [[graft.core.IndexTombstone]]
   * rows (probes miss them, upserts keep them dropped). Unlike the
   * xxhash64 band index, md5 fingerprints ARE SQL-replayable, so the
   * contract oracle replays the cap exactly (HAVING count <= cap, the
   * phash/sem-family pattern; no fail-loud contract mode needed —
   * probes filter tombstones, so the oracle never sees them).
   *
   * Key-shape note (IndexMarker doc): raw md5 keys are 16 bytes — the
   * `m:index-type` marker key is 12 bytes, so the two can never collide
   * on EQUALITY even though a fingerprint's first byte can be 0x6D.
   */
  def fpIndexKv(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 64,
      window: Int = 8,
      modulus: Int = 16,
      maxBucket: Int = LshBuckets.MaxBucket): DataFrame = {
    import graft.functions.utf8_bytes
    // every consumer parses the published ids as longs (OverlapReader's
    // raw .toLong, sharedSubstringAgainstIndex's ANSI cast) — a string-id
    // corpus must fail HERE at publish, not at the first admission probe
    IndexDelete.requireIntegralId(corpus, idCol, "fpIndexKv")
    val fps = anchorOccurrences(corpus, idCol, textCol, minLen, window, modulus)
      .select(col("id"), col("fp"))
      .dropDuplicates("id", "fp")
    // cap-dropped fingerprints keep their key as a tombstone row (see
    // IndexTombstone: upserts must keep them dropped, probes miss them);
    // one capped aggregation pass (LshBuckets.boundedMembers)
    val member = col("id").cast("string")
    LshBuckets.boundedMembers(fps, Seq("fp"), member, member, maxBucket)
      .select(unhex(col("fp")).as("key"), utf8_bytes(
        when(col("_members").isNull, lit(graft.core.IndexTombstone.Value))
          .otherwise(concat_ws(",", col("_members")))).as("value"))
      .unionByName(IndexMarker.row(corpus.sparkSession, SpanIndexType))
      .unionByName(IndexMarker.capRow(corpus.sparkSession))
  }

  /** The fingerprint family's (key, rid) rows — the pre-aggregation
    * half of [[fpIndexKv]]'s key kernel
    * (the [[IndexDelete.publishRemoval]] row contract). */
  private def fpKeyRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      window: Int,
      modulus: Int): DataFrame =
    anchorOccurrences(docs, idCol, textCol, minLen, window, modulus)
      .select(unhex(col("fp")).as("key"), col("id").cast("string").as("rid"))

  /**
   * The lifecycle of a PUBLISHED [[fpIndexKv]] domain ([[IndexFamily]]),
   * at the build's anchor geometry (`minLen`/`window`/`modulus` define
   * the key bytes, so the descriptor carries them into every op). A
   * boilerplate fingerprint shared by 100M removed docs is the design
   * point of a takedown: removal stays (key, id) rows end to end.
   * `keyRows` lets a caller pay the anchor derivation once and share it
   * between `deleteRows` and `removalAuditRows`.
   */
  def fpIndex(
      idCol: String,
      textCol: String,
      minLen: Int = 64,
      window: Int = 8,
      modulus: Int = 16,
      maxBucket: Int = LshBuckets.MaxBucket): IndexFamily = {
    val rows = (docs: DataFrame) => fpKeyRows(docs, idCol, textCol, minLen, window, modulus)
    new IndexFamily("fp", SpanIndexType, idCol, maxBucket,
      (df, cap) => fpIndexKv(df, idCol, textCol, minLen, window, modulus, cap), rows, rows)
  }

  /**
   * Detect verbatim >= minLen-codepoint overlap of `incoming` docs
   * against a PUBLISHED [[fpIndexKv]] domain: anchor the incoming text,
   * probe the fingerprints with hits-only point lookups (bounded probe
   * set by the incremental contract — shard-pruned, bloom sidecars kill
   * definite misses; a jumbo delta auto-switches to the co-shuffled
   * join via multiGet's decision probe), and emit the oriented pairs.
   * NO exact-verify stage exists or is needed — a fingerprint hit IS a
   * shared minLen-char run (md5 over the same chars on both sides), so
   * per-call cost is O(incoming anchors + hits) with the corpus never
   * read. Same recall as [[sharedSubstringPairs]] on the same
   * parameters: detection is probabilistic in run length via anchor
   * density, exact at the fingerprint level, minus publish-time
   * cap-dropped fingerprints (corpus-wide boilerplate — replayed by the
   * oracle).
   *
   * Output: (delta_id, corpus_id), one row per overlapping pair. Ids
   * must be integral and the id spaces disjoint (pairs are oriented
   * incoming -> corpus) — both fail loud, the dedupAgainstIndex
   * contract.
   */
  def sharedSubstringAgainstIndex(
      store: graft.store.DomainStore,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 64,
      window: Int = 8,
      modulus: Int = 16): DataFrame = {
    import graft.functions.bytes_utf8
    IndexDelete.requireIntegralId(incoming, idCol, "sharedSubstringAgainstIndex")
    IndexMarker.require(
      store, incoming.sparkSession, SpanIndexType, "sharedSubstringAgainstIndex", "fpIndexKv")
    val probes = anchorOccurrences(incoming, idCol, textCol, minLen, window, modulus)
      .select(col("id").as("delta_id"), unhex(col("fp")).as("key"))
      .dropDuplicates("delta_id", "key")
      .localCheckpoint(true) // feeds the probe, the join, and the clash check
    // a tombstoned fingerprint (cap-dropped corpus-wide boilerplate at
    // publish) is a MISS — no candidates, the documented cap semantics
    val hits = store.multiGet(probes.select(col("key")), includeMisses = false)
      .where(bytes_utf8(col("value")) =!= lit(graft.core.IndexTombstone.Value))
    val cand = probes.join(hits, "key")
      .select(col("delta_id"), explode(split(bytes_utf8(col("value")), ",")).as("cid"))
      .select(col("delta_id"), col("cid").cast("long").as("corpus_id"))
      .distinct()
      .localCheckpoint(true)
    // oriented pairs require DISJOINT id spaces: a corpus id that also
    // names an incoming doc would read as cross-corpus overlap when it
    // may be the same document — fail loud (the dedupAgainstIndex rule)
    val inIds = incoming.select(col(idCol).cast("long").as("_in_id"))
    val clash = cand.join(inIds, col("corpus_id") === col("_in_id"), "left_semi")
      .limit(1).collect()
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"sharedSubstringAgainstIndex: id ${clash(0).get(1)} appears on both the " +
        "incoming and corpus sides — id spaces must be disjoint (pairs are " +
        "oriented incoming -> corpus)")
    cand
  }
}
