package perfbench

import java.nio.charset.StandardCharsets.US_ASCII

/** Seeded input generation. Every key, value and document is a pure
  * function of (seed, index, epoch), so the answer checker recomputes the
  * expected answer for any key at any served version without storing it. */
object Gen {

  /** splitmix64's finalizer: a bijection on 64-bit words. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long): Long =
    mix(mix(seed * 0x9E3779B97F4A7C15L + a) + b * 0xC2B2AE3D27D4EB4FL)

  private val HexDigits = "0123456789abcdef".getBytes(US_ASCII)

  private def putHex(out: Array[Byte], at: Int, word: Long, n: Int): Unit = {
    var i = 0
    while (i < n) {
      out(at + i) = HexDigits(((word >>> (60 - 4 * i)) & 0xF).toInt)
      i += 1
    }
  }

  /** Key of record `i`: 16 hex digits of a bijection of (seed, i), so keys
    * never collide and routing spreads them over every shard. */
  def key(seed: Long, i: Long): Array[Byte] = {
    val out = new Array[Byte](16)
    putHex(out, 0, mix(i ^ mix(seed)), 16)
    out
  }

  /** Value of record `i` written at `epoch`: 80 to 120 seeded hex digits.
    * Hex digits carry 4 bits per byte, so values compress about 2x, like
    * real ids and digests do, and unlike constant padding. */
  def value(seed: Long, i: Long, epoch: Int): Array[Byte] = {
    val h0 = hash(seed, i, epoch)
    val len = 80 + java.lang.Long.remainderUnsigned(h0, 41).toInt
    val out = new Array[Byte](len)
    var w = h0
    var at = 0
    while (at < len) {
      w = mix(w + 0x9E3779B97F4A7C15L)
      val n = math.min(16, len - at)
      putHex(out, at, w, n)
      at += n
    }
    out
  }

  /** Patch membership of record `i` at `epoch`: about 1% of records are
    * upserted with a new value and 0.5% deleted, disjointly. */
  def patchSlot(seed: Long, epoch: Int, i: Long): Int =
    java.lang.Long.remainderUnsigned(hash(seed ^ 0x5A5AL, epoch, i), 1000).toInt
  def isUpserted(seed: Long, epoch: Int, i: Long): Boolean = patchSlot(seed, epoch, i) < 10
  def isDeleted(seed: Long, epoch: Int, i: Long): Boolean = {
    val s = patchSlot(seed, epoch, i)
    s >= 10 && s < 15
  }

  /** Zipf(theta) over `n` ranks, sampled by inverting a precomputed CDF.
    * Rank r maps to record `(r * stride + offset) mod n`: the hot set is a
    * seeded scatter of records, and since keys are hashed it lands on
    * every shard. */
  final class Zipf(n: Int, theta: Double, seed: Long) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / math.pow(r + 1.0, theta); c(r) = acc; r += 1 }
      r = 0
      while (r < n) { c(r) /= acc; r += 1 }
      c
    }
    private val stride: Long = {
      var s = 1000003L
      while (BigInt(s).gcd(BigInt(n)) != 1) s += 2
      s
    }
    private val offset: Long = java.lang.Long.remainderUnsigned(mix(seed), n.toLong)

    /** Rank (0 = hottest) for a uniform draw `u` in [0, 1). */
    def rank(u: Double): Int = {
      val at = java.util.Arrays.binarySearch(cdf, u)
      val r = if (at >= 0) at else -at - 1
      math.min(r, n - 1)
    }
    def record(u: Double): Long = (rank(u) * stride + offset) % n
    /** Probability mass of the `k` hottest ranks. */
    def headShare(k: Int): Double = cdf(math.min(k, n) - 1)
  }

  // ---- dedup corpus ----

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Vocabulary word `j`: 3 to 8 seeded lowercase letters. */
  def word(seed: Long, j: Int): String = {
    var w = hash(seed ^ 0x77L, j, 0)
    val len = 3 + java.lang.Long.remainderUnsigned(w, 6).toInt
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) {
      w = mix(w + 0x9E3779B97F4A7C15L)
      sb += Letters(java.lang.Long.remainderUnsigned(w, 26).toInt)
      i += 1
    }
    sb.result()
  }

  final case class Doc(id: Long, tokens: IndexedSeq[String]) {
    def text: String = tokens.mkString(" ")
  }

  /** Corpus of `n` documents (ids 0 until n) of 40 to 80 words drawn
    * uniformly from a `vocab`-word vocabulary, and a delta of `n / 10`
    * documents (ids n until n + n / 10) whose even members are planted
    * near-duplicates of distinct corpus documents (one or two words
    * replaced) and whose odd members are fresh. Returns the corpus, the
    * delta and the planted (delta id, corpus id) pairs. */
  def corpus(seed: Long, n: Int, vocab: Int)
      : (IndexedSeq[Doc], IndexedSeq[Doc], Seq[(Long, Long)]) = {
    val words = (0 until vocab).map(word(seed, _))
    def draw(a: Long, b: Long): String =
      words(java.lang.Long.remainderUnsigned(hash(seed, a, b), vocab).toInt)
    def fresh(id: Long): Doc = {
      val len = 40 + java.lang.Long.remainderUnsigned(hash(seed, id, -1), 41).toInt
      Doc(id, (0 until len).map(p => draw(id, p)))
    }
    val docs = (0 until n).map(i => fresh(i.toLong))
    val nDelta = n / 10
    val planted = Seq.newBuilder[(Long, Long)]
    val delta = (0 until nDelta).map { k =>
      val id = n.toLong + k
      if (k % 2 == 1) fresh(id)
      else {
        // distinct sources: corpus docs are visited by a stride coprime with n
        val src = docs(((k.toLong / 2) * 7919L % n).toInt)
        planted += id -> src.id
        val edits = 1 + (k / 2) % 2
        val toks = (0 until edits).foldLeft(src.tokens) { (t, e) =>
          val pos = java.lang.Long.remainderUnsigned(hash(seed, id, 100 + e), t.length).toInt
          t.updated(pos, draw(id, 200 + e))
        }
        Doc(id, toks)
      }
    }
    (docs, delta, planted.result())
  }

  /** Distinct word 3-shingles, the unit the program's MinHash dedup uses. */
  def shingles(tokens: IndexedSeq[String]): Set[String] =
    if (tokens.length < 3) Set.empty
    else tokens.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
