package graft.store

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/**
 * The JVM-wide cache of decoded kvz blocks — the engine's counterpart of
 * LevelDB's shared block cache (the reference's serving engine keeps
 * decoded blocks across reads; `elephantdb-leveldb/.../LevelDB.java:46-53`).
 * A kvz point read inflates a whole block (~0.7 ms of CPU for 128 KB); a
 * hit here serves it with no file read and no inflate.
 *
 * Every [[KvzFile.Reader]] block load goes through [[Shared]]: lookups,
 * `keyAt`, the iterators, ranges, and so the dense `multiGet` merge.
 *  - Keys are (reader instance id, block), never the file's path: a file
 *    rewritten in place and reopened gets a new id, so it can never be
 *    served the old bytes.
 *  - Only a block that passed its length, Adler-32 and record-framing
 *    checks enters (the reader decodes before it puts).
 *  - [[KvzFile.Reader.close]] drops its reader's entries, so a roll
 *    frees the retired generation's blocks once the generation drains,
 *    and Spark tasks free theirs when their readers close at task end.
 *
 * Lock-striped: each stripe is an access-ordered map holding its share
 * of the byte budget and evicting least-recently-used entries past it.
 * No lock is held while inflating — two threads that miss the same
 * block may both decode it, and the second put keeps the first entry.
 * A block larger than a stripe's budget is served but never cached.
 */
final class KvzBlockCache private[store] (val budgetBytes: Long) {
  import KvzBlockCache.{Key, Stripes}

  require(budgetBytes >= 0, s"kvz block cache: negative budget $budgetBytes")

  private val stripeBudget = budgetBytes / Stripes

  private final class Stripe
      extends java.util.LinkedHashMap[Key, KvzFile.Block](16, 0.75f, true) {
    var bytes = 0L
  }

  private val stripes = Array.fill(Stripes)(new Stripe)

  // counters are read only when metrics are asked for
  private val hits, misses, evictions, resident = new LongAdder

  private def stripeOf(k: Key): Stripe = stripes(Math.floorMod(k.hashCode, Stripes))

  /** The cached block, or null (counted as a miss). */
  private[store] def get(reader: Long, block: Int): KvzFile.Block = {
    val k = Key(reader, block)
    val s = stripeOf(k)
    val b = s.synchronized(s.get(k))
    if (b == null) misses.increment() else hits.increment()
    b
  }

  /** Cache a decoded block, unless it exceeds a stripe's budget. A block
    * already present stays as it is. */
  private[store] def put(reader: Long, block: Int, b: KvzFile.Block): Unit =
    if (b.bytes <= stripeBudget) {
      val k = Key(reader, block)
      val s = stripeOf(k)
      s.synchronized {
        if (!s.containsKey(k)) {
          s.put(k, b)
          s.bytes += b.bytes
          resident.add(b.bytes)
          val it = s.values.iterator // eldest (least recently used) first
          while (s.bytes > stripeBudget) {
            val old = it.next()
            it.remove()
            s.bytes -= old.bytes
            resident.add(-old.bytes)
            evictions.increment()
          }
        }
      }
    }

  /** Remove every entry of `reader`. */
  private[store] def drop(reader: Long): Unit = stripes.foreach { s =>
    s.synchronized {
      val it = s.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.reader == reader) {
          it.remove()
          s.bytes -= e.getValue.bytes
          resident.add(-e.getValue.bytes)
        }
      }
    }
  }

  /** Bytes held now (blocks, offsets and per-entry overhead). */
  def bytes: Long = resident.sum()

  /** `kvz_block_cache.{hits,misses,evictions,bytes}`: hits, misses and
    * evictions are monotonic, bytes is the current footprint. */
  def metrics: Seq[(String, Long)] = Seq(
    "kvz_block_cache.hits" -> hits.sum(),
    "kvz_block_cache.misses" -> misses.sum(),
    "kvz_block_cache.evictions" -> evictions.sum(),
    "kvz_block_cache.bytes" -> bytes)

  /** The file names of the readers with resident entries, one per entry. */
  private[store] def residentOwners: Seq[String] = stripes.toSeq.flatMap { s =>
    s.synchronized {
      val out = Seq.newBuilder[String]
      s.values.forEach(b => out += b.owner)
      out.result()
    }
  }
}

object KvzBlockCache {
  /** Lock stripes: few, since a hit holds its lock for one map probe. */
  val Stripes = 8

  /** A sixteenth of the maximum heap, shared by every kvz reader in the
    * JVM: a serving host's hot blocks fit, and a Spark task's scan cannot
    * crowd the heap (its blocks leave when its readers close). */
  val Shared: KvzBlockCache = new KvzBlockCache(Runtime.getRuntime.maxMemory / 16)

  private val readerIds = new AtomicLong(0L)

  /** A fresh id per reader instance: the reader half of every key. */
  private[store] def nextReaderId(): Long = readerIds.incrementAndGet()

  private final case class Key(reader: Long, block: Int)
}
