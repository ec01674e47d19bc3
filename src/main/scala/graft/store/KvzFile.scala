package graft.store

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

import org.apache.hadoop.fs.FSDataInputStream

/**
 * The `kv-sorted-z` shard file: a BLOCK-COMPRESSED sorted key/value run —
 * the compressed-servable capability class of the reference's storage
 * engines (LevelDB runs Snappy block compression,
 * `elephantdb-leveldb/.../LevelDB.java:46-53`; BDB JE compacts its log
 * files, `JavaBerkDB.java:96-119`), re-expressed as an SSTable-style
 * layout over JDK Deflate — zero new dependencies, still Spark-free, so
 * the same non-Spark serving readers probe it.
 *
 * Layout (all integers big-endian):
 * {{{
 *   header : magic "GKZ1"                                       (4 bytes)
 *   blocks : deflate(records) x B        (concatenated raw deflate units)
 *            records inside a raw block: [keyLen:int][valLen:int][key][value]
 *            (same record encoding as GKV1; valLen = -1 encodes null)
 *   index  : per block [blockOffset:long][firstRecordIdx:long]
 *            [rawLen:int][compLen:int][firstKeyLen:int][firstKey]   x B
 *   trailer: [indexOffset:long][blockCount:long][recordCount:long]
 *            [magic "GKZ1"]                                    (28 bytes)
 * }}}
 *
 * The whole block index is loaded at open — the SSTable discipline:
 * at [[DefaultBlockSize]] raw bytes per block an 8 GB shard carries
 * ~64k index entries (a few MB), far under any serving heap. Every block
 * a reader needs comes from the JVM-wide decoded-block cache
 * ([[KvzBlockCache]], keyed by reader instance and block, dropped at
 * [[Reader.close]]); a miss preads, inflates, checksum-verifies and
 * frames the block (its record offsets, checked against the record
 * count the index promises) before it enters the cache:
 *  - [[Reader.lookup]]: binary-search the index's first-keys for the one
 *    candidate block, then binary-search its record offsets comparing
 *    keys in place; only the returned value is copied. A hit costs no
 *    file read and no inflate.
 *  - [[Reader.keyAt]]: the index's first-record numbers pick the block,
 *    the offsets the record.
 *  - [[Reader.range]]: binary-search to the start block and within it,
 *    then stream blocks forward, stopping at the first key past the upper
 *    bound — I/O proportional to the range in block granularity.
 *  - [[Reader.iterator]]: one positioned read per missed block
 *    (compressed sequential I/O ≈ compressed file size).
 * Keys-only iteration cannot skip value I/O (values share the block's
 * compressed unit) but still never allocates value arrays; kv-sorted
 * remains the engine of choice when key passes over huge values
 * dominate ([[KvFile.Reader.keysIterator]]'s positioned branch).
 *
 * Key order, null values, duplicate keys, and the concurrency contract
 * all match [[KvFile]]: unsigned-lexicographic sort enforced on write;
 * lookups are positioned-read-only and safe concurrently (the cache
 * holds no lock while decoding — worst case two threads that miss the
 * same block both decompress it);
 * the sequential iterators here use positioned reads too, so NO seek-
 * pointer ownership applies (any number may interleave).
 *
 * Write cost: [[Deflater.BEST_SPEED]] — the bulk-load profile (the
 * reference tunes its engines for load speed over ratio: no-txn BDB,
 * Snappy LevelDB); ~2-4x on text values. Writers buffer one raw block
 * plus the index (bytes ≈ 34 + keyLen per block).
 */
object KvzFile {

  val Magic: Array[Byte] = "GKZ1".getBytes(StandardCharsets.US_ASCII)
  val TrailerLen = 28

  /** Raw (uncompressed) bytes per block before a flush. 128 KB: big
    * enough that Deflate reaches its ratio and the per-block index stays
    * tiny (LevelDB ships 4 KB blocks for pure point loads; this format
    * serves scans and ranges off the same file, so blocks sit larger).
    * A point read that misses the decoded-block cache ([[KvzBlockCache]])
    * inflates one whole block, ~0.7 ms of CPU at this size; a hit
    * inflates nothing, so hot blocks cost their size in cache budget
    * rather than an inflate per get. */
  val DefaultBlockSize: Int = 128 * 1024

  /** One decoded block: its raw records and the start offset of each,
    * found once when the block is decoded, so a probe binary-searches
    * keys in place and copies only what it returns. `owner` names the
    * file it came from. */
  final class Block private[store] (val owner: String, raw: Array[Byte], offsets: Array[Int]) {
    def count: Int = offsets.length

    /** Heap held: the raw bytes, the offsets, object headers. */
    val bytes: Long = raw.length + 4L * offsets.length + 64

    private def keyEnd(i: Int): Int = offsets(i) + 8 + intAt(raw, offsets(i))

    def key(i: Int): Array[Byte] = java.util.Arrays.copyOfRange(raw, offsets(i) + 8, keyEnd(i))

    /** The i-th value; null for a null value. */
    def value(i: Int): Array[Byte] = {
      val valLen = intAt(raw, offsets(i) + 4)
      if (valLen < 0) null
      else { val start = keyEnd(i); java.util.Arrays.copyOfRange(raw, start, start + valLen) }
    }

    def compareKey(i: Int, key: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(raw, offsets(i) + 8, keyEnd(i), key, 0, key.length)

    /** Index of the first record whose key is >= `key` (`count` if none):
      * with duplicate keys, the first copy. */
    def lowerBound(key: Array[Byte]): Int = {
      var lo = 0
      var hi = count
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (compareKey(mid, key) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private def intAt(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** Stream `rows` (sorted by key, unsigned-lexicographic) into `out` as
    * one kvz file. Returns the record count. Single pass; buffers one
    * raw block + the index. */
  def write(
      out: java.io.DataOutputStream,
      rows: Iterator[(Array[Byte], Array[Byte])],
      blockSize: Int = DefaultBlockSize): Long = {
    require(blockSize > 0, s"kvz: blockSize must be positive, got $blockSize")
    out.write(Magic)
    val deflater = new Deflater(Deflater.BEST_SPEED)
    val raw = new java.io.ByteArrayOutputStream(blockSize + 4096)
    val rawData = new java.io.DataOutputStream(raw)
    val comp = new java.io.ByteArrayOutputStream(blockSize)
    // index entry per flushed block
    case class BlockMeta(offset: Long, firstRecord: Long, rawLen: Int, compLen: Int, firstKey: Array[Byte])
    val index = scala.collection.mutable.ArrayBuffer[BlockMeta]()
    var pos = 4L
    var total = 0L
    var blockFirstKey: Array[Byte] = null
    var blockFirstRecord = 0L
    var prev: Array[Byte] = null

    def flushBlock(): Unit = {
      if (raw.size() == 0) return
      val rawBytes = raw.toByteArray
      deflater.reset()
      deflater.setInput(rawBytes)
      deflater.finish()
      comp.reset()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        comp.write(buf, 0, n)
      }
      index += BlockMeta(pos, blockFirstRecord, rawBytes.length, comp.size(), blockFirstKey)
      comp.writeTo(out)
      pos += comp.size()
      raw.reset()
      blockFirstKey = null
      blockFirstRecord = total
    }

    while (rows.hasNext) {
      val (k, v) = rows.next()
      require(k != null, "kvz: null key")
      require(
        prev == null || java.util.Arrays.compareUnsigned(prev, k) <= 0,
        "kvz: input rows not sorted by key")
      if (blockFirstKey == null) { blockFirstKey = k; blockFirstRecord = total }
      rawData.writeInt(k.length)
      rawData.writeInt(if (v == null) -1 else v.length)
      rawData.write(k)
      if (v != null) rawData.write(v)
      total += 1
      prev = k
      if (raw.size() >= blockSize) flushBlock()
    }
    flushBlock()
    deflater.end()

    val indexOffset = pos
    index.foreach { b =>
      out.writeLong(b.offset)
      out.writeLong(b.firstRecord)
      out.writeInt(b.rawLen)
      out.writeInt(b.compLen)
      out.writeInt(b.firstKey.length)
      out.write(b.firstKey)
    }
    out.writeLong(indexOffset)
    out.writeLong(index.length.toLong)
    out.writeLong(total)
    out.write(Magic)
    total
  }

  /** One open kvz file. All reads are positioned; see class doc for the
    * concurrency contract (everything may interleave). */
  final class Reader(
      in: FSDataInputStream,
      fileLen: Long,
      name: String = "<stream>",
      cache: KvzBlockCache = KvzBlockCache.Shared)
      extends ShardReader {
    require(fileLen >= 4L + TrailerLen, s"$name: kvz file too short ($fileLen bytes)")

    private val (indexOffset, blockCount, recordCount) = {
      val t = new Array[Byte](TrailerLen)
      in.readFully(fileLen - TrailerLen, t)
      val bb = ByteBuffer.wrap(t)
      val io = bb.getLong
      val bc = bb.getLong
      val rc = bb.getLong
      val magic = new Array[Byte](4)
      bb.get(magic)
      require(java.util.Arrays.equals(magic, Magic),
        s"$name: not a GKZ1 file (bad trailer magic)")
      require(
        io >= 4 && bc >= 0 && rc >= 0 && io <= fileLen - TrailerLen &&
          bc <= (fileLen - TrailerLen - io) / 28 && // 28 = min index entry (empty key)
          // on multi-GB shards the length-derived bounds alone no longer
          // imply these fit an Int — a corrupt trailer must fail HERE with
          // the named error, not as NegativeArraySizeException downstream
          bc <= Int.MaxValue && (fileLen - TrailerLen - io) <= Int.MaxValue,
        s"$name: corrupt GKZ1 trailer (indexOffset=$io blocks=$bc records=$rc len=$fileLen)")
      (io, bc.toInt, rc)
    }

    // The whole block index, loaded once (SSTable discipline; see class doc).
    private val (blockOffsets, blockFirstRecords, blockRawLens, blockCompLens, blockFirstKeys) = {
      val idxLen = (fileLen - TrailerLen - indexOffset).toInt
      val idx = new Array[Byte](idxLen)
      in.readFully(indexOffset, idx)
      val bb = ByteBuffer.wrap(idx)
      val offs = new Array[Long](blockCount)
      val firsts = new Array[Long](blockCount)
      val rawLens = new Array[Int](blockCount)
      val compLens = new Array[Int](blockCount)
      val keys = new Array[Array[Byte]](blockCount)
      var i = 0
      try {
        while (i < blockCount) {
          offs(i) = bb.getLong
          firsts(i) = bb.getLong
          rawLens(i) = bb.getInt
          compLens(i) = bb.getInt
          val kl = bb.getInt
          // validate before allocating: a flipped length byte must read as
          // a named corruption, not a negative-size or multi-GB allocation
          require(kl >= 0 && kl <= bb.remaining(),
            s"$name: corrupt GKZ1 block index (entry $i firstKeyLen=$kl, ${bb.remaining()} bytes left)")
          val k = new Array[Byte](kl)
          bb.get(k)
          keys(i) = k
          i += 1
        }
      } catch {
        case e: java.nio.BufferUnderflowException =>
          throw new IllegalArgumentException(s"$name: corrupt GKZ1 block index (truncated at entry $i)", e)
      }
      var j = 0
      var expect = 4L
      while (j < blockCount) {
        require(offs(j) == expect && rawLens(j) > 0 && compLens(j) > 0,
          s"$name: corrupt GKZ1 block index (block $j offset=${offs(j)} expected=$expect " +
            s"rawLen=${rawLens(j)} compLen=${compLens(j)})")
        require(j == 0 || firsts(j) > firsts(j - 1),
          s"$name: corrupt GKZ1 block index (block $j firstRecord=${firsts(j)} not increasing)")
        // firstKeys steer the lookup/range binary searches: an out-of-order
        // entry (a flipped byte) would silently misroute probes to the
        // wrong block — reading as 'key absent' — instead of failing named
        require(j == 0 || java.util.Arrays.compareUnsigned(keys(j - 1), keys(j)) <= 0,
          s"$name: corrupt GKZ1 block index (block $j firstKey out of order)")
        expect += compLens(j)
        j += 1
      }
      require(expect == indexOffset,
        s"$name: corrupt GKZ1 block index (blocks end at $expect, index starts at $indexOffset)")
      require(blockCount == 0 || (firsts(0) == 0 && firsts(blockCount - 1) < recordCount),
        s"$name: corrupt GKZ1 block index (firstRecords inconsistent with count=$recordCount)")
      require((blockCount == 0) == (recordCount == 0L),
        s"$name: corrupt GKZ1 trailer (blocks=$blockCount records=$recordCount)")
      (offs, firsts, rawLens, compLens, keys)
    }

    def count: Long = recordCount

    /** Format-aware batch crossover: a kvz probe inflates a WHOLE block,
      * so each lookup costs ~one block's worth of scan work — the merge
      * scan wins once the batch approaches the block count, not
      * records/[[KvFile.LookupScanRatio]] (that ratio prices plain-kv
      * preads, ~256× cheaper per probe than a block read+inflate).
      * records-per-block is exactly that crossover:
      * `keys · (records/blocks) < records  ⇔  keys < blocks`. */
    override def lookupScanRatio: Int =
      if (blockCount == 0) 1
      else math.max(1, math.min(Int.MaxValue.toLong, recordCount / blockCount).toInt)

    /** Every read here is positioned (block loads pread their block), so
      * sequential passes never own a seek pointer — batch merge scans may
      * run straight on a cached reader, reusing the block index this open
      * already paid for (reloading it per batch call was the exact cost
      * [[KvFile.count]] was taught to avoid). */
    override def concurrentIterators: Boolean = true

    // this reader's half of every block-cache key: a reopened file (even
    // one rewritten at the same path) never shares entries with this one
    private val cacheId = KvzBlockCache.nextReaderId()
    @volatile private var closed = false

    /** Block `b`, from the shared cache or decoded (and then cached). */
    private def block(b: Int): Block = {
      val hit = cache.get(cacheId, b)
      if (hit != null) return hit
      val decoded = decode(b)
      cache.put(cacheId, b, decoded)
      if (closed) cache.drop(cacheId) // a put racing close() must not outlive it
      decoded
    }

    /** Read, inflate and checksum-verify block `b`, then frame its records. */
    private def decode(b: Int): Block = {
      val comp = new Array[Byte](blockCompLens(b))
      in.readFully(blockOffsets(b), comp)
      val raw = new Array[Byte](blockRawLens(b))
      val inf = new Inflater()
      try {
        inf.setInput(comp)
        var off = 0
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          // a corrupt zlib header with the FDICT bit set makes inflate()
          // return 0 forever with needsInput() false — fail loud, never spin
          require(!inf.needsDictionary(),
            s"$name: corrupt GKZ1 block $b (zlib header demands a preset dictionary)")
          require(n > 0 || !inf.needsInput(),
            s"$name: corrupt GKZ1 block $b (deflate stream truncated at $off/${raw.length})")
          off += n
        }
        require(off == raw.length,
          s"$name: corrupt GKZ1 block $b (inflated $off bytes, expected ${raw.length})")
        // Consume the zlib trailer and verify its ADLER32: a payload that
        // inflates to the right LENGTH can still be the wrong BYTES (bit
        // rot inside a huffman run decoding to equal-length garbage). The
        // checksum is already in every block (zlib wrapper) — it just has
        // to be read to the stream's end; a mismatch surfaces as
        // DataFormatException("incorrect data check") via the catch below.
        val scratch = new Array[Byte](1)
        var spins = 0
        while (!inf.finished()) {
          require(inf.inflate(scratch) == 0,
            s"$name: corrupt GKZ1 block $b (stream continues past rawLen=${raw.length})")
          require(inf.finished() || !inf.needsInput(),
            s"$name: corrupt GKZ1 block $b (deflate stream truncated before its checksum)")
          spins += 1
          require(spins <= 8,
            s"$name: corrupt GKZ1 block $b (checksum trailer unreadable)")
        }
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(s"$name: corrupt GKZ1 block $b (bad deflate data)", e)
      } finally inf.end()
      new Block(name, raw, recordOffsets(b, raw))
    }

    /** Start offset of each record in block `b`'s raw bytes. The checksum
      * vouches only for what the writer wrote, so the framing is checked
      * too: every length fits the block, the walk ends exactly at rawLen,
      * and the record count is the one the index promises. */
    private def recordOffsets(b: Int, raw: Array[Byte]): Array[Int] = {
      def corrupt(what: String): Nothing =
        throw new IllegalArgumentException(s"$name: corrupt GKZ1 block $b ($what)")
      val n = (if (b + 1 < blockCount) blockFirstRecords(b + 1) else recordCount) - blockFirstRecords(b)
      // every record takes at least its 8 length bytes
      if (n > raw.length / 8)
        corrupt(s"index promises $n records, rawLen=${raw.length} holds at most ${raw.length / 8}")
      val offsets = new Array[Int](n.toInt)
      var off = 0
      var i = 0
      while (i < offsets.length) {
        if (raw.length - off < 8)
          corrupt(s"record $i of $n starts at $off, past rawLen=${raw.length}")
        val keyLen = intAt(raw, off)
        val valLen = intAt(raw, off + 4)
        val room = raw.length - off - 8
        if (keyLen < 0 || keyLen > room)
          corrupt(s"record $i at $off: keyLen=$keyLen overruns the block ($room bytes left)")
        if (valLen < -1 || valLen > room - keyLen)
          corrupt(s"record $i at $off: valLen=$valLen overruns the block (${room - keyLen} bytes left)")
        offsets(i) = off
        off += 8 + keyLen + math.max(valLen, 0)
        i += 1
      }
      if (off != raw.length) corrupt(s"$n records end at $off, rawLen=${raw.length}")
      offsets
    }

    /** Index of the LAST block whose firstKey <= key; -1 if key precedes
      * every block (then it is absent — block 0's firstKey is the file's
      * min key). */
    private def blockFor(key: Array[Byte]): Int = {
      var lo = 0
      var hi = blockCount - 1
      var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (java.util.Arrays.compareUnsigned(blockFirstKeys(mid), key) <= 0) { ans = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      ans
    }

    /** First block that can hold a key >= `bound`: the LAST block whose
      * firstKey is STRICTLY below it (its tail may still reach the
      * bound), else 0. NOT [[blockFor]]: a duplicate-key run straddling
      * block boundaries puts the bound key's first copies in the block
      * BEFORE the one whose firstKey equals it — a <= search would skip
      * them and silently drop rows equal to an inclusive range start
      * (and an equal-firstKey run can span several blocks, so the start
      * must sit strictly below). The range body's dropWhile trims any
      * extra prefix this widens into. */
    private def rangeStartBlock(bound: Array[Byte]): Int = {
      var lo = 0
      var hi = blockCount - 1
      var ans = 0
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (java.util.Arrays.compareUnsigned(blockFirstKeys(mid), bound) < 0) { ans = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      ans
    }

    /** Records of `blk` from record `from` on (values null unless
      * `withValues`). */
    private def records(blk: Block, from: Int, withValues: Boolean): Iterator[(Array[Byte], Array[Byte])] =
      Iterator.range(from, blk.count).map(i => (blk.key(i), if (withValues) blk.value(i) else null))

    def lookup(key: Array[Byte]): Option[Array[Byte]] = {
      val b = blockFor(key)
      if (b < 0) return None
      val blk = block(b)
      val i = blk.lowerBound(key)
      if (i < blk.count && blk.compareKey(i, key) == 0) Some(blk.value(i)) else None
    }

    def keyAt(i: Long): Array[Byte] = {
      require(i >= 0 && i < recordCount, s"$name: keyAt($i) out of range [0, $recordCount)")
      // last block with firstRecord <= i
      var lo = 0
      var hi = blockCount - 1
      var b = 0
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (blockFirstRecords(mid) <= i) { b = mid; lo = mid + 1 } else hi = mid - 1
      }
      block(b).key((i - blockFirstRecords(b)).toInt)
    }

    def iterator: Iterator[(Array[Byte], Array[Byte])] =
      Iterator.range(0, blockCount).flatMap(b => records(block(b), 0, withValues = true))

    def keysIterator: Iterator[Array[Byte]] =
      Iterator.range(0, blockCount).flatMap { b =>
        val blk = block(b)
        Iterator.range(0, blk.count).map(blk.key)
      }

    def range(
        from: Option[Array[Byte]],
        fromInclusive: Boolean,
        to: Option[Array[Byte]],
        toInclusive: Boolean,
        withValues: Boolean = true): Iterator[(Array[Byte], Array[Byte])] = {
      if (blockCount == 0) return Iterator.empty
      val startBlock = from.fold(0)(rangeStartBlock)
      Iterator.range(startBlock, blockCount)
        .flatMap { b =>
          val blk = block(b)
          // the start block skips its records below the bound in place
          records(blk, if (b == startBlock) from.fold(0)(blk.lowerBound) else 0, withValues)
        }
        .dropWhile { case (k, _) =>
          from.exists { bnd =>
            val cmp = java.util.Arrays.compareUnsigned(k, bnd)
            if (fromInclusive) cmp < 0 else cmp <= 0
          }
        }
        .takeWhile { case (k, _) =>
          to.forall { bnd =>
            val cmp = java.util.Arrays.compareUnsigned(k, bnd)
            if (toInclusive) cmp <= 0 else cmp < 0
          }
        }
    }

    /** Close the file and drop this reader's cached blocks. */
    def close(): Unit = {
      closed = true
      try in.close()
      finally cache.drop(cacheId)
    }
  }
}
