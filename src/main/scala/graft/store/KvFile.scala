package graft.store

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, LocalFileSystem, Path}

/**
 * The read surface every servable shard file implements — the engine's
 * Persistence-read SPI (reference `persistence/Persistence.java:5-12` +
 * the cursor surface `JavaBerkDB.java:121-170`): point lookup, ordered
 * iteration, keys-only iteration, bounded range, positional key probe.
 * Two on-disk formats provide it — the plain sorted run ([[KvFile]],
 * magic GKV1) and the block-compressed run ([[KvzFile]], magic GKZ1) —
 * and [[KvFile.open]] sniffs the magic, so every consumer (Spark scans,
 * the DSv2 source, the Spark-free serving readers) handles both without
 * branching. Spark-free by construction: plain Hadoop streams + JDK.
 *
 * Concurrency contract (shared by both formats): [[lookup]] and
 * [[keyAt]] use positioned reads only and are safe to call concurrently;
 * the sequential iterators own the handle's seek pointer where noted in
 * each format's docs.
 */
trait ShardReader extends AutoCloseable {
  /** Record count, from trailer metadata only (no data pages touched). */
  def count: Long
  /** Key of the i-th record (0-based, key order). */
  def keyAt(i: Long): Array[Byte]
  /** Point lookup. `None` = absent; `Some(null)` = present, null value. */
  def lookup(key: Array[Byte]): Option[Array[Byte]]
  /** Every record in key order. */
  def iterator: Iterator[(Array[Byte], Array[Byte])]
  /** Every key in key order, value bytes skipped where the format can. */
  def keysIterator: Iterator[Array[Byte]]
  /** Payload-integrity audit: recompute the format's stored data
    * checksums in one sequential pass and report each mismatching span
    * as a human-readable finding (empty = clean). Default empty for
    * formats whose READ path already verifies every byte it returns
    * (kvz: ADLER32 per block, corruption throws on read) and for files
    * written before their format carried checksums. Sequential-pass
    * lifetime contract matches [[iterator]] where the format notes one. */
  def verifyIntegrity(): Iterator[String] = Iterator.empty

  /** Combined key + integrity audit (the fsck primitive): frame every
    * record in key order handing each key to `onKey`, verify whatever
    * stored checksums the format carries, and return corruption
    * FINDINGS instead of throwing on a malformed record — the audit
    * tool must not crash exactly when corruption is worst. Framing
    * stops at the first broken record (no resync in a length-prefixed
    * run) but checksum verification still completes, so the flipped
    * byte is named either way. Default: drain [[keysIterator]] (read
    * failures — e.g. kvz's per-block ADLER32 — become findings), then
    * [[verifyIntegrity]]; formats with their own checksums may override
    * with a single-read pass. Lifetime contract matches [[iterator]]:
    * one audit per reader handle. */
  def auditPass(onKey: Array[Byte] => Unit): Seq[String] = {
    val findings = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val it = keysIterator
      while (it.hasNext) onKey(it.next())
    } catch {
      case e @ (_: IllegalArgumentException | _: IllegalStateException |
          _: java.io.IOException) =>
        findings += s"record scan failed: ${e.getMessage}"
    }
    try findings ++= verifyIntegrity()
    catch {
      case e @ (_: IllegalArgumentException | _: IllegalStateException |
          _: java.io.IOException) =>
        findings += s"checksum audit failed: ${e.getMessage}"
    }
    findings.toSeq
  }
  /** Records inside the unsigned-lexicographic bounds, in key order; I/O
    * proportional to the range where the format can bound it. */
  def range(
      from: Option[Array[Byte]],
      fromInclusive: Boolean,
      to: Option[Array[Byte]],
      toInclusive: Boolean,
      withValues: Boolean = true): Iterator[(Array[Byte], Array[Byte])]
  /** This format's batch-density crossover: a multiGet probes per key
    * only while `keys × ratio < count`; at that density one buffered
    * sequential merge pass wins. The default prices plain-kv positioned
    * reads; formats with costlier probes (block read + inflate) override
    * with a lower ratio. */
  def lookupScanRatio: Int = KvFile.LookupScanRatio
  /** True when [[iterator]]/[[keysIterator]]/[[range]] use positioned
    * reads only — no seek-pointer ownership, so any number of sequential
    * passes may interleave on ONE open reader (and with lookups). Batch
    * consumers then run merge scans on a long-lived cached reader,
    * reusing whatever index it loaded at open; formats whose sequential
    * iterators own the handle's seek pointer keep the default `false`
    * and batch consumers must open a fresh (cheap) handle per pass. */
  def concurrentIterators: Boolean = false
  def close(): Unit
}

/**
 * The `kv-sorted` shard file: a per-shard sorted key/value run with a
 * fixed-width offset index, binary-searchable by ANY reader that can seek
 * — the engine's counterpart of the reference's servable local
 * persistence (a serving daemon mmaps/probes per-shard B-tree or LSM
 * files: `elephantdb-bdb/.../JavaBerkDB.java:60-67`,
 * `elephantdb-leveldb/.../LevelDB.java:46-53`). Parquet/ORC cover the
 * capability class for SPARK readers (sorted + pushdown); this format is
 * the deliverable a NON-Spark process can serve point lookups from with
 * two seeks per binary-search step and no framework on the classpath —
 * everything here is plain Hadoop streams and byte math.
 *
 * Layout (all integers big-endian):
 * {{{
 *   header : magic "GKV1"                                    (4 bytes)
 *   records: [keyLen:int][valLen:int][key][value]  x count   (sorted by key)
 *   index  : [recordOffset:long] x count                     (fixed 8-byte entries)
 *   crcs   : [crc32:int] x ceil((indexEnd - 4) / spanBytes)  (records + index; since GKV2 trailers)
 *   trailer: [indexOffset:long][count:long][crcOffset:long][spanBytes:int][magic "GKV2"]  (32 bytes)
 * }}}
 * (Files written before span checksums end in the 20-byte legacy trailer
 * `[indexOffset:long][count:long][magic "GKV1"]` with no crcs section;
 * readers dispatch on the TRAILER magic and accept both forever. The
 * header magic is GKV1 in both — record/index/lookup math is identical.)
 *
 * Key order is unsigned-lexicographic (`Arrays.compareUnsigned`) — the
 * same total order Spark gives BinaryType, so the write path's
 * sort-within-shard produces valid files with no extra sort. `valLen = -1`
 * encodes a null value (a key can be present with no payload). Duplicate
 * keys are legal (a non-dedup'd build can contain them); `lookup` returns
 * one of the duplicates' values, unspecified which — exactly the contract
 * scans give such a domain.
 *
 * Lookup cost: the trailer is one positioned read, each binary-search
 * step is two (index entry, record header+key) — O(log n) positioned
 * reads per probe and zero heap proportional to the file. What a pread
 * costs depends on the filesystem: on `LocalFileSystem` (every serving
 * host's localized shards) [[open]] holds the data file and its `.crc`
 * open in a [[LocalShardStream]], so a pread is one read of the 512-byte
 * chunks it touches plus one read of their stored CRC32s — where
 * Hadoop's own stream built a new checksum checker per pread (a stat,
 * opens of the file and its `.crc`, a header read, two closes); a traced
 * serve_point lookup went from 268.7 to 28.4 µs and from 8.6 to 4.0 read
 * syscalls. Other filesystems pay their own stream's per-pread cost. Two
 * serving-path accelerations sit on top (sized when every pread paid the
 * checker):
 *  - a bounded NODE CACHE memoizes probed (key, value position) pairs
 *    by record index: binary searches from every lookup walk the same
 *    tree-top mids, so the cache converges on the top levels and warm
 *    steps cost zero I/O (byte-budgeted at [[KvFile.NodeCacheMaxBytes]]
 *    per reader — tiny against a serving box, adaptive, no eviction
 *    needed because the hot tree-top fills first);
 *  - a WINDOW FINISH: once the live range narrows to
 *    [[KvFile.WindowRecords]] records, ONE pread of their index slice +
 *    ONE pread of their data span (guarded by
 *    [[KvFile.MaxLookupWindowBytes]] — jumbo-value shards fall back to
 *    stepping) replaces the remaining ~8 levels, and the hit's value is
 *    answered from the span buffer.
 * Together a warm point lookup is ~2 preads instead of 2·log2(n).
 * Writers buffer only the offset index (8 bytes/record): a 10M-key
 * shard costs the writing task ~80 MB transient heap, far under
 * executor budgets at the shard sizes the layout targets.
 */
object KvFile {

  val Magic: Array[Byte] = "GKV1".getBytes(StandardCharsets.US_ASCII)
  val TrailerLen = 20

  /** Trailer magic of files carrying span checksums. The HEADER magic
    * stays GKV1 (records/index/lookup math are unchanged — only the
    * tail grew), so open()'s format sniff is untouched; the TRAILER
    * magic distinguishes the 20-byte legacy tail from the 32-byte
    * checksummed one, and both remain readable forever. */
  val TrailerMagicV2: Array[Byte] = "GKV2".getBytes(StandardCharsets.US_ASCII)

  /** Checksummed trailer:
    * [indexOffset:long][count:long][crcOffset:long][spanBytes:int][magic "GKV2"]. */
  val TrailerLenV2 = 32

  /** Bytes of the records+index region covered by one stored CRC32
    * (4 bytes per span → 4 ppm overhead at 1 MB). Spans are what let a
    * flipped bit be NAMED with an offset instead of "somewhere in this
    * file" — and keep re-verification after a partial repair span-local.
    * Coverage includes the OFFSET INDEX: a flipped in-bounds index byte
    * mis-targets binary searches silently (records still frame clean).
    * The LOOKUP path never touches the CRCs (pread latency is this
    * format's priority; the kvz engine is the per-read-verified one):
    * integrity is audited by [[Reader.verifyIntegrity]] /
    * [[Reader.auditPass]] — `DomainStore.fsck` runs the combined pass
    * per shard file, and transcode audits its source before rewriting. */
  val CrcSpanBytes: Int = 1 << 20

  /** Floor a GKV2 trailer's spanBytes must clear (the writer uses
    * [[CrcSpanBytes]]): without it a crafted tiny spanBytes makes the
    * crc section rival the data region and the span count overflow Int
    * math — reject it as a named corrupt-trailer error instead. */
  val MinSpanBytes: Int = 4096

  /** Batch-density crossover for kv point lookups: a batch
    * binary-searches only when `keys * ratio < records` — below that,
    * k·log2(n) random positioned reads (measured when each pread built a
    * new Hadoop checksum checker) cost more than ONE buffered sequential
    * pass over the sorted run. 256 ≈ log2(n) · (preads per search step)
    * · (sequential-records-per-pread-equivalent) at realistic shard
    * sizes. Lives here (not in DomainStore) so the Spark-free serving
    * reader shares the one definition without loading Spark classes.
    * GKV1 readers override with the byte model below; this constant is
    * the conservative trait default (= the byte model at 512 B/record —
    * deliberately probe-leaning, since a reader that does NOT override
    * has not measured its probe cost and the scan mispick is the bounded
    * side). */
  val LookupScanRatio: Int = 256

  /** Byte-model cost of ONE point lookup, expressed as "data bytes a
    * sequential merge scan processes in the same time": the crossover is
    * `keys × LookupCostBytes < dataBytes` ⇔ sparse, which a reader turns
    * into the trait's ratio form by dividing by its own average record
    * length (so large-record shards switch to scan later and tiny-record
    * shards earlier — the scan pays per BYTE, the probe doesn't).
    * Measured on the serve-bench harness after the window-finish change:
    * a warm probe ≈ 0.16 ms ≈ 70 KB of scan at ~440 MB/s on a 62k-record
    * shard, ≈ 0.36 ms ≈ 158 KB on a 625k-record shard (deeper uncached
    * levels + page-cache pressure — the cost grows slowly with n, which
    * a single constant cannot track). 128 KB splits the measured band
    * and errs toward SCAN: mis-picking scan near the boundary costs
    * ≤2×, mis-picking probes far above it is unbounded (the 10M-key
    * serve-bench measured the 64 KB constant picking probes at 3× the
    * scan's cost). */
  val LookupCostBytes: Long = 128L << 10

  /** When a [[Reader.lookup]] binary search has narrowed to this many
    * records, finish with one index-slice pread + one data-span pread
    * and an in-memory scan instead of ~log2(this) more stepped probes.
    * 256 records × typical sub-KB records lands the span well inside one
    * filesystem read-ahead chunk. */
  val WindowRecords: Int = 256

  /** Data-span ceiling for the window finish: a window whose records
    * total more than this (jumbo values) steps instead — one bounded
    * allocation per lookup, never value-count × value-size. */
  val MaxLookupWindowBytes: Long = 1L << 20

  /** Per-reader byte budget for the lookup node cache (memoized probed
    * keys + value positions, keyed by record index). The binary-search
    * tree-top fills first — the same mids repeat on every lookup — so a
    * small budget converges on the hot levels; no eviction. Budgeted in
    * KEY bytes + per-entry overhead, so a freak giant key cannot blow
    * the bound. 1 MB ≈ 14k small-key entries ≈ tree depth ~13.8: with
    * the 256-record window finish (8 levels) that fully covers shards to
    * ~1.4M records — the serving sweet spot — at ~1 MB × hosted shards
    * per box. */
  val NodeCacheMaxBytes: Long = 1L << 20

  /** Average-record-length crossover for [[Reader.keysIterator]]: at or
    * under this, a sequential pass (which reads value bytes as part of
    * its read-ahead chunks regardless) beats per-record preads; above
    * it, one positioned header+key read per record skips value I/O
    * entirely. ~the checksum-chunk/read-ahead granularity where a pread
    * stops costing more than the bytes it avoids. */
  val KeysSeqRecordLen: Long = 4096L

  /** Key bytes probed together with the header in one positioned read on
    * the large-record branch — covers realistic keys; a longer one costs
    * one extra pread. */
  val KeysProbeKeyLen: Int = 504

  /** Canonical data file name inside a `shard=<i>` dir (one sorted run
    * per shard: the build routes each shard to exactly one task). */
  val DataFileName = "part-0.kv"

  /** Stream `rows` (sorted by key, unsigned-lexicographic) into `out` as
    * one kv file. Returns the record count. Single pass; only the offset
    * index is buffered. */
  def write(
      out: java.io.DataOutputStream,
      rows: Iterator[(Array[Byte], Array[Byte])]): Long = {
    out.write(Magic)
    var pos = 4L
    // growable primitive array: a buffer of Long boxes one object per record
    var offsets = new Array[Long](1024)
    var n = 0
    // span CRCs over records AND the offset index — everything in
    // [4, crcOffset) — computed as the bytes stream past (a record may
    // straddle a span boundary; feed() splits it). Covering the index
    // matters as much as the values: a flipped in-bounds index byte
    // silently mis-targets binary searches (wrong/absent answers) while
    // every record still frames cleanly.
    val crcs = scala.collection.mutable.ArrayBuffer[Int]()
    val crc = new java.util.zip.CRC32
    var spanFill = 0
    def feed(b: Array[Byte], off0: Int, len0: Int): Unit = {
      var off = off0
      var len = len0
      while (len > 0) {
        val take = math.min(len, CrcSpanBytes - spanFill)
        crc.update(b, off, take)
        spanFill += take
        off += take
        len -= take
        if (spanFill == CrcSpanBytes) {
          crcs += crc.getValue.toInt
          crc.reset()
          spanFill = 0
        }
      }
    }
    val hdr = new Array[Byte](8)
    val hdrBuf = ByteBuffer.wrap(hdr)
    var prev: Array[Byte] = null
    while (rows.hasNext) {
      val (k, v) = rows.next()
      require(k != null, "kv-sorted: null key")
      require(
        prev == null || java.util.Arrays.compareUnsigned(prev, k) <= 0,
        "kv-sorted: input rows not sorted by key")
      if (n == offsets.length)
        offsets = java.util.Arrays.copyOf(offsets, math.min(n.toLong * 2, Int.MaxValue - 8).toInt)
      offsets(n) = pos
      n += 1
      hdrBuf.clear()
      hdrBuf.putInt(k.length)
      hdrBuf.putInt(if (v == null) -1 else v.length)
      out.write(hdr)
      out.write(k)
      if (v != null) out.write(v)
      feed(hdr, 0, 8)
      feed(k, 0, k.length)
      if (v != null) feed(v, 0, v.length)
      pos += 8L + k.length + (if (v == null) 0 else v.length)
      prev = k
    }
    val indexOffset = pos
    val entryBuf = new Array[Byte](8)
    val entryBB = ByteBuffer.wrap(entryBuf)
    var i = 0
    while (i < n) {
      entryBB.clear()
      entryBB.putLong(offsets(i))
      out.write(entryBuf)
      feed(entryBuf, 0, 8)
      i += 1
    }
    if (spanFill > 0) crcs += crc.getValue.toInt
    val crcOffset = indexOffset + 8L * n
    crcs.foreach(out.writeInt)
    out.writeLong(indexOffset)
    out.writeLong(n.toLong)
    out.writeLong(crcOffset)
    out.writeInt(CrcSpanBytes)
    out.write(TrailerMagicV2)
    n.toLong
  }

  /** Exclusive upper bound of the key range sharing `prefix`: the prefix
    * with its last non-0xFF byte incremented and everything after it
    * dropped (unsigned-lexicographic successor). `None` = no finite
    * bound (all-0xFF or empty prefix — every key ≥ prefix matches).
    * Spark-free so the serving reader and the engine share ONE
    * definition of "prefix". */
  def prefixSuccessor(prefix: Array[Byte]): Option[Array[Byte]] = {
    var i = prefix.length - 1
    while (i >= 0 && prefix(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOfRange(prefix, 0, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Open a servable shard file, SNIFFING the 4-byte header magic: GKV1
    * → plain sorted run, GKZ1 → block-compressed run ([[KvzFile]]). One
    * entry point means every consumer — engine scans, DSv2 source,
    * Spark-free serving readers — reads either format transparently;
    * only the write path chooses. Anything else fails loud naming the
    * file (the repo's corruption convention). */
  def open(fs: FileSystem, path: Path): ShardReader = {
    val name = path.toString
    val (in, len) = openInput(fs, path)
    val magic =
      try {
        val m = new Array[Byte](4)
        in.readFully(0L, m)
        m
      } catch { case e: Throwable => in.close(); throw e }
    if (java.util.Arrays.equals(magic, Magic)) {
      try new Reader(in, len, name)
      catch { case e: Throwable => in.close(); throw e }
    } else if (java.util.Arrays.equals(magic, KvzFile.Magic)) {
      try new KvzFile.Reader(in, len, name)
      catch { case e: Throwable => in.close(); throw e }
    } else {
      in.close()
      throw new IllegalArgumentException(
        s"$name: not a graft kv file (header magic ${magic.map(b => f"$b%02x").mkString} " +
          "is neither GKV1 nor GKZ1)")
    }
  }

  /** The input every kv reader reads through, and the file's length,
    * which must hold at least a header and the shortest trailer. A
    * `LocalFileSystem` file is read through a [[LocalShardStream]] (see
    * the lookup-cost note above); every other filesystem — ramfs, HDFS,
    * raw local — through its own stream. */
  private def openInput(fs: FileSystem, path: Path): (FSDataInputStream, Long) = {
    def checkLen(len: Long): Unit =
      require(len >= 4L + TrailerLen, s"$path: kv file too short ($len bytes)")
    fs match {
      case local: LocalFileSystem =>
        val s = LocalShardStream.open(local, path)
        try checkLen(s.length) catch { case e: Throwable => s.close(); throw e }
        (new FSDataInputStream(s), s.length)
      case _ =>
        val len = fs.getFileStatus(path).getLen
        checkLen(len)
        (fs.open(path), len)
    }
  }

  /** Record count from the trailer alone — the format's "footer count":
    * ONE positioned read of the file tail, no data page, no block index
    * (a full [[open]] of a GKZ1 file eagerly loads its whole block
    * index, which plan-time statistics and 64k-shard count sweeps must
    * never pay). Both trailers end in their magic, so the tail read
    * itself dispatches the format. */
  def count(fs: FileSystem, path: Path): Long = {
    val name = path.toString
    val (in, len) = openInput(fs, path)
    val tailLen = math.min(
      len,
      Seq(TrailerLen, TrailerLenV2, KvzFile.TrailerLen).max.toLong).toInt
    val tail =
      try { val t = new Array[Byte](tailLen); in.readFully(len - tailLen, t); t }
      finally in.close()
    val magic = java.util.Arrays.copyOfRange(tail, tailLen - 4, tailLen)
    val n =
      if (java.util.Arrays.equals(magic, Magic))
        // legacy GKV1 trailer: [indexOffset:long][count:long][magic]
        ByteBuffer.wrap(tail, tailLen - TrailerLen + 8, 8).getLong
      else if (java.util.Arrays.equals(magic, TrailerMagicV2)) {
        // GKV2 trailer: [indexOffset][count][crcOffset][spanBytes][magic]
        require(len >= 4L + TrailerLenV2, s"$name: kv file too short for GKV2 ($len bytes)")
        ByteBuffer.wrap(tail, tailLen - TrailerLenV2 + 8, 8).getLong
      } else if (java.util.Arrays.equals(magic, KvzFile.Magic)) {
        // GKZ1 trailer: [indexOffset:long][blockCount:long][recordCount:long][magic]
        require(len >= 4L + KvzFile.TrailerLen, s"$name: kvz file too short ($len bytes)")
        ByteBuffer.wrap(tail, tailLen - KvzFile.TrailerLen + 16, 8).getLong
      }
      else throw new IllegalArgumentException(
        s"$name: not a graft kv file (trailer magic ${magic.map(b => f"$b%02x").mkString} " +
          "is neither GKV1/GKV2 nor GKZ1)")
    require(n >= 0, s"$name: corrupt trailer (negative record count $n)")
    n
  }

  /** One open kv file. All reads are positioned (`readFully(pos, buf)`),
    * so a reader can interleave lookups and iteration on one handle. */
  final class Reader(in: FSDataInputStream, fileLen: Long, name: String = "<stream>")
      extends ShardReader {
    require(fileLen >= 4L + TrailerLen, s"$name: kv file too short ($fileLen bytes)")
    // Trailer versions: 20-byte legacy [io][cnt]["GKV1"], or the 32-byte
    // checksummed [io][cnt][crcOffset][spanBytes]["GKV2"] — dispatch on
    // the tail magic; both stay readable forever. crcInfo = (crcOffset,
    // spanBytes) when the file carries span checksums.
    private val (indexOffset, n, crcInfo) = {
      val tailLen = math.min(fileLen - 4L, TrailerLenV2.toLong).toInt
      val t = new Array[Byte](tailLen)
      in.readFully(fileLen - tailLen, t)
      val magic = java.util.Arrays.copyOfRange(t, tailLen - 4, tailLen)
      if (java.util.Arrays.equals(magic, TrailerMagicV2)) {
        require(tailLen == TrailerLenV2, s"$name: kv file too short for a GKV2 trailer ($fileLen bytes)")
        val bb = ByteBuffer.wrap(t)
        val io = bb.getLong
        val cnt = bb.getLong
        val crcOff = bb.getLong
        val spanBytes = bb.getInt
        // every bound is checked with NON-WRAPPING arithmetic (division,
        // not `8L * cnt` — a cnt near 2^61 would wrap that product back
        // onto the expected value and open "cleanly" with an absurd n);
        // spanBytes has a floor so the span count stays sane
        def fail(): Nothing = throw new IllegalArgumentException(
          s"$name: corrupt GKV2 trailer (indexOffset=$io count=$cnt " +
            s"crcOffset=$crcOff spanBytes=$spanBytes len=$fileLen)")
        if (!(io >= 4 && io <= fileLen - TrailerLenV2 &&
            crcOff >= io && crcOff <= fileLen - TrailerLenV2 &&
            spanBytes >= MinSpanBytes)) fail()
        val idxLen = crcOff - io
        if (idxLen % 8 != 0 || cnt != idxLen / 8) fail()
        val nSpans = if (crcOff <= 4) 0L else (crcOff - 4 + spanBytes - 1) / spanBytes
        if (fileLen - crcOff - TrailerLenV2 != 4L * nSpans) fail()
        (io, cnt, Some((crcOff, spanBytes)))
      } else {
        require(java.util.Arrays.equals(magic, Magic),
          s"$name: not a GKV1 file (bad trailer magic)")
        val bb = ByteBuffer.wrap(t, tailLen - TrailerLen, TrailerLen)
        val io = bb.getLong
        val cnt = bb.getLong
        // division-form bound for the same wrap-proofing as the GKV2 arm
        val idxLen = fileLen - TrailerLen - io
        require(cnt >= 0 && io >= 4 && idxLen >= 0 && idxLen % 8 == 0 && cnt == idxLen / 8,
          s"$name: corrupt GKV1 trailer (indexOffset=$io count=$cnt len=$fileLen)")
        (io, cnt, None)
      }
    }

    def count: Long = n

    /** Byte-model crossover (see [[KvFile.LookupCostBytes]]): one probe
      * costs ~a fixed number of scannable bytes, so the ratio is that
      * cost over THIS file's average record length — small records push
      * the merge-scan crossover out (a 75 B-record shard probes until
      * ~record-count/870), large ones pull it in. */
    override def lookupScanRatio: Int = {
      val avg = if (n == 0) 1L else math.max(1L, (indexOffset - 4L) / n)
      math.max(1, math.min(Int.MaxValue.toLong, LookupCostBytes / avg).toInt)
    }

    private def recordOffset(i: Long): Long = {
      val b = new Array[Byte](8)
      in.readFully(indexOffset + 8L * i, b)
      val off = ByteBuffer.wrap(b).getLong
      // a corrupted index entry must fail NAMED here, not as an
      // EOF/absurd-allocation deep inside the record read
      require(off >= 4 && off + 8 <= indexOffset,
        s"$name: corrupt GKV1 offset index (entry $i -> $off outside data region [4, $indexOffset))")
      off
    }

    /** Record-shape guard shared by every read path: lengths must fit the
      * data region, or a flipped byte becomes a named corruption error
      * instead of a negative-size allocation, an OOM-sized buffer, or an
      * unnamed EOF past the region. (Value BYTES are not checksum-checked
      * on the LOOKUP path — pread cost is the format's priority;
      * [[KvzFile]] is the per-read-verified engine. Payload integrity is
      * audited offline via the span CRCs — [[verifyIntegrity]], run by
      * fsck and transcode.) */
    private def checkRecordShape(off: Long, keyLen: Int, valLen: Int): Unit =
      require(
        keyLen >= 0 && valLen >= -1 &&
          off + 8L + keyLen + math.max(valLen, 0) <= indexOffset,
        s"$name: corrupt GKV1 record at offset $off " +
          s"(keyLen=$keyLen valLen=$valLen data region ends at $indexOffset)")

    /** (key, valLen, valuePos) of the record at a data offset. */
    private def readHeader(off: Long): (Array[Byte], Int, Long) = {
      val hdr = new Array[Byte](8)
      in.readFully(off, hdr)
      val bb = ByteBuffer.wrap(hdr)
      val keyLen = bb.getInt
      val valLen = bb.getInt
      checkRecordShape(off, keyLen, valLen)
      val key = new Array[Byte](keyLen)
      in.readFully(off + 8L, key)
      (key, valLen, off + 8L + keyLen)
    }

    /** Key of the i-th record (0-based, key order) — two positioned
      * reads. First/last key (`keyAt(0)` / `keyAt(count-1)`) are the
      * shard's key min/max, the seam aggregate pushdown reads. */
    def keyAt(i: Long): Array[Byte] = {
      require(i >= 0 && i < n, s"$name: keyAt($i) out of range [0, $n)")
      readHeader(recordOffset(i))._1
    }

    private def readValue(valLen: Int, valuePos: Long): Array[Byte] =
      if (valLen < 0) null
      else {
        val v = new Array[Byte](valLen)
        in.readFully(valuePos, v)
        v
      }

    // memoized binary-search probes (see the class doc's lookup-cost
    // section): record index -> (key, valLen, valuePos). Concurrent maps
    // keep lookup thread-safe on a shared handle; the byte budget is
    // enforced with an AtomicLong (slight overshoot under races is fine,
    // the bound is a heap guard, not a semantic).
    private val nodeCache =
      new java.util.concurrent.ConcurrentHashMap[Long, (Array[Byte], Int, Long)]()
    private val nodeCacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)

    private def nodeAt(mid: Long): (Array[Byte], Int, Long) = {
      val cached = nodeCache.get(mid)
      if (cached != null) cached
      else {
        val node = readHeader(recordOffset(mid))
        if (nodeCacheBytes.get() < NodeCacheMaxBytes &&
            nodeCache.putIfAbsent(mid, node) == null)
          nodeCacheBytes.addAndGet(node._1.length + 48L)
        node
      }
    }

    /** Window finish: resolve `key` within records [lo, hi] using one
      * index-slice pread + one data-span pread. Outer `None` = span too
      * large (caller keeps stepping); inner option is the lookup answer
      * (`Some(null)` = present with null value). */
    private def windowLookup(
        lo: Long, hi: Long, key: Array[Byte]): Option[Option[Array[Byte]]] = {
      val cnt = (hi - lo + 1).toInt
      val hasEnd = hi + 1 < n
      val slice = new Array[Byte]((cnt + (if (hasEnd) 1 else 0)) * 8)
      in.readFully(indexOffset + 8L * lo, slice)
      val sb = ByteBuffer.wrap(slice)
      val offs = new Array[Long](cnt + 1)
      var i = 0
      while (i < cnt) { offs(i) = sb.getLong; i += 1 }
      offs(cnt) = if (hasEnd) sb.getLong else indexOffset
      val start = offs(0)
      val span = offs(cnt) - start
      require(start >= 4 && span >= 0 && offs(cnt) <= indexOffset,
        s"$name: corrupt GKV1 offset index (window [$lo,$hi] -> [$start, ${offs(cnt)}))")
      if (span > MaxLookupWindowBytes) return None
      val buf = new Array[Byte](span.toInt)
      in.readFully(start, buf)
      var l = 0
      var h = cnt - 1
      while (l <= h) {
        val m = (l + h) >>> 1
        val rel = offs(m) - start
        require(rel >= 0 && rel + 8 <= span,
          s"$name: corrupt GKV1 offset index (entry ${lo + m} -> ${offs(m)} outside its window)")
        val bb = ByteBuffer.wrap(buf, rel.toInt, 8)
        val keyLen = bb.getInt
        val valLen = bb.getInt
        checkRecordShape(offs(m), keyLen, valLen)
        require(rel + 8 + keyLen + math.max(valLen, 0) <= span,
          s"$name: corrupt GKV1 record at offset ${offs(m)} (overruns its window)")
        val kFrom = rel.toInt + 8
        val cmp = java.util.Arrays.compareUnsigned(
          buf, kFrom, kFrom + keyLen, key, 0, key.length)
        if (cmp == 0)
          return Some(
            if (valLen < 0) Some(null)
            else Some(java.util.Arrays.copyOfRange(buf, kFrom + keyLen, kFrom + keyLen + valLen)))
        else if (cmp < 0) l = m + 1
        else h = m - 1
      }
      Some(None)
    }

    /** Binary search. `None` = key absent; `Some(null)` = present with a
      * null value — the distinction multiGet's miss semantics rest on is
      * observable here too (wrap in your own Option-of-Option if needed). */
    def lookup(key: Array[Byte]): Option[Array[Byte]] = {
      var lo = 0L
      var hi = n - 1
      var windowOk = true
      while (lo <= hi) {
        if (windowOk && hi - lo < WindowRecords) {
          windowLookup(lo, hi, key) match {
            case Some(answer) => return answer
            case None => windowOk = false // jumbo span: step the rest
          }
        }
        val mid = (lo + hi) >>> 1
        val (k, valLen, valuePos) = nodeAt(mid)
        val cmp = java.util.Arrays.compareUnsigned(k, key)
        if (cmp == 0) return Some(readValue(valLen, valuePos))
        else if (cmp < 0) lo = mid + 1
        else hi = mid - 1
      }
      None
    }

    /** Sequential scan of every record, in key order. Streams through the
      * handle's buffered sequential channel — positioned reads per record
      * would pay a pread (and, on checksummed filesystems, a checksum
      * chunk re-read) three times per row. At most ONE iterator per
      * Reader lifetime (it owns the seek pointer); interleaved [[lookup]]
      * calls stay safe — they use positioned reads, which do not move
      * the pointer. */
    def iterator: Iterator[(Array[Byte], Array[Byte])] = {
      in.seek(4L)
      // the wrapper is never closed (closing it would close the handle);
      // buffering may read past indexOffset into index bytes, which is
      // harmless — iteration stops after exactly `count` records
      val data = new java.io.DataInputStream(new java.io.BufferedInputStream(in, 1 << 16))
      new Iterator[(Array[Byte], Array[Byte])] {
        private var i = 0L
        private var off = 4L
        def hasNext: Boolean = i < n
        def next(): (Array[Byte], Array[Byte]) = {
          val keyLen = data.readInt()
          val valLen = data.readInt()
          checkRecordShape(off, keyLen, valLen)
          val k = new Array[Byte](keyLen)
          data.readFully(k)
          val v =
            if (valLen < 0) null
            else { val b = new Array[Byte](valLen); data.readFully(b); b }
          i += 1
          off += 8L + keyLen + math.max(valLen, 0)
          (k, v)
        }
      }
    }

    /** Span-checksum audit (GKV2 trailers; legacy GKV1-trailer files
      * report nothing — they carry no checksums): ONE buffered
      * sequential pass over the records+index region [4, crcOffset),
      * each span's CRC32 recomputed and compared against the stored
      * array. One finding per mismatching span, naming the file and byte
      * range — re-publish (or restore) the shard; the LOOKUP path stays
      * checksum-free by design (see [[KvFile.CrcSpanBytes]]). Owns the
      * seek pointer like [[iterator]]. [[auditPass]] is the fsck variant
      * that frames records in the same single read. */
    override def verifyIntegrity(): Iterator[String] = crcInfo match {
      case None => Iterator.empty
      case Some((crcOff, spanBytes)) =>
        val coveredLen = crcOff - 4L // records + offset index
        val nSpans = if (coveredLen <= 0) 0L else (coveredLen + spanBytes - 1) / spanBytes
        if (nSpans == 0) Iterator.empty
        else {
          // the trailer equation bounds 4*nSpans to the crc section's
          // actual byte size; the MinSpanBytes floor keeps it far from
          // Int limits at any realistic file size — but fail NAMED, not
          // as a negative allocation, if a pathological file gets here
          require(nSpans <= Int.MaxValue / 4,
            s"$name: corrupt GKV2 trailer ($nSpans checksum spans)")
          val stored = new Array[Byte](4 * nSpans.toInt)
          in.readFully(crcOff, stored)
          val sb = ByteBuffer.wrap(stored)
          in.seek(4L)
          val data = new java.io.BufferedInputStream(in, 1 << 16)
          val buf = new Array[Byte](1 << 16)
          val findings = scala.collection.mutable.ArrayBuffer[String]()
          var remaining = coveredLen
          var spanStart = 4L
          var i = 0L
          while (i < nSpans) {
            val spanLen = math.min(spanBytes.toLong, remaining)
            val crc = new java.util.zip.CRC32
            var left = spanLen
            while (left > 0) {
              val r = data.read(buf, 0, math.min(left, buf.length.toLong).toInt)
              require(r > 0, s"$name: unexpected EOF verifying span at offset $spanStart")
              crc.update(buf, 0, r)
              left -= r
            }
            val expect = sb.getInt
            val actual = crc.getValue.toInt
            if (actual != expect)
              findings += f"$name%s: CRC mismatch in bytes [$spanStart%d, ${spanStart + spanLen}%d) " +
                f"(stored 0x$expect%08x, actual 0x$actual%08x)"
            spanStart += spanLen
            remaining -= spanLen
            i += 1
          }
          findings.iterator
        }
    }

    /** Rolling span-CRC tracker for [[auditPass]]: fed every byte of
      * [4, crcOffset) in order, compares each completed span against the
      * stored array. */
    private final class SpanCrcTracker(
        spanBytes: Int, stored: ByteBuffer, coveredLen: Long) {
      private val crc = new java.util.zip.CRC32
      private var fill = 0L
      private var spanStart = 4L
      private var consumed = 0L
      val findings = scala.collection.mutable.ArrayBuffer[String]()
      def feed(b: Array[Byte], off0: Int, len0: Int): Unit = {
        var off = off0
        var len = len0
        while (len > 0) {
          val take = math.min(len.toLong, spanBytes - fill).toInt
          crc.update(b, off, take)
          fill += take
          consumed += take
          off += take
          len -= take
          if (fill == spanBytes) roll()
        }
      }
      private def roll(): Unit = {
        val expect = stored.getInt
        val actual = crc.getValue.toInt
        if (actual != expect)
          findings += f"$name%s: CRC mismatch in bytes [$spanStart%d, ${spanStart + fill}%d) " +
            f"(stored 0x$expect%08x, actual 0x$actual%08x)"
        spanStart += fill
        crc.reset()
        fill = 0
      }
      def finish(): Unit = if (fill > 0) roll()
      def remaining: Long = coveredLen - consumed
    }

    /** Single-read combined audit: ONE buffered sequential pass over
      * [4, crcOffset) frames every record (keys to `onKey`) AND feeds
      * the span CRCs — the offset index included (a flipped in-bounds
      * index byte mis-targets binary searches while records frame
      * clean; only the CRC sees it). A framing break becomes a finding
      * and the CRC pass still completes over the rest of the region, so
      * corruption is always NAMED, never a crashed audit. Legacy files
      * (no CRCs) frame only. Owns the seek pointer like [[iterator]]. */
    override def auditPass(onKey: Array[Byte] => Unit): Seq[String] = {
      val findings = scala.collection.mutable.ArrayBuffer[String]()
      val crcState = crcInfo.map { case (crcOff, spanBytes) =>
        val coveredLen = crcOff - 4L
        val nSpans = if (coveredLen <= 0) 0L else (coveredLen + spanBytes - 1) / spanBytes
        require(nSpans <= Int.MaxValue / 4,
          s"$name: corrupt GKV2 trailer ($nSpans checksum spans)")
        val stored = new Array[Byte](4 * nSpans.toInt)
        if (nSpans > 0) in.readFully(crcOff, stored)
        new SpanCrcTracker(spanBytes, ByteBuffer.wrap(stored), coveredLen)
      }
      in.seek(4L)
      val raw = new java.io.BufferedInputStream(in, 1 << 16)
      val buf = new Array[Byte](1 << 16)
      def readTracked(dst: Array[Byte], len: Int): Unit = {
        var o = 0
        while (o < len) {
          val r = raw.read(dst, o, len - o)
          require(r > 0, s"$name: unexpected EOF in audit pass")
          o += r
        }
        crcState.foreach(_.feed(dst, 0, len))
      }
      def drainTracked(count: Long): Unit = {
        var left = count
        while (left > 0) {
          val r = raw.read(buf, 0, math.min(left, buf.length.toLong).toInt)
          require(r > 0, s"$name: unexpected EOF in audit pass")
          crcState.foreach(_.feed(buf, 0, r))
          left -= r
        }
      }
      var off = 4L
      var i = 0L
      try {
        val hdr = new Array[Byte](8)
        while (i < n) {
          readTracked(hdr, 8)
          val bb = ByteBuffer.wrap(hdr)
          val keyLen = bb.getInt
          val valLen = bb.getInt
          checkRecordShape(off, keyLen, valLen)
          val k = new Array[Byte](keyLen)
          readTracked(k, keyLen)
          if (valLen > 0) drainTracked(valLen.toLong)
          onKey(k)
          off += 8L + keyLen + math.max(valLen, 0)
          i += 1
        }
        if (off != indexOffset)
          findings += s"$name: record framing ended at $off but the index starts at $indexOffset"
      } catch {
        case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
          findings += s"$name: record framing broke after $i records " +
            s"(near offset $off): ${e.getMessage}"
      }
      // finish the CRC stream over whatever remains of [4, crcOffset) —
      // index bytes, plus unframed record bytes after a framing break
      crcState.foreach { cs =>
        try {
          drainTracked(cs.remaining)
          cs.finish()
        } catch {
          case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
            findings += s"$name: checksum audit incomplete: ${e.getMessage}"
        }
        findings ++= cs.findings
      }
      findings.toSeq
    }

    /** Keys-only scan, in key order: value bytes are SKIPPED using the
      * `valLen` already in each record header — never allocated and, on
      * the large-record branch, never read. Density-adaptive like the
      * batch-lookup crossover (`DomainStore.LookupScanRatio`):
      *  - avg record ≤ [[KeysSeqRecordLen]]: values sit inside the
      *    read-ahead buffer anyway, so the pass streams sequentially and
      *    skips in-buffer (same I/O as the full scan, zero value
      *    allocation);
      *  - larger records: ONE positioned read per record (header + key
      *    probed together; a rare over-long key costs a second). The
      *    next record's offset is computed from this record's header —
      *    the offset index is never touched — so a large-value shard's
      *    key pass does key-sized I/O, not shard-sized.
      * Sequential-branch lifetime contract matches [[iterator]] (owns
      * the seek pointer, positioned [[lookup]]s can interleave); the
      * positioned branch uses preads only. */
    def keysIterator: Iterator[Array[Byte]] = {
      val avgRecordLen = if (n == 0) 0L else (indexOffset - 4L) / n
      if (avgRecordLen <= KeysSeqRecordLen) {
        in.seek(4L)
        val data = new java.io.DataInputStream(new java.io.BufferedInputStream(in, 1 << 16))
        new Iterator[Array[Byte]] {
          private var i = 0L
          private var off = 4L
          def hasNext: Boolean = i < n
          def next(): Array[Byte] = {
            val keyLen = data.readInt()
            val valLen = data.readInt()
            checkRecordShape(off, keyLen, valLen)
            off += 8L + keyLen + math.max(valLen, 0)
            val k = new Array[Byte](keyLen)
            data.readFully(k)
            if (valLen > 0) {
              var left = valLen.toLong
              while (left > 0) {
                val s = data.skip(left)
                // skip() may stall at a buffer boundary; forcing one real
                // byte read un-sticks it without an unbounded spin
                if (s > 0) left -= s
                else { data.readByte(); left -= 1 }
              }
            }
            i += 1
            k
          }
        }
      } else new Iterator[Array[Byte]] {
        private var i = 0L
        private var off = 4L
        private val probe = new Array[Byte](8 + KeysProbeKeyLen)
        def hasNext: Boolean = i < n
        def next(): Array[Byte] = {
          val got = math.min(probe.length.toLong, indexOffset - off).toInt
          in.readFully(off, probe, 0, got)
          val bb = ByteBuffer.wrap(probe)
          val keyLen = bb.getInt
          val valLen = bb.getInt
          checkRecordShape(off, keyLen, valLen)
          val k = new Array[Byte](keyLen)
          if (keyLen <= got - 8) System.arraycopy(probe, 8, k, 0, keyLen)
          else in.readFully(off + 8L, k)
          off += 8L + keyLen + math.max(valLen, 0)
          i += 1
          k
        }
      }
    }

    /** Index of the first record whose key is past `bound` from below:
      * `inclusive` → first key >= bound, else first key > bound. O(log n)
      * positioned reads over the offset index; `n` when every key is
      * below the bound. */
    private def lowerBound(bound: Array[Byte], inclusive: Boolean): Long = {
      var lo = 0L
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val (k, _, _) = readHeader(recordOffset(mid))
        val cmp = java.util.Arrays.compareUnsigned(k, bound)
        val before = if (inclusive) cmp < 0 else cmp <= 0
        if (before) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** Key-range scan, in key order: records whose key falls inside the
      * (unsigned-lexicographic) bounds. I/O is proportional to the RANGE,
      * not the file — the start is an O(log n) binary search over the
      * offset index, the body is one buffered sequential read from that
      * offset, and iteration stops at the first key past the upper bound
      * (keys are sorted, so nothing after it can match). `None` bounds
      * are open ends; `range(None, _, None, _)` degrades to the full
      * sequential scan. With `withValues = false` value bytes are skipped
      * in-buffer via each record's header (returned as null), the
      * [[keysIterator]] sequential pattern. Lifetime contract matches
      * [[iterator]]: the sequential body owns the seek pointer (at most
      * one live sequential iterator per Reader), while positioned
      * [[lookup]]s may interleave. Duplicate keys equal to an inclusive
      * bound are all returned. */
    def range(
        from: Option[Array[Byte]],
        fromInclusive: Boolean,
        to: Option[Array[Byte]],
        toInclusive: Boolean,
        withValues: Boolean = true): Iterator[(Array[Byte], Array[Byte])] = {
      val start = from.fold(0L)(b => lowerBound(b, fromInclusive))
      if (start >= n) return Iterator.empty
      // `to` is shadowed by Iterator.to inside the anonymous class below
      val upper = to
      // one index pread serves both the seek and the offset cursor
      // (preads are expensive on checksummed filesystems)
      val startOff = if (start == 0) 4L else recordOffset(start)
      in.seek(startOff)
      val data = new java.io.DataInputStream(new java.io.BufferedInputStream(in, 1 << 16))
      new Iterator[(Array[Byte], Array[Byte])] {
        private var i = start
        private var done = false
        private var off = startOff
        private var pending: (Array[Byte], Array[Byte]) = _
        private def advance(): Unit = {
          if (done || pending != null) return
          if (i >= n) { done = true; return }
          val keyLen = data.readInt()
          val valLen = data.readInt()
          checkRecordShape(off, keyLen, valLen)
          off += 8L + keyLen + math.max(valLen, 0)
          val k = new Array[Byte](keyLen)
          data.readFully(k)
          i += 1
          val inRange = upper.forall { b =>
            val cmp = java.util.Arrays.compareUnsigned(k, b)
            if (toInclusive) cmp <= 0 else cmp < 0
          }
          if (!inRange) {
            // sorted: the first out-of-range key ends the scan for good
            done = true
            return
          }
          val v =
            if (valLen < 0) null
            else if (withValues) {
              val b = new Array[Byte](valLen); data.readFully(b); b
            } else {
              var left = valLen.toLong
              while (left > 0) {
                val s = data.skip(left)
                if (s > 0) left -= s
                else { data.readByte(); left -= 1 }
              }
              null
            }
          pending = (k, v)
        }
        def hasNext: Boolean = { advance(); pending != null }
        def next(): (Array[Byte], Array[Byte]) = {
          advance()
          if (pending == null) throw new NoSuchElementException
          val r = pending; pending = null; r
        }
      }
    }

    def close(): Unit = in.close()
  }
}
