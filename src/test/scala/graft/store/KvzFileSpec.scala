package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The block-compressed servable format on its own — NO SparkSession:
  * everything here is what a non-Spark serving process would run. Block
  * sizes are forced tiny so every test crosses many block boundaries. */
class KvzFileSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def scratchFile(name: String): Path = {
    val p = new Path(s"/root/repo/target/test-scratch/kvzfile/$name")
    p.getFileSystem(conf).delete(p, false)
    p
  }

  private def writeFile(
      p: Path,
      rows: Seq[(Array[Byte], Array[Byte])],
      blockSize: Int = 256): Long = {
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out = new java.io.DataOutputStream(fs.create(p, true))
    try KvzFile.write(out, rows.iterator, blockSize) finally out.close()
  }

  private def byUnsigned(rows: Seq[(Array[Byte], Array[Byte])]): Seq[(Array[Byte], Array[Byte])] =
    rows.sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)

  test("seeded fuzz: round-trip through lookup, iterator, keyAt across many blocks") {
    val rnd = new scala.util.Random(5150)
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val raw = (Seq(
      Array.emptyByteArray,
      Array(0x7f.toByte), Array(0x80.toByte), Array(0xff.toByte),
      Array(1.toByte), Array(1.toByte, 0.toByte)) ++
      (0 until 500).map(_ => bytes(1 + rnd.nextInt(40))))
      .map(k => java.nio.ByteBuffer.wrap(k)).distinct.map(_.array())
    val rows = byUnsigned(raw.zipWithIndex.map { case (k, i) =>
      k -> (if (i % 7 == 3) null else bytes(rnd.nextInt(64)))
    })
    val p = scratchFile("fuzz.kv")
    // 256-byte blocks: ~hundreds of blocks for ~500 records
    assert(writeFile(p, rows) === rows.size.toLong)
    val fs = p.getFileSystem(conf)
    val r = KvFile.open(fs, p) // sniffed: must come back as a Kvz reader
    try {
      assert(r.isInstanceOf[KvzFile.Reader], "magic sniffing routed to the wrong reader")
      assert(r.count === rows.size.toLong)
      rows.foreach { case (k, v) =>
        val got = r.lookup(k)
        assert(got.isDefined, s"key of ${k.length} bytes missing")
        assert(java.util.Arrays.equals(got.get, v))
      }
      (0 until 100).foreach { _ =>
        val k = bytes(41 + rnd.nextInt(8)) // longer than any present key
        assert(r.lookup(k) === None)
      }
      val back = r.iterator.toVector
      assert(back.size === rows.size)
      back.zip(rows).foreach { case ((gk, gv), (k, v)) =>
        assert(java.util.Arrays.equals(gk, k))
        assert((gv == null && v == null) || java.util.Arrays.equals(gv, v))
      }
      // keyAt at block boundaries and random positions
      Seq(0, 1, rows.size - 1, rows.size / 2).foreach { i =>
        assert(java.util.Arrays.equals(r.keyAt(i.toLong), rows(i)._1), s"keyAt($i)")
      }
      (0 until 50).foreach { _ =>
        val i = rnd.nextInt(rows.size)
        assert(java.util.Arrays.equals(r.keyAt(i.toLong), rows(i)._1))
      }
      val ks = r.keysIterator.toVector
      assert(ks.size === rows.size)
      ks.zip(rows).foreach { case (gk, (k, _)) => assert(java.util.Arrays.equals(gk, k)) }
      assert(KvFile.count(fs, p) === rows.size.toLong)
    } finally r.close()
  }

  test("range: seeded fuzz over bounds vs an in-memory reference filter, duplicates included") {
    val rnd = new scala.util.Random(6060)
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val cmp = (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
    val base = (Seq(Array.emptyByteArray, Array(0x7f.toByte), Array(0x80.toByte)) ++
      (0 until 300).map(_ => bytes(1 + rnd.nextInt(12))))
    val raw = base ++ base.take(40) // duplicated keys — may straddle block edges
    val rows = byUnsigned(raw.zipWithIndex.map { case (k, i) =>
      k -> (if (i % 9 == 0) null else bytes(rnd.nextInt(32)))
    })
    val p = scratchFile("rangefuzz.kv")
    writeFile(p, rows, blockSize = 128)
    val r = KvFile.open(p.getFileSystem(conf), p)
    try {
      def reference(
          from: Option[Array[Byte]], fi: Boolean,
          to: Option[Array[Byte]], ti: Boolean): Seq[(Array[Byte], Array[Byte])] =
        rows.filter { case (k, _) =>
          from.forall(b => if (fi) cmp(k, b) >= 0 else cmp(k, b) > 0) &&
            to.forall(b => if (ti) cmp(k, b) <= 0 else cmp(k, b) < 0)
        }
      def check(
          from: Option[Array[Byte]], fi: Boolean,
          to: Option[Array[Byte]], ti: Boolean): Unit = {
        val want = reference(from, fi, to, ti)
        val got = r.range(from, fi, to, ti).toVector
        assert(got.size === want.size, s"range size mismatch (fi=$fi ti=$ti)")
        got.zip(want).foreach { case ((gk, gv), (k, v)) =>
          assert(java.util.Arrays.equals(gk, k))
          assert((gv == null && v == null) || java.util.Arrays.equals(gv, v))
        }
      }
      val candidates: Seq[Option[Array[Byte]]] =
        Seq(None) ++ (0 until 30).map(_ => Some(rows(rnd.nextInt(rows.size))._1)) ++
          (0 until 30).map(_ => Some(bytes(1 + rnd.nextInt(14))))
      for (_ <- 0 until 200) {
        val from = candidates(rnd.nextInt(candidates.size))
        val to = candidates(rnd.nextInt(candidates.size))
        check(from, rnd.nextBoolean(), to, rnd.nextBoolean())
      }
      val dupKey = rows.groupBy(t => java.nio.ByteBuffer.wrap(t._1))
        .collectFirst { case (_, g) if g.size > 1 => g.head._1 }.get
      check(Some(dupKey), true, Some(dupKey), true)
      check(Some(Array(0xff.toByte, 0xff.toByte)), true, Some(Array(0x00.toByte)), true)
      // keys-only ranges return null values
      val ko = r.range(None, true, None, true, withValues = false).toVector
      assert(ko.size === rows.size && ko.forall(_._2 == null))
    } finally r.close()
  }

  test("lookup and range I/O touch blocks, not the file; compression actually shrinks") {
    val rnd = new scala.util.Random(17)
    // compressible values (repeated text), 512 records, 4 KiB blocks
    val rows = byUnsigned((0 until 512).map { i =>
      java.nio.ByteBuffer.allocate(4).putInt(i).array() ->
        (s"document body $i " * 40).getBytes("UTF-8")
    })
    val p = scratchFile("blockio.kv")
    writeFile(p, rows, blockSize = 4096)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val rawLen = rows.map { case (k, v) => 8L + k.length + v.length }.sum
    assert(fileLen < rawLen / 2, s"kvz file $fileLen bytes vs raw $rawLen — Deflate bought < 2x")

    class Counting(in: org.apache.hadoop.fs.FSDataInputStream)
        extends java.io.InputStream
        with org.apache.hadoop.fs.Seekable
        with org.apache.hadoop.fs.PositionedReadable {
      var readBytes = 0L
      override def read(): Int = { val r = in.read(); if (r >= 0) readBytes += 1; r }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = in.read(b, off, len); if (r > 0) readBytes += r; r
      }
      def seek(pos: Long): Unit = in.seek(pos)
      def getPos: Long = in.getPos
      def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
      def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
        val r = in.read(position, buffer, offset, length); if (r > 0) readBytes += r; r
      }
      def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
        in.readFully(position, buffer, offset, length); readBytes += length
      }
      def readFully(position: Long, buffer: Array[Byte]): Unit = {
        in.readFully(position, buffer); readBytes += buffer.length
      }
      override def close(): Unit = in.close()
    }
    val counting = new Counting(fs.open(p))
    val r = new KvzFile.Reader(
      new org.apache.hadoop.fs.FSDataInputStream(counting), fileLen)
    try {
      val afterOpen = counting.readBytes // trailer + whole block index
      val probe = java.nio.ByteBuffer.allocate(4).putInt(300).array()
      assert(r.lookup(probe).isDefined)
      val oneLookup = counting.readBytes - afterOpen
      assert(oneLookup < fileLen / 8,
        s"one lookup read $oneLookup of $fileLen bytes — more than a block's worth")
      // key-sorted batch: consecutive keys hit the cached block (no re-read)
      val before = counting.readBytes
      val probe2 = java.nio.ByteBuffer.allocate(4).putInt(301).array()
      assert(r.lookup(probe2).isDefined)
      assert(counting.readBytes === before, "adjacent key re-read its block — cache miss")
      // a bounded range reads ~its blocks
      val lo = java.nio.ByteBuffer.allocate(4).putInt(100).array()
      val hi = java.nio.ByteBuffer.allocate(4).putInt(103).array()
      val beforeRange = counting.readBytes
      assert(r.range(Some(lo), true, Some(hi), true).toVector.size === 4)
      assert(counting.readBytes - beforeRange < fileLen / 8,
        s"4-record range read ${counting.readBytes - beforeRange} of $fileLen bytes")
    } finally r.close()
  }

  test("lookupScanRatio prices probes by block density, not plain-kv preads") {
    // ~64 B records in 256 B blocks → ~4 records/block: a kvz probe
    // inflates a whole block, so the merge-scan crossover must sit near
    // the records-per-block count, far below plain kv's 256
    val rows = byUnsigned((0 until 400).map { i =>
      f"zk$i%04d".getBytes("UTF-8") -> ("zv" * 24 + i).getBytes("UTF-8")
    })
    val p = scratchFile("ratio.kv")
    writeFile(p, rows, blockSize = 256)
    val r = KvFile.open(fs = p.getFileSystem(conf), path = p)
    try {
      val ratio = r.lookupScanRatio
      assert(ratio >= 1 && ratio <= 32,
        s"kvz ratio $ratio should approximate records-per-block, got plain-kv class")
      assert(ratio < KvFile.LookupScanRatio)
    } finally r.close()
  }

  test("range: a duplicate-key run straddling a block boundary keeps ALL copies") {
    // rows a, k, k, z at a block size that splits the two k's across
    // blocks — block 1's firstKey IS k, so a <=-search start would skip
    // the first copy (the confirmed row-loss repro)
    val k = "kkkkkkkkkkkkkkkk".getBytes("UTF-8")
    val rows = Seq(
      "aaaaaaaaaaaaaaaa".getBytes("UTF-8") -> ("va" * 20).getBytes("UTF-8"),
      k -> ("v1" * 20).getBytes("UTF-8"),
      k -> ("v2" * 20).getBytes("UTF-8"),
      "zzzzzzzzzzzzzzzz".getBytes("UTF-8") -> ("vz" * 20).getBytes("UTF-8"))
    val p = scratchFile("dupstraddle.kv")
    writeFile(p, rows, blockSize = 64) // each record ~64 B: one record per block
    val r = KvFile.open(p.getFileSystem(conf), p)
    try {
      assert(r.range(Some(k), true, Some(k), true).size === 2,
        "inclusive [k, k] must return BOTH duplicates")
      assert(r.range(Some(k), true, None, true).size === 3, "[k, +inf) must be k, k, z")
      assert(r.range(Some(k), false, None, true).size === 1, "(k, +inf) must be just z")
      // an equal-firstKey run spanning SEVERAL blocks
      val many = Seq(rows.head) ++ (0 until 6).map(i =>
        k -> (s"dup$i" * 12).getBytes("UTF-8")) ++ Seq(rows.last)
      val p2 = scratchFile("dupspan.kv")
      writeFile(p2, many, blockSize = 64)
      val r2 = KvFile.open(p2.getFileSystem(conf), p2)
      try assert(r2.range(Some(k), true, Some(k), true).size === 6)
      finally r2.close()
    } finally r.close()
  }

  test("a corrupt zlib header demanding a preset dictionary fails loud, never spins") {
    val rows = Seq("aaaa".getBytes("UTF-8") -> ("x" * 200).getBytes("UTF-8"))
    val p = scratchFile("fdict.kv")
    writeFile(p, rows, blockSize = 4096)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p); in.readFully(0, bytes); in.close()
    // block starts at offset 4 with the zlib CMF/FLG pair; set FDICT
    // (FLG bit 5) and re-solve FCHECK so the header still validates
    val cmf = bytes(4) & 0xff
    var flg = (bytes(5) & 0xff) | 0x20
    flg = (flg & ~0x1f) | ((31 - (cmf * 256 + (flg & ~0x1f)) % 31) % 31)
    assert((cmf * 256 + flg) % 31 === 0, "crafted header must pass FCHECK")
    bytes(5) = flg.toByte
    val out = fs.create(p, true); out.write(bytes); out.close()
    val r = KvFile.open(fs, p)
    try {
      val e = intercept[IllegalArgumentException](r.lookup("aaaa".getBytes("UTF-8")))
      assert(e.getMessage.contains("fdict.kv") && e.getMessage.contains("dictionary"),
        e.getMessage)
    } finally r.close()
  }

  test("a block whose ADLER32 trailer lies fails loud — every decode is checksum-verified") {
    // one block (huge blockSize): comp region = [4, indexOffset)
    val rows = byUnsigned((0 until 50).map(i =>
      f"ak$i%03d".getBytes("UTF-8") -> s"av$i".getBytes("UTF-8")))
    val p = scratchFile("adler.kv")
    writeFile(p, rows, blockSize = 1 << 20)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val trailer = new Array[Byte](28)
    val in0 = fs.open(p)
    try in0.readFully(len - 28, trailer) finally in0.close()
    val indexOffset = java.nio.ByteBuffer.wrap(trailer).getLong
    // sanity: the file reads clean before corruption
    val ok = KvFile.open(fs, p)
    try assert(ok.lookup("ak007".getBytes("UTF-8")).isDefined) finally ok.close()
    // flip the zlib trailer (last 4 bytes of the block = its ADLER32):
    // the payload still inflates to the right LENGTH, so only the
    // checksum stands between this and serving garbage
    val all = new Array[Byte](len.toInt)
    val in1 = fs.open(p)
    try in1.readFully(0, all) finally in1.close()
    (indexOffset - 4 until indexOffset).foreach(i =>
      all(i.toInt) = (all(i.toInt) ^ 0xff).toByte)
    val out = fs.create(p, true)
    try out.write(all) finally out.close()
    val r = KvFile.open(fs, p)
    try {
      val e = intercept[IllegalArgumentException](r.lookup("ak007".getBytes("UTF-8")))
      assert(e.getMessage.contains("corrupt GKZ1 block"), e.getMessage)
      assert(e.getMessage.contains("adler.kv"), "corruption error must NAME the file")
    } finally r.close()
  }

  test("a block that inflates and passes ADLER32 but frames badly fails named, never unnamed") {
    // records a000..a009, hand-deflated into one block behind a valid
    // zlib wrapper (so the checksum vouches for the bad lengths)
    val recs = (0 until 10).map(i => f"a$i%03d".getBytes("UTF-8") -> s"value-$i".getBytes("UTF-8"))
    def rawBlock(keyLen0: Int, valLen0: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(recs.map { case (k, v) => 8 + k.length + v.length }.sum)
      recs.zipWithIndex.foreach { case ((k, v), i) =>
        bb.putInt(if (i == 0) keyLen0 else k.length).putInt(if (i == 0) valLen0 else v.length)
        bb.put(k).put(v)
      }
      bb.array()
    }
    def craft(name: String, raw: Array[Byte], recordCount: Long): Path = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val compLen = d.deflate(buf)
      d.end()
      val first = recs.head._1
      val bb = java.nio.ByteBuffer.allocate(4 + compLen + 28 + first.length + 28)
      bb.put(KvzFile.Magic).put(buf, 0, compLen)
      bb.putLong(4L).putLong(0L).putInt(raw.length).putInt(compLen).putInt(first.length).put(first)
      bb.putLong(4L + compLen).putLong(1L).putLong(recordCount).put(KvzFile.Magic)
      val p = scratchFile(name)
      val fs = p.getFileSystem(conf)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write(bb.array()) finally out.close()
      p
    }
    val k0 = recs.head._1.length
    val v0 = recs.head._2.length
    // control: the same crafting with honest lengths reads back
    val okP = craft("framed-ok.kv", rawBlock(k0, v0), recs.size)
    val ok = KvFile.open(okP.getFileSystem(conf), okP)
    try {
      assert(ok.lookup("a004".getBytes("UTF-8")).map(new String(_, "UTF-8")) === Some("value-4"))
      assert(ok.iterator.size === recs.size)
    } finally ok.close()
    Seq(
      ("keylen-overrun.kv", rawBlock(1 << 20, v0), recs.size.toLong, "keyLen=1048576"),
      ("keylen-negative.kv", rawBlock(-5, v0), recs.size.toLong, "keyLen=-5"),
      ("vallen-overrun.kv", rawBlock(k0, Int.MaxValue), recs.size.toLong, s"valLen=${Int.MaxValue}"),
      ("vallen-negative.kv", rawBlock(k0, -2), recs.size.toLong, "valLen=-2"),
      // the index promises one record more, or one fewer, than the block holds
      ("count-short.kv", rawBlock(k0, v0), recs.size + 1L, "past rawLen"),
      ("count-long.kv", rawBlock(k0, v0), recs.size - 1L, "records end at")
    ).foreach { case (name, raw, count, detail) =>
      val p = craft(name, raw, count)
      val r = KvFile.open(p.getFileSystem(conf), p)
      try {
        Seq[() => Any](
          () => r.lookup("a004".getBytes("UTF-8")), () => r.iterator.toVector, () => r.keyAt(0L)
        ).foreach { read =>
          val e = intercept[IllegalArgumentException](read())
          assert(e.getMessage.startsWith(s"$p: corrupt GKZ1 block 0 ("), e.getMessage)
          assert(e.getMessage.contains(detail), e.getMessage)
        }
      } finally r.close()
    }
  }

  test("unsorted input and null keys are rejected at write time") {
    val p = scratchFile("unsorted.kv")
    val e = intercept[IllegalArgumentException](writeFile(p, Seq(
      "b".getBytes("UTF-8") -> "1".getBytes("UTF-8"),
      "a".getBytes("UTF-8") -> "2".getBytes("UTF-8"))))
    assert(e.getMessage.contains("not sorted"))
    val e2 = intercept[IllegalArgumentException](writeFile(scratchFile("nullkey.kv"),
      Seq(null.asInstanceOf[Array[Byte]] -> "v".getBytes("UTF-8"))))
    assert(e2.getMessage.contains("null key"))
  }

  test("empty file opens, counts 0, misses everything") {
    val p = scratchFile("empty.kv")
    assert(writeFile(p, Nil) === 0L)
    val r = KvFile.open(p.getFileSystem(conf), p)
    try {
      assert(r.isInstanceOf[KvzFile.Reader])
      assert(r.count === 0L)
      assert(r.lookup("x".getBytes("UTF-8")) === None)
      assert(r.iterator.isEmpty)
      assert(r.range(None, true, None, true).isEmpty)
    } finally r.close()
  }

  test("corrupt files fail loud and NAME the file: truncation, mangled block, foreign magic") {
    val fs = scratchFile("x").getFileSystem(conf)
    def expectNamed(p: Path): Unit = {
      val e = intercept[IllegalArgumentException](KvFile.open(fs, p))
      assert(e.getMessage.contains(p.getName), e.getMessage)
    }
    val good = scratchFile("good.kv")
    writeFile(good, Seq("a".getBytes -> ("x" * 100).getBytes, "b".getBytes -> "2".getBytes))
    val len = fs.getFileStatus(good).getLen
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(good); in.readFully(0, bytes); in.close()
    // truncated mid-index: trailer arithmetic no longer adds up
    val truncated = scratchFile("truncated.kv")
    val out = fs.create(truncated, true); out.write(bytes, 0, bytes.length - 5); out.close()
    expectNamed(truncated)
    // a flipped byte inside the deflate stream: fails at block decompress
    // naming file AND block, not as a garbage record
    val mangled = scratchFile("mangled.kv")
    val mb = bytes.clone(); mb(10) = (mb(10) ^ 0x5a).toByte
    val mo = fs.create(mangled, true); mo.write(mb); mo.close()
    val mr = KvFile.open(fs, mangled)
    try {
      val e = intercept[IllegalArgumentException](mr.lookup("a".getBytes))
      assert(e.getMessage.contains("mangled.kv") && e.getMessage.contains("block"), e.getMessage)
    } finally mr.close()
    // intact file still fine
    val r = KvFile.open(fs, good)
    try assert(r.count === 2L) finally r.close()
  }

  test("concurrent lookups are safe (positioned reads + benign-race block cache)") {
    val rnd = new scala.util.Random(88)
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val rows = byUnsigned((0 until 400).map(i =>
      java.nio.ByteBuffer.allocate(4).putInt(i * 3).array() -> bytes(50)))
    val p = scratchFile("concurrent.kv")
    writeFile(p, rows, blockSize = 512)
    val r = KvFile.open(p.getFileSystem(conf), p)
    try {
      import java.util.concurrent.{Callable, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(8)
      try {
        val futures = (0 until 8).map { t =>
          pool.submit(new Callable[Boolean] {
            def call(): Boolean = {
              val trnd = new scala.util.Random(t)
              (0 until 500).forall { _ =>
                val i = trnd.nextInt(rows.size)
                val hit = r.lookup(rows(i)._1).exists(v => java.util.Arrays.equals(v, rows(i)._2))
                val missKey = java.nio.ByteBuffer.allocate(4).putInt(trnd.nextInt(400) * 3 + 1).array()
                hit && r.lookup(missKey).isEmpty
              }
            }
          })
        }
        futures.foreach(f => assert(f.get(60, TimeUnit.SECONDS)))
      } finally pool.shutdownNow()
    } finally r.close()
  }
}
