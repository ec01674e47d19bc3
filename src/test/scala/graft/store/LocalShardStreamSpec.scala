package graft.store

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shard files on the local filesystem read through [[LocalShardStream]]
  * (held channels, chunks verified against the Hadoop `.crc` sidecar).
  * Every parity rule with `ChecksumFileSystem` has a pin here; no Spark,
  * small files, fixed seeds. */
class LocalShardStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val conf = {
    val c = new Configuration()
    RamFileSystem.register(c)
    c
  }
  private val auth = "localshard"
  private val dir = Files.createTempDirectory("graft-localshard")
  private val local: LocalFileSystem = FileSystem.getLocal(conf)
  private def ram: FileSystem = new Path(s"ramfs://$auth/").getFileSystem(conf)

  override def afterAll(): Unit = {
    RamFileSystem.clear(auth)
    local.delete(new Path(dir.toUri), true)
  }

  private def localPath(name: String): Path = new Path(dir.resolve(name).toUri)

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def write(fs: FileSystem, p: Path, rows: Seq[(Array[Byte], Array[Byte])], kvz: Boolean): Unit = {
    val out = new java.io.DataOutputStream(fs.create(p, true))
    try {
      if (kvz) KvzFile.write(out, rows.iterator, blockSize = 2048)
      else KvFile.write(out, rows.iterator)
    } finally out.close()
  }

  /** `count` sorted records with seeded values; every 11th value null. */
  private def rows(count: Int, valueLen: Int, seed: Int): Seq[(Array[Byte], Array[Byte])] = {
    val rnd = new scala.util.Random(seed)
    (0 until count).map { i =>
      val v = if (i % 11 == 5) null else { val b = new Array[Byte](rnd.nextInt(valueLen + 1)); rnd.nextBytes(b); b }
      utf8(f"k$i%06d") -> v
    }
  }

  private def show(b: Array[Byte]): String = if (b == null) "<null>" else b.map(x => f"$x%02x").mkString

  /** Everything a consumer reads, as comparable strings. */
  private def observe(fs: FileSystem, p: Path, n: Int): Seq[String] = {
    val probes = (0 until n by 7).map(i => utf8(f"k$i%06d")) ++ Seq(utf8("a"), utf8("k0000005x"), utf8("z"))
    def pairs(it: Iterator[(Array[Byte], Array[Byte])]) = it.map { case (k, v) => show(k) + "=" + show(v) }.toVector
    val r = KvFile.open(fs, p)
    val once = try {
      Seq(
        s"count ${r.count}",
        "lookup " + probes.map(k => r.lookup(k).map(show)).mkString(","),
        "keyAt " + (0 until n by 13).map(i => show(r.keyAt(i.toLong))).mkString(","),
        "range " + pairs(r.range(Some(utf8("k000040")), true, Some(utf8("k000090")), false)).mkString(","),
        "rangeKeys " + pairs(r.range(Some(utf8("k000100")), false, None, true, withValues = false)).mkString(","))
    } finally r.close()
    // each sequential pass on its own handle (the GKV1 iterator contract)
    def pass[T](f: ShardReader => T): T = { val h = KvFile.open(fs, p); try f(h) finally h.close() }
    val keys = new scala.collection.mutable.ArrayBuffer[String]()
    val audit = pass(_.auditPass(k => keys += show(k)))
    once ++ Seq(
      "iterator " + pass(h => pairs(h.iterator)).mkString(","),
      "keysIterator " + pass(_.keysIterator.map(show).mkString(",")),
      s"audit ${audit.mkString(";")} keys ${keys.mkString(",")}",
      s"footer ${KvFile.count(fs, p)}")
  }

  /** Open file descriptors of this JVM pointing at `f`. */
  private def fdsOn(f: java.nio.file.Path): Int = {
    val target = f.toRealPath()
    val fds = Option(new java.io.File("/proc/self/fd").listFiles()).getOrElse(Array.empty)
    fds.count { fd =>
      try Files.readSymbolicLink(fd.toPath) == target
      catch { case _: java.io.IOException => false }
    }
  }

  private def crcOf(p: Path): java.nio.file.Path = Paths.get(local.getChecksumFile(p).toUri)

  /** Flip one byte in place, leaving the `.crc` sidecar stale. */
  private def flip(p: Path, at: Long): Unit = {
    val raf = new java.io.RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
    try { raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0x20) } finally raf.close()
  }

  test("same answers as ramfs: lookup, keyAt, range, iterators, auditPass, count (GKV1 + GKZ1)") {
    // small records, GKV1 with jumbo records (keysIterator's positioned
    // branch), and GKZ1 over many small blocks
    val cases = Seq(
      ("small.kv", rows(700, 90, 11), false),
      ("jumbo.kv", rows(40, 9000, 12), false),
      ("blocks.kvz", rows(700, 90, 13), true))
    cases.foreach { case (name, data, kvz) =>
      val lp = localPath(name)
      val rp = new Path(s"ramfs://$auth/$name")
      write(local, lp, data, kvz)
      write(ram, rp, data, kvz)
      assert(Files.exists(crcOf(lp)), s"$name: the local write made no .crc sidecar")
      assert(observe(local, lp, data.size) === observe(ram, rp, data.size), name)
    }
  }

  test("a flipped byte with a stale .crc throws ChecksumException naming file + chunk, like Hadoop's stream") {
    Seq(("flip.kv", false), ("flip.kvz", true)).foreach { case (name, kvz) =>
      val p = localPath(name)
      val data = rows(200, 40, 21)
      write(local, p, data, kvz)
      val victim = 120
      // a byte of the victim's record (GKV1) / of block 0, past the
      // header's chunk so open itself still succeeds (GKZ1)
      val at: Long =
        if (kvz) 1500L
        else Files.readAllBytes(Paths.get(p.toUri)).indexOfSlice(utf8(f"k$victim%06d")).toLong + 7
      flip(p, at)
      val chunk = at / local.getBytesPerSum * local.getBytesPerSum
      def named(e: ChecksumException): Unit = {
        assert(e.getMessage.contains(p.getName), e.getMessage)
        assert(e.getPos === chunk, e.getMessage)
      }
      val key = if (kvz) data.head._1 else data(victim)._1
      val r = KvFile.open(local, p)
      try named(intercept[ChecksumException](r.lookup(key))) finally r.close()
      val it = KvFile.open(local, p)
      try named(intercept[ChecksumException](it.iterator.foreach(_ => ()))) finally it.close()
      // Hadoop's own checker agrees, and neither path quarantined the file
      val h = local.open(p)
      try intercept[ChecksumException](h.readFully(0L, new Array[Byte](local.getFileStatus(p).getLen.toInt)))
      finally h.close()
      assert(local.exists(p), s"$name was moved aside")
    }
  }

  test("no .crc sidecar (or verification off) reads unverified, as ChecksumFileSystem does") {
    val p = localPath("nosums.kv")
    val data = rows(200, 40, 31)
    write(local, p, data, kvz = false)
    Files.delete(crcOf(p))
    val r = KvFile.open(local, p)
    try data.foreach { case (k, v) => assert(r.lookup(k).map(show) === Some(show(v))) }
    finally r.close()
    assert(KvFile.count(local, p) === 200L)

    // a filesystem that does not verify reads a corrupted file's bytes as they are
    val q = localPath("noverify.kv")
    write(local, q, data, kvz = false)
    flip(q, Files.readAllBytes(Paths.get(q.toUri)).indexOfSlice(utf8("k000050")).toLong + 7)
    val lax = FileSystem.newInstance(q.toUri, conf).asInstanceOf[LocalFileSystem]
    try {
      lax.setVerifyChecksum(false)
      val rl = KvFile.open(lax, q)
      try assert(rl.lookup(data(50)._1).isDefined) finally rl.close()
    } finally lax.close()
  }

  test("a missing data file fails open and count with FileNotFoundException") {
    val p = localPath("never-written.kv")
    intercept[java.io.FileNotFoundException](KvFile.open(local, p))
    intercept[java.io.FileNotFoundException](KvFile.count(local, p))
  }

  test("open holds nothing proportional to the file: sums are read per call, not loaded") {
    // 4-byte chunks make the sidecar as large as the data (~1 MB)
    val c = new Configuration(conf)
    c.setInt("file.bytes-per-checksum", 4)
    val fine = FileSystem.newInstance(localPath("x").toUri, c).asInstanceOf[LocalFileSystem]
    val p = localPath("finesums.kv")
    val data = rows(4000, 500, 41)
    try write(fine, p, data, kvz = false) finally fine.close()
    val sidecar = Files.size(crcOf(p))
    assert(sidecar > (900L << 10), s"sidecar only $sidecar bytes")
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val me = Thread.currentThread().getId
    KvFile.open(local, p).close() // warm the classes the measured open loads
    val before = mx.getThreadAllocatedBytes(me)
    val r = KvFile.open(local, p)
    val allocated = mx.getThreadAllocatedBytes(me) - before
    try {
      assert(allocated < (64L << 10), s"open allocated $allocated bytes for a $sidecar-byte sidecar")
      // and the 4-byte chunks still verify every answer
      data.indices.by(97).foreach { i => assert(r.lookup(data(i)._1).map(show) === Some(show(data(i)._2))) }
    } finally r.close()
  }

  test("an interrupted reader thread does not break lookups on other threads") {
    val p = localPath("interrupt.kv")
    val data = rows(3000, 60, 51)
    write(local, p, data, kvz = false)
    val r = KvFile.open(local, p)
    try {
      // deterministic: a thread that reads while interrupted closes the
      // shared channel under every thread; the stream reopens it
      val self = new Thread(() => {
        Thread.currentThread().interrupt()
        try r.lookup(data(7)._1) catch { case _: java.io.IOException => () }
      })
      self.start(); self.join()
      data.indices.by(301).foreach { i => assert(r.lookup(data(i)._1).map(show) === Some(show(data(i)._2))) }

      // racing: workers check every answer while a victim is interrupted mid-lookup
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val answered = new java.util.concurrent.atomic.AtomicLong(0)
      def worker(seed: Int) = new Thread(() => {
        val rnd = new scala.util.Random(seed)
        while (!stop.get()) {
          val i = rnd.nextInt(data.size)
          try {
            if (r.lookup(data(i)._1).map(show) != Some(show(data(i)._2))) failures.add(s"wrong answer for $i")
            else answered.incrementAndGet()
          } catch { case e: Throwable => failures.add(e.toString) }
        }
      })
      val victim = new Thread(() => {
        val rnd = new scala.util.Random(59)
        while (!stop.get()) {
          try r.lookup(data(rnd.nextInt(data.size))._1) catch { case _: Throwable => () }
          Thread.interrupted()
        }
      })
      val workers = (1 to 3).map(worker)
      (workers :+ victim).foreach(_.start())
      val until = System.nanoTime() + 400L * 1000 * 1000
      while (System.nanoTime() < until) { victim.interrupt(); Thread.sleep(2) }
      stop.set(true)
      (workers :+ victim).foreach(_.join(10000))
      assert(failures.isEmpty, failures.toArray.take(5).mkString("; "))
      assert(answered.get() > 0)
    } finally r.close()
  }

  test("close() releases both held handles: the data file and its .crc") {
    val p = localPath("handles.kv")
    write(local, p, rows(100, 20, 61), kvz = false)
    val dataFile = Paths.get(p.toUri)
    val crc = crcOf(p)
    assert(fdsOn(dataFile) === 0 && fdsOn(crc) === 0)
    val r = KvFile.open(local, p)
    try {
      assert(r.lookup(utf8("k000042")).isDefined)
      assert(fdsOn(dataFile) === 1, "the data file is not held")
      assert(fdsOn(crc) === 1, "the .crc sidecar is not held")
    } finally r.close()
    assert(fdsOn(dataFile) === 0 && fdsOn(crc) === 0, "close() left a handle open")
    assert(KvFile.count(local, p) === 100L)
    assert(fdsOn(dataFile) === 0 && fdsOn(crc) === 0, "count left a handle open")
  }
}
