package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.DomainSpec
import graft.functions._

/**
 * The decoded-block cache behind every kvz read ([[KvzBlockCache]]):
 * byte budget, per-reader drop on close and on a roll, no stale bytes
 * for a file rewritten in place, nothing cached that failed its checks,
 * correct answers under concurrency and eviction. Files live on ramfs
 * and are small; the budget-bound cases use their own small cache, the
 * roll case the JVM-wide one (it reads through [[KvDomainReader]]).
 */
class KvzBlockCacheSpec extends SparkSuite {

  private val auth = "kvzblockcache"
  private val conf = {
    val c = new Configuration()
    RamFileSystem.register(c)
    c
  }
  private def fs = new Path(s"ramfs://$auth/").getFileSystem(conf)

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def rows(n: Int, tag: String): Seq[(Array[Byte], Array[Byte])] =
    (0 until n).map(i => utf8(f"bk$i%05d") -> utf8(s"$tag-$i-" + ("v" * (40 + i % 23))))

  private def writeFile(name: String, rs: Seq[(Array[Byte], Array[Byte])], blockSize: Int): Path = {
    val p = new Path(s"ramfs://$auth/$name")
    val out = new java.io.DataOutputStream(fs.create(p, true))
    try KvzFile.write(out, rs.iterator, blockSize) finally out.close()
    p
  }

  private def open(p: Path, cache: KvzBlockCache): KvzFile.Reader =
    new KvzFile.Reader(fs.open(p), fs.getFileStatus(p).getLen, p.toString, cache)

  private def counter(c: KvzBlockCache, name: String): Long = c.metrics.toMap.apply(s"kvz_block_cache.$name")

  test("a full scan of a file larger than the budget stays at or under budget") {
    RamFileSystem.clear(auth)
    val rs = rows(6000, "scan") // ~500 KB raw in 4 KB blocks
    val p = writeFile("scan.kvz", rs, blockSize = 4096)
    val cache = new KvzBlockCache(64 * 1024)
    val r = open(p, cache)
    try {
      val back = r.iterator.toVector
      assert(back.size === rs.size)
      back.zip(rs).foreach { case ((k, v), (ek, ev)) =>
        assert(java.util.Arrays.equals(k, ek) && java.util.Arrays.equals(v, ev))
      }
      assert(cache.bytes > 0 && cache.bytes <= cache.budgetBytes, s"${cache.bytes} bytes cached")
      assert(counter(cache, "evictions") > 0)
      assert(r.keysIterator.size === rs.size)
      assert(cache.bytes <= cache.budgetBytes)
    } finally r.close()
    assert(cache.bytes === 0L)
  }

  test("close() drops the reader's entries and only those") {
    RamFileSystem.clear(auth)
    val p = writeFile("close.kvz", rows(800, "close"), blockSize = 2048)
    val cache = new KvzBlockCache(1L << 20)
    val a = open(p, cache)
    val b = open(p, cache)
    try {
      Seq("bk00010", "bk00400").foreach { k => a.lookup(utf8(k)); b.lookup(utf8(k)) }
      assert(cache.residentOwners.size === 4)
      val held = cache.bytes
      a.close()
      assert(cache.residentOwners.size === 2)
      assert(cache.bytes === held / 2)
      // b still reads from its own entries
      val hits0 = counter(cache, "hits")
      assert(b.lookup(utf8("bk00010")).isDefined)
      assert(counter(cache, "hits") === hits0 + 1)
    } finally b.close()
    assert(cache.bytes === 0L && cache.residentOwners.isEmpty)
  }

  test("KvDomainReader.refresh frees the retired generation's entries; close frees the rest") {
    import spark.implicits._
    RamFileSystem.clear(auth)
    val store = DomainStore.create(
      s"ramfs://$auth/dom", DomainSpec(2, persistenceFormat = DomainSpec.KvSortedZ), conf)
    def frame(tag: String) = (0 until 500).map(i => f"dk$i%04d" -> s"$tag-$i").toDF("k", "v")
      .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value"))
    store.write(frame("one"), 1L)
    def resident(v: Long) = KvzBlockCache.Shared.residentOwners.count(_.contains(s"$auth/dom/$v/"))
    val reader = KvDomainReader.open(store.root.toString, conf)
    try {
      (0 until 500 by 50).foreach(i =>
        assert(reader.get(utf8(f"dk$i%04d")).map(new String(_, "UTF-8")) === Some(s"one-$i")))
      assert(resident(1L) > 0)
      store.write(frame("two"), 2L)
      assert(reader.refresh())
      // no lookup was in flight, so the retired generation drained at once
      assert(resident(1L) === 0)
      assert(reader.get(utf8("dk0007")).map(new String(_, "UTF-8")) === Some("two-7"))
      assert(resident(2L) > 0)
    } finally reader.close()
    assert(resident(2L) === 0)
  }

  test("a file rewritten at the same path and reopened never sees the old bytes") {
    RamFileSystem.clear(auth)
    val p = writeFile("rewrite.kvz", rows(300, "old"), blockSize = 1024)
    val cache = new KvzBlockCache(1L << 20)
    val first = open(p, cache)
    try {
      assert(first.lookup(utf8("bk00042")).map(new String(_, "UTF-8")).exists(_.startsWith("old-42-")))
      writeFile("rewrite.kvz", rows(300, "new"), blockSize = 1024)
      val second = open(p, cache)
      try {
        assert(second.lookup(utf8("bk00042")).map(new String(_, "UTF-8")).exists(_.startsWith("new-42-")))
        assert(second.iterator.forall { case (_, v) => new String(v, "UTF-8").startsWith("new-") })
      } finally second.close()
    } finally first.close()
  }

  test("a block that fails ADLER32 is never cached: every read of it throws") {
    RamFileSystem.clear(auth)
    val p = writeFile("adler.kvz", rows(50, "adler"), blockSize = 1 << 20) // one block
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0L, bytes) finally in.close()
    val indexOffset = java.nio.ByteBuffer.wrap(bytes, bytes.length - 28, 8).getLong.toInt
    (indexOffset - 4 until indexOffset).foreach(i => bytes(i) = (bytes(i) ^ 0xff).toByte)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    val cache = new KvzBlockCache(1L << 20)
    val r = open(p, cache)
    try {
      (1 to 2).foreach { _ =>
        val e = intercept[IllegalArgumentException](r.lookup(utf8("bk00007")))
        assert(e.getMessage.contains("corrupt GKZ1 block 0"), e.getMessage)
      }
      assert(cache.bytes === 0L)
      assert(counter(cache, "misses") === 2L && counter(cache, "hits") === 0L)
    } finally r.close()
  }

  test("4 threads against a budget smaller than the working set answer every key") {
    RamFileSystem.clear(auth)
    val rs = rows(3000, "conc") // ~60 blocks of 4 KB
    val p = writeFile("conc.kvz", rs, blockSize = 4096)
    val cache = new KvzBlockCache(48 * 1024)
    val r = open(p, cache)
    try {
      import java.util.concurrent.{Callable, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(4)
      try {
        val futures = (0 until 4).map { t =>
          pool.submit(new Callable[Int] {
            def call(): Int = {
              val rnd = new scala.util.Random(t)
              (0 until 1500).count { _ =>
                val i = rnd.nextInt(rs.size)
                val hit = r.lookup(rs(i)._1).exists(v => java.util.Arrays.equals(v, rs(i)._2))
                val absent = r.lookup(utf8(f"bk$i%05d~")).isEmpty
                !(hit && absent)
              }
            }
          })
        }
        assert(futures.map(_.get(60, TimeUnit.SECONDS)).sum === 0)
      } finally pool.shutdownNow()
      assert(counter(cache, "evictions") > 0)
      assert(cache.bytes <= cache.budgetBytes)
    } finally r.close()
  }

  test("a block over the stripe budget is served uncached") {
    RamFileSystem.clear(auth)
    val rs = rows(200, "big")
    val p = writeFile("big.kvz", rs, blockSize = 8192) // 8 KB blocks
    val cache = new KvzBlockCache(8 * 1024) // 1 KB a stripe
    val r = open(p, cache)
    try {
      (1 to 2).foreach { _ =>
        assert(r.lookup(rs(77)._1).exists(v => java.util.Arrays.equals(v, rs(77)._2)))
      }
      assert(r.range(Some(rs(10)._1), true, Some(rs(20)._1), false).size === 10)
      assert(cache.bytes === 0L && cache.residentOwners.isEmpty)
      assert(counter(cache, "hits") === 0L)
    } finally r.close()
  }
}
