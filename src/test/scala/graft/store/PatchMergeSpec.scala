package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

import graft.{SparkSuite, StageStats}
import graft.core.{DomainSpec, ShardIndex}

/** The kv patch's merge: old records keep their file order, the patch's
  * shuffle moves the delta and never the domain, and the kv writer builds
  * index sidecars without a separate keys-scan job. */
class PatchMergeSpec extends SparkSuite {

  private val conf = new Configuration()
  private val bloom = classOf[BloomKeyIndexer].getName

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def str(b: Array[Byte]): String = if (b == null) null else new String(b, "UTF-8")

  private def kv(pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    pairs.map { case (k, v) => (utf8(k), utf8(v)) }.toDF("key", "value")
  }

  private def keys(ks: Seq[String]): DataFrame = {
    import spark.implicits._
    ks.map(utf8).toDF("key")
  }

  /** Every record of one shard file, in file order. */
  private def records(store: DomainStore, version: Long, shard: Int): Seq[(String, String)] = {
    val p = new Path(store.shardDirOf(version, shard), KvFile.DataFileName)
    val r = KvFile.open(p.getFileSystem(conf), p)
    try r.iterator.map { case (k, v) => (str(k), str(v)) }.toList finally r.close()
  }

  test("a key stored twice keeps both copies, in file order, through a patch of its shard") {
    RamFileSystem.clear("patchmerge-dup")
    for (format <- Seq(DomainSpec.KvSorted, DomainSpec.KvSortedZ)) {
      val n = 2
      val store = DomainStore.create(s"ramfs://patchmerge-dup/$format",
        DomainSpec(n, persistenceFormat = format, indexer = bloom), conf)
      val shard = ShardIndex.shardIndex(utf8("dup"), n)
      val sameShard = (0 until 100).map(i => s"k$i")
        .filter(k => ShardIndex.shardIndex(utf8(k), n) == shard)
      val (other, gone) = (sameShard(0), sameShard(1))
      store.write(kv(Seq("dup" -> "first", "dup" -> "second") ++ sameShard.map(k => k -> s"v-$k")),
        1L, dedupKeys = false)
      val before = records(store, 1L, shard)
      assert(before.count(_._1 == "dup") === 2)
      store.patch(spark, Some(kv(Seq(other -> "changed"))), Some(keys(Seq(gone))), 2L)
      val expected = before.filterNot(_._1 == gone)
        .map { case (k, v) => if (k == other) (k, "changed") else (k, v) }
      assert(records(store, 2L, shard) === expected)
    }
    RamFileSystem.clear("patchmerge-dup")
  }

  test("a kv patch shuffles the delta, not the domain: equal records at N and 4N rows") {
    RamFileSystem.clear("patchmerge-scale")
    val shards = 8
    val upserts = (0 until 30).map(i => s"key-$i" -> s"new-$i")
    val deletes = (30 until 40).map(i => s"key-$i") :+ "absent-key"
    def patchShuffle(rows: Int): (Long, Int) = {
      val store = DomainStore.create(s"ramfs://patchmerge-scale/d$rows",
        DomainSpec(shards, persistenceFormat = DomainSpec.KvSorted, indexer = bloom), conf)
      store.write(kv((0 until rows).map(i => s"key-$i" -> s"old-$i")), 1L)
      val (_, stats) = StageStats.measure(spark.sparkContext, s"patchmerge-scale-$rows") {
        store.patch(spark, Some(kv(upserts)), Some(keys(deletes)), 2L)
      }
      // the patch is right, or its shuffle figure means nothing
      assert(store.get(spark, utf8("key-3")).map(str) === Some("new-3"))
      assert(store.get(spark, utf8("key-33")).isEmpty)
      assert(store.count(spark) === rows - 10L)
      (stats.shuffleRecords.get(), stats.jobs.get())
    }
    val (small, smallJobs) = patchShuffle(2000)
    val (large, largeJobs) = patchShuffle(8000)
    assert(small === large, s"patch shuffle grew with the domain: $small -> $large records")
    assert(smallJobs === largeJobs)
    // the merge moves each delta row once; the census moves at most each
    // delta row once more (its per-key distinct count) plus one partial
    // count per (side, shard) per map task
    val deltaRows = upserts.size + deletes.size
    val censusRows = 2 * shards * spark.sparkContext.defaultParallelism
    assert(small <= 2L * deltaRows + censusRows,
      s"patch shuffled $small records for a $deltaRows-row delta")
    RamFileSystem.clear("patchmerge-scale")
  }

  test("the shard router gives each target shard its own partition: pmod(murmur3(pid), targets) = rank") {
    val rnd = new scala.util.Random(20261020L)
    for (_ <- 0 until 300) {
      val numShards = 1 + rnd.nextInt(300)
      val targets = rnd.shuffle((0 until numShards).toList).take(1 + rnd.nextInt(numShards))
      val ids = DomainStore.partitionIds(targets, numShards)
      targets.sorted.zipWithIndex.foreach { case (shard, rank) =>
        // the partition Spark's repartition(targets.size, _pid) sends the id to
        val partition = HashPartitioning(Seq(Literal(ids(shard))), targets.size)
          .partitionIdExpression.eval(null)
        assert(partition === rank, s"shard $shard of ${targets.size} targets (numShards $numShards)")
      }
    }
  }

  test("a two-sided kv patch over every shard: fixed job count, one shard per merge task") {
    RamFileSystem.clear("patchmerge-route")
    val shards = 32
    val store = DomainStore.create("ramfs://patchmerge-route/d",
      DomainSpec(shards, persistenceFormat = DomainSpec.KvSorted, indexer = bloom), conf)
    store.write(kv((0 until 4000).map(i => s"key-$i" -> s"old-$i")), 1L)
    val upserts = (0 until 300).map(i => s"key-$i" -> s"new-$i")
    val deletes = (300 until 400).map(i => s"key-$i")
    assert(upserts.map(p => ShardIndex.shardIndex(utf8(p._1), shards)).toSet.size === shards,
      "the fixture must touch every shard")
    val (_, stats) = StageStats.measure(spark.sparkContext, "patchmerge-route") {
      store.patch(spark, Some(kv(upserts)), Some(keys(deletes)), 2L)
    }
    assert(store.get(spark, utf8("key-3")).map(str) === Some("new-3"))
    assert(store.get(spark, utf8("key-333")).isEmpty)
    assert(store.count(spark) === 3900L)
    // the two cached deltas, the census's two shuffles and its collect,
    // the merge's shuffle and its write. A census by (side, shard) plus a
    // separate upsert/delete overlap join ran 12 jobs on this fixture.
    assert(stats.jobs.get() === 7, stats.stages.mkString("\n"))
    val merge = stats.stages.collect { case (name, st) if name.startsWith("foreachPartition") => st }
    assert(merge.map(_.tasks) === Seq(shards))
    // 32 tasks hold 32 shards and none is idle: one shard per task (a
    // hash of the shard value puts two or three shards in some tasks)
    assert(merge.head.minRecordsRead > 0, stats.stages.mkString("\n"))
    RamFileSystem.clear("patchmerge-route")
  }

  test("kv write with an indexer runs no separate keys-scan job") {
    RamFileSystem.clear("patchmerge-write")
    val pairs = (0 until 3000).map(i => s"w$i" -> s"v$i")
    def writeJobs(indexer: Option[String], format: String): (Int, DomainStore) = {
      val store = DomainStore.create(s"ramfs://patchmerge-write/$format-${indexer.isDefined}",
        DomainSpec(8, persistenceFormat = format, indexer = indexer.getOrElse(DomainSpec.NoIndexer)), conf)
      val (_, stats) = StageStats.measure(spark.sparkContext,
        s"patchmerge-write-$format-${indexer.isDefined}")(store.write(kv(pairs), 1L))
      (stats.jobs.get(), store)
    }
    for (format <- Seq(DomainSpec.KvSorted, DomainSpec.KvSortedZ)) {
      val (plain, _) = writeJobs(None, format)
      val (indexed, store) = writeJobs(Some(bloom), format)
      assert(indexed === plain, s"$format: the indexed write ran $indexed jobs, the plain one $plain")
      val fs = store.root.getFileSystem(conf)
      (0 until 8).foreach { s =>
        assert(fs.exists(new Path(store.shardDirOf(1L, s), Indexer.SidecarName)), s"shard $s has no sidecar")
      }
      // the sidecars answer: a definite miss for an absent key, every hit found
      assert(store.get(spark, utf8("never-written")).isEmpty)
      assert(store.get(spark, utf8("w1234")).map(str) === Some("v1234"))
    }
    RamFileSystem.clear("patchmerge-write")
  }
}
