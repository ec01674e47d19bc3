package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.{DomainSpec, ShardIndex}
import graft.functions._

/** Ports the reference's active test coverage (SURVEY.md §5): round-trips,
  * cross-shard isolation, reshard invariance, last-write-wins, version
  * semantics, spec validation. */
class DomainStoreSpec extends SparkSuite {

  private val conf = new Configuration()

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def kv(pairs: (String, String)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("k", "v")
      .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value"))
  }

  private def readPairs(store: DomainStore): Set[(String, String)] =
    store.read(spark)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("same-id rebuild voids this instance's sidecar probes (stale-bloom silent miss)") {
    import spark.implicits._
    val st = DomainStore.create(
      scratch("same-id-rebuild"),
      DomainSpec(4, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    st.write(kv("a" -> "1", "b" -> "2"), 1L)
    def look(k: String) = st.multiGet(
        Seq(k).toDF("s").select(utf8_bytes(col("s")).as("key")))
      .collect().map(r =>
        Option(r.getAs[Array[Byte]]("value")).map(new String(_, "UTF-8"))).toSeq
    // populate the probe cache with v1's blooms (a miss AND a hit)
    assert(look("zz") === Seq(None))
    assert(look("a") === Seq(Some("1")))
    // delete + rebuild at the SAME version id (the tokenMtime-supported
    // flow) with a key v1's bloom ruled 'definitely absent': the probe
    // cache must not keep serving the old sidecar — that is a silent
    // wrong miss with zero data I/O, the worst failure class a kv store
    // has (IndexMarker keys its cache by token mtime for the same hole;
    // the publishing instance voids its own entries up front)
    st.versions.deleteVersion(1L)
    st.write(kv("zz" -> "9"), 1L)
    assert(look("zz") === Seq(Some("9")), "stale bloom served a silent miss")
    assert(look("a") === Seq(None))
  }

  test("build -> read round-trip preserves the exact pair set") {
    val store = DomainStore.create(scratch("rt"), DomainSpec(4), conf)
    val pairs = Seq("foo" -> "bar", "hot" -> "dog", "biggie" -> "tupac",
      "key" -> "val", "ham" -> "burger", "x" -> "y")
    store.write(kv(pairs: _*), 1L)
    assert(readPairs(store) === pairs.toSet)
  }

  test("cross-shard isolation: every key lives exactly on its routed shard") {
    val store = DomainStore.create(scratch("iso"), DomainSpec(8), conf)
    val pairs = (0 until 200).map(i => s"k$i" -> s"v$i")
    store.write(kv(pairs: _*), 1L)
    val rows = store.read(spark)
      .select(bytes_utf8(col("key")), col("shard")).collect()
    assert(rows.length === 200)
    rows.foreach { r =>
      assert(r.getInt(1) === ShardIndex.shardIndex(r.getString(0).getBytes("UTF-8"), 8))
    }
  }

  test("64-shard build: every shard dir holds exactly one file, all shards populated") {
    // numShards >> shuffle.partitions exercises shardToPartitionId's
    // murmur-preimage routing: shard i must land in partition i exactly,
    // or some dirs would hold several files and others none (the file-
    // sizing property the 100 TB layout depends on).
    val n = 64
    val store = DomainStore.create(scratch("wide"), DomainSpec(n), conf)
    val pairs = (0 until 2000).map(i => s"wk$i" -> s"wv$i")
    store.write(kv(pairs: _*), 1L)
    val fs = store.root.getFileSystem(conf)
    val vp = new org.apache.hadoop.fs.Path(store.root, "1")
    val shardDirs = fs.listStatus(vp).filter(_.getPath.getName.startsWith("shard="))
    assert(shardDirs.length === n)
    shardDirs.foreach { d =>
      val files = fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getPath.getName} has ${files.length} files")
    }
    assert(readPairs(store) === pairs.toSet)
    assert(store.count(spark) === 2000L)
  }

  test("reshard 3 -> 1 -> 5 preserves pairs and spec fields") {
    val pairs = Seq("foo" -> "bar", "hot" -> "dog", "biggie" -> "tupac",
      "lady" -> "gaga", "answer" -> "42", "terrible" -> "parity")
    // scratch() wipes the dir on every call — resolve each path exactly once
    val (rs3, rs1, rs5) = (scratch("rs3"), scratch("rs1"), scratch("rs5"))
    val s3 = DomainStore.create(rs3, DomainSpec(3, persistenceOptions = Map("dummy" -> "value")), conf)
    s3.write(kv(pairs: _*), 1L)
    val s1 = DomainStore.reshard(spark, rs3, rs1, 1, 1L, conf)
    assert(readPairs(s1) === pairs.toSet)
    assert(s1.spec.numShards === 1)
    assert(s1.spec.persistenceOptions === Map("dummy" -> "value"))
    val s5 = DomainStore.reshard(spark, rs1, rs5, 5, 1L, conf)
    assert(readPairs(s5) === pairs.toSet)
    assert(s5.spec.numShards === 5)
  }

  test("upsert battery: last write wins per key (reference keyval_test)") {
    // create ["a"->"1"], append ["c"->"3","b"->"4"], re-append ["a"->"4","d"->"5"]
    val store = DomainStore.create(scratch("lww"), DomainSpec(2), conf)
    store.write(kv("a" -> "1"), 1L)
    store.upsert(spark, kv("c" -> "3", "b" -> "4"), 2L)
    store.upsert(spark, kv("a" -> "4", "d" -> "5"), 3L)
    assert(readPairs(store) === Set("a" -> "4", "b" -> "4", "c" -> "3", "d" -> "5"))
  }

  test("delete battery: takedown, absent no-op, reinsert, versionDiff removals, multiGet nulls") {
    import spark.implicits._
    val store = DomainStore.create(scratch("del"), DomainSpec(4), conf)
    val pairs = (0 until 100).map(i => s"k$i" -> s"v$i")
    store.write(kv(pairs: _*), 1L)
    def keysOf(ks: String*): DataFrame =
      ks.toDF("k").select(utf8_bytes(col("k")).as("key"))

    // takedown: named keys absent from the new version
    store.delete(spark, keysOf("k3", "k7", "k42"), 2L)
    assert(readPairs(store) === pairs.toSet -- Set("k3" -> "v3", "k7" -> "v7", "k42" -> "v42"))
    assert(store.count(spark) === 97L)
    // multiGet reads deleted keys exactly like never-written ones
    val got = store.multiGet(keysOf("k3", "k7", "k1", "never"))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got === Map("k3" -> None, "k7" -> None, "k1" -> Some("v1"), "never" -> None))
    assert(store.get(spark, utf8("k3")).isEmpty)
    assert(store.get(spark, utf8("k1")).map(new String(_, "UTF-8")) === Some("v1"))
    // versionDiff classifies the takedown as removed rows, nothing else
    val diff = store.versionDiff(spark, 1L, 2L)
      .select(bytes_utf8(col("key")), col("change")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(diff === Set("k3" -> "removed", "k7" -> "removed", "k42" -> "removed"))

    // delete of an ABSENT key: a no-op for the pair set (still a publish)
    store.delete(spark, keysOf("ghost", "k3"), 3L)
    assert(readPairs(store) === pairs.toSet -- Set("k3" -> "v3", "k7" -> "v7", "k42" -> "v42"))
    // duplicate keys in the delete set are deduplicated, not rejected
    store.delete(spark, keysOf("k8", "k8"), 4L)
    assert(store.get(spark, utf8("k8")).isEmpty)

    // delete then REINSERT: the key serves again with its new value
    store.upsert(spark, kv("k3" -> "reborn"), 5L)
    assert(store.get(spark, utf8("k3")).map(new String(_, "UTF-8")) === Some("reborn"))

    // null keys fail loud like every publish
    val e = intercept[Exception](store.delete(
      spark,
      Seq(Option.empty[String]).toDF("k")
        .select(when(col("k").isNotNull, utf8_bytes(col("k"))).as("key")),
      6L))
    assert(e.getMessage.contains("null key"))
    // the failed publish left no version behind
    assert(store.latestVersion === 5L)
  }

  test("upsert of a null key fails naming the null key, never as a repeat; no version left behind") {
    import spark.implicits._
    val store = DomainStore.create(scratch("null-upsert"), DomainSpec(4), conf)
    store.write(kv("a" -> "1"), 1L)
    // one named key and one null key: two rows, one distinct non-null key
    val withNull = Seq(Option("b"), None).toDF("k")
      .select(when(col("k").isNotNull, utf8_bytes(col("k"))).as("key"), utf8_bytes(lit("v")).as("value"))
    for (dedup <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException](store.upsert(spark, withNull, 2L, dedupKeys = dedup))
      assert(e.getMessage.contains("null key"), s"dedupKeys = $dedup: ${e.getMessage}")
    }
    assert(store.latestVersion === 1L)
    assert(store.versions.failedVersions.isEmpty && store.versions.inFlightVersions.isEmpty)
    assert(!store.root.getFileSystem(conf).exists(store.versions.versionPath(2L)))
  }

  test("patch: one version of upserts + deletes; overlapping key fails loud") {
    val store = DomainStore.create(scratch("patch"), DomainSpec(4), conf)
    store.write(kv("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4"), 1L)
    store.patch(
      spark,
      Some(kv("a" -> "9", "e" -> "5")),
      Some(kv("b" -> "_").select(col("key"))),
      2L)
    assert(readPairs(store) === Set("a" -> "9", "c" -> "3", "d" -> "4", "e" -> "5"))
    val e = intercept[IllegalArgumentException](store.patch(
      spark,
      Some(kv("c" -> "changed")),
      Some(kv("c" -> "_").select(col("key"))),
      3L))
    assert(e.getMessage.contains("both the upserts and the delete set"))
    assert(store.latestVersion === 2L)
    val e2 = intercept[IllegalArgumentException](store.patch(spark, None, None, 3L))
    assert(e2.getMessage.contains("at least one"))
  }

  test("delete: untouched shards copy forward byte-identically; emptied shard reads empty") {
    val n = 4
    val store = DomainStore.create(scratch("del-cf"), DomainSpec(n, persistenceFormat = DomainSpec.KvSorted), conf)
    val pairs = (0 until 200).map(i => s"d$i" -> s"v$i")
    store.write(kv(pairs: _*), 1L)
    // delete every key of ONE shard (and nothing else): that shard must
    // publish legitimately EMPTY, every other shard must copy forward
    // byte-identically (provenance manifest says origin 1)
    val victim = 2
    val doomed = pairs.map(_._1).filter(k =>
      graft.core.ShardIndex.shardIndex(utf8(k), n) == victim)
    assert(doomed.nonEmpty)
    import spark.implicits._
    store.delete(spark, doomed.toDF("k").select(utf8_bytes(col("k")).as("key")), 2L)
    val expect = pairs.filterNot(p => doomed.contains(p._1)).toSet
    assert(readPairs(store) === expect)
    // untouched shard files byte-identical across versions
    val fs = store.root.getFileSystem(conf)
    for (s <- 0 until n if s != victim) {
      def bytes(v: Long): Seq[(String, Long)] = {
        val d = new org.apache.hadoop.fs.Path(store.root, s"$v/shard=$s")
        fs.listStatus(d).map(st => (st.getPath.getName, st.getLen)).toSeq.sorted
      }
      assert(bytes(1L) === bytes(2L), s"shard $s rewritten by an unrelated delete")
    }
    // the emptied shard still answers lookups (absent, not an error)
    assert(store.get(spark, utf8(doomed.head)).isEmpty)
    // and a fresh upsert repopulates it
    store.upsert(spark, kv(doomed.head -> "back"), 3L)
    assert(store.get(spark, utf8(doomed.head)).map(new String(_, "UTF-8")) === Some("back"))
  }

  test("update-lifecycle fuzz: random upsert/delete/patch interleavings == in-memory model") {
    import spark.implicits._
    // the takedown lifecycle's strongest correctness pin: 25 random
    // versions of mixed upserts (some re-inserting deleted keys),
    // deletes (some absent), and combined patches, on the GKV2-writing
    // kv engine (copy-forward + emptied shards + sidecar-free spec),
    // checked against a plain HashMap model — and the fsck audit stays
    // clean through every publish
    val rnd = new scala.util.Random(97)
    val store = DomainStore.create(
      scratch("lifecycle-fuzz"),
      DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    val model = scala.collection.mutable.HashMap[String, String]()
    def keysDf(ks: Seq[String]) =
      ks.toDF("k").select(utf8_bytes(col("k")).as("key"))
    def someKeys(n: Int): Seq[String] =
      Seq.fill(n)(s"k${rnd.nextInt(400)}").distinct
    var version = 1L
    val init = someKeys(150).map(k => k -> s"v0-${rnd.nextInt(1000)}")
    store.write(kv(init: _*), version)
    model ++= init
    (1 to 25).foreach { step =>
      version += 1
      rnd.nextInt(3) match {
        case 0 =>
          val delta = someKeys(30).map(k => k -> s"u$version")
          store.upsert(spark, kv(delta: _*), version)
          model ++= delta
        case 1 =>
          val dels = someKeys(25)
          store.delete(spark, keysDf(dels), version)
          dels.foreach(model.remove)
        case 2 =>
          val ups = someKeys(15).map(k => k -> s"p$version")
          val dels = someKeys(15).filterNot(ups.map(_._1).toSet)
          store.patch(spark, Some(kv(ups: _*)), Some(keysDf(dels)), version)
          model ++= ups
          dels.foreach(model.remove)
      }
      if (step % 5 == 0) assert(readPairs(store) === model.toSet, s"diverged at step $step")
    }
    assert(readPairs(store) === model.toSet)
    assert(model.nonEmpty && model.size < 400, "degenerate fuzz")
    // multiGet agrees on a present/absent mix
    val probe = (someKeys(40) ++ Seq("never-a", "never-b")).distinct
    val got = store.multiGet(keysDf(probe))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got === probe.map(k => k -> model.get(k)).toMap)
    // the audit stays clean across the whole history (copy-forwarded,
    // rewritten, and emptied shards alike)
    val audit = store.fsck(spark).collect()
    assert(audit.forall(_.getSeq[String](4).isEmpty), "fuzz left corruption findings")
    assert(audit.map(_.getLong(1)).sum === model.size.toLong)
  }

  test("orc-sorted persistence format: round-trip, upsert, footer count") {
    val store = DomainStore.create(
      scratch("orc"),
      DomainSpec(4, persistenceFormat = DomainSpec.OrcSorted), conf)
    val pairs = Seq("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4", "e" -> "5")
    store.write(kv(pairs: _*), 1L)
    assert(readPairs(store) === pairs.toSet)
    assert(store.count(spark) === 5L)
    store.upsert(spark, kv("a" -> "9", "z" -> "26"), 2L)
    assert(readPairs(store) ===
      (pairs.toMap ++ Map("a" -> "9", "z" -> "26")).toSeq.toSet)
    assert(store.count(spark) === 6L)
  }

  test("kv-sorted persistence: round-trip, isolation, upsert, count, Spark-free get") {
    val store = DomainStore.create(
      scratch("kvf"), DomainSpec(8, persistenceFormat = DomainSpec.KvSorted), conf)
    val pairs = (0 until 200).map(i => s"sk$i" -> s"sv$i")
    store.write(kv(pairs: _*), 1L)
    assert(readPairs(store) === pairs.toSet)
    assert(store.count(spark) === 200L) // trailer counts, driver pool
    assert(store.count(spark, distributeAbove = 0) === 200L) // distributed branch
    // cross-shard isolation: every key lives exactly on its routed shard
    store.read(spark).select(bytes_utf8(col("key")), col("shard")).collect().foreach { r =>
      assert(r.getInt(1) === ShardIndex.shardIndex(r.getString(0).getBytes("UTF-8"), 8))
    }
    // point get = direct binary search of the shard file (no scan plan)
    assert(store.get(spark, utf8("sk7")).map(new String(_, "UTF-8")) === Some("sv7"))
    assert(store.get(spark, utf8("absent")) === None)
    val mg = store.multiGet(kv("sk1" -> "", "zz" -> "").select(col("key")))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(mg === Map("sk1" -> Some("sv1"), "zz" -> None))
    // SPARSE lookup branch (keys * LookupScanRatio < records): per-key
    // binary search instead of the dense merge scan — 2 keys vs a
    // 1000-record single-shard run
    val big = DomainStore.create(
      scratch("kvf-sparse"), DomainSpec(1, persistenceFormat = DomainSpec.KvSorted), conf)
    big.write(kv((0 until 1000).map(i => f"sp$i%04d" -> s"spv$i"): _*), 1L)
    val sparse = big.multiGet(kv("sp0007" -> "", "nope" -> "").select(col("key")))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(sparse === Map("sp0007" -> Some("spv7"), "nope" -> None))
    // upsert: merge + copy-forward through the kv writer
    store.upsert(spark, kv("sk0" -> "new", "extra" -> "x"), 2L)
    assert(store.latestVersion === 2L)
    val got = readPairs(store)
    assert(got.contains("sk0" -> "new") && got.contains("extra" -> "x"))
    assert(got.size === 201)
    assert(store.count(spark) === 201L)
    // empty initial build still publishes a readable version
    val empty = DomainStore.create(
      scratch("kvf-empty"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    empty.write(kv(), 1L)
    assert(empty.read(spark).count() === 0L)
    assert(empty.count(spark) === 0L)
    assert(empty.get(spark, utf8("nope")) === None)
  }

  test("kv-sorted-z persistence: the whole kv surface works on compressed shards") {
    val store = DomainStore.create(
      scratch("kvz"), DomainSpec(8, persistenceFormat = DomainSpec.KvSortedZ), conf)
    // values with enough redundancy that Deflate actually engages
    val pairs = (0 until 300).map(i => s"zk$i" -> (s"payload $i " * 20))
    store.write(kv(pairs: _*), 1L)
    assert(readPairs(store) === pairs.toSet)
    assert(store.count(spark) === 300L) // kvz trailer counts, magic-sniffed
    // cross-shard isolation holds through the compressed writer
    store.read(spark).select(bytes_utf8(col("key")), col("shard")).collect().foreach { r =>
      assert(r.getInt(1) === ShardIndex.shardIndex(r.getString(0).getBytes("UTF-8"), 8))
    }
    // point get = block-index binary search + one block decompress
    assert(store.get(spark, utf8("zk7")).map(new String(_, "UTF-8")) === Some("payload 7 " * 20))
    assert(store.get(spark, utf8("absent")) === None)
    val mg = store.multiGet(kv("zk1" -> "", "zz" -> "").select(col("key")))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(mg === Map("zk1" -> Some("payload 1 " * 20), "zz" -> None))
    // range + prefix scans push into the compressed reader
    val ranged = store.rangeScan(spark, Some(utf8("zk10")), Some(utf8("zk11")))
      .select(bytes_utf8(col("key"))).collect().map(_.getString(0)).toSet
    assert(ranged === Set("zk10", "zk100", "zk101", "zk102", "zk103", "zk104",
      "zk105", "zk106", "zk107", "zk108", "zk109", "zk11"))
    // upsert: merge + copy-forward through the compressed writer
    store.upsert(spark, kv("zk0" -> "new", "extra" -> "x"), 2L)
    assert(store.latestVersion === 2L)
    val got = readPairs(store)
    assert(got.contains("zk0" -> "new") && got.contains("extra" -> "x"))
    assert(got.size === 301)
    // the published version is SERVABLE without Spark, same as kv-sorted
    val reader = KvDomainReader.open(store.root.toString, conf)
    try {
      assert(reader.get(utf8("zk42")).map(new String(_, "UTF-8")) === Some("payload 42 " * 20))
      assert(reader.get(utf8("zk0")).map(new String(_, "UTF-8")) === Some("new"))
      assert(reader.get(utf8("nope")) === None)
      assert(reader.count() === 301L)
      // serving-side range over compressed blocks, globally key-ordered
      val served = reader
        .range(Some(utf8("zk29")), Some(utf8("zk3")), fromInclusive = true,
          toInclusive = false, globalOrder = true)
        .map { case (k, _) => new String(k, "UTF-8") }.toVector
      assert(served === Vector("zk29", "zk290", "zk291", "zk292", "zk293", "zk294",
        "zk295", "zk296", "zk297", "zk298", "zk299"))
    } finally reader.close()
    // the layout-reporting DSv2 read works too (SPJ path), and fsck is clean
    val spj = store.readPartitioned(spark)
    assert(spj.count() === 301L)
    val audit = store.fsck(spark)
    assert(audit.where(col("n_misrouted") > 0 || col("sorted_ok") === false).count() === 0L)
    // compression actually bought bytes: rebuild the same rows uncompressed
    val plain = DomainStore.create(
      scratch("kvz-plain"), DomainSpec(8, persistenceFormat = DomainSpec.KvSorted), conf)
    plain.write(kv(pairs: _*), 1L)
    def dataBytes(s: DomainStore, v: Long): Long = {
      val fs = s.root.getFileSystem(conf)
      val vp = new org.apache.hadoop.fs.Path(s.root, v.toString)
      fs.listStatus(vp).filter(_.getPath.getName.startsWith("shard="))
        .flatMap(d => fs.listStatus(d.getPath)).filter(_.getPath.getName.endsWith(".kv"))
        .map(_.getLen).sum
    }
    assert(dataBytes(store, 1L) < dataBytes(plain, 1L) / 2,
      s"kvz ${dataBytes(store, 1L)} vs kv ${dataBytes(plain, 1L)} bytes — Deflate bought < 2x")
  }

  test("transcode: kv <-> kvz migrates formats; kv-to-kv is exchange-free; sidecars rebuilt") {
    val (srcRoot, zRoot, backRoot, directRoot, pqRoot) = (
      scratch("tc-src"), scratch("tc-z"), scratch("tc-back"),
      scratch("tc-direct"), scratch("tc-pq"))
    val src = DomainStore.create(
      srcRoot,
      DomainSpec(4, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    val pairs = (0 until 200).map(i => s"tk$i" -> (s"tv $i " * 10))
    src.write(kv(pairs: _*), 1L)
    // kv -> kvz: pairs survive, files are GKZ1, sidecars rebuilt, servable
    val z = DomainStore.transcode(spark, srcRoot, zRoot, DomainSpec.KvSortedZ, 1L, conf)
    assert(z.spec.persistenceFormat === DomainSpec.KvSortedZ)
    assert(z.spec.indexer === classOf[BloomKeyIndexer].getName)
    assert(readPairs(z) === pairs.toSet)
    assert(z.count(spark) === 200L)
    val zfs = z.root.getFileSystem(conf)
    val zShards = zfs.listStatus(new org.apache.hadoop.fs.Path(z.root, "1"))
      .filter(_.getPath.getName.startsWith("shard="))
    assert(zShards.nonEmpty)
    zShards.foreach { d =>
      val data = new org.apache.hadoop.fs.Path(d.getPath, KvFile.DataFileName)
      val in = zfs.open(data)
      val m = new Array[Byte](4); in.readFully(0, m); in.close()
      assert(new String(m, "US-ASCII") === "GKZ1", s"${d.getPath} not compressed")
      assert(zfs.exists(new org.apache.hadoop.fs.Path(d.getPath, Indexer.SidecarName)),
        s"${d.getPath} missing rebuilt sidecar")
    }
    val reader = KvDomainReader.open(zRoot, conf)
    try assert(reader.get("tk7".getBytes("UTF-8")).map(new String(_, "UTF-8"))
      === Some("tv 7 " * 10))
    finally reader.close()
    // kvz -> kv BACK: byte-identical to a direct kv build of the same rows
    // (the format is deterministic for a sorted row set)
    DomainStore.transcode(spark, zRoot, backRoot, DomainSpec.KvSorted, 1L, conf)
    val direct = DomainStore.create(
      directRoot, DomainSpec(4, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    direct.write(kv(pairs: _*), 1L)
    val fs = new org.apache.hadoop.fs.Path(backRoot).getFileSystem(conf)
    (0 until 4).foreach { s =>
      val a = new org.apache.hadoop.fs.Path(s"$backRoot/1/shard=$s", KvFile.DataFileName)
      val b = new org.apache.hadoop.fs.Path(s"$directRoot/1/shard=$s", KvFile.DataFileName)
      assert(fs.exists(a) === fs.exists(b))
      if (fs.exists(a)) {
        def bytes(p: org.apache.hadoop.fs.Path): Seq[Byte] = {
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          val in = fs.open(p); in.readFully(0, buf); in.close(); buf.toSeq
        }
        assert(bytes(a) === bytes(b), s"shard $s transcoded bytes differ from direct build")
      }
    }
    // the kv->kv path is exchange-free FOR DATA: measure the actual
    // transcode jobs (scoped by a thread-local job group, so parallel
    // suites can't pollute) — the only shuffle is count()'s partial-agg
    // exchange, which moves at most one row per task, never the records.
    // 200 data rows crossing an exchange would trip this immediately.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleRecords = new java.util.concurrent.atomic.LongAdder()
    val done = new java.util.concurrent.atomic.LongAdder()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if ("transcode-pin" == j.properties.getProperty("spark.jobGroup.id"))
          j.stageInfos.foreach(si => stages.add(si.stageId))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stages.contains(s.stageInfo.stageId)) {
          shuffleRecords.add(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
          done.increment()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // indexer-free source: sidecar rebuild legitimately shuffles keys
      // (its counts + groupByKey passes), which would mask the DATA pin
      val pinSrcRoot = scratch("tc-pin-src")
      val pinSrc = DomainStore.create(
        pinSrcRoot, DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
      pinSrc.write(kv(pairs: _*), 1L)
      spark.sparkContext.setJobGroup("transcode-pin", "zero-shuffle transcode pin")
      val pinRoot = scratch("tc-pin")
      DomainStore.transcode(spark, pinSrcRoot, pinRoot, DomainSpec.KvSortedZ, 1L, conf)
      spark.sparkContext.clearJobGroup()
      // listener events are async: wait for the measured stages to drain
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (done.sum() < stages.size() && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(stages.size() > 0, "transcode ran no measurable jobs")
      assert(shuffleRecords.sum() <= 32,
        s"transcode shuffled ${shuffleRecords.sum()} records — the data path " +
          "re-shuffled the corpus instead of streaming the partitioned scan")
    } finally spark.sparkContext.removeSparkListener(listener)
    // kvz -> parquet routes through the canonical write and still answers
    val pq = DomainStore.transcode(spark, zRoot, pqRoot, DomainSpec.ParquetSorted, 1L, conf)
    assert(pq.spec.persistenceFormat === DomainSpec.ParquetSorted)
    assert(readPairs(pq) === pairs.toSet)
  }

  test("kvz block-size rides persistenceOptions (the Coordinator-options pattern)") {
    val pairs = (0 until 100).map(i => s"bk$i" -> (s"body $i " * 30))
    def build(name: String, opts: Map[String, String]): DomainStore = {
      val st = DomainStore.create(
        scratch(name),
        DomainSpec(4, persistenceFormat = DomainSpec.KvSortedZ, persistenceOptions = opts),
        conf)
      st.write(kv(pairs: _*), 1L)
      st
    }
    val tiny = build("kvz-bs-tiny", Map("block-size" -> "128"))
    val big = build("kvz-bs-big", Map.empty)
    // both round-trip and serve; the tiny-block file carries a larger
    // index + worse ratio, so it is measurably bigger on disk
    assert(readPairs(tiny) === pairs.toSet && readPairs(big) === pairs.toSet)
    assert(tiny.get(spark, utf8("bk7")).isDefined)
    def bytesOf(s: DomainStore): Long = {
      val fs = s.root.getFileSystem(conf)
      fs.listStatus(new org.apache.hadoop.fs.Path(s.root, "1"))
        .filter(_.getPath.getName.startsWith("shard="))
        .flatMap(d => fs.listStatus(d.getPath)).filter(_.getPath.getName.endsWith(".kv"))
        .map(_.getLen).sum
    }
    assert(bytesOf(tiny) > bytesOf(big),
      s"tiny blocks ${bytesOf(tiny)} <= default ${bytesOf(big)} — option not honored")
    // a typo'd option fails at OPEN, not mid-publish
    val e = intercept[IllegalArgumentException] {
      DomainStore.create(
        scratch("kvz-bs-bad"),
        DomainSpec(4, persistenceFormat = DomainSpec.KvSortedZ,
          persistenceOptions = Map("block-size" -> "lots")), conf)
    }
    assert(e.getMessage.contains("block-size"), e.getMessage)
  }

  test("kv-sorted composes: reshard keeps pairs, bloom sidecars kill misses") {
    // reshard kv -> kv (spec copied, new shard count)
    val (src, dst) = (scratch("kvf-rs-src"), scratch("kvf-rs-dst"))
    val s3 = DomainStore.create(
      src, DomainSpec(3, persistenceFormat = DomainSpec.KvSorted), conf)
    val pairs = (0 until 120).map(i => s"rk$i" -> s"rv$i")
    s3.write(kv(pairs: _*), 1L)
    val s5 = DomainStore.reshard(spark, src, dst, 5, 1L, conf)
    assert(s5.spec.persistenceFormat === DomainSpec.KvSorted)
    assert(readPairs(s5) === pairs.toSet)
    assert(s5.get(spark, utf8("rk7")).map(new String(_, "UTF-8")) === Some("rv7"))
    // indexer SPI on the kv engine: sidecars built from the kv scan,
    // definite misses short-circuit before the binary search
    val ix = DomainStore.create(
      scratch("kvf-ix"),
      DomainSpec(4, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    ix.write(kv(pairs: _*), 1L)
    val fs = ix.root.getFileSystem(conf)
    (0 until 4).foreach { s =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(ix.root, s"1/shard=$s/${Indexer.SidecarName}")))
    }
    assert(ix.get(spark, utf8("rk7")).map(new String(_, "UTF-8")) === Some("rv7"))
    assert(ix.get(spark, utf8("definitely-absent")) === None)
    val mg = ix.multiGet(kv("rk1" -> "", "nope" -> "").select(col("key")))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(mg === Map("rk1" -> Some("rv1"), "nope" -> None))
  }

  test("KvDomainReader: Spark-free serving of a published kv domain + localized subset") {
    val root = scratch("kvserve")
    val store = DomainStore.create(
      root,
      DomainSpec(4, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    val pairs = (0 until 300).map(i => s"pk$i" -> s"pv$i")
    store.write(kv(pairs: _*), 1L)
    store.upsert(spark, kv("pk0" -> "new"), 2L) // the reader must resolve v2
    val expected = (pairs.toMap + ("pk0" -> "new"))
    // everything below is the serving daemon's side: no SparkSession call
    val r = KvDomainReader.open(root, conf)
    try {
      assert(r.numShards === 4)
      assert(r.get(utf8("pk0")).map(new String(_, "UTF-8")) === Some("new"))
      assert(r.get(utf8("pk7")).map(new String(_, "UTF-8")) === Some("pv7"))
      assert(r.get(utf8("definitely-missing")) === None)
      assert(r.count() === 300L)
    } finally r.close()
    // a serving box's shard subset: localize two shards, serve only them
    val dest = new org.apache.hadoop.fs.Path(scratch("kvserve-local"))
    val copied = store.localize(2L, dest, shards = Some(Seq(0, 1))).toSet
    assert(copied.nonEmpty)
    val lr = KvDomainReader.localized(dest.toString, store.spec, conf)
    try {
      expected.foreach { case (k, v) =>
        val hosted = copied.contains(ShardIndex.shardIndex(utf8(k), 4))
        val got = lr.get(utf8(k)).map(new String(_, "UTF-8"))
        assert(got === (if (hosted) Some(v) else None), s"key $k hosted=$hosted")
      }
    } finally lr.close()
    // a parquet/orc domain refuses loudly: those are the Spark-scan engines
    val pq = DomainStore.create(scratch("kvserve-pq"), DomainSpec(2), conf)
    pq.write(kv("a" -> "1"), 1L)
    val e = intercept[IllegalArgumentException](
      KvDomainReader.open(pq.root.toString, conf))
    assert(e.getMessage.contains("kv-sorted"))
    // a closed reader fails loud (the version dir may be reaped by
    // cleanup in the reopen-on-publish pattern) — never answers "absent"
    val dead = KvDomainReader.open(root, conf)
    dead.close()
    intercept[IllegalStateException](dead.get(utf8("pk7")))
    intercept[IllegalStateException](dead.count())
  }

  test("rangeScan: kv and parquet engines agree; serving-side RangeCursor matches, ordered, leak-free") {
    def be(l: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(l).array()
    def longKv(n: Int): DataFrame = {
      import spark.implicits._
      (0 until n).map(_.toLong).toDF("k")
        .select(long_be(col("k")).as("key"), utf8_bytes(concat(lit("v"), col("k"))).as("value"))
    }
    val kvStore = DomainStore.create(
      scratch("range-kv"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    kvStore.write(longKv(500), 1L)
    val pqStore = DomainStore.create(scratch("range-pq"), DomainSpec(4), conf)
    pqStore.write(longKv(500), 1L)

    def keysOf(df: DataFrame): Seq[Long] =
      df.select(be_long(col("key"))).collect().map(_.getLong(0)).toSeq.sorted
    // same bounds, engines agree (kv pushes into the source, parquet
    // evaluates above the scan)
    val fromB = Some(be(120L)); val toB = Some(be(130L))
    val kvKeys = keysOf(kvStore.rangeScan(spark, fromB, toB))
    val pqKeys = keysOf(pqStore.rangeScan(spark, fromB, toB))
    assert(kvKeys === (120L to 130L).toSeq)
    assert(pqKeys === kvKeys)
    // half-open + exclusive bounds
    assert(keysOf(kvStore.rangeScan(spark, fromB, None)) === (120L until 500L).toSeq)
    assert(keysOf(kvStore.rangeScan(spark, fromB, toB, fromInclusive = false, toInclusive = false))
      === (121L to 129L).toSeq)

    // serving-side cursor, Spark-free from here on
    val r = KvDomainReader.open(kvStore.root.toString, conf)
    try {
      // default mode: one handle at a time, per-shard order only
      val got = r.range(fromB, toB).map(t => java.nio.ByteBuffer.wrap(t._1).getLong).toVector
      assert(got.sorted === (120L to 130L).toVector)
      // globalOrder merges shards into one key-ordered stream
      val ordered = r.range(fromB, toB, globalOrder = true)
        .map(t => java.nio.ByteBuffer.wrap(t._1).getLong).toVector
      assert(ordered === (120L to 130L).toVector)
      // values ride along
      val withVals = r.range(Some(be(42L)), Some(be(42L))).toVector
      assert(withVals.size === 1)
      assert(new String(withVals.head._2, "UTF-8") === "v42")
      // open-ended scan = full export, still ordered under globalOrder
      val all = r.range(globalOrder = true).map(t => java.nio.ByteBuffer.wrap(t._1).getLong).toVector
      assert(all === (0L until 500L).toVector)
      // early abandon + close releases handles (close is idempotent)
      val cur = r.range(globalOrder = true)
      assert(cur.hasNext)
      cur.close(); cur.close()
      // concurrent gets coexist with cursors (cursor never touches the
      // lookup cache)
      val c2 = r.range(fromB, toB)
      assert(r.get(be(7L)).map(new String(_, "UTF-8")) === Some("v7"))
      assert(c2.size === 11)
    } finally r.close()
    // a closed reader refuses to open a cursor
    val dead = KvDomainReader.open(kvStore.root.toString, conf)
    dead.close()
    intercept[IllegalStateException](dead.range(fromB, toB))
  }

  test("prefixScan: exactly the prefix run; successor math handles 0xFF tails") {
    // successor math on its own
    def suc(bs: Int*): Option[Seq[Int]] =
      KvFile.prefixSuccessor(bs.map(_.toByte).toArray).map(_.toSeq.map(_ & 0xff))
    assert(suc(0x61, 0x62) === Some(Seq(0x61, 0x63)))
    assert(suc(0x61, 0xff) === Some(Seq(0x62)))
    assert(suc(0xff, 0xff) === None)
    assert(KvFile.prefixSuccessor(Array.emptyByteArray) === None)

    val store = DomainStore.create(
      scratch("prefixscan"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    val pairs = Seq("user1", "user10", "user19", "user2", "user1x", "usr1", "user")
      .map(k => k -> s"v-$k")
    store.write(kv(pairs: _*), 1L)
    def scan(prefix: String): Set[String] =
      store.prefixScan(spark, utf8(prefix))
        .select(bytes_utf8(col("key"))).collect().map(_.getString(0)).toSet
    assert(scan("user1") === Set("user1", "user10", "user19", "user1x"))
    assert(scan("user") === Set("user", "user1", "user10", "user19", "user1x", "user2"))
    assert(scan("zzz") === Set.empty)
    // an all-0xFF prefix degrades to an open upper end, not an error
    val ffStore = DomainStore.create(
      scratch("prefixscan-ff"), DomainSpec(2, persistenceFormat = DomainSpec.KvSorted), conf)
    import spark.implicits._
    val ffKey = Array(0xff.toByte, 0xff.toByte)
    ffStore.write(
      Seq((ffKey, utf8("top")), (utf8("a"), utf8("low"))).toDF("key", "value"), 1L)
    val got = ffStore.prefixScan(spark, Array(0xff.toByte))
      .select(col("value")).collect().map(r => new String(r.getAs[Array[Byte]](0), "UTF-8"))
    assert(got.toSeq === Seq("top"))
  }

  test("shardStats: metadata-only skew report, both tiers agree, empty shards report zero") {
    val store = DomainStore.create(
      scratch("shardstats"), DomainSpec(8, persistenceFormat = DomainSpec.KvSorted), conf)
    // keys chosen so at least one shard is empty is not guaranteed; use
    // few keys over 8 shards so some shards ARE empty
    val pairs = (0 until 10).map(i => s"sk$i" -> s"sv$i")
    store.write(kv(pairs: _*), 1L)
    def statsOf(distributeAbove: Int): Map[Int, (Long, Long)] =
      store.shardStats(spark, distributeAbove)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val driver = statsOf(Int.MaxValue) // driver thread pool branch
    val dist = statsOf(0) // distributed metadata job branch
    assert(driver === dist)
    assert(driver.keySet === (0 until 8).toSet, "one row per shard, empty included")
    assert(driver.values.map(_._1).sum === 10L)
    // per-shard rows match the routing
    val expected = pairs.map(p => ShardIndex.shardIndex(utf8(p._1), 8))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    (0 until 8).foreach { s =>
      assert(driver(s)._1 === expected.getOrElse(s, 0L), s"shard $s rows")
      if (driver(s)._1 == 0L) assert(driver(s)._2 === 0L, s"empty shard $s must report 0 bytes")
      else assert(driver(s)._2 > 0L, s"shard $s bytes")
    }
  }

  test("KvDomainReader.multiGet: density-adaptive batch lookup, input-aligned, Spark-free") {
    val root = scratch("kv-mget")
    val store = DomainStore.create(
      root, DomainSpec(4, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    val pairs = (0 until 600).map(i => s"mg$i" -> s"mv$i")
    store.write(kv(pairs: _*), 1L)
    val r = KvDomainReader.open(root, conf)
    try {
      // SPARSE batch (4 keys vs 600 records): cached-reader binary search
      val sparseKeys = Seq("mg7", "absent-a", "mg599", "absent-b").map(utf8)
      val sparse = r.multiGet(sparseKeys).map(_.map(new String(_, "UTF-8")))
      assert(sparse === IndexedSeq(Some("mv7"), None, Some("mv599"), None))
      // DENSE batch (every key + misses + a duplicate): merge-scan branch,
      // answers identical to per-key gets and aligned with the input
      val denseKeys = (0 until 600).map(i => s"mg$i") ++ Seq("zzz", "mg0")
      val dense = r.multiGet(denseKeys.map(utf8)).map(_.map(new String(_, "UTF-8")))
      assert(dense.length === 602)
      (0 until 600).foreach(i => assert(dense(i) === Some(s"mv$i"), s"key mg$i"))
      assert(dense(600) === None)
      assert(dense(601) === Some("mv0"), "duplicate input key resolves independently")
      // equals the single-get surface on every key
      denseKeys.zip(dense).foreach { case (k, got) =>
        assert(got === r.get(utf8(k)).map(new String(_, "UTF-8")), s"key $k")
      }
      // null keys rejected loud
      intercept[IllegalArgumentException](r.multiGet(Seq(null)))
    } finally r.close()
    intercept[IllegalStateException] {
      val dead = KvDomainReader.open(root, conf); dead.close()
      dead.multiGet(Seq(utf8("mg1")))
    }
  }

  test("KvDomainReader: concurrent get hammer; close() cannot leak a racing open") {
    val root = scratch("kv-hammer")
    val store = DomainStore.create(
      root, DomainSpec(8, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    val pairs = (0 until 400).map(i => s"hk$i" -> s"hv$i")
    store.write(kv(pairs: _*), 1L)
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(16)
    try {
      // phase 1: correctness under concurrency — 16 threads x 300 mixed
      // hit/miss lookups against ONE shared reader; every answer exact
      // (pread-based lookups share FSDataInputStreams across threads)
      val r = KvDomainReader.open(root, conf)
      try {
        val tasks = (0 until 16).map { t =>
          pool.submit(new Callable[Int] {
            def call(): Int = {
              var wrong = 0
              (0 until 300).foreach { i =>
                val k = (t * 131 + i * 7) % 600 // keys 400..599 are misses
                val got = r.get(utf8(s"hk$k")).map(new String(_, "UTF-8"))
                val want = if (k < 400) Some(s"hv$k") else None
                if (got != want) wrong += 1
              }
              wrong
            }
          })
        }
        assert(tasks.map(_.get(120, TimeUnit.SECONDS)).sum === 0)
      } finally r.close()
      // phase 2: close() racing cache population — threads fault shard
      // readers in while close() retires the generation. Allowed outcomes
      // per lookup: a correct answer (the lookup acquired the generation
      // before retirement — its handles stay open until it drains), or a
      // LOUD closed-reader IllegalStateException for lookups that started
      // after. Once every racing lookup has drained, the generation's
      // cache must be empty: a surviving entry is a leaked handle.
      (0 until 40).foreach { round =>
        val rr = KvDomainReader.open(root, conf)
        val latch = new CountDownLatch(1)
        val wrongs = new java.util.concurrent.atomic.AtomicInteger(0)
        val tasks = (0 until 8).map { t =>
          pool.submit(new Callable[Unit] {
            def call(): Unit = {
              latch.await()
              (0 until 50).foreach { i =>
                val k = (t * 53 + i) % 400
                try {
                  val got = rr.get(utf8(s"hk$k")).map(new String(_, "UTF-8"))
                  if (got != Some(s"hv$k")) wrongs.incrementAndGet()
                } catch {
                  case _: IllegalStateException => () // started after close: loud is correct
                }
              }
            }
          })
        }
        latch.countDown()
        if (round % 2 == 0) Thread.`yield`()
        rr.close()
        tasks.foreach(_.get(120, TimeUnit.SECONDS))
        // ref-counted generations: lookups that began before close() must
        // COMPLETE CORRECTLY (no torn reads, no IOExceptions) — close only
        // reaps handles after the last one drains
        assert(wrongs.get() === 0, s"round $round: ${wrongs.get()} wrong answers")
        assert(rr.cachedShardReaders === 0,
          s"round $round: close() left ${rr.cachedShardReaders} cached reader(s) — leaked handle(s)")
      }
    } finally pool.shutdown()
  }

  test("KvDomainReader.refresh(): hot-swap to a newer publish never drops or tears a get") {
    val root = scratch("kv-refresh")
    val store = DomainStore.create(
      root, DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    // v1: value = "v1-<i>" for keys 0..299; each later version rewrites
    // EVERY key's value to "v<n>-<i>" — a torn read (mixing versions
    // within one multiGet) or a dropped read is detectable per answer.
    def pairs(v: Long): Seq[(String, String)] =
      (0 until 300).map(i => s"rk$i" -> s"v$v-$i")
    store.write(kv(pairs(1): _*), 1L)
    val r = KvDomainReader.open(root, conf)
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(10)
    try {
      assert(r.servedVersion === 1L)
      assert(r.refresh() === false, "already newest: no swap")
      val published = new java.util.concurrent.atomic.AtomicLong(1L)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      // 8 reader threads: every get must answer from SOME fully-published
      // version (never fail, never a stale-beyond-published or mixed row),
      // and multiGet batches must be version-coherent end to end.
      val readers = (0 until 8).map { t =>
        pool.submit(new Callable[Int] {
          def call(): Int = {
            var n = 0
            val rnd = new scala.util.Random(t)
            while (!stop.get()) {
              val ks = Seq.fill(6)(rnd.nextInt(300))
              val vMin = published.get() // published before the batch started
              val got = r.multiGet(ks.map(k => utf8(s"rk$k"))).map(_.map(new String(_, "UTF-8")))
              val vMax = published.get() // at most this new when it finished
              val vers = got.zip(ks).map {
                case (Some(v), k) =>
                  val m = ("""v(\d+)-(\d+)""".r).findFirstMatchIn(v)
                  if (m.isEmpty || m.get.group(2).toInt != k) { errors.add(s"bad value $v for rk$k"); -1L }
                  else m.get.group(1).toLong
                case (None, k) => errors.add(s"dropped key rk$k"); -1L
              }.distinct
              if (vers.length != 1) errors.add(s"torn batch: versions $vers")
              else if (vers.head < vMin - 1 || vers.head > vMax)
                // the batch may straddle one refresh (started on the prior
                // version) but can never serve older than that or newer
                // than what was published
                errors.add(s"version ${vers.head} outside [$vMin-1, $vMax]")
              n += 1
            }
            n
          }
        })
      }
      // publisher thread: publish v2..v6, refreshing after each
      (2L to 6L).foreach { v =>
        store.write(kv(pairs(v): _*), v)
        published.set(v)
        assert(r.refresh() === true, s"v$v is newer: must swap")
        assert(r.servedVersion === v)
        Thread.sleep(30)
      }
      assert(r.refresh() === false)
      stop.set(true)
      val counts = readers.map(_.get(120, TimeUnit.SECONDS))
      assert(counts.sum > 0, "hammer must have exercised gets")
      assert(errors.isEmpty, s"refresh hammer: ${errors.size} violations, first: ${errors.peek()}")
      // after the swaps, reads serve v6 only
      assert(r.get(utf8("rk7")).map(new String(_, "UTF-8")) === Some("v6-7"))
    } finally { pool.shutdown(); r.close() }
    // localized subsets cannot refresh — loud, with the re-localize hint
    val dest = new org.apache.hadoop.fs.Path(scratch("kv-refresh-local"))
    store.localize(6L, dest)
    val lr = KvDomainReader.localized(dest.toString, store.spec, conf)
    try {
      assert(lr.get(utf8("rk7")).map(new String(_, "UTF-8")) === Some("v6-7"))
      val e = intercept[IllegalStateException](lr.refresh())
      assert(e.getMessage.contains("re-localize"))
    } finally lr.close()
  }

  test("a reaped version fails lookups LOUD — shard presence is snapshotted, never re-probed") {
    val root = scratch("kv-reap")
    val store = DomainStore.create(
      root, DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    val pairs = (0 until 200).map(i => s"pk$i" -> s"pv$i")
    store.write(kv(pairs: _*), 1L)
    val r = KvDomainReader.open(root, conf)
    try {
      // delete the served version dir UNDER the reader (the cleanup-reap
      // race) before any shard handle was faulted in: a live fs.exists
      // probe would now read 'no file' and silently answer None for every
      // key — the snapshot must instead surface a loud FileNotFound.
      val fs = store.root.getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(store.root, "1"), true)
      val e = intercept[Exception](r.get(utf8("pk7")))
      def chain(t: Throwable): Seq[Class[_]] =
        if (t == null) Nil else t.getClass +: chain(t.getCause)
      assert(chain(e).exists(classOf[java.io.FileNotFoundException].isAssignableFrom),
        s"expected a loud FileNotFound, got: $e")
    } finally r.close()
  }

  test("throttled localize: byte-identical to unthrottled, throughput stays under the cap") {
    import org.apache.hadoop.fs.Path
    val store = DomainStore.create(
      scratch("throttle"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    val pairs = (0 until 3000).map(i => f"tk$i%05d" -> ("x" * 200 + i))
    store.write(kv(pairs: _*), 1L)
    val free = new Path(scratch("throttle-free"))
    val capped = new Path(scratch("throttle-capped"))
    assert(store.localize(1L, free) === Seq(0, 1, 2, 3))
    val fs = free.getFileSystem(conf)
    def files(base: Path): Map[String, Path] = {
      def walk(p: Path): Seq[Path] = {
        val st = fs.getFileStatus(p)
        if (st.isDirectory) fs.listStatus(p).toSeq.flatMap(c => walk(c.getPath))
        else Seq(p)
      }
      val qual = fs.makeQualified(base).toString
      walk(base).map(p => fs.makeQualified(p).toString.stripPrefix(qual) -> p).toMap
    }
    val freeFiles = files(free)
    val totalBytes = freeFiles.values.map(fs.getFileStatus(_).getLen).sum
    assert(totalBytes > 200L * 1024, s"fixture too small to measure a throttle: $totalBytes B")
    val capKBps = (totalBytes / 1024 / 2).toInt // cap sized so the copy takes ~2s
    val t0 = System.nanoTime()
    assert(store.localize(1L, capped, maxKBps = Some(capKBps)) === Seq(0, 1, 2, 3))
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    val floorSec = totalBytes / 1024.0 / capKBps
    // aggregate throughput may not beat the cap (0.8 margin absorbs chunk
    // granularity); no upper assert — a slow box slowing a copy is fine
    assert(elapsedSec >= floorSec * 0.8,
      f"throttled copy of $totalBytes B finished in $elapsedSec%.2f s — " +
        f"faster than the $capKBps KB/s cap allows (floor $floorSec%.2f s)")
    // byte identity file by file
    val cappedFiles = files(capped)
    assert(cappedFiles.keySet === freeFiles.keySet)
    def bytes(p: Path): Array[Byte] = {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      buf
    }
    freeFiles.foreach { case (rel, p) =>
      assert(java.util.Arrays.equals(bytes(p), bytes(cappedFiles(rel))), s"bytes differ: $rel")
    }
    // served answers identical off the throttled copy
    val r = KvDomainReader.localized(capped.toString, store.spec, conf)
    try assert(r.get(utf8("tk00042")).map(new String(_, "UTF-8")) === Some("x" * 200 + 42))
    finally r.close()
  }

  test("kv-sorted shard files binary-search WITHOUT Spark (the serving deliverable)") {
    val n = 4
    val store = DomainStore.create(
      scratch("kvf-serve"), DomainSpec(n, persistenceFormat = DomainSpec.KvSorted), conf)
    val pairs = (0 until 500).map(i => s"key-$i" -> s"value-$i")
    store.write(kv(pairs: _*), 1L)
    // everything below is plain Hadoop FS + KvFile byte math — the probe a
    // serving daemon would run; no DataFrame, no Spark job
    val fs = store.root.getFileSystem(conf)
    var found = 0
    (0 until n).foreach { s =>
      val p = new org.apache.hadoop.fs.Path(store.root, s"1/shard=$s/${KvFile.DataFileName}")
      assert(fs.exists(p), s"shard $s missing its kv file")
      val r = KvFile.open(fs, p)
      try {
        pairs.foreach { case (k, v) =>
          val hit = r.lookup(utf8(k)).map(new String(_, "UTF-8"))
          if (ShardIndex.shardIndex(utf8(k), n) == s) {
            assert(hit === Some(v), s"key $k missing from its shard $s")
            found += 1
          } else assert(hit === None, s"key $k leaked into shard $s")
        }
        // records iterate in unsigned-lexicographic key order
        val keys = r.iterator.map(_._1.toSeq).toVector
        assert(keys === keys.sortWith((a, b) =>
          java.util.Arrays.compareUnsigned(a.toArray, b.toArray) < 0))
        assert(r.count === keys.size.toLong)
      } finally r.close()
    }
    assert(found === pairs.size)
  }

  test("empty-delta upsert = pure copy-forward version bump") {
    val store = DomainStore.create(scratch("empty-delta"), DomainSpec(4), conf)
    val pairs = Seq("a" -> "1", "b" -> "2", "c" -> "3")
    store.write(kv(pairs: _*), 1L)
    store.upsert(spark, kv(), 2L)
    assert(store.latestVersion === 2L)
    assert(readPairs(store) === pairs.toSet)
    assert(store.count(spark) === 3L)
  }

  test("empty initial build publishes a readable empty version") {
    val store = DomainStore.create(scratch("empty-build"), DomainSpec(4), conf)
    store.write(kv(), 1L)
    assert(store.latestVersion === 1L)
    assert(store.read(spark).count() === 0L)
    assert(store.count(spark) === 0L)
    assert(store.get(spark, "nope".getBytes("UTF-8")) === None)
  }

  test("upsert rejects a delta that repeats keys unless dedupKeys is set") {
    val store = DomainStore.create(scratch("dupdelta"), DomainSpec(2), conf)
    store.write(kv("a" -> "1"), 1L)
    val dup = kv("b" -> "2", "b" -> "3")
    val e = intercept[IllegalArgumentException](store.upsert(spark, dup, 2L))
    assert(e.getMessage.contains("repeats keys"))
    assert(store.latestVersion === 1L) // failed upsert left no published version
    store.upsert(spark, dup, 3L, dedupKeys = true)
    assert(store.latestVersion === 3L)
    assert(readPairs(store).map(_._1) === Set("a", "b"))
  }

  test("localize copies a version's shard dirs byte-identically") {
    val store = DomainStore.create(scratch("localize"), DomainSpec(4), conf)
    val pairs = (0 until 50).map(i => s"lk$i" -> s"lv$i")
    store.write(kv(pairs: _*), 1L)
    val dest = new org.apache.hadoop.fs.Path(scratch("localize-out"))
    val copied = store.localize(1L, dest)
    assert(copied.nonEmpty)
    // idempotent: a re-run replaces (FileUtil.copy would otherwise nest
    // the shard dir inside the existing one and duplicate every row)
    store.localize(1L, dest)
    val back = spark.read.schema(DomainStore.DomainSchema).parquet(dest.toString)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back === pairs.toSet)
    assert(spark.read.schema(DomainStore.DomainSchema).parquet(dest.toString).count() === 50L)
  }

  test("stray non-numeric .version files are ignored, not fatal") {
    val store = DomainStore.create(scratch("stray"), DomainSpec(2), conf)
    store.write(kv("a" -> "1"), 1L)
    val fs = store.root.getFileSystem(conf)
    fs.create(new org.apache.hadoop.fs.Path(store.root, "backup.version"), true).close()
    assert(store.versions.getAllVersions === Seq(1L))
    assert(readPairs(store) === Set("a" -> "1"))
  }

  test("shard_index on a mistyped key column fails at analysis, not mid-run") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("k", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.shard_index(col("k"), 8)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"))
  }

  test("version store: unsucceeded versions invisible, cleanup keeps newest k") {
    val vs = new VersionedStore(scratch("vs"), conf)
    Seq(1L, 2L, 3L).foreach { v => vs.createVersion(v); vs.succeedVersion(v) }
    vs.createVersion(10L) // in flight (never succeeded), id above the kept window
    assert(vs.getAllVersions === Seq(3L, 2L, 1L))
    assert(vs.mostRecentVersion === Some(3L))
    assert(vs.mostRecentVersion(2L) === Some(2L))
    // write something into the in-flight dir: cleanup must NOT reap an
    // in-flight build's data while its .building marker survives — that
    // would pin isUpdating on a dataless build and let the eventual
    // succeedVersion publish an EMPTY version (silent key-absent)
    locally {
      val out = vs.fs.create(new org.apache.hadoop.fs.Path(vs.versionPath(10L), "part"), true)
      out.write(42); out.close()
    }
    vs.cleanup(2)
    assert(vs.getAllVersions === Seq(3L, 2L))
    assert(vs.fs.exists(vs.versionPath(10L)),
      "cleanup keeps an in-flight build's data dir (its .building marker is in-window)")
    assert(vs.inFlightVersions === Seq(10L))
    // resolving the build (fail here) releases it; the next cleanup reaps nothing extra
    vs.failVersion(10L)
    assert(!vs.fs.exists(vs.versionPath(10L)))
    assert(vs.inFlightVersions === Nil)
    vs.deleteVersion(10L) // forget the failure marker for the assertions below
    // an ABANDONED partial dir (marker aged below the window) still reaps:
    // version 0 is older than oldestKept(2) so both marker and dir go
    vs.createVersion(0L)
    vs.cleanup(2)
    assert(!vs.fs.exists(vs.versionPath(0L)), "below-window partial dirs still reap")
    assert(vs.inFlightVersions === Nil, "its stale .building marker aged out with it")

    // ABOVE-window protection (the publish-vs-GC race pin): anything
    // with an id above the newest kept publish is a fresh publish or an
    // in-flight build mid-commit, never the garbage cleanup reaps — a
    // bare data dir (marker already gone: the succeed path mid-flight)
    // must survive even with no .building marker and no token yet
    vs.fs.mkdirs(vs.versionPath(50L))
    vs.cleanup(2)
    assert(vs.fs.exists(vs.versionPath(50L)),
      "cleanup must never reap an id above the kept window (racing publish)")
    vs.deleteVersion(50L)

    // failure markers: explicit delete forgets them; cleanup ages out
    // markers older than the retention window but keeps recent ones
    vs.createVersion(0L); vs.failVersion(0L) // older than oldest kept (2)
    vs.createVersion(11L); vs.failVersion(11L) // newer than latest publish
    assert(vs.failedVersions === Seq(11L, 0L))
    vs.cleanup(2)
    assert(vs.failedVersions === Seq(11L), "stale marker aged out, recent one kept")
    vs.deleteVersion(11L)
    assert(vs.failedVersions === Nil)

    // keepFloor: versions >= the floor survive even outside the
    // newest-N window — the serving daemon passes its served version so
    // a racing publish can never reap what lookups are reading
    Seq(4L, 5L, 6L).foreach { v => vs.createVersion(v); vs.succeedVersion(v) }
    assert(vs.getAllVersions === Seq(6L, 5L, 4L, 3L, 2L))
    vs.cleanup(1, keepFloor = 4L) // newest-1 = {6}, floor keeps {4, 5, 6}
    assert(vs.getAllVersions === Seq(6L, 5L, 4L), "floor overrides the window")
    vs.cleanup(1, keepFloor = 6L)
    assert(vs.getAllVersions === Seq(6L), "floor at the newest = plain newest-1")
  }

  test("spec: json round-trip, validation, on-disk mismatch rejected") {
    val spec = DomainSpec(20, persistenceOptions = Map("dummy" -> "value"))
    assert(DomainSpec.fromJson(spec.toJson) === spec)
    intercept[IllegalArgumentException](DomainSpec(0).validate())
    intercept[IllegalArgumentException](DomainSpec(4, shardScheme = "nope").validate())
    val root = scratch("speccheck")
    DomainStore.create(root, DomainSpec(4), conf)
    intercept[IllegalArgumentException](DomainStore.create(root, DomainSpec(8), conf))
    assert(DomainStore.open(root, conf).spec === DomainSpec(4))
  }

  test("reference-layout compat: domain-spec.yaml + version tokens open and read back") {
    val root = scratch("yaml-compat")
    val store = DomainStore.create(root, DomainSpec(4), conf)
    val pairs = Seq("ya" -> "1", "yb" -> "2", "yc" -> "3")
    store.write(kv(pairs: _*), 1L)
    val fs = store.root.getFileSystem(conf)
    // swap the engine spec for the reference's YAML (DomainSpec.java:22-25)
    fs.delete(new org.apache.hadoop.fs.Path(root, "domain-spec.json"), false)
    val yaml =
      """shard_count: 4
        |shard_scheme: elephantdb.partition.HashModScheme
        |coordinator: elephantdb.persistence.JavaBerkDB
        |persistence_opts: {}
        |""".stripMargin
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "domain-spec.yaml"), true)
    out.write(yaml.getBytes("UTF-8")); out.close()
    assert(DomainStore.exists(root, conf))
    val re = DomainStore.open(root, conf)
    assert(re.spec === DomainSpec(4))
    assert(re.latestVersion === 1L)
    assert(readPairs(re) === pairs.toSet)
    assert(re.get(spark, utf8("yb")).map(new String(_, "UTF-8")) === Some("2"))
    // the server example's legacy spelling (example/domain-spec.yaml:1-2)
    assert(DomainSpec.fromYaml(
      "num_shards: 64\nlocal_persistence: elephantdb.persistence.JavaBerkDB") === DomainSpec(64))
    // LevelDB maps to the orc-sorted capability twin (SURVEY §2.1)
    assert(DomainSpec.fromYaml(
      "shard_count: 8\ncoordinator: elephantdb.persistence.LevelDB").persistenceFormat
      === DomainSpec.OrcSorted)
    // a foreign sharding scheme is rejected loudly (wrong-shard probes)
    intercept[IllegalArgumentException](DomainSpec.fromYaml(
      "shard_count: 4\nshard_scheme: com.example.RangeScheme"))
  }

  test("reference NATIVE data layout fails loud at open, naming the persistence + migration path") {
    val root = scratch("yaml-native")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    def put(rel: String, bytes: Array[Byte] = Array[Byte](0, 1, 2, 3)): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, rel), true)
      out.write(bytes); out.close()
    }
    put("domain-spec.yaml",
      "shard_count: 2\ncoordinator: elephantdb.persistence.JavaBerkDB\n".getBytes("UTF-8"))
    // the reference's on-disk shape: <version>/<shard-int>/<bdb je files>
    // (ShardSetImpl.java:60-63, JavaBerkDB.java:60-67) + the version token
    put("1234/0/00000000.jdb")
    put("1234/1/00000000.jdb")
    put("1234.version", Array.emptyByteArray)
    val e = intercept[IllegalArgumentException](DomainStore.open(root, conf))
    assert(e.getMessage.contains("unsupported persistence"), e.getMessage)
    assert(e.getMessage.contains("BerkeleyDB"), e.getMessage)
    assert(e.getMessage.contains("kv-sorted"), e.getMessage)
    assert(e.getMessage.contains("KvDomainReader"), e.getMessage)
    // LevelDB files are named as such too
    val root2 = scratch("yaml-native-ldb")
    val fs2 = new org.apache.hadoop.fs.Path(root2).getFileSystem(conf)
    def put2(rel: String, bytes: Array[Byte] = Array[Byte](9)): Unit = {
      val out = fs2.create(new org.apache.hadoop.fs.Path(root2, rel), true)
      out.write(bytes); out.close()
    }
    put2("domain-spec.yaml",
      "shard_count: 1\ncoordinator: elephantdb.persistence.LevelDB\n".getBytes("UTF-8"))
    put2("7/0/000005.sst")
    put2("7.version", Array.emptyByteArray)
    val e2 = intercept[IllegalArgumentException](DomainStore.open(root2, conf))
    assert(e2.getMessage.contains("LevelDB"), e2.getMessage)
  }

  test("ShardPruningRule: plain key filters prune partitions without manual routing") {
    val store = DomainStore.create(scratch("autoprune"), DomainSpec(8), conf)
    val pairs = (0 until 64).map(i => s"k$i" -> s"v$i")
    store.write(kv(pairs: _*), 1L)
    // equality filter — NO shard column mentioned anywhere
    val one = store.read(spark).where(col("key") === lit(utf8("k7")))
    val onePlan = one.queryExecution.executedPlan.toString
    val expectShard = ShardIndex.shardIndex(utf8("k7"), 8)
    assert(onePlan.contains(s"PartitionFilters: [isnotnull(shard"),
      s"no partition filter in:\n$onePlan")
    assert(onePlan.contains(s"(shard#") && onePlan.contains(s"= $expectShard)"),
      s"expected shard = $expectShard pruning in:\n$onePlan")
    assert(one.select(bytes_utf8(col("value"))).collect().map(_.getString(0)).toSeq === Seq("v7"))
    // IN filter prunes to the union of routed shards
    val keys = Seq("k1", "k2", "k3")
    val in = store.read(spark).where(col("key").isin(keys.map(utf8): _*))
    val got = in.select(bytes_utf8(col("value"))).collect().map(_.getString(0)).toSet
    assert(got === Set("v1", "v2", "v3"))
    val inPlan = in.queryExecution.executedPlan.toString
    assert(inPlan.contains("PartitionFilters: [isnotnull(shard") ||
      inPlan.contains("PartitionFilters: [shard"),
      s"no partition filter on IN in:\n$inPlan")
    // a projection between scan and filter must not break the rule (the
    // metadata travels with the attribute)
    val projected = store.read(spark).select(col("key"), col("value"), col("shard"))
      .where(col("key") === lit(utf8("k9")))
    assert(projected.select(bytes_utf8(col("value"))).collect()
      .map(_.getString(0)).toSeq === Seq("v9"))
    assert(projected.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(shard"))
  }

  test("ShardPruningRule: a foreign column NAMED shard is never hijacked") {
    import spark.implicits._
    val store = DomainStore.create(scratch("autoprune-foreign"), DomainSpec(8), conf)
    store.write(kv((0 until 32).map(i => s"k$i" -> s"v$i"): _*), 1L)
    // a metrics table with its own int column named `shard`, values chosen
    // to DIFFER from every routed shard id — if the rule pairs the domain
    // key with THIS column, matching rows silently vanish
    val metrics = (0 until 32).map(i => (utf8(s"k$i"), 999)).toDF("key", "shard")
    val joined = metrics.join(
      store.read(spark).select(col("key"), col("value")), Seq("key"))
      .where(col("key") === lit(utf8("k3")))
    assert(joined.count() === 1L, joined.queryExecution.executedPlan.toString)
  }

  test("multiGet: hits resolve, absent keys yield null value (not error)") {
    val store = DomainStore.create(scratch("mg"), DomainSpec(4), conf)
    store.write(kv("a" -> "1", "b" -> "2"), 1L)
    val keys = kv("a" -> "", "zz" -> "").select(col("key"))
    val got = store.multiGet(keys)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(got === Map("a" -> Some("1"), "zz" -> None))
    // bulk (shuffle-join) path, auto-selected when the key set exceeds
    // the driver threshold: same semantics, no driver materialization
    val bulk = store.multiGet(keys, maxDriverKeys = 1)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(bulk === got)
    // hits-only mode == the full result minus its null rows, on both paths
    for (mdk <- Seq(DomainStore.MaxDriverKeys, 1)) {
      val hitsOnly = store.multiGet(keys, includeMisses = false, maxDriverKeys = mdk)
        .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
      assert(hitsOnly === got.filter(_._2.nonEmpty), s"maxDriverKeys=$mdk")
    }
    // ...and on an INDEXED domain, where sidecar-known misses take the
    // separate knownMisses branches (incl. the all-miss probe that used
    // to return early with the miss rows)
    val ixStore = DomainStore.create(scratch("mg-ix"),
      DomainSpec(4, indexer = classOf[BloomKeyIndexer].getName), conf)
    ixStore.write(kv("a" -> "1", "b" -> "2"), 1L)
    val ixHits = ixStore.multiGet(keys, includeMisses = false)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(ixHits === Map("a" -> Some("1")))
    val allMiss = ixStore.multiGet(kv("zz" -> "").select(col("key")), includeMisses = false)
    assert(allMiss.collect().isEmpty)
    assert(allMiss.columns.toSeq === Seq("key", "value"))
  }

  test("memory persistence format (S11): full battery on ramfs, no disk") {
    RamFileSystem.clear("mem")
    val spec = DomainSpec(4, persistenceFormat = DomainSpec.Memory)
    val store = DomainStore.create("ramfs://mem/t-battery", spec, conf)
    val pairs = (0 until 100).map(i => s"mk$i" -> s"mv$i")
    store.write(kv(pairs: _*), 1L)
    assert(readPairs(store) === pairs.toSet)
    assert(store.count(spark) === 100L)
    // footer counts through the distributed branch also resolve ramfs
    assert(store.count(spark, distributeAbove = 0) === 100L)
    // upsert = merge + copy-forward, all inside the ram namespace
    store.upsert(spark, kv("mk0" -> "new", "extra" -> "x"), 2L)
    assert(store.latestVersion === 2L)
    val got = readPairs(store)
    assert(got.contains("mk0" -> "new") && got.contains("extra" -> "x"))
    assert(got.size === 101)
    // point reads
    assert(store.get(spark, "mk5".getBytes("UTF-8")).map(new String(_, "UTF-8")) === Some("mv5"))
    val mg = store.multiGet(kv("mk1" -> "", "nope" -> "").select(col("key")))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(mg === Map("mk1" -> Some("mv1"), "nope" -> None))
    // reopen from the process-global namespace with a fresh conf
    val re = DomainStore.open("ramfs://mem/t-battery", new Configuration())
    assert(re.spec === spec)
    assert(re.latestVersion === 2L)
    // memory format on a disk root is rejected loudly
    intercept[IllegalArgumentException](
      DomainStore.create(scratch("mem-on-disk"), spec, conf))
  }

  test("multiGet auto-selects: jumbo key set takes the co-shuffled plan, never the driver") {
    val store = DomainStore.create(scratch("mg-auto"), DomainSpec(4), conf)
    store.write(kv((0 until 50).map(i => s"k$i" -> s"v$i"): _*), 1L)
    // keys as a DISTRIBUTED relation (range scan, not a local relation),
    // so any LocalTableScan in the plan can only be a driver-collected
    // key set
    val keys = spark.range(0, 60)
      .select(utf8_bytes(concat(lit("k"), col("id").cast("string"))).as("key"))
    val small = store.multiGet(keys)
    assert(small.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "point-lookup path should route keys driver-side")
    val jumbo = store.multiGet(keys, maxDriverKeys = 10)
    assert(!jumbo.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "co-shuffled path must not materialize the key set on the driver:\n" +
        jumbo.queryExecution.executedPlan.toString)
    // identical results on both paths (50 hits + 10 misses)
    def mat(df: DataFrame) = df
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    val (s, j) = (mat(small), mat(jumbo))
    assert(j === s)
    assert(s.size === 60 && s.count(_._2.isEmpty) === 10)
  }

  test("multiGet point path scans the pruned shards exactly once (misses fold into the plan)") {
    val store = DomainStore.create(scratch("mg-onescan"), DomainSpec(4), conf)
    store.write(kv((0 until 40).map(i => s"ok$i" -> s"ov$i"): _*), 1L)
    val keys = kv("ok1" -> "", "ok2" -> "", "gone" -> "").select(col("key"))
    val withMisses = store.multiGet(keys)
    val plan = withMisses.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected exactly 1 domain scan, got $scans:\n$plan")
    val got = withMisses
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(got === Map("ok1" -> Some("ov1"), "ok2" -> Some("ov2"), "gone" -> None))
  }

  test("multiGet jumbo on a kv domain takes the storage-partitioned join (domain side never moves)") {
    val store = DomainStore.create(
      scratch("mg-spj"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(kv((0 until 50).map(i => s"k$i" -> s"v$i"): _*), 1L)
    val keys = spark.range(0, 60)
      .select(utf8_bytes(concat(lit("k"), col("id").cast("string"))).as("key"))
    def mat(df: DataFrame) = df
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    val j = mat(store.multiGet(keys, maxDriverKeys = 10))
    assert(j === mat(store.multiGet(keys)))
    assert(j.size === 60 && j.count(_._2.isEmpty) === 10)
    // plan pin with broadcast off (the test domain is tiny, so statistics
    // — working as intended — would broadcast it; a corpus-scale domain
    // cannot be): the KEY side shuffles into the domain's reported
    // partitioning, the domain subtree itself never re-partitions
    val keys2 = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys2.map(k => k -> spark.conf.getOption(k))
    try {
      keys2.foreach(spark.conf.set(_, "-1"))
      val jumbo = store.multiGet(keys, maxDriverKeys = 10)
      assert(mat(jumbo) === j)
      val plan = jumbo.queryExecution.executedPlan.toString
      assert(plan.contains("BatchScan kvdomain"), plan)
      assert(plan.contains("Exchange keygroupedpartitioning"), plan)
      assert(!plan.contains("Exchange hashpartitioning(shard"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fsck catches a flipped value byte: corruption names file + offset; transcode refuses") {
    import org.apache.hadoop.fs.Path
    // scratch() deletes on every call — capture the path once
    val root = scratch("crc-fsck")
    val store = DomainStore.create(
      root, DomainSpec(2, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(kv((0 until 300).map(i => f"ck$i%04d" -> s"val-$i"): _*), 1L)
    // clean: fsck's corruption column is empty everywhere
    val clean = store.fsck(spark).collect()
    assert(clean.forall(_.getSeq[String](4).isEmpty))
    // flip one byte inside shard 0's data region (past header+index math:
    // pick a spot inside a value, located via a known record's bytes)
    val fs = store.root.getFileSystem(conf)
    val f = new Path(store.root, s"1/shard=0/${KvFile.DataFileName}")
    val len = fs.getFileStatus(f).getLen
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(f); in.readFully(0, bytes); in.close()
    val marker = "val-".getBytes("UTF-8")
    val pos = bytes.indexOfSlice(marker) + 2 // inside some record's value
    bytes(pos) = (bytes(pos) ^ 0x01).toByte
    val out = fs.create(f, true); out.write(bytes); out.close()
    val audit = store.fsck(spark).collect().map(r => r.getInt(0) -> r.getSeq[String](4)).toMap
    assert(audit(0).nonEmpty, "flipped byte invisible to fsck")
    assert(audit(0).head.contains(KvFile.DataFileName))
    val rangeRe = """\[(\d+), (\d+)\)""".r
    val m = rangeRe.findFirstMatchIn(audit(0).head).get
    assert(m.group(1).toLong <= pos && pos < m.group(2).toLong,
      s"flip at $pos outside named range ${m.group(0)}")
    assert(audit(1).isEmpty, "unflipped shard must audit clean")
    // transcode refuses to launder the corruption into a fresh file
    val e = intercept[IllegalArgumentException](DomainStore.transcode(
      spark, root, scratch("crc-fsck-dst"), DomainSpec.KvSortedZ, 1L, conf))
    assert(e.getMessage.contains("integrity"), e.getMessage)

    // FRAMING corruption (flipped keyLen byte) must not crash the audit:
    // fsck completes, the broken file lands as findings (framing + CRC),
    // and the healthy shard still reports clean
    val f1 = new Path(store.root, s"1/shard=1/${KvFile.DataFileName}")
    val b1 = new Array[Byte](fs.getFileStatus(f1).getLen.toInt)
    val in1 = fs.open(f1); in1.readFully(0, b1); in1.close()
    b1(4) = (b1(4) ^ 0x7F).toByte // first record's keyLen MSB -> absurd length
    val out1 = fs.create(f1, true); out1.write(b1); out1.close()
    val audit2 = store.fsck(spark).collect().map(r => r.getInt(0) -> r.getSeq[String](4)).toMap
    assert(audit2(1).exists(_.contains("framing")), audit2(1).mkString(" | "))
    assert(audit2(1).exists(_.contains("CRC mismatch")), audit2(1).mkString(" | "))
  }

  test("fsck catches a flipped OFFSET-INDEX byte (silent lookup mis-targeting)") {
    import org.apache.hadoop.fs.Path
    val root = scratch("crc-ix-fsck")
    val store = DomainStore.create(
      root, DomainSpec(2, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(kv((0 until 300).map(i => f"ik$i%04d" -> s"v$i"): _*), 1L)
    val fs = store.root.getFileSystem(conf)
    val f = new Path(store.root, s"1/shard=0/${KvFile.DataFileName}")
    val len = fs.getFileStatus(f).getLen
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(f); in.readFully(0, bytes); in.close()
    // locate the index region from the GKV2 trailer and flip a
    // low-order byte of one entry: records still frame clean, the
    // sequential key scan sees nothing wrong — only the CRC can tell
    val bb = java.nio.ByteBuffer.wrap(bytes, bytes.length - KvFile.TrailerLenV2, KvFile.TrailerLenV2)
    val io = bb.getLong
    val pos = io.toInt + 12 // inside index entry 1
    bytes(pos) = (bytes(pos) ^ 0x01).toByte
    val out = fs.create(f, true); out.write(bytes); out.close()
    val audit = store.fsck(spark).collect().map(r => r.getInt(0) -> r.getSeq[String](4)).toMap
    assert(audit(0).nonEmpty, "index flip invisible to fsck")
    val rangeRe = """\[(\d+), (\d+)\)""".r
    val m = rangeRe.findFirstMatchIn(audit(0).head).get
    assert(m.group(1).toLong <= pos && pos < m.group(2).toLong,
      s"index flip at $pos outside named range ${m.group(0)}")
    // routing/order stayed green — the CRC is the ONLY detector here
    val row0 = store.fsck(spark).collect().find(_.getInt(0) == 0).get
    assert(row0.getLong(2) === 0L && row0.getBoolean(3))
  }

  test("fsck: clean domains audit clean; a foreign shard file surfaces as misrouted keys") {
    import org.apache.hadoop.fs.Path
    for (fmt <- Seq(DomainSpec.ParquetSorted, DomainSpec.KvSorted)) {
      val store = DomainStore.create(
        scratch(s"fsck-$fmt"), DomainSpec(4, persistenceFormat = fmt), conf)
      store.write(kv((0 until 200).map(i => s"k$i" -> s"v$i"): _*), 1L)
      val clean = store.fsck(spark).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(clean.values.map(_._1).sum === 200L)
      assert(clean.values.map(_._2).sum === 0L, s"$fmt: clean domain must have 0 misroutes")
      if (fmt == DomainSpec.KvSorted) {
        // drop shard 0's file into shard 1's dir under a new name: every
        // key it holds routes to shard 0, so fsck must flag them all
        val fs = store.root.getFileSystem(conf)
        val src = new Path(store.root, s"1/shard=0/${KvFile.DataFileName}")
        val dst = new Path(store.root, "1/shard=1/part-foreign.kv")
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
        val audit = store.fsck(spark).collect()
          .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
        assert(audit(1)._2 > 0L, "foreign keys must surface as misrouted")
        assert(audit(0)._2 === 0L)
        // order within each FILE is still valid (the foreign file is
        // itself sorted), so sorted_ok stays true — routing is the signal
        assert(audit.values.forall(_._3 === true))
      } else {
        // a VANISHED shard directory must audit as a zero-record row,
        // not silently drop out of the report
        val fs = store.root.getFileSystem(conf)
        val victim = clean.collect { case (s, (n, _)) if n > 0 => s }.head
        fs.delete(new Path(store.root, s"1/shard=$victim"), true)
        val after = store.fsck(spark).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(after.keySet === (0 until 4).toSet, "one row per shard, always")
        assert(after(victim) === 0L, "lost shard must surface as 0 records")
      }
    }
  }

  test("multiGet rejects null keys identically on the point and bulk paths") {
    val store = DomainStore.create(scratch("mg-nulls"), DomainSpec(4), conf)
    store.write(kv("a" -> "1", "b" -> "2"), 1L)
    import spark.implicits._
    val withNull = Seq(Option(utf8("a")), None, Option(utf8("b")))
      .toDF("key")
    // point path: driver routing sees every key, fails fast
    val e1 = intercept[IllegalArgumentException](store.multiGet(withNull))
    assert(e1.getMessage.contains("null key"))
    // bulk path: too big to check on the driver, so the check rides the
    // plan — same input, same verdict, raised at evaluation time
    val e2 = intercept[Exception](store.multiGet(withNull, maxDriverKeys = 1).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e2).exists(_.contains("null key")),
      s"bulk path must name the null key: ${messages(e2).mkString(" | ")}")
  }

  test("multiGet pins no cache: no persistent RDDs survive a round-trip") {
    val store = DomainStore.create(scratch("mg-nocache"), DomainSpec(4), conf)
    store.write(kv("a" -> "1", "b" -> "2", "c" -> "3"), 1L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val keys = kv("a" -> "", "b" -> "", "nope" -> "").select(col("key"))
    val got = store.multiGet(keys).collect()
    assert(got.length === 3)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"multiGet leaked persisted RDDs: ${(after -- before).mkString(", ")}")
  }

  test("count: distributed footer summation agrees with the driver pool") {
    val store = DomainStore.create(scratch("count-dist"), DomainSpec(8), conf)
    val pairs = (0 until 300).map(i => s"ck$i" -> s"cv$i")
    store.write(kv(pairs: _*), 1L)
    assert(store.count(spark) === 300L)
    // distributeAbove = 0: numShards > threshold, so the LISTING runs
    // inside the Spark job too (the 64k-shard path — no driver recursion)
    assert(store.count(spark, distributeAbove = 0) === 300L)
    // threshold between branches: 8 shards > 3 still distributes
    assert(store.count(spark, distributeAbove = 3) === 300L)
  }

  test("upsert via distributed copy-forward: untouched shards byte-identical") {
    val store = DomainStore.create(scratch("dist-cf"), DomainSpec(8), conf)
    val pairs = (0 until 200).map(i => s"dk$i" -> s"dv$i")
    store.write(kv(pairs: _*), 1L)
    // delta touches one shard; the rest copy forward through the Spark job
    store.upsert(spark, kv("dk0" -> "new"), 2L, distributeAbove = 0)
    assert(store.latestVersion === 2L)
    assert(readPairs(store) === (pairs.toMap + ("dk0" -> "new")).toSeq.toSet)
    val fs = store.root.getFileSystem(conf)
    def shardFiles(v: Long, s: Int): Seq[org.apache.hadoop.fs.Path] = {
      val d = new org.apache.hadoop.fs.Path(store.root, s"$v/shard=$s")
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).toSeq
    }
    def bytes(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try { in.readFully(0, buf); buf } finally in.close()
    }
    val touched = ShardIndex.shardIndex(utf8("dk0"), 8)
    (0 until 8).filterNot(_ == touched).foreach { s =>
      val (f1, f2) = (shardFiles(1L, s), shardFiles(2L, s))
      assert(f1.map(_.getName) === f2.map(_.getName), s"shard=$s file set differs")
      f1.zip(f2).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(bytes(a), bytes(b)), s"shard=$s not byte-identical")
      }
    }
  }

  test("localize: distributed branch copies the same bytes as the driver pool") {
    val store = DomainStore.create(scratch("localize-dist"), DomainSpec(8), conf)
    val pairs = (0 until 100).map(i => s"zk$i" -> s"zv$i")
    store.write(kv(pairs: _*), 1L)
    val destA = new org.apache.hadoop.fs.Path(scratch("localize-dist-a"))
    val destB = new org.apache.hadoop.fs.Path(scratch("localize-dist-b"))
    val viaDriver = store.localize(1L, destA)
    val viaJob = store.localize(1L, destB, distributeAbove = 0)
    assert(viaJob === viaDriver)
    def back(d: org.apache.hadoop.fs.Path): Set[(String, String)] =
      spark.read.schema(DomainStore.DomainSchema).parquet(d.toString)
        .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back(destB) === back(destA))
    assert(back(destB) === pairs.toSet)
  }

  test("lookupJoin prunes the domain scan to a small non-literal probe's shards") {
    val store = DomainStore.create(scratch("lj-prune"), DomainSpec(8), conf)
    store.write(kv((0 until 64).map(i => s"k$i" -> s"v$i"): _*), 1L)
    // probe = distributed relation (range), keys concentrated on 3 values —
    // nothing literal anywhere, the pruning must be derived at plan time
    val probe = spark.range(0, 20).select(
      col("id").as("row_id"),
      utf8_bytes(concat(lit("k"), (col("id") % 3).cast("string"))).as("key"))
    val pruned = store.lookupJoin(probe)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [shard"), s"no partition filter in:\n$plan")
    def mat(df: DataFrame) = df
      .select(col("row_id"), bytes_utf8(col("value")))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(mat(pruned) === mat(store.lookupJoin(probe, pruneShards = false)))
    assert(mat(pruned).forall(_._2.nonEmpty))
    // misses survive pruning (absent key -> null value, never a lost row)
    val withMiss = probe.unionByName(
      spark.range(100, 103).select(
        col("id").as("row_id"), utf8_bytes(lit("absent")).as("key")))
    val got = mat(store.lookupJoin(withMiss))
    assert(got === mat(store.lookupJoin(withMiss, pruneShards = false)))
    assert(got.count(_._2.isEmpty) === 3)
    // a probe spanning every shard skips the (useless) filter
    val wide = spark.range(0, 64).select(
      col("id").as("row_id"),
      utf8_bytes(concat(lit("k"), col("id").cast("string"))).as("key"))
    val widePlan = store.lookupJoin(wide).queryExecution.executedPlan.toString
    assert(!widePlan.contains("PartitionFilters: [shard"),
      s"full-coverage probe should not carry a pruning filter:\n$widePlan")
  }

  test("lookupJoin refuses to prune a nondeterministic probe (and a checkpointed one prunes again)") {
    import org.apache.spark.sql.functions.rand
    val store = DomainStore.create(scratch("lj-nondet"), DomainSpec(8), conf)
    store.write(kv((0 until 8).map(i => s"k$i" -> s"v$i"): _*), 1L)
    // keys chosen BY rand(): every candidate key exists in the domain, so
    // a correct (single-evaluation) join can never produce a null value —
    // but the old double-evaluation pruning could re-draw the key into a
    // pruned-out shard and null a real match.
    def randProbe = spark.range(0, 200).select(
      col("id").as("row_id"),
      utf8_bytes(concat(lit("k"), (rand(7) * 8).cast("int").cast("string"))).as("key"))
    assert(DomainStore.nondeterministicPlan(randProbe))
    val joined = store.lookupJoin(randProbe)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("PartitionFilters: [shard"),
      s"nondeterministic probe must not be shard-pruned:\n$plan")
    val vals = joined.select(bytes_utf8(col("value"))).collect().map(_.getString(0))
    assert(vals.length === 200)
    assert(vals.forall(_ != null), "unpruned fallback must never null a real match")
    // sample() is the other re-evaluation hazard class — also detected
    val sampled = spark.range(0, 64)
      .select(utf8_bytes(concat(lit("k"), col("id").cast("string"))).as("key"))
      .sample(0.5, seed = 3)
    assert(DomainStore.nondeterministicPlan(sampled))
    assert(!store.lookupJoin(sampled).queryExecution.executedPlan.toString
      .contains("PartitionFilters: [shard"))
    // materializing pins the rows: pruning comes back
    val pinned = randProbe.filter(col("row_id") < 5).localCheckpoint(true)
    try {
      assert(!DomainStore.nondeterministicPlan(pinned))
      val prunedPlan = store.lookupJoin(pinned).queryExecution.executedPlan.toString
      assert(prunedPlan.contains("PartitionFilters: [shard"),
        s"checkpointed probe should prune:\n$prunedPlan")
    } finally pinned.unpersist(blocking = true)
  }

  test("salted lookupJoin: equals the plain join AND spreads the hot key") {
    import org.apache.spark.sql.functions.spark_partition_id
    val store = DomainStore.create(scratch("salty"), DomainSpec(4), conf)
    store.write(kv((0 until 50).map(i => s"k$i" -> s"v$i"): _*), 1L)
    // 2000 probe rows, 90% on one hot key — the classic enrichment skew
    import spark.implicits._
    val probe = (0 until 2000)
      .map(i => (i.toLong, if (i % 10 != 0) "k7" else s"k${i % 50}"))
      .toDF("row_id", "k")
      .select(col("row_id"), utf8_bytes(col("k")).as("key"))
    // Force the shuffle-join path (a broadcastable dim never skews) and
    // keep AQE from coalescing the tiny test partitions back together.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      def materialize(df: org.apache.spark.sql.DataFrame) = df
        .select(col("row_id"), bytes_utf8(col("value")).as("v"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq.sorted
      val plain = materialize(store.lookupJoin(probe))
      val salted = materialize(store.lookupJoin(probe, salt = 8))
      assert(salted === plain)
      assert(plain.count(_._2.isEmpty) === 0)
      // straggler check: the hot key's rows must land in > 1 join task
      val hotParts = store.lookupJoin(probe, salt = 8)
        .where(bytes_utf8(col("key")) === "k7")
        .select(spark_partition_id().as("p"))
        .distinct().count()
      assert(hotParts > 1, s"hot key stayed in $hotParts partition(s)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("write rejects duplicate keys only in dedup mode semantics") {
    val store = DomainStore.create(scratch("dup"), DomainSpec(2), conf)
    store.write(kv("a" -> "1", "a" -> "2"), 1L, dedupKeys = true)
    assert(store.count(spark) === 1L)
  }

  // ------------------------------------------------------ Indexer SPI (W5)

  private val bloomSpecName = classOf[BloomKeyIndexer].getName

  private def readSidecars(store: DomainStore, version: Long): Map[Int, Seq[Byte]] = {
    val fs = store.root.getFileSystem(conf)
    val vp = new org.apache.hadoop.fs.Path(store.root, version.toString)
    fs.listStatus(vp).filter(_.getPath.getName.startsWith("shard=")).flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d.getPath, Indexer.SidecarName)
      if (!fs.exists(p)) None
      else {
        val len = fs.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(0L, buf) finally in.close()
        Some(d.getPath.getName.stripPrefix("shard=").toInt -> buf.toSeq)
      }
    }.toMap
  }

  test("bloom indexer: sidecar per shard, lookups agree, definite misses scan nothing") {
    import spark.implicits._
    val store = DomainStore.create(
      scratch("bloom"), DomainSpec(4, indexer = bloomSpecName), conf)
    val pairs = (0 until 200).map(i => s"bk$i" -> s"bv$i")
    store.write(kv(pairs: _*), 1L)
    val sidecars = readSidecars(store, 1L)
    assert(sidecars.keySet === (0 until 4).toSet, "every shard dir carries a sidecar")

    // multiGet over hits + misses is indistinguishable from an unindexed
    // domain (absent keys -> null value, never an error)
    val probeKeys = (0 until 40).map(i => s"bk${i * 5}") ++ (0 until 40).map(i => s"zz$i")
    val got = store.multiGet(probeKeys.toDF("k").select(utf8_bytes(col("k")).as("key")))
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val expected = probeKeys.map { k =>
      k -> (if (k.startsWith("bk")) Some("bv" + k.drop(2)) else None)
    }.toMap
    assert(got === expected)
    assert(store.get(spark, utf8("bk7")).map(new String(_, "UTF-8")) === Some("bv7"))

    // The scale claim itself: a key the (deterministic) bloom rejects is
    // answered without touching data. Prove it by deleting every data file
    // and asking again — only the sidecar is left to answer from.
    val ix = new BloomKeyIndexer
    val probes = sidecars.map { case (s, bytes) => s -> ix.probe(bytes.toArray) }
    val rejected = (0 until 200).map(i => s"nope$i").filter { k =>
      !probes(ShardIndex.shardIndex(utf8(k), 4))(utf8(k))
    }
    assert(rejected.size > 150, s"bloom rejected only ${rejected.size}/200 absent keys")
    val fs = store.root.getFileSystem(conf)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(store.root, "1"), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) fs.delete(f.getPath, false)
    }
    rejected.take(5).foreach(k => assert(store.get(spark, utf8(k)) === None))
    val misses = store.multiGet(rejected.toDF("k").select(utf8_bytes(col("k")).as("key")))
      .select(bytes_utf8(col("key")), col("value")).collect()
    assert(misses.length === rejected.size)
    assert(misses.forall(_.isNullAt(1)))
  }

  test("indexed upsert: rewritten shards get fresh sidecars, untouched ones copy forward") {
    val store = DomainStore.create(
      scratch("bloom-up"), DomainSpec(8, indexer = bloomSpecName), conf)
    store.write(kv((0 until 100).map(i => s"uk$i" -> s"uv$i"): _*), 1L)
    val v1 = readSidecars(store, 1L)
    val newKey = "brand-new-key"
    store.upsert(spark, kv(newKey -> "fresh"), 2L)
    val v2 = readSidecars(store, 2L)
    val affected = ShardIndex.shardIndex(utf8(newKey), 8)
    // A stale (copied) bloom would reject the key this upsert just added
    // and get would wrongly answer None — so this pins sidecar freshness.
    assert(store.get(spark, utf8(newKey)).map(new String(_, "UTF-8")) === Some("fresh"))
    assert(v2(affected) !== v1(affected), "rewritten shard kept its old sidecar")
    (v1.keySet - affected).foreach { s =>
      assert(v2(s) === v1(s), s"untouched shard $s sidecar changed across copy-forward")
    }
  }

  test("indexer spec field: json compat, unknown class rejected at open") {
    // round-trip with the field; old json without it normalizes to "none"
    val spec = DomainSpec(4, indexer = bloomSpecName)
    assert(DomainSpec.fromJson(spec.toJson) === spec)
    val legacy = DomainSpec.fromJson("""{"numShards":4,"shardScheme":"hash-mod",
      |"persistenceFormat":"parquet-sorted","persistenceOptions":{}}""".stripMargin)
    assert(legacy === DomainSpec(4))
    assert(legacy.indexerClass === None)
    val err = intercept[IllegalArgumentException] {
      DomainStore.create(scratch("bad-ix"), DomainSpec(2, indexer = "no.such.Class"), conf)
    }
    assert(err.getMessage.contains("no.such.Class"))
  }
}
