package graft.streaming

import org.apache.spark.sql.Row

import graft.SparkSuite
import graft.operators.Events

/** The streaming twin must produce exactly the batch result once the
  * stream drains (same declarative plan, incremental execution). */
class StreamingSpec extends SparkSuite {

  test("streaming windowAgg == batch windowAgg over the same files") {
    val src = sf("sf0.001/events.parquet")
    // file stream source needs a directory; stage the table into one
    val dir = scratch("stream-events")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(src),
      fs, new org.apache.hadoop.fs.Path(s"$dir/events-0.parquet"), false, conf)

    val batch = Events.windowAgg(spark.read.parquet(src), 5)
      .collect().map(normalize).toSet

    val q = StreamingEvents.windowAggToMemory(spark, dir, 5, "ev_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_stream_test").collect().map(normalize).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  /** Split the events fixture into TWO parquet files in event-time order
    * under `dir` (via `staging`), so users/windows span micro-batches —
    * the shared multi-batch streaming fixture. */
  private def stageTwoBatches(src: String, dir: String, staging: String): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val all = spark.read.parquet(src).orderBy("ts", "event_id")
    val firstHalf = all.limit((all.count() / 2).toInt)
    val secondHalf = all.exceptAll(firstHalf)
    firstHalf.coalesce(1).write.parquet(s"$staging/b0")
    secondHalf.coalesce(1).write.parquet(s"$staging/b1")
    def stage(from: String, to: String): Unit = {
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$from/part-*.parquet"))(0).getPath
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    }
    stage(s"$staging/b0", s"$dir/events-0.parquet")
    stage(s"$staging/b1", s"$dir/events-1.parquet")
  }

  private def normalize(r: Row): (java.sql.Timestamp, String, Long, Long) =
    (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))

  test("streaming upserts publish versioned domain snapshots with copy-forward") {
    import org.apache.spark.sql.functions._
    import graft.functions._
    import spark.implicits._
    val srcDir = scratch("stream-domain-src")
    val ckpt = scratch("stream-domain-ckpt")
    val domRoot = scratch("stream-domain")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    def kvParquet(name: String, pairs: Seq[(String, String)]): Unit =
      pairs.toDF("k", "v")
        .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value"))
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/$name")
    val kvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.BinaryType)))
    def drain(): Unit = {
      val stream = spark.readStream.schema(kvSchema).parquet(s"$srcDir/*")
      val q = StreamingDomain.upsertStream(
        store, stream, baseVersion = 0L, queryName = "dom_stream_test", checkpointDir = ckpt)
      try q.awaitTermination() finally q.stop()
    }
    lazy val store = graft.store.DomainStore.create(
      domRoot, graft.core.DomainSpec(numShards = 4), conf)

    // batch 0: bootstrap build
    kvParquet("d0", Seq("a" -> "1", "b" -> "2"))
    drain()
    assert(store.latestVersion === 1L)
    // batch 1 (new file, restart from checkpoint): delta upsert
    kvParquet("d1", Seq("a" -> "9", "c" -> "3"))
    drain()
    assert(store.latestVersion === 2L)
    val got = store.read(spark)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set("a" -> "9", "b" -> "2", "c" -> "3"))
    // both snapshots remain independently readable (streaming publishes
    // versions, it does not mutate)
    val v1 = store.readVersion(spark, 1L)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(v1 === Set("a" -> "1", "b" -> "2"))
    // a re-run with no new files publishes nothing new
    drain()
    assert(store.latestVersion === 2L)
  }

  test("streaming linked ingest: O(delta) publishes, compactEvery re-materializes") {
    import org.apache.spark.sql.functions._
    import graft.functions._
    import spark.implicits._
    val srcDir = scratch("stream-lnk-src")
    val ckpt = scratch("stream-lnk-ckpt")
    val domRoot = scratch("stream-lnk-dom")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    def kvParquet(name: String, pairs: Seq[(String, String)]): Unit =
      pairs.toDF("k", "v")
        .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value"))
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/$name")
    val kvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.BinaryType)))
    val store = graft.store.DomainStore.create(
      domRoot, graft.core.DomainSpec(
        numShards = 8, persistenceFormat = graft.core.DomainSpec.KvSorted), conf)
    // linked streaming ingest, compacting every 3rd version
    def drain(): Unit = {
      val stream = spark.readStream.schema(kvSchema).parquet(s"$srcDir/*")
      val q = StreamingDomain.upsertStream(
        store, stream, baseVersion = 0L, queryName = "dom_lnk_stream_test",
        checkpointDir = ckpt, linked = true, compactEvery = 3)
      try q.awaitTermination() finally q.stop()
    }
    val big = (0 until 200).map(i => s"sk$i" -> s"v$i")
    kvParquet("d0", big) // v1: bootstrap full build (physical by definition)
    drain()
    kvParquet("d1", Seq("sk0" -> "a")) // v2: linked delta
    drain()
    kvParquet("d2", Seq("sk1" -> "b")) // v3: compaction slot -> copy-mode
    drain()
    kvParquet("d3", Seq("sk2" -> "c")) // v4: linked delta again
    drain()
    assert(store.latestVersion === 4L)
    val dfs = new org.apache.hadoop.fs.Path(domRoot).getFileSystem(conf)
    def links(v: Long) = graft.store.VersionedStore.readLinks(
      dfs, new org.apache.hadoop.fs.Path(domRoot, v.toString))
    assert(links(1L).isEmpty && links(3L).isEmpty,
      "bootstrap + compaction versions must be self-contained")
    assert(links(2L).nonEmpty && links(4L).nonEmpty,
      "delta versions must be manifest-linked")
    // v4's links point at the COMPACTED v3, never through it to v1/v2
    assert(links(4L).values.toSet === Set(3L))
    // content converges with the equivalent batch state
    val got = store.read(spark)
      .select(bytes_utf8(col("key")), bytes_utf8(col("value")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === (big.toMap ++ Map("sk0" -> "a", "sk1" -> "b", "sk2" -> "c")).toSet)
    // GC after the compaction: keep-1 retains v4 + its physical host v3,
    // releases v1/v2 (the compaction is what makes the chain collectible)
    store.versions.cleanup(1)
    assert(store.versions.getAllVersions === Seq(4L, 3L))
    assert(store.get(spark, "sk5".getBytes("UTF-8")).map(new String(_, "UTF-8")) === Some("v5"))
  }

  test("streaming takedown: per-batch delete versions; replayed/absent keys are no-ops") {
    import org.apache.spark.sql.functions._
    import graft.functions._
    import spark.implicits._
    val srcDir = scratch("stream-del-src")
    val ckpt = scratch("stream-del-ckpt")
    val domRoot = scratch("stream-del-dom")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val store = graft.store.DomainStore.create(
      domRoot, graft.core.DomainSpec(numShards = 4), conf)
    store.write(
      (0 until 50).map(i => s"k$i" -> s"v$i").toDF("k", "v")
        .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value")),
      1L)
    val keySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.BinaryType)))
    def keyParquet(name: String, ks: Seq[String]): Unit =
      ks.toDF("k").select(utf8_bytes(col("k")).as("key"))
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = {
      val stream = spark.readStream.schema(keySchema).parquet(s"$srcDir/*")
      val q = StreamingDomain.deleteStream(
        store, stream, baseVersion = 1L, queryName = "dom_del_stream_test", checkpointDir = ckpt)
      try q.awaitTermination() finally q.stop()
    }
    def pairs(): Set[String] = store.read(spark)
      .select(bytes_utf8(col("key"))).collect().map(_.getString(0)).toSet

    // takedown batch 0
    keyParquet("t0", Seq("k3", "k7"))
    drain()
    assert(store.latestVersion === 2L)
    assert(pairs() === (0 until 50).map(i => s"k$i").toSet -- Set("k3", "k7"))
    // takedown batch 1 (restart from checkpoint): absent key is a no-op
    keyParquet("t1", Seq("k7", "k11", "ghost"))
    drain()
    assert(store.latestVersion === 3L)
    assert(pairs() === (0 until 50).map(i => s"k$i").toSet -- Set("k3", "k7", "k11"))
    // prior snapshots remain readable (takedown publishes, never mutates)
    assert(store.readVersion(spark, 1L).count() === 50L)
    // no new files -> nothing published
    drain()
    assert(store.latestVersion === 3L)
  }

  test("streaming ANN ingest: per-batch index upserts converge to the from-scratch index") {
    import org.apache.spark.sql.functions._
    val srcDir = scratch("stream-ann-src")
    val ckpt = scratch("stream-ann-ckpt")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val all = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val centroids = graft.operators.Similarity.fixedCentroids(8, 64)
    val base = all.where(col("vec_id") % 4 === 0)
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    val index = graft.store.DomainStore.create(scratch("stream-ann-dom"), spec, conf)
    index.write(
      graft.operators.Similarity.ivfIndexKv(base, "vec_id", "embedding", centroids), 1L)

    def drain(): Unit = {
      val stream = spark.readStream.schema(all.schema).parquet(s"$srcDir/*")
      val q = StreamingAnn.ingestStream(
        index, stream, "vec_id", "embedding", centroids,
        baseVersion = 1L, checkpointDir = ckpt, queryName = "ann_stream_test")
      try q.awaitTermination() finally q.stop()
    }
    all.where(col("vec_id") % 4 === 1).coalesce(1).write.parquet(s"$srcDir/d0")
    drain()
    assert(index.latestVersion === 2L)
    all.where(col("vec_id") % 4 === 2).coalesce(1).write.parquet(s"$srcDir/d1")
    drain()
    assert(index.latestVersion === 3L)

    val full = graft.store.DomainStore.create(
      scratch("stream-ann-full"), spec, conf)
    full.write(
      graft.operators.Similarity.ivfIndexKv(
        all.where(col("vec_id") % 4 =!= 3), "vec_id", "embedding", centroids), 1L)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(pairs(index) === pairs(full))
    assert(pairs(index).nonEmpty)
  }

  test("streaming PQ-index ingest and band-index growth both converge to from-scratch builds") {
    import org.apache.spark.sql.functions._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet

    // PQ-coded ANN index
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val centroids = graft.operators.Similarity.fixedCentroids(8, 64)
    val books = graft.operators.Similarity.fixedPqCodebooks(8, 16, 8)
    val pqSrc = scratch("stream-pq-src")
    val fs = new org.apache.hadoop.fs.Path(pqSrc).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(pqSrc))
    val pqIndex = graft.store.DomainStore.create(scratch("stream-pq-dom"), spec, conf)
    pqIndex.write(graft.operators.Similarity.ivfPqIndexKv(
      emb.where(col("vec_id") % 3 === 0), "vec_id", "embedding", centroids, books), 1L)
    emb.where(col("vec_id") % 3 === 1).coalesce(1).write.parquet(s"$pqSrc/d0")
    val q1 = StreamingAnn.ingestStreamPq(
      pqIndex, spark.readStream.schema(emb.schema).parquet(s"$pqSrc/*"),
      "vec_id", "embedding", centroids, books,
      baseVersion = 1L, checkpointDir = scratch("stream-pq-ckpt"), queryName = "pq_ing")
    try q1.awaitTermination() finally q1.stop()
    val pqFull = graft.store.DomainStore.create(scratch("stream-pq-full"), spec, conf)
    pqFull.write(graft.operators.Similarity.ivfPqIndexKv(
      emb.where(col("vec_id") % 3 =!= 2), "vec_id", "embedding", centroids, books), 1L)
    assert(pairs(pqIndex) === pairs(pqFull) && pairs(pqIndex).nonEmpty)

    // band index growth
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val bandSrc = scratch("stream-band-src")
    fs.mkdirs(new org.apache.hadoop.fs.Path(bandSrc))
    val bandIndex = graft.store.DomainStore.create(scratch("stream-band-dom"), spec, conf)
    bandIndex.write(graft.operators.Dedup.bandIndexKv(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text"), 1L)
    docs.where(col("doc_id") % 3 === 1).coalesce(1).write.parquet(s"$bandSrc/d0")
    val q2 = StreamingDedup.growStream(
      graft.operators.Dedup.bandIndex("doc_id", "text"),
      bandIndex, spark.readStream.schema(docs.schema).parquet(s"$bandSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("stream-band-ckpt"), queryName = "band_grow")
    try q2.awaitTermination() finally q2.stop()
    val bandFull = graft.store.DomainStore.create(scratch("stream-band-full"), spec, conf)
    bandFull.write(graft.operators.Dedup.bandIndexKv(
      docs.where(col("doc_id") % 3 =!= 2), "doc_id", "text"), 1L)
    assert(pairs(bandIndex) === pairs(bandFull) && pairs(bandIndex).nonEmpty)

    // fingerprint index growth (the verbatim-overlap twin)
    val fpSrc = scratch("stream-fp-src")
    fs.mkdirs(new org.apache.hadoop.fs.Path(fpSrc))
    val fpIndex = graft.store.DomainStore.create(scratch("stream-fp-dom"), spec, conf)
    fpIndex.write(graft.operators.Dedup.fpIndexKv(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text"), 1L)
    docs.where(col("doc_id") % 3 === 1).coalesce(1).write.parquet(s"$fpSrc/d0")
    val qFp = StreamingDedup.growStream(
      graft.operators.Dedup.fpIndex("doc_id", "text"),
      fpIndex, spark.readStream.schema(docs.schema).parquet(s"$fpSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("stream-fp-ckpt"), queryName = "fp_grow")
    try qFp.awaitTermination() finally qFp.stop()
    val fpFull = graft.store.DomainStore.create(scratch("stream-fp-full"), spec, conf)
    fpFull.write(graft.operators.Dedup.fpIndexKv(
      docs.where(col("doc_id") % 3 =!= 2), "doc_id", "text"), 1L)
    assert(pairs(fpIndex) === pairs(fpFull) && pairs(fpIndex).nonEmpty)

    // image phash-band index growth (the image twin of the band index)
    def hashesOf(ids: org.apache.spark.sql.DataFrame) =
      graft.operators.Multimodal.imageHashes(
          spark, graft.operators.Multimodal.synthImageMedia(spark, ids)).toDF()
        .select(col("media_id"), col("phash"))
    val imgSrc = scratch("stream-img-src")
    fs.mkdirs(new org.apache.hadoop.fs.Path(imgSrc))
    val imgIndex = graft.store.DomainStore.create(scratch("stream-img-dom"), spec, conf)
    imgIndex.write(graft.operators.Multimodal.phashIndexKv(
      hashesOf(docs.where(col("doc_id") % 3 === 0).select(col("doc_id")))), 1L)
    hashesOf(docs.where(col("doc_id") % 3 === 1).select(col("doc_id")))
      .coalesce(1).write.parquet(s"$imgSrc/d0")
    val imgSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("phash", org.apache.spark.sql.types.LongType)))
    val q3 = StreamingDedup.growStream(
      graft.operators.Multimodal.phashIndex(),
      imgIndex, spark.readStream.schema(imgSchema).parquet(s"$imgSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("stream-img-ckpt"), queryName = "img_grow")
    try q3.awaitTermination() finally q3.stop()
    val imgFull = graft.store.DomainStore.create(scratch("stream-img-full"), spec, conf)
    imgFull.write(graft.operators.Multimodal.phashIndexKv(
      hashesOf(docs.where(col("doc_id") % 3 =!= 2).select(col("doc_id")))), 1L)
    assert(pairs(imgIndex) === pairs(imgFull) && pairs(imgIndex).nonEmpty)

    // semantic cell-index growth (the embedding twin)
    val semSrc = scratch("stream-sem-src")
    fs.mkdirs(new org.apache.hadoop.fs.Path(semSrc))
    val semIndex = graft.store.DomainStore.create(scratch("stream-sem-dom"), spec, conf)
    semIndex.write(graft.operators.Similarity.semIndexKv(
      emb.where(col("vec_id") % 3 === 0), "vec_id", "embedding", 4), 1L)
    emb.where(col("vec_id") % 3 === 1).coalesce(1).write.parquet(s"$semSrc/d0")
    val q4 = StreamingDedup.growStream(
      graft.operators.Similarity.semIndex("vec_id", "embedding", planes = 4),
      semIndex, spark.readStream.schema(emb.schema).parquet(s"$semSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("stream-sem-ckpt"), queryName = "sem_grow")
    try q4.awaitTermination() finally q4.stop()
    val semFull = graft.store.DomainStore.create(scratch("stream-sem-full"), spec, conf)
    semFull.write(graft.operators.Similarity.semIndexKv(
      emb.where(col("vec_id") % 3 =!= 2), "vec_id", "embedding", 4), 1L)
    assert(pairs(semIndex) === pairs(semFull) && pairs(semIndex).nonEmpty)
  }

  test("streaming index takedowns converge to rebuilds on survivors; certification clean") {
    import org.apache.spark.sql.functions._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val fsRoot = scratch("tk-root")
    val fs = new org.apache.hadoop.fs.Path(fsRoot).getFileSystem(conf)

    // band family, LINKED takedown feed; post-takedown certification clean
    val bandSrc = scratch("tk-band-src"); fs.mkdirs(new org.apache.hadoop.fs.Path(bandSrc))
    val band = graft.store.DomainStore.create(scratch("tk-band-dom"), spec, conf)
    band.write(graft.operators.Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    docs.where(col("doc_id") % 3 === 0).coalesce(1).write.parquet(s"$bandSrc/d0")
    val q1 = StreamingDedup.takedownStream(
      graft.operators.Dedup.bandIndex("doc_id", "text"),
      band, spark.readStream.schema(docs.schema).parquet(s"$bandSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("tk-band-ckpt"), queryName = "band_tk",
      linked = true)
    try q1.awaitTermination() finally q1.stop()
    val bandFull = graft.store.DomainStore.create(scratch("tk-band-full"), spec, conf)
    bandFull.write(graft.operators.Dedup.bandIndexKv(
      docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text"), 1L)
    assert(pairs(band) === pairs(bandFull) && pairs(band).nonEmpty)
    assert(graft.operators.Dedup.bandIndex("doc_id", "text").removalAudit(
      band, docs.where(col("doc_id") % 3 === 0)).isEmpty)
    // the documented version-line composition: a GROW feed picks up at
    // the takedown stream's head (baseVersion = latestVersion, its own
    // checkpoint) — sequential feeds share one version line and the
    // result is the rebuild on (survivors ∪ additions)
    val grow2Src = scratch("tk-band-grow-src")
    fs.mkdirs(new org.apache.hadoop.fs.Path(grow2Src))
    docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$grow2Src/d0")
    val qG = StreamingDedup.growStream(
      graft.operators.Dedup.bandIndex("doc_id", "text"),
      band, spark.readStream.schema(docs.schema).parquet(s"$grow2Src/*"),
      baseVersion = band.latestVersion,
      checkpointDir = scratch("tk-band-grow-ckpt"), queryName = "band_regrow",
      linked = true)
    try qG.awaitTermination() finally qG.stop()
    val bandFull2 = graft.store.DomainStore.create(scratch("tk-band-full2"), spec, conf)
    bandFull2.write(graft.operators.Dedup.bandIndexKv(
      docs.where(col("doc_id") % 3 =!= 0 ||
        (col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)), "doc_id", "text"), 1L)
    assert(pairs(band) === pairs(bandFull2))

    // fingerprint family (build geometry threaded through the stream)
    val fpSrc = scratch("tk-fp-src"); fs.mkdirs(new org.apache.hadoop.fs.Path(fpSrc))
    val fp = graft.store.DomainStore.create(scratch("tk-fp-dom"), spec, conf)
    fp.write(graft.operators.Dedup.fpIndexKv(docs, "doc_id", "text"), 1L)
    docs.where(col("doc_id") % 3 === 0).coalesce(1).write.parquet(s"$fpSrc/d0")
    val qFp = StreamingDedup.takedownStream(
      graft.operators.Dedup.fpIndex("doc_id", "text"),
      fp, spark.readStream.schema(docs.schema).parquet(s"$fpSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("tk-fp-ckpt"), queryName = "fp_tk")
    try qFp.awaitTermination() finally qFp.stop()
    val fpFull = graft.store.DomainStore.create(scratch("tk-fp-full"), spec, conf)
    fpFull.write(graft.operators.Dedup.fpIndexKv(
      docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text"), 1L)
    assert(pairs(fp) === pairs(fpFull) && pairs(fp).nonEmpty)

    // image family (removed hashes AS INDEXED)
    def hashesOf(ids: org.apache.spark.sql.DataFrame) =
      graft.operators.Multimodal.imageHashes(
          spark, graft.operators.Multimodal.synthImageMedia(spark, ids)).toDF()
        .select(col("media_id"), col("phash"))
    val imgSrc = scratch("tk-img-src"); fs.mkdirs(new org.apache.hadoop.fs.Path(imgSrc))
    val img = graft.store.DomainStore.create(scratch("tk-img-dom"), spec, conf)
    img.write(graft.operators.Multimodal.phashIndexKv(
      hashesOf(docs.select(col("doc_id")))), 1L)
    hashesOf(docs.where(col("doc_id") % 3 === 0).select(col("doc_id")))
      .coalesce(1).write.parquet(s"$imgSrc/d0")
    val imgSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("phash", org.apache.spark.sql.types.LongType)))
    val q3 = StreamingDedup.takedownStream(
      graft.operators.Multimodal.phashIndex(),
      img, spark.readStream.schema(imgSchema).parquet(s"$imgSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("tk-img-ckpt"), queryName = "img_tk")
    try q3.awaitTermination() finally q3.stop()
    val imgFull = graft.store.DomainStore.create(scratch("tk-img-full"), spec, conf)
    imgFull.write(graft.operators.Multimodal.phashIndexKv(
      hashesOf(docs.where(col("doc_id") % 3 =!= 0).select(col("doc_id")))), 1L)
    assert(pairs(img) === pairs(imgFull) && pairs(img).nonEmpty)
    assert(graft.operators.Multimodal.phashIndex().removalAudit(
      img, hashesOf(docs.where(col("doc_id") % 3 === 0).select(col("doc_id")))).isEmpty)

    // embedding cell family
    val semSrc = scratch("tk-sem-src"); fs.mkdirs(new org.apache.hadoop.fs.Path(semSrc))
    val sem = graft.store.DomainStore.create(scratch("tk-sem-dom"), spec, conf)
    sem.write(graft.operators.Similarity.semIndexKv(emb, "vec_id", "embedding", 4), 1L)
    emb.where(col("vec_id") % 3 === 0).coalesce(1).write.parquet(s"$semSrc/d0")
    val q4 = StreamingDedup.takedownStream(
      graft.operators.Similarity.semIndex("vec_id", "embedding", planes = 4),
      sem, spark.readStream.schema(emb.schema).parquet(s"$semSrc/*"),
      baseVersion = 1L, checkpointDir = scratch("tk-sem-ckpt"), queryName = "sem_tk")
    try q4.awaitTermination() finally q4.stop()
    val semFull = graft.store.DomainStore.create(scratch("tk-sem-full"), spec, conf)
    semFull.write(graft.operators.Similarity.semIndexKv(
      emb.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding", 4), 1L)
    assert(pairs(sem) === pairs(semFull) && pairs(sem).nonEmpty)

    // ANN posting lists (plain grammar; PQ shares the delete/audit path)
    val centroids = graft.operators.Similarity.fixedCentroids(8, 64)
    val annSrc = scratch("tk-ann-src"); fs.mkdirs(new org.apache.hadoop.fs.Path(annSrc))
    val ann = graft.store.DomainStore.create(
      scratch("tk-ann-dom"),
      spec.copy(indexType = graft.operators.Similarity.IvfIndexType), conf)
    ann.write(graft.operators.Similarity.ivfIndexKv(
      emb, "vec_id", "embedding", centroids), 1L)
    emb.where(col("vec_id") % 3 === 0).coalesce(1).write.parquet(s"$annSrc/d0")
    val q5 = StreamingAnn.takedownStream(
      ann, spark.readStream.schema(emb.schema).parquet(s"$annSrc/*"),
      "vec_id", "embedding", centroids,
      baseVersion = 1L, checkpointDir = scratch("tk-ann-ckpt"), queryName = "ann_tk")
    try q5.awaitTermination() finally q5.stop()
    val annFull = graft.store.DomainStore.create(
      scratch("tk-ann-full"),
      spec.copy(indexType = graft.operators.Similarity.IvfIndexType), conf)
    annFull.write(graft.operators.Similarity.ivfIndexKv(
      emb.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding", centroids), 1L)
    assert(pairs(ann) === pairs(annFull) && pairs(ann).nonEmpty)
    assert(graft.operators.Similarity.ivfIndexRemovalAudit(
      ann, emb.where(col("vec_id") % 3 === 0), "vec_id", "embedding", centroids).isEmpty)
  }

  test("streaming combined updater: adds + removes in ONE version per batch; unknown op loud") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select(col("doc_id"), col("text"))
    val band = graft.store.DomainStore.create(scratch("updstream-dom"), spec, conf)
    band.write(graft.operators.Dedup.bandIndexKv(docs, "doc_id", "text"), 1L)
    // one batch carrying BOTH the day's accepts and its removal requests
    val adds = Seq(
      (990101L, "a genuinely novel streaming added document text body"),
      (990102L, "another streaming added document with novel content"))
      .toDF("doc_id", "text")
    val src = scratch("updstream-src")
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(src))
    adds.withColumn("op", lit("add"))
      .unionByName(docs.where(col("doc_id") % 5 === 0).withColumn("op", lit("remove")))
      .coalesce(1).write.parquet(s"$src/d0")
    val opSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType)))
    val q = StreamingDedup.updaterIndexStream(
      band, spark.readStream.schema(opSchema).parquet(s"$src/*"),
      baseVersion = 1L, checkpointDir = scratch("updstream-ckpt"),
      queryName = "band_updater", linked = true)
    try q.awaitTermination() finally q.stop()
    assert(band.latestVersion === 2L, "adds and removes must share ONE version")
    val full = graft.store.DomainStore.create(scratch("updstream-full"), spec, conf)
    full.write(graft.operators.Dedup.bandIndexKv(
      docs.where(col("doc_id") % 5 =!= 0).unionByName(adds), "doc_id", "text"), 1L)
    assert(pairs(band) === pairs(full))
    // an unrecognized op fails the batch loud — a silently dropped
    // 'delete' misspelling would leave court-ordered removals published
    val badSrc = scratch("updstream-bad-src")
    fs.mkdirs(new org.apache.hadoop.fs.Path(badSrc))
    adds.withColumn("op", lit("delete")).coalesce(1).write.parquet(s"$badSrc/d0")
    val qBad = StreamingDedup.updaterIndexStream(
      band, spark.readStream.schema(opSchema).parquet(s"$badSrc/*"),
      baseVersion = band.latestVersion,
      checkpointDir = scratch("updstream-bad-ckpt"), queryName = "band_updater_bad")
    val eBad = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try qBad.awaitTermination() finally qBad.stop()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages(eBad).exists(_.contains("unknown op")), messages(eBad).mkString(" | "))
    assert(band.latestVersion === 2L, "a refused batch must publish nothing")
  }

  test("streaming search-index growth converges to the from-scratch build across batches") {
    import org.apache.spark.sql.functions._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSorted)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet

    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val srcDir = scratch("stream-search-src")
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val index = graft.store.DomainStore.create(scratch("stream-search-dom"), spec, conf)
    index.write(graft.operators.Search.invertedIndexKv(
      docs.where(col("doc_id") % 4 === 0), "doc_id", "text"), 1L)
    // two files -> two micro-batches: batch 2 merges postings batch 1 wrote
    docs.where(col("doc_id") % 4 === 1).coalesce(1).write.parquet(s"$srcDir/d0")
    docs.where(col("doc_id") % 4 === 2).coalesce(1).write.parquet(s"$srcDir/d1")
    val q = StreamingText.growSearchIndexStream(
      index,
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*"),
      baseVersion = 1L, checkpointDir = scratch("stream-search-ckpt"),
      queryName = "search_grow")
    try q.awaitTermination() finally q.stop()

    val full = graft.store.DomainStore.create(scratch("stream-search-full"), spec, conf)
    full.write(graft.operators.Search.invertedIndexKv(
      docs.where(col("doc_id") % 4 =!= 3), "doc_id", "text"), 1L)
    assert(pairs(index) === pairs(full) && pairs(index).nonEmpty)
  }

  test("streaming positional-index growth converges to the from-scratch build across batches") {
    import org.apache.spark.sql.functions._
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = graft.core.DomainSpec(
      numShards = 4, persistenceFormat = graft.core.DomainSpec.KvSortedZ)
    def pairs(st: graft.store.DomainStore) = st.read(spark)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet

    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val srcDir = scratch("stream-pos-src")
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val index = graft.store.DomainStore.create(scratch("stream-pos-dom"), spec, conf)
    index.write(graft.operators.Search.positionalIndexKv(
      docs.where(col("doc_id") % 4 === 0), "doc_id", "text"), 1L)
    docs.where(col("doc_id") % 4 === 1).coalesce(1).write.parquet(s"$srcDir/d0")
    docs.where(col("doc_id") % 4 === 2).coalesce(1).write.parquet(s"$srcDir/d1")
    val q = StreamingText.growPositionalIndexStream(
      index,
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*"),
      baseVersion = 1L, checkpointDir = scratch("stream-pos-ckpt"),
      queryName = "pos_grow")
    try q.awaitTermination() finally q.stop()

    val full = graft.store.DomainStore.create(scratch("stream-pos-full"), spec, conf)
    full.write(graft.operators.Search.positionalIndexKv(
      docs.where(col("doc_id") % 4 =!= 3), "doc_id", "text"), 1L)
    assert(pairs(index) === pairs(full) && pairs(index).nonEmpty)
    // the grown index answers phrase queries like the rebuilt one
    val qdf = { import spark.implicits._; Seq(0L -> "fast table").toDF("query_id", "phrase") }
    def top(st: graft.store.DomainStore) =
      graft.operators.Search.phraseSearch(st, qdf, 10).orderBy("rank")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_matches"))).toSeq
    assert(top(index) === top(full))
  }

  test("append-mode watermarked windows: every finalized window equals batch") {
    val src = sf("sf0.001/events.parquet")
    val dir = scratch("stream-append-src")
    val outDir = scratch("stream-append-out")
    val ckpt = scratch("stream-append-ckpt")
    // Two files in event-time order so the second batch's watermark
    // finalizes (and emits) windows filled by the first.
    stageTwoBatches(src, dir, scratch("stream-append-staging"))

    val batch = Events.windowAgg(spark.read.parquet(src), 5)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

    val q = StreamingEvents.windowAggAppendToFiles(
      spark, dir, 5, "0 seconds", outDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    val emitted = spark.read.parquet(outDir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
    assert(emitted.nonEmpty, "watermark should have finalized at least one window")
    emitted.foreach { case (k, v) =>
      assert(batch(k) === v, s"finalized window $k diverges from batch")
    }
  }

  test("streaming exact dedup == batch Dedup.exact (dedup-on-ingest)") {
    val src = sf("sf0.001/documents.parquet")
    val dir = scratch("stream-docs")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(src),
      fs, new org.apache.hadoop.fs.Path(s"$dir/docs-0.parquet"), false, conf)

    val batch = graft.operators.Dedup.exact(spark.read.parquet(src), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val q = StreamingEvents.exactDedupToMemory(spark, dir, "dedup_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming lmScore over a doc stream == batch (static model, multi-batch)") {
    import org.apache.spark.sql.functions._
    val src = sf("sf0.001/documents.parquet")
    val dir = scratch("stream-lmscore")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    // Two micro-batches (split by doc id parity) so scored docs span
    // batches while the static model side stays fixed.
    val staging = scratch("stream-lmscore-staging")
    val all = spark.read.parquet(src)
    all.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$staging/b0")
    all.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$staging/b1")
    def stage(from: String, to: String): Unit = {
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$from/part-*.parquet"))(0).getPath
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    }
    stage(s"$staging/b0", s"$dir/docs-0.parquet")
    stage(s"$staging/b1", s"$dir/docs-1.parquet")

    val train = all.where(col("doc_id") % 5 =!= 0)
    def normalize(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val batch = graft.operators.TextAnalysis
      .lmScore(all, train, "doc_id", "text", maxGrams = 1024)
      .collect().map(normalize).toSet

    val q = StreamingText.lmScoreToMemory(spark, dir, train, "lm_stream_test", maxGrams = 1024)
    try {
      q.processAllAvailable()
      val streamed = spark.table("lm_stream_test").collect().map(normalize).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming alphaMix over a doc stream == batch (static census, multi-batch)") {
    import org.apache.spark.sql.functions._
    val src = sf("sf0.001/documents.parquet")
    val dir = scratch("stream-alphamix")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val staging = scratch("stream-alphamix-staging")
    val all = spark.read.parquet(src)
    all.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$staging/b0")
    all.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$staging/b1")
    def stage(from: String, to: String): Unit = {
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$from/part-*.parquet"))(0).getPath
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    }
    stage(s"$staging/b0", s"$dir/docs-0.parquet")
    stage(s"$staging/b1", s"$dir/docs-1.parquet")

    val budget = 200L
    val batch = graft.operators.Sampling
      .alphaMix(all, "doc_id", "source", budgetRows = budget)
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch.nonEmpty, "budget must accept some rows for the pin to mean anything")

    val q = StreamingText.alphaMixToMemory(
      spark, dir, census = all, budgetRows = budget, queryName = "alphamix_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("alphamix_stream_test")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming dsirScore over a doc stream == batch (static fitted model, multi-batch)") {
    import org.apache.spark.sql.functions._
    val src = sf("sf0.001/documents.parquet")
    val dir = scratch("stream-dsir")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val staging = scratch("stream-dsir-staging")
    val all = spark.read.parquet(src)
    all.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$staging/b0")
    all.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$staging/b1")
    def stage(from: String, to: String): Unit = {
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$from/part-*.parquet"))(0).getPath
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    }
    stage(s"$staging/b0", s"$dir/docs-0.parquet")
    stage(s"$staging/b1", s"$dir/docs-1.parquet")

    // fit once on static frames (raw = full set, target = %9 slice);
    // materialize so the stream side joins a FIXED model, not a live plan
    val model = graft.operators.TextAnalysis
      .dsirModel(all.where(col("doc_id") % 9 =!= 0), all.where(col("doc_id") % 9 === 0), "text")
      .localCheckpoint(true)
    def normalize(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val batch = graft.operators.TextAnalysis
      .dsirScore(all, model, "doc_id", "text")
      .collect().map(normalize).toSet

    val q = StreamingText.dsirScoreToMemory(spark, dir, model, "dsir_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream_test").collect().map(normalize).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming featureHashEmbed over a doc stream == batch (multi-batch)") {
    import org.apache.spark.sql.functions._
    val src = sf("sf0.001/documents.parquet")
    val dir = scratch("stream-hashembed")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val staging = scratch("stream-hashembed-staging")
    val all = spark.read.parquet(src)
    all.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$staging/b0")
    all.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$staging/b1")
    def stage(from: String, to: String): Unit = {
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$from/part-*.parquet"))(0).getPath
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    }
    stage(s"$staging/b0", s"$dir/docs-0.parquet")
    stage(s"$staging/b1", s"$dir/docs-1.parquet")
    def normalize(r: Row) = (r.getLong(0), r.getInt(1), r.getLong(2))
    val batch = graft.operators.TextAnalysis
      .featureHashEmbed(all, "doc_id", "text", 32)
      .collect().map(normalize).toSet
    val q = StreamingText.hashEmbedToMemory(spark, dir, "hashembed_stream_test", dim = 32)
    try {
      q.processAllAvailable()
      val streamed = spark.table("hashembed_stream_test").collect().map(normalize).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup against a published band index == batch probe (multi-batch)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.core.DomainSpec
    import graft.operators.Dedup
    import graft.store.DomainStore
    // Seeded synthetic corpus with planted cross-parity duplicates: the
    // index is built from odd-ids, the delta (even ids) contains copies of
    // 8 corpus docs (guaranteed pairs) and 5 fresh docs (guaranteed none).
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc() = Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpusRows = (0 until 40).map(i => (i * 10L + 1, doc()))
    val deltaRows = corpusRows.take(8).zipWithIndex.map { case ((_, t), i) => (1000L + i * 10, t) } ++
      (0 until 5).map(i => (2000L + i * 10, doc()))
    val corpusDf = corpusRows.toDF("doc_id", "text")

    val conf = new org.apache.hadoop.conf.Configuration()
    val store = DomainStore.create(scratch("sdi-index"),
      DomainSpec(4, indexer = classOf[graft.store.BloomKeyIndexer].getName), conf)
    store.write(Dedup.bandIndexKv(corpusDf, "doc_id", "text"), 1L)

    // Two micro-batches of delta docs (split by id parity of /10).
    val dir = scratch("sdi-stream")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val (b0, b1) = deltaRows.partition(_._1 / 10 % 2 == 0)
    val (d0, d1) = (scratch("sdi-b0"), scratch("sdi-b1")) // scratch() deletes: call once
    b0.toDF("doc_id", "text").coalesce(1).write.parquet(d0)
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(d1)
    def stage(from: String, to: String): Unit = {
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$from/part-*.parquet"))(0).getPath
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    }
    stage(d0, s"$dir/docs-0.parquet")
    stage(d1, s"$dir/docs-1.parquet")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val outDir = scratch("sdi-out")
    val q = StreamingDedup.dedupAgainstIndexToFiles(
      store, stream, corpusDf, 0.8, outDir, scratch("sdi-ckpt"), "sdi_stream_test")
    try q.awaitTermination() finally q.stop()

    def normalize(r: Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = spark.read.parquet(outDir).collect().map(normalize).toSet
    val batch = Dedup.dedupAgainstIndex(
        store, deltaRows.toDF("doc_id", "text"), corpusDf, "doc_id", "text", 0.8)
      .collect().map(normalize).toSet
    assert(streamed === batch)
    // the 8 planted copies must all be found (jaccard 1 pairs)
    assert(batch.count(_._3 == 1.0) >= 8)
  }

  test("streaming image + semantic dedup probes == batch probes (multi-batch)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
    import graft.core.DomainSpec
    import graft.store.DomainStore
    val conf = new org.apache.hadoop.conf.Configuration()
    val spec = DomainSpec(4, indexer = classOf[graft.store.BloomKeyIndexer].getName)
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet")).select(col("doc_id"))
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("phash", org.apache.spark.sql.types.LongType)))

    // image: index odd doc-id images, stream the even ones in 2 batches
    def hashesOf(ids: org.apache.spark.sql.DataFrame) =
      graft.operators.Multimodal.imageHashes(
          spark, graft.operators.Multimodal.synthImageMedia(spark, ids)).toDF()
        .select(col("media_id"), col("phash"))
    val imgStore = DomainStore.create(scratch("simg-index"), spec, conf)
    imgStore.write(graft.operators.Multimodal.phashIndexKv(
      hashesOf(docs.where(col("doc_id") % 2 === 1))), 1L)
    val imgSrc = scratch("simg-src")
    hashesOf(docs.where(col("doc_id") % 4 === 0)).coalesce(1)
      .write.parquet(s"$imgSrc/b0")
    hashesOf(docs.where(col("doc_id") % 4 === 2)).coalesce(1)
      .write.parquet(s"$imgSrc/b1")
    val imgOut = scratch("simg-out")
    val q1 = StreamingDedup.imageDedupToFiles(
      imgStore,
      spark.readStream.schema(schema2).option("maxFilesPerTrigger", 1).parquet(s"$imgSrc/*"),
      maxHamming = 3, imgOut, scratch("simg-ckpt"), "simg_probe")
    try q1.awaitTermination() finally q1.stop()
    val imgStreamed = spark.read.parquet(imgOut)
      .select("delta_id", "corpus_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val imgBatch = graft.operators.Multimodal.phashDedupAgainstIndex(
        imgStore, hashesOf(docs.where(col("doc_id") % 2 === 0)), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(imgStreamed === imgBatch && imgBatch.nonEmpty)

    // semantic: same split over embeddings (planted clones guarantee pairs)
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.where(col("vec_id") % 2 === 1)
    val clones = corpus.orderBy(col("vec_id")).limit(4)
      .withColumn("vec_id", lit(1000000L) + monotonically_increasing_id() * 2)
    val delta = emb.where(col("vec_id") % 2 === 0).unionByName(clones)
    val semStore = DomainStore.create(scratch("ssem-index"), spec, conf)
    semStore.write(graft.operators.Similarity.semIndexKv(
      corpus, "vec_id", "embedding", 4), 1L)
    val semSrc = scratch("ssem-src")
    delta.where(col("vec_id") % 4 === 0).coalesce(1).write.parquet(s"$semSrc/b0")
    delta.where(col("vec_id") % 4 === 2).coalesce(1).write.parquet(s"$semSrc/b1")
    val semOut = scratch("ssem-out")
    val q2 = StreamingDedup.semDedupToFiles(
      semStore,
      spark.readStream.schema(delta.schema).option("maxFilesPerTrigger", 1).parquet(s"$semSrc/*"),
      corpus, "vec_id", "embedding", 0.3, 4,
      semOut, scratch("ssem-ckpt"), "ssem_probe")
    try q2.awaitTermination() finally q2.stop()
    val semStreamed = spark.read.parquet(semOut)
      .select("delta_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val semBatch = graft.operators.Similarity.semDedupAgainstIndex(
        semStore, delta, corpus, "vec_id", "embedding", 0.3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semStreamed === semBatch && semBatch.nonEmpty)
  }

  test("stateful streaming sessionization == batch sessionStats (multi-batch)") {
    val src = sf("sf0.001/events.parquet")
    val dir = scratch("stream-sessions")
    // Split into TWO files in event-time order so users span micro-batches:
    // exercises cross-batch state carry and the update-mode sink's
    // append-per-batch behavior (latestSessionStats must dedupe).
    stageTwoBatches(src, dir, scratch("stream-sessions-staging"))

    val batch = Events.sessionStats(spark.read.parquet(src), 30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val q = StreamingEvents.sessionStatsToMemory(spark, dir, 30, "sess_stream_test")
    try {
      q.processAllAvailable()
      val streamed = StreamingEvents.latestSessionStats(spark, "sess_stream_test")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming as-of enrichment == batch asOfJoin (multi-batch, cross-batch state)") {
    import org.apache.spark.sql.functions._
    val src = sf("sf0.001/events.parquet")
    val dir = scratch("stream-asof")
    // Two files in event-time order: purchases in batch 2 must match
    // clicks carried as state from batch 1.
    stageTwoBatches(src, dir, scratch("stream-asof-staging"))

    val ev = spark.read.parquet(src)
    val wTs = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts")).orderBy(col("click_id").desc)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      .withColumn("rn", row_number().over(wTs))
      .where(col("rn") === 1).drop("rn")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val batch = Events.asOfJoin(purchases, clicks, Seq("user_id"), "ts", Seq("click_id"))
      .select("event_id", "click_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    val q = StreamingEvents.asOfEnrichToMemory(
      spark, dir, "purchase", "click", "asof_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("asof_stream_test")
        .select("event_id", "ref_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      assert(streamed.valuesIterator.exists(_ >= 0L))
    } finally q.stop()
  }
}
