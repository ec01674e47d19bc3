package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.DomainSpec
import graft.operators.Dedup
import graft.store.DomainStore

/** The dedup layer as a traced run measures it: a MinHash band index over a
  * seeded word corpus with planted near-duplicates. It builds the index
  * (`bandIndexKv` + `write`), probes a delta of a tenth of the corpus
  * against it (`dedupAgainstIndex`) and adds the delta (`bandIndexUpsert`),
  * once untimed and once timed; then it times the build's and the probe's
  * stages one by one, each on materialized input. Every probe must return
  * every planted pair whose exact Jaccard, computed here, reaches the
  * threshold, and nothing below it. */
final class DedupLayer(seed: Long, docs: Int) {

  val Threshold = 0.8
  private val spec = DomainSpec(8, persistenceFormat = DomainSpec.KvSorted,
    indexer = Workload.bloomIndexer, indexType = Dedup.BandIndexType,
    capSemantics = DomainSpec.CapTombstoneV1)

  private val (corpusDocs, deltaDocs, planted) = Gen.corpus(seed, docs, vocab = 20000)
  private def doc(id: Long): Gen.Doc =
    if (id < docs) corpusDocs(id.toInt) else deltaDocs((id - docs).toInt)
  private val shingleSets = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
  private def exactJaccard(a: Long, b: Long): Double = {
    def sh(id: Long) = shingleSets.computeIfAbsent(id, i => Gen.shingles(doc(i).tokens))
    Gen.jaccard(sh(a), sh(b))
  }
  /** The planted pairs a probe must find. */
  val required: Set[(Long, Long)] =
    planted.filter { case (d, c) => exactJaccard(d, c) >= Threshold }.toSet

  private def frame(spark: SparkSession, ds: IndexedSeq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, d.text)).toDF("id", "text").repartition(4)
      .persist(StorageLevel.MEMORY_ONLY)
  }

  /** Check a probe's (delta_id, corpus_id, jaccard) rows. */
  def check(rec: Record, rows: Seq[(Long, Long, Double)]): Unit = {
    val found = rows.map { case (d, c, j) => (d, c) -> j }.toMap
    val missing = required -- found.keySet
    val wrong = found.filter { case ((d, c), j) =>
      val exact = exactJaccard(d, c)
      exact < Threshold || math.abs(exact - j) > 1e-9
    }
    rec.check(missing.isEmpty && wrong.isEmpty,
      s"dedupAgainstIndex: ${missing.size} planted pairs missing (e.g. ${missing.take(3)}), " +
        s"${wrong.size} wrong (e.g. ${wrong.take(3)})")
  }

  def run(ctx: Ctx): Unit = {
    require(required.nonEmpty, "no planted pair reaches the threshold")
    val spark = ctx.spark
    val corpus = frame(spark, corpusDocs)
    val delta = frame(spark, deltaDocs)
    corpus.count(); delta.count()
    val store = DomainStore.create(ctx.data.resolve("dedup-index").toString, spec, new Configuration())
    val recording = ctx.recording
    Seq(false, true).zipWithIndex.foreach { case (timed, k) =>
      ctx.recording = timed
      val v = 2L * k + 1
      ctx.timed("dedup.build_s", "dedup.build")(
        store.write(Dedup.bandIndexKv(corpus, "id", "text"), v))
      val rows = ctx.timed("dedup.probe_s", "dedup.probe")(
        Dedup.dedupAgainstIndex(store, delta, corpus, "id", "text", Threshold).collect())
      check(ctx.rec, rows.toSeq.map(r =>
        (r.getAs[Long]("delta_id"), r.getAs[Long]("corpus_id"), r.getAs[Double]("jaccard"))))
      ctx.timed("dedup.upsert_s", "dedup.upsert")(
        Dedup.bandIndexUpsert(store, delta, "id", "text", v + 1))
    }
    stages(ctx, store, corpus, delta)
    ctx.recording = recording
    Seq(corpus, delta).foreach(_.unpersist(blocking = true))
  }

  /** The build's and the probe's stages, each timed on materialized input. */
  private def stages(ctx: Ctx, store: DomainStore, corpus: DataFrame, delta: DataFrame): Unit = {
    import graft.functions.{bytes_utf8, composite_key, int_be, long_be}
    def timed(span: String)(df: => DataFrame): DataFrame =
      ctx.timed(s"$span.stage_s", span) {
        val out = df.persist(StorageLevel.MEMORY_ONLY)
        out.count()
        out
      }
    val sh = timed("dedup.shingles")(Dedup.wordShingles(corpus, "id", "text"))
    val sigs = timed("dedup.signatures")(Dedup.minHashSignatures(sh))
    val bands = timed("dedup.bands")(Dedup.lshBands(sigs))
    val index = timed("dedup.index_frame")(Dedup.bandIndexKv(corpus, "id", "text"))
    ctx.timed("dedup.index_write_s", "dedup.index_write")(store.write(index, store.latestVersion + 1))
    val probeKeys = timed("dedup.probe_keys")(
      Dedup.lshBands(Dedup.minHashSignatures(Dedup.wordShingles(delta, "id", "text")))
        .select(col("id"), composite_key(int_be(col("band")), long_be(col("band_hash"))).as("key")))
    val hits = timed("dedup.lookup")(store.multiGet(probeKeys.select(col("key")), includeMisses = false))
    val cand = probeKeys.join(hits, "key")
      .select(col("id").as("id_a"), explode(split(bytes_utf8(col("value")), ",")).as("cid"))
      .select(col("id_a"), col("cid").cast("long").as("id_b")).distinct()
      .persist(StorageLevel.MEMORY_ONLY)
    val nCand = cand.count()
    val allSh = sh.unionByName(Dedup.wordShingles(delta, "id", "text")).persist(StorageLevel.MEMORY_ONLY)
    allSh.count()
    val pairs = timed("dedup.verify")(Dedup.exactJaccardOfCandidates(allSh, cand, Threshold))
    ctx.rec.set("dedup.pairs_per_candidate", if (nCand == 0) 0.0 else pairs.count().toDouble / nCand)
    Seq(sh, sigs, bands, index, probeKeys, hits, cand, allSh, pairs).foreach(_.unpersist(blocking = true))
  }
}
