package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.DomainSpec
import graft.store.DomainStore

/** What a workload's timed calls need from the harness. */
final class Ctx(val spark: SparkSession, val rec: Record, val tracer: Tracer,
    val meter: Option[SparkMeter], heap: Heap, val data: java.nio.file.Path) {
  /** Samples are kept only while recording: the warm-up cycle runs the
    * same calls with recording off. */
  @volatile var recording = false

  /** Time `body` as one sample of metric `metric` (wall seconds) and of
    * `metric.cpu` (the process's CPU seconds outside the JIT compilers),
    * inside a span named `span`, and sample the live heap after it,
    * untimed. A traced run also adds the Spark jobs and tasks the call ran to
    * counters under the span's name. */
  def timed[A](metric: String, span: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val c0 = Cpu.workNs
    val (a, spark) = meter match {
      case Some(m) if recording => m.measure(tracer.span(span)(body))
      case _ => (tracer.span(span)(body), SparkTotals())
    }
    val s = (System.nanoTime() - t0) / 1e9
    val cpu = (Cpu.workNs - c0) / 1e9
    System.err.println(f"[perfbench] $span%s took $s%.3f s, cpu $cpu%.3f s${if (recording) "" else " (untimed)"}%s")
    if (recording) {
      rec.sample(metric, s)
      rec.sample(s"$metric.cpu", cpu)
      rec.sample(s"$span.seconds", s)
      // listener totals under both names: per-layer metrics read them by
      // span, and the publish/update ones by end-to-end metric
      Seq(metric, span).foreach { k =>
        rec.sample(s"$k.jobs", spark.jobs.toDouble)
        rec.sample(s"$k.tasks", spark.tasks.toDouble)
        rec.sample(s"$k.shuffle_write_mb", spark.shuffleWriteBytes / 1e6)
        rec.sample(s"$k.spill_mb", spark.spillBytes / 1e6)
        rec.sample(s"$k.records_read", spark.recordsRead.toDouble)
        rec.sample(s"$k.task_max_ms", spark.taskMsMax.toDouble)
        rec.sample(s"$k.task_mean_ms",
          if (spark.tasks == 0) 0.0 else spark.taskMsSum.toDouble / spark.tasks)
      }
      heap.sample()
    }
    a
  }
}

/** A request drawn for the serving loops, with its answer check. */
final case class Read(keys: IndexedSeq[Array[Byte]], ok: IndexedSeq[Option[Array[Byte]]] => Boolean)

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "serve_point" => new Workload(seed, records = 400000, DomainSpec.KvSorted, zipf = false)
    case "publish_swap" =>
      new Workload(seed, records = 100000, DomainSpec.KvSortedZ, zipf = true, dedupDocs = Some(1500))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (serve_point, publish_swap)")
  }

  val Shards = 32

  /** Versions 1 and 2 are the warm-up cycle's publish and patch. */
  val WarmUpVersions = 2L
  /** Records in the warm-up versions: the same for every workload, so
    * every workload's timed cycles start from the same compiled code. */
  val WarmUpRecords = 50000

  def isUpdate(version: Long): Boolean = version % 2 == 0

  def bloomIndexer: String = classOf[graft.store.BloomKeyIndexer].getName

  // Every full publish writes the records' epoch-1 values; every update
  // patches them with the epoch-2 upserts and deletes. Versions of the
  // same parity therefore hold the same records.
  val PublishEpoch = 1
  val PatchEpoch = 2
}

/** One workload: a kv domain of `records` keys with seeded values, the
  * Spark calls that publish, update and probe it, and the point reads
  * served from each version. Versions alternate: odd ones are full
  * publishes, even ones the patch of the version before. The warm-up
  * versions (1 and 2) hold only the first 50,000 records, so warming
  * every operation type costs less than a timed cycle of `serve_point`.
  * Reads draw records uniformly or by Zipf rank; 10% of single reads are
  * of absent keys. */
final class Workload(seed: Long, records: Int, format: String, zipf: Boolean,
    dedupDocs: Option[Int] = None) {
  import Workload._

  val spec: DomainSpec = DomainSpec(Shards, persistenceFormat = format, indexer = bloomIndexer)
  val batchKeys = 100
  private val zipfDist = if (zipf) Some(new Gen.Zipf(records, 0.99, seed)) else None
  private val partitions = 8

  /** Records in `version`'s key range. */
  def recordsAt(version: Long): Int = if (version <= WarmUpVersions) math.min(WarmUpRecords, records) else records

  /** Expected value of record `i` in `version`. */
  def expected(version: Long, i: Long): Option[Array[Byte]] =
    if (i < 0 || i >= recordsAt(version)) None
    else if (!isUpdate(version)) Some(Gen.value(seed, i, PublishEpoch))
    else if (Gen.isDeleted(seed, PatchEpoch, i)) None
    else Some(Gen.value(seed, i, if (Gen.isUpserted(seed, PatchEpoch, i)) PatchEpoch else PublishEpoch))

  /** The input frames for a domain of the first `n` records. */
  private final case class Frames(base: DataFrame, upserts: DataFrame, deletes: DataFrame, probeKeys: DataFrame) {
    def all: Seq[DataFrame] = Seq(base, upserts, deletes, probeKeys)
    lazy val probeRows: Long = probeKeys.count()
  }
  private var warm, full: Frames = _
  private def frames(version: Long): Frames = if (version <= WarmUpVersions) warm else full

  /** Generate every input frame once and keep it in memory for the run. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val s = seed
    def range(to: Long) = spark.sparkContext.range(0L, to, 1L, partitions)
    def make(n: Long) = Frames(
      range(n).map(i => (Gen.key(s, i), Gen.value(s, i, PublishEpoch))).toDF("key", "value"),
      range(n).filter(i => Gen.isUpserted(s, PatchEpoch, i))
        .map(i => (Gen.key(s, i), Gen.value(s, i, PatchEpoch))).toDF("key", "value"),
      range(n).filter(i => Gen.isDeleted(s, PatchEpoch, i)).map(i => Gen.key(s, i)).toDF("key"),
      // an eighth of the records, and a quarter as many absent keys
      range(n + n / 4)
        .filter(i => java.lang.Long.remainderUnsigned(Gen.hash(s, 0xBEEFL, i), 8) == 0)
        .map(i => (Gen.key(s, i), i)).toDF("key", "idx"))
    warm = make(recordsAt(1L))
    full = make(records)
    // one job fills every frame's cache
    val frames = Seq(warm, full).flatMap(_.all).map(_.persist(StorageLevel.MEMORY_ONLY))
    spark.sparkContext.union(frames.map(_.queryExecution.toRdd.map(_ => 1))).count()
    Seq(warm, full).foreach(_.probeRows)
    if (ctx.tracer.enabled) ctx.rec.set("update.delta_bytes",
      full.upserts.agg(sum(length(col("key")) + length(col("value")))).head().getLong(0).toDouble +
        full.deletes.agg(sum(length(col("key")))).head().getLong(0))
  }

  def publish(ctx: Ctx, store: DomainStore, version: Long): Unit =
    ctx.timed("publish_s", "publish.write")(store.write(frames(version).base, version))

  def update(ctx: Ctx, store: DomainStore, version: Long): Unit = {
    val f = frames(version)
    ctx.timed("update_s", "update.patch")(store.patch(ctx.spark, Some(f.upserts), Some(f.deletes), version))
  }

  /** Spark-side enrichment: the probe keys joined onto `version`, the
    * latest, and collected; every row is checked. */
  def probe(ctx: Ctx, store: DomainStore, version: Long): Unit = {
    val f = frames(version)
    val rows = ctx.timed("probe_s", "lookup_join.collect")(store.lookupJoin(f.probeKeys).collect())
    val bad = rows.count { r =>
      !Answers.same(expected(version, r.getAs[Long]("idx")), Option(r.getAs[Array[Byte]]("value")))
    }
    ctx.rec.check(bad == 0 && rows.length == f.probeRows,
      s"lookupJoin at v$version: $bad wrong of ${rows.length} rows (expected ${f.probeRows})")
    if (ctx.recording) ctx.rec.add("lookup_join.hits", rows.count(r => r.getAs[Array[Byte]]("value") != null).toDouble)
  }

  /** Release the inputs before Spark stops. */
  def beforeServing(): Unit = Seq(warm, full).flatMap(_.all).foreach(_.unpersist(blocking = true))

  /** A record of `version`: by Zipf rank, or uniformly (always for the
    * warm-up versions). */
  private def draw(rnd: SplittableRandom, version: Long): Long = zipfDist match {
    case Some(z) if version > WarmUpVersions => z.record(rnd.nextDouble())
    case _ => rnd.nextLong(recordsAt(version).toLong)
  }

  def drawGet(rnd: SplittableRandom, version: Long): Read = {
    val n = recordsAt(version).toLong
    val i = if (rnd.nextInt(10) == 0) n + rnd.nextLong(n) else draw(rnd, version)
    val want = expected(version, i)
    Read(IndexedSeq(Gen.key(seed, i)), got => Answers.same(want, got.head))
  }

  def drawBatch(rnd: SplittableRandom, version: Long): Read = {
    val idx = IndexedSeq.fill(batchKeys)(draw(rnd, version))
    Read(idx.map(Gen.key(seed, _)), got =>
      got.length == idx.length && idx.indices.forall(j => Answers.same(expected(version, idx(j)), got(j))))
  }

  def presentKey(rnd: SplittableRandom, version: Long): Array[Byte] = {
    var i = rnd.nextLong(records.toLong)
    while (expected(version, i).isEmpty) i = rnd.nextLong(records.toLong)
    Gen.key(seed, i)
  }

  def absentKey(rnd: SplittableRandom): Array[Byte] = Gen.key(seed, records + rnd.nextLong(records.toLong))

  def userBytes(version: Long): Long =
    (0L until records).iterator.flatMap(i => expected(version, i).map(_.length + 16L)).sum

  /** The traced run's extra Spark calls: the dedup layer, on its own index. */
  def traceLayers(ctx: Ctx): Unit =
    dedupDocs.foreach(n => new DedupLayer(seed, n).run(ctx))
}
