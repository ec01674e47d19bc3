package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{DomainSpec, Sessions}
import graft.store.{DomainStore, KvDomainReader, KvServer, KvzBlockCache, RemoteKvReader}

/**
 * Serving-latency micro-bench: [[RemoteKvReader.multiGet]] over the
 * loopback socket protocol against both servable engines — the number a
 * serving deployment is sized by (the reference's entire purpose is this
 * lookup path; `graft.Bench` only times the Spark build/query side).
 *
 * Protocol per (format × batch size 1/100/10k):
 *  - COLD: one timed batch on a freshly-opened reader+connection (pays
 *    TCP setup, shard-index loads, page-cache-cold file reads);
 *  - WARM: rounds of seeded-random batches until ≥2 s of wall clock,
 *    reported as keys/s and ms/batch (median across rounds), plus the
 *    server's MULTI_GET service-time p50/p99/p999 over those rounds
 *    (upper bounds of its log2 histogram buckets, [[KvServer.quantileNs]])
 *    and the kvz block cache's hit rate over them (null when no block
 *    was loaded: kv-sorted shards never touch the cache).
 *
 * The domain builds once into `target/serve-bench/<fmt>` (Spark job,
 * idempotent — a rerun reuses the published version) and serving is
 * measured Spark-free, exactly as a serving box runs.
 *
 * Usage: `runMain graft.ServeBench [numKeys] [valueLen]` (defaults
 * 1,000,000 × 64 B). Results print as a table plus one JSON line, and
 * land in `target/serve-bench.json`.
 */
object ServeBench {

  private val Shards = 16

  private def key(i: Long): Array[Byte] = f"k$i%09d".getBytes("UTF-8")

  private def buildDomain(
      spark: SparkSession, root: String, fmt: String,
      numKeys: Long, valueLen: Int, conf: Configuration): DomainStore = {
    val existing =
      try {
        val st = DomainStore.open(root, conf)
        if (st.versions.mostRecentVersion.contains(1L)) Some(st) else None
      } catch { case _: Exception => None }
    existing.getOrElse {
      val st = DomainStore.create(root, DomainSpec(Shards, persistenceFormat = fmt), conf)
      val df = spark.range(numKeys).select(
        // the bench key MUST round-trip through ServeBench.key: format it
        // the same way here so lookups hit
        encode(format_string("k%09d", col("id")), "UTF-8").as("key"),
        encode(concat(format_string("v%09d-", col("id")),
          lpad(lit(""), valueLen - 11, "x")), "UTF-8").as("value"))
      st.write(df, 1L)
      st
    }
  }

  private final case class Res(
      fmt: String, batch: Int, coldMs: Double, warmMsPerBatch: Double, keysPerSec: Long,
      serverUs: Seq[Double], hitRate: Option[Double])

  private def cacheCounts(): (Long, Long) = {
    val m = KvzBlockCache.Shared.metrics.toMap
    (m("kvz_block_cache.hits"), m("kvz_block_cache.misses"))
  }

  private def timeBatches(
      remote: RemoteKvReader, rnd: scala.util.Random, numKeys: Long, batch: Int): Double = {
    // one timed round = one multiGet of `batch` seeded-random keys
    val keys = IndexedSeq.fill(batch)(key(rnd.nextLong(numKeys)))
    val t0 = System.nanoTime()
    val got = remote.multiGet(keys)
    val dt = (System.nanoTime() - t0) / 1e6
    require(got.forall(_.isDefined), "bench key missed — key formatting drifted")
    dt
  }

  def main(args: Array[String]): Unit = {
    val numKeys = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val valueLen = args.lift(1).map(_.toInt).getOrElse(64)
    val conf = new Configuration()
    val spark = Sessions.builder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = Seq(DomainSpec.KvSorted, DomainSpec.KvSortedZ).flatMap { fmt =>
      // the root carries the parameters: a rerun at a different size must
      // build its own domain, not reuse (and miss against) the old one
      val root = s"/root/repo/target/serve-bench/$fmt-$numKeys-$valueLen"
      buildDomain(spark, root, fmt, numKeys, valueLen, conf)
      Seq(1, 100, 10000).map { batch =>
        // fresh server + reader + connection per cell: COLD is honest
        val local = KvDomainReader.open(root, conf)
        val server = new KvServer(Map("bench" -> local))
        val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "bench")
        try {
          val rnd = new scala.util.Random(42L + batch)
          val cold = timeBatches(remote, rnd, numKeys, batch)
          // settle: a couple of unmeasured rounds after the cold one
          (1 to 2).foreach(_ => timeBatches(remote, rnd, numKeys, batch))
          val lat0 = server.latencyCounts("multi_get")
          val (hits0, misses0) = cacheCounts()
          val times = scala.collection.mutable.ArrayBuffer.empty[Double]
          val until = System.nanoTime() + 2e9.toLong
          while (System.nanoTime() < until || times.size < 5)
            times += timeBatches(remote, rnd, numKeys, batch)
          val sorted = times.sorted
          val median = sorted(sorted.size / 2)
          val lat = server.latencyCounts("multi_get").zip(lat0).map { case (a, b) => a - b }
          val (hits1, misses1) = cacheCounts()
          val loads = (hits1 - hits0) + (misses1 - misses0)
          Res(fmt, batch, cold, median, (batch / (median / 1e3)).toLong,
            Seq(0.5, 0.99, 0.999).map(q => KvServer.quantileNs(lat, q) / 1e3),
            if (loads == 0) None else Some((hits1 - hits0).toDouble / loads))
        } finally {
          remote.close(); server.close(); local.close()
        }
      }
    }

    println(f"${"format"}%-12s ${"batch"}%7s ${"cold ms"}%9s ${"warm ms/batch"}%14s ${"keys/s"}%10s" +
      f" ${"p50 us"}%9s ${"p99 us"}%9s ${"p999 us"}%9s ${"hit rate"}%9s")
    results.foreach { r =>
      println(f"${r.fmt}%-12s ${r.batch}%7d ${r.coldMs}%9.2f ${r.warmMsPerBatch}%14.3f ${r.keysPerSec}%10d" +
        f" ${r.serverUs(0)}%9.1f ${r.serverUs(1)}%9.1f ${r.serverUs(2)}%9.1f" +
        f" ${r.hitRate.fold("-")(h => f"$h%.4f")}%9s")
    }
    val json = results.map(r =>
      s"""{"fmt":"${r.fmt}","batch":${r.batch},"cold_ms":${f"${r.coldMs}%.2f"},""" +
      s""""warm_ms_per_batch":${f"${r.warmMsPerBatch}%.3f"},"keys_per_sec":${r.keysPerSec},""" +
      s""""p50_us":${f"${r.serverUs(0)}%.1f"},"p99_us":${f"${r.serverUs(1)}%.1f"},""" +
      s""""p999_us":${f"${r.serverUs(2)}%.1f"},""" +
      s""""block_cache_hit_rate":${r.hitRate.fold("null")(h => f"$h%.4f")}}""")
      .mkString("[", ",", "]")
    val out = s"""{"bench":"serve","num_keys":$numKeys,"value_len":$valueLen,"cells":$json}"""
    println(out)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/root/repo/target/serve-bench.json"),
      out.getBytes("UTF-8"))
    spark.stop()
  }
}
