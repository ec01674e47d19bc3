package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration

import graft.core.Sessions
import graft.store.DomainStore

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir>`. Prints the metrics as one JSON line last. */
object Main {

  /** Timed publish/probe/update cycles after the untimed warm-up cycle. */
  val Cycles = 2
  /** Closed-loop client threads. */
  val Clients = 2
  /** Requests per client in one read slice: a slice is a fixed amount of
    * work, so its CPU time does not depend on how fast the machine runs. */
  val GetsPerSlice = 150
  val BatchesPerSlice = 8
  /** Untimed slices that warm the read path before the first timed roll. */
  val WarmUpSlices = 4
  /** Timed read slices per second of `--seconds`, over all timed rolls. */
  val SlicesPerSecond = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val run = new Run(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("data")))
    val line = run.execute()
    println(line)
    System.out.flush()
    // Spark and the socket servers leave non-daemon threads behind
    Runtime.getRuntime.halt(0)
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean, data: Path) {
  import Main._

  private val rec = new Record
  private val tracer = new Tracer(trace)
  private val conf = new Configuration()
  private val w = Workload(workload, seed)
  private val lastVersion = 2L * Cycles + 2
  /** The versions the timed rolls serve: the last publish and its patch. */
  private val rolled = Seq(lastVersion - 1, lastVersion)
  /** The full-size publish the serving warm-up starts from; the warm-up
    * rolls to its patch. */
  private val warmVersion = lastVersion - 3
  private val heap = new Heap
  private val out = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Wall clock in seconds, comparable with the JVM's start time. */
  private def now: Double = System.currentTimeMillis() / 1e3
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
  private def log(msg: String): Unit = System.err.println(f"[perfbench] +${now - jvmStart}%.1fs $msg")

  private def du(p: org.apache.hadoop.fs.Path): Long =
    p.getFileSystem(conf).getContentSummary(p).getLength

  private def med(name: String): Double = {
    val xs = rec.samplesOf(name)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** The lowest sample: the earlier timed cycles still run code that the
    * JIT compilers have not finished with. */
  private def low(name: String): Double = rec.samplesOf(name).minOption.getOrElse(0.0)

  def execute(): String = {
    deleteTree(data)
    Files.createDirectories(data)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", data.resolve("spark-local").toString)
      // the inputs are cached as they are generated, uncompressed
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = if (trace) Some(new SparkMeter(spark)) else None
    val ctx = new Ctx(spark, rec, tracer, meter, heap, data)
    val store = DomainStore.create(data.resolve("store").toString, w.spec, conf)

    // ---- Spark phase: publish, probe and update, as repeated cycles ----
    log("spark up")
    w.prepare(ctx)
    log("inputs ready")
    def cycle(v: Long): Unit = tracer.span("bench.cycle") {
      w.publish(ctx, store, v)
      w.probe(ctx, store, v)
      w.update(ctx, store, v + 1)
    }
    cycle(1L) // warm-up: every Spark operation type once, untimed
    log("warm-up cycle done")
    val sparkSetup = now - jvmStart
    ctx.recording = true
    (1 to Cycles).foreach { k => cycle(2L * k + 1); log(s"cycle $k done") }
    ctx.recording = false

    def versionDir(v: Long) = new org.apache.hadoop.fs.Path(store.root, v.toString)
    rec.set("space_amp", du(versionDir(lastVersion)).toDouble / w.userBytes(lastVersion))
    if (trace) {
      val pub = lastVersion - 1
      rec.set("publish.write_amp", du(versionDir(pub)).toDouble / w.userBytes(pub))
      rec.set("update.write_amp", du(versionDir(lastVersion)) / rec.value("update.delta_bytes"))
      w.traceLayers(ctx)
    }
    w.beforeServing()
    meter.foreach(_.close())
    spark.stop()
    log("spark stopped")

    // ---- serving phase: no SparkSession; roll each version, then read it ----
    val t1 = now
    val ring = new Ring(store, new org.apache.hadoop.fs.Path(data.resolve("hosts").toString), warmVersion, conf, tracer)
    try {
      // an untimed roll and reads of a full-size version warm every
      // serving path the timed rolls take
      ring.swap(warmVersion + 1)
      checkServed(ring, warmVersion + 1)
      readSlices(ring, warmVersion + 1, WarmUpSlices, record = false)
      heap.sample()
      val setup = sparkSetup + (now - t1)
      log("serving warm")
      val failovers0 = ring.failovers
      val slicesPerRoll = math.max(2, seconds * SlicesPerSecond / rolled.size).round.toInt
      rolled.foreach { v =>
        Cpu.settle()
        val t0 = System.nanoTime()
        val c0 = Cpu.workNs
        val (moved, reused) = tracer.span("swap.roll")(ring.swap(v))
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (Cpu.workNs - c0) / 1e9
        rec.sample("swap_s", wall)
        rec.sample("swap_s.cpu", cpu)
        log(f"swap to v$v took $wall%.3f s, cpu $cpu%.3f s")
        rec.sample("swap.shards_transferred", moved)
        rec.sample("swap.shards_reused", reused)
        if (Workload.isUpdate(v)) rec.sample("update.shards_rewritten", moved / ring.hosts.size.toDouble)
        checkServed(ring, v)
        // keep the served version and every version still to roll
        store.versions.cleanup((lastVersion - v + 1).toInt)
        // the new version's readers open their shards and fill their
        // caches in an untimed slice of batches
        batchSlice(ring, v)
        Cpu.settle()
        readSlices(ring, v, slicesPerRoll, record = true)
      }
      log("reads done")
      heap.sample()
      rec.set("ring.failovers", (ring.failovers - failovers0).toDouble)
      tailMetric("serve.get", 99, getLat.toSeq)
      tailMetric("serve.multiget", 90, batchLat.toSeq)
      if (trace) traceServing(ring)
      report(setup)
    } finally ring.close()
  }

  private def checkServed(ring: Ring, v: Long): Unit = {
    val served = ring.servedVersions
    rec.check(served.forall(_ == v), s"after rolling v$v the hosts serve ${served.mkString(", ")}")
  }

  /** Tail latency at percentile `p`, with its sample count; 0 when fewer
    * than ten samples lie beyond it. */
  private def tailMetric(prefix: String, p: Double, lat: Seq[Long]): Unit = {
    rec.set(s"$prefix.samples", lat.size.toDouble)
    rec.set(f"${prefix}_p$p%.0f_ms", Stats.tail(lat.map(_.toDouble), p).fold(0.0)(_ / 1e6))
  }

  private val getLat = mutable.ArrayBuffer.empty[Long]
  private val batchLat = mutable.ArrayBuffer.empty[Long]
  private var slices = 0L

  /** `n` slices of closed-loop reads of version `v`, each a slice of
    * single gets and then a slice of multiGet batches, so both kinds
    * sample the whole phase. Every answer is checked; with `record`, each
    * slice is one sample of the serving metrics. */
  private def readSlices(ring: Ring, v: Long, n: Int, record: Boolean): Unit =
    (1 to n).foreach { _ =>
      val gets = getSlice(ring, v, tracer.enabled)
      val frames0 = ring.serverCounter("multi_get.requests")
      val batches = batchSlice(ring, v)
      val keysPerS = batches.perSecond * w.batchKeys
      val cpuPerKey = batches.cpuUsPerOp / w.batchKeys
      log(f"v$v gets ${gets.perSecond}%.0f/s ${gets.cpuUsPerOp}%.1f cpu us/op, " +
        f"batches $keysPerS%.0f keys/s $cpuPerKey%.2f cpu us/key${if (record) "" else " (untimed)"}")
      if (record) {
        rec.sample("get_ops_per_s", gets.perSecond)
        rec.sample("get_p50_ms", gets.p50Ms)
        rec.sample("get_cpu_us", gets.cpuUsPerOp)
        rec.sample("multiget_keys_per_s", keysPerS)
        rec.sample("multiget_p50_ms", batches.p50Ms)
        rec.sample("multiget_cpu_us_per_key", cpuPerKey)
        rec.sample("wire.frames_per_multiget",
          (ring.serverCounter("multi_get.requests") - frames0).toDouble / batches.ops)
        getLat ++= gets.latenciesNs
        batchLat ++= batches.latenciesNs
      }
    }

  /** One slice of closed-loop multiGet batches against version `v`. */
  private def batchSlice(ring: Ring, v: Long): ClosedLoop.Result = {
    slices += 1
    tracer.span("bench.read")(ClosedLoop.run(Clients, BatchesPerSlice, Gen.hash(seed, v, 2 * slices)) { rnd =>
      val r = w.drawBatch(rnd, v)
      val t0 = System.nanoTime()
      val got = try Some(tracer.span("ring.multiget")(ring.client.multiGet(r.keys))) catch {
        case e: Exception => rec.fail(s"multiGet at v$v", e); None
      }
      val dt = System.nanoTime() - t0
      got.foreach(g => rec.check(r.ok(g), s"multiGet of ${r.keys.size} keys at v$v"))
      dt
    })
  }

  /** One slice of closed-loop single gets against version `v`; 10% of
    * the keys are absent. */
  private def getSlice(ring: Ring, v: Long, traced: Boolean): ClosedLoop.Result = {
    slices += 1
    val was = tracer.enabled
    tracer.enabled = traced
    try tracer.span("bench.read")(ClosedLoop.run(Clients, GetsPerSlice, Gen.hash(seed, v, 2 * slices + 1)) { rnd =>
      val r = w.drawGet(rnd, v)
      val t0 = System.nanoTime()
      val got = try Some(tracer.span("ring.get")(ring.client.get(r.keys.head))) catch {
        case e: Exception => rec.fail(s"get at v$v", e); None
      }
      val dt = System.nanoTime() - t0
      got.foreach(g => rec.check(r.ok(IndexedSeq(g)), s"get at v$v: got ${Answers.show(g)}"))
      dt
    })
    finally tracer.enabled = was
  }

  /** The traced run's per-layer serving probes, one thread at a time:
    * the same keys through host h0's reader in-process, through its
    * socket stub, and through the ring. */
  private def traceServing(ring: Ring): Unit = {
    val v = lastVersion
    val rnd = new SplittableRandom(Gen.hash(seed, 0xABCL, 0))
    val n = 1000
    val present = Array.fill(n)(w.presentKey(rnd, v))
    val absent = Array.fill(n)(w.absentKey(rnd))
    val batches = Array.fill(100)(w.drawBatch(rnd, v))
    // the serving phases warmed every path these call
    def medianUs(keys: Array[Array[Byte]], span: String)(f: Array[Byte] => Any): Double =
      Stats.median(keys.toSeq.map { k =>
        val t0 = System.nanoTime(); tracer.span(span)(f(k)); (System.nanoTime() - t0) / 1e3
      })
    val reader = ring.readers("h0")
    val io0 = procIo()
    present.foreach(reader.get)
    val io1 = procIo()
    rec.set("reader.syscr_per_get", (io1("syscr") - io0("syscr")).toDouble / n)
    rec.set("reader.rchar_per_get", (io1("rchar") - io0("rchar")).toDouble / n)
    val readerUs = medianUs(present, "reader.get")(reader.get)
    rec.set("reader.get_us", readerUs)
    rec.set("reader.get_miss_us", medianUs(absent, "reader.get")(reader.get))
    rec.set("reader.multiget_us_per_key", Stats.median(batches.toSeq.map { b =>
      val t0 = System.nanoTime(); tracer.span("reader.multiget")(reader.multiGet(b.keys))
      (System.nanoTime() - t0) / 1e3 / b.keys.size
    }))
    val wireUs = medianUs(present, "wire.get")(ring.stubs("h0").get)
    rec.set("wire.get_overhead_us", wireUs - readerUs)
    rec.set("ring.get_overhead_us", medianUs(present, "ring.get")(ring.client.get) - wireUs)
    // tracing cost: get slices with spans off, alternating with traced ones
    val pairs = (1 to 3).map(_ => (getSlice(ring, v, traced = false).perSecond, getSlice(ring, v, traced = true).perSecond))
    rec.set("trace.get_overhead_pct", (Stats.median(pairs.map(_._1)) / Stats.median(pairs.map(_._2)) - 1) * 100)
  }

  private def procIo(): Map[String, Long] =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala.flatMap { l =>
      l.split(":\\s*") match { case Array(k, x) => Some(k -> x.trim.toLong); case _ => None }
    }.toMap

  private def put(name: String, v: Double, unit: String): Unit = out(name) = (v, unit)

  private def report(setup: Double): String = {
    // the within-run spread of each timed metric, for reading noise
    Seq("get_ops_per_s", "get_p50_ms", "get_cpu_us", "multiget_keys_per_s", "multiget_p50_ms",
      "multiget_cpu_us_per_key", "publish_s", "publish_s.cpu", "update_s", "update_s.cpu", "probe_s",
      "probe_s.cpu", "swap_s", "swap_s.cpu").foreach { m =>
      val xs = rec.samplesOf(m)
      if (xs.size >= 2) {
        val (q1, q3) = Stats.quartiles(xs)
        log(f"$m%-24s median ${Stats.median(xs)}%.4g quartiles $q1%.4g $q3%.4g of ${xs.size}")
      }
    }
    if (!trace) {
      put("setup_s", setup, "s")
      put("publish_cpu_s", low("publish_s.cpu"), "s")
      put("update_cpu_s", low("update_s.cpu"), "s")
      put("probe_cpu_s", low("probe_s.cpu"), "s")
      put("get_cpu_us", med("get_cpu_us"), "us")
      put("multiget_cpu_us_per_key", med("multiget_cpu_us_per_key"), "us")
      put("space_amp", rec.value("space_amp"), "B/B")
      put("heap_peak_mb", heap.peakMb, "MB")
    } else {
      put("reader.get_us", rec.value("reader.get_us"), "us")
      put("reader.get_miss_us", rec.value("reader.get_miss_us"), "us")
      put("reader.multiget_us_per_key", rec.value("reader.multiget_us_per_key"), "us")
      put("reader.syscr_per_get", rec.value("reader.syscr_per_get"), "count")
      put("reader.rchar_per_get", rec.value("reader.rchar_per_get"), "B")
      put("wire.get_overhead_us", rec.value("wire.get_overhead_us"), "us")
      put("wire.frames_per_multiget", med("wire.frames_per_multiget"), "count")
      put("ring.get_overhead_us", rec.value("ring.get_overhead_us"), "us")
      put("ring.failovers", rec.value("ring.failovers"), "count")
      put("serve.get_ops_per_s", med("get_ops_per_s"), "1/s")
      put("serve.get_p50_ms", med("get_p50_ms"), "ms")
      put("serve.multiget_keys_per_s", med("multiget_keys_per_s"), "1/s")
      put("serve.multiget_p50_ms", med("multiget_p50_ms"), "ms")
      put("serve.get_p99_ms", rec.value("serve.get_p99_ms"), "ms")
      put("serve.get_samples", rec.value("serve.get.samples"), "count")
      put("serve.multiget_p90_ms", rec.value("serve.multiget_p90_ms"), "ms")
      put("serve.multiget_samples", rec.value("serve.multiget.samples"), "count")
      put("publish.wall_s", low("publish_s"), "s")
      put("update.wall_s", low("update_s"), "s")
      put("lookup_join.wall_s", low("probe_s"), "s")
      put("swap.wall_s", med("swap_s"), "s")
      put("swap.cpu_s", med("swap_s.cpu"), "s")
      Seq("jobs" -> "count", "tasks" -> "count", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
        "task_max_ms" -> "ms", "task_mean_ms" -> "ms").foreach { case (k, u) =>
        put(s"publish.$k", med(s"publish_s.$k"), u)
      }
      put("publish.write_amp", rec.value("publish.write_amp"), "B/B")
      put("update.jobs", med("update_s.jobs"), "count")
      put("update.shards_rewritten", med("update.shards_rewritten"), "count")
      put("update.write_amp", rec.value("update.write_amp"), "B/B")
      // a roll's own time, outside its hosts' refresh calls, is the
      // localize step and the served-version probes around it
      val self = Tracer.selfNs(tracer.recorded)
      put("swap.localize_s", perRoll(tracer.recorded.filter(_.name == "swap.roll").map(s => self(s.id))) / 1e9, "s")
      put("swap.refresh_ms", perRoll(timedRefreshes.map(_.durNs)) / 1e6, "ms")
      put("swap.shards_transferred", med("swap.shards_transferred"), "count")
      put("swap.shards_reused", med("swap.shards_reused"), "count")
      put("lookup_join.jobs", med("lookup_join.collect.jobs"), "count")
      put("lookup_join.tasks", med("lookup_join.collect.tasks"), "count")
      val hits = rec.value("lookup_join.hits") / rec.samplesOf("probe_s").size
      put("lookup_join.records_read_per_hit",
        if (hits == 0) 0.0 else med("lookup_join.collect.records_read") / hits, "count")
      put("dedup.build_s", med("dedup.build_s"), "s")
      put("dedup.probe_s", med("dedup.probe_s"), "s")
      put("dedup.upsert_s", med("dedup.upsert_s"), "s")
      put("dedup.signatures_s", med("dedup.shingles.seconds") + med("dedup.signatures.seconds"), "s")
      put("dedup.bands_s", med("dedup.bands.seconds"), "s")
      put("dedup.index_write_s", med("dedup.index_frame.seconds") + med("dedup.index_write.seconds"), "s")
      put("dedup.lookup_s", med("dedup.probe_keys.seconds") + med("dedup.lookup.seconds"), "s")
      put("dedup.verify_s", med("dedup.verify.seconds"), "s")
      put("dedup.pairs_per_candidate", rec.value("dedup.pairs_per_candidate"), "count")
      val dedupSpans = Seq("dedup.build", "dedup.probe", "dedup.upsert")
      put("dedup.jobs", dedupSpans.map(s => med(s"$s.jobs")).sum, "count")
      put("dedup.shuffle_write_mb", dedupSpans.map(s => med(s"$s.shuffle_write_mb")).sum, "MB")
      put("jvm.gc_pause_ms", (heap.gcMs - heap.forcedGcMs).toDouble, "ms")
      put("jvm.cpu_s", Cpu.processNs / 1e9, "s")
      val layerSelf = Tracer.layerSelfSeconds(tracer.recorded)
      Seq("bench", "publish", "update", "lookup_join", "dedup", "swap", "ring", "wire", "reader")
        .foreach(l => put(s"self.${l}_s", layerSelf.getOrElse(l, 0.0), "s"))
      put("trace.get_overhead_pct", rec.value("trace.get_overhead_pct"), "%")
      // beside the run's data directory, which is removed after the run
      tracer.writeTo(data.resolveSibling(s"$workload-$seed.spans.tsv"))
    }
    val bad = out.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    require(bad.isEmpty, s"non-finite metrics: ${bad.mkString(", ")}")
    val metrics = out.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    val failed = rec.failed.get()
    s"""{"correct": ${failed == 0}, "attempted": ${rec.attempted.get()}, "failed": $failed, "metrics": {$metrics}}"""
  }

  /** Time summed over the timed rolls, per roll. */
  private def perRoll(ns: Seq[Long]): Double = ns.sum.toDouble / rolled.size

  /** The hosts' refresh calls inside timed rolls (the first roll is not). */
  private def timedRefreshes: Seq[Span] = {
    val rolls = tracer.recorded.filter(_.name == "swap.roll").map(_.id).toSet
    tracer.recorded.filter(s => s.name == "swap.refresh" && rolls(s.parent))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p).iterator().asScala.toSeq.reverse
      paths.foreach(Files.delete)
    }
}
