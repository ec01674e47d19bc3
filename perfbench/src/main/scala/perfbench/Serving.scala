package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.store.{DomainStore, KvDomainReader, KvServer, RemoteKvReader, RingClient, ServingReader, ShardRing}

/** Two serving hosts, each an in-process [[KvServer]] over its own
  * localized copy of the domain (replication 2), reached through socket
  * stubs behind one [[RingClient]]. Built without Spark. */
final class Ring(store: DomainStore, base: Path, firstVersion: Long, conf: Configuration,
    tracer: Tracer) extends AutoCloseable {
  val hosts: Seq[String] = Seq("h0", "h1")
  val ring: ShardRing.Index = ShardRing.generateIndex(hosts, store.numShards, replication = 2)
  val roots: Map[String, Path] = hosts.map(h => h -> new Path(base, h)).toMap

  hosts.foreach(h => store.localizeVersionForHost(firstVersion, roots(h), ring, h))
  val readers: Map[String, KvDomainReader] = hosts.map(h =>
    h -> KvDomainReader.open(roots(h).toString, conf, Some(ring.shardSet(h)))).toMap
  val servers: Map[String, KvServer] = hosts.map(h => h -> new KvServer(Map("bench" -> readers(h)))).toMap
  val stubs: Map[String, RemoteKvReader] =
    hosts.map(h => h -> new RemoteKvReader("127.0.0.1", servers(h).boundPort, "bench")).toMap
  private val hostReaders: Map[String, HostReader] = hosts.map(h => h -> new HostReader(stubs(h), tracer)).toMap
  val client: RingClient = new RingClient(ring, hostReaders)

  /** Roll `version` onto every host with [[RingClient.updateRing]];
    * (transferred, reused) shard counts summed over hosts. */
  def swap(version: Long): (Int, Int) = {
    val deltas = RingClient.updateRing(client, store, version, ring, roots).values.toSeq
    (deltas.map(_.transferred.size).sum, deltas.map(_.reused.size).sum)
  }

  def servedVersions: Seq[Long] = hosts.map(h => stubs(h).servedVersion)

  /** Server-side counter summed over hosts. */
  def serverCounter(name: String): Long =
    servers.values.map(_.metricsSnapshot().collectFirst { case (`name`, v) => v }.getOrElse(0L)).sum

  /** Calls to a host that threw, each of which made the ring client fail
    * over to the next replica (or give up). */
  def failovers: Long = hostReaders.values.map(_.errors.get()).sum

  def close(): Unit = {
    client.close()
    servers.values.foreach(_.close())
    readers.values.foreach(_.close())
  }
}

/** What the ring client holds for one host: its socket stub, with every
  * call that throws counted, and spans around `get` and `refresh` when
  * tracing. `multiGet` fans out on the ring client's pool threads, where
  * a span would have no parent, so it is counted but not spanned. */
final class HostReader(stub: RemoteKvReader, tracer: Tracer) extends ServingReader {
  val errors = new AtomicLong(0L)

  private def counted[A](body: => A): A =
    try body catch { case e: Exception => errors.incrementAndGet(); throw e }

  def numShards: Int = stub.numShards
  def servedVersion: Long = stub.servedVersion
  def get(key: Array[Byte]): Option[Array[Byte]] = counted(tracer.span("wire.get")(stub.get(key)))
  def multiGet(keys: Seq[Array[Byte]]): IndexedSeq[Option[Array[Byte]]] = counted(stub.multiGet(keys))
  def count(): Long = stub.count()
  def canRefresh: Boolean = stub.canRefresh
  def refresh(): Boolean = tracer.span("swap.refresh")(stub.refresh())
  override def fullyLoaded: Boolean = stub.fullyLoaded
  override def updateAll(): (Int, Int) = stub.updateAll()
  def close(): Unit = stub.close()
}

/** Closed-loop load: `threads` callers each wait for their reply before
  * sending the next request. */
object ClosedLoop {

  final case class Result(latenciesNs: Array[Long], elapsedNs: Long, processCpuNs: Long) {
    def ops: Int = latenciesNs.length
    def perSecond: Double = ops / (elapsedNs / 1e9)
    def cpuUsPerOp: Double = processCpuNs / 1e3 / ops
    def p50Ms: Double = Stats.median(latenciesNs.toSeq.map(_.toDouble)) / 1e6
  }

  /** Run `op` `times` times on each of `threads` threads. `op(rnd)`
    * returns the time its measured call took, in nanoseconds; each thread
    * draws from its own generator seeded by (seed, thread), so the
    * request stream is fixed by the seed. */
  def run(threads: Int, times: Int, seed: Long)(op: SplittableRandom => Long): Result = {
    val lat = Array.fill(threads)(new Array[Long](times))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        val rnd = new SplittableRandom(Gen.hash(seed, t, 0x10L))
        start.await()
        try (0 until times).foreach(i => lat(t)(i) = op(rnd))
        catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-client-$t")
      th.setDaemon(true)
      th.start()
      th
    }
    val cpu0 = Cpu.workNs
    val t0 = System.nanoTime()
    start.countDown()
    ts.foreach(_.join())
    val elapsed = System.nanoTime() - t0
    if (!errors.isEmpty) throw errors.peek()
    Result(lat.flatten, elapsed, Cpu.workNs - cpu0)
  }
}
