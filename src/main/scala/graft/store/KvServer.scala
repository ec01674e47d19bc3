package graft.store

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

/**
 * Network front of the serving ring: exposes a set of named domains'
 * [[ServingReader]]s over a framed binary protocol, so a [[RingClient]]
 * on another box reaches them through [[RemoteKvReader]] stubs — the
 * reference's serving daemon surface (`elephantdb-thrift/src/core.thrift:80-91`
 * `get`/`multiGet`/`getDomains`/`update`, served by
 * `elephantdb-server/src/clj/elephantdb/keyval/core.clj:118-134`),
 * re-expressed without a Thrift dependency: plain JDK sockets, one
 * length-framed request/response pair per round trip.
 *
 * Protocol (all integers big-endian via DataOutput; strings writeUTF):
 * request = op byte, domain UTF, op payload. Response = status byte
 * (0 ok / 1 error); error carries exceptionClass UTF + message UTF and
 * leaves the connection usable (transport errors close it). Ops:
 *
 *  - 1 MULTI_GET:  n int, n × (len int, key bytes)  →  vLo long, vHi
 *    long (servedVersion before/after the lookup; equal = the certified
 *    serving version, used by chunked clients for cross-frame version
 *    consistency), then n × record (tag byte: 0 absent / 1 present:
 *    len int + bytes / 2 present-null)
 *  - 2 STATS:      —  →  numShards int, servedVersion long, canRefresh bool
 *  - 3 REFRESH:    —  →  refreshed bool (the reference's `update` RPC)
 *  - 4 COUNT:      —  →  long
 *  - 5 DOMAINS:    (domain ignored)  →  n int, n × name UTF
 *  - 6 STATUS:     — ("" domain = whole census)  →  n int, n ×
 *    (name UTF, status UTF ready/loading/failed, servedVersion long
 *    (-1 = not serving), latestPublished long (-1 = none), updating
 *    bool) — the reference's getStatus/getDomainStatus/getDomainMetaData
 *    surface (core.thrift:80-91, status union common/status.clj:17-35);
 *    a NAMED domain answers just its entry (unknown = error frame)
 *  - 7 UPDATE_ALL: (domain ignored)  →  swapped int, failed int — the
 *    reference's updateAll RPC: run the host's update hook (new-domain
 *    sweep when fronted by [[graft.Serve]]), then refresh every served
 *    domain; `failed` counts domains whose refresh threw (their names go
 *    to the server log, the call itself stays usable)
 *  - 8 RANGE:      from bound, fromInclusive bool, to bound,
 *    toInclusive bool, maxRecords int, nShards int + nShards × shard
 *    int (0 = all hosted shards; a shard filter lets a ring client
 *    scan each shard from ONE replica — a filtered shard not hosted
 *    here is a loud error, the wrong-host discipline) (each bound =
 *    tag byte 0 absent / 1 present: len int + bytes)  →  vLo long,
 *    vHi long, n int, n ×
 *    (keyLen int, key bytes, valTag byte 1 present: len int + bytes /
 *    2 present-null), truncated bool — ONE globally key-ordered page of
 *    the hosted shards' key range (byte-capped server-side too);
 *    `truncated` = more records remain, resume with
 *    from = lastKey exclusive — safe against duplicate keys: a
 *    truncated page always ends between DISTINCT keys (the server
 *    drains a duplicate run past the caps; a run longer than the page
 *    errors loud) — and pages certify versions like MULTI_GET
 *  - 9 METRICS:    (domain ignored)  →  n int, n × (name UTF, value
 *    long) — op counters (`<op>.requests`/`.errors`, volume counts,
 *    connection lifecycle), per-op service-time histograms and the kvz
 *    block cache's counters ([[metricsSnapshot]]), never reset
 *    server-side
 *  - 10 META:      —  →  numShards int, servedVersion long (-1 = bare
 *    subset), latestPublished long (-1 = none/unknown), format UTF,
 *    shardScheme UTF, indexer UTF, indexType UTF ("none" = not a
 *    published index domain), n int, n × (shard int, records long)
 *    — the reference's getDomainMetaData (core.thrift:45-54: shard set
 *    + spec per domain): the spec's routing-relevant fields plus the
 *    shard subset THIS host carries with per-shard record counts
 *    (n < numShards is the normal replicated-ring shape); unknown
 *    domain = error frame. FRAME HISTORY: indexType was INSERTED before
 *    the census in r12 with no version bump (this protocol has no
 *    version negotiation — all in-repo consumers move in lockstep); a
 *    pre-r12 client reading a post-r12 server (or vice versa) mis-frames
 *    HERE first — the census count lands on the indexType UTF's length
 *    prefix and the client's census-range guard (`n in [0, numShards]`)
 *    makes that a clean ProtocolException in practice, not silent
 *    garbage. Any future META field must be APPENDED after the census
 *    (old clients then ignore the tail bytes harmlessly) or come with a
 *    format version byte.
 *
 * Threading: one accept loop + one daemon thread per connection; the
 * readers' documented lookup thread-safety carries the concurrency, the
 * server adds no locking on the data path. Execution failures (unknown
 * domain, wrong-host probe, closed reader) travel back as error frames
 * and surface client-side as [[RemoteServingException]] — a thrown
 * failure, so RingClient fails over exactly as it does in-process.
 *
 * Scale posture: the server is a thin adapter — state lives in the
 * readers (generation hot-swap, handle caches, snapshot presence), so
 * everything the in-process suite pins about serving (loud reaps, torn-
 * free refresh, wrong-host) holds identically over the wire.
 */
final class KvServer(
    domains: Map[String, ServingReader],
    port: Int = 0,
    bindAddress: String = "127.0.0.1",
    maxValueLen: Int = KvServer.MaxValueLen,
    statusProvider: Option[Option[String] => Seq[ServedDomainStatus]] = None,
    log: String => Unit = _ => ()) extends AutoCloseable {

  require(maxValueLen > 0 && maxValueLen <= KvServer.MaxValueLen,
    s"maxValueLen $maxValueLen outside (0, ${KvServer.MaxValueLen}] — the client's " +
      "allocation guard uses the protocol constant, so a larger server bound would " +
      "ship values the client must misread as desync")

  private val server = new ServerSocket(
    port, 64, InetAddress.getByName(bindAddress))
  private val closed = new AtomicBoolean(false)
  private val conns = ConcurrentHashMap.newKeySet[Socket]()

  // the census is DYNAMIC: a daemon can register a domain whose first
  // version publishes after boot (the reference updater performed
  // initial loads, not just refreshes). An empty boot census is legal —
  // every probe answers 'no such domain' with the live census until
  // registrations arrive.
  private val served = new ConcurrentHashMap[String, ServingReader]()
  domains.foreach { case (n, r) => served.put(n, r) }

  /** Add (or replace) a served domain while running. The server never
    * closes readers — the caller owns their lifecycle. */
  def register(name: String, r: ServingReader): Unit = served.put(name, r)

  // UPDATE_ALL's pre-refresh hook — a fronting daemon (graft.Serve) wires
  // its new-domain sweep here AFTER construction (the sweep needs the
  // server to register into, so it cannot be a constructor argument)
  @volatile private var updateAllHook: () => Unit = () => ()

  /** Run `hook` at the start of every UPDATE_ALL request (before the
    * per-domain refreshes) — the seam through which a fronting daemon
    * makes remote updateAll also LOAD domains that published after boot,
    * like the reference updater did. */
  def onUpdateAll(hook: () => Unit): Unit = updateAllHook = hook

  /** The census STATUS reports: the provider's (catalog-aware, knows
    * loading/failed/updating) when one was wired, else derived from the
    * served readers alone — every served domain is by definition ready
    * at its reader's version (a bare KvServer has no catalog to know
    * more from). `filter` narrows to ONE domain BEFORE the per-domain
    * metadata work — deployment scripts poll a single domain's status in
    * tight loops while waiting for it to load, and paying the whole
    * catalog's FS metadata reads per poll would make the polling itself
    * the load. */
  private def statusSnapshot(filter: Option[String]): Seq[ServedDomainStatus] =
    statusProvider.map(_(filter)).getOrElse {
      val names = filter.fold(domainNames)(n => domainNames.filter(_ == n))
      names.flatMap(n => Option(served.get(n)).map { r =>
        val v = r.servedVersion
        ServedDomainStatus(n, "ready", v, v, updating = false)
      })
    }

  /** The live census (sorted), as OpDomains reports it. */
  def domainNames: Seq[String] = {
    import scala.jdk.CollectionConverters._
    served.keySet.asScala.toSeq.sorted
  }

  // op metrics: monotonic counters (LongAdder — contention-free on the
  // serve threads), names stable protocol surface. Nothing here is ever
  // reset; rates are the observer's delta problem (standard counter
  // discipline, so two scrapers can't fight over a reset).
  private val counters =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private def bump(name: String, by: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.LongAdder())
      .add(by)

  // per-op service time (request drained -> response flushed): one
  // fixed log2-bucketed histogram per op, recorded with one nanoTime pair
  private val latencies = new ConcurrentHashMap[String, KvServer.LatencyHistogram]()

  /** Bucket counts of `op`'s service-time histogram (see
    * [[KvServer.LatencyHistogram]]); all zero before its first request. */
  def latencyCounts(op: String): Array[Long] =
    Option(latencies.get(op)).fold(new Array[Long](KvServer.LatencyBuckets))(_.counts)

  /** Counter snapshot (sorted by name): per-op `<op>.requests` /
    * `<op>.errors`, `multi_get.keys` / `range.records` volume counts,
    * connection lifecycle (`connections.accepted/rejected/live`,
    * `frame_violations`), per-op service-time histograms
    * (`<op>.latency_ns.lt_<2^k>` = requests that took [2^(k-1), 2^k) ns,
    * non-empty buckets only, plus the gauges `<op>.latency_ns.p50` /
    * `.p99` / `.p999` = the upper bound of the bucket holding that
    * quantile, over the server's lifetime) and the JVM-wide kvz block
    * cache (`kvz_block_cache.hits/misses/evictions/bytes`). Everything
    * but `connections.live`, the quantiles and the cache's `bytes` is
    * monotonic. The ops surface a deployer scrapes; also served over the
    * wire (METRICS op) and on the HTTP dashboard. */
  def metricsSnapshot(): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val latency = latencies.asScala.toSeq.flatMap { case (op, h) =>
      val counts = h.counts
      counts.indices.collect {
        case i if counts(i) > 0 => s"$op.latency_ns.lt_${KvServer.bucketUpperNs(i)}" -> counts(i)
      } ++ Seq("p50" -> 0.5, "p99" -> 0.99, "p999" -> 0.999).map { case (n, q) =>
        s"$op.latency_ns.$n" -> KvServer.quantileNs(counts, q)
      }
    }
    (counters.asScala.toSeq.map { case (k, v) => (k, v.sum()) } ++ latency ++
      KvzBlockCache.Shared.metrics ++
      Seq("connections.live" -> conns.size().toLong)).sortBy(_._1)
  }

  /** The bound port (useful with port = 0: ephemeral). */
  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    var listening = true
    while (listening && !closed.get()) {
      val accepted =
        try Some(server.accept())
        catch {
          case _: IOException =>
            // close() races accept; a DEAD listener must not spin-loop —
            // and a persistent ACCEPT failure (fd exhaustion) must back
            // off instead of burning a core. The backoff applies only
            // here: per-socket setup failures below are the peer's
            // problem and must not throttle other clients.
            if (server.isClosed) listening = false
            else try Thread.sleep(100)
            catch { case _: InterruptedException => listening = false }
            None
        }
      accepted.foreach { s =>
        try {
          // cap live connections: past the limit, new accepts are closed
          // immediately (the peer sees EOF and can retry/fail over) —
          // a connection flood must exhaust neither threads nor fds.
          // The idle reap only covers SILENT peers; this covers many
          // live ones. Check-then-add races admit at most a handful of
          // extras (#acceptor threads = 1, so in practice none).
          if (conns.size() >= KvServer.MaxConnections) {
            bump("connections.rejected")
            throw new IOException(s"connection limit ${KvServer.MaxConnections} reached")
          }
          bump("connections.accepted")
          s.setTcpNoDelay(true)
          // a peer that vanishes without FIN/RST (power-cycle, dropped
          // NAT entry) must not pin this connection's thread + fd
          // forever: reap silent connections after the idle horizon
          // (clients discard pooled sockets at HALF this age, so a
          // healthy idle client never observes the reap)
          s.setSoTimeout(KvServer.IdleTimeoutMs)
          conns.add(s)
          val t = new Thread(() => serve(s), s"kv-server-conn-${s.getPort}")
          t.setDaemon(true)
          t.start()
        } catch {
          // a peer that RSTs between accept and setup must not leak its fd
          case _: IOException => try s.close() catch { case _: IOException => () }
        }
      }
    }
  }, s"kv-server-accept-$boundPort")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: Socket): Unit = {
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
      while (!closed.get()) {
        val op =
          try in.readByte()
          catch { case _: EOFException => return } // client hung up cleanly
        val domain = in.readUTF()
        // ---- phase 1: drain the request payload. A failure here means
        // the STREAM itself is untrustworthy: a FrameViolation (bounds,
        // unknown op — the payload shape IS what's wrong) answers then
        // drops the connection; an IOException — including the idle
        // SocketTimeoutException firing MID-FRAME — propagates to the
        // transport catch and drops without an answer. Only a fully
        // drained request reaches phase 2, so an execution failure can
        // never leave a half-read frame in the stream.
        var rangeReq: KvServer.RangeRequest = null
        val keysOpt: Option[IndexedSeq[Array[Byte]]] =
          try {
            op match {
              case KvServer.OpMultiGet => Some(readKeys(in))
              case KvServer.OpRange => rangeReq = readRangeRequest(in); None
              case KvServer.OpStats | KvServer.OpRefresh |
                   KvServer.OpCount | KvServer.OpDomains |
                   KvServer.OpStatus | KvServer.OpUpdateAll |
                   KvServer.OpMetrics | KvServer.OpMeta => None // no payload
              case other => throw new KvServer.FrameViolation(s"unknown op $other")
            }
          } catch {
            case e: KvServer.FrameViolation =>
              bump("frame_violations")
              writeError(out, "java.io.IOException", e.getMessage)
              out.flush()
              return
          }
        bump(s"${KvServer.opName(op)}.requests")
        val started = System.nanoTime()
        // ---- phase 2: execute and respond; failures become error
        // frames and the (aligned) connection keeps serving. Each op
        // computes its result BEFORE the first response byte, so an
        // execution failure can never truncate a started response.
        try {
          op match {
            case KvServer.OpMultiGet =>
              val r = reader(domain)
              // bracket the lookup with version probes: the lookup itself
              // is generation-consistent (never torn), but WHICH version
              // served it is ambiguous if a refresh lands mid-call —
              // vLo == vHi certifies the version, and the client uses the
              // stamps to keep CHUNKED calls single-version end to end
              val vLo = r.servedVersion
              val vs = r.multiGet(keysOpt.get)
              val vHi = r.servedVersion
              bump("multi_get.keys", keysOpt.get.length.toLong)
              // a stored value past the transport's per-record bound is
              // an EXECUTION error named before the first response byte
              // (the client's allocation guard then only ever fires on
              // true desync, never on legitimate data)
              vs.foreach {
                case Some(v) if v != null && v.length > maxValueLen =>
                  throw new IllegalStateException(
                    s"value of ${v.length} bytes exceeds the transport bound " +
                      s"$maxValueLen — serve this domain in-process")
                case _ => ()
              }
              out.writeByte(0)
              out.writeLong(vLo)
              out.writeLong(vHi)
              vs.foreach {
                case None => out.writeByte(0)
                case Some(null) => out.writeByte(2)
                case Some(v) => out.writeByte(1); out.writeInt(v.length); out.write(v)
              }
            case KvServer.OpRange =>
              val r = reader(domain)
              // page caps: the CLIENT asks for a record count (bounded by
              // the protocol), the server ALWAYS adds the aggregate byte
              // cap — a page of jumbo values truncates early and the
              // client resumes past its last key
              val page = r.rangePage(
                rangeReq.from, rangeReq.fromInclusive,
                rangeReq.to, rangeReq.toInclusive,
                rangeReq.maxRecords, KvServer.MaxBatchBytes, rangeReq.shards)
              bump("range.records", page.records.size.toLong)
              page.records.foreach { case (k, v) =>
                // keys checked like values: the kv write path caps
                // neither, and an unchecked oversized key would reach
                // the client as a ProtocolException ("length out of
                // range" = the wrong-service class) — every replica
                // failing identically while the operator chases a
                // nonexistent desync instead of reading THIS error
                if (k.length > KvServer.MaxKeyLen)
                  throw new IllegalStateException(
                    s"key of ${k.length} bytes exceeds the transport bound " +
                      s"${KvServer.MaxKeyLen} — serve this domain in-process")
                if (v != null && v.length > maxValueLen)
                  throw new IllegalStateException(
                    s"value of ${v.length} bytes exceeds the transport bound " +
                      s"$maxValueLen — serve this domain in-process")
              }
              out.writeByte(0)
              out.writeLong(page.vLo)
              out.writeLong(page.vHi)
              out.writeInt(page.records.size)
              page.records.foreach { case (k, v) =>
                out.writeInt(k.length)
                out.write(k)
                if (v == null) out.writeByte(2)
                else { out.writeByte(1); out.writeInt(v.length); out.write(v) }
              }
              out.writeBoolean(page.truncated)
            case KvServer.OpStats =>
              val r = reader(domain)
              val (n, v, cr) = (r.numShards, r.servedVersion, r.canRefresh)
              out.writeByte(0)
              out.writeInt(n)
              out.writeLong(v)
              out.writeBoolean(cr)
            case KvServer.OpRefresh =>
              val refreshed = reader(domain).refresh()
              out.writeByte(0)
              out.writeBoolean(refreshed)
            case KvServer.OpCount =>
              val c = reader(domain).count()
              out.writeByte(0)
              out.writeLong(c)
            case KvServer.OpDomains =>
              val names = domainNames
              out.writeByte(0)
              out.writeInt(names.size)
              names.foreach(out.writeUTF)
            case KvServer.OpStatus =>
              // compute the census (and the named-domain miss) BEFORE the
              // first response byte, like every other op; a NAMED query
              // filters before the per-domain metadata work (the full
              // census is computed only for the unknown-domain error)
              val entries =
                if (domain.isEmpty) statusSnapshot(None)
                else statusSnapshot(Some(domain)) match {
                  case Seq() => throw new IllegalArgumentException(
                    s"no such domain '$domain' " +
                      s"(census: ${statusSnapshot(None).map(_.name).mkString(", ")})")
                  case one => one
                }
              out.writeByte(0)
              out.writeInt(entries.size)
              entries.foreach { s =>
                out.writeUTF(s.name)
                out.writeUTF(s.status)
                out.writeLong(s.servedVersion)
                out.writeLong(s.latestPublished)
                out.writeBoolean(s.updating)
              }
            case KvServer.OpMeta =>
              // computed fully before the first response byte, like every
              // op (metadata() snapshots ONE generation, so the census
              // and version stamp cannot disagree)
              val m = reader(domain).metadata()
              out.writeByte(0)
              out.writeInt(m.numShards)
              out.writeLong(m.servedVersion)
              out.writeLong(m.latestPublished)
              out.writeUTF(m.persistenceFormat)
              out.writeUTF(m.shardScheme)
              out.writeUTF(m.indexer)
              out.writeUTF(m.indexType)
              out.writeInt(m.shards.size)
              m.shards.foreach { s =>
                out.writeInt(s.shard)
                out.writeLong(s.records)
              }
            case KvServer.OpMetrics =>
              val snapshot = metricsSnapshot()
              out.writeByte(0)
              out.writeInt(snapshot.size)
              snapshot.foreach { case (name, value) =>
                out.writeUTF(name)
                out.writeLong(value)
              }
            case KvServer.OpUpdateAll =>
              updateAllHook()
              var swapped = 0
              var failed = 0
              served.forEach { (name, r) =>
                try { if (r.canRefresh && r.refresh()) swapped += 1 }
                catch {
                  case e: Exception =>
                    failed += 1
                    log(s"[kv-server] updateAll: refresh $name failed: $e")
                }
              }
              out.writeByte(0)
              out.writeInt(swapped)
              out.writeInt(failed)
          }
        } catch {
          case e: Exception =>
            // execution failure: report class + message, keep serving
            bump(s"${KvServer.opName(op)}.errors")
            writeError(out, e.getClass.getName, Option(e.getMessage).getOrElse(""))
        }
        out.flush()
        latencies.computeIfAbsent(KvServer.opName(op), _ => new KvServer.LatencyHistogram)
          .record(System.nanoTime() - started)
      }
    } catch {
      case _: IOException => // transport died; the client will fail over
    } finally {
      conns.remove(sock)
      try sock.close() catch { case _: IOException => () }
    }
  }

  /** status-1 error frame: exception class + message (bounded). */
  private def writeError(out: DataOutputStream, cls: String, msg: String): Unit = {
    out.writeByte(1)
    out.writeUTF(cls)
    out.writeUTF(Option(msg).getOrElse("").take(4096))
  }

  /** Drain a MULTI_GET payload, enforcing the protocol bounds. The
    * per-key and count bounds alone still admit a ~1 TB request
    * (MaxBatch × MaxKeyLen) — the aggregate cap bounds what one frame
    * can make this JVM allocate before the lookup even resolves. */
  private def readKeys(in: DataInputStream): IndexedSeq[Array[Byte]] = {
    val n = in.readInt()
    if (n < 0 || n > KvServer.MaxBatch)
      throw new KvServer.FrameViolation(s"batch size $n out of protocol range")
    var payload = 0L
    IndexedSeq.fill(n) {
      val len = in.readInt()
      if (len < 0 || len > KvServer.MaxKeyLen)
        throw new KvServer.FrameViolation(s"key length $len out of protocol range")
      payload += len
      if (payload > KvServer.MaxBatchBytes)
        throw new KvServer.FrameViolation(
          s"batch payload exceeds ${KvServer.MaxBatchBytes} bytes")
      val b = new Array[Byte](len)
      in.readFully(b)
      b
    }
  }

  /** Drain a RANGE payload: two optional bounds + inclusivity flags +
    * the page's record cap, all under the key/batch protocol bounds. */
  private def readRangeRequest(in: DataInputStream): KvServer.RangeRequest = {
    def readBound(): Option[Array[Byte]] = in.readByte() match {
      case 0 => None
      case 1 =>
        val len = in.readInt()
        if (len < 0 || len > KvServer.MaxKeyLen)
          throw new KvServer.FrameViolation(s"range bound length $len out of protocol range")
        val b = new Array[Byte](len)
        in.readFully(b)
        Some(b)
      case t => throw new KvServer.FrameViolation(s"range bound tag $t")
    }
    val from = readBound()
    val fromInclusive = in.readBoolean()
    val to = readBound()
    val toInclusive = in.readBoolean()
    val maxRecords = in.readInt()
    if (maxRecords <= 0 || maxRecords > KvServer.MaxBatch)
      throw new KvServer.FrameViolation(s"range page size $maxRecords out of protocol range")
    val nShards = in.readInt()
    if (nShards < 0 || nShards > KvServer.MaxBatch)
      throw new KvServer.FrameViolation(s"range shard-filter size $nShards out of protocol range")
    val shards =
      if (nShards == 0) None
      else Some(Set.fill(nShards) {
        val s = in.readInt()
        if (s < 0) throw new KvServer.FrameViolation(s"negative shard index $s")
        s
      })
    KvServer.RangeRequest(from, fromInclusive, to, toInclusive, maxRecords, shards)
  }

  private def reader(domain: String): ServingReader =
    Option(served.get(domain)).getOrElse(throw new IllegalArgumentException(
      s"no such domain '$domain' (serving: ${domainNames.mkString(", ")})"))

  /** Stop accepting and drop every open connection. Does NOT close the
    * underlying readers — the caller owns their lifecycle (a server
    * restart must not tear down the serving state). Idempotent. */
  def close(): Unit = if (closed.compareAndSet(false, true)) {
    try server.close() catch { case _: IOException => () }
    conns.forEach(s => try s.close() catch { case _: IOException => () })
    conns.clear()
  }
}

object KvServer {
  val OpMultiGet: Byte = 1
  val OpStats: Byte = 2
  val OpRefresh: Byte = 3
  val OpCount: Byte = 4
  val OpDomains: Byte = 5
  val OpStatus: Byte = 6
  val OpUpdateAll: Byte = 7
  val OpRange: Byte = 8
  val OpMetrics: Byte = 9
  val OpMeta: Byte = 10

  /** Stable wire/metric name per op (the counter namespace). */
  private[store] def opName(op: Byte): String = op match {
    case OpMultiGet => "multi_get"
    case OpStats => "stats"
    case OpRefresh => "refresh"
    case OpCount => "count"
    case OpDomains => "domains"
    case OpStatus => "status"
    case OpUpdateAll => "update_all"
    case OpRange => "range"
    case OpMetrics => "metrics"
    case OpMeta => "meta"
    case other => s"op_$other"
  }

  /** Buckets per latency histogram: bucket k counts samples in
    * [2^(k-1), 2^k) ns (bucket 0: under 1 ns), the last one everything
    * from 2^46 ns (~20 h) up. */
  val LatencyBuckets: Int = 48

  /** Exclusive upper bound of latency bucket `k`, in ns. */
  def bucketUpperNs(k: Int): Long = 1L << k

  /** The upper bound (ns) of the bucket holding quantile `q` of the
    * histogram `counts`; 0 when it is empty. At most 2x above the true
    * value, by the bucket width. */
  def quantileNs(counts: Array[Long], q: Double): Long = {
    val total = counts.sum
    if (total == 0L) 0L
    else {
      val rank = math.max(1L, math.ceil(q * total).toLong)
      var seen = 0L
      var k = 0
      while (k < counts.length - 1 && seen + counts(k) < rank) { seen += counts(k); k += 1 }
      bucketUpperNs(k)
    }
  }

  /** A fixed log2-bucketed latency histogram: one LongAdder per bucket,
    * so recording is contention-free and memory is bounded. */
  private[store] final class LatencyHistogram {
    private val buckets = Array.fill(LatencyBuckets)(new java.util.concurrent.atomic.LongAdder)
    def record(ns: Long): Unit =
      buckets(math.min(LatencyBuckets - 1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(ns, 0L))))
        .increment()
    def counts: Array[Long] = buckets.map(_.sum())
  }

  private[store] final case class RangeRequest(
      from: Option[Array[Byte]],
      fromInclusive: Boolean,
      to: Option[Array[Byte]],
      toInclusive: Boolean,
      maxRecords: Int,
      shards: Option[Set[Int]])

  /** Frame sanity bounds: a serving batch is human/request-sized, never
    * corpus-sized (the reference's multiGet was an RPC batch too). The
    * aggregate byte cap bounds what one request can make the server
    * allocate; [[RemoteKvReader]] pre-checks all three client-side so a
    * legitimate caller sees a named error, never a dropped connection. */
  val MaxBatch: Int = 1 << 20
  val MaxKeyLen: Int = 1 << 20
  val MaxBatchBytes: Long = 64L << 20
  /** Per-record response bound the CLIENT enforces before allocating —
    * a desynced or hostile server must not be able to demand a 2 GB
    * allocation via one length field. */
  val MaxValueLen: Int = 256 << 20

  /** Upper bound on records in ONE RANGE response: the requested page
    * cap plus the duplicate-run drain (a truncated page must end
    * between distinct keys, so the server may legally exceed the asked
    * size by up to [[KvDomainReader.MaxDupRunExtension]]). Clients size
    * their record-count allocation guard by THIS — checking against
    * MaxBatch alone would reject a legitimate dup-drained page as
    * desync. */
  val MaxRangeResponseRecords: Int = MaxBatch + KvDomainReader.MaxDupRunExtension

  /** Live-connection cap: accepts past this are closed on arrival so a
    * connection flood cannot exhaust threads or file descriptors. Sized
    * generously — a serving client pools a handful of sockets, so even a
    * large ring of clients sits far below it. */
  val MaxConnections: Int = 1024

  /** Reap horizon for SILENT connections (no frame for this long):
    * clients discard pooled sockets at half this age, so only a peer
    * that died without FIN/RST ever hits it. */
  val IdleTimeoutMs: Int = 600000

  /** A request whose payload shape breaks the protocol bounds: the
    * stream cannot be re-aligned, so the handler answers and drops the
    * connection (ordinary execution failures keep it alive). */
  private[store] final class FrameViolation(msg: String) extends RuntimeException(msg)
}

/** One domain's serving status as a host reports it over the wire — the
  * engine's re-expression of the reference's DomainStatus union + meta
  * (`elephantdb-thrift/src/core.thrift:10-35,45-54`, status machine
  * `common/status.clj:17-35`) flattened to what batch-plus-serving needs:
  *  - `status`: "ready" (serving a published version), "loading" (not
  *    yet serving — unpublished, or published but not yet swept in),
  *    "failed" (no published version and an attempt left a failure
  *    marker; a FAILED UPDATE on a ready domain stays "ready" — the old
  *    version keeps serving, matching the reference);
  *  - `servedVersion`: what lookups hit right now (-1 = not serving);
  *  - `latestPublished`: newest published version in the catalog (-1 =
  *    none) — servedVersion < latestPublished means an update is due;
  *  - `updating`: a build/update is in flight (`.building` marker). */
final case class ServedDomainStatus(
    name: String,
    status: String,
    servedVersion: Long,
    latestPublished: Long,
    updating: Boolean)

/** An execution failure reported by the serving process — the remote
  * twin of the exception the in-process reader would have thrown
  * (class name preserved for diagnostics). RingClient treats it like
  * any thrown failure: fail over to the next replica. */
final class RemoteServingException(
    val host: String,
    val remoteClass: String,
    message: String)
  extends RuntimeException(s"$remoteClass at $host: $message")
