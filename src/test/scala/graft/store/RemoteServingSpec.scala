package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.{DomainSpec, ShardIndex}
import graft.functions._

/**
 * Cross-process serving: [[KvServer]] + [[RemoteKvReader]] must be a
 * transparent transport for the [[ServingReader]] surface — every
 * answer bit-identical to the in-process reader, every failure class
 * preserved (wrong-host, unknown domain, server down), and a
 * [[RingClient]] over remote stubs must keep the exact failover
 * semantics the in-process suite pins. The reference served this
 * surface over framed Thrift (core.thrift:80-91); the protocol here is
 * a dependency-free re-expression.
 */
class RemoteServingSpec extends SparkSuite {

  private val conf = new Configuration()
  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def kvDf(pairs: Seq[(String, String)]) = {
    import spark.implicits._
    pairs.toDF("k", "v")
      .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value"))
  }

  test("remote reader answers bit-identically to the in-process reader") {
    val store = DomainStore.create(
      scratch("remote-dom"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    val keys = (0 until 300).map(i => s"rk$i")
    store.write(kvDf(keys.map(k => k -> s"val-$k")), 1L)

    val local = KvDomainReader.open(store.root.toString, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      assert(remote.numShards === 4)
      assert(remote.servedVersion === 1L)
      assert(remote.canRefresh)
      assert(remote.count() === local.count())
      assert(remote.domainNames() === Seq("users"))
      // batched: hits, misses, and input-order alignment
      val probe = keys.take(50).map(utf8) ++ Seq(utf8("absent-1"), utf8("absent-2"))
      def decoded(vs: Seq[Option[Array[Byte]]]): Seq[Option[String]] =
        vs.map(_.map(new String(_, "UTF-8")))
      val got = remote.multiGet(probe)
      assert(decoded(got) === decoded(local.multiGet(probe)))
      assert(got.take(50).flatten.map(new String(_, "UTF-8")) ===
        keys.take(50).map(k => s"val-$k"))
      assert(got.drop(50).forall(_.isEmpty))
      // single get through the same frames
      assert(remote.get(utf8("rk7")).map(new String(_, "UTF-8")) === Some("val-rk7"))
      // a batch past the aggregate frame bound (84 MB of key bytes >
      // MaxBatchBytes) splits into several frames transparently, results
      // re-concatenated in INPUT order — present and absent interleaved
      // across the chunk boundaries
      val fatBase = Array.fill[Byte]((1 << 20) - 1)(7) // exactly MaxKeyLen with the tag
      val mixed: Seq[Array[Byte]] =
        (0 until 80).flatMap(i => Seq(utf8(keys(i)), fatBase :+ i.toByte))
      val mixedGot = remote.multiGet(mixed)
      assert(mixedGot.length === mixed.length)
      (0 until 80).foreach { i =>
        assert(mixedGot(2 * i).map(new String(_, "UTF-8")) === Some(s"val-${keys(i)}"), i)
        assert(mixedGot(2 * i + 1) === None, i)
      }
      // concurrent callers use distinct pooled connections
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { t =>
        val th = new Thread(() => {
          try (0 until 50).foreach { i =>
            val k = keys((t * 37 + i) % keys.length)
            assert(remote.get(utf8(k)).map(new String(_, "UTF-8")) === Some(s"val-$k"))
          } catch { case e: Throwable => errs.add(e) }
        })
        th.start(); th
      }
      threads.foreach(_.join(20000))
      assert(errs.isEmpty, errs)
    } finally {
      remote.close(); server.close(); local.close()
    }
  }

  test("failures keep their class over the wire: unknown domain, wrong host, server down") {
    val store = DomainStore.create(
      scratch("remote-fail-dom"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(kvDf((0 until 100).map(i => s"fk$i" -> s"f$i")), 1L)
    val ring = ShardRing.generateIndex(Seq("hA", "hB"), 4, replication = 1)
    val dest = new Path(scratch("remote-fail-hA"))
    store.localizeForHost(1L, dest, ring, "hA")
    val hosted = KvDomainReader.localized(
      dest.toString, store.spec, conf, Some(ring.shardSet("hA")))
    val server = new KvServer(Map("users" -> hosted))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    val wrongDomain = new RemoteKvReader("127.0.0.1", server.boundPort, "nope")
    try {
      // unknown domain: loud, names the census
      val e1 = intercept[RemoteServingException](wrongDomain.get(utf8("fk1")))
      assert(e1.remoteClass === "java.lang.IllegalArgumentException")
      assert(e1.getMessage.contains("no such domain"), e1.getMessage)
      // a misrouted probe (shard hosted elsewhere) keeps its wrong-host
      // loudness — the error frame leaves the connection usable, so a
      // correctly-routed probe right after still answers
      val mine = ring.shardSet("hA")
      val wrongKey = (0 until 1000).map(i => s"fk$i")
        .find(k => !mine(ShardIndex.shardIndex(utf8(k), 4))).get
      val rightKey = (0 until 1000).map(i => s"fk$i")
        .find(k => mine(ShardIndex.shardIndex(utf8(k), 4))).get
      val e2 = intercept[RemoteServingException](remote.get(utf8(wrongKey)))
      assert(e2.remoteClass === "java.lang.IllegalStateException")
      assert(e2.getMessage.contains("not hosted here"), e2.getMessage)
      assert(remote.get(utf8(rightKey)).isDefined)
      // a bare localized subset reports canRefresh=false remotely too
      assert(!remote.canRefresh)
      assert(remote.servedVersion === -1L)
      // server down: IOException (transport), not a silent miss
      server.close()
      intercept[java.io.IOException](remote.get(utf8(rightKey)))
    } finally {
      remote.close(); wrongDomain.close(); server.close(); hosted.close()
    }
  }

  test("present-null parity and a host down at construction") {
    import spark.implicits._
    val store = DomainStore.create(
      scratch("remote-null-dom"), DomainSpec(2, persistenceFormat = DomainSpec.KvSorted), conf)
    // one present-null key among normal ones (the domain schema allows
    // null values; KvFile stores them as valLen = -1)
    store.write(
      Seq(("nk", null: String), ("ok", "v")).toDF("k", "v")
        .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value")),
      1L)
    val local = KvDomainReader.open(store.root.toString, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      // multiGet keeps the present-null distinction on BOTH transports;
      // get flattens it to None on BOTH (KvDomainReader.get's contract)
      assert(local.multiGet(Seq(utf8("nk"))).head === Some(null))
      assert(remote.multiGet(Seq(utf8("nk"))).head === Some(null))
      assert(local.get(utf8("nk")) === None)
      assert(remote.get(utf8("nk")) === None)
      assert(remote.get(utf8("ok")).map(new String(_, "UTF-8")) === Some("v"))

      // a host that is DOWN when the client is built must not prevent
      // construction — every shard still has a live replica, and that
      // is exactly what failover serves
      val ring = ShardRing.generateIndex(Seq("hA", "hB"), 2, replication = 2)
      val deadServer = new KvServer(Map("users" -> local))
      val deadPort = deadServer.boundPort
      deadServer.close()
      val stubs: Map[String, ServingReader] = Map(
        "hA" -> new RemoteKvReader("127.0.0.1", server.boundPort, "users"),
        "hB" -> new RemoteKvReader("127.0.0.1", deadPort, "users"))
      val client = new RingClient(ring, stubs, rnd = new scala.util.Random(3))
      try assert(client.get(utf8("ok")).map(new String(_, "UTF-8")) === Some("v"))
      finally client.close()
    } finally {
      remote.close(); server.close(); local.close()
    }
  }

  test("transport bounds and wrong-service endpoints are named errors, not desync") {
    import spark.implicits._
    val store = DomainStore.create(
      scratch("remote-bounds-dom"), DomainSpec(2, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(
      Seq("bk" -> "a value comfortably past a tiny bound").toDF("k", "v")
        .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value")),
      1L)
    val local = KvDomainReader.open(store.root.toString, conf)
    // a server with a tiny per-record bound: the oversized STORED value
    // must surface as a named remote execution error (connection stays
    // usable), never as a protocol-desync misdiagnosis
    val server = new KvServer(Map("users" -> local), maxValueLen = 8)
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      val e = intercept[RemoteServingException](remote.get(utf8("bk")))
      assert(e.getMessage.contains("exceeds the transport bound"), e.getMessage)
      assert(remote.servedVersion === 1L) // same stub still answers

      // an endpoint that speaks a DIFFERENT protocol is misconfiguration:
      // construction fails loudly NAMING the host, instead of silently
      // classifying the host as unreachable
      val fake = new java.net.ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
      val fakeThread = new Thread(() => {
        try {
          while (true) {
            val s = fake.accept()
            // drain the WHOLE request before closing: close with any
            // unread receive bytes would RST, which some TCP stacks
            // surface before the queued 77s (portability-flaky)
            val in = s.getInputStream
            if (in.read() >= 0) while (in.available() > 0) in.read()
            s.getOutputStream.write(Array[Byte](77, 77, 77, 77)) // not a protocol status
            s.getOutputStream.flush()
            s.close()
          }
        } catch { case _: java.io.IOException => () }
      })
      fakeThread.setDaemon(true)
      fakeThread.start()
      try {
        val ring = ShardRing.generateIndex(Seq("good", "bad"), 2, replication = 2)
        val stubs: Map[String, ServingReader] = Map(
          "good" -> new RemoteKvReader("127.0.0.1", server.boundPort, "users"),
          "bad" -> new RemoteKvReader("127.0.0.1", fake.getLocalPort, "users"))
        val e2 = intercept[IllegalStateException](new RingClient(ring, stubs))
        assert(e2.getMessage.contains("bad") && e2.getMessage.contains("wrong protocol"),
          e2.getMessage)
        assert(e2.getCause.isInstanceOf[RemoteKvReader.ProtocolException])
        stubs.values.foreach(_.close())
      } finally fake.close()
    } finally {
      remote.close(); server.close(); local.close()
    }
  }

  test("updateRing over sockets: the reference's updateAll as delta pulls + remote refresh under load") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
    val store = DomainStore.create(
      scratch("remote-updring-dom"), DomainSpec(5, persistenceFormat = DomainSpec.KvSorted), conf)
    val keys = (0 until 300).map(i => s"uk$i")
    store.write(kvDf(keys.map(k => k -> s"v1-$k")), 1L)
    val hosts = Seq("rA", "rB", "rC")
    val ring = ShardRing.generateIndex(hosts, 5, replication = 2)
    val roots = hosts.map(h => h -> new Path(scratch(s"remote-updring-$h"))).toMap
    val locals = hosts.map { h =>
      store.localizeVersionForHost(1L, roots(h), ring, h)
      h -> KvDomainReader.open(roots(h).toString, conf, Some(ring.shardSet(h)))
    }.toMap
    val servers = locals.map { case (h, r) => h -> new KvServer(Map("users" -> r)) }
    val stubs: Map[String, ServingReader] = servers.map { case (h, s) =>
      h -> new RemoteKvReader("127.0.0.1", s.boundPort, "users")
    }
    val client = new RingClient(ring, stubs, rnd = new scala.util.Random(17))
    try {
      val changed = keys.filter(_.hashCode % 3 == 0)
      assume(changed.nonEmpty && changed.size < keys.size)
      store.upsert(spark, kvDf(changed.map(k => k -> s"v2-$k")), 2L)

      // hammer the SOCKET-served ring from 3 threads for the whole roll
      val stop = new AtomicBoolean(false)
      val violation = new AtomicReference[String](null)
      val threads = (0 until 3).map { t =>
        val th = new Thread(() => {
          val rnd = new scala.util.Random(60 + t)
          while (!stop.get() && violation.get() == null) {
            try {
              val batch = Seq.fill(15)(keys(rnd.nextInt(keys.length)))
              client.multiGet(batch.map(utf8)).zip(batch).foreach { case (v, k) =>
                val s = v.map(new String(_, "UTF-8"))
                val legal =
                  if (changed.contains(k)) s.contains(s"v1-$k") || s.contains(s"v2-$k")
                  else s.contains(s"v1-$k")
                if (!legal) violation.compareAndSet(null,
                  s"key $k answered $s — not a value from any complete version")
              }
            } catch {
              case e: Exception =>
                violation.compareAndSet(null, s"query failed mid-roll: $e")
            }
          }
        })
        th.setDaemon(true); th.start(); th
      }

      // the roll: sequential delta pulls + per-host refresh — the
      // refresh hop goes over the WIRE (stub refresh = the update RPC)
      val deltas = RingClient.updateRing(client, store, 2L, ring, roots)
      Thread.sleep(150)
      stop.set(true)
      threads.foreach(_.join(10000))
      assert(violation.get() === null, Option(violation.get()).getOrElse("ok"))

      hosts.foreach(h => assert(stubs(h).servedVersion === 2L, s"host $h"))
      val changedShards = changed.map(k => ShardIndex.shardIndex(utf8(k), 5)).toSet
      deltas.foreach { case (h, d) =>
        assert(d.transferred.toSet === (ring.shardSet(h) intersect changedShards), s"host $h")
        assert(d.reused.toSet === (ring.shardSet(h) diff changedShards), s"host $h")
      }
      val got = client.multiGet(keys.map(utf8)).map(_.map(new String(_, "UTF-8")))
      keys.zip(got).foreach { case (k, v) =>
        val want = if (changed.contains(k)) s"v2-$k" else s"v1-$k"
        assert(v === Some(want), s"key $k after the roll")
      }
    } finally {
      client.close()
      servers.values.foreach(_.close())
      locals.values.foreach(_.close())
    }
  }

  test("protocol fuzz: random garbage never hangs or kills the server") {
    import spark.implicits._
    val store = DomainStore.create(
      scratch("remote-fuzz-dom"), DomainSpec(2, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(kvDf(Seq("fz" -> "alive")), 1L)
    val local = KvDomainReader.open(store.root.toString, conf)
    val server = new KvServer(Map("users" -> local))
    try {
      val rnd = new scala.util.Random(1234)
      (0 until 100).foreach { i =>
        val s = new java.net.Socket("127.0.0.1", server.boundPort)
        try {
          s.setSoTimeout(250) // if the server (legally) waits for more
          // request bytes, stop probing fast — closing is the signal
          val bytes = Array.fill(1 + rnd.nextInt(64))(rnd.nextInt().toByte)
          s.getOutputStream.write(bytes)
          s.getOutputStream.flush()
          // the server may answer an error frame or just drop us — both
          // fine; it must never hang this probe past its own reads
          try { while (s.getInputStream.read() >= 0) () }
          catch { case _: java.io.IOException => () }
        } finally s.close()
      }
      // after 100 garbage connections the server still serves cleanly
      val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
      try assert(remote.get(utf8("fz")).map(new String(_, "UTF-8")) === Some("alive"))
      finally remote.close()
    } finally {
      server.close(); local.close()
    }
  }

  test("STATUS + UPDATE_ALL on a bare server: default census, unknown domain loud") {
    val store = DomainStore.create(
      scratch("remote-status-dom"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(kvDf((0 until 50).map(i => s"sk$i" -> s"v1-$i")), 1L)
    val local = KvDomainReader.open(store.root.toString, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      // a bare server (no catalog provider) derives the census from its
      // readers: served = ready at the reader's version
      assert(remote.status() ===
        ServedDomainStatus("users", "ready", 1L, 1L, updating = false))
      assert(remote.statusAll() ===
        Seq(ServedDomainStatus("users", "ready", 1L, 1L, updating = false)))
      assert(remote.fullyLoaded)

      // unknown domain: loud error frame; the connection stays usable
      val other = new RemoteKvReader("127.0.0.1", server.boundPort, "nope")
      try {
        val e = intercept[RemoteServingException](other.status())
        assert(e.getMessage.contains("no such domain"), e.getMessage)
      } finally other.close()

      // updateAll: already newest = nothing swapped; after a publish the
      // host-wide op swaps it in
      assert(remote.updateAll() === ((0, 0)))
      store.write(kvDf((0 until 50).map(i => s"sk$i" -> s"v2-$i")), 2L)
      assert(remote.updateAll() === ((1, 0)))
      assert(remote.servedVersion === 2L)
      assert(remote.status() ===
        ServedDomainStatus("users", "ready", 2L, 2L, updating = false))
      assert(remote.get(utf8("sk7")).map(new String(_, "UTF-8")) === Some("v2-7"))
    } finally {
      remote.close(); server.close(); local.close()
    }
  }

  test("ring-level isFullyLoaded and updateAll over remote stubs") {
    val store = DomainStore.create(
      scratch("remote-ringops-dom"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    val keys = (0 until 200).map(i => s"rg$i")
    store.write(kvDf(keys.map(k => k -> s"v1-$k")), 1L)
    val hosts = Seq("hA", "hB")
    val ring = ShardRing.generateIndex(hosts, 4, replication = 2)
    val roots = hosts.map(h => h -> new Path(scratch(s"remote-ringops-$h"))).toMap
    val locals = hosts.map { h =>
      store.localizeVersionForHost(1L, roots(h), ring, h)
      h -> KvDomainReader.open(roots(h).toString, conf, Some(ring.shardSet(h)))
    }.toMap
    val servers = locals.map { case (h, r) => h -> new KvServer(Map("users" -> r)) }
    val stubs: Map[String, ServingReader] = servers.map { case (h, s) =>
      h -> new RemoteKvReader("127.0.0.1", s.boundPort, "users")
    }
    val client = new RingClient(ring, stubs, rnd = new scala.util.Random(7))
    try {
      assert(client.isFullyLoaded)

      // publish v2 and pull it to every host's root: one ring-level
      // updateAll rolls the whole ring (each host swaps for itself)
      val changed = keys.filter(_.hashCode % 3 == 0)
      store.upsert(spark, kvDf(changed.map(k => k -> s"v2-$k")), 2L)
      hosts.foreach(h => store.localizeVersionForHost(2L, roots(h), ring, h))
      assert(client.updateAll() === Map("hA" -> ((1, 0)), "hB" -> ((1, 0))))
      assert(stubs.values.forall(_.servedVersion == 2L))
      val got = client.multiGet(changed.take(20).map(utf8)).map(_.map(new String(_, "UTF-8")))
      assert(got === changed.take(20).map(k => Some(s"v2-$k")))

      // a DOWN host is not certifiably loaded: false, not a throw (and
      // not silently true); an update roll on a down host stays loud
      servers("hB").close()
      assert(!client.isFullyLoaded)
      intercept[java.io.IOException](client.updateAll())
    } finally {
      client.close()
      servers.values.foreach(_.close())
      locals.values.foreach(_.close())
    }
  }

  test("RingClient over remote stubs: failover, loud dead shards, server-side refresh") {
    val store = DomainStore.create(
      scratch("remote-ring-dom"), DomainSpec(5, persistenceFormat = DomainSpec.KvSorted), conf)
    val keys = (0 until 400).map(i => s"gk$i")
    store.write(kvDf(keys.map(k => k -> s"v1-$k")), 1L)
    val hosts = Seq("hA", "hB", "hC")
    val ring = ShardRing.generateIndex(hosts, 5, replication = 2)

    // each "host" is its own versioned local root + reader + server —
    // three serving processes in miniature, reached only through sockets
    val roots = hosts.map(h => h -> new Path(scratch(s"remote-ring-$h"))).toMap
    val locals = hosts.map { h =>
      store.localizeVersionForHost(1L, roots(h), ring, h)
      h -> KvDomainReader.open(roots(h).toString, conf, Some(ring.shardSet(h)))
    }.toMap
    val servers = locals.map { case (h, r) => h -> new KvServer(Map("users" -> r)) }
    val stubs: Map[String, ServingReader] = servers.map { case (h, s) =>
      h -> new RemoteKvReader("127.0.0.1", s.boundPort, "users")
    }
    val client = new RingClient(ring, stubs, rnd = new scala.util.Random(5))
    try {
      // full ring: every key answers over the wire
      val got = client.multiGet(keys.map(utf8)).map(_.map(new String(_, "UTF-8")))
      assert(got === keys.map(k => Some(s"v1-$k")))

      // one server dies: its shards fail over to surviving replicas
      servers("hB").close()
      val got2 = client.multiGet(keys.take(100).map(utf8)).map(_.map(new String(_, "UTF-8")))
      assert(got2 === keys.take(100).map(k => Some(s"v1-$k")))

      // server-side refresh through the stub (the reference's update RPC):
      // publish v2, delta-pull hC's subset, refresh over the wire
      val changed = keys.filter(_.hashCode % 4 == 0)
      store.upsert(spark, kvDf(changed.map(k => k -> s"v2-$k")), 2L)
      store.localizeVersionForHost(2L, roots("hC"), ring, "hC")
      assert(stubs("hC").refresh() === true)
      assert(stubs("hC").servedVersion === 2L)
      val mineC = ring.shardSet("hC")
      val kC = changed.find(k => mineC(ShardIndex.shardIndex(utf8(k), 5))).get
      assert(stubs("hC").get(utf8(kC)).map(new String(_, "UTF-8")) === Some(s"v2-$kC"))

      // every server down: any probe fails loud, naming its replica set —
      // transport IOExceptions fall over until the replicas are exhausted
      servers.values.foreach(_.close())
      val e = intercept[IllegalStateException](client.get(utf8(keys.head)))
      assert(e.getMessage.contains("all replicas"), e.getMessage)
    } finally {
      client.close() // closes the stubs
      servers.values.foreach(_.close())
      locals.values.foreach(_.close())
    }
  }

  test("metrics: per-op counters over the wire, errors and volumes counted") {
    val store = DomainStore.create(
      scratch("remote-metrics-dom"), DomainSpec(2, persistenceFormat = DomainSpec.KvSorted), conf)
    store.write(kvDf(Seq("mk1" -> "v1", "mk2" -> "v2")), 1L)
    val local = KvDomainReader.open(store.root.toString, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    val bad = new RemoteKvReader("127.0.0.1", server.boundPort, "nope")
    try {
      val base = remote.metrics()
      remote.multiGet(Seq(utf8("mk1"), utf8("mk2"), utf8("absent")))
      remote.count()
      intercept[RemoteServingException](bad.count())
      val m = remote.metrics()
      def delta(k: String): Long = m.getOrElse(k, 0L) - base.getOrElse(k, 0L)
      assert(delta("multi_get.requests") === 1L)
      assert(delta("multi_get.keys") === 3L)
      assert(delta("count.requests") === 2L) // the good call + the failed one
      assert(delta("count.errors") === 1L)
      assert(delta("metrics.requests") === 1L) // the base snapshot itself
      assert(m("connections.accepted") >= 1L)
      assert(m.keySet.forall(_.nonEmpty))
    } finally {
      remote.close(); bad.close(); server.close(); local.close()
    }
  }

  test("metrics: per-op latency histograms and kvz block-cache counters over the wire") {
    val store = DomainStore.create(
      scratch("remote-metrics-kvz"), DomainSpec(2, persistenceFormat = DomainSpec.KvSortedZ), conf)
    store.write(kvDf((0 until 200).map(i => s"zk$i" -> s"zv$i")), 1L)
    val local = KvDomainReader.open(store.root.toString, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      val base = remote.metrics()
      assert(remote.get(utf8("zk7")).map(new String(_, "UTF-8")) === Some("zv7"))
      assert(remote.get(utf8("zk7")).map(new String(_, "UTF-8")) === Some("zv7"))
      val m = remote.metrics()
      // the second get of the same key finds its block decoded
      assert(m("kvz_block_cache.hits") > base("kvz_block_cache.hits"))
      Seq("misses", "evictions", "bytes").foreach(c => assert(m.contains(s"kvz_block_cache.$c"), c))
      // two gets in the multi_get histogram: bucket counts sum to its
      // request count, and the quantiles are bucket bounds in order
      val buckets = m.collect { case (k, v) if k.startsWith("multi_get.latency_ns.lt_") => v }
      assert(buckets.sum === m("multi_get.requests"))
      val Seq(p50, p99, p999) = Seq("p50", "p99", "p999").map(q => m(s"multi_get.latency_ns.$q"))
      assert(p50 > 0 && p50 <= p99 && p99 <= p999)
      assert(java.lang.Long.bitCount(p999) === 1, s"p999 $p999 is not a bucket bound")
    } finally {
      remote.close(); server.close(); local.close()
    }
  }

  test("remote range: paged globally-ordered scan == in-process cursor; swaps fail loud") {
    import spark.implicits._
    val store = DomainStore.create(
      scratch("remote-range-dom"), DomainSpec(4, persistenceFormat = DomainSpec.KvSorted), conf)
    val keys = (0 until 500).map(i => f"rr$i%04d")
    store.write(
      // one present-null record rides along: the page's tag-2 path
      (keys.map(k => k -> s"val-$k") :+ ("rr-null" -> (null: String))).toDF("k", "v")
        .select(utf8_bytes(col("k")).as("key"), utf8_bytes(col("v")).as("value")),
      1L)
    val local = KvDomainReader.open(store.root.toString, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      def decode(it: Iterator[(Array[Byte], Array[Byte])]): Seq[(String, String)] =
        it.map { case (k, v) =>
          (new String(k, "UTF-8"), if (v == null) null else new String(v, "UTF-8"))
        }.toSeq
      // full scan at a page size that forces several round trips: must
      // equal the in-process global-order cursor exactly (order included)
      val localCur = local.range(globalOrder = true)
      val expected = try decode(localCur) finally localCur.close()
      assert(expected.size === 501)
      val got = decode(remote.rangeScan(pageRecords = 64))
      assert(got === expected)
      // keys arrive globally sorted (unsigned-lexicographic)
      assert(got.map(_._1) === got.map(_._1).sorted)
      // bounded sub-range, exclusive upper
      val sub = decode(remote.rangeScan(
        from = Some(utf8("rr0100")), to = Some(utf8("rr0200")),
        toInclusive = false, pageRecords = 33))
      assert(sub.map(_._1) === (100 until 200).map(i => f"rr$i%04d"))
      // one page directly: truncation + resumability + version stamps
      val page = remote.rangePage(None, fromInclusive = true, None,
        toInclusive = true, maxRecords = 10, maxBytes = Long.MaxValue)
      assert(page.vLo === 1L && page.vHi === 1L)
      assert(page.records.size === 10 && page.truncated)
      // a hot-swap mid-scan fails LOUD (never a silently mixed scan):
      // start a paged scan, publish + refresh between pages, keep pulling
      val it = remote.rangeScan(pageRecords = 100)
      it.take(100).toList // page 1 at v1
      store.upsert(spark, kvDf(Seq("rr0000" -> "v2")), 2L)
      assert(remote.refresh())
      val e = intercept[IllegalStateException] {
        var n = 0
        while (it.hasNext) { it.next(); n += 1 }
      }
      assert(e.getMessage.contains("version swap"), e.getMessage)
      // a fresh scan at the new version sees the updated value
      val after = decode(remote.rangeScan(
        from = Some(utf8("rr0000")), to = Some(utf8("rr0000")), pageRecords = 8))
      assert(after === Seq("rr0000" -> "v2"))
    } finally {
      remote.close(); server.close(); local.close()
    }
  }

  test("ring rangeScan: one replica per shard, global order, exact resume across a host death") {
    val store = DomainStore.create(
      scratch("ring-range-dom"), DomainSpec(5, persistenceFormat = DomainSpec.KvSorted), conf)
    val keys = (0 until 400).map(i => f"sk$i%04d")
    store.write(kvDf(keys.map(k => k -> s"v-$k")), 1L)
    val hosts = Seq("hA", "hB", "hC")
    val ring = ShardRing.generateIndex(hosts, 5, replication = 2)
    val roots = hosts.map(h => h -> new Path(scratch(s"ring-range-$h"))).toMap
    val locals = hosts.map { h =>
      store.localizeVersionForHost(1L, roots(h), ring, h)
      h -> KvDomainReader.open(roots(h).toString, conf, Some(ring.shardSet(h)))
    }.toMap
    val servers = locals.map { case (h, r) => h -> new KvServer(Map("users" -> r)) }
    val stubs: Map[String, ServingReader] = servers.map { case (h, s) =>
      h -> new RemoteKvReader("127.0.0.1", s.boundPort, "users")
    }
    val client = new RingClient(ring, stubs, rnd = new scala.util.Random(7))
    try {
      def decode(it: Iterator[(Array[Byte], Array[Byte])]): Seq[(String, String)] =
        it.map { case (k, v) => (new String(k, "UTF-8"), new String(v, "UTF-8")) }.toSeq
      val expected = keys.sorted.map(k => k -> s"v-$k")
      // full ring scan at a paging size: every key exactly ONCE (each
      // shard read from one replica, replication never double-counts),
      // globally key-ordered
      assert(decode(client.rangeScan(pageRecords = 32)) === expected)
      // bounded sub-range
      assert(
        decode(client.rangeScan(
          from = Some(utf8("sk0100")), to = Some(utf8("sk0200")),
          toInclusive = false, pageRecords = 17)) ===
          (100 until 200).map(i => f"sk$i%04d" -> f"v-sk$i%04d"))
      // a host dying MID-SCAN: its shards resume exactly (exclusive
      // resume after last key) on the surviving replica — the merged
      // stream stays complete, ordered, duplicate-free
      val it = client.rangeScan(pageRecords = 8)
      val first = decode(it.take(50).iterator)
      servers("hA").close()
      val rest = decode(it)
      assert(first ++ rest === expected, "mid-scan host death changed the stream")
    } finally {
      client.close()
      servers.values.foreach(_.close())
      locals.values.foreach(_.close())
    }
  }

  test("remote range: duplicate-key runs never straddle a page cut (exclusive resume is exact)") {
    import graft.core.ShardIndex
    // duplicate keys are legal in non-dedup'd builds; write a shard file
    // DIRECTLY (DomainStore dedup checks aside) with a 7-copy run placed
    // so a small page would cut inside it
    val dir = scratch("remote-dup-range")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val spec = DomainSpec(1, persistenceFormat = DomainSpec.KvSorted)
    val store = DomainStore.create(dir, spec, conf)
    val vDir = new org.apache.hadoop.fs.Path(dir, "1/shard=0")
    fs.mkdirs(vDir)
    val rows = (Seq.tabulate(5)(i => (f"a$i%02d", s"v$i")) ++
      Seq.fill(7)(("dup", "dv")) ++
      Seq.tabulate(5)(i => (f"z$i%02d", s"w$i")))
      .map { case (k, v) => k.getBytes("UTF-8") -> v.getBytes("UTF-8") }
    assert(rows.forall { case (k, _) => ShardIndex.shardIndex(k, 1) == 0 })
    val out = new java.io.DataOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(vDir, KvFile.DataFileName), true))
    try KvFile.write(out, rows.iterator) finally out.close()
    store.versions.succeedVersion(1L)

    val local = KvDomainReader.open(dir, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      // page sizes that would cut before, inside, and after the run:
      // every one must return all 17 records (7 dup copies included)
      for (page <- Seq(2, 3, 5, 6, 7, 8, 11, 16)) {
        val got = remote.rangeScan(pageRecords = page)
          .map { case (k, v) => (new String(k, "UTF-8"), new String(v, "UTF-8")) }.toSeq
        assert(got.size === 17, s"pageRecords=$page dropped duplicate copies: $got")
        assert(got.count(_._1 == "dup") === 7, s"pageRecords=$page")
      }
      // a run LONGER than the page extends the page to the run's end —
      // the page size is a target, the between-keys guarantee is a
      // contract: page=1 against a 5-copy run returns all 5 on one page
      val dir2 = scratch("remote-dup-range-long")
      val fs2 = new org.apache.hadoop.fs.Path(dir2).getFileSystem(conf)
      val store2 = DomainStore.create(dir2, spec, conf)
      val vDir2 = new org.apache.hadoop.fs.Path(dir2, "1/shard=0")
      fs2.mkdirs(vDir2)
      val rows2 = Seq.fill(5)(("k".getBytes("UTF-8"), "v".getBytes("UTF-8"))) :+
        ("z".getBytes("UTF-8") -> "zz".getBytes("UTF-8"))
      val out2 = new java.io.DataOutputStream(
        fs2.create(new org.apache.hadoop.fs.Path(vDir2, KvFile.DataFileName), true))
      try KvFile.write(out2, rows2.iterator) finally out2.close()
      store2.versions.succeedVersion(1L)
      val local2 = KvDomainReader.open(dir2, conf)
      try {
        val page = local2.rangePage(None, fromInclusive = true, None,
          toInclusive = true, maxRecords = 1, maxBytes = Long.MaxValue)
        assert(page.records.size === 5, "page must extend to the run's end")
        assert(page.truncated, "the distinct key after the run remains")
        assert(page.records.forall(r => new String(r._1, "UTF-8") == "k"))
      } finally local2.close()
    } finally {
      remote.close(); server.close(); local.close()
    }
  }

  test("META op: remote metadata == local, ring census shows each host's shard subset") {
    val domDir = scratch("meta-dom")
    val store = DomainStore.create(
      domDir,
      DomainSpec(5, persistenceFormat = DomainSpec.KvSorted,
        indexer = classOf[BloomKeyIndexer].getName), conf)
    val keys = (0 until 200).map(i => f"mk$i%04d")
    store.write(kvDf(keys.map(k => k -> s"v-$k")), 1L)

    // full-store host: metadata over the wire == the local reader's
    val local = KvDomainReader.open(domDir, conf)
    val server = new KvServer(Map("users" -> local))
    val remote = new RemoteKvReader("127.0.0.1", server.boundPort, "users")
    try {
      val m = remote.metadata()
      assert(m === local.metadata())
      assert(m.numShards === 5 && m.servedVersion === 1L && m.latestPublished === 1L)
      assert(m.persistenceFormat === DomainSpec.KvSorted)
      assert(m.shardScheme === DomainSpec.HashMod)
      assert(m.indexer === classOf[BloomKeyIndexer].getName)
      assert(m.shards.map(_.shard) === (0 until 5))
      assert(m.shards.map(_.records).sum === 200L)
      // an unknown domain answers an error frame, not a dropped conn
      val bad = new RemoteKvReader("127.0.0.1", server.boundPort, "nope")
      try intercept[RemoteServingException](bad.metadata()) finally bad.close()

      // a publish the reader has not swapped to yet shows in the pair
      store.upsert(spark, kvDf(Seq("mk0000" -> "v2")), 2L)
      val pair = remote.metadata()
      assert(pair.servedVersion === 1L && pair.latestPublished === 2L)
    } finally { remote.close(); server.close(); local.close() }

    // ring hosts carry SUBSETS: each host's census is its ring assignment
    val hosts = Seq("hA", "hB")
    val ring = ShardRing.generateIndex(hosts, 5, replication = 1)
    val locals = hosts.map { h =>
      val root = new Path(scratch(s"meta-$h"))
      store.localizeVersionForHost(2L, root, ring, h)
      h -> KvDomainReader.open(root.toString, conf, Some(ring.shardSet(h)))
    }.toMap
    val servers = locals.map { case (h, r) => h -> new KvServer(Map("users" -> r)) }
    val stubs: Map[String, ServingReader] = servers.map { case (h, s) =>
      h -> new RemoteKvReader("127.0.0.1", s.boundPort, "users")
    }
    val client = new RingClient(ring, stubs, rnd = new scala.util.Random(3))
    try {
      val byHost = client.metadataByHost()
      assert(byHost.keySet === hosts.toSet)
      hosts.foreach { h =>
        assert(byHost(h).shards.map(_.shard).toSet === ring.shardSet(h),
          s"$h census != ring assignment")
        assert(byHost(h).shards.size < byHost(h).numShards) // a replica subset
      }
      // union covers the domain exactly once at replication 1
      assert(byHost.values.flatMap(_.shards.map(_.shard)).toSeq.sorted === (0 until 5))
      assert(byHost.values.flatMap(_.shards.map(_.records)).sum === 200L)
    } finally {
      client.close()
      servers.values.foreach(_.close())
      locals.values.foreach(_.close())
    }
  }

  test("rangePage: a pathological duplicate run fails loud on BYTES, not OOM") {
    import graft.core.ShardIndex
    // 12 copies of a 200 KB value: the drain past a tiny byte cap must
    // stop at the byte bound (max(8*maxBytes, 1 MB) = 1 MB here) with the
    // dedup-the-build message, never materialize the whole run
    val dir = scratch("range-dup-bytebound")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val spec = DomainSpec(1, persistenceFormat = DomainSpec.KvSorted)
    val store = DomainStore.create(dir, spec, conf)
    val vDir = new org.apache.hadoop.fs.Path(dir, "1/shard=0")
    fs.mkdirs(vDir)
    val big = Array.fill[Byte](200 * 1024)('x')
    val rows = Seq.fill(12)(("dup".getBytes("UTF-8"), big)) :+
      ("tail".getBytes("UTF-8") -> "t".getBytes("UTF-8"))
    assert(rows.forall { case (k, _) => ShardIndex.shardIndex(k, 1) == 0 })
    val out = new java.io.DataOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(vDir, KvFile.DataFileName), true))
    try KvFile.write(out, rows.iterator) finally out.close()
    store.versions.succeedVersion(1L)
    val local = KvDomainReader.open(dir, conf)
    try {
      val e = intercept[IllegalStateException] {
        local.rangePage(None, fromInclusive = true, None, toInclusive = true,
          maxRecords = 1, maxBytes = 100L)
      }
      assert(e.getMessage.contains("dedup the build"), e.getMessage)
      assert(e.getMessage.contains("bytes"), e.getMessage)
      // a generous byte budget still returns the whole run fine
      val page = local.rangePage(None, fromInclusive = true, None,
        toInclusive = true, maxRecords = 1, maxBytes = 64L * 1024 * 1024)
      assert(page.records.size === 12)
      // an UNBOUNDED byte budget (the ring scan's record-capped pages)
      // must not overflow the drain cap to its floor: 8 * Long.MaxValue
      // wraps negative — the multi-MB run must still come back whole
      val unbounded = local.rangePage(None, fromInclusive = true, None,
        toInclusive = true, maxRecords = 1, maxBytes = Long.MaxValue)
      assert(unbounded.records.size === 12, "overflowed cap broke an unbounded-byte page")
    } finally local.close()
  }
}
