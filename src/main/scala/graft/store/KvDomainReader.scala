package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.DomainSpec

/**
 * Spark-free point-lookup reader for a `kv-sorted` domain — the embeddable
 * core of the reference's serving daemon (it opened local per-shard
 * persistences and answered `get` by probing them:
 * `elephantdb-server/src/clj/elephantdb/keyval/core.clj:118-134` routes,
 * `JavaBerkDB.java:69-78` probes). Nothing here touches Spark: spec
 * parsing, version-token resolution, md5-mod routing, bloom sidecar
 * probes, and the binary search are all plain JVM + Hadoop streams, so a
 * serving process can depend on this class alone.
 *
 * Two layouts:
 *  - [[KvDomainReader.open]]: a full domain root (`domain-spec.json` or
 *    the reference's `domain-spec.yaml`, version dirs + tokens) — reads
 *    the newest PUBLISHED version, snapshot-stable for the reader's
 *    lifetime (reopen to pick up a newer publish, exactly the reference's
 *    updater swap).
 *  - [[KvDomainReader.localized]]: a bare directory of `shard=<i>` dirs —
 *    the output of `DomainStore.localize`, i.e. the shard subset a
 *    serving box pulled for itself.
 *
 * `get` cost: one cached sidecar probe (definite misses never touch
 * data), then the shard's [[KvFile]] lookup — node-cached tree-top
 * steps and a window finish, ~2 positioned reads warm. Localized shards
 * sit on `LocalFileSystem`, where the cached reader holds the data file
 * and its `.crc` open ([[LocalShardStream]]): a pread is one read of the
 * checksum chunks it touches plus one read of their CRC32s, not the new
 * Hadoop checksum checker (a stat, opens of the file and its `.crc`)
 * the filesystem's own stream builds per pread. A
 * missing shard dir/file reads as "no keys on this shard" (an empty
 * shard writes no dir; a shard this box did not localize is
 * indistinguishable — route requests to hosted shards, like the
 * reference's ring did).
 *
 * Hot-swap: a root-opened reader serves ONE published version at a time
 * but can follow new publishes in place — [[refresh]] re-resolves the
 * newest token, installs fresh shard handles, and retires the old ones
 * (the reference daemon's `load-version!` swap,
 * `elephantdb-server/src/clj/elephantdb/common/domain.clj:208-228`,
 * which swapped a domain's status to the new shard set without dropping
 * in-flight reads).
 *
 * Thread-safety: safe for concurrent `get`s — [[KvFile.Reader.lookup]]
 * uses positioned reads only, and cached readers resolve lock-free from
 * a concurrent map. All per-version state (handle cache, sidecar cache,
 * version dir) lives in one ref-counted `Generation`: a lookup acquires
 * the current generation for its whole duration, so it can never see a
 * torn mix of two versions, and [[refresh]]/[[close]] retire a
 * generation by dropping its installed reference — shard handles close
 * only when the last in-flight lookup drains, so a lookup concurrent
 * with a swap completes normally on the version it started on (never an
 * error, never a wrong answer). A lookup STARTED after [[close]] fails
 * loudly with IllegalStateException.
 */
final class KvDomainReader private (
    initialDir: Path,
    initialVersion: Long,
    versionsOpt: Option[VersionedStore],
    hostedShards: Option[Set[Int]],
    val spec: DomainSpec,
    conf: Configuration) extends ServingReader {

  require(
    spec.persistenceFormat == DomainSpec.KvSorted ||
      spec.persistenceFormat == DomainSpec.KvSortedZ,
    s"KvDomainReader serves kv-sorted domains; got '${spec.persistenceFormat}' " +
      "(parquet/orc domains are Spark-scan engines — export with persistenceFormat = kv-sorted to serve)")

  def numShards: Int = spec.numShards

  private val fs: FileSystem = initialDir.getFileSystem(conf)

  private val indexerOpt: Option[Indexer] = spec.indexerClass.map(Indexer.forName)

  /** Resolved sharding scheme (registry seam) — the serving reader routes
    * through the SAME resolution as the store's write path, so a
    * custom-scheme domain serves correctly and a foreign scheme fails at
    * open, never by probing wrong shards. */
  private val scheme: graft.core.ShardScheme = graft.core.ShardScheme.forName(spec.shardScheme)

  /** Per-version handle state: caches + the version dir they index, with
    * a reference count whose base ref is "installed as current". A
    * lookup acquires for its duration; [[retire]] drops the base ref;
    * the LAST release (drained in-flight lookup or the retire itself)
    * closes every cached handle. Handles on a retired generation thus
    * stay valid exactly as long as some lookup still uses them — the
    * no-dropped-reads half of the reference's hot-swap. */
  private final class Generation(val versionDir: Path, val version: Long) {
    // None = shard has no data file (empty or not localized) / no sidecar
    val readers =
      new java.util.concurrent.ConcurrentHashMap[Int, Option[ShardReader]]()
    val probes =
      new java.util.concurrent.ConcurrentHashMap[Int, Option[Array[Byte] => Boolean]]()
    private val refs = new java.util.concurrent.atomic.AtomicInteger(1)

    def tryAcquire(): Boolean = {
      var c = refs.get()
      while (c > 0) {
        if (refs.compareAndSet(c, c + 1)) return true
        c = refs.get()
      }
      false // retired and drained: caches are closed, caller must re-read gen
    }

    def release(): Unit =
      if (refs.decrementAndGet() == 0) {
        readers.values().forEach(_.foreach(r =>
          try r.close() catch { case _: Exception => () }))
        readers.clear()
        probes.clear()
      }

    /** Shard links of this version (manifest-linked publishes record
      * untouched shards as `shard -> origin version` instead of copying
      * their dirs — `_links.json`). Read ONCE at generation install,
      * like the presence snapshot; origins resolve as SIBLING version
      * dirs (`<root>/<origin>/shard=<i>` — the layout contract), so a
      * bare localized subset (self-contained by construction, no
      * manifest) never consults version history. */
    private val links: Map[Int, Long] =
      VersionedStore.readLinks(fs, versionDir)

    def shardDir(shard: Int): Path = links.get(shard) match {
      case Some(origin) =>
        new Path(new Path(versionDir.getParent, origin.toString), s"shard=$shard")
      case None => new Path(versionDir, s"shard=$shard")
    }

    /** Shard dirs present when this generation was INSTALLED (one
      * listStatus + the link manifest; open/refresh only ever install
      * live published versions, so the snapshot is taken while the dir
      * is whole). Lookups must trust THIS, never a live `fs.exists`:
      * after a refresh retires this generation, a concurrent
      * `VersionedStore.cleanup` may reap its version dir, and a live
      * existence probe on a not-yet-opened shard would then read "no
      * file" and SILENTLY answer 'key absent' for keys the domain
      * holds. With the snapshot, a reaped file instead throws
      * FileNotFoundException from the open — loud, never a wrong
      * answer (an empty shard legitimately writes no dir, which the
      * snapshot also captures). Linked shards are present by MANIFEST:
      * their dirs live in origin version dirs, which link-aware GC
      * (VersionedStore.cleanupImpl) keeps alive as long as this version
      * is kept. */
    val presentShards: Set[Int] = {
      val listed =
        try fs.listStatus(versionDir)
        catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
      // shared parse with the publish manifest writer: a foreign entry
      // ('shard=3.bak', a crashed copy's artifact) must not fail the
      // whole open — only exact numeric shard dirs are the engine's
      DomainStore.listedShardNumbers(
        listed.iterator.map(_.getPath.getName)).toSet ++ links.keySet
    }

    def reader(shard: Int): Option[ShardReader] =
      // Safe without a lifecycle lock: callers hold an acquired ref, so
      // the close-all (refs == 0) cannot run concurrently with this
      // populate — an insert can never land in an already-cleared map.
      readers.computeIfAbsent(shard, { s =>
        if (!presentShards(s)) None
        else Some(KvFile.open(fs, new Path(shardDir(s), KvFile.DataFileName)))
      })

    def mightContain(shard: Int, key: Array[Byte]): Boolean =
      indexerOpt match {
        case None => true
        case Some(ix) =>
          probes.computeIfAbsent(shard, s => Indexer.loadProbe(fs, shardDir(s), ix))
            .forall(_.apply(key))
      }
  }

  // A closed reader must FAIL, not limp: after close() the version dir may
  // be reaped (VersionedStore.cleanup in the updater-swap pattern this
  // class documents), and a racing get() would otherwise repopulate the
  // caches — leaking handles probing a possibly-reaped version dir.
  @volatile private var closed = false
  private def checkOpen(): Unit =
    if (closed) throw new IllegalStateException(
      s"KvDomainReader for $initialDir is closed — reopen to serve a newer publish")

  @volatile private var gen: Generation = new Generation(initialDir, initialVersion)
  // Serializes refresh() with close() (never with lookups).
  private val lifecycle = new Object

  /** The version currently served (the newest published one at open /
    * last successful [[refresh]]; -1 for a localized shard subset). */
  def servedVersion: Long = gen.version

  /** Whether this reader CAN follow new publishes: true for root-opened
    * readers (version history present), false for bare localized
    * subsets. Lets callers like `RingClient.refreshAll` skip the benign
    * can't-refresh case without a catch that would also swallow real
    * failures (closed reader, no published version). */
  def canRefresh: Boolean = versionsOpt.isDefined

  private[store] def cachedShardReaders: Int = gen.readers.size

  /** Run `f` against one coherent generation: acquired for the whole
    * call, so a concurrent refresh/close can neither tear the version
    * nor close handles mid-lookup. The retry loop covers the one narrow
    * race — `gen` read just as its last ref drains — by re-reading the
    * now-current generation (or failing loudly if the reader closed). */
  private def withGen[T](f: Generation => T): T = {
    while (true) {
      checkOpen()
      val g = gen
      if (g.tryAcquire()) {
        try return f(g)
        finally g.release()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /**
   * Hot-swap to the newest PUBLISHED version (the reference's
   * `load-version!` / updater cycle): re-resolve the version token,
   * install a fresh generation of shard handles, retire the old one.
   * Returns true when a newer version was swapped in, false when already
   * serving the newest. Concurrent `get`s never fail and never see a
   * torn version: lookups in flight at the swap complete on the version
   * they started on (its handles close only when the last one drains);
   * lookups starting after the swap see the new version only. If a
   * `VersionedStore.cleanup` REAPS the retired version while a lookup is
   * still in flight on it, a shard file that the lookup had not yet
   * opened fails with FileNotFoundException — LOUD, never a silent
   * 'key absent' (shard presence is snapshotted per generation, so a
   * reaped file can never read as an empty shard).
   * Only root-opened readers can refresh — a localized shard subset has
   * no version history (re-run `DomainStore.localize` and reopen).
   */
  def refresh(): Boolean = lifecycle.synchronized {
    checkOpen()
    val versions = versionsOpt.getOrElse(throw new IllegalStateException(
      "refresh(): localized shard-subset readers have no version history — " +
        "re-localize with DomainStore.localize and reopen"))
    val newest = versions.mostRecentVersion.getOrElse(
      throw new IllegalStateException(s"no published version under ${versions.root}"))
    val cur = gen
    // swap only FORWARD: published versions grow monotonically, so a
    // "newest" below the served version means ops deleted the served
    // version's token out from under us (retention misfire). Swapping
    // backward would regress live traffic AND defeat KvServer's
    // vLo==vHi single-version certification (the ABA case: old→new→old
    // stamps look consistent). Keep serving the pinned generation — its
    // handles stay valid until the files themselves are reaped (loud).
    if (newest <= cur.version) false
    else {
      gen = new Generation(versions.versionPath(newest), newest)
      cur.release() // drop the installed ref; closes when in-flight gets drain
      true
    }
  }

  /** Point lookup: route, sidecar-probe, binary-search. `None` = absent
    * (or present with a null value — the domain schema allows it; use
    * [[getRecord]] to distinguish). */
  def get(key: Array[Byte]): Option[Array[Byte]] = getRecord(key).flatten

  /** A localized subset CANNOT distinguish "key absent" from "shard not
    * pulled here" by the filesystem alone (neither writes a dir). When
    * the caller declared its hosted set (the ring assignment), a probe
    * routed OUTSIDE it fails loud — the reference's WrongHostException
    * (`keyval/core.clj` threw it when a direct get hit the wrong server)
    * — instead of silently answering 'absent'; [[RingClient]] treats the
    * throw as a failover signal like any other replica failure. */
  private def checkHosted(shard: Int): Unit =
    hostedShards.foreach { hosted =>
      if (!hosted.contains(shard)) throw new IllegalStateException(
        s"wrong host: shard $shard is not hosted here " +
          s"(hosted: ${hosted.toSeq.sorted.mkString(",")}) — route via the ring")
    }

  /** `None` = key absent; `Some(None)` = key present with a null value;
    * `Some(Some(v))` = present with value `v`. */
  def getRecord(key: Array[Byte]): Option[Option[Array[Byte]]] = withGen { g =>
    val shard = scheme.shardIndex(key, numShards)
    checkHosted(shard)
    if (!g.mightContain(shard, key)) None
    else g.reader(shard).flatMap(_.lookup(key)).map(Option(_))
  }

  /** Batched point lookup — the reference daemon's primary RPC
    * (`multiGet` in core.thrift): route each key, bloom-probe, then per
    * shard pick the access pattern by batch DENSITY, exactly like the
    * engine's distributed kv lookup:
    *  - sparse (`keys × format lookupScanRatio < records` — plain kv
    *    prices preads at 256, block-compressed shards cross over near
    *    their block count since each probe inflates a block): binary
    *    searches on the CACHED reader — positioned reads, safe under
    *    concurrent calls;
    *  - dense: ONE merge pass over the shard's sorted run against the
    *    batch's sorted keys — on a FRESH handle opened and closed inside
    *    the call, because a sequential scan owns its seek pointer and
    *    the cached reader must stay pread-only for concurrency.
    * Results align with the input: `None` = absent, `Some(null)` = key
    * present with a null value (same contract as [[getRecord]] flattened
    * one level). Duplicate input keys are fine (each resolves
    * independently). */
  def multiGet(keys: Seq[Array[Byte]]): IndexedSeq[Option[Array[Byte]]] = withGen { g =>
    require(keys.forall(_ != null), "multiGet: null key")
    val out = new Array[Option[Array[Byte]]](keys.length)
    val groups = keys.zipWithIndex
      .groupBy { case (k, _) => scheme.shardIndex(k, numShards) }
      .toIndexedSeq
    // Shard groups are independent (disjoint `out` slots, pread-safe
    // cached readers), so a batch spanning shards fans out over the
    // SHARED bounded pool — per-batch latency divides by the hosted
    // shard count while total serving concurrency stays capped at the
    // pool (never threads × connections). Single-shard batches (and
    // get()) stay on the calling thread: zero overhead on the point path.
    def processGroup(shard: Int, withIdx: Seq[(Array[Byte], Int)]): Unit = {
        checkHosted(shard)
        // sidecar-known misses never touch data (and drop out of the
        // density decision: they cost nothing either way)
        val (maybe, misses) = withIdx.partition { case (k, _) => g.mightContain(shard, k) }
        misses.foreach { case (_, i) => out(i) = None }
        if (maybe.nonEmpty) g.reader(shard) match {
          case None => maybe.foreach { case (_, i) => out(i) = None }
          case Some(r) =>
            if (maybe.length.toLong * r.lookupScanRatio < r.count) {
              maybe.foreach { case (k, i) => out(i) = r.lookup(k) }
            } else {
              val sorted = maybe.sortWith((a, b) =>
                java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
              // Merge pass on the CACHED reader when the format's
              // sequential reads are positioned-only (kvz: its block
              // index loaded once at open stays reused across every
              // dense batch); a seek-pointer-owning format (plain kv)
              // gets a fresh handle per pass — cheap there, its open is
              // one 20-byte trailer read.
              val merge = if (r.concurrentIterators) r
                else KvFile.open(fs, new Path(g.shardDir(shard), KvFile.DataFileName))
              try {
                val it = merge.iterator
                var cur: (Array[Byte], Array[Byte]) = null
                sorted.foreach { case (k, i) =>
                  while ((cur == null || java.util.Arrays.compareUnsigned(cur._1, k) < 0)
                      && it.hasNext) cur = it.next()
                  out(i) =
                    if (cur != null && java.util.Arrays.compareUnsigned(cur._1, k) == 0)
                      Some(cur._2)
                    else None
                }
              } finally if (merge ne r) merge.close()
            }
        }
      }
    if (groups.length <= 1) groups.foreach { case (s, w) => processGroup(s, w) }
    else {
      val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]](groups.length)
      groups.foreach { case (s, w) =>
        tasks.add(() => processGroup(s, w))
      }
      val futures = KvDomainReader.lookupPool.invokeAll(tasks)
      futures.forEach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Key-range scan over the hosted shards (unsigned-lexicographic
    * bounds, `None` = open end) — the serving-side twin of
    * [[DomainStore.rangeScan]]: prefix sweeps, ID-range extractions,
    * ordered exports, all without Spark on the classpath. Hash-sharding
    * scatters a range over every shard, but WITHIN each shard the
    * [[KvFile.Reader.range]] cursor binary-searches to the start and
    * stops at the first key past the end, so I/O is proportional to the
    * matching records. Two modes:
    *  - `globalOrder = false` (default): shards stream one at a time —
    *    ONE open handle regardless of shard count (the 64k-shard-safe
    *    shape; results are key-ordered within each shard only);
    *  - `globalOrder = true`: all hosted shards open at once, k-way
    *    merged to one globally key-ordered stream — one fd per hosted
    *    shard, the localized-subset serving shape, not the 64k-shard
    *    full-domain one.
    * The cursor owns its file handles (fresh per call — the cached
    * lookup readers stay pread-only for concurrency): exhausting it
    * closes them; abandoning it early requires [[KvDomainReader.RangeCursor.close]]
    * (it is AutoCloseable — use it in a try/finally or resource block). */
  def range(
      from: Option[Array[Byte]] = None,
      to: Option[Array[Byte]] = None,
      fromInclusive: Boolean = true,
      toInclusive: Boolean = true,
      globalOrder: Boolean = false,
      shards: Option[Set[Int]] = None): KvDomainReader.RangeCursor = withGen { g =>
    // The cursor opens fresh handles lazily from this generation's files:
    // it keeps reading the version it was created on even across a
    // refresh (snapshot semantics — the files persist until a cleanup
    // reaps the version, same as the reference's retained versions). The
    // file list comes from the generation's SNAPSHOT, so a reaped file
    // fails the cursor loudly instead of silently dropping a shard's rows.
    // An explicit shard filter keeps the lookup surface's wrong-host
    // loudness: asking for a shard this box does not host throws (a
    // silently-empty answer would be indistinguishable from a
    // legitimately empty shard).
    shards.foreach(_.foreach { s =>
      require(s >= 0 && s < numShards, s"shard $s outside [0, $numShards)")
      checkHosted(s)
    })
    val files = (0 until numShards)
      .filter(s => shards.forall(_.contains(s)))
      .filter(g.presentShards)
      .map(s => new Path(g.shardDir(s), KvFile.DataFileName))
    new KvDomainReader.RangeCursor(
      fs, files, from, fromInclusive, to, toInclusive, globalOrder)
  }

  /** Total pairs across the hosted shards — one trailer read per shard
    * file, opened and closed per probe: counting must NOT pin numShards
    * handles in the lookup cache (at 64k shards that is fd exhaustion for
    * a call that only wants 20 bytes per file). Expressed as the sum of
    * the pooled [[censusOf]] so count/shardCounts/metadata can never
    * count differently (the r11 count() fix stopped one method short:
    * censusOf backed the wire META op and the dashboard shard table and
    * stayed a ~22 s serial stall at 64Ki shards). */
  def count(): Long = withGen(g => censusOf(g).iterator.map(_._2).sum)

  /** One bounded, globally key-ordered page (see
    * [[ServingReader.rangePage]]): a [[range]] cursor in globalOrder
    * mode, drained to the first cap and closed. The cursor snapshots ONE
    * generation, so the page can never mix versions — the (vLo, vHi)
    * stamps are taken around the whole read and certify WHICH version it
    * was (a refresh landing mid-page swaps the serving pointer but not
    * this page's already-opened files, exactly the MULTI_GET contract). */
  override def rangePage(
      from: Option[Array[Byte]], fromInclusive: Boolean,
      to: Option[Array[Byte]], toInclusive: Boolean,
      maxRecords: Int, maxBytes: Long,
      shards: Option[Set[Int]] = None): RangePage = {
    require(maxRecords > 0, s"rangePage: maxRecords $maxRecords must be positive")
    val vLo = servedVersion
    val cursor = range(from, to, fromInclusive, toInclusive,
      globalOrder = true, shards = shards)
    try {
      val it = cursor.buffered
      val out = IndexedSeq.newBuilder[(Array[Byte], Array[Byte])]
      var n = 0
      var bytes = 0L
      var full = false
      var lastKey: Array[Byte] = null
      while (!full && it.hasNext) {
        val (k, v) = it.next()
        out += ((k, v))
        lastKey = k
        n += 1
        bytes += k.length + (if (v == null) 0 else v.length)
        // byte cap applies from the second record on: one jumbo record
        // must still move the page forward, or a resume loops in place
        full = n >= maxRecords || bytes >= maxBytes
      }
      // A truncated page must END BETWEEN KEYS: duplicate keys are legal
      // in non-dedup'd builds, and the resume contract is
      // `from = lastKey EXCLUSIVE` — cutting inside a duplicate run
      // would silently drop the run's remaining copies. Drain the run to
      // its end (typically 0 extra records), but refuse to balloon a
      // bounded page without limit: past maxRecords extra copies, fail
      // LOUD naming the key — that domain needs a dedup'd build (or the
      // full-scan surface), never a silently short scan.
      if (full && it.hasNext) {
        var extra = 0
        var extraBytes = 0L
        // the extension is bounded by generous caps, not the (possibly
        // tiny) page size: real duplicate runs are small, and the
        // guarantee requires the whole run on this page no matter how
        // small the caller's page was. But both dimensions are FINITE —
        // count AND bytes — because the drain materializes in one
        // in-memory page (and one response frame): a key duplicated 500k
        // times with multi-KB values would otherwise OOM the daemon
        // before the count cap fired. Past either cap, fail loud rather
        // than balloon one frame without limit.
        // overflow-safe: an unbounded-byte page (maxBytes near
        // Long.MaxValue — the ring scan's record-capped pages) keeps an
        // unbounded drain; 8 * MaxValue would wrap NEGATIVE and collapse
        // the cap to the 1 MB floor, breaking legal multi-MB dup runs
        val extraByteCap =
          if (maxBytes >= Long.MaxValue / 8) Long.MaxValue
          else math.max(8L * math.max(maxBytes, 0L), 1L << 20)
        while (it.hasNext &&
            java.util.Arrays.compareUnsigned(it.head._1, lastKey) == 0) {
          val (ek, ev) = it.next()
          out += ((ek, ev))
          extra += 1
          extraBytes += ek.length + (if (ev == null) 0L else ev.length.toLong)
          if (extra > KvDomainReader.MaxDupRunExtension ||
              extraBytes > extraByteCap)
            throw new IllegalStateException(
              s"rangePage: key of ${lastKey.length} bytes repeats past the " +
                s"drain caps ($extra extra records, $extraBytes extra bytes; " +
                s"caps ${KvDomainReader.MaxDupRunExtension} records / " +
                s"$extraByteCap bytes) — a page cannot end inside the run " +
                "(duplicate-key resume would drop the rest); dedup the " +
                "build before serving range scans")
        }
      }
      RangePage(vLo, servedVersion, out.result(), truncated = it.hasNext)
    } finally cursor.close()
  }

  /** One generation's trailer-tail shard census — the shared kernel of
    * [[count]], [[shardCounts]] and [[metadata]] (one definition: the
    * three surfaces must never count differently). Present-shard trailer
    * reads fan over the shared bounded pool via
    * [[KvDomainReader.fanCounts]] — a serial loop here was the same
    * 0.34 ms/shard class the r11 audit measured at ~22 s for 64Ki shards,
    * and this method backs the wire META op (`metadata()`, KvServer op
    * 10) and the dashboard shard table, so a page view must not stall
    * the serving box. Absent shard dirs cost nothing (the generation
    * snapshot answers them without I/O); `present = false` means no data
    * file on this box (empty shard, or not localized here —
    * indistinguishable by design). */
  private def censusOf(g: Generation): Seq[(Int, Long, Boolean)] = {
    val present = (0 until numShards).filter(g.presentShards) // ascending
    val counts = KvDomainReader.fanCounts(
      fs, present.map(s => new Path(g.shardDir(s), KvFile.DataFileName)))
    var pi = 0
    (0 until numShards).map { s =>
      if (pi < present.length && present(pi) == s) {
        val t = (s, counts(pi), true); pi += 1; t
      } else (s, 0L, false)
    }
  }

  def shardCounts(): Seq[(Int, Long, Boolean)] = withGen(censusOf)

  /** [[ServingReader.metadata]]: spec fields + version pair + the PRESENT
    * shard set with counts (one generation snapshot — the census and the
    * version stamp can never disagree). `latestPublished` = -1 for a bare
    * localized subset (no version history to consult). */
  override def metadata(): DomainMeta = withGen { g =>
    DomainMeta(
      numShards = numShards,
      servedVersion = g.version,
      latestPublished = versionsOpt.flatMap(_.mostRecentVersion).getOrElse(-1L),
      persistenceFormat = spec.persistenceFormat,
      shardScheme = spec.shardScheme,
      indexer = spec.indexer,
      indexType = spec.indexType,
      shards = censusOf(g).collect {
        case (s, n, true) => DomainMeta.ShardInfo(s, n)
      })
  }

  def close(): Unit = lifecycle.synchronized {
    if (!closed) {
      closed = true
      gen.release() // handles close when the last in-flight lookup drains
    }
  }
}

object KvDomainReader {

  /** Cap on how far a [[rangePage]] extends past its size caps to finish
    * a duplicate-key run (truncated pages must end between DISTINCT
    * keys or the exclusive resume drops copies). Generous — real dup
    * runs are a handful of records — but finite: a single key repeated
    * past this makes the page error loud instead of ballooning one
    * response frame without bound. */
  val MaxDupRunExtension: Int = 1 << 20

  /** Shared bounded pool for fanning one multiGet batch out across its
    * shard groups. ONE process-wide pool (daemon threads, sized to the
    * box) keeps total lookup parallelism capped no matter how many
    * concurrent connections batch at once — per-call pools would
    * multiply. Tasks are pure positioned-read I/O with no inter-task
    * waits, so queueing excess groups behind the cap is safe (no
    * deadlock: multiGet itself never runs ON this pool). */
  private[store] val lookupPoolThreads: Int =
    math.max(4, Runtime.getRuntime.availableProcessors())

  private[store] lazy val lookupPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      lookupPoolThreads,
      (r: Runnable) => {
        val t = new Thread(r, "graft-kv-lookup")
        t.setDaemon(true)
        t
      })

  /** Fan one trailer-tail `KvFile.count` per file over the shared
    * [[lookupPool]] and return the counts aligned with `files`. Two
    * deliberate differences from a bare `invokeAll` (a census sweep can
    * be 64Ki tasks — metadata must not starve the serving path):
    *  - in-flight submissions are CAPPED below the pool size, so
    *    concurrent multiGet shard groups always find free threads
    *    instead of queueing behind the whole sweep (head-of-line);
    *  - completions drain through a CompletionService so the first
    *    failed shard read rethrows IMMEDIATELY (not after the remaining
    *    tens of thousands of tasks finish), with the not-yet-started
    *    remainder cancelled.
    * Tasks are pure open+tail-read+close I/O and this method never runs
    * ON the pool, so the no-deadlock argument is multiGet's own. */
  private[store] def fanCounts(
      fs: FileSystem, files: IndexedSeq[Path]): IndexedSeq[Long] = {
    if (files.length <= 1) files.map(p => KvFile.count(fs, p))
    else {
      val ecs = new java.util.concurrent.ExecutorCompletionService[(Int, Long)](lookupPool)
      val out = new Array[Long](files.length)
      // leave headroom: a census may be 64k tasks, lookups must not wait
      val inFlightCap = math.max(2, lookupPoolThreads - 2)
      val pending = new java.util.ArrayList[java.util.concurrent.Future[(Int, Long)]]()
      var submitted = 0
      var completed = 0
      var failure: Throwable = null
      try {
        while (completed < files.length && failure == null) {
          while (submitted < files.length && submitted - completed < inFlightCap) {
            val i = submitted
            pending.add(ecs.submit(() => (i, KvFile.count(fs, files(i)))))
            submitted += 1
          }
          val f = ecs.take()
          completed += 1
          try { val (i, n) = f.get(); out(i) = n }
          catch { case e: java.util.concurrent.ExecutionException => failure = e.getCause }
        }
      } finally if (failure != null) pending.forEach(_.cancel(false))
      if (failure != null) throw failure
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }

  /** Streaming cursor over a key range (see [[KvDomainReader.range]]).
    * Owns its [[KvFile.Reader]] handles: each closes when its shard
    * exhausts (sequential mode) or when the merged stream ends; [[close]]
    * releases whatever is still open after an early abandon. Not
    * thread-safe (one consumer), but independent cursors and concurrent
    * `get`s coexist — the cursor never touches the reader's lookup
    * cache. */
  final class RangeCursor private[store] (
      fs: FileSystem,
      files: Seq[Path],
      from: Option[Array[Byte]],
      fromInclusive: Boolean,
      to: Option[Array[Byte]],
      toInclusive: Boolean,
      globalOrder: Boolean)
      extends Iterator[(Array[Byte], Array[Byte])] with AutoCloseable {

    private var open = List.empty[ShardReader]

    private def openStream(p: Path): Iterator[(Array[Byte], Array[Byte])] = {
      // `files` is pre-filtered to the generation's snapshot, so p existed
      // when the cursor was created: a missing file here means a cleanup
      // reaped the version mid-cursor — KvFile.open's
      // FileNotFoundException is the LOUD outcome (a silent skip would
      // drop the whole shard's rows from the range; there is deliberately
      // NO missing-file-is-skipped path, which is why this returns the
      // iterator directly rather than an Option suggesting one).
      val r = KvFile.open(fs, p)
      open ::= r
      r.range(from, fromInclusive, to, toInclusive)
    }

    private def release(r: ShardReader): Unit = {
      try r.close() catch { case _: Exception => () }
      open = open.filterNot(_ eq r)
    }

    private val underlying: Iterator[(Array[Byte], Array[Byte])] =
      if (globalOrder) {
        // the merge opens EVERY shard eagerly; if the Nth open throws
        // (version reaped mid-construction, I/O error) the constructor
        // never returns a cursor the caller could close() — release the
        // N-1 handles already opened before rethrowing, or a failover
        // retry loop leaks a set of file descriptors per attempt
        try KvMerge.byKey(files.map(openStream))
        catch { case e: Throwable => close(); throw e }
      } else new Iterator[(Array[Byte], Array[Byte])] {
        private var rem = files.toList
        private var cur: Iterator[(Array[Byte], Array[Byte])] = Iterator.empty
        private var curReader: ShardReader = null
        private def advance(): Unit = {
          while (!cur.hasNext && rem.nonEmpty) {
            if (curReader != null) { release(curReader); curReader = null }
            cur = openStream(rem.head)
            curReader = open.head
            rem = rem.tail
          }
          if (!cur.hasNext && curReader != null) { release(curReader); curReader = null }
        }
        def hasNext: Boolean = { advance(); cur.hasNext }
        def next(): (Array[Byte], Array[Byte]) = { advance(); cur.next() }
      }

    def hasNext: Boolean = {
      val h = underlying.hasNext
      if (!h) close() // exhausted: everything still open can go
      h
    }
    def next(): (Array[Byte], Array[Byte]) = underlying.next()

    override def close(): Unit = {
      open.foreach(r => try r.close() catch { case _: Exception => () })
      open = Nil
    }
  }

  /** Open the newest PUBLISHED version of a full domain root (engine
    * `domain-spec.json` or reference `domain-spec.yaml` accepted — the
    * resolution is [[DomainStore.readSpec]], shared so the serving reader
    * can never accept/reject a spec the store half wouldn't). */
  def open(root: String, conf: Configuration): KvDomainReader =
    open(root, conf, None)

  /** As [[open]], with a declared hosted-shard set (the ring assignment)
    * — the versioned-serving twin of [[localized]]'s `hostedShards`: a
    * probe routed outside the set fails loud (wrong host) instead of
    * reading as 'key absent'. This is the reader shape a serving box uses
    * over its [[DomainStore.localizeVersionForHost]]-maintained local
    * root: the root is a full versioned store holding only this host's
    * shard subset, so `refresh()` follows each pulled version while
    * misroutes stay loud. */
  def open(
      root: String,
      conf: Configuration,
      hostedShards: Option[Set[Int]]): KvDomainReader = {
    RamFileSystem.register(conf)
    val rootPath = new Path(root)
    val spec = DomainStore.readSpec(rootPath, conf)
    hostedShards.foreach { hs =>
      require(hs.forall(s => s >= 0 && s < spec.numShards),
        s"hostedShards ${hs.toSeq.sorted} out of range for ${spec.numShards} shards")
    }
    val versions = new VersionedStore(rootPath, conf)
    val version = versions.mostRecentVersion.getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    new KvDomainReader(
      versions.versionPath(version), version, Some(versions), hostedShards, spec, conf)
  }

  /** Serve a `DomainStore.localize` output dir (bare `shard=<i>` subset).
    * The spec travels out-of-band — localize ships shard dirs only. No
    * version history, so [[KvDomainReader.refresh]] is unavailable.
    * Pass `hostedShards` (the ring assignment this box pulled, e.g.
    * `ring.shardSet(host)`) to make a MISROUTED probe fail loud — the
    * reference's WrongHostException — instead of reading as 'key
    * absent'; without it a non-hosted shard is indistinguishable from an
    * empty one (both write no dir). */
  def localized(
      dir: String,
      spec: DomainSpec,
      conf: Configuration,
      hostedShards: Option[Set[Int]] = None): KvDomainReader = {
    RamFileSystem.register(conf)
    hostedShards.foreach { hs =>
      // an EMPTY hosted set is legal (more hosts than shard slots deals
      // some hosts nothing — every probe is then wrong-host, correctly)
      require(hs.forall(s => s >= 0 && s < spec.numShards),
        s"hostedShards ${hs.toSeq.sorted} out of range for ${spec.numShards} shards")
    }
    new KvDomainReader(new Path(dir), -1L, None, hostedShards, spec, conf)
  }
}
