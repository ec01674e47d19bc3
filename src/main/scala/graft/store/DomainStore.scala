package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DomainSpec

/**
 * A *domain*: a named, versioned, sharded key-value dataset — the engine's
 * re-expression of the reference's DomainStore + write pipeline + read
 * surface (SURVEY.md §1.1, §2.2, §2.3). Layout:
 *
 *   <root>/domain-spec.json            spec (numShards, scheme, format)
 *   <root>/<version>/shard=<i>/part-….parquet   sorted-by-key parquet per shard
 *   <root>/<version>.version           publish token
 *
 * Design notes for scale (SURVEY.md §7):
 *  - `shard=<i>` is a real partition column, so key lookups prune to one
 *    directory via built-in partition pruning — the Spark equivalent of the
 *    reference's "a lookup touches exactly 1 of N shards" routing
 *    (HashModScheme.java:7-11).
 *  - Within a shard, files are sorted by key, so parquet min/max row-group
 *    stats skip most of a shard on point lookups — replacing the B-tree.
 *  - The build is one shuffle (repartition to shards) + in-partition sort,
 *    exactly the reference's single GroupBy-with-secondary-sort
 *    (KeyValTailAssembly.java:61-85); numShards is decoupled from cluster
 *    parallelism, so a 100 TB domain just uses a larger numShards.
 */
class DomainStore(val root: Path, val spec: DomainSpec, conf: Configuration) {
  spec.validate()
  // ramfs:// is self-registering so memory-format domains (and any domain
  // hosted on the test filesystem) resolve without caller conf fiddling.
  RamFileSystem.register(conf)
  if (spec.persistenceFormat == DomainSpec.Memory)
    require(
      root.toUri.getScheme == RamFileSystem.SchemeName,
      s"memory persistence requires a ${RamFileSystem.SchemeName}:// root, got $root")

  val versions = new VersionedStore(root, conf)

  def numShards: Int = spec.numShards

  // ------------------------------------------------- shard-dir resolution

  /** Shard links of a version (see [[VersionedStore.readLinks]]): a
    * manifest-linked publish records untouched shards as
    * `shard -> physical-host version` instead of copying their dirs.
    * Cached per version — published versions are immutable; the writer
    * ([[writeLinksManifest]]) refreshes the entry so an in-build read
    * (buildIndex over an unpublished version) can never see a stale
    * pre-write cache. Bounded like IndexMarker.verified: a perpetual
    * linked streaming publisher accretes one ~numShards-entry map per
    * micro-batch version, so the cache is a [[graft.core.LruRegistry]]
    * capped at [[DomainStore.MaxCachedLinkVersions]] — oldest-accessed
    * entries evict one by one (never a wholesale clear that would burst
    * manifest re-reads across ALL live versions every cap crossing);
    * correctness never depends on a hit (a miss re-reads the manifest).
    * Loads run UNDER the registry lock (cheap: one small json read) so
    * they serialize with [[voidVersionCaches]]'s remove — an unlocked
    * load racing a same-id rebuild could put() its stale map back AFTER
    * the void and silently resurrect the links the invalidation killed
    * (the serialization the pre-r16 ConcurrentHashMap.computeIfAbsent
    * provided; restored by review in r16). */
  private val linksCache =
    new graft.core.LruRegistry[Long, Map[Int, Long]](DomainStore.MaxCachedLinkVersions)

  private[store] def linksOf(version: Long): Map[Int, Long] =
    linksCache.getOrElseUpdateLocked(version)(
      v => VersionedStore.readLinks(root.getFileSystem(conf), versions.versionPath(v)))

  /** Void this instance's per-version caches before (re)building
    * `version`: a same-id delete+rebuild (the flow
    * [[VersionedStore.tokenMtime]] exists to support) must not serve the
    * OLD build's bloom-sidecar probes — a stale "definitely absent" is a
    * silent wrong answer (IndexMarker keys its marker cache by token
    * mtime for the same reason; the publishing instance can simply
    * invalidate). Cross-INSTANCE same-id rebuilds remain out of contract
    * for long-lived handles — re-open the store (the immutability
    * assumption both cache docs state). */
  private def voidVersionCaches(version: Long): Unit = {
    linksCache.remove(version)
    probeCache.synchronized {
      probeCache.keySet.removeIf(k => k._1 == version)
    }
  }

  /** The version's LINK FOOTPRINT — the retention-valve gauge for
    * perpetual linked publishing: how many shards ride `_links.json`
    * (`linkedShards`), how many DISTINCT older versions they point at
    * (`targetVersions`), and the OLDEST of them (`oldestTarget` — the
    * link-aware GC fixpoint can never reap past it, so
    * `version - oldestTarget` is exactly the history a linked head
    * PINS). All zeros-at-version for a self-contained head. Run
    * [[compact]] (or streaming `compactEvery`) when the pinned span
    * exceeds what retention wants — this is that decision's number.
    * One cached manifest read; zero Spark jobs. */
  def linkFootprint(version: Long = latestVersion): DomainStore.LinkFootprint = {
    val links = linksOf(version)
    val targets = links.values.toSet
    DomainStore.LinkFootprint(
      linkedShards = links.size,
      targetVersions = targets.size,
      oldestTarget = if (targets.isEmpty) version else targets.min)
  }

  /** THE shard-dir resolution seam: every read path (scans, lookups,
    * audits, stats, transfers) locates shard `s` of `version` through
    * here, so linked and physical shards are indistinguishable to
    * consumers. One map probe on the copy-mode default. */
  private[store] def shardDirOf(version: Long, s: Int): Path =
    new Path(versions.versionPath(linksOf(version).getOrElse(s, version)), s"shard=$s")

  private[store] def shardDirStrOf(version: Long, s: Int): String =
    shardDirOf(version, s).toString

  /** Write a version's shard-link manifest (linked publishes; the
    * copy-mode default writes none — absent = no links). Loss of this
    * file after publish is the same severity class as losing a shard dir
    * itself (linked shards would read as empty); parse corruption fails
    * loud at read ([[VersionedStore.readLinks]]). */
  private def writeLinksManifest(version: Long, links: Map[Int, Long]): Unit = {
    if (links.nonEmpty) {
      val fs = root.getFileSystem(conf)
      val out = fs.create(new Path(versions.versionPath(version), VersionedStore.LinksFileName), true)
      try out.write(VersionedStore.linksToJson(links).getBytes("UTF-8"))
      finally out.close()
    }
    linksCache.put(version, links)
  }

  /** Resolved sharding scheme (the registry seam — reference
    * DomainSpec.java:46-52 loads any shardingScheme class by name): ONE
    * instance per store; every routing site (write sharding, multiGet /
    * get / lookupJoin routing, fsck's misroute audit, patch deltas) goes
    * through [[routedShard]] / [[routeKey]] so a custom scheme can never
    * half-apply. Resolution already validated by `spec.validate()`. */
  private val scheme: graft.core.ShardScheme = graft.core.ShardScheme.forName(spec.shardScheme)
  private val isHashMod: Boolean = scheme eq graft.core.ShardScheme.HashMod

  /** The routing column of this domain's scheme. */
  private def routedShard(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.core.ShardScheme.routingColumn(scheme, key, numShards)

  /** Driver/serving-side routing of one key. */
  private def routeKey(key: Array[Byte]): Int = scheme.shardIndex(key, numShards)

  /** Write-time index hook (reference Indexer SPI, W5), class-name-loaded
    * from the spec. Resolved eagerly so a typo'd class name fails at open
    * time, not mid-publish. */
  private val indexerOpt: Option[Indexer] = spec.indexerClass.map { cn =>
    try Indexer.forName(cn)
    catch {
      case e: ClassNotFoundException =>
        throw new IllegalArgumentException(s"domain spec names unknown indexer class '$cn'", e)
    }
  }

  // ----------------------------------------------------------------- write

  /** Storage-engine selector — the engine's Coordinator SPI plug point
    * (reference S7: BDB vs LevelDB chosen per domain spec). `parquet` /
    * `orc` are Spark datasources, both sorted and compressed; point-lookup
    * row-group skipping on binary keys is a parquet capability only (ORC
    * search arguments carry no BINARY predicate type), so `parquet-sorted`
    * is the point-lookup engine and `orc-sorted` the scan-oriented
    * alternative — shard-level partition pruning applies to both. `kv` is
    * NOT a datasource: the servable [[KvFile]] format, written/parsed by
    * this store directly (Spark scans decode it per shard; point gets
    * binary-search it with no Spark job at all). */
  private val format: String = spec.persistenceFormat match {
    case DomainSpec.ParquetSorted => "parquet"
    case DomainSpec.OrcSorted => "orc"
    case DomainSpec.Memory => "parquet" // parquet layout on ramfs://
    case DomainSpec.KvSorted => "kv"
    case DomainSpec.KvSortedZ => "kvz" // block-compressed kv ([[KvzFile]])
    case f => throw new IllegalArgumentException(s"unsupported persistenceFormat '$f'")
  }
  /** Both servable kv formats share one layout, file name, and read path
    * ([[KvFile.open]] sniffs the magic); only the shard-file writer
    * branches. Everything gated on `isKv` applies to both. */
  private val isKv: Boolean = format == "kv" || format == "kvz"
  private val fileSuffix: String =
    if (format == "orc") ".orc" else if (isKv) ".kv" else ".parquet"

  /** Datasource options every Spark read/write of this domain needs:
    * Spark folds them into the per-query Hadoop conf, which is how the
    * executors learn to resolve ramfs:// paths. */
  private val fsOptions: Map[String, String] =
    if (root.toUri.getScheme == RamFileSystem.SchemeName) RamFileSystem.ConfEntries
    else Map.empty

  /**
   * Bulk build: shardize -> one shuffle -> per-partition sort -> parquet.
   * `df` must have columns `key: binary`, `value: binary`. The version is
   * only visible to readers after the token is written (all-or-nothing
   * publish, reference ElephantDBTap.java:166-188).
   */
  def write(df: DataFrame, version: Long, dedupKeys: Boolean = false): Unit = publishing(version) {
    val kv0 = df.select(col("key"), col("value"))
    val kv = if (dedupKeys) kv0.dropDuplicates("key") else kv0
    writeShards(kv, version, 0 until numShards)
    buildIndex(df.sparkSession, version, onlyShards = None)
    writeOriginsManifest(version, _ => version) // full rebuild: every shard is new
    // full rebuild = no links; the explicit empty write REFRESHES the
    // links cache — a failed LINKED publish retried as a full build at
    // the SAME version id would otherwise keep serving the stale link
    // map on this instance (silent stale reads from origin dirs)
    writeLinksManifest(version, Map.empty)
  }

  /** The one version lifecycle of every publish ([[write]], [[patch]],
    * [[compact]], [[DomainStore.transcode]]): create the version, void
    * this instance's caches of any earlier build under the same id, run
    * `body`, then write the token — or, if `body` throws, mark the
    * version failed and drop the failed attempt's links. */
  private def publishing(version: Long)(body: => Unit): Unit = {
    versions.createVersion(version)
    voidVersionCaches(version) // same-id rebuild: old sidecars/links are void
    try {
      body
      versions.succeedVersion(version)
    } catch {
      case e: Throwable =>
        versions.failVersion(version)
        linksCache.remove(version) // the failed attempt's links are void
        throw e
    }
  }

  /** Materialize the canonical sharded+sorted layout of `targets`, the
    * shards `kv`'s keys route to — every shard on a full [[write]], the
    * affected ones on a datasource-format [[patch]]. Datasource formats
    * go through Spark's writer; the kv format streams each shard's sorted
    * run through [[KvFile.write]] inside the shard's own task. */
  private def writeShards(kv: DataFrame, version: Long, targets: Seq[Int]): Unit = {
    val sorted = shardedSorted(kv.withColumn("shard", routedShard(col("key"))), targets)
    if (isKv) writeKvShards(sorted, version)
    else sorted
      .write
      .format(format)
      .option("compression", "zstd")
      .options(spec.persistenceOptions) // engine tuning passthrough (reference persistenceOptions)
      .options(fsOptions)
      .partitionBy("shard")
      .save(versions.versionPath(version).toString)
  }

  /** kv-sorted write: the same one-shuffle plan as the datasource path
    * (shard routed to its own task, sorted by (shard, key) — already the
    * order [[KvFile.write]] requires), but the terminal operator streams
    * each shard's rows into `shard=<i>/part-0.kv` from the executor, and
    * builds the shard's index sidecar in the same task
    * ([[DomainStore.writeKvShardFile]] has the commit protocol). */
  private def writeKvShards(sorted: DataFrame, version: Long): Unit = {
    // mkdirs so an all-empty build still publishes a readable version dir
    versions.versionPath(version).getFileSystem(conf).mkdirs(versions.versionPath(version))
    writeSortedKvRows(sorted.select(col("shard"), col("key"), col("value")), version)
  }

  /** kvz engine tuning via the spec's persistenceOptions — the
    * reference's Coordinator-options pattern (BDB log sizes, LevelDB
    * cache — `persistence_opts` in DomainSpec.java:28-30) applied to the
    * compressed engine: `block-size` = raw bytes per Deflate block
    * (default [[KvzFile.DefaultBlockSize]]; smaller → cheaper point
    * lookups that miss the shared decoded-block cache ([[KvzBlockCache]]
    * — a miss inflates one whole block) and finer cache granularity,
    * larger → better ratio for scans). Validated at store construction
    * so a typo fails at open, not mid-publish. */
  private val kvzBlockSize: Int = spec.persistenceOptions.get("block-size") match {
    case _ if format != "kvz" => KvzFile.DefaultBlockSize // datasource opts pass through untouched
    case None => KvzFile.DefaultBlockSize
    case Some(s) =>
      val v = try s.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"persistenceOptions block-size '$s' is not an integer")
      }
      require(v > 0, s"persistenceOptions block-size must be positive, got $v")
      v
  }

  /** Terminal write of (shard, key, value) rows ALREADY sorted by
    * (shard, key) within each partition: streams each shard's run into
    * `shard=<i>/part-0.kv` from the shard's own task, and its index
    * sidecar with it. Shared by the canonical build (post-shuffle) and
    * [[DomainStore.transcode]]'s zero-shuffle path (layout-reporting
    * scan). */
  private def writeSortedKvRows(sorted: DataFrame, version: Long): Unit = {
    val spark = sorted.sparkSession
    import spark.implicits._
    val confEntries = DomainStore.serializableConf(conf)
    val base = versions.versionPath(version).toString
    val (compressed, blockSize, ix) = (format == "kvz", kvzBlockSize, indexerOpt)
    sorted
      .as[(Int, Array[Byte], Array[Byte])]
      .foreachPartition { (it: Iterator[(Int, Array[Byte], Array[Byte])]) =>
        val c = DomainStore.rebuildConf(confEntries)
        DomainStore.shardRuns(it)(_._1).foreach { case (shard, run) =>
          DomainStore.writeKvShardFile(
            base, shard, run.map(r => (r._2, r._3)), c, compressed, blockSize, ix)
        }
      }
  }

  /** A kv patch's rewrite: only the delta moves. Its rows — (shard, key,
    * value, isDelete), a delete carrying no value — are routed and sorted
    * by [[shardedSorted]], one task per affected shard, and the task that
    * owns affected shard s streams the old version's
    * shard-s files once ([[DomainStore.mergeDelta]]) into the new shard
    * file and its sidecar. The old shard never becomes Spark rows, is
    * never shuffled and never re-sorted: it is already sorted on disk.
    * A shard the merge leaves empty writes no dir (it reads as empty). */
  private def mergeKvShards(
      delta: DataFrame,
      oldVersion: Long,
      newVersion: Long,
      affected: Set[Int]): Unit = {
    val spark = delta.sparkSession
    import spark.implicits._
    versions.versionPath(newVersion).getFileSystem(conf).mkdirs(versions.versionPath(newVersion))
    if (affected.isEmpty) return
    val confEntries = DomainStore.serializableConf(conf)
    val base = versions.versionPath(newVersion).toString
    // link-aware old shard dirs, resolved here so executors never read
    // a links manifest
    val oldDirs = affected.iterator.map(s => s -> shardDirStrOf(oldVersion, s)).toMap
    val (compressed, blockSize, ix, suffix) = (format == "kvz", kvzBlockSize, indexerOpt, fileSuffix)
    shardedSorted(delta, affected.toSeq)
      .as[(Int, Array[Byte], Array[Byte], Boolean)]
      .foreachPartition { (it: Iterator[(Int, Array[Byte], Array[Byte], Boolean)]) =>
        val c = DomainStore.rebuildConf(confEntries)
        DomainStore.shardRuns(it)(_._1).foreach { case (shard, run) =>
          val dir = new Path(oldDirs(shard))
          val fs = dir.getFileSystem(c)
          val readers = DomainStore.shardFiles(fs, dir, suffix).map { st =>
            val r = KvFile.open(fs, st.getPath)
            // also closed on task completion: an open kvz reader keeps
            // its decoded blocks in the shared cache budget
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => r.close()))
            r
          }
          try {
            val old = readers match {
              case Seq(r) => r.iterator
              case rs => KvMerge.byKey(rs.map(_.iterator))
            }
            val merged = DomainStore.mergeDelta(old, run.map(r => (r._2, r._3, r._4)))
            if (merged.hasNext)
              DomainStore.writeKvShardFile(base, shard, merged, c, compressed, blockSize, ix)
          } finally readers.foreach(_.close())
        }
      }
  }

  /** The one write plan of every publish: route the rows of each of
    * `targets` (the shards the rows' `shard` column can hold) to its own
    * task, and sort each shard by key. A full build passes every shard;
    * a delta passes only its affected shards, so a 5-key delta schedules
    * a handful of tasks, never numShards (64k empty tasks at the 100 TB
    * shard counts). */
  private def shardedSorted(rows: DataFrame, targets: Seq[Int]): DataFrame =
    rows
      .withColumn("_pid", DomainStore.shardToPartitionId(col("shard"), targets, numShards))
      .repartition(math.max(1, targets.size), col("_pid"))
      .sortWithinPartitions("shard", "key")
      .drop("_pid")

  /**
   * Build per-shard index sidecars for a (not yet published) datasource
   * version — the write half of the Indexer SPI (W5) for parquet, orc and
   * memory domains. kv domains never come here: their writer builds each
   * shard's sidecar in the task that writes the shard
   * ([[DomainStore.writeKvShardFile]]). One distributed pass: a
   * column-pruned key scan grouped by shard; the task that owns a shard
   * streams its keys through a [[DomainStore.KeySpill]] into
   * [[Indexer.build]] and writes `shard=<i>/_index.bin` straight from the
   * executor — artifacts never funnel through the driver, so 64k shards
   * of ~MB sidecars stay off the driver heap.
   * No-op when the spec names no indexer. `onlyShards` limits the pass to
   * rewritten shards on an upsert (untouched shards carry their sidecars
   * through copy-forward, inside the shard dir).
   */
  private def buildIndex(
      spark: SparkSession,
      version: Long,
      onlyShards: Option[Set[Int]]): Unit = indexerOpt.filter(_ => !isKv).foreach { ix =>
    import spark.implicits._
    val confEntries = DomainStore.serializableConf(conf)
    val base = versions.versionPath(version).toString
    prunedScan(spark, version, onlyShards.map(_.toSeq))
      .select(col("shard"), col("key"))
      .as[(Int, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (shard, rows) =>
        val spill = new DomainStore.KeySpill(shard)
        val artifact =
          try { rows.foreach(r => spill.add(r._2)); spill.build(ix) }
          finally spill.discard()
        DomainStore.commitSidecar(
          new Path(base, s"shard=$shard"), artifact, DomainStore.rebuildConf(confEntries))
        shard
      }
      .count() // the action; the returned ids are not needed
  }

  // ------------------------------------------------------------------ read

  /** Snapshot read of the newest published version (key, value, shard).
    * Version resolution happens here, at plan time — per-query snapshot
    * isolation, the lock-free replacement for the reference's hot-swap
    * (common/domain.clj:208-228). */
  def read(spark: SparkSession): DataFrame =
    readVersion(spark, latestVersion)

  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    // One token-existence probe, not a directory listing (reads are hot).
    require(versions.isPublished(version), s"version $version not published under $root")
    scanVersion(spark, version)
  }

  /** Layout-reporting scan of a kv-sorted version (newest by default):
    * same (key, value, shard) output as [[read]], but through the
    * [[graft.sources.KvDomainV2]] DataSourceV2 source, which reports the
    * domain's hash-partitioning and per-shard key order to Catalyst. Two
    * same-sharded domains joined on `(shard, key)` through this scan plan
    * a storage-partitioned merge join: ZERO exchange and ZERO sort on
    * either side — the join streams straight off the shard files. Equal
    * keys imply equal shards (`shard = md5(key) mod n`), so the extra
    * `shard` conjunct loses nothing. Only the kv format qualifies: its
    * per-shard sorted runs are readable outside Catalyst's file sources,
    * where partitioning can be reported (the parquet/orc paths go through
    * `FileSourceScanExec`, which reports none). */
  def readPartitioned(spark: SparkSession): DataFrame =
    readPartitioned(spark, latestVersion)

  def readPartitioned(spark: SparkSession, version: Long): DataFrame = {
    require(isKv,
      s"readPartitioned requires the kv-sorted persistence format; this domain is '$format'. " +
        "Re-export via DomainStore.create(..., persistenceFormat = kv-sorted) to serve " +
        "co-partitioned joins.")
    require(versions.isPublished(version), s"version $version not published under $root")
    val vp = versions.versionPath(version).toString
    graft.sources.KvDomainV2.registerConf(vp, DomainStore.serializableConf(conf))
    // link-aware shard-dir overrides, resolved here (driver) and captured
    // by the scan at planning — executors never read the manifest
    graft.sources.KvDomainV2.registerLinks(
      vp, linksOf(version).map { case (s, o) => s -> shardDirStrOf(version, s) })
    spark.read
      .format(classOf[graft.sources.KvDomainTableProvider].getName)
      .option("path", vp)
      .option("shards", numShards.toString)
      .load()
  }

  /** The scan itself, without the publish check — `buildIndex` runs it on a
    * version whose token is not written yet. */
  private def scanVersion(spark: SparkSession, version: Long): DataFrame = {
    if (isKv) return kvScan(spark, version, None)
    // numShards rides the KEY column as SCHEMA metadata, so the scan's
    // own attribute carries it — an alias above the scan would lose it
    // the moment filter pushdown rewrites conditions against the scan
    // output, and the shard PARTITION column cannot carry metadata at
    // all (Spark rebuilds partition attributes without user-field
    // metadata). ShardPruningRule locates the key's leaf relation and
    // pairs it with that same leaf's `shard` attribute to derive
    // `shard = shard_index(X)` from plain `key = X` filters.
    // The pruning tag is HASH-MOD ONLY: ShardPruningRule derives
    // `shard = shard_index(key)` (md5-mod) from key-equality filters, so
    // tagging a custom-scheme domain would inject the WRONG routing and
    // prune real rows away. Custom schemes still prune through multiGet's
    // explicit routing; they just lose the plan-time rule.
    val keyMeta =
      if (!isHashMod) org.apache.spark.sql.types.Metadata.empty
      else new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(graft.plans.ShardPruningRule.NumShardsKey, numShards.toLong)
        .build()
    val schema = org.apache.spark.sql.types.StructType(
      DomainStore.DomainSchema.map {
        case f if f.name == "key" => f.copy(metadata = keyMeta)
        case f => f
      })
    def loadBase(basePath: Path, paths: Seq[String]): DataFrame = spark.read
      .format(format)
      // Explicit schema: no inference job, and a published-but-empty
      // version (legal: an empty initial build) reads as an empty
      // DataFrame instead of failing schema inference.
      .schema(schema)
      .option("basePath", basePath.toString)
      .options(fsOptions)
      // no cast on shard: the explicit schema already types the partition
      // column int, and a cast's Alias would strip the provenance tag
      .load(paths: _*)
    val vp = versions.versionPath(version)
    val links = linksOf(version)
    if (links.isEmpty) loadBase(vp, Seq(vp.toString))
    else {
      // Linked shards live in older version dirs; basePath must be each
      // group's OWN version dir so the `shard=<i>` partition column still
      // derives from the dir names. One scan per distinct origin plus one
      // for the local (rewritten) shards, unioned — partition pruning and
      // the key-metadata pushdown apply per branch.
      val local = loadBase(vp, Seq(vp.toString))
      val originScans = links.groupBy(_._2).toSeq.sortBy(_._1).map { case (origin, ss) =>
        val base = versions.versionPath(origin)
        loadBase(base, ss.keys.toSeq.sorted.map(s => new Path(base, s"shard=$s").toString))
      }
      originScans.foldLeft(local)(_ unionByName _)
    }
  }

  /** Distributed integrity audit — fsck for a domain version (newest by
    * default): one task element per shard verifies record count, key
    * ROUTING (`shard_index(key) == shard` — a misroute means a foreign
    * file was dropped into the shard dir, or the spec's shard count
    * drifted from the data), and for kv-sorted shards the unsigned key
    * ORDER the binary-search contract rests on (datasource formats
    * return `sorted_ok = null`: scan order is not their contract; their
    * trailer/footer validity is already enforced at open). Keys-only
    * I/O on kv domains. Output: ONE ROW PER SHARD 0..n-1 on every
    * format — a shard whose directory vanished (partial copy,
    * accidental delete) surfaces as n_records = 0, the loss this audit
    * exists to catch — with (shard, n_records, n_misrouted, sorted_ok);
    * a clean domain has sum(n_misrouted) = 0 and no false sorted_ok.
    * At 100 TB this is the publish-day sanity pass: one linear data
    * read; the only exchanges move shard ids and per-shard counts. */
  /** Key-range scan: every (key, value, shard) whose key falls inside the
    * unsigned-lexicographic bounds (`None` = open end) — the read-path
    * capability a SORTED store owes its callers beyond point lookups
    * (prefix scans, time-prefixed key sweeps, ID-range extractions).
    * Hash-sharding spreads a range over every shard, so all shards are
    * touched — but WITHIN each shard I/O is proportional to the range,
    * not the shard:
    *  - kv-sorted: the scan goes through [[readPartitioned]] and the
    *    bounds push into [[graft.sources.KvDomainV2]], where each shard
    *    reader binary-searches the offset index to the range start and
    *    stops at the first key past the end (`KvFile.Reader.range`) —
    *    bytes read ≈ matching records, pinned in KvDomainV2Spec;
    *  - parquet/orc: Spark evaluates the same predicate above the scan
    *    (BinaryType comparisons are not pushed into parquet and binary
    *    row-group stats are unused) — correct, but shard-proportional
    *    I/O; prefer the kv engine for range-heavy workloads.
    * The filter rides the plan declaratively either way, so Catalyst
    * composes it with later projections/joins as usual. For a PREFIX
    * scan use `from = prefix (inclusive), to = prefix+1 (exclusive)`
    * where prefix+1 increments the last non-0xFF byte. */
  def rangeScan(
      spark: SparkSession,
      from: Option[Array[Byte]] = None,
      to: Option[Array[Byte]] = None,
      fromInclusive: Boolean = true,
      toInclusive: Boolean = true): DataFrame = {
    val base = if (isKv) readPartitioned(spark) else read(spark)
    val lo = from.map(b => if (fromInclusive) col("key") >= lit(b) else col("key") > lit(b))
    val hi = to.map(b => if (toInclusive) col("key") <= lit(b) else col("key") < lit(b))
    (lo ++ hi).foldLeft(base)(_ where _)
  }

  /** All keys starting with `prefix` — [[rangeScan]] over
    * `[prefix, prefixSuccessor(prefix))`, so the kv engine's pushdown
    * reads only the prefix run of each shard. The natural query shape
    * for composite keys (`entity‖ts`, `tenant‖id`): every key of one
    * entity/tenant without touching the rest of the domain. */
  def prefixScan(spark: SparkSession, prefix: Array[Byte]): DataFrame =
    rangeScan(
      spark,
      from = Some(prefix),
      to = KvFile.prefixSuccessor(prefix),
      toInclusive = false)

  /** What changed between two published versions: one row per key whose
    * state differs — `change` ∈ added / removed / changed, with both
    * values. The ops question every versioned store gets asked ("what
    * did yesterday's publish touch?"), and on kv-sorted domains it is
    * answered WITHOUT MOVING EITHER VERSION: both sides read through the
    * layout-reporting scan ([[readPartitioned]]), and since every
    * version of a domain shares one sharding scheme, the full-outer
    * join on `(shard, key)` plans as a storage-partitioned merge join —
    * zero exchange, zero sort, a linear streamed pass over both
    * versions' shard files (pinned in KvDomainV2Spec). Upsert-built
    * versions diff in O(changed shards) I/O in practice: copy-forwarded
    * shard files are byte-identical, so their merged runs match
    * row-for-row and emit nothing. Parquet/orc domains get the same
    * semantics through the ordinary scan (one shuffle per side).
    * Presence is tracked by side markers, so a key legitimately present
    * with a NULL value diffs correctly against absence. Assumes unique
    * keys per version (the build default; [[duplicateKeyAudit]] is the
    * check) — duplicate keys would cross-product in the join. */
  def versionDiff(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    def side(version: Long, valueAs: String, marker: String): DataFrame = {
      val base = if (isKv) readPartitioned(spark, version) else readVersion(spark, version)
      base.select(
        col("shard"), col("key"),
        col("value").as(valueAs), lit(true).as(marker))
    }
    side(fromVersion, "old_value", "_in_old")
      .join(side(toVersion, "new_value", "_in_new"), Seq("shard", "key"), "full_outer")
      .withColumn(
        "change",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(!(col("old_value") <=> col("new_value")), lit("changed"))
          .otherwise(lit("same")))
      .where(col("change") =!= "same")
      .select(col("shard"), col("key"), col("change"), col("old_value"), col("new_value"))
  }

  /** Per-shard (shard, n_rows, n_bytes) histogram of the newest version —
    * the SKEW report: a hot shard is the first thing to know about a
    * domain before a 64k-shard build straggles or a lookup fans out
    * unevenly. METADATA-ONLY like [[count]]: rows come from parquet/orc
    * footers or kv trailers, bytes from file status — no data page is
    * ever read. Same two-tier shape as count: a driver thread pool below
    * `distributeAbove` shards, one distributed metadata job above it
    * (the 64k-shard regime, where even directory listing must not be a
    * serial driver loop). Missing shard dirs (empty shards) report
    * (shard, 0, 0) so the histogram is always numShards rows. */
  /** Driver-side shard stats (shard, n_rows, n_bytes) for the latest
    * version — metadata only (footer/trailer counts + file lengths),
    * parallel on the driver pool, ZERO Spark jobs. The small-shard-count
    * tier of [[shardStats]]; ops surfaces ([[graft.Status]]) fold these
    * in plain Scala so a catalog of hundreds of domains costs no
    * per-domain job. Above [[DomainStore.DefaultDistributeAbove]] shards,
    * use the distributed [[shardStats]] instead. */
  private[graft] def shardStatsLocal(): List[(Int, Long, Long)] = {
    val version = latestVersion
    import scala.collection.parallel.CollectionConverters._
    (0 until numShards).par
      .map(s => DomainStore.shardStatsOf(s, shardDirStrOf(version, s), format, fileSuffix, conf))
      .toList
  }

  def shardStats(
      spark: SparkSession,
      distributeAbove: Int = DomainStore.DefaultDistributeAbove): DataFrame = {
    import spark.implicits._
    val rows =
      if (numShards > distributeAbove) {
        val version = latestVersion
        val confEntries = DomainStore.serializableConf(conf)
        val (fmt, suffix) = (format, fileSuffix)
        spark.createDataset((0 until numShards).map(s => (s, shardDirStrOf(version, s))))
          .repartition(math.min(numShards, spark.sparkContext.defaultParallelism))
          .mapPartitions { it =>
            val c = DomainStore.rebuildConf(confEntries)
            it.map { case (s, dir) => DomainStore.shardStatsOf(s, dir, fmt, suffix, c) }
          }
      } else spark.createDataset(shardStatsLocal())
    rows.toDF("shard", "n_rows", "n_bytes")
  }

  def fsck(spark: SparkSession): DataFrame = fsck(spark, latestVersion)

  def fsck(spark: SparkSession, version: Long): DataFrame = {
    import spark.implicits._
    require(versions.isPublished(version), s"version $version not published under $root")
    val n = numShards
    if (isKv) {
      val confEntries = DomainStore.serializableConf(conf)
      val suffix = fileSuffix
      val links = linksOf(version)
      val sch = scheme // Serializable; the task closure must not drag the store
      spark.createDataset((0 until n).map(s => (s, shardDirStrOf(version, s), links.contains(s))))
        .repartition(math.min(n, spark.sparkContext.defaultParallelism))
        .map { case (s, dir, isLinked) =>
          val c = DomainStore.rebuildConf(confEntries)
          val d = new Path(dir)
          val fs = d.getFileSystem(c)
          var records = 0L
          var misrouted = 0L
          var sorted = true
          val corrupt = scala.collection.mutable.ArrayBuffer[String]()
          // A LINKED shard's dir lives in an older version; its absence is
          // never "legitimately empty" (the link manifest recorded data
          // there) — it means the origin was reaped or lost: a finding.
          if (isLinked && !fs.exists(d))
            corrupt += s"$d: linked shard target missing (origin version reaped?)"
          DomainStore.shardFiles(fs, d, suffix)
            .foreach { st =>
              // ONE combined sequential pass per file (auditPass): key
              // framing + routing/order checks + span-CRC verification
              // share a single read — and corruption NEVER crashes the
              // audit: a broken trailer/record/block becomes a finding
              // in the corruption column while every other shard still
              // reports (the audit tool must work exactly when
              // corruption is worst).
              try {
                val r = KvFile.open(fs, st.getPath)
                try {
                  var prev: Array[Byte] = null
                  corrupt ++= r.auditPass { k =>
                    records += 1
                    if (sch.shardIndex(k, n) != s) misrouted += 1
                    if (prev != null && java.util.Arrays.compareUnsigned(prev, k) > 0)
                      sorted = false
                    prev = k
                  }
                } finally r.close()
              } catch {
                case e @ (_: IllegalArgumentException | _: IllegalStateException |
                    _: java.io.IOException) =>
                  corrupt += s"${st.getPath}: ${e.getMessage}"
              }
            }
          (s, records, misrouted, sorted, corrupt.toSeq)
        }
        .toDF("shard", "n_records", "n_misrouted", "sorted_ok", "corruption")
    } else {
      // left-join from the full shard range: a shard whose directory is
      // GONE must audit as a zero-record row, not silently vanish from
      // the report (the kv branch gets this by construction)
      val perShard = readVersion(spark, version)
        .groupBy(col("shard"))
        .agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n_records"),
          org.apache.spark.sql.functions.sum(
            when(routedShard(col("key")) =!= col("shard"), 1L).otherwise(0L))
            .as("n_misrouted"))
      spark.range(n).select(col("id").cast("int").as("shard"))
        .join(perShard, Seq("shard"), "left")
        .select(
          col("shard"),
          coalesce(col("n_records"), lit(0L)).as("n_records"),
          coalesce(col("n_misrouted"), lit(0L)).as("n_misrouted"),
          lit(null).cast("boolean").as("sorted_ok"),
          // datasource formats carry their own page/footer checksums
          // (parquet/orc verify on read); nothing extra to audit here
          array().cast("array<string>").as("corruption"))
    }
  }

  /** Distributed span-CRC audit of a kv version's shard files (the
    * `corruption` half of [[fsck]] without its key scan): one sequential
    * pass per file, findings name file + byte range. Used by transcode's
    * pre-rewrite gate; empty for pre-CRC legacy files. */
  private[store] def integrityFindings(spark: SparkSession, version: Long): Array[String] = {
    import spark.implicits._
    require(isKv, "integrityFindings: kv formats only")
    val confEntries = DomainStore.serializableConf(conf)
    val suffix = fileSuffix
    spark.createDataset((0 until numShards).map(s => shardDirStrOf(version, s)))
      .repartition(math.min(numShards, spark.sparkContext.defaultParallelism))
      .flatMap { dir =>
        val c = DomainStore.rebuildConf(confEntries)
        val d = new Path(dir)
        val fs = d.getFileSystem(c)
        DomainStore.shardFiles(fs, d, suffix).flatMap { st =>
          val r = KvFile.open(fs, st.getPath)
          try r.verifyIntegrity().toSeq finally r.close()
        }
      }
      .collect()
  }

  /** Data-quality audit: keys holding more than one record (legal in a
    * non-dedup'd build — scans surface all of them, lookups pick one
    * unspecified record, so callers that assumed uniqueness want to
    * know). On a kv-sorted domain the per-key count aggregates WITHOUT a
    * shuffle: the layout-reporting scan's KeyGroupedPartitioning already
    * clusters (shard, key), so the aggregation runs within partitions —
    * at 100 TB this audit costs one read, zero exchanges (pinned in
    * KvDomainV2Spec). Other formats pay the one aggregation shuffle.
    * Output: (key, shard, n_records) for keys with n_records > 1. */
  def duplicateKeyAudit(spark: SparkSession): DataFrame = {
    val scan =
      if (isKv) readPartitioned(spark).select("shard", "key")
      else read(spark).select("shard", "key")
    scan.groupBy(col("shard"), col("key"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_records"))
      .where(col("n_records") > 1)
      .select(col("key"), col("shard"), col("n_records"))
  }

  def latestVersion: Long =
    versions.mostRecentVersion.getOrElse(
      throw new IllegalStateException(s"no published version under $root"))

  /** Shard-restricted scan — the internal pruning seam [[multiGet]] and
    * [[upsert]] read through. Datasource formats prune via the partition
    * column (the filter reaches the file index); the kv format prunes by
    * construction (only the named shard dirs are ever opened). */
  private def prunedScan(spark: SparkSession, version: Long, shards: Option[Seq[Int]]): DataFrame =
    if (isKv) kvScan(spark, version, shards)
    else shards match {
      case Some(s) => scanVersion(spark, version).where(col("shard").isin(s.toIndexedSeq: _*))
      case None => scanVersion(spark, version)
    }

  /** Distributed indexed point lookups against a kv-sorted version: the
    * routed key batch, grouped by shard, one task element per probed
    * shard. Per shard the task picks its access pattern by BATCH DENSITY
    * (the trailer count costs one positioned read):
    *  - sparse (keys ≪ records — the 100 TB serving case): one binary
    *    search per key, O(k log n) positioned reads, no scan;
    *  - dense (keys within the format's `lookupScanRatio` of records —
    *    small shard files, bulk-ish batches): ONE buffered sequential
    *    merge against the sorted run; k·log n random preads (each a
    *    checksum-chunk re-read on checksummed filesystems) would cost
    *    more than streaming the whole file. The ratio is per-FORMAT
    *    ([[ShardReader.lookupScanRatio]]): block-compressed shards pay a
    *    block read+inflate per probe, so they cross over far earlier
    *    than plain kv's 256.
    * Returns (key, value, _found) — `_found` distinguishes a stored null
    * value from an absent key. Values stream through the Dataset (never
    * the driver); the reader closes on drain and on task completion. */
  private def kvLookup(
      spark: SparkSession,
      version: Long,
      keyRows: Array[(Array[Byte], Int)]): DataFrame = {
    import spark.implicits._
    val confEntries = DomainStore.serializableConf(conf)
    // per-shard dirs resolved on the driver (link-aware) and shipped AS
    // THE DATASET ROWS — the closure stays link-agnostic and small
    val byShard: Seq[(String, Array[Array[Byte]])] =
      keyRows.groupBy(_._2).view
        .map { case (s, rs) => (shardDirStrOf(version, s), rs.map(_._1)) }.toSeq
    spark.createDataset(byShard)
      .repartition(math.min(byShard.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (dir, ks) =>
        val c = DomainStore.rebuildConf(confEntries)
        val file = new Path(dir, KvFile.DataFileName)
        val fs = file.getFileSystem(c)
        if (!fs.exists(file)) ks.iterator.map(k => (k, null: Array[Byte], false))
        else {
          val r = KvFile.open(fs, file)
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => r.close()))
          // the density pick (KvFile.LookupScanRatio): k·log(n) point
          // probes lose to ONE buffered scan once keys exceed
          // ~records/ratio — logged so a perf investigation can see
          // which side a batch took (r16 verdict item 6)
          val probeSide = ks.length.toLong * r.lookupScanRatio < r.count
          if (DomainStore.log.isDebugEnabled) DomainStore.log.debug(
            s"kvLookup $dir: ${ks.length} keys over ${r.count} records -> " +
              (if (probeSide) "point probes" else "merge scan"))
          val it: Iterator[(Array[Byte], Array[Byte], Boolean)] =
            if (probeSide)
              ks.iterator.map { k =>
                r.lookup(k) match {
                  case Some(v) => (k, v, true)
                  case None => (k, null: Array[Byte], false)
                }
              }
            else {
              // dense: stream the sorted run once, matching against the
              // key set; leftovers are the misses. First occurrence wins
              // for duplicate stored keys, like the binary search.
              val wanted = new java.util.HashMap[java.nio.ByteBuffer, Array[Byte]](ks.length * 2)
              ks.foreach(k => wanted.put(java.nio.ByteBuffer.wrap(k), k))
              val hits = r.iterator.flatMap { case (k, v) =>
                val orig = wanted.remove(java.nio.ByteBuffer.wrap(k))
                if (orig != null) Iterator.single((orig, v, true)) else Iterator.empty
              }
              hits ++ {
                import scala.jdk.CollectionConverters._
                wanted.values().asScala.iterator.map(k => (k, null: Array[Byte], false))
              }
            }
          new Iterator[(Array[Byte], Array[Byte], Boolean)] {
            def hasNext: Boolean = { val h = it.hasNext; if (!h) r.close(); h }
            def next(): (Array[Byte], Array[Byte], Boolean) = it.next()
          }
        }
      }
      .toDF("key", "value", "_found")
  }

  /** Distributed parse of kv-sorted shard files into the domain schema.
    * One task element per shard; each task streams its shard's records
    * through [[KvFile.Reader.iterator]] — Dataset end to end (UnsafeRow
    * serde, no RDD serializer), same closure-conf pattern as the other
    * distributed tiers. `shards = None` scans all of them. */
  private def kvScan(spark: SparkSession, version: Long, shards: Option[Seq[Int]]): DataFrame = {
    import spark.implicits._
    val confEntries = DomainStore.serializableConf(conf)
    val wanted = shards.getOrElse(0 until numShards)
    val suffix = fileSuffix
    if (wanted.isEmpty)
      return spark.emptyDataset[(Array[Byte], Array[Byte], Int)].toDF("key", "value", "shard")
    spark.createDataset(wanted.toSeq.map(s => (s, shardDirStrOf(version, s))))
      .repartition(math.min(wanted.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (s, dir) =>
        val c = DomainStore.rebuildConf(confEntries)
        val d = new Path(dir)
        val fs = d.getFileSystem(c)
        if (!fs.exists(d)) Iterator.empty
        else fs.listStatus(d).iterator
          .filter(_.getPath.getName.endsWith(suffix))
          .flatMap { st =>
            val r = KvFile.open(fs, st.getPath)
            // close on drain AND on task completion: an early-terminating
            // consumer (limit, short-circuited join) ends the task without
            // ever draining, and Spark knows nothing about this stream —
            // without the listener the handle leaks until GC
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => r.close()))
            new Iterator[(Array[Byte], Array[Byte], Int)] {
              private val it = r.iterator
              def hasNext: Boolean = { val h = it.hasNext; if (!h) r.close(); h }
              def next(): (Array[Byte], Array[Byte], Int) = {
                val (k, v) = it.next(); (k, v, s)
              }
            }
          }
      }
      .toDF("key", "value", "shard")
  }

  // --------------------------------------------------- index read side (W5)

  /** Deserialized sidecar probes, LRU-cached per (version, shard):
    * published versions are immutable to OTHER instances, and a same-id
    * rebuild through THIS instance voids its entries up front
    * ([[voidVersionCaches]] — a stale bloom's "definitely absent" for a
    * key the new build holds is a silent wrong answer); otherwise entries
    * only age out. `None` caches "shard has no sidecar" (an empty shard
    * wrote no dir, or the spec names no indexer for an older version) =
    * always maybe. Capacity bounds driver memory when lookups sweep a
    * 64k-shard domain; access-order eviction keeps a hot set resident. */
  private val probeCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(Long, Int), Option[Array[Byte] => Boolean]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Long, Int), Option[Array[Byte] => Boolean]]): Boolean =
        size() > DomainStore.ProbeCacheEntries
    })

  /** May shard `shard` of `version` contain `key`? `false` is definitive
    * (the data need not be read); `true` is "maybe" — also the answer
    * whenever no index exists, so every caller degrades to a plain scan. */
  private def mightContain(version: Long, shard: Int, key: Array[Byte]): Boolean =
    indexerOpt match {
      case None => true
      case Some(ix) =>
        probeCache.computeIfAbsent((version, shard), { vs =>
          val d = shardDirOf(vs._1, vs._2)
          Indexer.loadProbe(d.getFileSystem(conf), d, ix)
        }).forall(_.apply(key))
    }

  /**
   * Batched point lookup — the reference's flagship `multiGet` RPC
   * (keyval/core.clj:118-134) as one declarative plan:
   *  - route: distinct shards of the key set -> partition-pruned scan
   *    (reads only the `shard=<i>` dirs any key can live in);
   *  - scatter/gather: broadcast-hash inner join of the pruned scan against
   *    the (small) key set;
   *  - absent keys come back with a null value, not an error
   *    (core.thrift:6-8): misses null-fill inside the same plan — the
   *    hit rows broadcast back against the local key relation through a
   *    left-outer join, so the pruned shards are scanned exactly once.
   *
   * `keys` needs a `key: binary` column. The probe strategy is chosen by
   * a BOUNDED decision probe, never a flag: the distinct key set is
   * collected through `limit(maxDriverKeys + 1)`, so at most
   * maxDriverKeys + 1 rows ever reach the driver. At or under the
   * threshold the collected set IS the lookup batch (the point-lookup
   * path: driver routing + pruned scan + broadcast join). Over it, the
   * call is a bulk enrichment, not a lookup, and switches to a
   * co-shuffled join of the distributed key set against the full scan —
   * no pruning (a huge key set touches every shard anyway) and no
   * driver materialization, so a jumbo batch can never driver-OOM.
   *
   * `includeMisses = false` returns HITS ONLY and skips the miss
   * machinery — the hit-row broadcast and left-outer null-fill exist
   * solely to materialize null rows, which is wasted work for callers
   * that would filter them out (candidate generation against an index
   * domain: a miss just means "no candidates").
   */
  def multiGet(
      keys: DataFrame,
      includeMisses: Boolean = true,
      maxDriverKeys: Int = DomainStore.MaxDriverKeys): DataFrame = {
    require(maxDriverKeys >= 0, s"maxDriverKeys must be >= 0, got $maxDriverKeys")
    val spark = keys.sparkSession
    import spark.implicits._
    val n = numShards
    val keySet = keys.select(col("key")).distinct()
    // One bounded action decides the path AND feeds the point-lookup
    // path (the components-style limit+1 probe): a row count above the
    // threshold proves the key set is "too big" without materializing
    // more than maxDriverKeys + 1 rows.
    val threshold = math.min(maxDriverKeys, Int.MaxValue - 1)
    val probe = keySet.limit(threshold + 1).collect()
    if (probe.length > threshold) {
      // Null keys fail on this path too (same input, same outcome,
      // regardless of batch size) — but here the key set is by
      // definition too big to check on the driver, so the check rides
      // the plan: a null key raises at evaluation time instead of
      // flowing through the join as a counterfeit miss row.
      val checked = keySet.select(
        when(col("key").isNotNull, col("key"))
          .otherwise(raise_error(lit("multiGet: key set contains a null key")))
          .as("key"))
      val joinType = if (includeMisses) "left_outer" else "inner"
      // kv domains take the storage-partitioned join: the scan REPORTS
      // the on-disk (shard, key) layout, so only the key set shuffles —
      // routed into the domain's own partitioning — while the
      // corpus-sized side moves nothing and needs no sort (KvDomainV2).
      // Datasource formats go through FileSourceScanExec, which reports
      // no partitioning, so they keep the plain co-shuffled join.
      if (isKv) {
        val routed = checked.withColumn("shard", routedShard(col("key")))
        return routed
          .join(readPartitioned(spark, latestVersion), Seq("shard", "key"), joinType)
          .select(col("key"), col("value"))
      }
      return checked.join(read(spark).select("key", "value"), Seq("key"), joinType)
    }
    // The key set is small (proven by the probe), so routing happens on
    // the driver — exactly where the reference's client computed
    // key -> shard (keyval/core.clj:118-134). Holding it locally also
    // lets the miss set be computed locally, so the operator holds no
    // cache: nothing persists past the call (a long-lived session issuing
    // many multiGets pins zero blocks).
    require(!probe.exists(_.isNullAt(0)), "multiGet: key set contains a null key")
    val keyRows = probe.map { r =>
      val k = r.getAs[Array[Byte]](0)
      (k, routeKey(k))
    }
    // Index pre-filter (W5): keys whose shard sidecar answers "definitely
    // absent" become misses with zero data I/O, and shards left with no
    // maybe-key drop out of the scan entirely. On an unindexed domain
    // mightContain is constantly true and this is the identity.
    val version = latestVersion
    val (maybeRows, indexMisses) = keyRows.partition { case (k, shard) =>
      mightContain(version, shard, k)
    }
    val knownMisses = indexMisses.toSeq
      .map { case (k, _) => (k, null: Array[Byte]) }.toDF("key", "value")
    if (maybeRows.isEmpty) return if (includeMisses) knownMisses else knownMisses.limit(0)
    if (isKv) {
      // kv-sorted point lookups never scan: one task per probed shard
      // binary-searches its sorted run through the offset index — the
      // reference daemon's multiGet shape (route, then probe the local
      // persistence per shard), I/O = O(keys x log n) seeks instead of a
      // full parse of every probed shard. Lookups also tell hit from
      // miss directly, so no key-only probe scan is needed.
      val looked = kvLookup(spark, version, maybeRows)
      val hits = looked.where(col("_found")).select(col("key"), col("value"))
      return if (!includeMisses) hits
      else hits.unionByName(
        looked.where(!col("_found"))
          .select(col("key"), lit(null).cast("binary").as("value")))
        .unionByName(knownMisses)
    }
    val localKeys = maybeRows.map(_._1)
    val shards = maybeRows.map(_._2).distinct
    val pruned = prunedScan(spark, version, Some(shards.toIndexedSeq))
    val keysDf = localKeys.toSeq.toDF("key")
    val hits = pruned.join(broadcast(keysDf), Seq("key"), "inner")
      .select(col("key"), col("value"))
    if (!includeMisses) return hits
    // Misses fold into the SAME lazy plan — the pruned shards are
    // scanned exactly once, with no eager key-only probe scan and no
    // driver-side found-set: the hit rows (bounded by the probe's own
    // keys) broadcast back against the local key relation and unmatched
    // keys null-fill through the left-outer join. The broadcast carries
    // the batch's result rows — the same memory class as the caller
    // collecting the batch — and `includeMisses = false` skips it.
    keysDf.join(broadcast(hits), Seq("key"), "left_outer")
      .select(col("key"), col("value"))
      .unionByName(knownMisses)
  }

  /**
   * Bulk enrichment join: attach each probe row's domain value (null when
   * absent) — the "huge key set" cousin of [[multiGet]], for probe sets
   * that repeat keys (multiGet's distinct-then-join would be wrong as an
   * enrichment).
   *
   * `salt > 1` is the skew escape hatch: a hot probe key otherwise lands
   * every one of its rows in a single shuffle task (the classic
   * straggler). Each domain row is replicated once per salt value and
   * each probe row draws a uniform salt, so the join key becomes
   * (key, salt) and a hot key spreads over `salt` tasks. Domain-side cost
   * is a deliberate salt× replication of the (small relative to probes)
   * domain rows; routing/layout are untouched — this is a query-time
   * rewrite only. Correct for any salt: every probe row still matches
   * exactly one replica of its key, misses still null out (left outer on
   * both key and salt).
   *
   * `pruneShards` (default on) derives the probe's shard set at plan
   * time — the runtime analog of ShardPruningRule for a
   * small-but-not-literal probe relation (SURVEY §2.3 Q2) — so the
   * domain scan reads bytes proportional to the probed shards, not the
   * whole domain (on every engine: datasource formats prune partitions,
   * the kv format opens only the probed shard dirs). The derivation is
   * one partial-aggregated distinct of `shard_index(key)` over the
   * probe: at most numShards ints ever reach the driver REGARDLESS of
   * probe size, so unlike multiGet's key routing this needs no size
   * threshold. A probe spanning every shard skips the filter (nothing to
   * prune — and the extra probe pass is the only cost, one cheap scan).
   * Pruning the right side of a left-outer join is semantics-free: a
   * domain row outside the probed shards can match no probe key.
   *
   * The probe plan is evaluated TWICE (shard derivation, then the join):
   * it must be deterministic across jobs, or a key produced only at join
   * time could hash to a pruned-out shard and silently null a real
   * match. This contract is ENFORCED, not documented: the probe's
   * analyzed plan is walked for nondeterministic expressions
   * (`rand()`/`shuffle()`/…) and `Sample` nodes, and on a hit the call
   * falls back to the unpruned scan with a warning — the probe is then
   * evaluated exactly once (inside the join), so the answer is correct
   * and the only cost is the missed pruning. Callers that want pruning
   * back materialize the probe themselves (`localCheckpoint(true)`) —
   * the engine does not auto-checkpoint because the checkpointed blocks
   * would outlive the call (the no-cache-leak invariant).
   */
  def lookupJoin(rows: DataFrame, salt: Int = 1, pruneShards: Boolean = true): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val spark = rows.sparkSession
    val prune = pruneShards && {
      val nondet = DomainStore.nondeterministicPlan(rows)
      if (nondet) DomainStore.log.warn(
        "lookupJoin: probe plan contains nondeterministic expressions; " +
          "shard pruning disabled for this call (the probe would be " +
          "evaluated twice and could route join-time keys to pruned-out " +
          "shards). Materialize the probe (localCheckpoint(true)) to " +
          "re-enable pruning.")
      !nondet
    }
    // Shard set derived once, shared by both scan strategies below.
    // None = scan everything (pruning off, or the probe covers all shards).
    val shardsOpt: Option[IndexedSeq[Int]] =
      if (!prune) None
      else {
        val shardRows = rows
          .select(routedShard(col("key")).as("s")).distinct().collect()
        // null keys route nowhere (and match nothing in the join)
        val shards = shardRows.collect { case r if !r.isNullAt(0) => r.getInt(0) }
        // latestVersion resolves from publish tokens only — no extra
        // isPublished probe needed (it would be one FS HEAD per call)
        if (shards.length >= numShards) None else Some(shards.toIndexedSeq)
      }
    if (isKv && salt == 1) {
      // kv domains enrich through the STORAGE-PARTITIONED join: the
      // layout-reporting scan keeps the domain side where it lies (only
      // the probe shuffles, into the domain's own partitioning — the
      // multiGet jumbo-branch shape), and the derived shard set prunes
      // input partitions via filter pushdown instead of a pruned
      // flatMap scan. Salted calls keep the plain join: the salt
      // replicate rides ABOVE the scan and its join adds `_salt` to the
      // keys, a shape kept deliberately simple.
      val dom0 = readPartitioned(spark, latestVersion)
      val dom = shardsOpt.fold(dom0)(ss => dom0.where(col("shard").isin(ss: _*)))
      // collision-proof routing column on the probe (the reserved-name
      // guard convention — probes may legitimately carry a "shard")
      val tmp = s"_lj_shard_${java.util.UUID.randomUUID().toString.take(8)}"
      val probed = rows.withColumn(tmp, routedShard(col("key")))
      // output column ORDER matches the datasource branch's using-column
      // join (key first, then the probe's remaining columns, then value)
      // so the schema cannot depend on the domain's persistence format
      val outCols = probed("key") +:
        rows.columns.filter(_ != "key").map(probed(_)).toIndexedSeq :+ dom("value")
      return probed
        .join(dom,
          probed(tmp) === dom("shard") && probed("key") === dom("key"),
          "left_outer")
        .select(outCols: _*)
    }
    val scan = shardsOpt match {
      case None => read(spark)
      case Some(ss) => prunedScan(spark, latestVersion, Some(ss))
    }
    val dom = scan.select(col("key"), col("value"))
    if (salt == 1) rows.join(dom, Seq("key"), "left_outer")
    else {
      val replicated = dom.withColumn(
        "_salt", explode(typedlit((0 until salt).toIndexedSeq)))
      val salted = rows.withColumn("_salt", (rand(42) * salt).cast("int"))
      salted.join(replicated, Seq("key", "_salt"), "left_outer").drop("_salt")
    }
  }

  /** Single-key lookup: partition-pruned, row-group-skipping scan — or, on
    * an indexed domain whose sidecar rules the key out, no scan at all.
    * On a kv-sorted domain this is the SERVING path: a direct binary
    * search of the shard's [[KvFile]] on the calling thread — no Spark
    * job, no scan, O(log n) positioned reads — exactly what the
    * reference's daemon did against its local B-tree/LSM shard. */
  def get(spark: SparkSession, key: Array[Byte]): Option[Array[Byte]] = {
    val shard = routeKey(key)
    val version = latestVersion
    if (!mightContain(version, shard, key)) None
    else if (isKv) {
      val d = shardDirOf(version, shard)
      val fs = d.getFileSystem(conf)
      if (!fs.exists(d)) None
      else fs.listStatus(d).iterator
        .filter(_.getPath.getName.endsWith(fileSuffix))
        .map { st =>
          val r = KvFile.open(fs, st.getPath)
          try r.lookup(key) finally r.close()
        }
        .collectFirst { case Some(v) => v }
    }
    else readVersion(spark, version)
      .where(col("shard") === shard && col("key") === lit(key))
      .select("value")
      .limit(1)
      .collect()
      .headOption
      .map(_.getAs[Array[Byte]](0))
  }

  /** Total pair count (reference getCount — a full scan of every shard
    * there, `common/domain.clj:289–293`). Here it is metadata-only: the
    * per-file row counts come from parquet/orc footers alone, no data
    * page is ever read. Small domains sum footers in a driver thread pool
    * (no Spark job at all); above `distributeAbove` files the footer reads
    * run as one Spark map-reduce — at 64k shards on an object store the
    * driver-side loop would be minutes of sequential-ish metadata I/O,
    * the distributed pass is one short stage. Above `distributeAbove`
    * SHARDS even the directory listing moves into that job (one
    * `shard=<i>` listing per task element): a recursive driver listing of
    * 64k shard dirs is the same serial-metadata-I/O class as the footer
    * reads it feeds. */
  def count(spark: SparkSession, distributeAbove: Int = DomainStore.DefaultDistributeAbove): Long = {
    val version = latestVersion
    val vp = versions.versionPath(version)
    if (numShards > distributeAbove)
      // ONE definition of the distributed per-shard metadata pass:
      // count is the row-sum of the skew report
      return shardStats(spark, distributeAbove).agg(sum(col("n_rows"))).head().getLong(0)
    val fs = vp.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer[Path]()
    if (linksOf(version).isEmpty) {
      val it = fs.listFiles(vp, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(fileSuffix)) files += f.getPath
      }
    } else {
      // linked shards live outside this version dir: enumerate per
      // resolved shard dir instead of one recursive listing
      import scala.collection.parallel.CollectionConverters._
      files ++= (0 until numShards).par.flatMap { s =>
        DomainStore.shardFiles(fs, shardDirOf(version, s), fileSuffix).map(_.getPath)
      }.seq
    }
    if (files.isEmpty) return 0L
    if (files.length <= distributeAbove) {
      import scala.collection.parallel.CollectionConverters._
      files.par.map(p => DomainStore.footerRowCount(p, format, conf)).sum
    } else {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      // The closure ships the conf as plain entries (Hadoop Configuration
      // is not serializable) and rebuilds it per partition. Dataset API
      // end to end — rows move as UnsafeRow, no RDD serializer involved.
      val confEntries = DomainStore.serializableConf(conf)
      val fmt = format
      spark.createDataset(files.map(_.toString).toSeq)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { paths =>
          val c = DomainStore.rebuildConf(confEntries)
          paths.map(s => DomainStore.footerRowCount(new Path(s), fmt, c))
        }
        .agg(sum("value")).head().getLong(0)
    }
  }

  // --------------------------------------------------------------- updates

  /**
   * Incremental upsert with last-write-wins-per-key (new version beats old,
   * reference append semantics, persistence/keyval_test.clj:40-48) and
   * copy-forward of untouched shards (reference synchronizeVersions,
   * DomainStore.java:156-180): shards that receive no new keys are published
   * into the new version as raw file copies — no decode, no shuffle. Only
   * shards with new data are rewritten; on kv domains each one by a single
   * task that streams the old shard file against its sorted slice of the
   * delta (see [[patch]]).
   *
   * A delta that repeats a key is rejected (SURVEY §7.4: there is no
   * deterministic "last" among Spark rows within one batch) unless
   * `dedupKeys = true`, which keeps one arbitrary-but-deterministic row
   * per key — mirroring `write`'s dedup mode.
   */
  def upsert(
      spark: SparkSession,
      newDf: DataFrame,
      newVersion: Long,
      dedupKeys: Boolean = false,
      distributeAbove: Int = DomainStore.DefaultDistributeAbove,
      linked: Boolean = false): Unit =
    patch(spark, Some(newDf), None, newVersion, dedupKeys, distributeAbove, linked = linked)

  /**
   * Takedown publish: a new version in which `keys` are ABSENT — the
   * delete half of the update lifecycle (a training-data pipeline gets
   * takedown requests; `upsert` can only add or overwrite). Upsert-shaped
   * cost: only the shards a named key routes to are rewritten (on kv
   * domains, one streaming merge per shard that drops the named keys;
   * see [[patch]]), every other shard copies forward as a raw file copy.
   * Deleting a key that is absent is a no-op for correctness (its shard
   * still rewrites — membership isn't probed first); deleting EVERY key
   * of a shard publishes it legitimately empty (readers treat a missing
   * shard file as an empty shard). [[versionDiff]] classifies the result
   * as `removed` rows; a later [[upsert]] can re-insert a deleted key.
   * Duplicate keys in `keys` are harmless (deduplicated); null keys fail
   * loud like every publish.
   */
  def delete(
      spark: SparkSession,
      keys: DataFrame,
      newVersion: Long,
      distributeAbove: Int = DomainStore.DefaultDistributeAbove,
      linked: Boolean = false): Unit =
    patch(spark, None, Some(keys), newVersion, dedupKeys = false, distributeAbove, linked = linked)

  /**
   * Combined incremental publish: upserts and deletes in ONE new version
   * (e.g. an index maintenance pass that shrinks some bucket cells and
   * drops now-empty ones — two separate publishes would expose an
   * intermediate state and double the copy-forward). `upserts` rows win
   * per key like [[upsert]]; `deleteKeys` are absent from the new
   * version; a key in BOTH is ambiguous and fails loud. Cost is the
   * union of the two deltas' affected shards.
   *
   * Before any version exists, one census job over the deltas finds the
   * affected shards and rejects a null key, a repeated upsert key
   * (unless `dedupKeys`) and a key on both sides; at most numShards + 1
   * rows reach the driver whatever the delta's size.
   *
   * How the affected shards are rewritten:
   *  - kv domains (the servable formats): only the delta moves. Upserts
   *    and delete keys become one (shard, key, value, isDelete) frame,
   *    routed and sorted by (shard, key) — a shuffle the size of the
   *    delta. The task owning shard s streams the old version's shard-s
   *    file (link-aware) once, merges it with its delta run in unsigned
   *    key order (the delta wins, deletes drop out, old records keep file
   *    order), and writes the new shard file and its index sidecar in the
   *    same pass. The output is byte-identical to a fresh [[write]] of
   *    the patched pairs on a unique-key domain.
   *  - datasource formats rebuild each affected shard from rows: the old
   *    rows minus every touched key (an anti-join), plus the upserts,
   *    through the canonical sharded sort, then an index pass.
   */
  def patch(
      spark: SparkSession,
      upserts: Option[DataFrame],
      deleteKeys: Option[DataFrame],
      newVersion: Long,
      dedupKeys: Boolean = false,
      distributeAbove: Int = DomainStore.DefaultDistributeAbove,
      // `linked = true`: record untouched shards as shard->origin links
      // (`_links.json`) instead of copying their dirs forward — publish
      // I/O becomes O(delta), the high-shard-count / 100 TB regime's
      // publish mode. Trade: versions are no longer self-contained
      // (readers resolve links; GC keeps referenced origins alive —
      // VersionedStore.cleanupImpl). Default stays copy-forward.
      linked: Boolean = false): Unit = {
    if (upserts.isEmpty && deleteKeys.isEmpty) throw new IllegalArgumentException(
      "patch: pass at least one of upserts / deleteKeys")
    val oldVersion = latestVersion
    val n = numShards
    // The deltas feed the census and the rewrite; they are small by
    // contract, so materialize once. A repeated delete key is harmless
    // (the census counts it once; the merge drops a key once).
    val up = upserts.map { df =>
      val kv0 = df.select(col("key"), col("value"))
      (if (dedupKeys) kv0.dropDuplicates("key") else kv0)
        .withColumn("shard", routedShard(col("key")))
        .persist()
    }
    val del = deleteKeys.map(
      _.select(col("key")).withColumn("shard", routedShard(col("key"))).persist())
    try {
      // ONE census action: per (shard, key), its upsert rows and whether
      // the delete set names it, then per shard the sums. A key's shard
      // is a function of the key (no key spans shards), so the per-shard
      // figures add up to the side totals. At most numShards + 1 rows
      // reach the driver regardless of delta size — the +1 is the null
      // shard a null key routes to.
      val census = Seq(
        up.map(_.select(col("shard"), col("key"), lit(1L).as("_u"), lit(false).as("_d"))),
        del.map(_.select(col("shard"), col("key"), lit(0L).as("_u"), lit(true).as("_d")))
      ).flatten.reduce(_.unionByName(_))
        .groupBy(col("shard"), col("key"))
        .agg(sum(col("_u")).as("_u"), max(col("_d")).as("_d"))
        .groupBy(col("shard"))
        .agg(sum(col("_u")), count_if(col("_u") > 0), count_if(col("_d")),
          count_if(col("_u") > 0 && col("_d")))
        .collect()
        .map(r => DomainStore.CensusRow(
          if (r.isNullAt(0)) None else Some(r.getInt(0)),
          r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      census.find(_.shard.isEmpty).foreach { nulls =>
        require(nulls.upsertKeys == 0, "upsert delta contains a null key")
        require(nulls.deleteKeys == 0, "delete key set contains a null key")
      }
      val (upsertRows, upsertKeys) = (census.map(_.upsertRows).sum, census.map(_.upsertKeys).sum)
      require(upsertRows == upsertKeys,
        s"upsert delta repeats keys ($upsertRows rows, $upsertKeys distinct) — " +
          "pass dedupKeys = true or pre-aggregate the delta")
      require(census.forall(_.bothSides == 0),
        "patch: a key appears in both the upserts and the delete set — " +
          "ambiguous (drop it from one side)")
      val affected = census.flatMap(_.shard).toSet
      publishing(newVersion) {
        if (isKv) {
          // a delete is marked by its flag, never by a null value: a
          // stored null value is legal
          val delta = Seq(
            up.map(_.select(col("shard"), col("key"), col("value"), lit(false).as("_del"))),
            del.map(_.select(col("shard"), col("key"),
              lit(null).cast("binary").as("value"), lit(true).as("_del")))
          ).flatten.reduce(_.unionByName(_))
          mergeKvShards(delta, oldVersion, newVersion, affected)
        } else {
          // datasource formats rebuild each affected shard from rows: the
          // old rows minus every touched key, plus the upserts
          val touched = Seq(up, del).flatten.map(_.select("key")).reduce(_.unionByName(_))
          val survivors = prunedScan(spark, oldVersion, Some(affected.toSeq))
            .join(touched, Seq("key"), "left_anti")
          val merged = up.fold(survivors)(_.unionByName(survivors))
          writeShards(merged.select("key", "value"), newVersion, affected.toSeq)
        }
        if (linked) {
          // Manifest-linked publish: untouched shards are RECORDED
          // (`shard -> physical-host version`, resolved one-hop — a link
          // onto a linked version re-points at the original host, so
          // chains never deepen) instead of copied. Publish I/O is
          // O(delta); the copy-forward default pays O(domain) per publish
          // for self-contained versions. GC safety: cleanup's keep set
          // expands over these manifests (VersionedStore.cleanupImpl), so
          // a referenced origin outlives every version linking to it.
          val fsRoot = root.getFileSystem(conf)
          val oldVp = versions.versionPath(oldVersion)
          val oldLinks = linksOf(oldVersion)
          val listedOld =
            if (!fsRoot.exists(oldVp)) Set.empty[Int]
            else DomainStore.listedShardNumbers(
              fsRoot.listStatus(oldVp).iterator.map(_.getPath.getName)).toSet
          val carried = (listedOld ++ oldLinks.keySet).diff(affected)
          writeLinksManifest(newVersion,
            carried.iterator.map(s => s -> oldLinks.getOrElse(s, oldVersion)).toMap)
        } else {
          copyForward(oldVersion, newVersion, (0 until n).filterNot(affected), distributeAbove)
          writeLinksManifest(newVersion, Map.empty) // no file; refreshes the cache
        }
        // Untouched shards carry their sidecars inside their (copied or
        // linked) dirs; rewritten shards need fresh ones (a stale bloom
        // would rule out the very keys this publish added — and a deleted
        // key must fall out of its shard's sidecar too).
        buildIndex(spark, newVersion, onlyShards = Some(affected))
        // provenance: rewritten shards originate here, carried ones keep
        // their last-rewrite version (transitively, via the old manifest)
        val prevOrigins = DomainStore.readOriginsAt(
          root.getFileSystem(conf), versions.versionPath(oldVersion))
        writeOriginsManifest(newVersion, s =>
          if (affected(s)) newVersion
          else prevOrigins.flatMap(_.get(s)).getOrElse(oldVersion),
          alsoPresent = linksOf(newVersion).keySet)
      }
    } finally {
      up.foreach(_.unpersist())
      del.foreach(_.unpersist())
    }
  }

  /**
   * Re-materialize the NEWEST published version as a new SELF-CONTAINED
   * version — the batch retention valve for `patch(linked = true)`
   * chains (streaming ingest has `compactEvery`; batch callers publish
   * this periodically instead): every shard's bytes are physically
   * copied through the [[shardDirOf]] link resolution, no `_links.json`
   * is written, so a following `cleanup(keep)` can reap the whole old
   * chain — nothing references its link targets any more. Reads of the
   * compacted version are byte-identical to the head it copied
   * (LinkedPublishSpec pins it).
   *
   * Provenance: bytes are unchanged, so each shard KEEPS its
   * last-rewrite origin from the old manifest — a delta-aware pull
   * ([[localizeDelta]]) that already holds those shards still hardlinks
   * instead of re-transferring. Sidecars ride inside the copied shard
   * dirs (no index rebuild). Cost is one O(domain) copy — exactly the
   * bill every copy-mode publish pays, spent deliberately, amortized
   * over the linked chain it retires.
   */
  def compact(
      newVersion: Long,
      distributeAbove: Int = DomainStore.DefaultDistributeAbove): Unit = {
    val oldVersion = latestVersion
    publishing(newVersion) {
      copyForward(oldVersion, newVersion, 0 until numShards, distributeAbove)
      writeLinksManifest(newVersion, Map.empty) // self-contained; refreshes the cache
      val prevOrigins = DomainStore.readOriginsAt(
        root.getFileSystem(conf), versions.versionPath(oldVersion))
      writeOriginsManifest(newVersion, s =>
        prevOrigins.flatMap(_.get(s)).getOrElse(oldVersion))
    }
  }

  /**
   * Copy a published version's shard dirs to another filesystem location
   * (reference transfer-version!/`LocalElephantManager` shard
   * localization, SURVEY V7/S3 — there a serving box downloads its shard
   * subset; here an export utility for handing sorted shard files to an
   * external system). `shards = None` localizes all of them. Returns the
   * shard ids actually copied (ascending). Transfers run through
   * [[transferShards]]'s two-tier parallelism — the reference throttle-
   * parallelizes this exact transfer too (common/domain.clj:363-405).
   */
  def localize(
      version: Long,
      destDir: Path,
      shards: Option[Seq[Int]] = None,
      distributeAbove: Int = DomainStore.DefaultDistributeAbove,
      maxKBps: Option[Int] = None): Seq[Int] = {
    require(versions.isPublished(version), s"version $version not published under $root")
    destDir.getFileSystem(conf).mkdirs(destDir)
    val wanted = shards.getOrElse(0 until numShards)
    // replace = true: FileUtil.copy into an EXISTING dir nests src under
    // it — delete first so re-running localize replaces, not corrupts.
    // Sources resolve per shard (link-aware), so localizing a
    // manifest-linked version produces a SELF-CONTAINED physical copy.
    transferShards(wanted.map(s => (s, shardDirStrOf(version, s))), destDir,
      replace = true, distributeAbove, maxKBps.map(new TransferThrottle(_)))
  }

  /** [[localize]] restricted to the shard subset a ring assigns to one
    * host — the multi-process serving pull: every host of
    * `ring.hostsToShards` calls this with its own name and dest, and the
    * union of the localized subsets covers the domain `replication`
    * times over (reference `transfer-version!` driven by the
    * `compute-host->shards` assignment). Returns the shard ids copied. */
  def localizeForHost(
      version: Long,
      destDir: Path,
      ring: ShardRing.Index,
      host: String,
      distributeAbove: Int = DomainStore.DefaultDistributeAbove,
      maxKBps: Option[Int] = None): Seq[Int] = {
    val mine = requireRingSubset(ring, host)
    localize(version, destDir, Some(mine.toSeq.sorted), distributeAbove, maxKBps)
  }

  /** The ring must be built for EXACTLY this domain's shard count: a
    * ring over fewer shards passes any per-id bound check, yet the
    * union of every host's pull would miss whole shards — each one a
    * silent 'key absent' for every key routing there. */
  private def requireRingSubset(ring: ShardRing.Index, host: String): Set[Int] = {
    require(ring.shardsToHosts.keySet == (0 until numShards).toSet,
      s"ring covers shards ${ring.shardsToHosts.keySet.toSeq.sorted.mkString(",")} " +
        s"but the domain has $numShards — generate the ring with shardCount = numShards")
    val mine = ring.shardSet(host)
    require(mine.nonEmpty, s"ring assigns no shards to host '$host'")
    mine
  }

  /**
   * Delta-aware, VERSIONED serving pull — the transfer half of the
   * reference's updater cycle, minus its wholesale re-download: the
   * reference re-fetched every assigned shard for each new version
   * (`common/domain.clj:363-405`), but this engine's publishes are
   * copy-forward (O(delta), [[upsert]]), so for a typical incremental
   * publish almost every shard file a host already holds is byte-identical
   * to the new version's. This pull keeps the host's local dir as its own
   * versioned store (`<localRoot>/domain-spec.json`,
   * `<localRoot>/<v>/shard=<i>`, `<v>.version` tokens — directly openable
   * by [[KvDomainReader.open]], whose `refresh()` then hot-swaps to each
   * pulled version) and for each assigned shard of `version`:
   *
   *  - REUSES the shard locally when the publish PROVENANCE manifests
   *    (`_origins.json`, written by every engine publish: the version
   *    that last rewrote each present shard) say it is unchanged since
   *    the host's newest previously-pulled version — copy-forward
   *    carries untouched dirs byte-verbatim, so equal origins means
   *    identical bytes, decided with ZERO remote reads beyond one small
   *    manifest. Reuse is a hardlink where the local filesystem supports
   *    it, a local copy otherwise. (Content probing — length + trailer
   *    tail — is deliberately NOT used: a same-length rewrite outside
   *    the probed window defeats it; provenance is exact.)
   *  - TRANSFERS it from the domain (throttled by `maxKBps` if set)
   *    when it changed, is new, no previous local version exists, or
   *    either side lacks a manifest (pre-manifest version, foreign
   *    layout — reuse claims need proof, absence degrades to the
   *    reference's full pull, never to a wrong byte).
   *
   * Runs entirely on the calling host's thread pool — never as a Spark
   * job: the pull writes THIS box's local disk, which no executor can
   * reach, and the byte throttle is one in-process token bucket (the
   * reference's one-throttle-agent-per-box). Old local versions beyond
   * `keepLocalVersions` are reaped after the new publish (the newest
   * previous version must survive: it is the next pull's reuse source
   * and may still be serving in-flight reads). A puller running BESIDE
   * a serving reader must pass `keepFloor = <served version>`: the
   * keep-newest-N window alone can slide past a version the reader is
   * still swapped to (updater stall, multiple publishes between
   * sweeps), and reaping it turns every lookup into
   * FileNotFoundException — the same served-version floor
   * `VersionedStore.cleanup(keep, keepFloor)` gives the in-daemon
   * reaper.
   *
   * Idempotent: a version already pulled and published locally returns
   * an empty delta without touching the network.
   */
  def localizeVersionForHost(
      version: Long,
      localRoot: Path,
      ring: ShardRing.Index,
      host: String,
      maxKBps: Option[Int] = None,
      keepLocalVersions: Int = 2,
      keepFloor: Long = -1L,
      // `cleanupLocal = false`: pull and publish but run NO local reap
      // this roll — the conservative fallback when the caller could not
      // learn the served-version floor (RingClient.updateRing's probe
      // failed): skipping one reap only accretes disk until the next
      // successful roll, while a floor-less cleanup can reap the version
      // a stalled reader still serves (every in-flight lookup then dies
      // until refresh lands)
      cleanupLocal: Boolean = true): DomainStore.LocalizeDelta = {
    require(versions.isPublished(version), s"version $version not published under $root")
    require(keepLocalVersions >= 2,
      s"keepLocalVersions must be >= 2 (the previous version is the reuse " +
        s"source and may still be serving), got $keepLocalVersions")
    val mine = requireRingSubset(ring, host)
    val localFs = localRoot.getFileSystem(conf)
    // the local root is a self-describing domain dir: write the spec on
    // first pull so KvDomainReader.open works on it; later pulls must
    // find the SAME spec (a localRoot shared across domains would
    // silently interleave shard files)
    val specPath = new Path(localRoot, DomainSpec.FileName)
    if (localFs.exists(specPath)) {
      val existing = DomainStore.readSpec(localRoot, conf)
      require(existing == spec,
        s"local root $localRoot already holds a different domain: $existing vs $spec")
    } else {
      localFs.mkdirs(localRoot)
      val out = localFs.create(specPath, true)
      out.write(spec.toJson.getBytes("UTF-8"))
      out.close()
    }
    val localVs = new VersionedStore(localRoot, conf)
    if (localVs.isPublished(version))
      return DomainStore.LocalizeDelta(Nil, Nil)
    val reuseFrom = localVs.mostRecentVersion.map(localVs.versionPath)
    val newDir = localVs.createVersion(version)
    try {
      val srcVersionDir = versions.versionPath(version)
      val srcFs = root.getFileSystem(conf)
      // Reuse is decided by PROVENANCE, not content probing: the publish
      // manifests record which version last rewrote each present shard,
      // and copy-forward carries untouched dirs byte-verbatim — equal
      // origins ⟹ identical bytes, at the cost of ONE small manifest
      // read per side (the previous pull parked its copy locally). No
      // manifest (older build, foreign layout) ⟹ no reuse claims: fall
      // back to per-shard existence probes and full transfer.
      val newOrigins = DomainStore.readOriginsAt(srcFs, srcVersionDir)
      val prevOrigins = reuseFrom.flatMap(d => DomainStore.readOriginsAt(localFs, d))
      val throttle = maxKBps.map(new TransferThrottle(_))
      import scala.collection.parallel.CollectionConverters._
      val outcomes: List[(Int, Boolean)] = mine.toSeq.sorted.par.flatMap { s =>
        val present = newOrigins match {
          case Some(o) => o.contains(s) // manifest key set = present shards
          case None => srcFs.exists(shardDirOf(version, s))
        }
        if (!present) None // empty shard writes no dir
        else {
          val dstShard = new Path(newDir, s"shard=$s")
          val prevShard = reuseFrom.map(d => new Path(d, s"shard=$s"))
          val reusable = (newOrigins, prevOrigins) match {
            case (Some(no), Some(po)) =>
              no.get(s) == po.get(s) && po.contains(s) &&
                prevShard.exists(localFs.exists) // crash-gap guard: local copy must exist
            case _ => false
          }
          if (reusable) {
            DomainStore.reuseShardDir(localFs, prevShard.get, dstShard)
            Some(s -> true)
          } else {
            // link-aware source: a linked shard's bytes are pulled from
            // its origin dir — the local copy is always self-contained
            val srcDir = shardDirStrOf(version, s)
            val copied = throttle match {
              case Some(th) => DomainStore.copyShardDirThrottled(
                srcDir, newDir.toString, s, replace = true, conf, th)
              case None => DomainStore.copyShardDir(
                srcDir, newDir.toString, s, replace = true, conf)
            }
            // `present` said this shard HAS data; a copy that finds no
            // source dir means the remote version was reaped mid-pull
            // (retention racing a long transfer). Publishing without the
            // shard would serve silent 'key absent' for every key routed
            // there — fail the pull loudly instead (the outer catch
            // leaves a .failed marker; re-pull a still-published version).
            if (!copied) throw new java.io.FileNotFoundException(
              s"shard=$s of version $version vanished mid-pull from " +
                s"$srcVersionDir — remote retention likely reaped the " +
                "version; refusing to publish an incomplete local copy")
            Some(s -> false)
          }
        }
      }.seq.toList
      // park the remote manifest beside the pulled shards: the NEXT pull
      // reads its previous origins locally, so reuse keeps working even
      // after the domain's retention reaps this version remotely
      newOrigins.foreach { o =>
        val out = localFs.create(new Path(newDir, DomainStore.OriginsFileName), true)
        try out.write(DomainStore.originsToJson(o).getBytes("UTF-8"))
        finally out.close()
      }
      localVs.succeedVersion(version)
      if (!cleanupLocal) () // floor unknown: skip the reap, never un-floor it
      else if (keepFloor >= 0) localVs.cleanup(keepLocalVersions, keepFloor)
      else localVs.cleanup(keepLocalVersions)
      DomainStore.LocalizeDelta(
        transferred = outcomes.collect { case (s, false) => s }.sorted,
        reused = outcomes.collect { case (s, true) => s }.sorted)
    } catch {
      case e: Throwable =>
        localVs.failVersion(version)
        throw e
    }
  }

  /** Write the provenance manifest of a fully-materialized (but not yet
    * published) version: one listing of the version dir decides which
    * shards are present; `originOf` supplies each one's last-rewrite
    * version ([[DomainStore.OriginsFileName]]). Zero data I/O — publish
    * provenance is driver knowledge. */
  private[store] def writeOriginsManifest(
      version: Long,
      originOf: Int => Long,
      alsoPresent: Set[Int] = Set.empty): Unit = {
    val vd = versions.versionPath(version)
    val fs = root.getFileSystem(conf)
    val listed =
      if (!fs.exists(vd)) Seq.empty[Int]
      else DomainStore.listedShardNumbers(
        fs.listStatus(vd).iterator.map(_.getPath.getName)).toSeq
    // `alsoPresent`: LINKED shards are logically present without a local
    // dir — the manifest records the full logical shard set either way
    // (the pull's presence test is the manifest key set).
    val present = (listed ++ alsoPresent).distinct
    val out = fs.create(new Path(vd, DomainStore.OriginsFileName), true)
    try out.write(
      DomainStore.originsToJson(present.map(s => s -> originOf(s)).toMap).getBytes("UTF-8"))
    finally out.close()
  }

  /** Raw FS copy of untouched `shard=<i>` dirs from one version into a
    * not-yet-published one (fresh dir: nothing to replace). Sources
    * resolve through [[shardDirOf]], so copying forward FROM a
    * manifest-linked version copies the physical bytes — the copy-mode
    * publish re-materializes a self-contained version regardless of how
    * its predecessor was published. */
  private def copyForward(
      fromVersion: Long,
      toVersion: Long,
      shards: Seq[Int],
      distributeAbove: Int): Unit =
    transferShards(
      shards.map(s => (s, shardDirStrOf(fromVersion, s))),
      versions.versionPath(toVersion), replace = false, distributeAbove)

  /**
   * Two-tier parallel shard-dir transfer, mirroring [[count]]'s layout:
   * the publish path must never serialize per-shard I/O through one
   * thread — an upsert touching 1% of a 64k-shard domain would otherwise
   * spend hours in sequential object-store copies (the one scale-killer
   * VERDICT r2 flagged). Small shard sets copy on the driver's fork-join
   * pool; above `distributeAbove` the copies run as one Spark job (each
   * task rebuilds the Hadoop conf from serialized entries, same pattern
   * as the distributed footer count). Returns the shard ids whose source
   * dir existed, ascending.
   */
  private def transferShards(
      shardDirs: Seq[(Int, String)], // (shard, resolved source shard dir)
      dstBase: Path,
      replace: Boolean,
      distributeAbove: Int,
      throttle: Option[TransferThrottle] = None): Seq[Int] = {
    if (shardDirs.isEmpty) return Nil
    val dst = dstBase.toString
    // A bandwidth cap means "don't saturate THIS box's NIC" (reference
    // :download-rate-limit — one throttle agent per serving box). The
    // limiter is one in-process object, so the throttled pull runs on
    // the driver pool regardless of shard count: a Spark tier would
    // need a cluster-wide budget no single token bucket can enforce.
    if (throttle.isDefined) {
      val th = throttle.get
      import scala.collection.parallel.CollectionConverters._
      shardDirs.par
        .collect { case (s, d) if DomainStore.copyShardDirThrottled(d, dst, s, replace, conf, th) => s }
        .seq.toList.sorted
    } else if (shardDirs.length <= distributeAbove) {
      import scala.collection.parallel.CollectionConverters._
      shardDirs.par
        .collect { case (s, d) if DomainStore.copyShardDir(d, dst, s, replace, conf) => s }
        .seq.toList.sorted
    } else {
      val spark = SparkSession.active
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val confEntries = DomainStore.serializableConf(conf)
      val rep = replace
      spark.createDataset(shardDirs)
        .repartition(math.min(shardDirs.length, spark.sparkContext.defaultParallelism))
        .mapPartitions { it =>
          val c = DomainStore.rebuildConf(confEntries)
          it.collect { case (s, d) if DomainStore.copyShardDir(d, dst, s, rep, c) => s }
        }
        .collect().toList.sorted
    }
  }
}

object DomainStore {

  private[store] val log = org.slf4j.LoggerFactory.getLogger(classOf[DomainStore])

  /** True when re-evaluating `df`'s plan could yield different rows —
    * nondeterministic expressions (`rand()`, `shuffle()`, `uuid()`, a
    * nondeterministic UDF) anywhere in the analyzed tree, or a `Sample`
    * node (seeded, but row selection shifts with upstream partition
    * layout, the `repartitionByRange` re-sampling class CLAUDE.md
    * documents). Used to enforce the pruned-lookupJoin contract: a plan
    * the engine would evaluate twice must be provably stable. */
  private[store] def nondeterministicPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Sample
    df.queryExecution.analyzed.exists {
      case _: Sample => true
      case p => p.expressions.exists(e => !e.deterministic)
    }
  }

  /** Shard-count / file-count threshold above which per-shard metadata
    * and copy work runs as a Spark job instead of on the driver. */
  val DefaultDistributeAbove: Int = 1024

  /** Batch-density crossover for kv-sorted point lookups — the ONE
    * definition lives in [[KvFile.LookupScanRatio]] (Spark-free, so the
    * serving reader shares it); this alias keeps the documented API. At
    * the 100 TB target (k in the hundreds vs n in the millions per
    * shard) the sparse branch always wins. */
  val LookupScanRatio: Int = KvFile.LookupScanRatio

  /** Distinct-key threshold above which [[DomainStore.multiGet]] switches
    * from the driver-routed point-lookup plan to the co-shuffled join.
    * 256k keys x (key bytes + row overhead) is tens of MB on the driver —
    * comfortably bounded — while every sane point-lookup batch (and the
    * banded probe sets of an incremental dedup delta) sits far below it. */
  val MaxDriverKeys: Int = 262144

  /** Cap on memoized per-version link manifests (linksOf; the
    * IndexMarker.MaxCached rationale — bounds a perpetual linked
    * streaming publisher's driver footprint). */
  val MaxCachedLinkVersions: Int = 4096

  /** One shard dir's data files (empty when the dir is absent — a
    * legitimately empty shard). The ONE shard-walk definition the audit
    * tiers share ([[DomainStore.fsck]], `integrityFindings`), so a
    * future change to the walk (suffix rules, missing-dir semantics)
    * lands once. */
  private[store] def shardFiles(
      fs: FileSystem,
      shardDir: Path,
      suffix: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    if (!fs.exists(shardDir)) Seq.empty
    else fs.listStatus(shardDir).filter(_.getPath.getName.endsWith(suffix)).toSeq
  }

  /** One shard's (shard, rows, bytes) from metadata only — static so the
    * distributed tier's closure never drags the store (with its
    * non-serializable Configuration) along. */
  private[store] def shardStatsOf(
      s: Int,
      shardDir: String,
      fmt: String,
      suffix: String,
      c: Configuration): (Int, Long, Long) = {
    val d = new Path(shardDir)
    val fs = d.getFileSystem(c)
    if (!fs.exists(d)) (s, 0L, 0L)
    else {
      val fls = fs.listStatus(d).filter(_.getPath.getName.endsWith(suffix))
      (s,
        fls.map(st => footerRowCount(st.getPath, fmt, c)).sum,
        fls.map(_.getLen).sum)
    }
  }

  /** Hadoop `Configuration` is not serializable: distributed closures ship
    * it as plain entries and rebuild per partition — ONE definition for
    * every distributed tier (index build, count, transfer), so a future
    * fix (credential filtering, final/overlay properties) lands once. */
  private[graft] def serializableConf(conf: Configuration): List[(String, String)] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toList
  }

  private[store] def rebuildConf(entries: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** An executor-local scratch dir for task-side spills, resolved the way
    * Spark's own Utils.getLocalDir does (that helper is private[spark]):
    * SPARK_LOCAL_DIRS, then YARN's LOCAL_DIRS, then `spark.local.dir`
    * from the live SparkEnv, then java.io.tmpdir. `seed` spreads
    * concurrent spills across the configured disks. Falls back to tmp
    * (never fails) — a spill dir that does not exist yet is created. */
  private[store] def sparkLocalDir(seed: Int): java.io.File = {
    val dirs = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(sys.env.get("LOCAL_DIRS"))
      .map(_.split(","))
      .orElse(Option(org.apache.spark.SparkEnv.get)
        .flatMap(_.conf.getOption("spark.local.dir")).map(_.split(",")))
      .map(_.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(Array(System.getProperty("java.io.tmpdir")))
    val d = new java.io.File(dirs(math.floorMod(seed, dirs.length)))
    if (d.isDirectory || d.mkdirs()) d
    else new java.io.File(System.getProperty("java.io.tmpdir"))
  }

  /** A fresh spill file in `dir` (normally [[sparkLocalDir]]). A dir
    * that cannot take the file (wrong owner, a read-only mount, removed
    * since it was chosen) gets one retry on java.io.tmpdir instead of
    * failing the publish — the spill is scratch, any local disk serves. */
  private[store] def createSpillFile(
      prefix: String, suffix: String, dir: java.io.File): java.io.File =
    try java.io.File.createTempFile(prefix, suffix, dir)
    catch {
      case e: java.io.IOException =>
        val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
        log.warn(s"spill dir $dir is not writable (${e.getMessage}); spilling to $tmp")
        java.io.File.createTempFile(prefix, suffix, tmp)
    }

  /** Deserialized index-sidecar probes kept per store (LRU). Sized so a
    * lookup-heavy session over a few domains keeps every hot shard's probe
    * resident; at ~1.2 MB per million keys a full cache is tens of MB. */
  val ProbeCacheEntries: Int = 4096

  /** Copy one `shard=<i>` dir between (possibly different) filesystems.
    * Runs on the driver pool for small shard sets and inside executor
    * tasks for large ones — static, so the closure never drags the
    * enclosing store (with its non-serializable Configuration) along.
    * Returns false when the source shard dir does not exist (legal: a
    * shard that received no keys writes no dir). */
  private[store] def copyShardDir(
      srcShardDir: String,
      dstBase: String,
      shard: Int,
      replace: Boolean,
      conf: Configuration): Boolean = {
    val src = new Path(srcShardDir)
    val srcFs = src.getFileSystem(conf)
    if (!srcFs.exists(src)) false
    else {
      val dst = new Path(dstBase, s"shard=$shard")
      val dstFs = dst.getFileSystem(conf)
      if (replace) dstFs.delete(dst, true)
      FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf)
      true
    }
  }

  /** [[copyShardDir]] with every data byte metered through a shared
    * [[TransferThrottle]] — a manual recursive stream copy (FileUtil has
    * no byte hook) in [[ThrottleChunk]]-sized chunks, so the limiter
    * interleaves fairly across the parallel shard copies. Byte-identical
    * output to the unthrottled path. */
  private[store] def copyShardDirThrottled(
      srcShardDir: String,
      dstBase: String,
      shard: Int,
      replace: Boolean,
      conf: Configuration,
      throttle: TransferThrottle): Boolean = {
    val src = new Path(srcShardDir)
    val srcFs = src.getFileSystem(conf)
    if (!srcFs.exists(src)) false
    else {
      val dst = new Path(dstBase, s"shard=$shard")
      val dstFs = dst.getFileSystem(conf)
      if (replace) dstFs.delete(dst, true)
      def copyTree(s: Path, d: Path): Unit = {
        val st = srcFs.getFileStatus(s)
        if (st.isDirectory) {
          dstFs.mkdirs(d)
          srcFs.listStatus(s).foreach(c => copyTree(c.getPath, new Path(d, c.getPath.getName)))
        } else {
          val in = srcFs.open(s)
          try {
            val out = dstFs.create(d, true)
            try {
              val buf = new Array[Byte](ThrottleChunk)
              var n = in.read(buf)
              while (n >= 0) {
                if (n > 0) {
                  throttle.acquire(n.toLong)
                  out.write(buf, 0, n)
                }
                n = in.read(buf)
              }
            } finally out.close()
          } finally in.close()
        }
      }
      copyTree(src, dst)
      true
    }
  }

  /** Chunk size for throttled copies: small enough that a 128 kB/s cap
    * (the reference's default) still interleaves several streams per
    * second, large enough to amortize the per-read syscall. */
  private[store] val ThrottleChunk: Int = 64 * 1024

  /** Per-shard outcome of [[DomainStore.localizeVersionForHost]]:
    * `transferred` moved bytes from the domain, `reused` were satisfied
    * from the host's previous local version (hardlink/local copy). Shards
    * assigned but absent in the version (empty) appear in neither. */
  final case class LocalizeDelta(transferred: Seq[Int], reused: Seq[Int])

  /** [[DomainStore.linkFootprint]]'s result: what a linked head still
    * references — and therefore what the GC fixpoint must keep. */
  final case class LinkFootprint(
      linkedShards: Int, targetVersions: Int, oldestTarget: Long) {
    /** Versions of history this head pins (0 = self-contained). */
    def pinnedSpan(version: Long): Long = version - oldestTarget
  }

  /** Per-version provenance manifest, `<version>/_origins.json`: for each
    * shard PRESENT in the version, the version id that last REWROTE it.
    * A copy-forward publish carries untouched shard dirs byte-verbatim,
    * so equal origins ⟹ byte-identical shard content — the EXACT reuse
    * criterion for the delta serving pull, decided with zero data reads
    * and zero per-shard remote metadata probes. (A content heuristic —
    * same length + same trailer tail — is NOT sound: a same-length value
    * rewrite outside the probed window passes it; this spec's own test
    * caught that, hence provenance, not probing.) The underscore prefix
    * keeps every Spark/parquet file-index scan from seeing it as data.
    * Absent for versions published by older builds or foreign layouts —
    * consumers must treat "no manifest" as "transfer everything". */
  private[store] val OriginsFileName = "_origins.json"

  // ONE codec with _links.json (VersionedStore.shardMapToJson/FromJson):
  // the two manifests' READ policies deliberately differ (corrupt origins
  // degrade to "transfer everything"; corrupt links fail loud), but the
  // byte format must not drift between them.
  private[store] def originsToJson(m: Map[Int, Long]): String =
    VersionedStore.shardMapToJson(m)

  private[store] def originsFromJson(s: String): Map[Int, Long] =
    VersionedStore.shardMapFromJson(s)

  /** The provenance manifest of a version dir, if present and parseable
    * (a corrupt manifest reads as absent — the consumer then transfers,
    * never reuses wrongly). */
  private[store] def readOriginsAt(fs: FileSystem, versionDir: Path): Option[Map[Int, Long]] = {
    val p = new Path(versionDir, OriginsFileName)
    try {
      if (!fs.exists(p)) None
      else {
        val len = fs.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(0L, buf)
        finally in.close()
        Some(originsFromJson(new String(buf, "UTF-8")))
      }
    } catch { case _: Exception => None }
  }

  /** ONE definition of "which shards does this version-dir listing
    * hold": exact `shard=<int>` entries only — a foreign name
    * ('shard=3.bak', a crashed copy's artifact) is skipped, never a
    * parse failure. Shared by the publish manifest writer and the
    * serving reader's generation snapshot so the two present-sets
    * cannot diverge (same one-definition rule as `Search.docIdLong`). */
  private[store] def listedShardNumbers(names: Iterator[String]): Iterator[Int] =
    names.filter(_.startsWith("shard=")).flatMap(_.stripPrefix("shard=").toIntOption)

  /** Materialize `newShard` from the host's own `prevShard` without
    * touching the network: per file, a hardlink when both live on the
    * local filesystem (versions are immutable, so shared inodes are safe
    * — delete of either version just unlinks), a within-FS stream copy
    * otherwise (object stores, ramfs). */
  private[store] def reuseShardDir(
      dstFs: FileSystem,
      prevShard: Path,
      newShard: Path): Unit = {
    val local = dstFs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      dstFs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    def place(src: Path, dst: Path): Unit = {
      val st = dstFs.getFileStatus(src)
      if (st.isDirectory) {
        dstFs.mkdirs(dst)
        dstFs.listStatus(src).foreach(c =>
          place(c.getPath, new Path(dst, c.getPath.getName)))
      } else {
        val linked = local && {
          try {
            val from = java.nio.file.Paths.get(src.toUri.getPath)
            val to = java.nio.file.Paths.get(dst.toUri.getPath)
            java.nio.file.Files.createDirectories(to.getParent)
            java.nio.file.Files.deleteIfExists(to)
            java.nio.file.Files.createLink(to, from)
            true
          } catch { case _: Exception => false } // cross-device / unsupported
        }
        if (!linked) FileUtil.copy(dstFs, src, dstFs, dst, false, true, dstFs.getConf)
      }
    }
    dstFs.delete(newShard, true) // replace semantics, like copyShardDir
    place(prevShard, newShard)
  }

  /** Stream one shard's sorted rows into `shard=<i>/part-0.kv` — runs
    * inside the shard's executor task (static: the closure must not drag
    * the store's non-serializable Configuration along). Commit is
    * attempt-scoped tmp + rename, and — UNLIKE the index sidecars — a
    * pre-existing destination is NEVER deleted: a lost sidecar merely
    * reads as "always maybe", but a lost DATA file reads as an empty
    * shard (silent misses), so the only safe race semantics for data is
    * first-commit-wins. That is sound because the file is deterministic
    * for a shard's row set (sorted input, content-only layout): whichever
    * attempt committed, the bytes are the ones every attempt would have
    * written. Rebuild-over-existing never happens for data files — a
    * version dir is fresh by the createVersion/failVersion lifecycle.
    *
    * With an `indexer`, every written key is also teed into a
    * [[KeySpill]], and once the data file is committed the same task
    * builds and commits the shard's `_index.bin` from it — no second
    * read of the shard. */
  private[store] def writeKvShardFile(
      base: String,
      shard: Int,
      rows: Iterator[(Array[Byte], Array[Byte])],
      conf: Configuration,
      compressed: Boolean = false,
      blockSize: Int = KvzFile.DefaultBlockSize,
      indexer: Option[Indexer] = None): Long = {
    val dir = new Path(base, s"shard=$shard")
    val dst = new Path(dir, KvFile.DataFileName)
    val tmp = new Path(dir, s"${KvFile.DataFileName}.${java.util.UUID.randomUUID()}.tmp")
    val fs = dst.getFileSystem(conf)
    fs.mkdirs(dir)
    val spill = indexer.map(_ => new KeySpill(shard))
    try {
      val teed = spill.fold(rows)(sp => rows.map { r => sp.add(r._1); r })
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(tmp, false), 1 << 16))
      val n = try {
        if (compressed) KvzFile.write(out, teed, blockSize) else KvFile.write(out, teed)
      } finally out.close()
      if (!fs.rename(tmp, dst)) {
        val lost = fs.exists(dst) // another attempt already committed — it wins
        fs.delete(tmp, false)
        if (!lost) throw new java.io.IOException(s"writeKvShardFile: could not commit $dst")
      }
      for (ix <- indexer; sp <- spill) commitSidecar(dir, sp.build(ix), conf)
      n
    } finally spill.foreach(_.discard())
  }

  /** Commit one shard's index artifact as `<shardDir>/_index.bin`.
    * Attempt-scoped temp + rename: two attempts of one shard's task
    * (speculation, a zombie executor) writing the final path directly
    * could interleave into a truncated sidecar that survives publish.
    * The artifact is deterministic for a shard, so every interleaving of
    * delete/rename across attempts lands the same bytes. The pre-rename
    * delete also makes a REBUILD over a pre-existing sidecar (retry after
    * a partial failure, an indexer/fpp config change on an unpublished
    * version) replace the stale artifact on filesystems where
    * rename-to-existing fails (HDFS) instead of silently keeping it.
    * Worst case — an attempt deletes and dies before renaming — leaves
    * no sidecar, which reads as "always maybe": slower, never wrong. */
  private[store] def commitSidecar(shardDir: Path, artifact: Array[Byte], conf: Configuration): Unit = {
    val dst = new Path(shardDir, Indexer.SidecarName)
    val tmp = new Path(shardDir, s"${Indexer.SidecarName}.${java.util.UUID.randomUUID()}.tmp")
    val fs = dst.getFileSystem(conf)
    val out = fs.create(tmp, false)
    try out.write(artifact) finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) {
      val lost = fs.exists(dst) // another attempt re-committed in between
      fs.delete(tmp, false)
      if (!lost) throw new java.io.IOException(s"could not commit sidecar $dst")
    }
  }

  /** One shard's index-build spill. The Indexer SPI wants the exact key
    * count BEFORE the first key (bloom sizing), so keys are appended to
    * an executor-local file as they stream past, counted, and re-streamed
    * into [[Indexer.build]]: bounded memory, local sequential I/O, no
    * second pass over the shard. The file lives on the executor's SPARK
    * LOCAL DIRS (the scratch disks shuffle files live on), not
    * java.io.tmpdir: on real executors tmp is often a small root
    * partition. [[discard]] deletes it on every non-fatal path; a task
    * completion listener is the backstop for a task that ends another way
    * (deleteOnExit would add a JVM-global entry per shard build, never
    * removed, for the executor's lifetime). */
  private[store] final class KeySpill(shard: Int) {
    private val file = createSpillFile(s"graft-index-$shard-", ".keys", sparkLocalDir(shard))
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => file.delete()))
    private val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(file), 1 << 16))
    private var n = 0L

    def add(key: Array[Byte]): Unit = { out.writeInt(key.length); out.write(key); n += 1L }

    /** The shard's artifact, built from every key added so far. */
    def build(ix: Indexer): Array[Byte] = {
      out.close()
      require(n <= Int.MaxValue,
        s"index build: shard $shard holds $n keys (> Int.MaxValue) — reshard before indexing")
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(file), 1 << 16))
      try {
        val keys = Iterator.fill(n.toInt) {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          b
        }
        ix.build(n, keys)
      } finally in.close()
    }

    def discard(): Unit = try out.close() finally file.delete()
  }

  /** The consecutive runs of `rows` that share a shard, for a stream
    * sorted by shard first: each element is (shard, its run). Whatever a
    * consumer leaves unread of a run is skipped before the next one.
    * Runs are keyed by the shard VALUE, never the task/partition id (the
    * narrow-coalesce trap: one task can see several upstream
    * partitions). */
  private[store] def shardRuns[R](rows: Iterator[R])(shardOf: R => Int): Iterator[(Int, Iterator[R])] =
    new Iterator[(Int, Iterator[R])] {
      private val it = rows.buffered
      private var run: Iterator[R] = Iterator.empty
      def hasNext: Boolean = {
        while (run.hasNext) run.next()
        it.hasNext
      }
      def next(): (Int, Iterator[R]) = {
        if (!hasNext) throw new NoSuchElementException("no more shard runs")
        val shard = shardOf(it.head)
        run = new Iterator[R] {
          def hasNext: Boolean = it.hasNext && shardOf(it.head) == shard
          def next(): R =
            if (hasNext) it.next() else throw new NoSuchElementException(s"shard $shard run ended")
        }
        (shard, run)
      }
    }

  /** Merge one shard's old records with its sorted delta — (key, value,
    * isDelete) in unsigned key order — the two-pointer pass of a kv
    * patch. An old key below the delta head is kept; an old key equal to
    * it loses every stored copy; a delta upsert is emitted and a delta
    * delete emits nothing. Old records keep their file order, so a key
    * stored twice (a build without dedupKeys) keeps both copies in order
    * unless the delta names it. A repeated delete key drops nothing more;
    * patch's census rejects every other key the delta names twice. */
  private[store] def mergeDelta(
      old: Iterator[(Array[Byte], Array[Byte])],
      delta: Iterator[(Array[Byte], Array[Byte], Boolean)]): Iterator[(Array[Byte], Array[Byte])] =
    new Iterator[(Array[Byte], Array[Byte])] {
      private val o = old.buffered
      private val d = delta.buffered
      private var pending: (Array[Byte], Array[Byte]) = null
      def hasNext: Boolean = {
        while (pending == null && (o.hasNext || d.hasNext)) {
          if (o.hasNext && (!d.hasNext || java.util.Arrays.compareUnsigned(o.head._1, d.head._1) < 0))
            pending = o.next()
          else {
            val (k, v, isDelete) = d.next()
            while (o.hasNext && java.util.Arrays.equals(o.head._1, k)) o.next()
            if (!isDelete) pending = (k, v)
          }
        }
        pending != null
      }
      def next(): (Array[Byte], Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException("merge exhausted")
        val r = pending
        pending = null
        r
      }
    }

  /** Row count from a single data file's footer metadata. Runs on the
    * driver pool for small domains and inside executor tasks for large
    * ones — keep it dependency-free of the enclosing instance. */
  private[store] def footerRowCount(p: Path, format: String, conf: Configuration): Long =
    if (format == "kv" || format == "kvz") {
      KvFile.count(p.getFileSystem(conf), p) // one positioned trailer read (magic-sniffed)
    } else if (format == "orc") {
      val r = org.apache.orc.OrcFile.createReader(
        p, org.apache.orc.OrcFile.readerOptions(conf))
      try r.getNumberOfRows finally r.close()
    } else {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }

  /** The fixed on-disk schema of every domain version: opaque binary pair
    * + the shard partition column (SURVEY §1.1 — schema is fixed and
    * opaque, serde belongs to callers). */
  val DomainSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType)))

  /** Open-or-create: writes `domain-spec.json` for a new domain; for an
    * existing one the stored spec must equal the supplied spec (reference
    * DomainStore.java:36-54). */
  def create(root: String, spec: DomainSpec, conf: Configuration): DomainStore = {
    spec.validate()
    RamFileSystem.register(conf) // before the first getFileSystem on this conf
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val specPath = new Path(rootPath, DomainSpec.FileName)
    if (fs.exists(specPath)) {
      val existing = readSpec(rootPath, conf)
      require(
        existing == spec,
        s"domain at $root already exists with a different spec: $existing vs $spec")
    } else {
      fs.mkdirs(rootPath)
      val out = fs.create(specPath, true)
      out.write(spec.toJson.getBytes("UTF-8"))
      out.close()
    }
    new DomainStore(rootPath, spec, conf)
  }

  /** Open an existing domain, reading its spec from disk. */
  def open(root: String, conf: Configuration): DomainStore = {
    RamFileSystem.register(conf)
    val rootPath = new Path(root)
    val spec = readSpec(rootPath, conf)
    // A yaml-specced root is the migration surface: verify the data half
    // is engine-readable before any scan can die inside a parquet footer.
    if (!rootPath.getFileSystem(conf).exists(new Path(rootPath, DomainSpec.FileName)))
      requireEngineReadableData(rootPath, conf)
    new DomainStore(rootPath, spec, conf)
  }

  /** A reference `domain-spec.yaml` proves SPEC + VERSION-LAYOUT compat,
    * not data compat: a real reference domain's shards are BDB JE /
    * LevelDB binary files under plain-int dirs
    * (ShardSetImpl.java:60–63, JavaBerkDB.java:60–67) that no engine
    * scan can parse — reading them would need the BDB/LevelDB libraries
    * themselves. Opening one must fail HERE, with the persistence named
    * and the migration path spelled out, not levels deep in a parquet
    * footer read. One shallow listing of the newest published version
    * dir, yaml-specced roots only — engine-written domains (json spec)
    * never pay it. */
  private def requireEngineReadableData(root: Path, conf: Configuration): Unit = {
    val fs = root.getFileSystem(conf)
    val versions = new VersionedStore(root, conf)
    versions.mostRecentVersion.foreach { v =>
      val vp = versions.versionPath(v)
      if (fs.exists(vp)) {
        val foreign = fs.listStatus(vp).filter(st =>
          st.isDirectory && st.getPath.getName.nonEmpty &&
            st.getPath.getName.forall(_.isDigit))
        if (foreign.nonEmpty) {
          val sample = fs.listStatus(foreign.head.getPath)
            .take(3).map(_.getPath.getName).toSeq
          val engine = sample.collectFirst {
            case n if n.endsWith(".jdb") => "BerkeleyDB JE"
            case n if n.endsWith(".sst") || n.endsWith(".ldb") ||
              n == "CURRENT" || n == "LOCK" => "LevelDB"
          }.getOrElse("a reference-native")
          throw new IllegalArgumentException(
            s"unsupported persistence under $root: version $v holds the reference's " +
              s"native shard layout (plain-int dirs ${foreign.take(3).map(_.getPath.getName)
                .mkString("'", "', '", "'")}" +
              (if (sample.nonEmpty) s", e.g. ${sample.mkString(", ")}" else "") +
              s") — $engine shard files cannot be read by this engine's scans. " +
              "Migrate: iterate the pairs out with the reference and rebuild via " +
              "DomainStore.create(..., persistenceFormat = kv-sorted); the kv-sorted " +
              "engine is directly servable by KvDomainReader.")
        }
      }
    }
  }

  def exists(root: String, conf: Configuration): Boolean = {
    RamFileSystem.register(conf)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    fs.exists(new Path(rootPath, DomainSpec.FileName)) ||
      fs.exists(new Path(rootPath, DomainSpec.YamlFileName))
  }

  /** The engine's spec (`domain-spec.json`), falling back to the
    * reference's `domain-spec.yaml` (DomainSpec.java:115-127) so a
    * reference-layout domain dir opens unmodified — the version-token
    * layout already matches, only the spec file needed a shim. */
  private[store] def readSpec(root: Path, conf: Configuration): DomainSpec = {
    val fs = root.getFileSystem(conf)
    def slurp(p: Path): String = {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0L, buf)
      finally in.close()
      new String(buf, "UTF-8")
    }
    val jsonPath = new Path(root, DomainSpec.FileName)
    val yamlPath = new Path(root, DomainSpec.YamlFileName)
    if (fs.exists(jsonPath)) DomainSpec.fromJson(slurp(jsonPath))
    else {
      require(fs.exists(yamlPath),
        s"no ${DomainSpec.FileName} or ${DomainSpec.YamlFileName} under $root")
      DomainSpec.fromYaml(slurp(yamlPath))
    }
  }

  /**
   * Reshard a domain N -> M (reference `reshard!`, cascalog/keyval.clj:55-66):
   * one read + one shuffle into a new domain; the set of (key, value) pairs
   * is invariant.
   */
  def reshard(
      spark: SparkSession,
      srcRoot: String,
      dstRoot: String,
      newNumShards: Int,
      version: Long,
      conf: Configuration): DomainStore = {
    val src = open(srcRoot, conf)
    val dst = create(dstRoot, src.spec.copy(numShards = newNumShards), conf)
    dst.write(src.read(spark).select("key", "value"), version)
    dst
  }

  /** Re-publish the newest version of `srcRoot` under `dstRoot` with a
    * different persistence format — the storage-engine migration utility
    * (the concrete step the reference-layout fail-loud error points at,
    * and the operational path for compressing an existing domain:
    * kv-sorted → kv-sorted-z). Sharding is PRESERVED (same numShards /
    * scheme / indexer), which makes the servable-kv → servable-kv case
    * ZERO-SHUFFLE: the layout-reporting scan hands each shard's
    * key-sorted run to its own task, which streams it straight into the
    * destination writer — at 100 TB that is a format conversion, not a
    * re-shuffle of the corpus. Every other (src, dst) pairing routes
    * through the canonical one-shuffle write. Index sidecars are rebuilt
    * for the destination either way (the spec carries the indexer); a kv
    * destination writes each one in the task that writes its shard. */
  def transcode(
      spark: SparkSession,
      srcRoot: String,
      dstRoot: String,
      dstFormat: String,
      version: Long,
      conf: Configuration): DomainStore = {
    val src = open(srcRoot, conf)
    // resolve the source version ONCE: the integrity gate and the
    // rewrite must see the same bytes (a publish landing between them
    // would otherwise transcode a never-audited version)
    val srcVersion = src.latestVersion
    // refuse to transcode corrupt payloads BEFORE creating the
    // destination (a refusal must not leave a spec-only dst root behind
    // that blocks a later create): the rewrite would re-checksum flipped
    // bytes as if they were authentic, laundering the corruption into a
    // clean-auditing file (parquet/orc sources verify on read; kv
    // sources take the span-CRC audit — pre-CRC files audit clean by
    // absence, the documented legacy trade)
    if (src.isKv) {
      val bad = src.integrityFindings(spark, srcVersion)
      require(bad.isEmpty,
        s"transcode: source domain $srcRoot fails its payload-integrity audit — " +
          s"restore or re-publish the named shards first:\n  ${bad.mkString("\n  ")}")
    }
    val dst = create(dstRoot, src.spec.copy(persistenceFormat = dstFormat), conf)
    if (src.isKv && dst.isKv) dst.publishing(version) {
      dst.versions.versionPath(version).getFileSystem(conf)
        .mkdirs(dst.versions.versionPath(version))
      dst.writeSortedKvRows(
        src.readPartitioned(spark, srcVersion)
          .select(col("shard"), col("key"), col("value")),
        version) // sidecars are written with their shard files
      dst.writeOriginsManifest(version, _ => version)
      dst.writeLinksManifest(version, Map.empty) // full rewrite: cache refresh, no file
    } else {
      dst.write(src.readVersion(spark, srcVersion).select("key", "value"), version)
    }
    dst
  }

  /** Census of a patch's deltas for one shard (`None`: the null shard a
    * null key routes to): upsert rows, distinct upsert keys, distinct
    * delete keys, and keys named on both sides. */
  private final case class CensusRow(
      shard: Option[Int], upsertRows: Long, upsertKeys: Long, deleteKeys: Long, bothSides: Long)

  /**
   * shard -> partition-id mapping that makes `repartition(targets.size,
   * _pid)` place the k-th smallest of `targets` in partition k *exactly*
   * (Spark's HashPartitioning is pmod(murmur3(x), n), which on the shard
   * value would co-locate several shards per task and leave others empty
   * — bad file sizing at scale, and a skewed delta merge). Rows must
   * route to one of `targets`; the full build passes `0 until numShards`.
   */
  private[graft] def shardToPartitionId(shard: Column, targets: Seq[Int], numShards: Int): Column =
    element_at(typedlit(partitionIds(targets, numShards).toIndexedSeq), shard + 1)

  /** The table behind [[shardToPartitionId]], computed once on the driver:
    * entry s of a target shard holds an int j with
    * pmod(murmur3_hash(j), targets.size) == rank of s in `targets`
    * (entries of other shards are never read). */
  private[graft] def partitionIds(targets: Seq[Int], numShards: Int): Array[Int] = {
    val n = targets.size
    val preimage = new Array[Int](n)
    val found = new Array[Boolean](n)
    var j = 0
    var remaining = n
    while (remaining > 0) {
      val t = pmodMurmur(j, n)
      if (!found(t)) { found(t) = true; preimage(t) = j; remaining -= 1 }
      j += 1
    }
    val ids = new Array[Int](numShards)
    targets.sorted.iterator.zipWithIndex.foreach { case (s, rank) => ids(s) = preimage(rank) }
    ids
  }

  private def pmodMurmur(value: Int, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(value, org.apache.spark.sql.types.IntegerType, 42L)
      .toInt
    val r = h % n
    if (r < 0) r + n else r
  }
}
