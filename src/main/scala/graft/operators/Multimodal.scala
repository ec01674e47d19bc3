package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media item: opaque payload bytes + typed metadata — the pattern for
  * carrying images/audio/video through a 100 TB pipeline as binary columns
  * with schema'd sidecar fields. */
case class MediaRecord(
    media_id: Long,
    content: Array[Byte],
    format: String,
    n_bytes: Long)

/** Decoded media features. Produced by BOTH kernels: the REAL image path
  * ([[Multimodal.decodeImages]], JDK imageio) and the deterministic stub
  * twin ([[Multimodal.extractFeatures]]) for opaque non-image payloads. */
case class MediaFeatures(
    media_id: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    byte_sum: Long)

/** A 64-bit perceptual fingerprint of one image (see
  * [[Multimodal.imageHashes]]). */
case class MediaHash(
    media_id: Long,
    phash: Long,
    width: Int,
    height: Int)

/**
 * Multimodal-column operators. Media payloads stay opaque `binary` columns
 * end to end; decode/feature-extraction runs batched per partition (the
 * Scala analog of a batched pandas UDF): partitions stream through a
 * batch-at-a-time iterator so a real decoder could amortize model/library
 * setup per batch without materializing a partition in memory.
 */
object Multimodal {

  val BatchSize = 64

  /** Pack any table into media records: payload = utf8 bytes of a text
    * column (stands in for image/audio bytes). */
  def pack(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(payloadCol), "UTF-8").as("content"),
      lit("fake/raw").as("format"),
      octet_length(encode(col(payloadCol), "UTF-8")).cast("long").as("n_bytes"))

  /** Cheap metadata pass — runs fully in codegen, no decode. */
  def describe(df: DataFrame): DataFrame =
    df.select(
      col("media_id"),
      col("n_bytes"),
      md5(col("content")).as("content_md5"))

  /**
   * Batched "decode" + feature extraction. STUB decoder: features are
   * deterministic functions of the payload bytes (a real implementation
   * would replace `decodeBatch` with an image/audio library call; the
   * batching, schema and distribution are what this operator fixes).
   */
  def extractFeatures(spark: SparkSession, media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(decodeBatch)
    }
  }

  /** The stub media model's frame count — ONE definition, used by the
    * batched decoder (scalar) and the codegen'd frame sampler (column),
    * so the two paths (and their oracles) cannot drift. */
  def frameCount(nBytes: Long): Int = 1 + (nBytes % 8).toInt
  def frameCountCol(nBytes: Column): Column =
    (lit(1) + pmod(nBytes, lit(8L))).cast("int")

  /** STUB: one batch through the "decoder". Deterministic fake features:
    * width/height derived from payload length, byte_sum as the "content". */
  private def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      var sum = 0L
      var i = 0
      while (i < r.content.length) { sum += r.content(i) & 0xff; i += 1 }
      MediaFeatures(
        media_id = r.media_id,
        width = (r.n_bytes % 640).toInt,
        height = (r.n_bytes % 480).toInt,
        n_frames = frameCount(r.n_bytes),
        byte_sum = sum)
    }

  /**
   * Batched "resize": dimensions divide by `factor`, payload keeps every
   * `factor`-th byte. STUB transform (a real one calls an image library in
   * `resizeBatch`), but the pipeline shape is the production one: binary
   * in, binary out, constant memory per batch, output is a first-class
   * media Dataset that downstream operators (describe / extractFeatures /
   * frameSample) consume unchanged.
   */
  def resize(spark: SparkSession, media: Dataset[MediaRecord], factor: Int = 2): Dataset[MediaRecord] = {
    import spark.implicits._
    require(factor >= 1, "resize factor must be >= 1")
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(b => resizeBatch(b, factor))
    }
  }

  /** STUB: one batch through the "resizer". */
  private def resizeBatch(batch: Seq[MediaRecord], factor: Int): Seq[MediaRecord] =
    batch.map { r =>
      val out = new Array[Byte]((r.content.length + factor - 1) / factor)
      var i = 0
      while (i < out.length) { out(i) = r.content(i * factor); i += 1 }
      MediaRecord(
        media_id = r.media_id,
        content = out,
        format = s"${r.format};resize=1/$factor",
        n_bytes = out.length.toLong)
    }

  // ------------------------------------------------------- real image path

  /** REAL image kernels — JDK `javax.imageio`, zero new dependencies. The
    * stub kernels above stay as the shape twins for opaque payloads; these
    * decode actual PNG/JPEG/GIF/BMP bytes (ImageIO sniffs the container).
    * Grayscale PNG is lossless BOTH directions, so for
    * [[synthImageMedia]]-generated payloads the entire chain —
    * synthesize → PNG encode → decode → nearest-neighbor resize →
    * re-encode → decode — is deterministic integer math, checkable in
    * closed form by a SQL oracle (no fixture manifest to drift). */

  /** The synthetic pixel: gray value at (x, y) of the image seeded by
    * `seed`. ONE definition, shared by the generator and (replayed as SQL
    * integer arithmetic) the oracles. */
  def pixelValue(seed: Long, x: Int, y: Int): Int =
    (((seed * 31 + x * 7 + y * 13) % 256 + 256) % 256).toInt

  def synthWidth(seed: Long): Int = 1 + math.floorMod(seed, 31).toInt
  def synthHeight(seed: Long): Int = 1 + math.floorMod(seed, 17).toInt

  /** One deterministic grayscale PNG (8-bit, no palette/profile). */
  def synthPng(seed: Long): Array[Byte] = {
    val w = synthWidth(seed)
    val h = synthHeight(seed)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixelValue(seed, x, y)); x += 1 }
      y += 1
    }
    encodePng(img)
  }

  // ImageIO spools every read/write through a TEMP FILE by default; for
  // per-record in-memory payloads that is one disk round-trip per image.
  // Process-wide flag, set once per JVM (executors included — the object
  // initializes wherever a kernel first runs).
  javax.imageio.ImageIO.setUseCache(false)

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos),
      "no PNG writer registered (JDK imageio missing?)")
    bos.toByteArray
  }

  private def decodeImage(r: MediaRecord): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.content))
    require(img != null,
      s"media_id ${r.media_id}: payload is not a decodable image (format '${r.format}')")
    img
  }

  /** Media records whose payloads are REAL PNG bytes, seeded by the first
    * column of `ids` (generated in the executors — a 100 TB corpus of
    * synthetic fixtures never funnels through the driver). */
  def synthImageMedia(spark: SparkSession, ids: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    ids.select(col(ids.columns.head).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val png = synthPng(id)
        MediaRecord(id, png, "image/png", png.length.toLong)
      }
    }
  }

  /** Batched REAL decode + feature extraction: actual dimensions and the
    * sum of band-0 samples (= the gray value for grayscale payloads).
    * Same batching contract as [[extractFeatures]]. */
  def decodeImages(spark: SparkSession, media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(decodeImageBatch))
  }

  /**
   * Perceptual image hashing (aHash over a fixed 8×8 grid) — the
   * image-dedup primitive every multimodal training pipeline runs
   * before anything else: REAL decode (JDK imageio), nearest-neighbor
   * sample of band 0 onto an 8×8 grid (`in(x·w/8, y·h/8)` — exact pixel
   * picks, the same rule as [[resizeImages]], well-defined for images
   * smaller than the grid), then one bit per cell: `pixel · 64 >
   * sum(all 64 samples)` (the integer cross-multiplied form of
   * "above the mean" — no division, bit-identical in any engine). Bit
   * j = row-major cell y·8+x, packed into one BIGINT (two's
   * complement, bit 63 included). Images whose content differs only by
   * global brightness-preserving noise collapse to equal or
   * near-equal (small Hamming distance) hashes; exact-equal hashes are
   * the grouping key for the dedup query, and Hamming banding rides
   * the existing SimHash machinery when needed.
   */
  def imageHashes(
      spark: SparkSession, media: Dataset[MediaRecord]): Dataset[MediaHash] = {
    import spark.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(imageHashBatch))
  }

  private def imageHashBatch(batch: Seq[MediaRecord]): Seq[MediaHash] =
    batch.map { r =>
      val img = decodeImage(r)
      val raster = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      val samples = new Array[Int](64)
      var sum = 0L
      var j = 0
      while (j < 64) {
        val x = j & 7
        val y = j >> 3
        val v = raster.getSample(x * w / 8, y * h / 8, 0)
        samples(j) = v
        sum += v
        j += 1
      }
      var hash = 0L
      j = 0
      while (j < 64) {
        if (samples(j) * 64L > sum) hash |= 1L << j
        j += 1
      }
      MediaHash(r.media_id, hash, w, h)
    }

  /** Pigeonhole bands for [[phashNearDupPairs]]: 4 bands × 16 bits. Any
    * two hashes within Hamming distance 3 differ in at most 3 bands, so
    * at least one band matches exactly — the banding is EXACT (recall
    * 1.0) for maxHamming ≤ 3, not probabilistic like MinHash-LSH. */
  val PhashBands: Int = 4

  /**
   * Image NEAR-duplicate pairs from [[imageHashes]] fingerprints:
   * bucket by the 4×16-bit pigeonhole bands (a candidate pair must
   * share at least one exact band — guaranteed complete for
   * `maxHamming ≤ 3`), then verify candidates with the exact popcount
   * of the XOR. Output: one row per unordered pair within the Hamming
   * bound, `(id_a < id_b, hamming)`.
   *
   * Scale posture: the only shuffles are the 4-rows-per-image band
   * bucketing and the candidate dedup — never an all-pairs product;
   * identical-hash clusters (exact dups) meet in every band and
   * collapse in the distinct. `maxHamming` past the pigeonhole
   * guarantee fails loud rather than silently losing recall.
   *
   * Hot-bucket cap (the [[LshBuckets]] rule, same as every banded
   * pair-lister and [[phashIndexKv]]): a (band, bucket) cell above
   * `maxBucket` members — 100k copies of one placeholder image put
   * 100k rows in the same cell of EVERY band, a 5e9-pair single-task
   * straggler — is dropped whole before the self-join; pairs of such a
   * cluster don't emit (a corpus that common is an exact-dedup job
   * first), and the oracles replay the cap.
   */
  def phashNearDupPairs(
      spark: SparkSession, hashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = LshBuckets.MaxBucket): DataFrame = {
    require(maxHamming >= 0 && maxHamming < PhashBands,
      s"maxHamming $maxHamming outside [0, $PhashBands): the $PhashBands-band " +
        "pigeonhole guarantees complete recall only below the band count — " +
        "re-band (more, narrower bands) instead of silently missing pairs")
    val withBucket =
      LshBuckets.bounded(phashBandBuckets(hashes), Seq("band", "bucket"), maxBucket)
    val a = withBucket.select(
      col("band"), col("bucket"), col("media_id").as("id_a"), col("phash").as("ph_a"))
    val b = withBucket.select(
      col("band"), col("bucket"), col("media_id").as("id_b"), col("phash").as("ph_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ph_a"), col("ph_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The index families' ONE key/entry grammar (CLAUDE.md: two record
    * classes sharing a key scheme must share the key-building
    * expression) — build, removal rows, and the content audit all
    * derive from these two definitions, so a grammar change cannot
    * leave the audit reporting a consistent index as wholesale drift
    * (or a drifted one as clean). */
  private def phashBucketKey: Column = {
    import graft.functions.{composite_key, int_be, long_be}
    composite_key(int_be(col("band")), long_be(col("bucket")))
  }
  private def phashEntry: Column =
    concat(col("media_id").cast("string"), lit(":"), col("phash").cast("string"))

  /** The shared banding projection (4 rows per hash): bucket =
    * `(phash >>> 16·band) & 0xFFFF` — the mask makes the shift's sign
    * treatment irrelevant, so the DuckDB oracle's arithmetic `>>`
    * agrees. */
  private def phashBandBuckets(hashes: DataFrame): DataFrame =
    hashes.select(
        col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(PhashBands - 1))).as("band"))
      .withColumn("bucket",
        expr("shiftrightunsigned(phash, 16 * band)").bitwiseAND(lit(0xFFFFL)))

  /**
   * An image corpus's pigeonhole band buckets as publishable KV rows —
   * key = (band:int_be, bucket:long_be), value = comma-joined sorted
   * `id:phash` entries. Publish with `DomainStore.write` to get a
   * versioned, sharded image-dedup INDEX that later deltas probe by
   * point lookup ([[phashDedupAgainstIndex]]) — the image twin of
   * `Dedup.bandIndexKv` (Dedup.scala): at 100 TB a daily media delta
   * probes yesterday's index instead of re-banding the whole corpus.
   * Unlike the text index, the value entries CARRY the member's phash,
   * so the probe verifies candidates with a local popcount — no corpus
   * access at all. Hot-bucket cap semantics are `Dedup.bandIndexKv`'s:
   * a bucket above `maxBucket` members never materializes its entry
   * list (the capped aggregate overflows map-side — bounds the value
   * cell, the exchange, AND the probe-side explode) and its key
   * publishes as a [[graft.core.IndexTombstone]] row — probes miss it,
   * upserts keep it dropped.
   */
  def phashIndexKv(
      hashes: DataFrame,
      maxBucket: Int = LshBuckets.MaxBucket): DataFrame = {
    import graft.functions.utf8_bytes
    IndexDelete.requireIntegralId(hashes, "media_id", "phashIndexKv")
    // one capped aggregation pass (LshBuckets.boundedMembers); the
    // family's canonical order is the full `id:phash` entry string
    // (phashEntry — the ONE grammar definition the audit shares)
    LshBuckets.boundedMembers(
        phashBandBuckets(hashes), Seq("band", "bucket"), phashEntry, phashEntry, maxBucket)
      .select(phashBucketKey.as("key"), utf8_bytes(
        when(col("_members").isNull, lit(graft.core.IndexTombstone.Value))
          .otherwise(concat_ws(",", col("_members")))).as("value"))
      // type authority: byte-compatible key shape with the text band
      // index but a DIFFERENT value grammar (id:phash vs id) — the
      // marker is what keeps a cross-type upsert/probe loud
      .unionByName(IndexMarker.row(hashes.sparkSession, PhashIndexType))
      .unionByName(IndexMarker.capRow(hashes.sparkSession))
  }

  /** The phash family's (key, rid) removal rows — the pre-aggregation
    * half of [[phashIndexKv]]'s key kernel
    * (the [[IndexDelete.publishRemoval]] row contract). */
  private def phashKeyRows(hashes: DataFrame): DataFrame =
    phashBandBuckets(hashes).select(
      phashBucketKey.as("key"),
      col("media_id").cast("string").as("rid"))

  /** [[phashIndexKv]]'s `m:index-type` marker value. */
  val PhashIndexType = "phash-band"

  /**
   * Near-dup image pairs of `incoming` hashes against a PUBLISHED
   * [[phashIndexKv]] domain: band the incoming hashes, probe the index
   * with hits-only point lookups (`multiGet(includeMisses = false)` —
   * the delta's band keys are a bounded probe set by the incremental
   * contract, so the index scan prunes to their shards and bloom
   * sidecars kill definite misses), unpack candidate `id:phash`
   * entries, verify with the exact popcount. Per-call cost is
   * O(delta + candidates), NOT O(corpus) — and since the index values
   * carry the corpus phashes, NO corpus table is touched at all.
   *
   * Incoming and indexed id spaces must be disjoint (pairs are oriented
   * incoming → corpus; fail loud, same contract as
   * `Dedup.dedupAgainstIndex`). Recall equals [[phashNearDupPairs]]'s
   * pigeonhole guarantee: exact (1.0) for `maxHamming < PhashBands`.
   *
   * Output: (delta_id, corpus_id, hamming), one row per oriented pair
   * within the Hamming bound.
   */
  def phashDedupAgainstIndex(
      store: graft.store.DomainStore,
      incoming: DataFrame,
      maxHamming: Int = PhashBands - 1): DataFrame = {
    import graft.functions.{bytes_utf8, composite_key, int_be, long_be}
    require(maxHamming >= 0 && maxHamming < PhashBands,
      s"maxHamming $maxHamming outside [0, $PhashBands): the $PhashBands-band " +
        "pigeonhole guarantees complete recall only below the band count — " +
        "re-band (more, narrower bands) instead of silently missing pairs")
    IndexDelete.requireIntegralId(incoming, "media_id", "phashDedupAgainstIndex")
    IndexMarker.require(
      store, incoming.sparkSession, PhashIndexType, "phashDedupAgainstIndex", "phashIndexKv")
    val probes = phashBandBuckets(incoming).select(
      col("media_id").as("id_a"), col("phash").as("ph_a"),
      composite_key(int_be(col("band")), long_be(col("bucket"))).as("key"))
    // a tombstoned bucket (cap-dropped at publish) is a MISS — no
    // candidates, the documented cap semantics
    val hits = store.multiGet(probes.select(col("key")), includeMisses = false)
      .where(bytes_utf8(col("value")) =!= lit(graft.core.IndexTombstone.Value))
    // candidates checkpointed: the band+probe pipeline feeds both the
    // disjointness check and the verify, and must not re-run per action
    val cand = probes.join(hits, "key")
      .select(col("id_a"), col("ph_a"),
        explode(split(bytes_utf8(col("value")), ",")).as("entry"))
      .select(col("id_a"), col("ph_a"),
        split(col("entry"), ":").getItem(0).cast("long").as("id_b"),
        split(col("entry"), ":").getItem(1).cast("long").as("ph_b"))
      .distinct()
      .localCheckpoint(true)
    val inIds = incoming.select(col("media_id").cast("long").as("_in_id"))
    val clash = cand.join(inIds, col("id_b") === col("_in_id"), "left_semi")
      .limit(1).collect()
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"phashDedupAgainstIndex: id ${clash(0).get(2)} appears on both the " +
        "incoming and indexed sides — id spaces must be disjoint (pairs " +
        "are oriented incoming -> corpus)")
    cand
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a").as("delta_id"), col("id_b").as("corpus_id"), col("hamming"))
  }

  /**
   * The lifecycle of a PUBLISHED [[phashIndexKv]] domain
   * ([[IndexFamily]]), on the pigeonhole band kernel. Entries carry
   * `id:phash`: `idAudit` compares the FULL entry (a re-hashed image
   * whose old and new phash share a bucket reads stale + unindexed, since
   * the stored payload is what the probe's hamming verify reads), while
   * deletes and `removalAudit` match stored entries by id part, whatever
   * their payload. An id re-ingested with a CHANGED phash fails loud in
   * `upsert` and `update` wherever old and new share a bucket
   * (guaranteed at hamming <= 3); change a phash by delete-then-upsert
   * or a rebuild.
   */
  def phashIndex(maxBucket: Int = LshBuckets.MaxBucket): IndexFamily =
    new IndexFamily("phash", PhashIndexType, "media_id", maxBucket,
      (df, cap) => phashIndexKv(df, maxBucket = cap),
      phashKeyRows,
      hashes => phashBandBuckets(hashes).select(
        phashBucketKey.as("key"), phashEntry.as("rid")))

  private def decodeImageBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      val img = decodeImage(r)
      val raster = img.getRaster
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      MediaFeatures(r.media_id, img.getWidth, img.getHeight, 1, sum)
    }

  /** Batched REAL resize: decode, nearest-neighbor subsample
    * (`out(x, y) = in(x*factor, y*factor)`, output `ceil(dim/factor)` —
    * exact pixel picks, so lossless inputs stay oracle-checkable), PNG
    * re-encode. Binary in, binary out, constant memory per batch; the
    * output is a first-class media Dataset downstream operators consume
    * unchanged. */
  def resizeImages(
      spark: SparkSession,
      media: Dataset[MediaRecord],
      factor: Int = 2): Dataset[MediaRecord] = {
    import spark.implicits._
    require(factor >= 1, "resize factor must be >= 1")
    media.mapPartitions(_.grouped(BatchSize).flatMap(b => resizeImageBatch(b, factor)))
  }

  private def resizeImageBatch(batch: Seq[MediaRecord], factor: Int): Seq[MediaRecord] =
    batch.map { r =>
      val img = decodeImage(r)
      val ow = (img.getWidth + factor - 1) / factor
      val oh = (img.getHeight + factor - 1) / factor
      val out = new java.awt.image.BufferedImage(
        ow, oh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val src = img.getRaster
      val dst = out.getRaster
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) {
          dst.setSample(x, y, 0, src.getSample(x * factor, y * factor, 0))
          x += 1
        }
        y += 1
      }
      val png = encodePng(out)
      MediaRecord(r.media_id, png, "image/png", png.length.toLong)
    }

  // ------------------------------------------------------- real audio path

  /** REAL audio kernels — JDK `javax.sound.sampled` (the platform's WAV
    * codec stack; file parsing is pure Java and headless-safe), zero new
    * dependencies. The audio twin of the imageio path: PCM WAV is
    * lossless, so for [[synthAudioMedia]]-generated payloads the chain —
    * synthesize → WAV encode → AudioSystem decode → decimate →
    * re-encode → decode — is deterministic integer math, checkable in
    * closed form by a SQL oracle. */

  /** The synthetic waveform: 16-bit sample `i` of the clip seeded by
    * `seed`. ONE definition, shared by the generator and (replayed as
    * integer SQL) the oracles. Range ±10000 keeps headroom below the
    * 16-bit rails, so no clipping ambiguity anywhere. */
  def sampleValue(seed: Long, i: Int): Int =
    (math.floorMod(seed * 17 + i.toLong * 29, 20001L) - 10000L).toInt

  /** 8/9/10/11/12 kHz — all divisible by small decimation factors. */
  def synthSampleRate(seed: Long): Int = 8000 + 1000 * math.floorMod(seed, 5L).toInt
  def synthSampleCount(seed: Long): Int = 50 + math.floorMod(seed, 200L).toInt

  /** One deterministic mono 16-bit PCM WAV (canonical 44-byte header). */
  def synthWav(seed: Long): Array[Byte] = {
    val n = synthSampleCount(seed)
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) { samples(i) = sampleValue(seed, i).toShort; i += 1 }
    encodeWav(samples, synthSampleRate(seed))
  }

  /** Mono 16-bit little-endian PCM WAV bytes. */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Decode through the JDK codec: (sampleRate, 16-bit signed samples).
    * Fails loud naming the media_id on undecodable payloads. */
  private def decodeWav(r: MediaRecord): (Int, Array[Short]) = {
    import javax.sound.sampled.AudioSystem
    val in =
      try AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(r.content))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"media_id ${r.media_id}: payload is not decodable audio (format '${r.format}')", e)
      }
    try {
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"media_id ${r.media_id}: expected 16-bit mono PCM, got " +
          s"${fmt.getSampleSizeInBits}-bit x${fmt.getChannels}")
      val bytes = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(bytes).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
      val samples = new Array[Short](bytes.length / 2)
      var i = 0
      while (i < samples.length) { samples(i) = bb.getShort; i += 1 }
      (fmt.getSampleRate.toInt, samples)
    } finally in.close()
  }

  /** Media records whose payloads are REAL WAV bytes, seeded by the first
    * column of `ids` (generated in the executors, like the PNG fixtures). */
  def synthAudioMedia(spark: SparkSession, ids: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    ids.select(col(ids.columns.head).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val wav = synthWav(id)
        MediaRecord(id, wav, "audio/wav", wav.length.toLong)
      }
    }
  }

  /** Batched REAL audio decode: sample rate, sample count, sum of samples,
    * peak |sample| — the signal-level stats an audio-quality gate keys on.
    * Same batching contract as the image kernels. */
  def decodeAudio(spark: SparkSession, media: Dataset[MediaRecord]): DataFrame = {
    import spark.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(_.map { r =>
      val (rate, samples) = decodeWav(r)
      var sum = 0L
      var peak = 0
      var i = 0
      while (i < samples.length) {
        val s = samples(i).toInt
        sum += s
        val a = math.abs(s)
        if (a > peak) peak = a
        i += 1
      }
      (r.media_id, rate, samples.length.toLong, sum, peak)
    })).toDF("media_id", "sample_rate", "n_samples", "sample_sum", "peak")
  }

  /** Anti-aliased 2:1 decimation — the proper-resampler sibling of
    * [[resampleAudio]]'s exact picks: each output sample is the
    * edge-clamped half-band FIR `[1, 2, 1]/4` centered on the source's
    * even grid, `out(i) = ⌊(in(2i−1) + 2·in(2i) + in(2i+1)) / 4⌋`
    * (a genuine low-pass: the kernel nulls the folding frequency, so
    * energy at the old Nyquist cannot alias into the new band — the
    * defect pure decimation has by design). EXACT integer math with an
    * engine-independent rounding convention: a +32768 bias per sample
    * makes the numerator non-negative before the divide, so Spark, the
    * JVM, and DuckDB all produce the identical floor — the same
    * replayability trick as the quantized Lloyd. Output stays in
    * 16-bit range (a weighted mean of shorts), same length/rate
    * contract as factor-2 [[resampleAudio]]. */
  def resampleAudioFir(
      spark: SparkSession,
      media: Dataset[MediaRecord]): Dataset[MediaRecord] = {
    import spark.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(_.map { r =>
      val (rate, samples) = decodeWav(r)
      require(rate % 2 == 0, s"media_id ${r.media_id}: odd rate $rate cannot halve")
      val n = samples.length
      val out = new Array[Short]((n + 1) / 2)
      var i = 0
      while (i < out.length) {
        val c = 2 * i
        val a = samples(math.max(c - 1, 0)).toInt
        val b = samples(c).toInt
        val d = samples(math.min(c + 1, n - 1)).toInt
        // bias 4*32768 keeps the numerator >= 0: >> 2 IS floor division
        out(i) = (((a + 2 * b + d + 131072) >> 2) - 32768).toShort
        i += 1
      }
      val wav = encodeWav(out, rate / 2)
      MediaRecord(r.media_id, wav, "audio/wav", wav.length.toLong)
    }))
  }

  /** Batched REAL decimating resample: keep every `factor`-th sample
    * (`out(i) = in(i*factor)`, `ceil(n/factor)` samples at `rate/factor`)
    * and re-encode — exact sample picks, the audio analog of the
    * nearest-neighbor image resize, so lossless inputs stay
    * oracle-checkable. ([[resampleAudioFir]] is the low-pass production
    * sibling; exact decimation remains the deterministic contract
    * kernel.) Requires `rate % factor == 0` so the output rate stays
    * integral. */
  def resampleAudio(
      spark: SparkSession,
      media: Dataset[MediaRecord],
      factor: Int = 2): Dataset[MediaRecord] = {
    import spark.implicits._
    require(factor >= 1, "resample factor must be >= 1")
    media.mapPartitions(_.grouped(BatchSize).flatMap(_.map { r =>
      val (rate, samples) = decodeWav(r)
      require(rate % factor == 0,
        s"media_id ${r.media_id}: rate $rate not divisible by decimation factor $factor")
      val out = new Array[Short]((samples.length + factor - 1) / factor)
      var i = 0
      while (i < out.length) { out(i) = samples(i * factor); i += 1 }
      val wav = encodeWav(out, rate / factor)
      MediaRecord(r.media_id, wav, "audio/wav", wav.length.toLong)
    }))
  }

  /**
   * Frame sampling for video-like payloads: emit up to `k` evenly spaced
   * frame indices out of the item's `n_frames` (`floor(i * n_frames / k)`,
   * deduplicated — short clips yield fewer samples). Pure codegen — frame
   * *selection* is arithmetic on metadata and never touches payload bytes;
   * only the chosen frames would be decoded downstream (by
   * [[extractFeatures]]-style batches), which is the point at 100 TB:
   * sample first, decode after.
   */
  def frameSample(media: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, "frameSample k must be >= 1")
    media
      .select(
        col("media_id"),
        frameCountCol(col("n_bytes")).as("n_frames"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .select(
        col("media_id"),
        col("n_frames").cast("long").as("n_frames"),
        floor(col("i") * col("n_frames") / k).cast("long").as("frame_no"))
      .distinct()
  }
}
