package graft.store

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.util.sketch.BloomFilter

/**
 * Write-time index hook — the reference's Indexer SPI (W5: a domain spec
 * names a class that builds custom index structures as documents are
 * written; `elephantdb-core/src/jvm/elephantdb/index/Indexer.java:8-10`,
 * `IdentityIndexer.java:11-16`). There the hook ran per key-value pair
 * against the local persistence; the Spark-first re-expression builds one
 * compact per-shard sidecar artifact from the shard's key stream at publish
 * time — kv domains in the task that writes the shard
 * (`DomainStore.writeKvShardFile`), datasource domains in one
 * column-pruned pass after the write (`DomainStore.buildIndex`) — and the
 * read path consults the artifact to answer "definitely absent" without
 * touching any data file.
 *
 * Why this matters at scale: md5-mod routing says where a key WOULD live if
 * it exists; an index says whether it IS there. Point lookups of absent
 * keys — the common case in sparse enrichments — become driver-side
 * metadata reads with zero data I/O.
 *
 * Implementations are loaded by class name from the domain spec, the same
 * plug-point shape as every reference SPI (`DomainSpec.java:46-52`,
 * `Utils.java:31-51`), and must be serializable (the build runs in
 * executor tasks) with a no-arg constructor.
 */
trait Indexer extends Serializable {

  /** Build the artifact for one shard from its key stream. Called once per
    * shard inside an executor task; must be single-pass and bounded-memory
    * (a 100 TB domain's shard can hold millions of keys — do not buffer
    * them). `expectedKeys` is the exact number of keys the iterator
    * yields: the caller counts them while spilling them to a task-local
    * file (`DomainStore.KeySpill`), then re-streams that file. So the
    * iterator is only valid DURING this call: the spill file is
    * reclaimed when `build` returns, and the iterator must be
    * fully consumed (or abandoned) here — never captured into the
    * artifact or a lazy structure. */
  def build(expectedKeys: Long, keys: Iterator[Array[Byte]]): Array[Byte]

  /** Deserialize an artifact once and return a membership probe:
    * `false` = the shard definitely does not contain the key (the lookup
    * skips the shard entirely); `true` = maybe (a false positive costs one
    * read, never a wrong answer). */
  def probe(artifact: Array[Byte]): Array[Byte] => Boolean
}

object Indexer {

  /** Sidecar file written inside each `shard=<i>` dir. The underscore
    * prefix makes Spark's file index ignore it (scans never see it), and
    * living inside the shard dir means every shard-dir transfer —
    * copy-forward, localize, a serving box pulling its shard subset —
    * carries the index with the data for free. */
  val SidecarName = "_index.bin"

  /** Class-name loader (reference `Utils.java:31-51`). */
  def forName(className: String): Indexer =
    Class.forName(className).getDeclaredConstructor().newInstance() match {
      case ix: Indexer => ix
      case other => throw new IllegalArgumentException(
        s"indexer class ${other.getClass.getName} does not implement graft.store.Indexer")
    }

  /** Read a shard dir's sidecar and deserialize it into a probe; `None`
    * when the shard carries no sidecar (= always maybe). ONE definition
    * for every reader of sidecars (store lookups, the serving reader) so
    * the artifact I/O cannot drift between them. */
  def loadProbe(
      fs: org.apache.hadoop.fs.FileSystem,
      shardDir: org.apache.hadoop.fs.Path,
      ix: Indexer): Option[Array[Byte] => Boolean] = {
    val p = new org.apache.hadoop.fs.Path(shardDir, SidecarName)
    if (!fs.exists(p)) None
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0L, buf) finally in.close()
      Some(ix.probe(buf))
    }
  }
}

/**
 * Bloom filter over the shard's keys, using Spark's own sketch library
 * (`org.apache.spark.util.sketch.BloomFilter` — the same structure
 * `DataFrameStatFunctions.bloomFilter` builds): ~10 bits/key at the 1%
 * default fpp, so a 10M-key shard carries a ~12 MB sidecar next to
 * gigabytes of data. Deterministic for a given key set, which the specs
 * rely on (byte-identical sidecars under copy-forward).
 */
final class BloomKeyIndexer extends Indexer {

  def build(expectedKeys: Long, keys: Iterator[Array[Byte]]): Array[Byte] = {
    // Floor of 64 keeps degenerate shards from rounding to a zero-bit
    // filter; an over-sized filter only wastes a few bytes.
    val bf = BloomFilter.create(math.max(expectedKeys, 64L), 0.01)
    keys.foreach(bf.putBinary)
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  def probe(artifact: Array[Byte]): Array[Byte] => Boolean = {
    val bf = BloomFilter.readFrom(new ByteArrayInputStream(artifact))
    bf.mightContainBinary
  }
}
