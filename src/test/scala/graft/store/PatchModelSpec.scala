package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.util.Pretty

import graft.SparkSuite
import graft.core.{DomainSpec, ShardIndex}

/** Model-based property test of the update path: random sequences of
  * write, upsert, delete and patch (dedupKeys on and off, linked on and
  * off) against a `Map[key, value]` model, on ramfs-rooted indexed
  * domains. After every publish, `get`, `multiGet` and `count` must
  * answer as the model does. On the kv formats every shard's data file
  * and `_index.bin` must also be byte-identical to a fresh `write` of the
  * model: a patch is a rebuild, only cheaper (the memory format's parquet
  * file names carry UUIDs, so it is checked on answers only). Fixed seed;
  * a failure prints the shrunk op list. */
class PatchModelSpec extends SparkSuite {
  import PatchModelSpec._

  private val conf = new Configuration()
  private val params = Test.Parameters.default
    .withInitialSeed(20261019L)
    .withMinSuccessfulTests(3)
    .withWorkers(1)

  private def str(b: Array[Byte]): String = new String(b, "UTF-8")

  private def pairsDf(pairs: Seq[(Int, Option[String])]): DataFrame = {
    import spark.implicits._
    pairs.map { case (k, v) => (keyBytes(k), v.map(_.getBytes("UTF-8")).orNull) }
      .toDF("key", "value")
  }

  private def keysDf(keys: Seq[Int]): DataFrame = {
    import spark.implicits._
    keys.map(keyBytes).toDF("key")
  }

  /** Every file of shard `s` of `version` by name, as its length and MD5,
    * or None when the shard has no dir (link-aware). */
  private def shardFiles(st: DomainStore, version: Long, s: Int): Option[Map[String, String]] = {
    val d = st.shardDirOf(version, s)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) None
    else Some(fs.listStatus(d).map { f =>
      val buf = new Array[Byte](f.getLen.toInt)
      val in = fs.open(f.getPath)
      try in.readFully(0L, buf) finally in.close()
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(buf)
      f.getPath.getName -> s"${buf.length} B, md5 ${md5.map(b => f"$b%02x").mkString}"
    }.toMap)
  }

  /** `named`: the keys the last op wrote or deleted. A `get` on the
    * memory format is a Spark job, so there it probes only the least
    * named key and one never-written key; `multiGet` and `count` always
    * cover the space. */
  private def check(
      store: DomainStore, version: Long, model: Map[Int, Option[String]], root: String,
      named: Set[Int]): Unit = {
    assert(store.latestVersion === version)
    def expect(k: Int): Option[Option[String]] = model.get(k)
    val isMemory = store.spec.persistenceFormat == DomainSpec.Memory
    (if (isMemory) named.toSeq.sorted.take(1) :+ KeySpace else Probe).foreach { k =>
      assert(store.get(spark, keyBytes(k)).map(v => Option(v).map(str)) === expect(k),
        s"get(key-$k) at version $version")
    }
    // hits only: a stored null value is a hit with a null value, which
    // the miss-filling form could not tell from an absent key
    val hits = store.multiGet(keysDf(Probe), includeMisses = false).collect()
      .map(r => str(r.getAs[Array[Byte]]("key")) -> Option(r.getAs[Array[Byte]]("value")).map(str))
    assert(hits.toMap === model.map { case (k, v) => str(keyBytes(k)) -> v })
    assert(hits.length === model.size, "multiGet returned a key twice")
    assert(store.count(spark) === model.size.toLong)
    if (isMemory) return
    val fresh = DomainStore.create(s"$root-fresh", store.spec, conf)
    try {
      fresh.write(pairsDf(model.toSeq), 1L)
      (0 until Shards).foreach { s =>
        assert(shardFiles(store, version, s) === shardFiles(fresh, 1L, s),
          s"shard $s of version $version differs from a fresh write of the model")
      }
    } finally fresh.root.getFileSystem(conf).delete(fresh.root, true)
  }

  /** Run one scenario on a fresh domain; returns the cases it covered. */
  private def run(format: String, auth: String, scenario: Scenario, id: Int): Set[String] = {
    val root = s"ramfs://$auth/s$id"
    val store = DomainStore.create(root,
      DomainSpec(Shards, persistenceFormat = format,
        indexer = if (format == DomainSpec.Memory) DomainSpec.NoIndexer else classOf[BloomKeyIndexer].getName),
      conf)
    val covered = scala.collection.mutable.Set[String]()
    var model = Map.empty[Int, Option[String]]
    var deletedEver = Set.empty[Int]
    var prevLinked = false
    try {
      (scenario.initial :: scenario.ops).zipWithIndex.foreach { case (op, i) =>
        val version = i + 1L
        val before = model
        def shardsOf(ks: Iterable[Int]): Set[Int] = ks.map(shardOf).toSet
        val (ups, dels) = op match {
          case Write(pairs, dedup) =>
            store.write(pairsDf(pairs), version, dedupKeys = dedup)
            model = Map.empty
            (pairs, Nil)
          case Upsert(pairs, dedup, linked) =>
            store.upsert(spark, pairsDf(pairs), version, dedupKeys = dedup, linked = linked)
            (pairs, Nil)
          case Delete(keys, linked) =>
            store.delete(spark, keysDf(keys), version, linked = linked)
            (Nil, keys)
          case Patch(pairs, keys, dedup, linked) =>
            store.patch(spark, Some(pairsDf(pairs)), Some(keysDf(keys)), version,
              dedupKeys = dedup, linked = linked)
            (pairs, keys)
          case EmptyShard(s, linked) =>
            val keys = (0 until KeySpace).filter(shardOf(_) == s).toList
            store.delete(spark, keysDf(keys), version, linked = linked)
            (Nil, keys)
        }
        model = model -- dels ++ ups
        if (!op.isInstanceOf[Write]) {
          if (model.values.exists(_.isEmpty)) covered += "stored null value"
          if (dels.exists(k => !before.contains(k))) covered += "delete of an absent key"
          if (shardsOf(before.keys).diff(shardsOf(model.keys)).nonEmpty) covered += "shard emptied"
          if (shardsOf(ups.map(_._1) ++ dels).diff(shardsOf(before.keys)).nonEmpty)
            covered += "affected shard absent from the old version"
          if (ups.exists(p => deletedEver(p._1))) covered += "re-insert after delete"
          if (prevLinked) covered += "linked predecessor"
        }
        deletedEver ++= dels.filter(before.contains)
        prevLinked = op.linked
        check(store, version, model, root, (ups.map(_._1) ++ dels).toSet)
      }
    } finally store.root.getFileSystem(conf).delete(store.root, true)
    covered.toSet
  }

  private def modelCheck(format: String, auth: String): Unit = {
    RamFileSystem.clear(auth)
    val covered = scala.collection.mutable.Set[String]()
    var runs = 0
    val t0 = System.nanoTime()
    val prop = Prop.forAll(genScenario) { sc =>
      runs += 1
      covered ++= run(format, auth, sc, runs)
      true
    }
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    info(f"$runs scenarios in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(covered.toSet === RequiredCases, "the generator stopped reaching a required case")
    RamFileSystem.clear(auth)
  }

  test("patch == rebuild on kv-sorted: random op sequences against a Map model") {
    modelCheck(DomainSpec.KvSorted, "patchmodel-kv")
  }

  test("patch == rebuild on kv-sorted-z: random op sequences against a Map model") {
    modelCheck(DomainSpec.KvSortedZ, "patchmodel-kvz")
  }

  test("patch answers as the model on memory (ramfs parquet): random op sequences") {
    modelCheck(DomainSpec.Memory, "patchmodel-memory")
  }
}

object PatchModelSpec {
  val Shards = 4
  val KeySpace = 16
  /** Every key of the space plus two that are never written. */
  val Probe: Seq[Int] = 0 until KeySpace + 2

  def keyBytes(k: Int): Array[Byte] = s"key-$k".getBytes("UTF-8")
  def shardOf(k: Int): Int = ShardIndex.shardIndex(keyBytes(k), Shards)

  val RequiredCases: Set[String] = Set(
    "stored null value", "delete of an absent key", "shard emptied",
    "affected shard absent from the old version", "re-insert after delete",
    "linked predecessor")

  sealed trait Op { def linked: Boolean = false }
  final case class Write(pairs: List[(Int, Option[String])], dedup: Boolean) extends Op
  final case class Upsert(pairs: List[(Int, Option[String])], dedup: Boolean, override val linked: Boolean)
    extends Op
  final case class Delete(keys: List[Int], override val linked: Boolean) extends Op
  final case class Patch(
      pairs: List[(Int, Option[String])], keys: List[Int], dedup: Boolean, override val linked: Boolean)
    extends Op
  /** Deletes every key of the space that routes to `shard`, present or not. */
  final case class EmptyShard(shard: Int, override val linked: Boolean) extends Op

  /** A domain's history: one full write, then the updates. */
  final case class Scenario(initial: Write, ops: List[Op])

  // shrinking drops updates and never the initial write
  implicit val shrinkScenario: Shrink[Scenario] =
    Shrink(sc => Shrink.shrink(sc.ops).map(ops => sc.copy(ops = ops)))

  private val genValue: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(0, 999).map(n => Some(s"v$n")))

  // a hot quarter of the space makes deletes and later upserts collide
  // (re-inserts) within a short history
  private val genKey: Gen[Int] =
    Gen.frequency(1 -> Gen.choose(0, KeySpace / 4 - 1), 1 -> Gen.choose(0, KeySpace - 1))

  /** Distinct keys with values; with `dedup`, some pairs repeat exactly
    * (same value, so whichever copy the dedup keeps, the model agrees). */
  private def genPairs(max: Int, dedup: Boolean): Gen[List[(Int, Option[String])]] = for {
    n <- Gen.choose(0, max)
    keys <- Gen.listOfN(n, genKey).map(_.distinct)
    vals <- Gen.listOfN(keys.size, genValue)
    dups <- if (dedup) Gen.someOf(keys.zip(vals)).map(_.toList) else Gen.const(Nil)
  } yield keys.zip(vals) ++ dups

  private def genKeys(max: Int): Gen[List[Int]] =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, genKey))

  private val genWrite: Gen[Write] = for {
    dedup <- Gen.oneOf(false, true)
    pairs <- genPairs(KeySpace, dedup)
  } yield Write(pairs, dedup)

  private val genUpdate: Gen[Op] = Gen.frequency(
    3 -> (for {
      dedup <- Gen.oneOf(false, true); linked <- Gen.oneOf(false, true)
      pairs <- genPairs(8, dedup)
    } yield Upsert(pairs, dedup, linked)),
    2 -> (for {
      linked <- Gen.oneOf(false, true); keys <- genKeys(8)
    } yield Delete(keys, linked)),
    3 -> (for {
      dedup <- Gen.oneOf(false, true); linked <- Gen.oneOf(false, true)
      pairs <- genPairs(6, dedup); keys <- genKeys(6)
    } yield Patch(pairs, keys.filterNot(pairs.map(_._1).toSet), dedup, linked)),
    1 -> (for {
      s <- Gen.choose(0, Shards - 1); linked <- Gen.oneOf(false, true)
    } yield EmptyShard(s, linked)))

  val genScenario: Gen[Scenario] = for {
    initial <- genWrite
    n <- Gen.choose(3, 5)
    ops <- Gen.listOfN(n, genUpdate)
  } yield Scenario(initial, ops)
}
