package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.store.DomainStore

/**
 * One membership-index family: a published kv domain whose keys are
 * bucket keys (text bands, anchored fingerprints, phash bands, semantic
 * cells) and whose values are comma-joined member entries. The
 * descriptor carries the build geometry, so every lifecycle op after the
 * build derives the same keys the build did — there is no geometry
 * argument to get wrong. The four family constructors are the only way
 * to build one: [[Dedup.bandIndex]], [[Dedup.fpIndex]],
 * [[Multimodal.phashIndex]], [[Similarity.semIndex]].
 *
 * The lifecycle (every op names itself `<name>Index<Op>` in its errors,
 * and gates on the `m:index-type` marker before touching data):
 *
 *  - [[upsert]] grows the index with a delta; affected buckets merge in
 *    place ([[IndexDelete.publishUpsert]]), untouched shards copy
 *    forward (or link, `linked = true`). Cap semantics ride
 *    [[graft.core.IndexTombstone]], so upsert == union rebuild byte for
 *    byte on both sides of the cap boundary; a legacy pre-tombstone
 *    publish is refused ([[IndexMarker.requireTombstoneCap]]).
 *  - [[delete]] / [[deleteRows]] take members down, content-addressed:
 *    the removed members' keys are re-derived with the build kernel and
 *    one version publishes the shrunken buckets, emptied ones absent
 *    ([[IndexDelete.publishRemoval]]). Drifted content leaves stale
 *    entries in buckets the delete never probes.
 *  - [[update]] does both in ONE version:
 *    `(current ∪ added) \ removed` per bucket ([[IndexDelete.publishUpdate]]).
 *    `update(adds, ∅)` ≡ `upsert` and `update(∅, removed)` ≡ `delete`
 *    (spec-pinned per family). The upsert keeps its own, cheaper merge
 *    (measured on [[IndexDelete.publishUpsert]]); the lockstep pins keep
 *    the two merges agreeing.
 *  - [[idAudit]] is the O(index + corpus) drift fsck
 *    ([[IndexDelete.idAudit]]); [[removalAudit]] / [[removalAuditRows]]
 *    certify one takedown at O(removed + affected buckets)
 *    ([[IndexDelete.removalAudit]]).
 *  - [[keyRows]] is the `(key, rid)` kernel as a caller-ownable frame,
 *    so one derivation can feed both [[deleteRows]] and
 *    [[removalAuditRows]].
 *
 * @param name        the family's op prefix: `band`, `fp`, `phash`, `sem`
 * @param indexType   the `m:index-type` marker value the build publishes
 * @param idCol       the member id column (integral)
 * @param maxBucket   the hot-bucket cap; must be the build's
 * @param build       the family's `<name>IndexKv` build at a given cap
 * @param keyKernel   content → `(key binary, rid string)` rows, rid the
 *                    plain member id
 * @param auditKernel content → `(key, rid)` rows with rid the full
 *                    stored entry (phash audits `id:phash`; the plain-id
 *                    families audit the id, so it is `keyKernel`)
 */
final class IndexFamily private[operators] (
    val name: String,
    val indexType: String,
    val idCol: String,
    val maxBucket: Int,
    val build: (DataFrame, Int) => DataFrame,
    val keyKernel: DataFrame => DataFrame,
    val auditKernel: DataFrame => DataFrame) {

  private def op(suffix: String): String = s"${name}Index$suffix"
  private def buildOp: String = op("Kv")

  private def requireType(index: DomainStore, df: DataFrame, o: String): Unit =
    IndexMarker.require(index, df.sparkSession, indexType, o, buildOp)

  /** The build's bucket rows at the real cap, marker rows stripped: a
    * delta-hot bucket arrives as a tombstone, never a giant value cell. */
  private def additions(delta: DataFrame): DataFrame = {
    import graft.functions.bytes_utf8
    build(delta, maxBucket)
      .where(col("key") =!= lit(IndexMarker.Key))
      .where(col("key") =!= lit(IndexMarker.CapKey))
      .select(col("key"), bytes_utf8(col("value")).as("add"))
  }

  /** Fold `delta`'s members into the published index as `newVersion`. */
  def upsert(
      index: DomainStore,
      delta: DataFrame,
      newVersion: Long,
      linked: Boolean = false): Unit = {
    val o = op("Upsert")
    requireType(index, delta, o)
    IndexMarker.requireTombstoneCap(index, delta.sparkSession, o, buildOp)
    IndexDelete.publishUpsert(
      index, additions(delta), newVersion, maxBucket, o, buildOp, linked)
  }

  /** Grow by `added` and take down `removed` in ONE version; an id on
    * both sides fails loud before anything publishes. */
  def update(
      index: DomainStore,
      added: DataFrame,
      removed: DataFrame,
      newVersion: Long,
      linked: Boolean = false): Unit = {
    val o = op("Update")
    IndexDelete.requireIntegralId(added, idCol, o)
    IndexDelete.requireIntegralId(removed, idCol, o)
    requireType(index, added, o)
    IndexMarker.requireTombstoneCap(index, added.sparkSession, o, buildOp)
    IndexDelete.requireDisjointUpdate(added, removed, idCol, o)
    IndexDelete.publishUpdate(
      index, additions(added), keyKernel(removed), newVersion, maxBucket, o, buildOp, linked)
  }

  /** Take `removed` (the content AS INDEXED) out of the published index
    * as `newVersion`. Removing never-indexed content is a no-op. */
  def delete(
      index: DomainStore,
      removed: DataFrame,
      newVersion: Long,
      linked: Boolean = false): Unit = {
    val o = op("Delete")
    IndexDelete.requireIntegralId(removed, idCol, o)
    requireType(index, removed, o)
    IndexDelete.publishRemoval(index, keyKernel(removed), newVersion, linked = linked)
  }

  /** [[delete]] on pre-derived [[keyRows]]. */
  def deleteRows(
      index: DomainStore,
      removalRows: DataFrame,
      newVersion: Long,
      linked: Boolean = false): Unit = {
    requireType(index, removalRows, op("Delete"))
    IndexDelete.publishRemoval(index, removalRows, newVersion, linked = linked)
  }

  /** Stale (index-only) and unindexed (content-only) entries of the
    * published index against the corpus of record; empty = consistent.
    * `sampleMod > 1` audits a deterministic 1/sampleMod id sample: it
    * finds drift classes but cannot prove a takedown complete. */
  def idAudit(index: DomainStore, corpus: DataFrame, sampleMod: Long = 1L): DataFrame = {
    val o = op("IdAudit")
    IndexDelete.requireIntegralId(corpus, idCol, o)
    requireType(index, corpus, o)
    IndexDelete.idAudit(index, auditKernel(corpus), sampleMod = sampleMod)
  }

  /** Every stored entry still naming a member of `removed` (`present`),
    * or mapping to a cap-tombstoned bucket (`tombstoned`); empty = the
    * takedown of this set is complete. */
  def removalAudit(index: DomainStore, removed: DataFrame): DataFrame = {
    val o = op("RemovalAudit")
    IndexDelete.requireIntegralId(removed, idCol, o)
    requireType(index, removed, o)
    IndexDelete.removalAudit(index, keyKernel(removed))
  }

  /** [[removalAudit]] on pre-derived [[keyRows]]. */
  def removalAuditRows(index: DomainStore, removalRows: DataFrame): DataFrame = {
    requireType(index, removalRows, op("RemovalAudit"))
    IndexDelete.removalAudit(index, removalRows)
  }

  /** `docs`' (key binary, rid string) rows under this geometry,
    * duplicates possible (every consumer dedupes). The kernel is per
    * member, so filtering these rows by rid equals deriving them from
    * the filtered docs. */
  def keyRows(docs: DataFrame): DataFrame = {
    IndexDelete.requireIntegralId(docs, idCol, op("KeyRows"))
    keyKernel(docs)
  }
}
