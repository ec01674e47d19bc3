package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Shared removal engine for published bucket/posting-list indexes — the
 * takedown half of the index lifecycle (publish → probe → upsert →
 * DELETE). Every index family stores `key → comma-joined entry cells`
 * where an entry names a member id (plain `id`, `id:phash`, or
 * `id:codes`); removal is CONTENT-ADDRESSED: the caller re-derives the
 * removed members' bucket keys from their indexed content (text bands,
 * embedding cells, phash bands — the same kernels the build ran), this
 * engine point-looks-up exactly those cells, drops the named ids from
 * each, and publishes ONE new version in which shrunken cells are
 * upserted and now-empty cells are ABSENT ([[graft.store.DomainStore.patch]]).
 * Work is O(removed + affected cells), never O(index); untouched shards
 * copy forward.
 *
 * The removal set travels as (key, rid) ROWS end to end — never as a
 * per-bucket collected array. A mass takedown whose removed content
 * shares one hot fingerprint (court-ordered bulk removals are exactly
 * this shape: 100M docs, one boilerplate band) must not pack a multi-GB
 * aggregation buffer or an O(|cell| × |rids|) containment scan into one
 * task; here it is a plain (key, id)-keyed join whose per-key fan-in on
 * the STORED side is bounded by the families' publish-time hot-bucket
 * cap ([[graft.core.IndexTombstone]]) — the same row-not-buffer rule the
 * build side follows ([[AuditBound]] / the stop-term count derivation).
 *
 * Removing content that was never indexed is a no-op for those cells,
 * and so is removal from a bucket the publish CAP-TOMBSTONED
 * ([[graft.core.IndexTombstone]] — its membership is unknown, so the
 * tombstone stays; rebuild to recount after mass removals). An id whose
 * indexed CONTENT differs from the content handed here can leave stale
 * entries in buckets this call never probes — the same
 * content-drift caveat every per-cell merge has
 * ([[Similarity.ivfIndexUpsert]]). [[idAudit]] is the global detector
 * for the four membership families ([[IndexFamily.idAudit]] on
 * `Dedup.bandIndex` / `fpIndex`, `phashIndex`, `semIndex`);
 * `Similarity.ivfIndexIdAudit` covers the ANN posting lists.
 */
private[graft] object IndexDelete {

  /**
   * Publish `newVersion` of `index` with the named members removed.
   * `removals` columns: `key` (binary bucket key), `rid` (string member
   * id to drop from that bucket) — one ROW per (bucket, member), derived
   * by the family's own key kernel ([[IndexFamily.keyRows]]), duplicates
   * welcome (collapsed here), null rids inert (a null id names nothing —
   * contrast the retired array formulation, where an un-compacted null
   * made `array_contains` evaluate NULL and silently dropped the whole
   * cell). A stored entry's id is everything before the first ':'
   * ([[entryId]]) — which is the whole entry for the plain-id grammars,
   * so one extractor serves every family (ids are decimal integers,
   * never containing ':').
   *
   * Kept cells re-aggregate under their ORIGINAL stored order
   * (posexplode position carried through the join, position-sorted on
   * re-collect), so the engine stays agnostic to each family's canonical
   * sort (id-string for band/fp/sem, full-entry string for phash,
   * numeric id for the ANN posting lists) exactly as the old in-place
   * `filter()` was — and the re-collect buffer is bounded by the
   * publish-time cap, never by the removal set.
   */
  def publishRemoval(
      index: graft.store.DomainStore,
      removals: DataFrame,
      newVersion: Long,
      // `linked = true`: record untouched shards as manifest links
      // instead of copying them forward — the O(affected shards + delta)
      // publish bound a takedown needs at the 64Ki-shard regime (a
      // copy-forward takedown pays ~numShards raw dir copies however
      // small the removal set)
      linked: Boolean = false): Unit = {
    val spark = removals.sparkSession
    import graft.functions.{bytes_utf8, utf8_bytes}
    // the removal rows feed the probe-key list and the drop join —
    // materialize once (distinct: duplicate (key, rid) rows would
    // duplicate kept entries through the left join below), release
    // before returning (no-cache-leak invariant)
    val r = removals
      .select(col("key"), col("rid"))
      .where(col("rid").isNotNull)
      .distinct()
      .persist()
    try {
      // hits only: a bucket the index never held has nothing to shrink —
      // and a cap-tombstoned bucket stays tombstoned (no member list to
      // shrink; the checkedId guard below would otherwise read the
      // sentinel as a non-integral member and fail loud)
      val current = index
        .multiGet(r.select(col("key")).distinct(), includeMisses = false)
        .select(col("key"), bytes_utf8(col("value")).as("cur"))
        .where(col("cur") =!= lit(graft.core.IndexTombstone.Value))
      // Every stored entry's id part must parse as an integer — a hit
      // whose value is NOT a membership cell (wrong domain wired despite
      // the callers' type gates) fails loud instead of silently keeping
      // everything.
      def checkedId(e: Column): Column =
        when(entryId(e).try_cast("long").isNotNull, entryId(e))
          .otherwise(raise_error(concat(
            lit("indexDelete: stored entry '"), e,
            lit("' has no integral id part — this domain is not a " +
              "membership index (wrong root wired?)"))))
      // one row per stored entry, position kept for the canonical-order
      // re-collect; per-key row count is bounded by the publish cap
      val entries = current
        .select(col("key"), posexplode(split(col("cur"), ",")).as(Seq("pos", "entry")))
        .select(col("key"), col("pos"), col("entry"), checkedId(col("entry")).as("eid"))
      // the drop decision is a row join on (key, id) — ids-only
      // exchanges, no collected removal array anywhere. collect_list
      // skips the nulled (removed) slots, so a fully-emptied key
      // re-aggregates to an empty array and lands on the delete side —
      // one frame feeds both patch sides (ContextCleaner-reaped).
      val after = entries
        .join(r.select(col("key"), col("rid").as("eid"), lit(true).as("_rm")),
          Seq("key", "eid"), "left")
        .groupBy(col("key"))
        .agg(transform(
          array_sort(collect_list(
            when(col("_rm").isNull, struct(col("pos"), col("entry"))))),
          s => s.getField("entry")).as("kept"))
        .localCheckpoint(true)
      val ups = after.where(size(col("kept")) > 0)
        .select(col("key"), utf8_bytes(concat_ws(",", col("kept"))).as("value"))
      val dels = after.where(size(col("kept")) === 0).select(col("key"))
      // one publish: shrunken cells upserted, emptied cells absent — two
      // separate publishes would expose an intermediate version holding
      // empty cells and double the copy-forward.
      index.patch(spark, Some(ups), Some(dels), newVersion, linked = linked)
    } finally r.unpersist()
  }

  /** The id part of a stored entry: everything before the first ':'
    * (`id:phash` / `id:codes`), or the whole entry (plain-id grammars). */
  private def entryId(e: Column): Column = substring_index(e, ":", 1)

  /**
   * Combined growth + takedown in ONE version — the shared merge behind
   * [[IndexFamily.update]] (band/fp/phash/sem): per affected
   * bucket the final membership is `(current ∪ additions) \ removals`,
   * canonically sorted by ENTRY STRING (the publish sort of every
   * membership family: plain-id cells sort their ids as strings, the
   * phash family sorts full `id:phash` entries), with the upsert cap
   * semantics — a cur-tombstoned bucket CARRIES (membership unknown), an
   * additions-side tombstone or a merge past `maxBucket` WRITES the
   * tombstone, an emptied bucket lands on the delete side of one
   * [[graft.store.DomainStore.patch]]. Two entries sharing an id part
   * (an id present in `current` re-added with a CHANGED payload — the
   * phash family's re-ingest hazard) fail loud naming `op`: the stale
   * payload would feed the probe's verify wrong data, and neither entry
   * can silently win (vacuous for plain-id grammars, where entry == id
   * and the union dedups). Callers gate markers/types and the
   * added∩removed id clash; `additions` must arrive built AT the cap
   * with marker rows stripped, `removals` as (key, rid) rows.
   *
   * Work is O(batch + affected buckets); per-key buffers ≤ 2× the cap
   * (both sides arrive capped — the [[publishRemoval]] re-collect
   * precedent); the probe checkpoints once so the patch never replans
   * the multiGet.
   */
  def publishUpdate(
      index: graft.store.DomainStore,
      additions: DataFrame,
      removals: DataFrame,
      newVersion: Long,
      maxBucket: Int,
      op: String,
      rebuildOp: String,
      linked: Boolean = false): Unit = {
    val spark = additions.sparkSession
    import graft.functions.{bytes_utf8, utf8_bytes}
    val adds = additions.select(col("key"), col("add"))
    val rms = removals
      .select(col("key"), col("rid"))
      .where(col("rid").isNotNull).distinct()
    try {
      adds.persist()
      rms.persist()
      val affected = adds.select(col("key"))
        .unionByName(rms.select(col("key"))).distinct()
      // the probe feeds three derivations (add-tombstones, the merge,
      // the delete side) — checkpoint it once (bounded: affected keys ×
      // ≤ cap-sized cells) so patch's consumption never replans the
      // multiGet (the publishRemoval one-frame pattern)
      val current = index.multiGet(affected, includeMisses = true)
        .select(col("key"), bytes_utf8(col("value")).as("cur"))
        .join(adds, Seq("key"), "left")
        // a cur-tombstoned bucket never enters the merge: the tombstone
        // carries forward untouched, exactly what a rebuild republishes
        .where(coalesce(col("cur"), lit("")) =!= lit(graft.core.IndexTombstone.Value))
        .localCheckpoint(true)
      // additions-side tombstone stands regardless of removals: the
      // delta ALONE counted past the cap, and no removed id is among
      // the adds (the callers' clash gate), so the rebuild's final count
      // for this bucket is ≥ the delta's — tombstoned either way
      val addTomb = current
        .where(col("add") === lit(graft.core.IndexTombstone.Value))
        .select(col("key"),
          utf8_bytes(lit(graft.core.IndexTombstone.Value)).as("value"))
      val live = current
        .where(coalesce(col("add"), lit("")) =!= lit(graft.core.IndexTombstone.Value))
      val entries = live
        .select(col("key"),
          explode(split(
            when(coalesce(col("cur"), lit("")) === "", col("add"))
              .when(coalesce(col("add"), lit("")) === "", col("cur"))
              .otherwise(concat_ws(",", col("cur"), col("add"))), ","))
            .as("entry"))
        .where(col("entry") =!= "")
        .distinct()
      val kept = entries
        .select(col("key"), col("entry"), entryId(col("entry")).as("eid"))
        .join(rms.select(col("key"), col("rid").as("eid")),
          Seq("key", "eid"), "left_anti")
        .groupBy(col("key"))
        // bounded: ≤ 2·maxBucket entries per key by construction (cur
        // and add each arrive capped)
        .agg(sort_array(collect_list(col("entry"))).as("entries"))
      // one frame feeds both patch sides (the publishRemoval pattern)
      val sized = kept
        .select(col("key"), col("entries"), size(col("entries")).as("n"),
          size(array_distinct(
            expr("transform(entries, e -> split(e, ':')[0])"))).as("n_ids"))
        .localCheckpoint(true)
      val ups = sized.where(col("n") > 0)
        .select(col("key"),
          utf8_bytes(
            when(col("n_ids") =!= col("n"), raise_error(concat(
              lit(s"$op: an id appears with TWO different payloads in one "),
              lit("bucket (re-ingested with changed content?) — an update has "),
              lit(s"no defined winner: rebuild with $rebuildOp instead"))))
              .when(col("n") <= maxBucket, concat_ws(",", col("entries")))
              .otherwise(lit(graft.core.IndexTombstone.Value))).as("value"))
        .unionByName(addTomb)
      // fully-emptied buckets: every surviving key came from a CURRENT
      // hit (an add-only key keeps its adds — callers forbid overlap
      // with removals), so an empty merge is a real stored bucket to
      // delete. A key ONLY in removals with no hit never enters (no-op).
      val dels = live
        .select(col("key"))
        .join(sized.select(col("key")), Seq("key"), "left_anti")
        .join(current.where(col("cur").isNotNull).select(col("key")), Seq("key"),
          "left_semi")
      index.patch(spark, Some(ups), Some(dels), newVersion, linked = linked)
    } finally { adds.unpersist(); rms.unpersist() }
  }

  /** The added∩removed id clash gate of [[IndexFamily.update]]
    * (every membership family): an id on both sides has no defined final state (and for
    * payload-carrying grammars a same-id remove+re-add would drop the
    * NEW entry too — the removal joins by id part). Bounded probe,
    * null-safe diagnostic (INTERSECT matches NULLs null-safely). */
  def requireDisjointUpdate(
      added: DataFrame, removed: DataFrame, idCol: String, op: String): Unit = {
    val clash = added.select(col(idCol).cast("long").as("id"))
      .intersect(removed.select(col(idCol).cast("long").as("id")))
      .limit(1).collect()
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"$op: id ${clash(0).get(0)} is in BOTH added and removed — " +
        "final membership is undefined; pass it on the side you mean")
  }

  /**
   * The stale-entry detector for the content-addressed index families —
   * the global answer to the content-drift caveat documented on this
   * object: a takedown (or a re-ingest) whose content differs from what
   * the build indexed leaves entries in buckets the delete never probed,
   * and a probe for the CURRENT content misses buckets the build never
   * saw. Point probes cannot see either (they only visit keys derived
   * from the content in hand), so the detector is a full pass: re-derive
   * every (key, entry) the index SHOULD hold from the corpus of record
   * via the family's own key kernel (`expected` — the same key-row
   * frames the deletes use), full-outer join the exploded published
   * index, and report the orphans both ways:
   *
   *  - `stale` (index-only): a takedown believing itself complete MISSED
   *    this entry — the court-ordered-removal hole; probes can return it
   *    as a false candidate (harmless where an exact verify follows,
   *    NOT harmless for the takedown).
   *  - `unindexed` (content-only): a probe for this content misses the
   *    member — silent recall loss.
   *
   * Comparison is on the FULL entry string, not just the id part: the
   * phash family's `id:phash` entries carry a payload the probe's
   * hamming verify reads, so a same-bucket payload drift must read as
   * stale + unindexed, not as clean (plain-id families are unaffected —
   * entry == id there). Tombstone-aware: a cap-tombstoned bucket has
   * UNKNOWN membership by design ([[graft.core.IndexTombstone]]), so
   * both sides of it are excluded — cap drops are the documented
   * semantics, not drift. Cost is O(index + corpus) with row-only
   * exchanges (per-key stored fan-in is bounded by the publish cap);
   * this is the batch audit you run before trusting a mass takedown,
   * not a per-delta probe.
   *
   * Output: (key binary, id string, entry string, kind string) — one row
   * per orphaned entry, kind ∈ stale | unindexed. Empty = consistent.
   *
   * `sampleMod > 1` is the CADENCE variant for 100 TB corpora: audit
   * only the ids whose deterministic hash lands in the 1/sampleMod
   * sample (`xxhash64(id) % sampleMod == 0` — integer-exact, stable
   * across runs and engines, independent of id-assignment patterns a
   * raw `id % m` could align with). Both sides filter by the SAME id
   * predicate, so the sample is self-consistent: an in-sample id's
   * drift reports exactly as the full audit would. What it buys: the
   * corpus re-derivation AND the index explode shrink ~1/sampleMod —
   * a cheap between-full-audits sweep that detects drift CLASSES
   * (systemic drift — a broken takedown batch, a re-ingest with
   * changed normalization — hits in-sample ids with probability
   * 1 - (1-1/m)^affected). What it can NOT do: prove takedown
   * completeness — an out-of-sample id's stale entries are invisible
   * by construction, so sampled-clean ⊬ complete; only the full audit
   * (sampleMod = 1) certifies a mass takedown.
   */
  def idAudit(
      index: graft.store.DomainStore,
      expected: DataFrame,
      // `idLevel = true`: compare on the entry's ID PART instead of the
      // full entry string — the ANN families' mode (their `id:codes`
      // payload is deterministic from the vector under fixed codebooks,
      // and takedown completeness is about MEMBERSHIP; the band
      // families keep full-entry compare so phash payload drift reads
      // as drift)
      idLevel: Boolean = false,
      // `hasTombstones = false`: the family's publishes can never hold
      // IndexTombstone rows (the ANN posting lists raise past their cap
      // instead of dropping), so the tombstone-derivation scan below
      // would be a guaranteed-empty O(index) job per audit call
      hasTombstones: Boolean = true,
      sampleMod: Long = 1L): DataFrame = {
    import graft.functions.bytes_utf8
    require(sampleMod >= 1L,
      s"idAudit: sampleMod must be >= 1 (1 = full audit), got $sampleMod")
    // the id-hash sample gate, applied to BOTH sides on the entry's ID
    // part (never the full entry: an in-sample id's payload drift must
    // stay visible under full-entry compare)
    def inSample(id: Column): Column =
      if (sampleMod == 1L) lit(true)
      else pmod(xxhash64(id), lit(sampleMod)) === 0L
    val spark = expected.sparkSession
    val stored = index.read(spark)
      .where(col("key") =!= lit(IndexMarker.Key))
      .where(col("key") =!= lit(IndexMarker.CapKey))
      .select(col("key"), bytes_utf8(col("value")).as("cur"))
    // materialize the (small) tombstone key list eagerly: it feeds the
    // content-side anti-join, and as a lazy branch it would plan a
    // SECOND full index scan into every action over the audit result —
    // the checkpoint pays one tiny job instead (bounded:
    // cap-tombstoned keys only; ContextCleaner-reaped when the caller
    // drops the frame — the prototypePruning precedent)
    val tombstoned =
      if (!hasTombstones) None
      else Some(stored
        .where(col("cur") === lit(graft.core.IndexTombstone.Value))
        .select(col("key"))
        .localCheckpoint(true))
    val indexEntries = stored
      .where(col("cur") =!= lit(graft.core.IndexTombstone.Value))
      .select(col("key"), explode(split(col("cur"), ",")).as("raw"))
      .where(col("raw") =!= "")
      .where(inSample(entryId(col("raw"))))
      .select(col("key"),
        (if (idLevel) entryId(col("raw")) else col("raw")).as("entry"))
    // content-derived entries for keys the publish tombstoned are not
    // drift — the cap dropped that bucket's membership knowingly
    val expectedDistinct = expected
      .select(col("key"), col("rid").as("entry"))
      .where(col("entry").isNotNull)
      .where(inSample(entryId(col("entry"))))
      .distinct()
    val expectedLive = tombstoned match {
      case Some(t) => expectedDistinct.join(t, Seq("key"), "left_anti")
      case None => expectedDistinct
    }
    indexEntries.withColumn("_i", lit(true))
      .join(expectedLive.withColumn("_c", lit(true)), Seq("key", "entry"), "full_outer")
      .where(col("_i").isNull || col("_c").isNull)
      .select(
        col("key"),
        entryId(col("entry")).as("id"),
        col("entry"),
        when(col("_c").isNull, lit("stale")).otherwise(lit("unindexed")).as("kind"))
  }

  /**
   * Targeted takedown-completeness audit — the third point on the audit
   * cost/assurance curve:
   *
   *  - [[idAudit]] (full): O(index + corpus), proves global consistency
   *    — the fsck;
   *  - [[idAudit]] `sampleMod > 1`: ~1/m cost, detects drift CLASSES,
   *    can NOT prove takedown completeness (out-of-sample entries are
   *    invisible by construction);
   *  - `removalAudit`: O(removals + affected buckets), CAN certify
   *    completeness FOR THE GIVEN removal set — the check you run right
   *    after a [[publishRemoval]] instead of paying an fsck.
   *
   * Takes the SAME (key, rid) rows the takedown consumed (the family
   * [[IndexFamily.keyRows]] — re-derived from the removed members' content),
   * point-probes exactly those buckets through the store's density-
   * auto-selected lookup path ([[graft.store.DomainStore.multiGet]],
   * hits only — shard-pruned, never an O(index) scan), and reports
   * every stored entry whose id part still names a targeted member:
   *
   *  - `present`: the takedown MISSED this entry — it would satisfy a
   *    probe for the removed content right now;
   *  - `tombstoned`: the bucket this member maps to is cap-tombstoned
   *    ([[graft.core.IndexTombstone]]) — its membership is UNKNOWN, so
   *    this audit cannot certify the member gone (rebuild to recount;
   *    reported loud instead of silently reading as clean).
   *
   * Empty = every targeted member is certifiably absent from every
   * bucket its content derives — within the standing content-drift
   * caveat (an entry left by DRIFTED content lives in buckets this
   * content does not derive; that direction belongs to [[idAudit]]).
   *
   * Output: (key binary, id string, entry string, kind string).
   * The returned plan reads the removal rows through a BOUNDED
   * ContextCleaner-reaped `localCheckpoint` (O(removals) rows — the same
   * bill [[publishRemoval]]'s scoped persist pays; re-deriving them
   * would replan the caller's kernel chain into the probe AND both
   * report joins): blocks release when the caller drops the frame.
   */
  def removalAudit(
      index: graft.store.DomainStore,
      removals: DataFrame): DataFrame = {
    import graft.functions.bytes_utf8
    val r = removals
      .select(col("key"), col("rid"))
      .where(col("rid").isNotNull)
      .distinct()
      .localCheckpoint(true)
    // hits only: an absent bucket is exactly what a complete takedown
    // leaves behind (emptied cells are ABSENT, never empty strings).
    // The probe result is checkpointed EAGERLY — it feeds both report
    // branches (present + tombstoned), and left lazy each branch would
    // re-execute the whole probe (the pruned scan / corpus join) per
    // action: the r16 layout checkpointed only the tombstone sliver and
    // still paid the probe twice (r17). Bounded: probed keys ×
    // cap-bounded cells — the same O(removals + affected buckets) bill
    // this audit already declares; ContextCleaner-reaped with the r
    // checkpoint above.
    val hits = index
      .multiGet(r.select(col("key")).distinct(), includeMisses = false)
      .select(col("key"), bytes_utf8(col("value")).as("cur"))
      .localCheckpoint(true)
    val tombstonedKeys = hits
      .where(col("cur") === lit(graft.core.IndexTombstone.Value))
      .select(col("key"))
    val present = hits
      .where(col("cur") =!= lit(graft.core.IndexTombstone.Value))
      .select(col("key"), explode(split(col("cur"), ",")).as("entry"))
      .where(col("entry") =!= "")
      .select(col("key"), col("entry"), entryId(col("entry")).as("eid"))
      // the certification join: a stored entry reports iff ITS bucket and
      // ITS id were targeted — (key, id) rows both sides, the same
      // row-not-buffer rule as the takedown itself
      .join(r.select(col("key"), col("rid").as("eid")), Seq("key", "eid"), "left_semi")
      .select(col("key"), entryId(col("entry")).as("id"), col("entry"),
        lit("present").as("kind"))
    val uncertifiable = r
      .join(tombstonedKeys, Seq("key"), "left_semi")
      .select(col("key"), col("rid").as("id"),
        lit(graft.core.IndexTombstone.Value).as("entry"),
        lit("tombstoned").as("kind"))
    present.unionByName(uncertifiable)
  }

  /** (key, rid) removal rows derived from a family's BUILT index frame —
    * the adapter for direct callers who hold a build output rather than
    * the pre-aggregation key rows ([[IndexFamily.delete]] derives
    * rows straight from the family kernels and never aggregates at all).
    * Strips the non-membership row classes builders append — the
    * `m:index-type` / `m:cap-semantics` markers (their values would read
    * as member ids) and [[graft.core.IndexTombstone]] rows (`!capped`
    * matches no stored id, so a capped build's removed members would
    * silently SURVIVE the takedown) — then explodes each cell to one row
    * per member id. */
  def removalsFromBuild(built: DataFrame): DataFrame = {
    import graft.functions.bytes_utf8
    built
      .where(col("key") =!= lit(IndexMarker.Key))
      .where(col("key") =!= lit(IndexMarker.CapKey))
      .where(bytes_utf8(col("value")) =!= lit(graft.core.IndexTombstone.Value))
      .select(
        col("key"),
        explode(split(bytes_utf8(col("value")), ",")).as("entry"))
      .select(col("key"), entryId(col("entry")).as("rid"))
  }

  /** The integral-id contract every index family's ids share (they
    * round-trip through value cells as decimal strings). */
  def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"$op: id column '$idCol' must be integral " +
          s"(ids travel through index values as decimal strings), got ${other.simpleString}")
    }
  }

  /**
   * Growth of a published membership index — the merge behind
   * [[IndexFamily.upsert]] for every family. Each bucket the additions
   * touch merges IN PLACE as the sorted distinct union of its current
   * and added entries (the families' canonical order: entry string;
   * re-adding an indexed member is idempotent); untouched buckets copy
   * forward, so work is O(delta + affected bucket values).
   *
   * Cap semantics ride [[graft.core.IndexTombstone]]: a cur-tombstoned
   * bucket never enters the merge (the tombstone carries forward, as a
   * union rebuild would republish it); an additions-side tombstone (the
   * delta alone counted past the cap — additions arrive built AT the
   * cap) or a merge past `maxBucket` WRITES the tombstone. Upsert ==
   * union rebuild therefore holds byte for byte on both sides of the cap
   * boundary.
   *
   * Two entries sharing an id part fail loud naming `op`: an `id:phash`
   * member re-ingested with a CHANGED payload is remove+add, which a
   * merge cannot express (its other buckets are unreachable from here),
   * and a stale payload would feed the probe's verify wrong data. The
   * guard sees it wherever old and new share a bucket (for phash,
   * guaranteed at hamming <= 3 by the pigeonhole) and that bucket's
   * merge runs; it is vacuous for plain-id entries, where entry == id
   * and the union dedups.
   *
   * Kept beside [[publishUpdate]] on purpose: this merge runs no
   * explode+groupBy shuffle and no checkpoint — the grow streams'
   * per-trigger hot path — while the update must re-aggregate to
   * subtract removals. Measured with `update(adds, ∅)` in its place
   * (perfbench publish_swap `--trace 1`, seed 1, 10 alternating pairs,
   * 4-vCPU VM): the dedup layer ran 64 Spark jobs instead of 52 and
   * shuffled 7.74 MB instead of 7.36; `dedup.upsert_s` median 4.22 s
   * (quartiles 3.88-4.60) against 3.63 s (3.58-3.79), slower in 9 of
   * 10 pairs. The per-family lockstep specs (update(adds, ∅) ≡ upsert)
   * keep the two agreeing; a cap-semantics change must touch both.
   */
  def publishUpsert(
      index: graft.store.DomainStore,
      additions: DataFrame,
      newVersion: Long,
      maxBucket: Int,
      op: String,
      rebuildOp: String,
      linked: Boolean = false): Unit = {
    val spark = additions.sparkSession
    import graft.functions.{bytes_utf8, utf8_bytes}
    val adds = additions.select(col("key"), col("add")).persist()
    try {
      val current = index
        .multiGet(adds.select(col("key")), includeMisses = true)
        .select(col("key"), bytes_utf8(col("value")).as("cur"))
      val curEntries =
        when(coalesce(col("cur"), lit("")) === "", array().cast("array<string>"))
          .otherwise(split(col("cur"), ","))
      val merged = adds.join(current, Seq("key"))
        .where(coalesce(col("cur"), lit("")) =!= lit(graft.core.IndexTombstone.Value))
        .select(col("key"), col("add"),
          array_sort(array_distinct(concat(curEntries, split(col("add"), ","))))
            .as("entries"))
        .select(col("key"), col("add"), col("entries"),
          size(array_distinct(expr("transform(entries, e -> split(e, ':')[0])")))
            .as("n_ids"))
        .select(col("key"),
          utf8_bytes(
            when(col("add") === lit(graft.core.IndexTombstone.Value),
              lit(graft.core.IndexTombstone.Value))
              .when(col("n_ids") =!= size(col("entries")), raise_error(concat(
                lit(s"$op: an id was re-ingested with a CHANGED payload (old and "),
                lit("new entries share a bucket) — an upsert has no tombstone for "),
                lit(s"the old entry: rebuild with $rebuildOp instead"))))
              .when(size(col("entries")) <= maxBucket, concat_ws(",", col("entries")))
              .otherwise(lit(graft.core.IndexTombstone.Value)))
            .as("value"))
      index.upsert(spark, merged, newVersion, linked = linked)
    } finally adds.unpersist()
  }
}
