package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Capped member collection in ONE aggregation pass — the fused form of
 * the hot-bucket cap's previous two-aggregate layout (count per key →
 * broadcast anti-join drop → `collect_list`): per group it returns
 * `struct(n: bigint, members: array<string>)` where `members` is the
 * payloads sorted by (`sortKey`, payload) when the group holds at most
 * `maxItems` rows, and NULL once it crossed the cap — with `n` the
 * exact total either way (the tombstone/`x:` records publish it).
 *
 * Why fused, and why this bounds better than the count-first layout:
 *  - buffers are capped at `maxItems + 1` entries ALWAYS — a hot bucket
 *    overflows its partial buffer map-side and ships a constant-size
 *    marker, so the exchange never carries the hot bucket's rows at all
 *    (the count-first layout still repartitions every hot row into one
 *    shuffle partition just to count-and-discard it there);
 *  - one exchange, one aggregate: the counts pass, the broadcast of the
 *    oversized key set, and the anti-join scan all disappear — the
 *    declared +0.8–1.0 s/query toy-scale cost of the r13 cap mechanism
 *    (BASELINE.md round-13) was exactly those extra passes.
 *  - merge is O(1) once either side overflowed, so even the middle zone
 *    (hot bucket spread thin enough that no single partial overflows)
 *    ships at most partitions × cap entries to one reducer — the same
 *    "heavy but finite" bound the cap already accepts on join tasks.
 *
 * Determinism: `members` is sorted at eval (sortKey asc, payload-bytes
 * asc tie-break), so output is independent of encounter order —
 * byte-identical to `sort_array(collect_list(...))` on the same rows
 * for every family's canonical form (id-string sort where
 * sortKey = payload; doc_id-numeric sort for the posting lists).
 * Like `collect_list`, null payloads are skipped (they name no member);
 * in NON-distinct mode they still count toward `n` (the row existed —
 * count(1) parity with the retired count-first layout), while distinct
 * mode counts distinct non-null members only.
 *
 * sortKey must be integral-or-string; payload must be string — checked
 * at analysis (checkInputDataTypes; children are unresolved at
 * construction, so a constructor require would read `void` types).
 */
case class BoundedCollectAgg(
    sortKey: Expression,
    payload: Expression,
    maxItems: Int,
    // distinct mode: members dedupe by PAYLOAD bytes inside the buffer
    // (the ANN posting-list builds' array_distinct semantics — a
    // re-ingested identical entry collapses), so the cap applies to
    // DISTINCT members and the buffer stays bounded even under massive
    // duplication. `n` then counts distinct members while within the
    // cap; past it, `n` is a lower bound ("more than maxItems") — the
    // fail-loud consumers only need the exceedance, never the total.
    distinctMembers: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedCollectBuf] {

  require(maxItems >= 1, s"bounded_collect: maxItems must be >= 1, got $maxItems")

  // children are unresolved at construction — type contracts check at
  // analysis (checkInputDataTypes), the standard Catalyst seam
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (payload.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bounded_collect: payload must be string, got ${payload.dataType.simpleString}")
    else if (BoundedCollectAgg.keyKind(sortKey.dataType) < 0)
      TypeCheckResult.TypeCheckFailure(
        s"bounded_collect: sortKey must be integral or string, got ${sortKey.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kind = BoundedCollectAgg.keyKind(sortKey.dataType)

  override def children: Seq[Expression] = Seq(sortKey, payload)
  override def nullable: Boolean = false
  override def dataType: DataType = BoundedCollectAgg.OutType
  override def prettyName: String = "bounded_collect"

  override def createAggregationBuffer(): BoundedCollectBuf = new BoundedCollectBuf

  override def update(b: BoundedCollectBuf, input: InternalRow): BoundedCollectBuf = {
    // FIRST: a spill-restored buffer arrives lazy (see deserialize), and
    // ANY mutation must void the serialize fast-path's verbatim bytes —
    // even a null-payload row that only bumps n
    b.materialize(kind)
    if (!distinctMembers) b.n += 1L
    val p = payload.eval(input)
    if (p != null && !b.over) {
      // copy out of the reused row buffers; a null sort key sorts first
      // (kind-tagged sentinel handled in the ordering)
      // copy FIRST: the membership set must never hold a reference into
      // the reused row buffer (it would mutate under later rows)
      val pc = p.asInstanceOf[UTF8String].clone()
      if (!distinctMembers || b.addDistinct(pc)) {
        val k = sortKey.eval(input)
        b.keys += (if (k == null) null
                   else if (kind == BoundedCollectAgg.KindString) k.asInstanceOf[UTF8String].clone()
                   else k)
        b.vals += pc
        if (distinctMembers) b.n += 1L
        if (b.vals.length > maxItems) b.overflow()
      }
    }
    b
  }

  // The discard path never materializes: overflow decisions need only the
  // SIZES (kept in the lazy header), so merging a shipped partial into an
  // already-overflowed buffer is O(1) regardless of how many entries the
  // partial carries — the middle-zone reducer (a hot bucket spread so thin
  // no partial overflowed map-side ships partitions × cap entries to ONE
  // task) pays stream transport only, never per-entry parse (measured
  // ~0.9M entries/s of parse avoided per task; BASELINE.md "Round 15:
  // the BoundedCollect middle zone", recipe DebugCapMidScale at commit
  // 6547131).
  override def merge(b: BoundedCollectBuf, o: BoundedCollectBuf): BoundedCollectBuf = {
    if (!distinctMembers) {
      b.n += o.n
      if (b.over || o.over || b.size + o.size > maxItems) b.overflow()
      else {
        b.materialize(kind); o.materialize(kind)
        b.keys ++= o.keys; b.vals ++= o.vals
      }
    } else if (b.over || o.over) {
      // n is a lower bound past the cap: at least the larger side's
      b.n = math.max(b.n, o.n); b.overflow()
    } else {
      b.materialize(kind); o.materialize(kind)
      var i = 0
      while (i < o.vals.length && !b.over) {
        if (b.addDistinct(o.vals(i))) {
          b.keys += o.keys(i); b.vals += o.vals(i); b.n += 1L
          if (b.vals.length > maxItems) b.overflow()
        }
        i += 1
      }
    }
    b
  }

  override def eval(b: BoundedCollectBuf): Any =
    if (b.over) new GenericInternalRow(Array[Any](b.n, null))
    else {
      b.materialize(kind)
      val idx = Array.range(0, b.vals.length)
      val ord = new Ordering[Int] {
        def compare(i: Int, j: Int): Int = {
          val c = BoundedCollectAgg.compareKeys(kind, b.keys(i), b.keys(j))
          if (c != 0) c else b.vals(i).compareTo(b.vals(j))
        }
      }
      val sorted = idx.sorted(ord)
      new GenericInternalRow(Array[Any](
        b.n, new GenericArrayData(sorted.map(i => b.vals(i): Any))))
    }

  override def serialize(b: BoundedCollectBuf): Array[Byte] = {
    // an untouched lazy buffer (deserialized, then re-spilled before any
    // update/merge reached it) round-trips its original bytes verbatim —
    // materialize() and overflow() both null `pending`, so pending != null
    // means nothing changed since deserialize
    if (b.pendingBytes != null) return b.pendingBytes
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(b.n)
    out.writeBoolean(b.over)
    out.writeInt(b.vals.length)
    var i = 0
    while (i < b.vals.length) {
      val k = b.keys(i)
      if (k == null) out.writeByte(0)
      else {
        out.writeByte(1)
        if (kind == BoundedCollectAgg.KindString) {
          val kb = k.asInstanceOf[UTF8String].getBytes
          out.writeInt(kb.length); out.write(kb)
        } else out.writeLong(BoundedCollectAgg.keyAsLong(k))
      }
      val vb = b.vals(i).getBytes
      out.writeInt(vb.length); out.write(vb)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  // LAZY: parse only the fixed 13-byte header (n, over, count) and keep
  // the raw bytes — entries materialize on first need (merge into a
  // live buffer, update, eval). A partial landing on an already-
  // overflowed reducer buffer is header-read + discard, never an
  // entries parse; see the merge doc.
  override def deserialize(bytes: Array[Byte]): BoundedCollectBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new BoundedCollectBuf
    b.n = in.readLong()
    b.over = in.readBoolean()
    val m = in.readInt()
    if (m > 0) { b.pendingBytes = bytes; b.pendingCount = m }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): BoundedCollectAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BoundedCollectAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedCollectAgg =
    copy(sortKey = newChildren(0), payload = newChildren(1))
}

object BoundedCollectAgg {
  val OutType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("members", ArrayType(StringType, containsNull = false), nullable = true)))

  private[core] val KindLong = 0
  private[core] val KindString = 1

  private[core] def keyKind(t: DataType): Int = t match {
    case ByteType | ShortType | IntegerType | LongType => KindLong
    case StringType => KindString
    case _ => -1
  }

  private[core] def keyAsLong(k: Any): Long = k match {
    case b: java.lang.Byte => b.longValue
    case s: java.lang.Short => s.longValue
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case other => throw new IllegalStateException(s"non-integral sort key $other")
  }

  /** Nulls first (matches `sort_array` asc null ordering), then by value. */
  private[core] def compareKeys(kind: Int, a: Any, b: Any): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else if (kind == KindString) a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    else java.lang.Long.compare(keyAsLong(a), keyAsLong(b))
}

/** Mutable per-group state: exact row count + the (sortKey, payload)
  * pairs, cleared-and-flagged the moment the group crosses the cap.
  * In distinct mode `seen` mirrors `vals` as a membership set (payload
  * bytes), also cleared on overflow — past the cap nothing accumulates
  * either way. A DESERIALIZED buffer is LAZY: entries stay as raw bytes
  * (`pendingBytes`/`pendingCount`) until a consumer needs them — the
  * invariant is pending XOR materialized (materialize/overflow null the
  * raw form), so `size` is total entries either way. */
final class BoundedCollectBuf {
  var n: Long = 0L
  var over: Boolean = false
  val keys = new ArrayBuffer[Any]
  val vals = new ArrayBuffer[UTF8String]
  private[core] var pendingBytes: Array[Byte] = null
  private[core] var pendingCount: Int = 0
  private var seen: java.util.HashSet[UTF8String] = null

  /** Entry count, lazy or materialized. */
  def size: Int = vals.length + pendingCount

  /** Parse the lazy entries into keys/vals (no-op when already
    * materialized). `kind` is the agg's sort-key kind — the serialized
    * key encoding depends on it. */
  def materialize(kind: Int): Unit = if (pendingBytes != null) {
    val in = new DataInputStream(new ByteArrayInputStream(pendingBytes))
    in.skipBytes(13) // n (8) + over (1) + count (4): the eager header
    var i = 0
    while (i < pendingCount) {
      val k: Any =
        if (in.readByte() == 0) null
        else if (kind == BoundedCollectAgg.KindString) {
          val kb = new Array[Byte](in.readInt()); in.readFully(kb)
          UTF8String.fromBytes(kb)
        } else java.lang.Long.valueOf(in.readLong())
      val vb = new Array[Byte](in.readInt()); in.readFully(vb)
      keys += k
      vals += UTF8String.fromBytes(vb)
      i += 1
    }
    pendingBytes = null
    pendingCount = 0
  }
  /** true iff `p` was not yet a member (and is now marked seen). Lazily
    * rebuilds the set from `vals` — a deserialized partial buffer (the
    * shuffle path) arrives with members but no set. Callers pass OWNED
    * UTF8Strings only (never a view into a reused row buffer). */
  def addDistinct(p: UTF8String): Boolean = {
    if (seen == null) {
      seen = new java.util.HashSet[UTF8String]()
      vals.foreach(seen.add)
    }
    seen.add(p)
  }
  def overflow(): Unit = {
    over = true; keys.clear(); vals.clear(); seen = null
    pendingBytes = null; pendingCount = 0
  }
}
