package graft.store

/**
 * K-way merge of key-ordered record streams into one globally ordered
 * stream (unsigned-lexicographic byte order) — the ONE merge definition
 * shared by [[KvDomainReader.RangeCursor]]'s globalOrder mode,
 * [[RingClient.rangeScan]]'s cross-host merge and a kv patch's read of a
 * shard dir holding several files, so they can never drift.
 *
 * Heap-based: each `next()` costs O(log k), not the O(k) scan-all-heads
 * formulation — at the shard counts this engine targets (hundreds to
 * 64k), the difference is the export's throughput. At most ONE pending
 * entry per stream lives in the heap, so equal keys never coexist as
 * heap entries from the same stream (a duplicate run within one stream
 * stays consecutive), and ties ACROSS streams break by stream index —
 * deterministic output for hash-sharded domains, where a key legally
 * lives in exactly one shard anyway.
 *
 * Streams are pulled lazily: a stream's next element is requested only
 * after its previous one was emitted, so paging iterators (remote shard
 * scans) fetch exactly as the merge drains them.
 */
private[store] object KvMerge {

  def byKey(
      streams: Seq[Iterator[(Array[Byte], Array[Byte])]])
      : Iterator[(Array[Byte], Array[Byte])] = {
    val its = streams.toIndexedSeq
    final case class Entry(key: Array[Byte], value: Array[Byte], stream: Int)
    val pq = new java.util.PriorityQueue[Entry](
      math.max(1, its.size),
      (a: Entry, b: Entry) => {
        val c = java.util.Arrays.compareUnsigned(a.key, b.key)
        if (c != 0) c else Integer.compare(a.stream, b.stream)
      })
    var seeded = false
    def push(i: Int): Unit =
      if (its(i).hasNext) {
        val (k, v) = its(i).next()
        pq.add(Entry(k, v, i))
      }
    new Iterator[(Array[Byte], Array[Byte])] {
      private def seed(): Unit =
        if (!seeded) { its.indices.foreach(push); seeded = true }
      def hasNext: Boolean = { seed(); !pq.isEmpty }
      def next(): (Array[Byte], Array[Byte]) = {
        seed()
        val e = pq.poll()
        if (e == null) throw new NoSuchElementException("merge exhausted")
        push(e.stream)
        (e.key, e.value)
      }
    }
  }
}
