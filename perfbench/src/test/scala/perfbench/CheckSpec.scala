package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  private def corrupt(v: Option[Array[Byte]]): Option[Array[Byte]] =
    v.map { b => val c = b.clone(); c(0) = (c(0) ^ 1).toByte; c }

  test("the answer checker accepts the generator's answers and flags a corrupted one") {
    val w = new Workload(seed = 3, records = 1000, graft.core.DomainSpec.KvSorted, zipf = false)
    val rec = new Record
    (0L until 1000L).foreach(i => rec.check(Answers.same(w.expected(4, i), w.expected(4, i)), s"record $i"))
    assert(rec.attempted.get() === 1000 && rec.failed.get() === 0)
    val present = (0L until 1000L).find(i => w.expected(4, i).isDefined).get
    rec.check(Answers.same(corrupt(w.expected(4, present)), w.expected(4, present)), "corrupted")
    rec.check(Answers.same(None, w.expected(4, present)), "missing")
    assert(rec.attempted.get() === 1002 && rec.failed.get() === 2)
  }

  test("versions differ where the patch changed a record") {
    val w = new Workload(seed = 3, records = 20000, graft.core.DomainSpec.KvSorted, zipf = false)
    val changed = (0L until 20000L).filter(i => !Answers.same(w.expected(3, i), w.expected(4, i)))
    assert(changed.nonEmpty)
    assert(changed.forall(i => Gen.isUpserted(3, Workload.PatchEpoch, i) || Gen.isDeleted(3, Workload.PatchEpoch, i)))
    assert(w.expected(4, 20000).isEmpty)
  }

  test("the warm-up versions hold the first 50,000 records at most, the timed ones all") {
    val w = new Workload(seed = 3, records = 200000, graft.core.DomainSpec.KvSorted, zipf = false)
    assert(w.recordsAt(1) === 50000 && w.recordsAt(2) === 50000 && w.recordsAt(3) === 200000)
    assert(w.expected(1, 49999).isDefined && w.expected(1, 50000).isEmpty && w.expected(3, 50000).isDefined)
    val small = new Workload(seed = 3, records = 1000, graft.core.DomainSpec.KvSorted, zipf = false)
    assert(small.recordsAt(1) === 1000 && small.recordsAt(3) === 1000)
  }

  test("a served read's check fails when the served bytes are corrupted") {
    val w = new Workload(seed = 3, records = 1000, graft.core.DomainSpec.KvSortedZ, zipf = true)
    val rnd = new SplittableRandom(1)
    val batch = w.drawBatch(rnd, 3)
    val right = batch.keys.map(k => w.expected(3, (0L until 1000L).find(i => Gen.key(3, i).sameElements(k)).get))
    assert(batch.ok(right))
    assert(!batch.ok(right.updated(5, corrupt(right(5)))))
  }

  test("the dedup check needs every planted pair at the threshold, with its exact Jaccard") {
    val layer = new DedupLayer(seed = 4, docs = 400)
    val (docs, delta, _) = Gen.corpus(4, 400, 20000)
    val byId = (docs ++ delta).map(d => d.id -> d).toMap
    def j(d: Long, c: Long) = Gen.jaccard(Gen.shingles(byId(d).tokens), Gen.shingles(byId(c).tokens))
    val rows = layer.required.toSeq.map { case (d, c) => (d, c, j(d, c)) }
    assert(rows.nonEmpty)
    val rec = new Record
    layer.check(rec, rows)
    assert(rec.failed.get() === 0)
    layer.check(rec, rows.tail)
    val (d0, c0, j0) = rows.head
    layer.check(rec, rows.tail :+ ((d0, c0, j0 - 0.01)))
    assert(rec.attempted.get() === 3 && rec.failed.get() === 2)
  }
}
