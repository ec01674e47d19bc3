package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("keys and values are a function of the seed: same seed, same bytes; other seed, other bytes") {
    val a = (0L until 1000L).map(i => (Gen.key(7, i).toSeq, Gen.value(7, i, 1).toSeq))
    val b = (0L until 1000L).map(i => (Gen.key(7, i).toSeq, Gen.value(7, i, 1).toSeq))
    val c = (0L until 1000L).map(i => (Gen.key(8, i).toSeq, Gen.value(8, i, 1).toSeq))
    assert(a === b)
    assert(a.map(_._1).toSet.intersect(c.map(_._1).toSet).isEmpty)
    assert(a.map(_._1).distinct.size === 1000)
  }

  test("values are 80 to 120 hex digits that change with the epoch") {
    val vs = (0L until 2000L).map(i => Gen.value(3, i, 1))
    assert(vs.forall(v => v.length >= 80 && v.length <= 120))
    assert(vs.forall(_.forall(b => "0123456789abcdef".contains(b.toChar))))
    assert(vs.map(_.length).distinct.size > 30)
    assert((0L until 100L).forall(i => !Gen.value(3, i, 1).sameElements(Gen.value(3, i, 2))))
  }

  test("patches upsert about 1% and delete about 0.5% of records, disjointly") {
    val n = 200000
    val ups = (0L until n).count(Gen.isUpserted(5, 2, _))
    val dels = (0L until n).count(Gen.isDeleted(5, 2, _))
    assert(math.abs(ups / n.toDouble - 0.01) < 0.001)
    assert(math.abs(dels / n.toDouble - 0.005) < 0.001)
    assert(!(0L until n).exists(i => Gen.isUpserted(5, 2, i) && Gen.isDeleted(5, 2, i)))
  }

  test("the Zipf sampler's head share matches the distribution's") {
    val n = 100000
    val z = new Gen.Zipf(n, 0.99, seed = 1)
    val h = (1 to n).map(r => 1.0 / math.pow(r, 0.99)).sum
    assert(math.abs(z.headShare(1) - 1.0 / h) < 1e-9)
    assert(math.abs(z.headShare(10) - (1 to 10).map(r => 1.0 / math.pow(r, 0.99)).sum / h) < 1e-9)
    val rnd = new SplittableRandom(42)
    val draws = 200000
    val head = (1 to draws).count(_ => z.rank(rnd.nextDouble()) < 10)
    assert(math.abs(head / draws.toDouble - z.headShare(10)) < 0.005)
  }

  test("Zipf ranks map to distinct records, and the hot records depend on the seed") {
    val n = 5000
    val z = new Gen.Zipf(n, 0.99, seed = 1)
    val cdf = (0 until n).map(r => z.headShare(r + 1))
    // the midpoint of each rank's probability interval draws that rank
    val recs = (0 until n).map(r => z.record(if (r == 0) cdf(0) / 2 else (cdf(r - 1) + cdf(r)) / 2))
    assert(recs.distinct.size === n)
    assert(new Gen.Zipf(n, 0.99, seed = 2).record(0.0) != z.record(0.0))
  }

  test("the corpus is a function of the seed and plants near-duplicates of distinct documents") {
    val (docs, delta, planted) = Gen.corpus(seed = 9, n = 500, vocab = 2000)
    val (docs2, delta2, planted2) = Gen.corpus(seed = 9, n = 500, vocab = 2000)
    assert(docs === docs2 && delta === delta2 && planted === planted2)
    assert(Gen.corpus(seed = 10, n = 500, vocab = 2000)._1 != docs)
    assert(delta.size === 50 && planted.size === 25)
    assert(planted.map(_._2).distinct.size === 25)
    val byId = (docs ++ delta).map(d => d.id -> d).toMap
    val js = planted.map { case (d, c) => Gen.jaccard(Gen.shingles(byId(d).tokens), Gen.shingles(byId(c).tokens)) }
    assert(js.forall(j => j > 0.7 && j < 1.0))
    assert(js.count(_ >= 0.8) > 20)
  }
}
