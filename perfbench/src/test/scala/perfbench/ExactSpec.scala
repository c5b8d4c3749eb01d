package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ExactSpec extends AnyFunSuite {

  test("round6 rounds half up, as Spark's round does") {
    assert(Exact.round6(0.1234565) == 0.123457)
    assert(Exact.round6(-0.1234565) == -0.123457)
    assert(Exact.round6(0.9999994) == 0.999999)
  }

  test("cosine follows the zero-norm convention") {
    assert(Exact.cosine(Array(1f, 0f), Array(1f, 0f)) == 1.0)
    assert(Exact.cosine(Array(0f, 0f), Array(1f, 0f)) == 0.0)
  }

  test("topK equals a full sort by rounded score, ties by id") {
    val r = new scala.util.Random(5)
    val vecs = Array.fill(500)(Array.fill(6)(r.nextGaussian().toFloat))
    // duplicates force exact score ties
    vecs(10) = vecs(3).clone(); vecs(400) = vecs(3).clone()
    val ids = Array.tabulate(500)(i => 1000L - i)
    val q = vecs(3)
    val full = ids.indices.map(i => (ids(i), Exact.round6(Exact.cosine(vecs(i), q))))
      .sortBy(p => (-p._2, p._1))
    assert(Exact.topK(ids, vecs, q, 10) == full.take(10))
    assert(Exact.topK(ids, vecs, q, 10).take(3).map(_._1) == Seq(600L, 990L, 997L))
    val even = (i: Int) => i % 2 == 0
    assert(Exact.topK(ids, vecs, q, 5, keep = even) ==
      full.filter(p => even((1000L - p._1).toInt)).take(5))
  }
}
