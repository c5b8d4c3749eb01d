package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  test("the mixture and its points are a function of the seed") {
    val a = Inputs.mixture(7L, clusters = 4, dim = 8, spread = 1.0)
    val b = Inputs.mixture(7L, clusters = 4, dim = 8, spread = 1.0)
    assert(a.centers.map(_.toSeq).toSeq == b.centers.map(_.toSeq).toSeq)
    val (la, pa) = a.point(7L, Inputs.CorpusStream, 123L)
    val (lb, pb) = b.point(7L, Inputs.CorpusStream, 123L)
    assert(la == lb && pa.toSeq == pb.toSeq)
    assert(pa.length == 8 && la >= 0 && la < 4)
  }

  test("another seed, stream or index gives other inputs") {
    val m = Inputs.mixture(7L, 4, 8, 1.0)
    val p = m.point(7L, Inputs.CorpusStream, 1L)._2.toSeq
    assert(Inputs.mixture(8L, 4, 8, 1.0).centers.head.toSeq !=
      m.centers.head.toSeq)
    assert(m.point(8L, Inputs.CorpusStream, 1L)._2.toSeq != p)
    assert(m.point(7L, Inputs.QueryStream, 1L)._2.toSeq != p)
    assert(m.point(7L, Inputs.CorpusStream, 2L)._2.toSeq != p)
  }

  test("query patients are deterministic and carry every feature") {
    val q = Inputs.queryPatient(3L, 5L)
    assert(q == Inputs.queryPatient(3L, 5L))
    assert(q != Inputs.queryPatient(4L, 5L))
    assert(q.keySet == graft.schema.PatientSchema.featureCols.toSet)
  }

  test("sample draws distinct keys, deterministically") {
    val pool = (0L until 100L).toIndexedSeq
    val a = Inputs.sample(pool, 10, Inputs.rng(1L, Inputs.ChurnStream, 0L))
    val b = Inputs.sample(pool, 10, Inputs.rng(1L, Inputs.ChurnStream, 0L))
    assert(a == b && a.distinct.size == 10 && a.forall(pool.contains))
    assert(Inputs.sample(pool.take(3), 10, Inputs.rng(1L, 0L, 0L)).sorted == pool.take(3))
  }
}
