package perfbench

import java.math.RoundingMode

/** Driver-side brute-force reference the benchmark checks the program
  * against. The cosine loop widens float to double and accumulates left
  * to right, the arithmetic the program's cosine expression uses.
  */
object Exact {

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Spark's `round(x, 6)` on a double (HALF_UP on the decimal form). */
  def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Top-k (id, score) by score descending, ties by id ascending, over
    * the rows `keep` admits, with scores as the program reports them
    * (cosine rounded by [[round6]]).
    */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int,
           keep: Int => Boolean = _ => true): Seq[(Long, Double)] =
    topKBy(ids, vecs, q, k, keep, round6, slack = 1e-6)

  /** Top-k by `score(cosine)`. `score` must be non-decreasing and move a
    * value by at most `slack`, so only rows within `slack` of the k-th
    * best raw cosine can enter the result; only those get scored.
    */
  def topKBy(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int,
             keep: Int => Boolean, score: Double => Double,
             slack: Double): Seq[(Long, Double)] = {
    val rows = ids.indices.filter(keep).toArray
    val raw = rows.map(i => cosine(vecs(i), q))
    if (rows.isEmpty) Seq.empty
    else {
      val kth = raw.sorted(Ordering.Double.TotalOrdering.reverse)(math.min(k, raw.length) - 1)
      rows.indices.filter(j => raw(j) >= kth - slack)
        .map(j => (ids(rows(j)), score(raw(j))))
        .sortBy(p => (-p._2, p._1))
        .take(k)
    }
  }
}
