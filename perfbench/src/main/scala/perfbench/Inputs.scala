package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so Spark tasks and the driver-side reference
  * code derive identical inputs, whatever the partitioning.
  */
object Inputs {

  // input streams; one per kind of generated value
  val CorpusStream = 1L
  val QueryStream = 2L
  val PatientStream = 3L
  val ChurnStream = 4L
  val UpdateStream = 5L

  private def mix(z0: Long): Long = { // splitmix64 finaliser
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) + stream) + index))

  /** Isotropic Gaussian mixture: `centers` are the cluster means, each
    * point is its center plus N(0, spread²) noise per dimension.
    */
  final case class Mixture(centers: Array[Array[Float]], spread: Double) {
    def dim: Int = centers.head.length

    /** (cluster label, vector) of point `index` of `stream`. */
    def point(seed: Long, stream: Long, index: Long): (Int, Array[Float]) = {
      val r = rng(seed, stream, index)
      val c = r.nextInt(centers.length)
      val center = centers(c)
      (c, Array.tabulate(dim)(j => (center(j) + spread * r.nextGaussian()).toFloat))
    }
  }

  def mixture(seed: Long, clusters: Int, dim: Int, spread: Double): Mixture =
    Mixture(Array.tabulate(clusters) { c =>
      val r = rng(seed, 0L, c)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }, spread)

  /** A query patient in the program's raw feature units: continuous labs
    * in clinical ranges, binary flags as 0/1.
    */
  def queryPatient(seed: Long, index: Long): Map[String, Double] = {
    val r = rng(seed, PatientStream, index)
    def normal(mu: Double, sd: Double, lo: Double, hi: Double) =
      math.min(hi, math.max(lo, mu + sd * r.nextGaussian()))
    def flag(p: Double) = if (r.nextDouble() < p) 1.0 else 0.0
    Map(
      "age" -> normal(55, 15, 18, 80),
      "meld_score" -> normal(20, 8, 6, 40),
      "bmi" -> normal(28, 5, 16, 45),
      "creatinine" -> normal(1.5, 0.8, 0.5, 8),
      "bilirubin" -> normal(3, 2.5, 0.3, 30),
      "inr" -> normal(1.6, 0.5, 0.8, 5),
      "sodium" -> normal(136, 4, 120, 150),
      "albumin" -> normal(3.2, 0.6, 1.5, 5),
      "dialysis" -> flag(0.1),
      "ascites" -> flag(0.4),
      "encephalopathy" -> flag(0.3),
      "diabetes" -> flag(0.25),
      "hypertension" -> flag(0.35),
      "etiology_alcohol" -> flag(0.3),
      "etiology_nash" -> flag(0.25),
      "etiology_hcv" -> flag(0.2),
      "etiology_other" -> flag(0.25),
      "blood_type_o" -> flag(0.45),
      "blood_type_a" -> flag(0.4),
      "blood_type_b" -> flag(0.1))
  }

  /** `n` distinct picks from `pool` (partial Fisher-Yates on a copy). */
  def sample(pool: IndexedSeq[Long], n: Int, r: SplittableRandom): Seq[Long] = {
    val a = pool.toArray
    val m = math.min(n, a.length)
    var i = 0
    while (i < m) {
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(m).toSeq
  }
}
