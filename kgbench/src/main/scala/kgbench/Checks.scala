package kgbench

/** Arithmetic of the benchmark's statistics and of its output check. Pure
  * functions, so the benchmark's own tests pin them without Spark. */
object Checks {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** N→4N efficiency: t(1 slot) / (slots × t(slots)). 1.0 is linear. */
  def scalingEff(t1: Double, tN: Double, slots: Int): Double = {
    require(t1 > 0 && tN > 0 && slots > 0, "scaling_eff needs positive times")
    t1 / (slots * tN)
  }

  /** Degradation inside one long-lived driver: the median job time of the
    * last third of the timed iterations over that of the first third (at
    * least one iteration each). 1.0 is flat; above 1 the loop slows down. */
  def loopDrift(times: Seq[Double]): Double = {
    require(times.size >= 2, "loop_drift needs at least two iterations")
    val k = math.max(1, times.size / 3)
    median(times.takeRight(k)) / median(times.take(k))
  }

  /** (precision, recall) of an emitted set against the golden set. */
  def precisionRecall[A](emitted: Set[A], golden: Set[A]): (Double, Double) = {
    require(emitted.nonEmpty && golden.nonEmpty, "P/R of an empty set")
    val tp = emitted.count(golden.contains).toDouble
    (tp / emitted.size, tp / golden.size)
  }

  val minPrecisionRecall = 0.95

  /** The P/R gate of the golden-oracle check. */
  def passesGolden(precision: Double, recall: Double): Boolean =
    precision >= minPrecisionRecall && recall >= minPrecisionRecall
}

/** Order-independent signature of one materialized output: its row count and
  * the sum, as an exact decimal, of one 64-bit hash per row. */
final case class Sig(rows: Long, hash: BigDecimal)

/** Signatures of the three outputs of one job. Every job of a run must
  * produce the same value: timed iterations, 1-slot and 4-slot sides, full
  * and resumed runs. */
final case class OutputSig(triples: Sig, vertices: Sig, edges: Sig)
