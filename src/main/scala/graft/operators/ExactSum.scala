package graft.operators

import graft.functions.VectorKernels

/** Exact sums of 6-dp values as scaled longs — the arithmetic of the
  * [[Fit]] kernel's steps ([[KMeans]] centroid means, [[Pca]] power
  * iteration, [[Graph.hits]] half-steps; the tasks and the driver's
  * merge both sum with [[add]]), which used to sum `decimal(25,12)`.
  *
  * Exactness. A 6-dp double x is the nearest double to m/10⁶ for an
  * integer m. Its relative error is at most 2⁻⁵³, and x·10⁶ adds at
  * most another 2⁻⁵³, so |x·10⁶ − m| ≤ |m|·2⁻⁵² < 1/4 whenever
  * |m| < [[MaxTerm]] = 2⁵⁰ (|x| < 1.1e9): rounding x·10⁶ to the nearest
  * integer recovers m. Sums of the m's are long adds, exact and
  * independent of order, so a sum does not depend on the partitioning
  * or on the engine — exactly what the decimal sum gave.
  *
  * Headroom. Every sum is kept within ±[[MaxSum]] = 2⁵³ (±9.0e9 in value
  * units). A long below 2⁵³ converts to a double exactly, so s / 10⁶ in
  * double arithmetic is one correctly rounded IEEE division: the same
  * double as the former decimal sum's cast to double. A sum past the
  * headroom is rejected by a `require`, never wrapped or rounded.
  */
object ExactSum {

  /** 2⁵⁰: the largest |m| whose 6-dp double round-trips through x·10⁶. */
  val MaxTerm: Long = 1L << 50

  /** 2⁵³: the largest |sum| the helper forms or converts. */
  val MaxSum: Long = 1L << 53

  /** m for a 6-dp double x. */
  def term(x: Double): Long = {
    val m = math.rint(x * 1e6)
    require(math.abs(m) < MaxTerm, s"6-dp term $x is past the exact range of a scaled long")
    m.toLong
  }

  /** m for round6(x·w): the shared 6-dp HALF_UP contract applied to a
    * product, then scaled.
    */
  def productTerm(x: Double, w: Double): Long = term(VectorKernels.round6(x * w))

  /** s itself, rejected past the headroom. */
  def checked(s: Long): Long = {
    require(s <= MaxSum && s >= -MaxSum, s"exact 6-dp sum $s is past its headroom of ±2^53")
    s
  }

  /** s + m, rejected past the headroom (both are within it, so the long
    * add cannot overflow first).
    */
  def add(s: Long, m: Long): Long = checked(s + m)

  /** The nearest double to s / 10⁶. */
  def toDouble(s: Long): Double = checked(s).toDouble / 1e6
}
