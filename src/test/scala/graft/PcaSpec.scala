package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pca

/** Power-iteration PC1: recovers a planted dominant direction and is
  * bit-deterministic across runs (the exact-decimal aggregate makes
  * the fit independent of partitioning).
  */
class PcaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16

  private def round6(x: Double) = graft.functions.VectorKernels.round6(x)

  /** Rounds to 6 dp in `mode`, as Spark's `round` does in HALF_UP. */
  private def round6In(mode: java.math.RoundingMode)(x: Double) =
    java.math.BigDecimal.valueOf(x).setScale(6, mode).doubleValue()

  /** `iters` power iterations over the rounded `vecs`, replayed in the
    * driver with exact decimal sums: the projection is an ascending
    * fold, every committed rounding point HALF_UP 6-dp, and each sum of
    * round6(x_i · round6(x·v)) an exact BigDecimal (the former
    * decimal(25,12) semantics).
    */
  private def decimalReplay(vecs: Seq[Seq[Double]], d: Int, iters: Int): Seq[Double] = {
    var v = Seq.fill(d)(round6(1.0 / math.sqrt(d.toDouble)))
    for (_ <- 1 to iters) {
      val sums = Array.fill(d)(java.math.BigDecimal.ZERO)
      vecs.foreach { x =>
        val proj = round6(x.zip(v).map(t => t._1 * t._2).sum)
        (0 until d).foreach { i =>
          sums(i) = sums(i).add(new java.math.BigDecimal(
            java.math.BigDecimal.valueOf(round6(x(i) * proj)).setScale(6,
              java.math.RoundingMode.HALF_UP).toPlainString))
        }
      }
      val raw = (0 until d).map(i => round6(sums(i).doubleValue()))
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      v = raw.map(x => round6(x / nrm))
    }
    v
  }

  test("fitPc1 recovers a planted dominant direction") {
    val rnd = new Random(7)
    val u = {
      val raw = Seq.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    // strong signal along u, weak isotropic noise
    val rows = (1L to 300L).map { i =>
      val c = rnd.nextGaussian() * 10.0
      (i, u.map(_ * c).zip(Seq.fill(dim)(rnd.nextGaussian() * 0.1)).map(t => t._1 + t._2))
    }
    val df = rows.toDF("vec_id", "embedding")
    val v = Pca.fitPc(df, "embedding", "vec_id", dim, iters = 4)
    val align = math.abs(v.zip(u).map(t => t._1 * t._2).sum)
    assert(align > 0.99, s"|v.u| = $align")
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4, "direction not unit")
  }

  test("pcaScores' deflated second component recovers the second planted axis") {
    val rnd = new Random(23)
    def unit(raw: Seq[Double]) = {
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val u1 = unit(Seq.fill(dim)(rnd.nextGaussian()))
    // Gram-Schmidt a second axis orthogonal to u1
    val u2 = {
      val raw = Seq.fill(dim)(rnd.nextGaussian())
      val p = raw.zip(u1).map(t => t._1 * t._2).sum
      unit(raw.zip(u1).map(t => t._1 - p * t._2))
    }
    // variance 10 along u1, 3 along u2, 0.05 noise
    val rows = (1L to 400L).map { i =>
      val a = rnd.nextGaussian() * 10.0
      val b = rnd.nextGaussian() * 3.0
      (i, (0 until dim).map(j => a * u1(j) + b * u2(j) + rnd.nextGaussian() * 0.05))
    }
    val df = rows.toDF("vec_id", "embedding")
    val d1 = Pca.fitPc(df, "embedding", "vec_id", dim, iters = 4)
    val d2 = Pca.fitPc(df, "embedding", "vec_id", dim, iters = 4, Seq(d1))
    assert(math.abs(d2.zip(u2).map(t => t._1 * t._2).sum) > 0.99,
      "pc2 missed the second planted axis")
    assert(math.abs(d2.zip(d1).map(t => t._1 * t._2).sum) < 0.01,
      "pc2 not orthogonal to pc1")
    val out = Pca.pcaScores(df, "embedding", "vec_id", dim, iters = 4)
    assert(out.columns.toSeq == Seq("vec_id", "pc1", "pc2"))
    assert(out.count() == 400)
  }

  test("the long-sum power-iteration aggregate is bit-identical to an exact decimal reference") {
    // fitPc's per-dimension sums are longs of round6(term)·1e6, taken by
    // one Fit kernel step (Pca.powerStep) — this pins that one full
    // iteration equals an exact BigDecimal replay
    // of the SAME 6-dp contract in the driver (the former
    // decimal(25,12) semantics), component for component, including
    // inputs near half-ulp boundaries where a truncating cast would
    // fold adjacent 6-dp values together.
    val d = 8
    val rnd = new Random(97)
    val rows = (1L to 257L).map { i =>
      (i, Seq.fill(d)(rnd.nextGaussian() match {
        // sprinkle exact 6-dp values and boundary-ish magnitudes
        case g if i % 7 == 0 => math.rint(g * 1e6) / 1e6 + 0.29
        case g               => g * 3.7
      }))
    }
    // plus a row with a null element and a row of another length: the
    // projection of each is null, so neither may enter the sums
    val df = rows.toDF("vec_id", "embedding").union(Seq(
      (1000L, Seq.tabulate[Option[Double]](d)(j => if (j == 3) None else Some(5.0))),
      (1001L, Seq[Option[Double]](Some(7.0), Some(7.0)))).toDF("vec_id", "embedding"))
    val fitted = Pca.fitPc(df, "embedding", "vec_id", d, iters = 1)

    val expect = decimalReplay(rows.map(_._2.map(round6)), d, iters = 1) // the base projection's 6-dp cast
    assert(fitted == expect,
      s"long-sum fit diverged from the exact decimal reference:\n$fitted\n$expect")
  }

  test("the deflated power iteration is bit-identical to a replay of the 6-dp deflation") {
    // fitPc deflates in SQL (the scoring's deflatedFrame) and sums on
    // the Fit kernel; this pins two deflations and two iterations
    // against a driver replay of x <- round6(x - round6(p*dir)),
    // p = round6(x.dir). The directions are binary fractions, so every
    // product of a 6-dp projection lands on or next to a 7th-digit half.
    val d = 8
    val rnd = new Random(131)
    val rows = (1L to 203L).map(i => (i, Seq.fill(d)(math.rint(rnd.nextGaussian() * 3e6) / 1e6)))
    val dirs = Seq(Seq(0.5, -0.5, 0.5, -0.5, 0.25, 0.25, 0.125, -0.375),
      Seq(0.125, 0.625, -0.25, 0.5, -0.5, 0.0, 0.375, 0.25))
    val fitted = Pca.fitPc(rows.toDF("vec_id", "embedding"), "embedding", "vec_id", d,
      iters = 2, deflate = dirs)

    def deflated(r: Double => Double) = rows.map(_._2.map(round6)).map { x0 =>
      dirs.foldLeft(x0) { (x, dir) =>
        val p = round6(x.zip(dir).map(t => t._1 * t._2).sum)
        x.zip(dir).map { case (xi, di) => r(xi - r(p * di)) }
      }
    }
    val expect = decimalReplay(deflated(round6In(java.math.RoundingMode.HALF_UP)), d, iters = 2)
    assert(fitted == expect,
      s"deflated fit diverged from the 6-dp replay:\n$fitted\n$expect")
    // the inputs do sit on the boundaries: rounding the deflation's
    // halves to even instead moves the fit
    assert(decimalReplay(deflated(round6In(java.math.RoundingMode.HALF_EVEN)), d, iters = 2) != expect)
  }

  test("pc1Scores is deterministic and scores scale with the planted coefficient") {
    val rnd = new Random(11)
    val u = {
      val raw = Seq.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val coef = (1L to 100L).map(i => i -> (if (i % 2 == 0) i.toDouble else -i.toDouble))
    val df = coef.map { case (i, c) => (i, u.map(_ * c)) }.toDF("vec_id", "embedding")
    val s1 = Pca.pc1Scores(df, "embedding", "vec_id", dim, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s2 = Pca.pc1Scores(df, "embedding", "vec_id", dim, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s1 == s2, "fit not deterministic")
    // rank-1 data: |score| must equal |coefficient| (up to rounding)
    coef.foreach { case (i, c) =>
      assert(math.abs(math.abs(s1(i)) - math.abs(c)) < 1e-2, s"id $i: ${s1(i)} vs $c")
    }
    // sign consistency: scores of same-sign coefficients share a sign
    val pos = coef.filter(_._2 > 0).map(x => s1(x._1))
    assert(pos.forall(_ > 0) || pos.forall(_ < 0))
  }
}
