package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KMeans

/** Spherical k-means: planted clusters recovered, determinism, and
  * empty-cell robustness.
  */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // two well-separated directions in 4-d (cosine clusters), 20 points each
  private def planted = {
    val a = (0 until 20).map(i => (i.toLong, Seq(1.0f, 0.01f * i, 0.0f, 0.0f)))
    val b = (0 until 20).map(i => (100L + i, Seq(0.0f, 0.0f, 1.0f, 0.01f * i)))
    (a ++ b).toDF("vec_id", "embedding")
  }

  test("planted cosine clusters land in distinct cells") {
    val out = KMeans.sphericalKMeans(planted, "embedding", "vec_id", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cellsA = (0L until 20L).map(out).toSet
    val cellsB = (100L until 120L).map(out).toSet
    assert(cellsA.size == 1 && cellsB.size == 1 && cellsA != cellsB)
  }

  test("deterministic across runs and cosine bounded") {
    val r1 = KMeans.sphericalKMeans(planted, "embedding", "vec_id", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val r2 = KMeans.sphericalKMeans(planted, "embedding", "vec_id", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(r1.sameElements(r2))
    assert(r1.forall { case (_, _, c) => c >= -1.000001 && c <= 1.000001 })
  }

  test("k larger than distinct directions: empty cells drop out without error") {
    val df = (0 until 6).map(i => (i.toLong, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = KMeans.sphericalKMeans(df, "embedding", "vec_id", k = 4, iters = 2)
    assert(out.count() == 6)
    // identical vectors all share one cell
    assert(out.select("cell_id").distinct().count() == 1)
  }

  test("the result recomputes from its source once its pinned copy is dropped") {
    // the fit's cached vector blocks are released once the result is
    // pinned; a dropped (evicted or lost) pinned copy must recompute
    // through them from the source, not fail on the released blocks
    val out = KMeans.sphericalKMeans(planted, "embedding", "vec_id", k = 2, iters = 2)
    val first = out.collect().toSet
    out.unpersist(blocking = true)
    assert(out.collect().toSet == first)
  }

  test("a malformed vector stays on the floor and counts toward no centroid") {
    // two 4-d clusters, a pair near a third axis, and two malformed
    // vectors: one of 2 elements and one with a null element
    val good = (1 to 4).map(i => (i.toLong, Seq(1.0, 0.1 * i, 0.0, 0.0))) ++
      (5 to 6).map(i => (i.toLong, Seq(0.1, 1.0, 0.0, 0.05 * i))) ++
      (7 to 10).map(i => (i.toLong, Seq(0.0, 0.0, 1.0, 0.1 * i)))
    val bad = Seq(11L -> Seq(Some(0.0), Some(1.0)), 12L -> Seq(Some(0.5), None, Some(0.5), Some(0.0)))
    val goodDf = good.map { case (i, v) => (i, v.map(Option(_))) }.toDF("vec_id", "embedding")
    def fit(df: org.apache.spark.sql.DataFrame) =
      KMeans.sphericalKMeans(df, "embedding", "vec_id", k = 2, iters = 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val out = fit(goodDf.union(bad.toDF("vec_id", "embedding")))
    // the malformed vectors keep the floor
    assert(out(11L) == (Int.MaxValue.toLong, Double.NegativeInfinity))
    assert(out(12L) == (Int.MaxValue.toLong, Double.NegativeInfinity))
    // and the well-formed ones are assigned as if they were absent: no
    // phantom cell Int.MaxValue made of the malformed vectors' sums
    assert(out -- Seq(11L, 12L) == fit(goodDf), s"assignment moved:\n$out")
  }
}
