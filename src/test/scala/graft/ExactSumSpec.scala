package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorKernels.round6
import graft.operators.{ExactSum, Graph, KMeans}

/** The exact scaled-long sum against the `decimal(25,12)` formulas it
  * replaced, in the style of PcaSpec: the [[graft.operators.Fit]]
  * kernel's k-means Lloyd step and HITS half-step, over random 6-dp
  * inputs with negative values and magnitudes near the headroom bound,
  * and the headroom `require`, in a task and in the driver's merge.
  */
class ExactSumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dec = "decimal(25,12)"

  /** A random 6-dp double: mostly |x| < 4, negatives included, and
    * every `bigEvery`-th one near the term bound (|x| ≈ 1e9).
    */
  private def value(rnd: Random, i: Int, bigEvery: Int): Double =
    if (i % bigEvery == 0) round6((if (rnd.nextBoolean()) 1 else -1) * (1.0e9 + rnd.nextDouble() * 1.0e8))
    else round6(rnd.nextGaussian() * 4.0)

  test("the helper's conversion is the correctly rounded value of the decimal sum") {
    val rnd = new Random(5)
    val sums = Seq(0L, 1L, -1L, ExactSum.MaxSum, -ExactSum.MaxSum, 999999L, 1000001L) ++
      Seq.fill(2000)(rnd.nextLong() % ExactSum.MaxSum)
    sums.foreach { s =>
      assert(ExactSum.toDouble(s) == java.math.BigDecimal.valueOf(s, 6).doubleValue(), s"sum $s")
    }
    // every 6-dp double round-trips through its scaled term
    Seq.fill(2000)(value(rnd, rnd.nextInt(50), 7)).foreach { x =>
      assert(ExactSum.toDouble(ExactSum.term(x)) == x, s"term of $x")
    }
  }

  test("the k-means centroid update is bit-identical to the decimal(25,12) formula") {
    val rnd = new Random(41)
    val dim = 8
    // at most 8 near-bound components per column: any cell's sum stays
    // inside the ±2^53 headroom (8 · 1.1e9 < 9.0e9)
    val rows = (0 until 400).map { i =>
      (i.toLong, (0 until dim).map(j => value(rnd, i * dim + j, 401)))
    }
    val e = rows.toDF("vec_id", "v").repartition(3)
    val cents = (0 until 5).map(c => c -> rows(c * 37)._2)
    val blocks = KMeans.vectorBlocks(e)
    val got = try KMeans.lloydStep(blocks, cents, dim) finally blocks.unpersist()

    // the former step: exact decimal sums, the decimal's double over n,
    // rounded HALF_UP to 6 dp
    val assigned = e.withColumn("cell", vecnativeCell(cents))
    val aggs = count(lit(1)).as("n") +: (0 until dim).map(j =>
      sum(element_at(col("v"), j + 1).cast(dec)).as(s"s$j"))
    val want = assigned.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val n = r.getAs[Long]("n")
      r.getAs[Int]("cell") -> (0 until dim).map { j =>
        val mean = r.getAs[java.math.BigDecimal](s"s$j").doubleValue() / n
        BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }.sortBy(_._1).toSeq
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((c, g), (_, w)) =>
      assert(g.map(java.lang.Double.doubleToRawLongBits) == w.map(java.lang.Double.doubleToRawLongBits),
        s"cell $c:\n$g\n$w")
    }
    assert(got.exists(_._2.exists(x => math.abs(x) > 1.0e6)), "no near-bound component reached a centroid")
  }

  private def vecnativeCell(cents: Seq[(Int, Seq[Double])]) =
    graft.functions.vecnative.cosine_argmax(col("v"),
      cents.map(_._1).toArray, cents.map(_._2.toArray).toArray).getField("cell")

  /** The former half-step: decimal per-node sums and normalizer, the
    * division on their doubles.
    */
  private def decimalHalfStep(e: DataFrame, scores: DataFrame, from: String, to: String) = {
    val raw = e.join(scores.withColumnRenamed("node", from), from)
      .groupBy(col(to).as("node"))
      .agg(sum(col("score").cast(dec)).as("raw"))
    val tot = raw.agg(sum(col("raw"))).collect()(0).getDecimal(0)
    raw.select(col("node"),
      round(col("raw").cast("double") / lit(tot.doubleValue()), 6).as("score"))
      .as[(Long, Double)].collect().toMap
  }

  test("the HITS half-step is bit-identical to the decimal(25,12) formula") {
    val rnd = new Random(43)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = ((1L to 3L).map(0L -> _) ++
        Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))).distinct
        .toDF("src", "dst")
      // mostly small scores of either sign, two negative ones of 1e8 and
      // node 0 near the term bound: its ≥ 3 out-edges keep the total
      // positive and put raw sums of about 1e15 (of the 9.0e15 headroom)
      // into the half-step
      val scores = (0 until n).map(i => (i.toLong,
        if (i == 0) 1.0e9 + round6(rnd.nextDouble()) else if (i % 29 == 0) -1.0e8 - round6(rnd.nextDouble())
        else round6(rnd.nextDouble() * 3 - 0.5)))
      val byNode = scores.toMap
      val g = Graph.HitsGraph(edges)
      val got = try {
        val next = Graph.hitsHalfStep(g, g.hubs.map(h => byNode(h.asInstanceOf[Long])), toAuth = true)
        g.auths.map(_.asInstanceOf[Long]).zip(next).toMap
      } finally g.edges.unpersist()
      val want = decimalHalfStep(edges, scores.toDF("node", "score"), "src", "dst")
      assert(got.keySet == want.keySet, s"trial $trial")
      want.foreach { case (k, w) =>
        assert(java.lang.Double.doubleToRawLongBits(got(k)) == java.lang.Double.doubleToRawLongBits(w),
          s"trial $trial node $k: ${got(k)} vs $w")
      }
    }
  }

  /** Whether `err`'s cause chain holds the headroom `require`: a check
    * that fires in a task reaches the driver wrapped in Spark's
    * exception.
    */
  private def rejectedByHeadroom(err: Throwable): Boolean =
    Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains("headroom"))

  test("a sum past the headroom is rejected, not wrapped") {
    intercept[IllegalArgumentException](ExactSum.add(ExactSum.MaxSum, 1L))
    intercept[IllegalArgumentException](ExactSum.add(-ExactSum.MaxSum, -1L))
    intercept[IllegalArgumentException](ExactSum.toDouble(ExactSum.MaxSum + 1))
    intercept[IllegalArgumentException](ExactSum.term(2.0e9))
    assert(ExactSum.add(ExactSum.MaxSum - 1, 1L) == ExactSum.MaxSum)

    // ten components of 1e9 sum to 1e10 > 2^53 / 1e6 ≈ 9.007e9: a Lloyd
    // step whose one cell holds all ten fails, in the task of the block
    // that holds all ten (every row in one of the input's partitions),
    // and in the driver's merge when no block holds more than four
    val cores = spark.sparkContext.defaultParallelism
    val vecs = (0L until 10L).map(i => (i, Seq(1.0e9, 1.0))).toDF("vec_id", "v")
    val cent = Seq(0 -> Seq(1.0, 0.0))
    for (parts <- Seq(vecs.repartition(cores, lit(0)), vecs.repartition(5))) {
      val blocks = KMeans.vectorBlocks(parts)
      val err = try intercept[Exception](KMeans.lloydStep(blocks, cent, 2))
      finally blocks.unpersist()
      assert(rejectedByHeadroom(err), s"not a headroom rejection: $err")
    }
    // nine stay inside it
    val nine = KMeans.vectorBlocks(vecs.limit(9))
    try assert(KMeans.lloydStep(nine, cent, 2) == Seq(0 -> Seq(1.0e9, 1.0)))
    finally nine.unpersist()

    // a HITS node whose raw sum passes the headroom fails the half-step:
    // in the task that sums all ten of its edges, and in the driver's
    // merge when no task holds more than four of them
    val edges = (0L until 10L).map(i => (i, 100L)).toDF("src", "dst")
    for (parts <- Seq(edges.repartition(cores, lit(0)), edges.repartition(5))) {
      val g = Graph.HitsGraph(parts)
      val hitsErr = try intercept[Exception](
        Graph.hitsHalfStep(g, Array.fill(g.hubs.length)(1.0e9), toAuth = true))
      finally g.edges.unpersist()
      assert(rejectedByHeadroom(hitsErr), s"not a headroom rejection: $hitsErr")
    }
    // nine stay inside it
    val g = Graph.HitsGraph(edges.limit(9))
    try assert(Graph.hitsHalfStep(g, Array.fill(g.hubs.length)(1.0e9), toAuth = true).toSeq == Seq(1.0))
    finally g.edges.unpersist()
  }
}
