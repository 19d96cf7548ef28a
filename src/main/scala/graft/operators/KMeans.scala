package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ShingleKernels, VectorKernels, vecnative}

/** Spherical k-means (cosine Lloyd iterations) over an embedding
  * column — the training pass behind a real IVF index
  * ([[Similarity.ivfTopK]] uses a hashed sample as centroids; this is
  * the upgrade path that fits them properly).
  *
  * Determinism / oracle portability:
  *  - components are rounded to 6 dp (doubles) up front — clustering on
  *    lightly-quantized vectors is standard at billion scale, and a
  *    6-dp double is far enough from any decimal tie that the oracle's
  *    exact DECIMAL(25,12) cast rounds identically in every engine (raw
  *    float casts do hit HALF_UP/HALF_EVEN ties);
  *  - per-cell component sums are exact scaled-long sums
  *    ([[ExactSum]]: equal to the oracle's decimal sums) →
  *    order-independent across partitions/engines; the mean is taken
  *    in double and rounded to 6 dp, so both engines iterate from
  *    bit-identical centroids;
  *  - init = the k vectors with the smallest (FNV-1a(id), id) — the
  *    same deterministic hash-strided sample as `ivfTopK`; cells are
  *    labeled 0..k−1 in pick order;
  *  - assignment = argmax of 6-dp-rounded cosine, ties to the lowest
  *    cell label. A vector with a null element, or of a length no
  *    centroid has, is left on the (−∞, Int.MaxValue) floor and counts
  *    toward no centroid.
  *
  * Scale shape: the rounded vectors are cached once as [[Fit]] blocks by
  * a job that also counts the rows; init is one `takeOrdered(k)`, and
  * each Lloyd iteration is one job and no query plan ([[lloydStep]]):
  * only the k×dim centroid matrix travels, like MLlib's KMeans driver
  * loop. A cell that loses all members drops out (no re-seeding), which
  * keeps the trace reproducible. The final assignment is one codegen'd
  * projection over the cached vectors.
  */
object KMeans {

  // (sim desc, cell asc) argmax over the whole centroid set in ONE
  // native codegen'd kernel call (vecnative.cosine_argmax) — NOT a
  // k-arm greatest(struct…) and NOT a higher-order fold. The k-arm
  // form's expression size is O(k): the 100× audit's adaptive
  // k ≈ 15 600 built a 15k-branch expression whose Catalyst analysis
  // alone took minutes; the HOF fold keeps the plan O(1) but
  // ArrayAggregate is CodegenFallback — interpreted per row ×
  // centroid, a 10–50× tax on the inherent n·k·d assignment flops.
  // The kernel replays cosineSim's exact IEEE sequence + round-6 +
  // lowest-cell tie-break, so results are bit-identical to both
  // prior forms (oracle-pinned).
  private def best(cents: Seq[(Int, Seq[Double])])(vec: Column): Column =
    vecnative.cosine_argmax(vec,
      cents.map(_._1).toArray, cents.map(_._2.toArray).toArray)

  /** A block of rounded vectors `vecs(i)` of ids `ids(i)`, as Spark's
    * arrays (a malformed one reaches the final assignment as it came);
    * `rows` counts its input rows, those with a null id or vector too.
    */
  private[graft] final class Vectors(val ids: Array[Long], val vecs: Array[ArrayData], val rows: Long)
      extends Serializable

  /** `e(vec_id, v)` as [[Fit]] blocks. They keep their lineage: the
    * final assignment, which the caller pins and may read again after
    * it unpersists them, is scanned from them.
    */
  private[graft] def vectorBlocks(e: DataFrame): RDD[Vectors] =
    Fit.blocks(e.queryExecution.toRdd, cutLineage = false) { it =>
      val ids = Array.newBuilder[Long]
      val vecs = Array.newBuilder[ArrayData]
      var rows = 0L
      it.foreach { r =>
        rows += 1
        if (!r.isNullAt(0) && !r.isNullAt(1)) { ids += r.getLong(0); vecs += r.getArray(1).copy() }
      }
      new Vectors(ids.result(), vecs.result(), rows)
    }

  /** One Lloyd step, as one [[Fit.step]]: each vector is assigned by the
    * final projection's kernel, and each cell sums its count and the
    * exact scaled sums of its `dim` components (the floor counts toward
    * no cell). A next centroid's components are the sums' nearest
    * doubles over the count, rounded to 6 dp — bit-identical to the
    * decimal sums' doubles over n; a cell with no member drops out.
    */
  private[graft] def lloydStep(blocks: RDD[Vectors], cents: Seq[(Int, Seq[Double])],
                               dim: Int): Seq[(Int, Seq[Double])] = {
    val w = dim + 1 // per cell: the count, then the component sums
    val sums = Fit.step(blocks, cents.map(_._2.toArray).toArray) { (b, cs) =>
      // positions for labels: both ascend, so the tie-break is the same
      val at = Array.range(0, cs.length)
      val s = new Array[Long](cs.length * w)
      var i = 0
      while (i < b.vecs.length) {
        val v = b.vecs(i)
        val t = VectorKernels.cosineArgmax(v, at, cs, vFloat = false).getInt(1)
        if (t != Int.MaxValue) {
          val o = t * w
          s(o) += 1
          val n = math.min(v.numElements(), dim)
          var j = 0
          while (j < n) {
            s(o + 1 + j) = ExactSum.add(s(o + 1 + j), ExactSum.term(v.getDouble(j)))
            j += 1
          }
        }
        i += 1
      }
      s
    }
    cents.indices.filter(t => sums(t * w) > 0).map { t =>
      val n = sums(t * w)
      cents(t)._1 -> (0 until dim).map(j =>
        VectorKernels.round6(ExactSum.toDouble(sums(t * w + 1 + j)) / n))
    }
  }

  /** Fit `k` centroids with `iters` Lloyd iterations and return the
    * final assignment: (id, cell_id, cosine-to-centroid).
    */
  def sphericalKMeans(embs: DataFrame, vecCol: String, idCol: String,
                      k: Int = 8, iters: Int = 2): DataFrame = {
    val (withVecs, vecs) = sphericalKMeansWithVecs(embs, vecCol, idCol, _ => k, iters)
    // pin the slim 3-column result, release the cached vectors
    try Eval.pinAndRelease(withVecs.select(col("vec_id"), col("cell_id"), col("cosine")))
    finally vecs.unpersist(blocking = false)
  }

  /** [[sphericalKMeans]] returning the (rounded) vectors WITH the
    * assignment — `(vec_id, cell_id, cosine, v)` — plus the cached
    * vector blocks it reads, which the CALLER must unpersist once its
    * own downstream materializes (the [[Eval.pinAndRelease]] hygiene).
    * `k` is chosen from the input's row count. For consumers that need
    * the vectors right after assignment (SemDeDup's within-cell cosine
    * pass): the slim form forced them to re-scan + re-round the source
    * and shuffle-join it back onto the labels by id.
    */
  def sphericalKMeansWithVecs(embs: DataFrame, vecCol: String, idCol: String,
                              k: Long => Int, iters: Int): (DataFrame, RDD[Vectors]) = {
    val spark = embs.sparkSession
    val vecs = vectorBlocks(embs.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), x => round(x.cast("double"), 6)).as("v")))
    // the build job: caches the blocks and counts the input rows
    val kEff = k(vecs.map(_.rows).fold(0L)(_ + _))

    // deterministic hash-strided init, labeled 0..k-1 in pick order
    val init: Seq[Seq[Double]] = vecs
      .flatMap(b => b.ids.indices.iterator.map(i => (initKey(b.ids(i)), b.vecs(i))))
      .takeOrdered(kEff)(Ordering.by(_._1))
      .map(_._2.toDoubleArray().toSeq).toSeq
    require(init.nonEmpty, "k-means needs at least one vector")
    val dim = init.head.size

    var cents: Seq[(Int, Seq[Double])] = init.zipWithIndex.map(_.swap)
    for (_ <- 0 until iters) cents = lloydStep(vecs, cents, dim)

    val fin = best(cents)(col("v"))
    val out = Bridge.internalFrame(spark,
      vecs.flatMap(b => b.ids.indices.iterator.map(i => InternalRow(b.ids(i), b.vecs(i)))),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(DoubleType), nullable = false))))
      .select(col("vec_id"),
        fin.getField("cell").cast("long").as("cell_id"),
        fin.getField("sim").as("cosine"), col("v"))
    (out, vecs)
  }

  /** The init order: (`element_at(token_hashes(cast(id as string)), 1)`, id). */
  private def initKey(id: Long): (Long, Long) =
    (ShingleKernels.tokenHashes(UTF8String.fromString(id.toString), true).getLong(0), id)
}
