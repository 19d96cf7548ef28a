package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{VectorKernels, vecnative}

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
  *    cell label.
  *
  * Scale shape per iteration: one projection (argmax over k centroid
  * literals — no shuffle) + one k-row aggregate with map-side combine
  * (a count and one array-valued exact sum); only the k×dim centroid
  * matrix is ever collected (bounded model state, exactly like MLlib's
  * KMeans driver loop). A cell that loses all members simply drops out
  * (no re-seeding), which keeps the trace reproducible.
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

  /** One Lloyd step's aggregate over the rounded vectors `e(v)`: per
    * assigned cell, the row count `n` and the exact scaled sums `s` of
    * the `dim` components ([[ExactSum.vecSum]] — one aggregate
    * expression whatever `dim` is).
    */
  private[graft] def lloydSums(e: DataFrame, cents: Seq[(Int, Seq[Double])],
                               dim: Int): DataFrame =
    e.groupBy(best(cents)(col("v")).getField("cell").as("cell"))
      .agg(count(lit(1)).as("n"), ExactSum.vecSum(col("v"), dim).as("s"))

  /** The next centroids from [[lloydSums]]' rows: each component's
    * mean, the exact sum's nearest double over n, rounded to 6 dp —
    * bit-identical to the former decimal sum's double over n.
    */
  private[graft] def centroids(rows: Array[Row], dim: Int): Seq[(Int, Seq[Double])] =
    rows.map { r =>
      val n = r.getLong(1)
      val s = r.getList[java.lang.Long](2)
      r.getInt(0) -> (0 until dim).map(j =>
        VectorKernels.round6(ExactSum.toDouble(s.get(j)) / n))
    }.sortBy(_._1).toSeq

  /** Fit `k` centroids with `iters` Lloyd iterations and return the
    * final assignment: (id, cell_id, cosine-to-centroid).
    */
  def sphericalKMeans(embs: DataFrame, vecCol: String, idCol: String,
                      k: Int = 8, iters: Int = 2): DataFrame = {
    val (withVecs, e) = sphericalKMeansWithVecs(embs, vecCol, idCol, k, iters)
    // pin the slim 3-column result, release the wide vector cache
    Eval.pinAndRelease(
      withVecs.select(col("vec_id"), col("cell_id"), col("cosine")), e)
  }

  /** [[sphericalKMeans]] returning the (rounded) vectors WITH the
    * assignment — `(vec_id, cell_id, cosine, v)` — plus the internal
    * persisted vector frame, which the CALLER must release once its
    * own downstream materializes (the [[Eval.pinAndRelease]] hygiene).
    * For consumers that need the vectors right after assignment
    * (SemDeDup's within-cell cosine pass): the slim form forced them
    * to re-scan + re-round the source and shuffle-join it back onto
    * the labels by id (round-13: two of dedup_semantic's exchanges and
    * its second source scan were exactly that).
    */
  def sphericalKMeansWithVecs(embs: DataFrame, vecCol: String, idCol: String,
                              k: Int = 8, iters: Int = 2): (DataFrame, DataFrame) = {
    val session = embs.sparkSession
    import session.implicits._

    // persisted: the init scan, every Lloyd iteration's assignment
    // aggregate, and the final projection all read this projected/
    // rounded relation — unpersisted without it each pass re-scans and
    // re-rounds the source (same rationale as Pca.fitPc's persist)
    // repartition before the per-row work (the Pca.fitPc rationale): a
    // small parquet arrives as ONE input split, which would run every
    // n·k·d assignment pass on a single core — the 100× audit caught
    // dedup_semantic's 1M-vector assignment serialized exactly this
    // way. The exact centroid sums are order-independent, so the
    // exchange cannot move any result.
    val e = embs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol), x => round(x.cast("double"), 6)).as("v"))
      .repartition(session.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // deterministic hash-strided init, labeled 0..k-1 in pick order
    val init: Seq[Seq[Double]] = e
      .select(col("vec_id"), col("v"),
        element_at(graft.functions.native.token_hashes(
          col("vec_id").cast("string")), 1).as("__h"))
      .orderBy(col("__h"), col("vec_id"))
      .limit(k)
      .select(col("v")).as[Seq[Double]].collect().toSeq
    require(init.nonEmpty, "k-means needs at least one vector")
    val dim = init.head.size

    var cents: Seq[(Int, Seq[Double])] = init.zipWithIndex.map(_.swap)
    // one fixed assign+aggregate job per Lloyd round over the cached
    // vectors — skip AQE's per-stage re-plan for the loop (Iter doc)
    Iter.noAqe(embs.sparkSession) { for (_ <- 0 until iters)
      cents = centroids(lloydSums(e, cents, dim).collect(), dim) }

    val fin = best(cents)(col("v"))
    val out = e.select(col("vec_id"),
      fin.getField("cell").cast("long").as("cell_id"),
      fin.getField("sim").as("cosine"), col("v"))
    (out, e)
  }
}
