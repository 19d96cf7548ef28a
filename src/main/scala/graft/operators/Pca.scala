package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.vecnative

/** First principal direction of an embedding table by power iteration
  * — the dimensionality-reduction / whitening primitive (top PC scores
  * drive outlier pruning and cheap 1-d indexing of embedding spaces).
  *
  * The (deflated) vectors are cached once as [[Fit]] blocks, and each
  * iteration is ONE Spark job and no query plan ([[powerStep]]): with
  * the current direction vₜ broadcast, every row contributes x·(x·vₜ)
  * and the per-dimension sums are taken in EXACT fixed-point arithmetic
  * ([[ExactSum]]: 6-dp terms as scaled longs — order-independent, the
  * same discipline as [[KMeans]] centroid means), so the fitted
  * direction is bit-stable under any partitioning.
  * Only `dim` numbers per task ever reach the driver per iteration
  * (bounded model fit, like the IVF/PQ codebooks). The final output is a pure
  * projection: every vector's 6-dp-rounded score along the fitted
  * direction via the native codegen'd dot kernel.
  *
  * Determinism/oracle parity: input components and every derived
  * quantity are rounded to 6 dp before use (products before they are
  * summed, sums after, the normalized direction after its
  * divide), the start vector is the exact constant 1/√dim per
  * component, and norms use the same sequential fold as DuckDB's
  * `list_dot_product` — so the oracle replays the identical iteration.
  */
object Pca {

  // the shared 6-dp HALF_UP contract — one definition, not a copy
  private def round6(x: Double): Double = graft.functions.VectorKernels.round6(x)

  /** Componentwise Hotelling deflation: x ← x − (x·dir)·dir with the
    * shared 6-dp contract at every step (the projection, each product,
    * each difference) so Spark and the DuckDB oracle replay the same
    * arithmetic.
    *
    * The projection scalar x·dir must be computed ONCE per row — naively
    * referenced from the `zip_with` lambda it is re-evaluated per array
    * element (64 dot folds per row; measured 3× the whole query's
    * runtime), because higher-order lambdas are interpreted per element
    * and CollapseProject's fixpoint inlines any single-reference alias
    * into them, even through an intermediate projection. The barrier
    * that survives the optimizer: prepend the scalar to the vector
    * (`__vp = concat(array(p), v)`) — the consuming projection then
    * references `__vp` twice (slice + element_at), and CollapseProject
    * never inlines a multiply-referenced non-trivial alias, so the
    * concat column stays materialized and the lambda reads the scalar
    * with a constant-time element_at.
    */
  private def deflatedFrame(df: DataFrame, dir: Seq[Double],
                            vCol: String): DataFrame =
    df.withColumn("__vp", concat(
        array(round(vecnative.dot_product(col(vCol), typedlit(dir)), 6)), col(vCol)))
      .withColumn(vCol, zip_with(slice(col("__vp"), 2, dir.length), typedlit(dir),
        (x, dv) => round(x - round(element_at(col("__vp"), 1) * dv, 6), 6)))
      .drop("__vp")

  /** Σ x(o + i)·d(i) over `d`, in the native dot kernel's fold order. */
  private def dot(x: Array[Double], o: Int, d: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < d.length) { acc += x(o + i) * d(i); i += 1 }
    acc
  }

  /** One power iteration, as one [[Fit.step]]: per row the projection
    * d = round6(x·dir) (the dot kernel's sequential fold), then the exact
    * sums of round6(xᵢ·d) per component and the row count; the next
    * direction is the sums' 6-dp values over their norm, rounded to 6 dp.
    */
  private def powerStep(blocks: RDD[Array[Double]], dir: Seq[Double], dim: Int): Seq[Double] = {
    val s = Fit.step(blocks, dir.toArray) { (x, d) =>
      val s = new Array[Long](dim + 1) // the component sums, then the row count
      var o = 0
      while (o < x.length) {
        val p = round6(dot(x, o, d))
        var i = 0
        while (i < dim) { s(i) = ExactSum.add(s(i), ExactSum.productTerm(x(o + i), p)); i += 1 }
        s(dim) += 1
        o += dim
      }
      s
    }
    require(s(dim) > 0, "power iteration needs at least one non-null embedding row")
    val raw = (0 until dim).map(i => round6(ExactSum.toDouble(s(i))))
    val nrm = math.sqrt(raw.map(x => x * x).sum) // ascending-index fold
    require(nrm > 0, "power iteration collapsed to the zero vector")
    raw.map(x => round6(x / nrm))
  }

  /** The fitted unit direction after `iters` power iterations, over
    * vectors first deflated by the already-fitted `deflate` directions
    * (empty = first component).
    */
  def fitPc(embs: DataFrame, vecCol: String, idCol: String,
            dim: Int, iters: Int, deflate: Seq[Seq[Double]] = Nil): Seq[Double] = {
    val base = embs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(transform(col(vecCol), x => round(x.cast("double"), 6)).as("v"))
    // spread over the cores before the per-row deflation: a small
    // parquet arrives as one input split, which would run every
    // deflation product on a single core
    val e = deflate.foldLeft(base.repartition(embs.sparkSession.sparkContext.defaultParallelism))(
      (df, dir) => deflatedFrame(df, dir, "v"))
    // flat `dim`-component rows; one with a null element or of another
    // length, whose projection is null, is left out
    val blocks = Fit.blocks(e.queryExecution.toRdd, cutLineage = true) { it =>
      val flat = Array.newBuilder[Double]
      it.map(_.getArray(0)).filter(v => v.numElements() == dim && (0 until dim).forall(!v.isNullAt(_)))
        .foreach(v => flat ++= v.toDoubleArray())
      flat.result()
    }
    try {
      var v: Seq[Double] = Seq.fill(dim)(round6(1.0 / math.sqrt(dim.toDouble)))
      for (_ <- 1 to iters) v = powerStep(blocks, v, dim)
      v
    } finally blocks.unpersist(blocking = false)
  }

  /** (id, pc1): every vector's score along the fitted first principal
    * direction — [[pcaScores]] of one component.
    */
  def pc1Scores(embs: DataFrame, vecCol: String, idCol: String,
                dim: Int, iters: Int = 3): DataFrame =
    pcaScores(embs, vecCol, idCol, dim, iters, nComponents = 1)

  /** (id, pc1, …, pcK): scores along the first `nComponents` principal
    * directions, each further direction fit by power iteration over
    * vectors deflated by its predecessors. pcₖ is the score of the
    * (k−1)-times-deflated vector along direction k — identical to the
    * raw-vector score under exact orthogonality, and well-defined under
    * the 6-dp contract. Fitting state stays bounded (k × dim numbers on
    * the driver); the scoring pass is one codegen'd projection.
    */
  def pcaScores(embs: DataFrame, vecCol: String, idCol: String,
                dim: Int, iters: Int = 3, nComponents: Int = 2,
                preFit: Seq[Seq[Double]] = Nil): DataFrame = {
    // `preFit` carries directions the CALLER already fit with the
    // identical fitPc parameters (the session-memoized PC1 shared by
    // embed_pca and embed_pca2) — the remaining components are fit
    // exactly as before, deflated by their predecessors, so the result
    // is bit-identical to an all-local fit.
    var dirs = preFit.toVector
    require(dirs.length <= nComponents, "more pre-fit directions than components")
    for (_ <- dirs.length until nComponents)
      dirs :+= fitPc(embs, vecCol, idCol, dim, iters, dirs)
    var cur = embs.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol), x => round(x.cast("double"), 6)).as("__v"))
    dirs.zipWithIndex.foreach { case (dir, k) =>
      cur = cur.withColumn(s"pc${k + 1}",
        round(vecnative.dot_product(col("__v"), typedlit(dir)), 6))
      if (k + 1 < dirs.length) cur = deflatedFrame(cur, dir, "__v")
    }
    cur.select(col("vec_id") +: dirs.indices.map(k => col(s"pc${k + 1}")): _*)
  }
}
