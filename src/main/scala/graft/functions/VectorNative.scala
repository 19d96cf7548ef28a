package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native one-pass kernels for the embedding hot path.
  *
  * The composable `functions._` forms (cosine via `zip_with` +
  * `aggregate`, hyperplane signatures via one fold per bit, PQ encode
  * via m×subK `least`-of-struct fold trees) are built from higher-order
  * functions, which are CodegenFallback in Spark: every lambda step is
  * an interpreted `Expression.eval`, and their presence knocks the whole
  * projection out of whole-stage codegen. These kernels do the same
  * arithmetic in one JVM loop per row and emit a single static call from
  * `doGenCode`, so a 100 TB embedding scan stays codegen'd end to end.
  *
  * ORACLE PARITY: each kernel reproduces the exact IEEE operation
  * sequence of the Column form it replaces — same element casts, same
  * sequential left-fold order starting at 0.0, same HALF_UP 6-dp
  * rounding (PQ), same strict-less argmin tie-break (lowest index wins)
  * — so swapping them in changes no query result. Inputs are assumed
  * uniform-length vectors (the embedding tables); a length-mismatched or
  * null-element row returns null rather than a partial value.
  */
object VectorKernels {

  private def elemAsDouble(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  private def anyNull(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Cosine similarity with the exact fold order of
    * [[VectorFunctions.cosineSimilarity]]: dot and both norms are
    * sequential left folds from 0.0; all-zero denominator → 0.0.
    * Returns null (boxed) on length mismatch or null elements — the
    * fold forms propagate null there.
    */
  def cosineSim(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n || anyNull(a) || anyNull(b)) return null
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      val x = elemAsDouble(a, i, aFloat)
      val y = elemAsDouble(b, i, bFloat)
      dot += x * y
      sa += x * x
      sb += y * y
      i += 1
    }
    val denom = math.sqrt(sa) * math.sqrt(sb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Σ aᵢ·bᵢ with [[VectorFunctions.dotProduct]]'s fold order. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n || anyNull(a) || anyNull(b)) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elemAsDouble(a, i, aFloat) * elemAsDouble(b, i, bFloat)
      i += 1
    }
    acc
  }

  // per-(seed,bits,dim) ±1 hyperplane matrices, computed once per JVM
  private val hyperplanes =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  private def comps(seed: Long, bits: Int, dim: Int): Array[Array[Double]] =
    hyperplanes.computeIfAbsent((seed, bits, dim), { key =>
      val (s, nb, nd) = key
      Array.tabulate(nb) { b =>
        Array.tabulate(nd) { j =>
          var z = s + b.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z = z ^ (z >>> 31)
          if ((z & 1L) == 0L) 1.0 else -1.0
        }
      }
    })

  /** Hyperplane LSH bucket, exactly [[VectorFunctions.hyperplaneBucket]]:
    * bit b set iff the sequential ±1 dot is >= 0. A vector of the wrong
    * length folds every bit's dot to null in the Column form, which
    * `when(dot >= 0, …).otherwise(0)` turns into bucket 0 — mirrored
    * here.
    */
  def hyperplaneBucket(v: ArrayData, dim: Int, bits: Int, seed: Long, vFloat: Boolean): Int = {
    if (v.numElements() != dim || anyNull(v)) return 0
    val m = comps(seed, bits, dim)
    var bucket = 0L
    var b = 0
    while (b < bits) {
      val row = m(b)
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += elemAsDouble(v, j, vFloat) * row(j); j += 1 }
      if (acc >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket.toInt
  }

  /** PQ encode: code j = argmin over sub-centroids t of the 6-dp-rounded
    * sequential L2² between subvector j and centroid (j, t), ties to the
    * lowest t — exactly the `least(struct(round(l2sq…), t)…)` trees in
    * [[graft.operators.Similarity.pqTopK]]. `cents(j)(t)` is the
    * flattened sub-centroid; the input must have dim = m × sub elements
    * (enforced by the caller's model fit), else null.
    */
  def pqEncode(v: ArrayData, cents: Array[Array[Array[Double]]], vFloat: Boolean): ArrayData = {
    val m = cents.length
    val sub = cents(0)(0).length
    if (v.numElements() != m * sub || anyNull(v)) return null
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cj = cents(j)
      var bestD = Double.PositiveInfinity
      var bestT = 0
      var t = 0
      while (t < cj.length) {
        val c = cj(t)
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val d = elemAsDouble(v, j * sub + i, vFloat) - c(i)
          acc += d * d
          i += 1
        }
        val dr = round6(acc)
        if (dr < bestD) { bestD = dr; bestT = t }
        t += 1
      }
      codes(j) = bestT
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"expected array<float|double>, got $other")
  }

  /** Analysis-time gate for the kernels: fail with a clean
    * AnalysisException on anything but array<float|double> instead of
    * a runtime IllegalArgumentException mid-job (the fold forms these
    * kernels replaced accepted any numeric array via an element cast —
    * the narrowing must at least surface at plan time).
    */
  def checkVectorInput(e: Expression, side: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$side must be array<float> or array<double>, got ${other.catalogString}" +
          " (cast the column first)")
  }

  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** (round-6 cosine, cell) argmax of `v` against the centroid set —
    * the k-means assignment kernel. Replicates [[cosineSim]]'s exact
    * IEEE sequence per centroid (same element casts, same dot/sa/sb
    * single-loop accumulation, same denom, 0.0 on zero norm) followed
    * by [[round6]], then a strict (sim desc, cell asc) compare — so it
    * computes bit-for-bit what the per-centroid Column form computed,
    * in ONE tight JVM loop: expression size O(1) in k where the old
    * k-arm `greatest(struct…)` collapsed Catalyst analysis beyond
    * k ≈ 10³, and fully codegen'd where the HOF fold form was
    * interpreted per row × centroid. Null-sim candidates (length
    * mismatch / null element) are skipped; if every candidate skips,
    * the (−∞, Int.MaxValue) floor survives — the HOF fold's exact
    * degenerate contract.
    */
  def cosineArgmax(v: ArrayData, cells: Array[Int],
                   cents: Array[Array[Double]], vFloat: Boolean)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var bestSim = Double.NegativeInfinity
    var bestCell = Int.MaxValue
    if (!anyNull(v)) {
      var t = 0
      while (t < cents.length) {
        val c = cents(t)
        if (c.length == n) {
          var dot = 0.0
          var sa = 0.0
          var sb = 0.0
          var i = 0
          while (i < n) {
            val x = elemAsDouble(v, i, vFloat)
            val y = c(i)
            dot += x * y
            sa += x * x
            sb += y * y
            i += 1
          }
          val denom = math.sqrt(sa) * math.sqrt(sb)
          val sim = round6(if (denom == 0.0) 0.0 else dot / denom)
          if (sim > bestSim || (sim == bestSim && cells(t) < bestCell)) {
            bestSim = sim
            bestCell = cells(t)
          }
        }
        t += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestSim, bestCell))
  }
}

/** double cosine similarity of two numeric-array columns. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  // lazy: children are unresolved until analysis
  private lazy val lf = VectorKernels.isFloatArray(left)
  private lazy val rf = VectorKernels.isFloatArray(right)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = VectorKernels.checkVectorInput(left, "left")
    if (l.isFailure) l else VectorKernels.checkVectorInput(right, "right")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""java.lang.Double $tmp = graft.functions.VectorKernels.cosineSim($a, $b, $lf, $rf);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
         |""".stripMargin
    })
    code
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** double dot product of two numeric-array columns. */
case class DotProd(left: Expression, right: Expression) extends BinaryExpression {
  // lazy: children are unresolved until analysis
  private lazy val lf = VectorKernels.isFloatArray(left)
  private lazy val rf = VectorKernels.isFloatArray(right)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = VectorKernels.checkVectorInput(left, "left")
    if (l.isFailure) l else VectorKernels.checkVectorInput(right, "right")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dot")
      s"""java.lang.Double $tmp = graft.functions.VectorKernels.dot($a, $b, $lf, $rf);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProd =
    copy(left = l, right = r)
}

/** int hyperplane-LSH bucket of a numeric-array column. */
case class HyperplaneBucketExpr(child: Expression, dim: Int, bits: Int, seed: Long)
    extends UnaryExpression {
  require(bits <= 30, "bucket bits must fit an int")
  private lazy val vf = VectorKernels.isFloatArray(child)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorKernels.checkVectorInput(child, "input")
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.hyperplaneBucket(input.asInstanceOf[ArrayData], dim, bits, seed, vf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.hyperplaneBucket($c, $dim, $bits, ${seed}L, $vf)")
  override protected def withNewChildInternal(c: Expression): HyperplaneBucketExpr =
    copy(child = c)
}

/** array<int> PQ codes of a numeric-array column against fitted
  * sub-centroids (carried as a reference object into generated code).
  */
case class PqEncodeExpr(child: Expression, cents: Array[Array[Array[Double]]])
    extends UnaryExpression {
  private lazy val vf = VectorKernels.isFloatArray(child)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorKernels.checkVectorInput(child, "input")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.pqEncode(input.asInstanceOf[ArrayData], cents, vf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("codes")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.VectorKernels.pqEncode($c, $ref, $vf);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
         |""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): PqEncodeExpr = copy(child = c)
}

/** struct(sim double, cell int) k-means assignment of a numeric-array
  * column against fitted centroids (cells + vectors carried as
  * reference objects into generated code, like [[PqEncodeExpr]]).
  */
case class CosineArgmaxExpr(child: Expression, cells: Array[Int],
                            cents: Array[Array[Double]])
    extends UnaryExpression {
  require(cells.length == cents.length && cells.nonEmpty,
    "need one cell label per centroid and at least one centroid")
  private lazy val vf = VectorKernels.isFloatArray(child)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorKernels.checkVectorInput(child, "input")
  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("cell", IntegerType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.cosineArgmax(
      input.asInstanceOf[ArrayData], cells, cents, vf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("amCells", cells, "int[]")
    val centsRef = ctx.addReferenceObj("amCents", cents, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.cosineArgmax($c, $cellsRef, $centsRef, $vf)")
  }
  override protected def withNewChildInternal(c: Expression): CosineArgmaxExpr =
    copy(child = c)
}

/** Column-API wrappers. */
object vecnative {
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProd(Bridge.expression(a), Bridge.expression(b)))
  def hyperplane_bucket(v: Column, dim: Int, bits: Int, seed: Long): Column =
    Bridge.column(HyperplaneBucketExpr(Bridge.expression(v), dim, bits, seed))
  def pq_encode(v: Column, cents: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncodeExpr(Bridge.expression(v), cents))
  def cosine_argmax(v: Column, cells: Array[Int],
                    cents: Array[Array[Double]]): Column =
    Bridge.column(CosineArgmaxExpr(Bridge.expression(v), cells, cents))
}
