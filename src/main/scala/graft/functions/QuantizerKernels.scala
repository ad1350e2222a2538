package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import graft.llm.Similarity.BoundedTopN

/** The IVF-PQ quantizer's three per-row kernels — nearest-centroid
  * assignment ([[CentroidTopN]]), PQ encode ([[PqEncode]]) and the
  * per-query ADC table ([[PqAdcTable]]).
  *
  * Each expression holds its matrix (centroids or codebooks) as ONE plan
  * object: `doGenCode` registers it with `ctx.addReferenceObj` and emits a
  * single call into a JVM loop, while the child expression stays inside
  * whole-stage codegen. Plan size and generated-code size are therefore
  * independent of nlist·dim and m·codebookSize. The literal form this
  * replaces emitted one `typedlit` dot product per centroid or code, which
  * Catalyst analysed, optimized and Janino compiled on every call, and
  * which broke Janino's 64 KB method limit past ~100 centroids.
  *
  * Results are bit-identical to that literal form on well-formed input:
  * the same accumulation order as [[CosineSimilarity]] / [[DotDouble]],
  * the same `‖c‖²/2` fold, and Spark's double ordering (NaN greatest,
  * −0.0 == 0.0) with ties to the lower id. Input rules:
  *  - a NULL vector gets no centroid (`CentroidTopN` is NULL, so an
  *    explode yields no row), no code and no table entries (NULL
  *    elements);
  *  - a vector whose dimension differs from the matrix's fails the task
  *    with both dimensions in the message — never a shorter-prefix score.
  */
private[functions] object QuantizerKernels {
  def checkDim(what: String, got: Int, want: Int): Unit =
    if (got != want) throw new IllegalArgumentException(
      s"$what: vector has dimension $got but the $what matrix has " +
        s"dimension $want")
}

/** Centroids for [[CentroidTopN]]: ids, vectors and their squared norms
  * (accumulated in [[CosineSimilarity]]'s order, so precomputing them
  * changes no bit of the score). */
final class CentroidMatrix(ids: Array[Int], vecs: Array[Array[Double]])
    extends Serializable {
  require(vecs.nonEmpty && ids.length == vecs.length,
    "CentroidMatrix: need one id per centroid and at least one centroid")
  private val dim: Int = vecs(0).length
  require(vecs.forall(_.length == dim), "CentroidMatrix: ragged centroids")

  private val normSq: Array[Double] = vecs.map { c =>
    var s = 0.0; var i = 0
    while (i < dim) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Ids of the `n` most cosine-similar centroids, best first. */
  def topN(v: ArrayData, floatElems: Boolean, n: Int): ArrayData = {
    QuantizerKernels.checkDim("centroid", v.numElements(), dim)
    val x = new Array[Double](dim)
    var nx = 0.0
    var i = 0
    while (i < dim) {
      val xv = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
      x(i) = xv; nx += xv * xv; i += 1
    }
    val heap = new BoundedTopN(math.min(n, vecs.length))
    var j = 0
    while (j < vecs.length) {
      val c = vecs(j)
      var dot = 0.0
      i = 0
      while (i < dim) { dot += x(i) * c(i); i += 1 }
      val ny = normSq(j)
      heap.offer(
        if (nx == 0.0 || ny == 0.0) 0.0
        else dot / (math.sqrt(nx) * math.sqrt(ny)), ids(j))
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(heap.drainIds())
  }

  override def toString: String = s"centroids[${vecs.length}x$dim]"
}

/** Residual PQ codebooks `cb(subspace)(code) = centroid` for [[PqEncode]]
  * and [[PqAdcTable]], with `‖c‖²/2` folded once per code. */
final class PqCodebooks(cb: Array[Array[Array[Double]]]) extends Serializable {
  require(cb.nonEmpty && cb(0).nonEmpty, "PqCodebooks: empty codebooks")
  private val m: Int = cb.length
  private val codebookSize: Int = cb(0).length
  private val subdim: Int = cb(0)(0).length

  private val halfNormSq: Array[Array[Double]] =
    cb.map(_.map(c => c.map(x => x * x).sum / 2.0))

  // DotDouble's loop over the subspace slice starting at `off`
  private def dot(v: ArrayData, off: Int, c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < subdim) { s += v.getDouble(off + i) * c(i); i += 1 }
    s
  }

  /** Per subspace the code maximizing `x·c − ‖c‖²/2` (= the nearest code
    * by L2), ties to the lower code; a NULL vector yields `m` NULL codes. */
  def encode(v: ArrayData): ArrayData = {
    if (v == null) return new GenericArrayData(new Array[Any](m))
    QuantizerKernels.checkDim("codebook", v.numElements(), m * subdim)
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val off = mi * subdim
      var best = 0
      var bestS = dot(v, off, cb(mi)(0)) - halfNormSq(mi)(0)
      var j = 1
      while (j < codebookSize) {
        val s = dot(v, off, cb(mi)(j)) - halfNormSq(mi)(j)
        if (SQLOrderingUtil.compareDoubles(s, bestS) > 0) { best = j; bestS = s }
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** `table(subspace)(code) = x_sub · c`; a NULL vector yields NULL
    * entries. */
  def adcTable(v: ArrayData): ArrayData = {
    val rows = new Array[Any](m)
    if (v == null) {
      var mi = 0
      while (mi < m) {
        rows(mi) = new GenericArrayData(new Array[Any](codebookSize)); mi += 1
      }
    } else {
      QuantizerKernels.checkDim("codebook", v.numElements(), m * subdim)
      var mi = 0
      while (mi < m) {
        val t = new Array[Double](codebookSize)
        var j = 0
        while (j < codebookSize) { t(j) = dot(v, mi * subdim, cb(mi)(j)); j += 1 }
        rows(mi) = UnsafeArrayData.fromPrimitiveArray(t)
        mi += 1
      }
    }
    new GenericArrayData(rows)
  }

  override def toString: String = s"codebooks[${m}x${codebookSize}x$subdim]"
}

/** Ids of the `n` nearest centroids of an `array<float|double>` vector,
  * in (cosine desc, id asc) order; NULL for a NULL vector. */
case class CentroidTopN(child: Expression, centroids: CentroidMatrix, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"CentroidTopN: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"centroid_top_n expects array<float|double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def floatElems: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(v: Any): Any =
    centroids.topN(v.asInstanceOf[ArrayData], floatElems, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.topN($v, $floatElems, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CentroidTopN {
  def apply(vec: Column, centroids: Seq[(Int, Seq[Double])], n: Int): Column =
    GraftColumnBridge.column(CentroidTopN(GraftColumnBridge.expression(vec),
      new CentroidMatrix(centroids.map(_._1).toArray,
        centroids.map(_._2.toArray).toArray), n))
}

/** Shared shape of [[PqEncode]] and [[PqAdcTable]]: never NULL (a NULL
  * vector maps to NULL elements, the literal form's schema), one call into
  * the codebooks object per row. */
sealed abstract class PqKernel extends UnaryExpression {
  def codebooks: PqCodebooks
  protected def kernel(v: ArrayData): ArrayData
  protected def method: String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${t.simpleString}")
  }

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $cb.$method(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }
}

/** PQ codes (`array<int>` of length m) of an `array<double>` vector. */
case class PqEncode(child: Expression, codebooks: PqCodebooks) extends PqKernel {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override protected def kernel(v: ArrayData): ArrayData = codebooks.encode(v)
  override protected def method: String = "encode"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  def apply(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftColumnBridge.column(PqEncode(
      GraftColumnBridge.expression(vec), new PqCodebooks(cb)))
}

/** Per-query ADC lookup table (`array<array<double>>`, m × codebookSize
  * dot products) of an `array<double>` vector. */
case class PqAdcTable(child: Expression, codebooks: PqCodebooks) extends PqKernel {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override protected def kernel(v: ArrayData): ArrayData = codebooks.adcTable(v)
  override protected def method: String = "adcTable"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAdcTable {
  def apply(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftColumnBridge.column(PqAdcTable(
      GraftColumnBridge.expression(vec), new PqCodebooks(cb)))
}
