package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types._

/** The IVF/k-means quantizer as ONE plan object — SURVEY.md §4.3 / the
  * r13 perf diagnosis: the former formulation embedded k centroid ARRAY
  * LITERALS per consultation (a struct of three [[FloatVecDot]]s per
  * cell), so every Lloyd's round, placement and probe wave carried a
  * k×dims-literal expression tree: Catalyst re-analyzed it per action
  * and — because each round's literals differ — whole-stage codegen
  * recompiled a fresh class per action. Here the matrix is a single
  * reference object: the generated source is IDENTICAL across rounds,
  * waves and queries (the codegen cache hits instead of invoking
  * janino), analysis cost is one node, and the kernel is plain JIT'd
  * Scala.
  *
  * Numerics contract (bit-identical to the Column formulation it
  * replaces, which the DuckDB oracles replay): per cell,
  * `d2 = round(dot(v,v) - 2.0*dot(v,c) + dot(c,c), 6)` with
  * [[FloatVecDot]] fold semantics (left-to-right, each element widened
  * to double, min-length guard), `dot(c,c)` precomputed once exactly as
  * constant folding did, `round` = Spark's double rounding
  * (BigDecimal.valueOf → HALF_UP → toDouble, NaN/Inf pass through), and
  * ties broken toward the LOWEST cell under Double.compare ordering —
  * the same argmin `array_min` took over lexicographic (d2, cell)
  * structs.
  */
final class CentroidMatrix(val cells: Array[Long],
    val vecs: Array[Array[Double]]) extends Serializable {

  // content-based equality (see PqCodebooks): expressions built from
  // equal centroid sets compare semanticEquals across re-localizations
  override def equals(o: Any): Boolean = o match {
    case m: CentroidMatrix =>
      java.util.Arrays.equals(cells, m.cells) && java.util.Arrays.deepEquals(
        vecs.asInstanceOf[Array[AnyRef]], m.vecs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode: Int =
    31 * java.util.Arrays.hashCode(cells) +
      java.util.Arrays.deepHashCode(vecs.asInstanceOf[Array[AnyRef]])

  /** dot(c,c) per cell, left-to-right — what constant folding produced. */
  private val cc: Array[Double] = vecs.map { c =>
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  }

  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dotVC(v: ArrayData, isFloat: Boolean, c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var acc = 0.0; var i = 0
    if (isFloat) while (i < n) { acc += v.getFloat(i).toDouble * c(i); i += 1 }
    else while (i < n) { acc += v.getDouble(i) * c(i); i += 1 }
    acc
  }

  private def dotVV(v: ArrayData, isFloat: Boolean): Double = {
    val n = v.numElements()
    var acc = 0.0; var i = 0
    if (isFloat)
      while (i < n) { acc += v.getFloat(i).toDouble * v.getFloat(i).toDouble; i += 1 }
    else while (i < n) { acc += v.getDouble(i) * v.getDouble(i); i += 1 }
    acc
  }

  /** Argmin cell (tie → lowest cell id). */
  def nearest(v: ArrayData, isFloat: Boolean): Long = {
    val dvv = dotVV(v, isFloat)
    var best = Double.NaN // NaN sorts greatest (Spark double order)
    var bestCell = Long.MaxValue
    var k = 0
    while (k < vecs.length) {
      val d2 = round6(dvv - 2.0 * dotVC(v, isFloat, vecs(k)) + cc(k))
      val cmp = java.lang.Double.compare(d2, best)
      if (k == 0 || cmp < 0 || (cmp == 0 && cells(k) < bestCell)) {
        best = d2; bestCell = cells(k)
      }
      k += 1
    }
    bestCell
  }

  /** The `nprobe` nearest cells ascending (d2, cell) — the multi-probe
    * ranking `array_sort` + `slice` took.
    */
  def ranked(v: ArrayData, isFloat: Boolean, nprobe: Int): ArrayData = {
    val dvv = dotVV(v, isFloat)
    val d2 = new Array[Double](vecs.length)
    val idx = new Array[Integer](vecs.length)
    var k = 0
    while (k < vecs.length) {
      d2(k) = round6(dvv - 2.0 * dotVC(v, isFloat, vecs(k)) + cc(k))
      idx(k) = Integer.valueOf(k)
      k += 1
    }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c = java.lang.Double.compare(d2(a), d2(b))
      if (c != 0) c else java.lang.Long.compare(cells(a), cells(b))
    })
    val n = math.min(nprobe, vecs.length)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = cells(idx(i)); i += 1 }
    new GenericArrayData(out.map(_.asInstanceOf[Any]))
  }
}

private[functions] trait CellExprInput { self: UnaryExpression =>
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_cell needs an array<float|double> input, got $other")
    }
  protected def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** Nearest centroid of the literal quantizer (tie → lowest cell). */
case class NearestCell(child: Expression, matrix: CentroidMatrix)
  extends UnaryExpression with CellExprInput {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    matrix.nearest(v.asInstanceOf[ArrayData], elemIsFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centMatrix", matrix,
      classOf[CentroidMatrix].getName)
    val f = if (elemIsFloat) "true" else "false"
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $m.nearest($v, $f);")
  }

  override protected def withNewChildInternal(c: Expression): NearestCell =
    copy(child = c)
}

/** The `nprobe` nearest cells of the literal quantizer, ascending. */
case class RankedCells(child: Expression, matrix: CentroidMatrix, nprobe: Int)
  extends UnaryExpression with CellExprInput {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    matrix.ranked(v.asInstanceOf[ArrayData], elemIsFloat, nprobe)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centMatrix", matrix,
      classOf[CentroidMatrix].getName)
    val f = if (elemIsFloat) "true" else "false"
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $m.ranked($v, $f, $nprobe);")
  }

  override protected def withNewChildInternal(c: Expression): RankedCells =
    copy(child = c)
}

object NearestCell {
  /** The matrix of `cent` in cell-id order, whatever order the centroids
    * were read back in: equal centroid sets give equal matrices (and equal
    * plan captures). `nearest` and `ranked` break ties by cell id, so the
    * order never changes an answer.
    */
  def matrixOf(cent: Seq[(Long, Seq[Double])]): CentroidMatrix = {
    val sorted = cent.sortBy(_._1)
    new CentroidMatrix(sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray)
  }

  def nearest(vec: Column, cent: Seq[(Long, Seq[Double])]): Column =
    GraftExpressionBridge.column(NearestCell(
      GraftExpressionBridge.expression(vec), matrixOf(cent)))

  def ranked(vec: Column, cent: Seq[(Long, Seq[Double])], nprobe: Int): Column =
    GraftExpressionBridge.column(RankedCells(
      GraftExpressionBridge.expression(vec), matrixOf(cent), nprobe))
}
