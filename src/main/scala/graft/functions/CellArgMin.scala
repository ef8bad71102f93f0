package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Static helpers for the k-means assignment kernel (top-level object →
  * static forwarders callable from generated Java). */
object CellArgMinImpl {

  /** Spark's `round(x, 6)`: BigDecimal.valueOf (the shortest decimal that
    * round-trips, as Scala 2.13's `BigDecimal(d)` reads it too; the exact
    * binary value, `BigDecimal.exact`, can round differently on ties),
    * HALF_UP. Non-finite passes through unchanged, exactly like Spark's
    * Round (BigDecimal.valueOf THROWS on NaN/Inf — surfaced by the
    * KmeansKernelSpec non-finite case, ADVICE r10). */
  @inline def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Σ(a_i − b_i)² over b's indices, in index order — the exact fold of
    * aggregate(zip_with(a, b, (x,y) → (x−y)·(x−y)), 0.0, acc + t). */
  def sqdist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < b.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** The distance every k-means path ranks: squared L2 / `scale`, 6 dp. */
  def dist6(a: Array[Double], b: Array[Double], scale: Double): Double =
    round6(sqdist(a, b) / scale)

  /** The assignment rule of `cell_argmin` and the driver's Lloyd's loop:
    * the index of the FIRST minimum `dist6` (matrix order is the
    * tiebreak, the array_position contract) over the centroids of `vec`'s
    * dimension (a mismatched one was a null dists entry in the HOF form,
    * which array_min skipped), or −1 when no distance is finite. There
    * the HOF form returned (NaN, first cell); no cell is the intended
    * semantics, so bit identity is scoped to finite inputs
    * (KmeansKernelSpec pins both). */
  def nearest(vec: Array[Double], matrix: Array[Array[Double]], scale: Double): Int = {
    var best, bestRaw = Double.PositiveInfinity
    var bestIdx = -1
    var k = 0
    while (k < matrix.length) {
      if (vec.length == matrix(k).length) {
        // round6 is monotone, so a distance at or above the best one's
        // cannot round below it: only a smaller one pays the rounding
        val x = sqdist(vec, matrix(k)) / scale
        if (x < bestRaw) {
          val v = round6(x)
          if (v < best) { best = v; bestRaw = x; bestIdx = k } // strict: FIRST min wins
        }
      }
      k += 1
    }
    bestIdx
  }

  /** `nearest` as cell_argmin's (dist6, cell) row; null with no cell. */
  def assign(vec: ArrayData, matrix: Array[Array[Double]], cells: Array[Long],
             scale: Double): InternalRow = {
    val v = vec.toDoubleArray()
    val k = nearest(v, matrix, scale)
    if (k < 0) null else new GenericInternalRow(Array[Any](dist6(v, matrix(k), scale), cells(k)))
  }
}

/** cell_argmin(vec): one codegen'd pass replacing assignCells' HOF tree
  * (`transform(typedLit(matrix), cv → round(aggregate(zip_with(…)))…)` +
  * array_min + array_position) — that shape evaluates k·(2·dim)
  * interpreted lambda calls per row, which the adaptive nlist (n/250
  * cells) turned into the dominant trainer cost. Bit-identical by
  * construction: same index-order fold, Spark Round semantics, first-min
  * tiebreak in centroid-matrix order (KmeansKernelSpec + byte-equal
  * family dumps at both gate scales are the proof).
  */
case class CellArgMin(child: Expression, matrix: Array[Array[Double]],
                      cells: Array[Long], scale: Double)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("dist6", DoubleType, nullable = false),
    StructField("cell", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    CellArgMinImpl.assign(v.asInstanceOf[ArrayData], matrix, cells, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("matrix", matrix, "double[][]")
    val cRef = ctx.addReferenceObj("cells", cells, "long[]")
    // assign() returns null for a no-finite-min row (all-NaN / no
    // dim-matched centroid); the generated code must surface that as
    // SQL NULL — without the isNull assignment the interpreted path
    // returned NULL while codegen NPE'd downstream (r11 review)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CellArgMinImpl.assign($a, $mRef, $cRef, $scale); " +
        s"${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "cell_argmin"

  // the matrix is part of the expression identity (Array equality is
  // reference-based, which breaks plan canonicalization) — compare by value
  override def equals(o: Any): Boolean = o match {
    case CellArgMin(c, m, cs, s) =>
      c == child && s == scale && cs.sameElements(cells) &&
        m.length == matrix.length && m.indices.forall(i => m(i).sameElements(matrix(i)))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Double.valueOf(scale),
      Integer.valueOf(matrix.length), Integer.valueOf(cells.length))
}
