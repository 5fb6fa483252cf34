package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EvalMode, Expression, Literal, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

/** IVF cell assignment (s3, s12, s15, st41):
  * `graft_ivf_cells(v, nrm, pivots, n)` → array<bigint>, the ids of the
  * `n` nearest pivots, best first.
  *
  * `pivots` is a constant array<struct<pivot_id: bigint, pv:
  * array<double>, pnrm: double>> (the driver-collected pivot set), `n` a
  * constant int ≥ 1. Both are read once per expression copy, not per row.
  *
  * The order is exactly the relational form's,
  * `array_sort(transform(pivots, p => struct(decRound(graft_dot(v, p.pv)
  * * -1.0 / (nrm * p.pnrm), 6), p.pivot_id)))` (kept as
  * `Similarity.ivfCellsAlgebra`, pinned by IvfCellsParitySpec): each
  * score is computed with the same operations —
  *  - `graft_dot`'s left-to-right sum over the shorter length, then
  *    `* -1.0`, then `/ (nrm * pnrm)`;
  *  - a zero denominator is Spark's `Divide`: null, or DIVIDE_BY_ZERO
  *    under ANSI (a null numerator stays null);
  *  - the `Decimal(38, 6)` Cast rounds HALF_UP from the double's
  *    `Double.toString` form; NaN and infinities cast to null, an
  *    overflow is null or NUMERIC_VALUE_OUT_OF_RANGE under ANSI;
  * then ordered by score with nulls first, ties to the smaller
  * `pivot_id`. A null `v` or `nrm` scores every pivot null, so the
  * smallest ids win, as in the relational form.
  *
  * The rounding has a fast path: for |q| ≤ 16 whose scaled value q·10⁶
  * lies more than 10⁻⁶ from a half-integer, rounding the binary value
  * and rounding its decimal rendering must agree (the two differ by
  * under 10⁻⁸ in those units), and `round(q·10⁶) / 10⁶` is the correctly
  * rounded double that `Decimal.toDouble` also returns. Every other
  * value takes the exact Decimal path, the same calls Spark's Cast makes;
  * the errors are raised by evaluating Spark's own `Divide` and `Cast`,
  * so they carry Spark's error classes. */
object IvfCells {
  /** The parsed constant pivot set. */
  final class Pivots(val ids: Array[Long], val pvs: Array[Array[Double]],
                     val pnrms: Array[Double], val pnrmNull: Array[Boolean])

  def parse(arr: ArrayData): Pivots = {
    val k = arr.numElements()
    val ids = new Array[Long](k)
    val pvs = new Array[Array[Double]](k)
    val pnrms = new Array[Double](k)
    val pnrmNull = new Array[Boolean](k)
    var i = 0
    while (i < k) {
      require(!arr.isNullAt(i), "graft_ivf_cells: null pivot struct")
      val p = arr.getStruct(i, 3)
      ids(i) = p.getLong(0)
      if (!p.isNullAt(1)) {
        val pv = p.getArray(1)
        // getDouble, as graft_dot reads its elements
        pvs(i) = Array.tabulate(pv.numElements())(pv.getDouble)
      }
      pnrmNull(i) = p.isNullAt(2)
      if (!pnrmNull(i)) pnrms(i) = p.getDouble(2)
      i += 1
    }
    new Pivots(ids, pvs, pnrms, pnrmNull)
  }

  private val FastBound = 16.0
  private val HalfMargin = 1e-6

  /** `cast(cast(q as decimal(38, 6)) as double)`; NaN marks a null. */
  def round6(q: Double, failOnError: Boolean): Double = {
    if (Math.abs(q) <= FastBound) {
      val t = q * 1e6
      if (Math.abs(t - Math.floor(t) - 0.5) > HalfMargin)
        return Math.rint(t).toLong / 1e6
    }
    round6Exact(q, failOnError)
  }

  /** The Cast's own path: Decimal from the double's decimal rendering,
    * HALF_UP to scale 6, back to double. */
  def round6Exact(q: Double, failOnError: Boolean): Double = {
    val d =
      try Decimal(scala.math.BigDecimal(q))
      catch { case _: NumberFormatException => return Double.NaN }
    if (d.changePrecision(38, 6)) d.toDouble
    else if (failOnError) {
      Cast(Literal(q), DecimalType(38, 6), None, EvalMode.ANSI).eval()
      throw new IllegalStateException(s"graft_ivf_cells: $q overflowed decimal(38, 6)")
    } else Double.NaN
  }

  /** Ids of the `n` best pivots for one row (`v` null when the row's
    * vector is null). */
  def cells(v: ArrayData, nrmNull: Boolean, nrm: Double, p: Pivots, n: Int,
            failOnError: Boolean): ArrayData = {
    val k = p.ids.length
    val m = math.min(n, k)
    val x: Array[Double] =
      if (v == null) null else Array.tabulate(v.numElements())(v.getDouble)
    // the m best (score, id) so far, ascending; NaN is a null score,
    // and a null score sorts first
    val bs = new Array[Double](m)
    val bid = new Array[Long](m)
    var filled = 0
    var i = 0
    while (i < k) {
      val pv = p.pvs(i)
      val s =
        if (nrmNull || p.pnrmNull(i)) Double.NaN
        else {
          val den = nrm * p.pnrms(i)
          if (x == null || pv == null) Double.NaN
          else if (den == 0.0) {
            if (failOnError) {
              Divide(Literal(0.0), Literal(den), EvalMode.ANSI).eval()
              throw new IllegalStateException("graft_ivf_cells: division by zero")
            }
            Double.NaN
          } else {
            val len = math.min(x.length, pv.length)
            var dot = 0.0
            var j = 0
            while (j < len) { dot += x(j) * pv(j); j += 1 }
            round6(dot * -1.0 / den, failOnError)
          }
        }
      val id = p.ids(i)
      // insertion point: the first slot the new entry sorts before
      var pos = filled
      while (pos > 0 && before(s, id, bs(pos - 1), bid(pos - 1))) pos -= 1
      if (pos < m) {
        var t = math.min(filled, m - 1)
        while (t > pos) { bs(t) = bs(t - 1); bid(t) = bid(t - 1); t -= 1 }
        bs(pos) = s; bid(pos) = id
        if (filled < m) filled += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bid)
  }

  /** (s, id) sorts before (t, tid): null (NaN) scores first, then
    * ascending score, then ascending id. */
  private def before(s: Double, id: Long, t: Double, tid: Long): Boolean = {
    val sn = s.isNaN
    val tn = t.isNaN
    if (sn != tn) sn
    else if (!sn && s != t) s < t
    else id < tid
  }
}

/** `graft_ivf_cells(v, nrm, pivots, n)`. See [[IvfCells]]. `failOnError`
  * is the session's ANSI setting when the call is analyzed, as Spark's
  * own `Divide` and `Cast` capture it. */
case class IvfCellsExpr(first: Expression, second: Expression, third: Expression,
                        fourth: Expression,
                        failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(StructType(Array(StructField(_, LongType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _),
              StructField(_, DoubleType, _, _))), _), IntegerType) =>
        if (!third.foldable || !fourth.foldable)
          TypeCheckResult.TypeCheckFailure(s"$prettyName: pivots and n must be constants")
        else if (third.eval() == null || fourth.eval() == null ||
                 fourth.eval().asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(s"$prettyName: pivots must be non-null and n >= 1")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, double, array<struct<pivot_id: bigint, " +
          s"pv: array<double>, pnrm: double>>, int), got ($a, $b, $c, $d)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ivf_cells"

  @transient private lazy val pivots = IvfCells.parse(third.eval().asInstanceOf[ArrayData])
  @transient private lazy val n = fourth.eval().asInstanceOf[Int]

  /** Codegen entry point (the expression rides the references array). */
  def compute(v: ArrayData, nrmNull: Boolean, nrm: Double): ArrayData =
    IvfCells.cells(v, nrmNull, nrm, pivots, n, failOnError)

  override def eval(input: InternalRow): Any = {
    val v = first.eval(input).asInstanceOf[ArrayData]
    val nrm = second.eval(input)
    compute(v, nrm == null, if (nrm == null) 0.0 else nrm.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ivfCells", this, classOf[IvfCellsExpr].getName)
    val v = first.genCode(ctx)
    val nrm = second.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      ${nrm.code}
      boolean ${ev.isNull} = false;
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $self.compute(${v.isNull} ? null : ${v.value}, ${nrm.isNull}, ${nrm.value});
    """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, u: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = u)
}
