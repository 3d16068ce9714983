package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native vector kernels for the similarity/ANN family, as codegen'd Catalyst
  * expressions. The HOF formulation — `aggregate(zip_with(a, b, _*_), 0.0,
  * _+_)` — allocates an intermediate array per row pair and runs interpreted
  * lambda calls per element; these emit one static call inside whole-stage
  * codegen. Semantics are EXACTLY the HOF fold's, including float summation
  * ORDER (left-to-right, so results are bit-identical to the previous
  * formulation): mismatched lengths or a null element yield NULL (zip_with
  * null-padding / null-propagating arithmetic), empty arrays yield 0.0 (the
  * fold's init).
  */
private[graft] trait VecBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null elements / ragged pairs

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<double>, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  /** Fully-qualified static compute method returning java.lang.Double. */
  protected def computeRef: String

  protected def computeBoxed(a: ArrayData, b: ArrayData): java.lang.Double

  override def nullSafeEval(a: Any, b: Any): Any =
    computeBoxed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("vecOut")
      s"""
         |java.lang.Double $tmp = $computeRef($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
}

/** a · b. */
case class DotProduct(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_dot"
  override protected def computeRef: String = "graft.functions.VecOps.dot"
  override protected def computeBoxed(a: ArrayData, b: ArrayData): java.lang.Double =
    VecOps.dot(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Σ (a_i - b_i)² — squared L2, the k-means assignment metric. */
case class SquaredDistance(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_sqdist"
  override protected def computeRef: String = "graft.functions.VecOps.sqDist"
  override protected def computeBoxed(a: ArrayData, b: ArrayData): java.lang.Double =
    VecOps.sqDist(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SquaredDistance =
    copy(left = l, right = r)
}

/** v / ‖v‖₂ with the norm computed ONCE per row. The values are exactly
  * those of `transform(v, x -> x / sqrt(vec_dot(v, v)))`, whose lambda
  * evaluates the norm again for every element: a null element makes the
  * norm, and so every element, null; a zero norm divides each element by
  * zero, which is null, or the DIVIDE_BY_ZERO error when `failOnError`
  * (ANSI mode, fixed when the column is built, as Spark's `/` fixes it).
  */
case class VecNormalize(child: Expression, failOnError: Boolean) extends UnaryExpression {
  override def prettyName: String = "vec_normalize"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<double>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    VecOps.normalize(v.asInstanceOf[ArrayData], failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VecOps.normalize($v, $failOnError)")

  override protected def withNewChildInternal(c: Expression): VecNormalize =
    copy(child = c)
}

object VecOps {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  def sqDist(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  def normalize(v: ArrayData, failOnError: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    val dot = this.dot(v, v)
    if (dot != null) {
      val norm = math.sqrt(dot)
      if (norm == 0.0 && n > 0 && failOnError)
        throw org.apache.spark.sql.graftbridge.ColumnBridge.divideByZero()
      if (norm != 0.0) {
        var i = 0
        while (i < n) { out(i) = v.getDouble(i) / norm; i += 1 }
      }
    }
    new GenericArrayData(out)
  }

  /** Column API. */
  def vecDot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def vecSqDist(a: Column, b: Column): Column = column(SquaredDistance(expression(a), expression(b)))
  def vecNormalize(v: Column): Column = column(VecNormalize(expression(v),
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))
}
