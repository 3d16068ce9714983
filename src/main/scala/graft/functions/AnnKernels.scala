package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native codegen kernels for the ANN quantizer family (PQ encode, ADC fold,
  * IVF nearest-cell). Same house pattern as [[VecOps]]: the expression emits
  * one static call inside whole-stage codegen; the HOF/join formulations they
  * replace paid interpreted per-element lambdas (encode, ADC) or a
  * broadcast-join + min_by aggregate SHUFFLE over the whole corpus
  * (nearest-cell/code assignment — the assignment is a pure per-row argmin,
  * so a shuffle moves bytes to compute something map-side computable; guide
  * §2.4 "remove shuffles outright").
  *
  * Distance/tiebreak semantics are EXACTLY the previous formulation's:
  * squared-L2 summed left-to-right over the sub-vector ([[VecOps.sqDist]]
  * order), argmin ties broken on the smaller code/cell id (min_by over
  * struct(distance, id)). Codebooks/centroids ride along as broadcast-style
  * reference objects in the generated code, so the plan stays O(1) in
  * nlist/ksub (nothing inlined into the expression tree).
  */
object AnnKernels {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** Nearest-codeword ids for all `m` subspaces of a (unit-normalized)
    * vector; null for rows narrower than dim or carrying null elements
    * (ragged rows cannot encode — previously they produced null distances
    * inside the min_by and never a usable code either).
    */
  def pqEncode(books: Array[Array[Array[Double]]])(v: ArrayData): ArrayData = {
    val m = books.length
    val subDim = books(0)(0).length
    if (v.numElements() < m * subDim) return null
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var i = 0
      while (i < subDim) { if (v.isNullAt(off + i)) return null; i += 1 }
      val book = books(s)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val x = v.getDouble(off + j) - cw(j)
          d += x * x
          j += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict < keeps the smaller code on ties
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC distance: Σ_s lut[s][codes[s]], left-to-right (the exact fold order
    * of the previous `aggregate(zip_with(...))` formulation).
    */
  def adc(codes: ArrayData, lut: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    if (lut.numElements() < m) return null
    var sum = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s) || lut.isNullAt(s)) return null
      val row = lut.getArray(s)
      val c = codes.getInt(s)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      sum += row.getDouble(c)
      s += 1
    }
    sum
  }

  /** Index of the nearest centroid (squared L2, tie → smaller cell id);
    * null for ragged/null-element rows.
    */
  def nearestCell(cents: Array[Array[Double]])(v: ArrayData): java.lang.Integer = {
    val dim = cents(0).length
    if (v.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val cw = cents(c)
      var d = 0.0
      var j = 0
      while (j < dim) {
        val x = v.getDouble(j) - cw(j)
        d += x * x
        j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    Integer.valueOf(best)
  }

  /** All tables' sign-LSH bucket ids for one vector in one pass: for table
    * `t`, bit `p` = (v · planes(t)(p) >= 0), namespaced by `t << tableShift`.
    * Replaces a tables × planes tree of [[DotProduct]]/when/bitwiseOR
    * expressions (48+ kernel calls and a janino-heavy generated class) with
    * one call per row. EXACT parity with that tree: each dot sums
    * left-to-right in [[VecOps.dot]] order, `>= 0` decides the bit, and a
    * ragged row or null element — where every `vecDot` is NULL and
    * `when(null >= 0, bit)` falls through to 0 — yields the bare table
    * namespace for every table.
    */
  def signBuckets(planes: Array[Array[Array[Double]]], tableShift: Int)(
      v: ArrayData): ArrayData = {
    val tables = planes.length
    val dim = planes(0)(0).length
    var degenerate = v.numElements() != dim
    if (!degenerate) {
      var i = 0
      while (i < dim && !degenerate) { if (v.isNullAt(i)) degenerate = true; i += 1 }
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = t.toLong << tableShift
      if (!degenerate) {
        val hp = planes(t)
        var p = 0
        while (p < hp.length) {
          val cw = hp(p)
          var s = 0.0d
          var j = 0
          while (j < dim) { s += v.getDouble(j) * cw(j); j += 1 }
          // Spark's NaN-safe `>=` (the replaced expression tree) orders NaN
          // above every number, so a NaN dot product sets the bit too
          if (s >= 0 || java.lang.Double.isNaN(s)) bucket |= (1L << p)
          p += 1
        }
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  def pqEncodeCol(v: Column, books: Array[Array[Array[Double]]]): Column =
    column(PqEncodeExpr(expression(v), books))
  def adcCol(codes: Column, lut: Column): Column =
    column(PqAdcExpr(expression(codes), expression(lut)))
  def nearestCellCol(v: Column, cents: Array[Array[Double]]): Column =
    column(NearestCellExpr(expression(v), cents))
  def signBucketsCol(v: Column, planes: Array[Array[Array[Double]]],
                     tableShift: Int): Column =
    column(SignBucketsExpr(expression(v), planes, tableShift))
}

case class PqEncodeExpr(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<double>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    AnnKernels.pqEncode(books)(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("codes")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.AnnKernels.pqEncode($booksRef, $v);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
}

case class PqAdcExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<int>, array<array<double>>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(codes: Any, lut: Any): Any =
    AnnKernels.adc(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val tmp = ctx.freshName("adcOut")
      s"""
         |java.lang.Double $tmp = graft.functions.AnnKernels.adc($codes, $lut);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcExpr =
    copy(left = l, right = r)
}

case class SignBucketsExpr(child: Expression, planes: Array[Array[Array[Double]]],
                           tableShift: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.LongType
  override def prettyName: String = "sign_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<double>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    AnnKernels.signBuckets(planes, tableShift)(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.AnnKernels.signBuckets($planesRef, $tableShift, $v);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): SignBucketsExpr =
    copy(child = c)
}

case class NearestCellExpr(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def prettyName: String = "nearest_cell"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<double>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    AnnKernels.nearestCell(cents)(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("cell")
      s"""
         |java.lang.Integer $tmp =
         |  graft.functions.AnnKernels.nearestCell($centsRef, $v);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.intValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): NearestCellExpr =
    copy(child = c)
}
