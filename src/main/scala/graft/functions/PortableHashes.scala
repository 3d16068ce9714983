package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the sha256-hex "portable" hash folds — the hash space
  * an external SQL oracle (DuckDB) can replicate bit-for-bit. The Column-API
  * formulations run as interpreted HOF lambdas (sha2 → substring → min fold
  * per element, with per-row intermediate arrays); these compute the same
  * digest chains in one static call inside whole-stage codegen. Each kernel
  * is asserted EXACTLY equal to its HOF twin in MinhashParitySpec, and the
  * DuckDB oracle SQL is unchanged — only the Spark-side evaluation strategy
  * moves.
  */
private[graft] object Sha256 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex of sha256(utf8 bytes) — identical to Spark's sha2(s, 256). */
  def hex(s: UTF8String): String = {
    val d = md.get()
    d.reset()
    val out = d.digest(s.getBytes)
    val cs = new Array[Char](out.length * 2)
    var i = 0
    while (i < out.length) {
      cs(2 * i) = hexChars((out(i) >> 4) & 0xf)
      cs(2 * i + 1) = hexChars(out(i) & 0xf)
      i += 1
    }
    new String(cs)
  }
}

/** Portable minhash signature over a shingle array: h_i(s) = 8-hex window i
  * of sha256(s) ‖ sha256(s+"#") ‖ …; sig[i] = min over shingles (lexicographic
  * on hex = UTF8 order), init "g" (sorts above every hex char). Mirrors
  * DedupOps.minhashSignature exactly, including null-shingle
  * skipping (least() ignores nulls in the fold).
  */
case class MinhashSigPortable(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sig_portable"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashSigPortable.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinhashSigPortable.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigPortable =
    copy(child = newChild)
}

object MinhashSigPortable {
  def compute(shingles: ArrayData, numHashes: Int): ArrayData = {
    val nDigests = (numHashes + 7) / 8
    val mins = Array.fill[String](numHashes)("g")
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i)
        val sb = new java.lang.StringBuilder(nDigests * 64)
        var j = 0
        while (j < nDigests) {
          val in = if (j == 0) s else UTF8String.concat(s, UTF8String.fromString("#" * j))
          sb.append(Sha256.hex(in))
          j += 1
        }
        val combined = sb.toString
        var h = 0
        while (h < numHashes) {
          val w = combined.substring(h * 8, h * 8 + 8)
          if (w.compareTo(mins(h)) < 0) mins(h) = w
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  def column(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(MinhashSigPortable(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(shingles), numHashes))
}

/** Portable winnowing fingerprint over a token array: token hash = first 16
  * hex chars of sha256(token); window value = concat of k consecutive token
  * hashes; fingerprint = min over windows of the first 16 hex chars of
  * sha256(window). NULL for docs with fewer than k tokens — exactly
  * TextOps.fingerprintPortable's semantics (same digests, same hex, same
  * lexicographic min), which the plain-Scala oracle in MinhashParitySpec
  * pins for both paths.
  */
case class FingerprintPortable(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "fingerprint_portable"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    FingerprintPortable.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("fpOut")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $tmp =
         |  graft.functions.FingerprintPortable.compute($c, $k);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FingerprintPortable =
    copy(child = newChild)
}

object FingerprintPortable {
  def compute(tokens: ArrayData, k: Int): UTF8String = {
    val n = tokens.numElements()
    if (n < k) return null // no full window (zip_with-padding semantics)
    val hs = new Array[String](n)
    var i = 0
    while (i < n) {
      // a null token mirrors the HOF: sha2(null) = null poisons every window
      // it touches; the fold's min then sees nulls — match by returning null
      // (wordTokens never yields nulls; this is defensive parity)
      if (tokens.isNullAt(i)) return null
      hs(i) = Sha256.hex(tokens.getUTF8String(i)).substring(0, 16)
      i += 1
    }
    var min: String = null
    val sb = new java.lang.StringBuilder(16 * k)
    var w = 0
    while (w <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) { sb.append(hs(w + j)); j += 1 }
      val h = Sha256.hex(UTF8String.fromString(sb.toString)).substring(0, 16)
      if (min == null || h.compareTo(min) < 0) min = h
      w += 1
    }
    UTF8String.fromString(min)
  }

  def column(tokens: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(FingerprintPortable(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(tokens), k))
}

/** Portable simhash fingerprint bits over a token array: per token the first
  * 16 hex chars of sha256(token) contribute 4 MSB-first ±1 votes per nibble;
  * bit b = (vote sum > 0). Equal to the interpreted HOF vote fold
  * DedupOps.simhashPairsPortable replaced, including its null semantics (a
  * null token nulls the whole signature — zip_with against a null votes
  * array yields null).
  */
case class SimhashBitsPortable(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_bits_portable"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimhashBitsPortable.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("simBits")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.SimhashBitsPortable.compute($c);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashBitsPortable =
    copy(child = newChild)
}

/** Portable ngram-Jaccard sketch over a shingle array, one hashing pass:
  * per shingle the first 16 hex chars of sha256(shingle); `bottom` = the
  * `bottomK` lexicographically smallest DISTINCT hex values (the bottom-k
  * sketch bucket keys — identical to slicing the sorted distinct hex array),
  * `hl` = ALL distinct hash values as SIGNED longs (the 64-bit hex parsed
  * two's-complement), sorted ascending — the verify-set representation.
  * The hex → long map is a bijection of the 64-bit space, so set sizes,
  * intersections and unions are exactly those of the hex-string sets the
  * DuckDB oracle computes; only the element representation (and therefore
  * the per-element comparison cost) changes.
  */
case class NgramSketch(child: Expression, bottomK: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}
  override def dataType: DataType = StructType(Seq(
    StructField("bottom", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("hl", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "ngram_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    NgramSketch.compute(input.asInstanceOf[ArrayData], bottomK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("sketch")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $tmp =
         |  graft.functions.NgramSketch.compute($c, $bottomK);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NgramSketch =
    copy(child = newChild)
}

object NgramSketch {
  def compute(shingles: ArrayData, bottomK: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = shingles.numElements()
    val hex = new java.util.TreeSet[String]() // sorted + distinct in one pass
    var i = 0
    while (i < n) {
      if (shingles.isNullAt(i)) return null // defensive parity: sha2(null) poisons
      hex.add(Sha256.hex(shingles.getUTF8String(i)).substring(0, 16))
      i += 1
    }
    val sorted = hex.toArray(new Array[String](hex.size))
    val nb = math.min(bottomK, sorted.length)
    val bottom = new Array[Any](nb)
    var b = 0
    while (b < nb) { bottom(b) = UTF8String.fromString(sorted(b)); b += 1 }
    val longs = new Array[Long](sorted.length)
    var j = 0
    while (j < sorted.length) {
      longs(j) = java.lang.Long.parseUnsignedLong(sorted(j), 16)
      j += 1
    }
    java.util.Arrays.sort(longs) // signed order for the merge-walk intersect
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.update(0, new GenericArrayData(bottom))
    row.update(1, new GenericArrayData(longs))
    row
  }

  def column(shingles: Column, bottomK: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(NgramSketch(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(shingles), bottomK))
}

/** |A ∩ B| of two SORTED long arrays by merge walk — no per-row hash sets,
  * no intermediate arrays; exact set-intersection size (inputs are distinct
  * by construction in [[NgramSketch]]).
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.LongType
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_long_intersect_size"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<bigint>, array<bigint>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectSize.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedLongIntersectSize.compute($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedLongIntersectSize =
    copy(left = l, right = r)
}

object SortedLongIntersectSize {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def column(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(SortedLongIntersectSize(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))
}

object SimhashBitsPortable {
  def compute(tokens: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null // mirror the HOF null propagation
      val hex = Sha256.hex(tokens.getUTF8String(i))
      var c = 0
      while (c < 16) {
        val nib = Character.digit(hex.charAt(c), 16)
        var b = 3
        while (b >= 0) {
          val idx = c * 4 + (3 - b)
          if (((nib >> b) & 1) == 1) votes(idx) += 1 else votes(idx) -= 1
          b -= 1
        }
        c += 1
      }
      i += 1
    }
    new GenericArrayData(votes.map(v => (if (v > 0) 1 else 0): java.lang.Integer)
      .asInstanceOf[Array[Any]])
  }

  def column(tokens: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(SimhashBitsPortable(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(tokens)))
}
