package graft.lake

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.types._
import org.json4s._

/** One kind of column stat: the order its bounds compare in, the Catalyst
  * types whose values it bounds, how a predicate literal decodes to a value,
  * and how a value reads and writes in manifest JSON. Two kinds exist:
  * [[StatKind.utf8]] for strings and [[StatKind.int64]] for long / int /
  * timestamp-micros columns. Both are implicit here, so a `Bound[String]`
  * always compares under UTF-8 order, never under `String.compareTo`.
  */
private[graft] sealed abstract class StatKind[T](val ord: Ordering[T]) {
  def accepts(t: DataType): Boolean
  def literal(e: Expression): Option[T]
  def toJson(v: T): JValue
  def fromJson(j: JValue): Option[T]
}

private[graft] object StatKind {

  /** Unsigned UTF-8 byte order ([[LakeTable.utf8Compare]]), the order
    * Parquet writes binary stats in AND the order Spark's UTF8String sorts
    * by. Java String order disagrees above the BMP.
    */
  implicit val utf8: StatKind[String] =
    new StatKind[String](LakeTable.utf8Compare(_, _)) {
      def accepts(t: DataType): Boolean = t == StringType
      def literal(e: Expression): Option[String] = e match {
        case Literal(v, StringType) if v != null => Some(v.toString)
        case _ => None
      }
      def toJson(v: String): JValue = JString(v)
      def fromJson(j: JValue): Option[String] = j match {
        case JString(v) => Some(v)
        case _ => None
      }
    }

  implicit val int64: StatKind[Long] = new StatKind[Long](Ordering.Long) {
    def accepts(t: DataType): Boolean =
      t == LongType || t == IntegerType || t == TimestampType

    /** A foldable int64-comparable value: byte/short/int/long literals plus
      * timestamp literals (micros), INCLUDING the analyzer's coercion casts
      * (`stars > 5` analyzes to `stars > cast(5 as bigint)` — the cast is
      * only folded by the optimizer, which never runs on
      * [[LakeTable.readWhere]]'s planning-time predicate). Anything
      * non-foldable or non-integral → None.
      */
    def literal(e: Expression): Option[Long] =
      scala.util.Try {
        e.dataType match {
          case ByteType | ShortType | IntegerType | LongType | TimestampType
            if e.foldable =>
            e.eval(null) match {
              case n: java.lang.Number => Some(n.longValue)
              case _ => None // null literal: no constraint
            }
          case _ => None
        }
      }.toOption.flatten // unresolved subtree: fail open
    def toJson(v: Long): JValue = JInt(v)
    def fromJson(j: JValue): Option[Long] = j match {
      case JInt(v) => Some(v.toLong)
      case JLong(v) => Some(v)
      case _ => None
    }
  }
}

/** Inclusive [lower, upper] bound under its kind's order; None = unbounded
  * on that side (stat missing, or no constraint extracted). The one bound
  * type of the read planner: predicate bounds, per-file stats, manifest
  * summary boxes and compaction's key boxes.
  */
private[graft] final case class Bound[T](lower: Option[T], upper: Option[T])(
    implicit kind: StatKind[T]) {
  import kind.ord
  def tightenLower(v: T): Bound[T] =
    if (lower.forall(ord.gt(v, _))) copy(lower = Some(v)) else this
  def tightenUpper(v: T): Bound[T] =
    if (upper.forall(ord.lt(v, _))) copy(upper = Some(v)) else this

  /** Can a file with stat range [statMin, statMax] (None = unbounded /
    * unknown — fail open) hold a row inside this bound?
    */
  def overlaps(statMin: Option[T], statMax: Option[T]): Boolean = {
    def le(a: Option[T], b: Option[T]) = a.forall(x => b.forall(ord.lteq(x, _)))
    le(lower, statMax) && le(statMin, upper)
  }

  def overlaps(stat: (Option[T], Option[T])): Boolean = overlaps(stat._1, stat._2)
}

private[graft] object Bound {
  /** The smallest bound holding every one of `bs`: a side is None (fail
    * open) when any bound lacks it, or when `bs` is empty.
    */
  def hull[T](bs: Seq[(Option[T], Option[T])])(implicit kind: StatKind[T]): Bound[T] = {
    def side(vs: Seq[Option[T]], pick: (T, T) => T): Option[T] =
      if (vs.isEmpty || vs.exists(_.isEmpty)) None else Some(vs.map(_.get).reduce(pick))
    Bound(side(bs.map(_._1), kind.ord.min), side(bs.map(_._2), kind.ord.max))
  }
}

/** Conservative per-column bounds extracted from a predicate expression, for
  * manifest and file pruning ([[LakeTable.planFiles]]): a [[Bound]] per
  * string-statted and per int64-statted column, and equality candidate sets
  * for bloom probes.
  *
  * Extraction is FAIL-OPEN by construction: only conjuncts whose shape is
  * provably a bound on a requested column — `=`, `IN`, `<`, `<=`, `>`, `>=`
  * between that column and literals of its stat kind — tighten the range;
  * everything else (OR trees, functions of the column, non-key columns,
  * non-literal comparands, null literals) contributes no constraint. A file
  * is skipped only when its bounding box provably cannot satisfy ALL
  * extracted bounds, so pruning never changes query results — the same
  * contract as Parquet row-group stats pruning. Strict bounds are treated as
  * inclusive (a file whose max equals the strict bound survives; the row
  * filter finishes the job).
  */
private[graft] object KeyPredicates {

  /** Per-column values of the string-statted and the int64-statted columns. */
  final case class ByKind[S, L](strings: Map[String, S], longs: Map[String, L]) {
    def isEmpty: Boolean = strings.isEmpty && longs.isEmpty
    def rekey(f: String => String): ByKind[S, L] =
      ByKind(strings.map { case (c, v) => f(c) -> v }, longs.map { case (c, v) => f(c) -> v })
  }

  /** Bounds from [[extractTyped]]; consumed by `LakeTable.planFiles`. */
  type TypedBounds = ByKind[Bound[String], Bound[Long]]

  /** Equality candidate sets from [[extractEqualities]]. */
  type Equalities = ByKind[Set[String], Set[Long]]

  /** Can a file or manifest whose stat box per column is `strs(c)` /
    * `longs(c)` ((None, None) = unknown: fail open) hold a row inside every
    * bound?
    */
  def admits(b: TypedBounds, strs: String => (Option[String], Option[String]),
             longs: String => (Option[Long], Option[Long])): Boolean =
    b.strings.forall { case (c, x) => x.overlaps(strs(c)) } &&
      b.longs.forall { case (c, x) => x.overlaps(longs(c)) }

  private def nameOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute if u.nameParts.length == 1 => Some(u.nameParts.head)
    case _ => None
  }

  /** The literals of a non-empty IN list, when every one decodes. */
  private def inList[T](vs: Seq[Expression], kind: StatKind[T]): Option[Seq[T]] = {
    val lits = vs.flatMap(kind.literal)
    if (vs.nonEmpty && lits.size == vs.size) Some(lits) else None
  }

  /** Per-column inclusive bounds implied by `pred`, typed by stat
    * representation: `stringCols` tighten via string literals under UTF-8
    * order, `longCols` via integral/timestamp literals under numeric order.
    * Columns with no provable constraint map to the unbounded range.
    */
  def extractTyped(pred: Expression, stringCols: Seq[String],
                   longCols: Seq[String]): TypedBounds =
    ByKind(ranges[String](pred, stringCols), ranges[Long](pred, longCols))

  private def ranges[T](pred: Expression, cols: Seq[String])(
      implicit kind: StatKind[T]): Map[String, Bound[T]] = {
    var bounds = cols.map(_ -> Bound[T](None, None)).toMap
    def want(e: Expression): Option[String] = nameOf(e).filter(bounds.contains)
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(a, v) => lowerish(a, v); upperish(a, v); lowerish(v, a); upperish(v, a)
      case In(a, vs) =>
        for (c <- want(a); lits <- inList(vs, kind)) bounds += c -> bounds(c)
          .tightenLower(lits.min(kind.ord)).tightenUpper(lits.max(kind.ord))
      case GreaterThan(a, v) => lowerish(a, v); upperish(v, a)
      case GreaterThanOrEqual(a, v) => lowerish(a, v); upperish(v, a)
      case LessThan(a, v) => upperish(a, v); lowerish(v, a)
      case LessThanOrEqual(a, v) => upperish(a, v); lowerish(v, a)
      case _ => () // unknown shape: no constraint (fail open)
    }
    // a > lit / lit < a ⇒ lower bound on a;  a < lit / lit > a ⇒ upper bound
    def lowerish(a: Expression, v: Expression): Unit =
      for (c <- want(a); x <- kind.literal(v)) bounds += c -> bounds(c).tightenLower(x)
    def upperish(a: Expression, v: Expression): Unit =
      for (c <- want(a); x <- kind.literal(v)) bounds += c -> bounds(c).tightenUpper(x)
    visit(pred)
    bounds
  }

  /** Per-column EQUALITY candidate-value sets implied by `pred` — the probe
    * input for bloom-filter file pruning ([[BloomPrune]]). A bloom answers
    * only point membership, so unlike [[extractTyped]]'s ranges only `=` and
    * `IN` conjuncts against literals contribute. Several equality conjuncts
    * on one column INTERSECT (a row must satisfy all of them); an empty
    * intersection is a provable contradiction — every file prunes, same as
    * contradictory bounds. Columns with no equality conjunct are absent
    * (fail open: no probe).
    */
  def extractEqualities(pred: Expression, stringCols: Seq[String],
                        longCols: Seq[String]): Equalities =
    ByKind(points[String](pred, stringCols), points[Long](pred, longCols))

  private def points[T](pred: Expression, cols: Seq[String])(
      implicit kind: StatKind[T]): Map[String, Set[T]] = {
    val want = cols.toSet
    var sets = Map.empty[String, Set[T]]
    def add(c: String, vs: Set[T]): Unit =
      sets += c -> sets.get(c).map(_ intersect vs).getOrElse(vs)
    def visit(e: Expression): Unit = e match {
      case And(a, b) => visit(a); visit(b)
      case EqualTo(a, v) => leaf(a, v); leaf(v, a)
      case In(a, vs) =>
        for (c <- nameOf(a).filter(want); lits <- inList(vs, kind)) add(c, lits.toSet)
      case _ => () // unknown shape: no probe (fail open)
    }
    def leaf(a: Expression, v: Expression): Unit =
      for (c <- nameOf(a).filter(want); lit <- kind.literal(v)) add(c, Set(lit))
    visit(pred)
    sets
  }
}
