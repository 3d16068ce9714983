package graft.lake

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute

/** Conservative per-column string bounds extracted from a predicate
  * expression, for manifest file pruning ([[LakeTable.readWhere]]).
  *
  * Extraction is FAIL-OPEN by construction: only conjuncts whose shape is
  * provably a bound on a requested column — `=`, `IN`, `<`, `<=`, `>`, `>=`
  * between that column and string literals — tighten the range; everything
  * else (OR trees, functions of the column, non-key columns, non-literal
  * comparands, null literals) contributes no constraint. A file is skipped
  * only when its bounding box provably cannot satisfy ALL extracted bounds,
  * so pruning never changes query results — the same contract as Parquet
  * row-group stats pruning. Strict bounds are treated as inclusive (a file
  * whose max equals the strict bound survives; the row filter finishes the
  * job).
  *
  * Comparisons use unsigned UTF-8 byte order ([[LakeTable.utf8Compare]]),
  * matching both Parquet stat order and Spark's UTF8String sort order.
  */
private[graft] object KeyPredicates {

  /** Inclusive [lower, upper] bound; None = unbounded on that side. */
  final case class Bound(lower: Option[String], upper: Option[String]) {
    import LakeTable.{utf8Compare => cmp}
    def tightenLower(v: String): Bound =
      if (lower.forall(l => cmp(v, l) > 0)) copy(lower = Some(v)) else this
    def tightenUpper(v: String): Bound =
      if (upper.forall(u => cmp(v, u) < 0)) copy(upper = Some(v)) else this

    /** Can a file with stat range [statMin, statMax] (None = unbounded /
      * unknown — fail open) hold a row inside this bound?
      */
    def overlaps(statMin: Option[String], statMax: Option[String]): Boolean = {
      val lowOk = (lower, statMax) match {
        case (Some(l), Some(mx)) => cmp(l, mx) <= 0
        case _ => true
      }
      val highOk = (upper, statMin) match {
        case (Some(u), Some(mn)) => cmp(mn, u) <= 0
        case _ => true
      }
      lowOk && highOk
    }
  }
  val unbounded: Bound = Bound(None, None)

  /** Inclusive [lower, upper] bound over an int64-statted column (long / int /
    * timestamp-micros); same fail-open overlap contract as [[Bound]].
    */
  final case class LongBound(lower: Option[Long], upper: Option[Long]) {
    def tightenLower(v: Long): LongBound =
      if (lower.forall(v > _)) copy(lower = Some(v)) else this
    def tightenUpper(v: Long): LongBound =
      if (upper.forall(v < _)) copy(upper = Some(v)) else this
    def overlaps(statMin: Option[Long], statMax: Option[Long]): Boolean = {
      val lowOk = (lower, statMax) match {
        case (Some(l), Some(mx)) => l <= mx
        case _ => true
      }
      val highOk = (upper, statMin) match {
        case (Some(u), Some(mn)) => mn <= u
        case _ => true
      }
      lowOk && highOk
    }
  }
  val unboundedLong: LongBound = LongBound(None, None)

  /** Bounds for string-statted and long-statted prunable columns, extracted
    * from one predicate ([[extractTyped]]); consumed by
    * `LakeTable.pruneEntries`.
    */
  final case class TypedBounds(strings: Map[String, Bound],
                               longs: Map[String, LongBound])

  private def nameOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute if u.nameParts.length == 1 => Some(u.nameParts.head)
    case _ => None
  }

  private def strLit(e: Expression): Option[String] = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
      Some(v.toString)
    case _ => None
  }

  /** A foldable int64-comparable value: byte/short/int/long literals plus
    * timestamp literals (micros), INCLUDING the analyzer's coercion casts
    * (`stars > 5` analyzes to `stars > cast(5 as bigint)` — the cast is only
    * folded by the optimizer, which never runs on [[LakeTable.readWhere]]'s
    * planning-time predicate). Anything non-foldable or non-integral → None.
    */
  private def longLit(e: Expression): Option[Long] = {
    import org.apache.spark.sql.types._
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
  }

  /** Per-column inclusive bounds implied by `pred` for `columns`. Columns
    * with no provable constraint map to [[unbounded]].
    */
  def extract(pred: Expression, columns: Seq[String]): Map[String, Bound] =
    extractTyped(pred, columns, Seq.empty).strings

  /** Per-column inclusive bounds implied by `pred`, typed by stat
    * representation: `stringCols` tighten via string literals under UTF-8
    * order, `longCols` via integral/timestamp literals under numeric order.
    * Columns with no provable constraint map to the unbounded range.
    */
  def extractTyped(pred: Expression, stringCols: Seq[String],
                   longCols: Seq[String]): TypedBounds = {
    var bounds = stringCols.map(_ -> unbounded).toMap
    var lbounds = longCols.map(_ -> unboundedLong).toMap
    def want(e: Expression): Option[String] = nameOf(e).filter(bounds.contains)
    def wantL(e: Expression): Option[String] = nameOf(e).filter(lbounds.contains)
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(a, v) if want(a).isDefined && strLit(v).isDefined =>
        val (c, s) = (want(a).get, strLit(v).get)
        bounds += c -> bounds(c).tightenLower(s).tightenUpper(s)
      case EqualTo(v, a) if want(a).isDefined && strLit(v).isDefined =>
        val (c, s) = (want(a).get, strLit(v).get)
        bounds += c -> bounds(c).tightenLower(s).tightenUpper(s)
      case EqualTo(a, v) if wantL(a).isDefined && longLit(v).isDefined =>
        val (c, n) = (wantL(a).get, longLit(v).get)
        lbounds += c -> lbounds(c).tightenLower(n).tightenUpper(n)
      case EqualTo(v, a) if wantL(a).isDefined && longLit(v).isDefined =>
        val (c, n) = (wantL(a).get, longLit(v).get)
        lbounds += c -> lbounds(c).tightenLower(n).tightenUpper(n)
      case In(a, vs) if want(a).isDefined && vs.nonEmpty && vs.forall(strLit(_).isDefined) =>
        import LakeTable.{utf8Compare => cmp}
        val c = want(a).get
        val lits = vs.map(strLit(_).get)
        bounds += c -> bounds(c)
          .tightenLower(lits.reduce((x, y) => if (cmp(x, y) <= 0) x else y))
          .tightenUpper(lits.reduce((x, y) => if (cmp(x, y) >= 0) x else y))
      case In(a, vs) if wantL(a).isDefined && vs.nonEmpty && vs.forall(longLit(_).isDefined) =>
        val c = wantL(a).get
        val lits = vs.map(longLit(_).get)
        lbounds += c -> lbounds(c).tightenLower(lits.min).tightenUpper(lits.max)
      case GreaterThan(a, v) => lowerish(a, v); upperish(v, a)
      case GreaterThanOrEqual(a, v) => lowerish(a, v); upperish(v, a)
      case LessThan(a, v) => upperish(a, v); lowerish(v, a)
      case LessThanOrEqual(a, v) => upperish(a, v); lowerish(v, a)
      case _ => () // unknown shape: no constraint (fail open)
    }
    // a > lit / lit < a ⇒ lower bound on a;  a < lit / lit > a ⇒ upper bound
    def lowerish(a: Expression, v: Expression): Unit = {
      for (c <- want(a); s <- strLit(v)) bounds += c -> bounds(c).tightenLower(s)
      for (c <- wantL(a); n <- longLit(v)) lbounds += c -> lbounds(c).tightenLower(n)
    }
    def upperish(a: Expression, v: Expression): Unit = {
      for (c <- want(a); s <- strLit(v)) bounds += c -> bounds(c).tightenUpper(s)
      for (c <- wantL(a); n <- longLit(v)) lbounds += c -> lbounds(c).tightenUpper(n)
    }
    visit(pred)
    TypedBounds(bounds, lbounds)
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
  final case class Equalities(strings: Map[String, Set[String]],
                              longs: Map[String, Set[Long]]) {
    def isEmpty: Boolean = strings.isEmpty && longs.isEmpty
  }

  def extractEqualities(pred: Expression, stringCols: Seq[String],
                        longCols: Seq[String]): Equalities = {
    val sWant = stringCols.toSet
    val lWant = longCols.toSet
    var s = Map.empty[String, Set[String]]
    var l = Map.empty[String, Set[Long]]
    def addS(c: String, vs: Set[String]): Unit =
      s += c -> s.get(c).map(_ intersect vs).getOrElse(vs)
    def addL(c: String, vs: Set[Long]): Unit =
      l += c -> l.get(c).map(_ intersect vs).getOrElse(vs)
    def visit(e: Expression): Unit = e match {
      case And(a, b) => visit(a); visit(b)
      case EqualTo(a, v) => leaf(a, v); leaf(v, a)
      case In(a, vs) if vs.nonEmpty =>
        for (c <- nameOf(a).filter(sWant)) {
          val lits = vs.flatMap(strLit)
          if (lits.size == vs.size) addS(c, lits.toSet)
        }
        for (c <- nameOf(a).filter(lWant)) {
          val lits = vs.flatMap(longLit)
          if (lits.size == vs.size) addL(c, lits.toSet)
        }
      case _ => () // unknown shape: no probe (fail open)
    }
    def leaf(a: Expression, v: Expression): Unit = {
      for (c <- nameOf(a).filter(sWant); lit <- strLit(v)) addS(c, Set(lit))
      for (c <- nameOf(a).filter(lWant); lit <- longLit(v)) addL(c, Set(lit))
    }
    visit(pred)
    Equalities(s, l)
  }
}
