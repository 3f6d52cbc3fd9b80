package graft.sources.zarr

import scala.collection.mutable

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** The values of one numeric column that pass a conjunction of pushed
  * comparisons, made in the column's own type: the closed interval
  * `[lo, hi]` over longs for integral columns, `[dlo, dhi]` over
  * doubles for float columns. Float columns follow Spark's rules: −0.0
  * equals 0.0 (IEEE comparison already does), and NaN equals NaN and
  * sorts above every other value, so NaN cells pass exactly when `nan`
  * is set. A conjunction is the intersection of its comparisons. */
final case class CellRange(lo: Long, hi: Long, dlo: Double, dhi: Double, nan: Boolean) {
  def and(o: CellRange): CellRange = CellRange(math.max(lo, o.lo), math.min(hi, o.hi),
    math.max(dlo, o.dlo), math.min(dhi, o.dhi), nan && o.nan)

  def passes(arr: AnyRef, i: Int): Boolean = arr match {
    case a: Array[Float] => passesD(a(i))
    case a: Array[Double] => passesD(a(i))
    case a: Array[Long] => a(i) >= lo && a(i) <= hi
    case a: Array[Int] => a(i) >= lo && a(i) <= hi
    case a: Array[Short] => a(i) >= lo && a(i) <= hi
    case a: Array[Byte] => a(i) >= lo && a(i) <= hi
    case other => throw new IllegalStateException(s"Unsupported predicate column ${other.getClass}")
  }

  private def passesD(x: Double): Boolean = x >= dlo && x <= dhi || nan && x.isNaN
}

object CellRange {
  private val Inf = Double.PositiveInfinity
  val all: CellRange = CellRange(Long.MinValue, Long.MaxValue, -Inf, Inf, nan = true)
  private val none: CellRange = CellRange(1L, 0L, Inf, -Inf, nan = false)

  /** True for the column types whose comparisons the reader makes
    * exactly. */
  def numeric(t: DataType): Boolean = integral(t) || t == FloatType || t == DoubleType

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The cells of a column of type `t` passing `f` (`=`, `<`, `<=`, `>`,
    * `>=` against a literal), or None when the literal cannot be
    * compared exactly in `t`: a fractional literal on an integral
    * column, a long beyond 2^53 on a float column, a non-numeric
    * literal. */
  def of(f: Filter, t: DataType): Option[CellRange] = {
    val (op, v) = f match {
      case EqualTo(_, v) => ('=', v)
      case GreaterThan(_, v) => ('>', v)
      case GreaterThanOrEqual(_, v) => ('g', v)
      case LessThan(_, v) => ('<', v)
      case LessThanOrEqual(_, v) => ('l', v)
      case _ => return None
    }
    if (integral(t)) v match {
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long =>
        val x = v.asInstanceOf[java.lang.Number].longValue()
        Some(op match {
          case '=' => all.copy(lo = x, hi = x)
          case '>' => if (x == Long.MaxValue) none else all.copy(lo = x + 1)
          case 'g' => all.copy(lo = x)
          case '<' => if (x == Long.MinValue) none else all.copy(hi = x - 1)
          case _ => all.copy(hi = x)
        })
      case _ => None
    }
    else if (t == FloatType || t == DoubleType) {
      val x: Double = v match {
        case d: java.lang.Double => d
        case f: java.lang.Float => f.doubleValue()
        case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer) =>
          n.asInstanceOf[java.lang.Number].doubleValue()
        case l: java.lang.Long if l != Long.MaxValue && l.doubleValue().toLong == l => l.doubleValue()
        case _ => return None
      }
      Some(if (x.isNaN) op match {
        case '=' | 'g' => none.copy(nan = true)
        case '>' => none
        case '<' => all.copy(nan = false)
        case _ => all
      } else op match {
        case '=' => CellRange(0L, 0L, x, x, nan = false)
        case '>' => if (x == Inf) none.copy(nan = true) else all.copy(dlo = Math.nextUp(x))
        case 'g' => all.copy(dlo = x)
        case '<' => if (x == -Inf) none else all.copy(dhi = Math.nextDown(x), nan = false)
        case _ => all.copy(dhi = x, nan = false)
      })
    }
    else None
  }
}

/** A pushed predicate the reader evaluates per cell: column `col`
  * must lie in `range`. */
final case class CellPred(col: String, range: CellRange)

/** What a partition folds its passing cells into, instead of emitting
  * them. Columns are named; the reader resolves them against its
  * projection. */
sealed trait ScanFold extends Serializable

/** Partial aggregate grouped by numeric coordinates: one row per
  * non-empty group (the group coordinates, then each aggregate), or
  * exactly one row when ungrouped. */
final case class AggFold(groupBy: Seq[String], aggs: Seq[FoldAgg]) extends ScanFold {
  override def toString: String = s"partialAgg=[${aggs.mkString(", ")}] groupBy=[${groupBy.mkString(",")}]"
}

/** ORDER BY `col` [DESC] LIMIT n: the partition's `n` best rows. */
final case class TopNFold(col: String, desc: Boolean, n: Int) extends ScanFold {
  override def toString: String = s"topN=$col ${if (desc) "DESC" else "ASC"} $n"
}

sealed trait FoldAgg extends Serializable {
  /** The column the aggregate reads, if any. */
  def col: Option[String] = None
}
/** COUNT(*) or COUNT(col): no pushed shape has null cells. */
case object FoldCount extends FoldAgg {
  override def toString: String = "count(*)"
}
/** SUM of a float column, in double, in row-major order. */
final case class FoldSum(c: String) extends FoldAgg {
  override def col: Option[String] = Some(c)
  override def toString: String = s"sum($c)"
}
final case class FoldMin(c: String) extends FoldAgg {
  override def col: Option[String] = Some(c)
  override def toString: String = s"min($c)"
}
final case class FoldMax(c: String) extends FoldAgg {
  override def col: Option[String] = Some(c)
  override def toString: String = s"max($c)"
}

/** The pushed filters on one column (coordinate dim `dim`, or −1 for a
  * data variable), read once. `bounds` are the epsilon-widened
  * predicates that prune: a coordinate's index range, a `.zstats`
  * variable's partitions; they also cover `fillValueAsNull` and
  * datetime columns, which `cells` does not. `cells` is the
  * conjunction of the comparisons the scan answers exactly, in the
  * column's own type, and `interval` a coordinate's index interval of
  * matches. `pruning` and `exact` list the filters behind each. */
final case class ColumnFilters(
    name: String,
    dim: Int,
    bounds: List[GridMath.CoordPred] = Nil,
    pruning: List[Filter] = Nil,
    cells: CellRange = CellRange.all,
    exact: List[Filter] = Nil,
    interval: Option[(Int, Int)] = None)

/** What the scan of one store does with the filters Spark pushed.
  * `exact` are the filters Spark dropped: the scan answers them by
  * coordinate intervals and per-cell predicates. `pruning` are the ones
  * whose bounds narrow the ranges or drop `.zstats` partitions.
  * `postScan` are the ones Spark still applies above the scan. */
final case class ScanPushdown(
    columns: Seq[ColumnFilters] = Nil,
    exact: Seq[Filter] = Nil,
    pruning: Seq[Filter] = Nil,
    postScan: Seq[Filter] = Nil) {

  def unfiltered: Boolean = exact.isEmpty && pruning.isEmpty

  /** This pushdown answering exactly only the filters in `keep` (those
    * every member of a union answers exactly); a column with any other
    * exact filter goes back post-scan whole. Only a coordinate's
    * contiguity differs between members, and it holds for a column's
    * conjunction as a whole, so no kept filter is dropped. */
  def keepExact(keep: Set[Filter]): ScanPushdown =
    if (exact.forall(keep)) this
    else {
      val cols = columns.map(c =>
        if (c.exact.forall(keep)) c else c.copy(cells = CellRange.all, exact = Nil, interval = None))
      val kept = cols.flatMap(_.exact).toSet
      copy(columns = cols, exact = exact.filter(kept), postScan = postScan ++ exact.filterNot(kept))
    }

  def coordBounds: Map[Int, Seq[GridMath.CoordPred]] =
    columns.filter(c => c.dim >= 0 && c.bounds.nonEmpty).map(c => c.dim -> c.bounds).toMap

  def varBounds: Map[String, Seq[GridMath.CoordPred]] =
    columns.filter(c => c.dim < 0 && c.bounds.nonEmpty).map(c => c.name -> c.bounds).toMap

  def intervals: Map[Int, (Int, Int)] =
    columns.flatMap(c => c.interval.map(c.dim -> _)).toMap

  /** Exact predicates on data variables: the reader drops the cells
    * failing them. */
  def cellPreds: Seq[(String, CellRange)] =
    columns.filter(c => c.dim < 0 && c.cells != CellRange.all).map(c => c.name -> c.cells)
}

object ScanPushdown {

  /** Read each pushed filter once. Pruning bounds: `=`, `<=>`, `<`,
    * `<=`, `>`, `>=` and `IN` against numeric or timestamp literals on
    * numeric and datetime coordinates, `=`/`<=>` against a string on a
    * string coordinate (as its index), and `=`, `<`, `<=`, `>`, `>=`
    * on data variables with `.zstats` (a NaN threshold bounds nothing).
    * The exact set: `=`, `<`, `<=`, `>`, `>=` against a numeric literal
    * and IsNotNull, on numeric columns, outside `fillValueAsNull`
    * ([[CellRange.of]]); a coordinate's conjunction only when its
    * matches form one contiguous index interval. */
  def classify(filters: Seq[Filter], meta: ZarrStoreMeta, fillAsNull: Boolean): ScanPushdown = {
    import GridMath.CoordPred
    val types = meta.schema.fields.map(f => f.name -> f.dataType).toMap
    val statVars = meta.dataVars.filter(_.chunkStats.nonEmpty).map(_.name).toSet

    def bound(f: Filter, a: String, dim: Int): Option[CoordPred] = {
      val stringCoord = dim >= 0 && meta.coords(dim).meta.dtype.kind == 'S'
      def num(v: Any)(p: Double => CoordPred) = numeric(v).map(p)
      if (stringCoord) f match {
        // string coordinates live in index space: an absent value is an
        // impossible index, which plans zero partitions
        case EqualTo(_, v: String) => Some(CoordPred.Eq(stringIndex(meta.coords(dim), v)))
        case EqualNullSafe(_, v: String) => Some(CoordPred.Eq(stringIndex(meta.coords(dim), v)))
        case _ => None
      } else if (dim >= 0) f match {
        case EqualTo(_, v) => num(v)(CoordPred.Eq)
        case EqualNullSafe(_, v) => num(v)(CoordPred.Eq)
        case GreaterThan(_, v) => num(v)(CoordPred.Gt(_, orEqual = false))
        case GreaterThanOrEqual(_, v) => num(v)(CoordPred.Gt(_, orEqual = true))
        case LessThan(_, v) => num(v)(CoordPred.Lt(_, orEqual = false))
        case LessThanOrEqual(_, v) => num(v)(CoordPred.Lt(_, orEqual = true))
        case In(_, vs) if vs.nonEmpty && vs.forall(numeric(_).isDefined) =>
          Some(CoordPred.InSet(vs.toSeq.flatMap(numeric)))
        case _ => None
      } else if (statVars(a)) (f match {
        case EqualTo(_, v) => num(v)(CoordPred.Eq)
        case GreaterThan(_, v) => num(v)(CoordPred.Gt(_, orEqual = false))
        case GreaterThanOrEqual(_, v) => num(v)(CoordPred.Gt(_, orEqual = true))
        case LessThan(_, v) => num(v)(CoordPred.Lt(_, orEqual = false))
        case LessThanOrEqual(_, v) => num(v)(CoordPred.Lt(_, orEqual = true))
        case _ => None
      }).filter {
        // a NaN threshold is not a [min,max] bound (`v <= NaN` holds everywhere)
        case CoordPred.Eq(t) => !t.isNaN
        case CoordPred.Gt(t, _) => !t.isNaN
        case CoordPred.Lt(t, _) => !t.isNaN
        case _ => true
      }
      else None
    }

    def cells(f: Filter, a: String): Option[CellRange] =
      if (fillAsNull || !types.get(a).exists(CellRange.numeric)) None
      else f match {
        case IsNotNull(_) => Some(CellRange.all) // no exact shape has null cells
        case _ => CellRange.of(f, types(a))
      }

    val cols = mutable.LinkedHashMap.empty[String, ColumnFilters]
    filters.foreach { f =>
      attrOf(f).filter(types.contains).foreach { a =>
        val c = cols.getOrElse(a, ColumnFilters(a, meta.coordNames.indexOf(a)))
        val b = bound(f, a, c.dim).fold(c)(p => c.copy(bounds = p :: c.bounds, pruning = f :: c.pruning))
        cols(a) = cells(f, a).fold(b)(r => b.copy(cells = b.cells.and(r), exact = f :: b.exact))
      }
    }
    val columns = cols.values.toSeq.map { c =>
      if (c.dim < 0 || c.exact.isEmpty) c
      else matchInterval(meta.coords(c.dim), c.cells) match {
        case Some(iv) => c.copy(interval = Some(iv))
        case None => c.copy(cells = CellRange.all, exact = Nil)
      }
    }
    val exact = columns.flatMap(_.exact).toSet
    val pruning = columns.flatMap(_.pruning).toSet
    ScanPushdown(columns, filters.filter(exact), filters.filter(pruning), filters.filterNot(exact))
  }

  private def attrOf(f: Filter): Option[String] = f match {
    case EqualTo(a, _) => Some(a)
    case EqualNullSafe(a, _) => Some(a)
    case GreaterThan(a, _) => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _) => Some(a)
    case LessThanOrEqual(a, _) => Some(a)
    case In(a, _) => Some(a)
    case IsNotNull(a) => Some(a)
    case _ => None
  }

  private def numeric(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    // datetime columns decode to epoch micros, so timestamp literals
    // compare in micro space (exact in double until epoch ~2^53 µs)
    case t: java.sql.Timestamp =>
      Some((t.getTime * 1000L + (t.getNanos / 1000) % 1000).toDouble)
    case i: java.time.Instant =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000).toDouble)
    case _ => None
  }

  private def stringIndex(c: CoordData, v: String): Double = c.raw match {
    case a: Array[String] => a.indexOf(v).toDouble
    case _ => -1.0
  }

  /** The index interval of `c`'s values in `r`, if they form one
    * (`(0, 0)` when none do). */
  private def matchInterval(c: CoordData, r: CellRange): Option[(Int, Int)] = {
    var first = -1
    var lastHit = -1
    var i = 0
    while (i < c.length) {
      if (r.passes(c.raw, i)) {
        if (first < 0) first = i else if (lastHit != i - 1) return None
        lastHit = i
      }
      i += 1
    }
    Some(if (first < 0) (0, 0) else (first, lastHit + 1))
  }
}
