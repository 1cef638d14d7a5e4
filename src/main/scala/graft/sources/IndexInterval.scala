package graft.sources

import org.apache.spark.sql.sources._

import graft.core.{Closed, GSchema, GType, IndexKey, SegmentRead}
import graft.engine.SparkVals

/** The connector's one index-interval algebra. A conjunction of pushed
  * Spark filters folds into per-column bounds, and the index bounds
  * assemble into ONE lexicographic interval over the sorted index —
  * the `(start, stop, closed)` range read of the engine, with
  * open/closed ends (lakota/utils.py:307-335). The scan
  * ([[GraftScanBuilder]]), the copy-on-write scan
  * ([[GraftCowScanBuilder]]), metadata DELETE and REPLACE WHERE
  * ([[GraftTable.deletePlan]]) all decide their interval here, and
  * both scans prune by the runtime head-value filter here.
  */
private[sources] object IndexInterval {

  /** Tightest bound seen on one column, in kernel values. */
  final class Bound(val dt: GType) {
    var lo: Any = null; var loClosed = true
    var hi: Any = null; var hiClosed = true
    def isSet: Boolean = lo != null || hi != null
    def isEq: Boolean = lo != null && hi != null && loClosed &&
      hiClosed && dt.cmp(lo, hi) == 0
    def above(v: Any, closed: Boolean): Unit = {
      val c = if (lo == null) 1 else dt.cmp(v, lo)
      if (c > 0 || (c == 0 && !closed)) { lo = v; loClosed = closed }
    }
    def below(v: Any, closed: Boolean): Unit = {
      val c = if (hi == null) -1 else dt.cmp(v, hi)
      if (c < 0 || (c == 0 && !closed)) { hi = v; hiClosed = closed }
    }
  }

  /** From `start` to `stop` over the index (a null end is unbounded),
    * `closed` naming the inclusive ends. `exact` when the interval is
    * the whole pushed predicate, not just a cover of it. */
  final case class Interval(start: IndexKey, stop: IndexKey,
      closed: Closed, exact: Boolean)

  /** `filters`, a conjunction, folded into bounds on every index column
    * and every value column (the scan's segment-stats skipping). */
  final class Fold(gs: GSchema, filters: Seq[Filter]) {
    private val idx: IndexedSeq[Bound] =
      gs.idx.map(c => new Bound(c.dtype)).toIndexedSeq
    private val idxOf: Map[String, Bound] = gs.idxNames.zip(idx).toMap
    private val valueBounds: Map[String, Bound] =
      gs.nonIdx.map(c => c.name -> new Bound(c.dtype)).toMap

    private def tighten(c: String, lo: Any, loC: Boolean, hi: Any,
        hiC: Boolean): Boolean =
      idxOf.get(c).orElse(valueBounds.get(c)) match {
        case Some(b) =>
          if (lo != null) b.above(SparkVals.parseBound(b.dt, lo), loC)
          if (hi != null) b.below(SparkVals.parseBound(b.dt, hi), hiC)
          true
        case None => false
      }

    // A comparison tightens its column's bound. The `v != null` guards
    // are unreachable after constant folding (a null-literal comparison
    // folds to null first) but keep a hand-built filter from reaching
    // SparkVals.parseBound. IS NOT NULL on an index column is vacuous:
    // index columns are non-null by schema, every write rejects a null.
    private var allIndex = true
    /** the filters that tightened a bound (a builder's pushedFilters) */
    val accepted: Array[Filter] = filters.filter { f =>
      val col = f match {
        case GreaterThan(c, v) if v != null &&
            tighten(c, v, false, null, true) => c
        case GreaterThanOrEqual(c, v) if v != null &&
            tighten(c, v, true, null, true) => c
        case LessThan(c, v) if v != null &&
            tighten(c, null, true, v, false) => c
        case LessThanOrEqual(c, v) if v != null &&
            tighten(c, null, true, v, true) => c
        case EqualTo(c, v) if v != null &&
            tighten(c, v, true, v, true) => c
        case In(c, vs) if valueBounds.contains(c) && vs.nonEmpty &&
            !vs.contains(null) =>
          // an IN list bounds a value column by its own min/max —
          // enough for segment disjointness (membership stays residual)
          val b = valueBounds(c)
          val ks = vs.toSeq.map(SparkVals.parseBound(b.dt, _))
          val ord: Ordering[Any] = (x, y) => b.dt.cmp(x, y)
          b.above(ks.min(ord), true); b.below(ks.max(ord), true)
          c
        case IsNotNull(c) if idxOf.contains(c) => null
        case _ => allIndex = false; null
      }
      if (col != null && !idxOf.contains(col)) allIndex = false
      col != null
    }.toArray

    /** The interval the index bounds select. Equalities on leading
      * index columns extend the prefix; the first other column adds
      * its own bound on each side and ends it. A bound deeper than that
      * column cannot narrow one interval: it stays residual, and the
      * interval is then not exact. Exact also needs every conjunct
      * folded into an index bound (or vacuous) and one end bounded. */
    lazy val interval: Interval = {
      val depth = idx.segmentLength(_.isEq)
      val eqs = idx.take(depth).map(_.lo).toVector
      val term = idx.lift(depth)
      def end(v: Bound => Any, closed: Bound => Boolean)
          : (IndexKey, Boolean) =
        term.filter(v(_) != null) match {
          case Some(b) => (IndexKey(eqs :+ v(b)), closed(b))
          case None => (if (eqs.isEmpty) null else IndexKey(eqs), true)
        }
      val (start, l) = end(_.lo, _.loClosed)
      val (stop, r) = end(_.hi, _.hiClosed)
      Interval(start, stop, Closed.Both.setLeft(l).setRight(r),
        exact = allIndex && (start != null || stop != null) &&
          !idx.drop(depth + 1).exists(_.isSet))
    }

    /** the value-column bounds some filter set: the stats-skipping
      * query as (name, dtype, lo, loClosed, hi, hiClosed) */
    def valueQuery: Seq[(String, GType, Any, Boolean, Any, Boolean)] =
      valueBounds.toSeq.collect { case (n, b) if b.isSet =>
        (n, b.dt, b.lo, b.loClosed, b.hi, b.hiClosed) }
  }

  // ---- runtime filtering (DPP-style): a join's build side delivers
  // the head index column's value set AT RUNTIME; segments whose
  // recorded range contains none of the values drop before any file
  // opens. Pruning only — Spark still applies the join, so over-keep
  // is safe and the coarse head-component containment check suffices.

  /** the head-index values a runtime `IN` / `=` filter delivers,
    * kernel-parsed; None when no filter names the head column */
  def headValues(gs: GSchema, filters: Array[Filter]): Option[Seq[Any]] = {
    val head = gs.idx.head
    val vals = filters.toSeq.collect {
      case In(c, vs) if c == head.name => vs.toSeq.filter(_ != null)
      case EqualTo(c, v) if c == head.name && v != null => Seq(v)
    }
    Option.when(vals.nonEmpty)(
      vals.flatten.map(SparkVals.parseBound(head.dtype, _)).distinct)
  }

  /** the segments whose recorded head range holds one of `keep` */
  def headPruned(gs: GSchema, segs: Seq[SegmentRead],
      keep: Option[Seq[Any]]): Seq[SegmentRead] = keep match {
    case None => segs
    case Some(vals) =>
      val dt = gs.idx.head.dtype
      segs.filter { s =>
        val lo = s.start.values(0)
        val hi = s.stop.values(0)
        vals.exists(v => dt.cmp(v, lo) >= 0 && dt.cmp(v, hi) <= 0)
      }
  }
}
