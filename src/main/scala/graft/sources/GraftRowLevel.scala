package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{BatchWrite,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.core.{Closed, IndexKey, RangeRegions, SegmentRead,
  SegmentWriter}

/** SQL `UPDATE` / `MERGE INTO` / rewrite-`DELETE` on graft tables —
  * Spark 4's group-based copy-on-write row-level operations
  * (`SupportsRowLevelOperations`), the mechanism Iceberg/Delta use
  * for the same verbs.
  *
  * Contract with Spark: the operation's SCAN reads whole affected
  * GROUPS (here: a segment's visible window — every row, matched or
  * not), Spark computes the rewritten rows, and the operation's WRITE
  * must replace exactly the groups the scan served. Group selection
  * happens via runtime group filtering (Spark plans a dynamic-pruning
  * subquery from the operation's condition over the ORIGINAL table —
  * verified against Spark 4.1's
  * `RowLevelOperationRuntimeGroupFiltering`, which rebuilds the
  * matching-rows plan from `RowLevelOperationTable.table`): the
  * scan's [[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]]
  * then drops every segment whose recorded index range holds none of
  * the matching head-index values, so a selective UPDATE rewrites
  * only the segments it touches. Without a usable runtime filter the
  * scan serves the whole series and the operation degrades to a full
  * rewrite — correct, never wrong-sized.
  *
  * The replacement itself is [[graft.api.Series.commitReplace]]: one
  * changelog commit that splices each scanned visible window
  * (tombstone-stretched cover of the window's rewritten files), with
  * task-side writers rolling output files at window boundaries so
  * every staged file lies in exactly one window (or in free index
  * space — where MERGE-inserted rows may land; landing on unscanned
  * VISIBLE data is refused rather than clobbered). Index-range
  * DELETEs never reach this path: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` swaps them back to the
  * metadata-only `SupportsDelete` tombstone route.
  */
class GraftRowLevelOperation(table: GraftTable,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** the visible windows the scan ACTUALLY planned (post runtime
    * group filtering) — the write replaces exactly these */
  @volatile private[sources] var replacedRanges
      : Seq[(IndexKey, IndexKey, Closed)] = null

  /** the copy-on-write scan's group choice: (static and exact, runtime
    * filter skipped on a tiny cover) */
  @volatile private[sources] var groupChoice: (Boolean, Boolean) =
    (false, false)

  /** The group metrics, reported by the write: a statement whose scan
    * plans no group loses the scan node to AQE's empty-relation
    * pruning, and its metrics with it, while the write always runs.
    * "kept" counts the groups left by either pruning step (static index
    * bound, runtime matched-value filter); "total" is the table's
    * segment count. */
  private[sources] def groupMetrics
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    import GraftMetrics._
    Array(value(SegmentsTotal, tableSegments.length),
      value(SegmentsKept, Option(replacedRanges).fold(0L)(_.length.toLong)),
      value(GroupsStatic, if (groupChoice._1) 1 else 0),
      value(GroupsTinySkip, if (groupChoice._2) 1 else 0))
  }

  /** ONE manifest snapshot per OPERATION: the scan's group planning
    * (bounded AND unbounded), the metric totals, the write's
    * roll-window computation and the sort-width decision all query
    * this one decoded manifest — one label-span walk per statement
    * instead of three, and no concurrent commit can slip a different
    * revision between the scan's view and the write's. */
  private[sources] lazy val tableManifest
      : Option[graft.core.Manifest] =
    table.series.collection.manifest(None)
  private[sources] lazy val tableSegments: Seq[SegmentRead] =
    // empty snapshot (no leaf yet) must stay empty — segments(from =
    // None) would FALL BACK to a live manifest read, letting the
    // bounded and unbounded group queries observe two different live
    // revisions: exactly the race this snapshot exists to prevent
    tableManifest.map(m =>
      table.series.segments(from = Some(m)).filter(_.meta.hasData))
      .getOrElse(Seq.empty)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"GraftRowLevelOperation[$cmd] ${table.name()}"

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = new GraftCowScanBuilder(table,
    GraftRowLevelOperation.this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        require(!table.gschema.kv,
          "graft: kv (upsert) collections merge on write — use the " +
            "Series API; SQL row-level operations cannot express it")
        val expect = table.gschema.sparkSchema
        val got = info.schema()
        require(got.length == expect.length &&
          got.fields.zip(expect.fields).forall { case (a, b) =>
            a.name == b.name && a.dataType == b.dataType },
          s"graft row-level write schema mismatch: got " +
            s"${got.simpleString}, table is ${expect.simpleString}")
        new GraftCowWrite(table, GraftRowLevelOperation.this)
      }
    }
}

/** Group-selection pushdown for the copy-on-write scan
  * (`GroupBasedRowLevelOperationScanPlanning` pushes the command's
  * condition here, exactly as it does for Iceberg): index-range
  * conjuncts fold into one index interval ([[IndexInterval]]) that
  * selects the covering GROUPS straight from the manifest —
  * O(segments) driver work, no table-scan subquery. Rows are never
  * filtered (a group is read whole so unmatched rows survive the
  * rewrite; the returned post-scan filters keep every predicate
  * residual).
  *
  * When the interval is EXACT (every pushed conjunct folded into it),
  * the static cover already contains all matched groups, and the scan
  * reports no runtime-filter attributes — Spark then skips planning
  * the `RowLevelOperationRuntimeGroupFiltering` subquery entirely
  * (three AQE jobs per statement at bench scale; a full table scan's
  * worth of IO at 100 TB). Any other conjunct (a value predicate, an
  * IN list, a bound below the interval's range column) keeps the
  * runtime filter: static bounds still cap the cover, and the
  * matched-row value set prunes it finer. */
class GraftCowScanBuilder(table: GraftTable, op: GraftRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters {

  private var fold = new IndexInterval.Fold(table.gschema, Nil)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    fold = new IndexInterval.Fold(table.gschema, filters.toSeq)
    filters // ALL residual: COW groups must be read whole
  }
  // only index bounds select groups; value bounds prune nothing here
  override def pushedFilters(): Array[Filter] = fold.accepted
    .filter(_.references.forall(table.gschema.idxNames.contains))

  override def build(): Scan = {
    val range = fold.interval
    // UPDATE/DELETE only: their condition is a pure predicate over
    // the target, so an exact index interval IS the matched-group
    // cover. A MERGE's matched groups are decided by the JOIN with
    // the source — a target-only conjunct in its ON clause (pushed
    // here all the same) caps the cover but can never make it exact,
    // and dropping the runtime filter would rewrite every covered
    // segment even when the source matches two of them.
    val exact = op.command() != RowLevelOperation.Command.MERGE &&
      range.exact
    // A handful of candidate groups can never pay for the runtime
    // group-filter subquery: Spark plans it as an extra target-scan +
    // join (2-3 AQE jobs, ~300-400 ms at bench scale) whose only
    // benefit is NOT rewriting the candidates it prunes — with ≤ N
    // candidates the conservative rewrite of all of them is cheaper
    // than the subquery that would choose among them. Segment-count
    // based, so a real table (10^4-10^5 segments at 100 TB) always
    // keeps the filter; only toy/tail tables skip it. Candidates are
    // counted against the operation's ONE snapshot manifest.
    val candidates =
      if (range.start == null && range.stop == null)
        op.tableSegments.length
      else if (op.tableManifest.isEmpty) 0 // no leaf: nothing to prune
      else table.series.segments(range.start, range.stop, None,
        range.closed, from = op.tableManifest).count(_.meta.hasData)
    new GraftCowScan(table, op, range.start, range.stop, range.closed,
      skipRuntimeFilter =
        exact || candidates <= GraftCowScanBuilder.RuntimeFilterMinSegments,
      staticExact = exact)
  }
}

object GraftCowScanBuilder {
  /** at most this many candidate groups: rewrite them all rather than
    * plan the runtime group-filter subquery */
  val RuntimeFilterMinSegments = 4
}

/** The copy-on-write scan: serves ENTIRE visible windows (no row
  * filtering — a group must be read whole so unmatched rows survive
  * the rewrite), prunes windows statically through the pushed index
  * bound and dynamically through the runtime group filter, and
  * records what it planned for the write side. */
class GraftCowScan(table: GraftTable, op: GraftRowLevelOperation,
    start: IndexKey = null, stop: IndexKey = null,
    closed: Closed = Closed.Both,
    skipRuntimeFilter: Boolean = false,
    /** filter skipped because static selection was EXACT (vs skipped
      * for economy on a tiny candidate cover) — reported as a metric */
    staticExact: Boolean = false)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** every planned partition serves one index-sorted visible window —
    * reported so the rewrite-DELETE's in-partition sort requirement
    * is satisfied by the scan itself (`RemoveRedundantSorts`) */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    GraftPlanning.indexOrdering(table.gschema)

  private lazy val resolvedSeries: graft.api.Series = table.series
  /** covering segments for the static bound, as FULL visible windows
    * (the bounded manifest query returns windows CLIPPED to the
    * bound; serving those would splice a sub-segment replacement —
    * correct for pure UPDATEs but it breaks the group contract the
    * write side assumes: roll windows must not overlap untouched
    * windows, and MERGE free-space inserts must be able to land
    * anywhere inside a scanned group). Matching the bounded hits back
    * to the unbounded list by manifest row keeps whole groups; a
    * window whose meta is shared by another visible window over-keeps
    * that sibling — a superset, safe for copy-on-write. */
  private lazy val allSegments: Seq[SegmentRead] = {
    val full = op.tableSegments // the operation's one snapshot
    if (start == null && stop == null) full
    else {
      // bounded query against the SAME snapshot manifest: reading
      // the live changelog here would let a concurrent commit land
      // between the two reads — its new metas would match nothing
      // in `full` and covered groups would silently drop out
      val hit = resolvedSeries
        .segments(start, stop, None, closed, from = op.tableManifest)
        .filter(_.meta.hasData).map(_.meta).toSet
      full.filter(s => hit.contains(s.meta))
    }
  }

  /** Post-static-pruning statistics from the MANIFEST (no file IO),
    * shared with [[GraftScan]]: the join planner in a MERGE rewrite
    * or group-filter subquery sees the size of the groups actually
    * scanned, not the whole table — a selective operation's scanned
    * groups are broadcast-sized next to a bulk source even when the
    * table is not. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    GraftPlanning.manifestStatistics(allSegments, table.gschema)

  override def readSchema(): StructType = table.gschema.sparkSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCowScan ${table.name()}" +
      (if (start != null || stop != null) " bounded=static" else "") +
      (if (skipRuntimeFilter) " runtimeFilter=skipped" else "")

  private var runtimeKeep: Option[Seq[Any]] = None

  /** empty when the static index bound already covers every matched
    * group — `RowLevelOperationRuntimeGroupFiltering` then plans no
    * subquery at all */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (skipRuntimeFilter) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(table.gschema.idx.head.name))

  override def filter(filters: Array[Filter]): Unit =
    IndexInterval.headValues(table.gschema, filters)
      .foreach(v => runtimeKeep = Some(v))

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = IndexInterval.headPruned(table.gschema, allSegments,
      runtimeKeep)
    op.replacedRanges = kept.map(s => (s.start, s.stop, s.closed))
    val reqNames = table.gschema.names
    kept.flatMap(seg => GraftPlanning.partitionsFor(resolvedSeries,
      table.gschema, reqNames, seg, null)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPlanning.readerFactory()

  op.groupChoice = (staticExact, skipRuntimeFilter && !staticExact)

  /** the group choice itself is the write's ([[GraftRowLevelOperation
    * .groupMetrics]]); the scan reports what the runtime filter kept */
  override def supportedCustomMetrics() = {
    import GraftMetrics._
    declare(readMetrics ++
      Option.when(!skipRuntimeFilter)(SegmentsRuntimeKept): _*)
  }

  override def reportDriverMetrics() =
    runtimeKeep.map(_ => GraftMetrics.value(
      GraftMetrics.SegmentsRuntimeKept, op.replacedRanges.length)).toArray
}

/** The copy-on-write write: the engine's one-job staged write (same
  * TaskSegmentWriter, same per-file stats channel), with region-aware
  * file rolling and a commitReplace instead of the append splice. */
class GraftCowWrite(table: GraftTable, op: GraftRowLevelOperation)
    extends Write
    with org.apache.spark.sql.connector.write
      .RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution,
    Distributions}
  import org.apache.spark.sql.connector.expressions.SortOrder

  private def idxOrders: Array[SortOrder] =
    GraftPlanning.indexOrdering(table.gschema)

  /** Rewrite-DELETE needs NO distribution: its output is a strict
    * SUBSET of the scanned rows under narrow operators (scan →
    * filter), so the scan's per-window partitions arrive still
    * index-sorted and range-disjoint — exactly what the rolling
    * writers need. Requiring `ordered` here would buy nothing and
    * cost a RangePartitioner sample job + a full shuffle+sort per
    * statement. UPDATE can rewrite index values (`SET ts = ...`)
    * and MERGE unions in source rows, so both keep the global sort;
    * the in-partition ordering requirement below stays for DELETE
    * (a no-op local sort over already-sorted partitions, dropped by
    * `RemoveRedundantSorts` once the scan reports its ordering). */
  override def requiredDistribution(): Distribution =
    if (op.command() == RowLevelOperation.Command.DELETE)
      Distributions.unspecified()
    else Distributions.ordered(idxOrders)
  override def requiredOrdering(): Array[SortOrder] = idxOrders

  /** Sort width: a SINGLE-PAGE series (UPDATE/DELETE only — those
    * rewrites can never emit more rows than the table holds) requires
    * exactly one sorted partition, where `RangePartitioner` skips its
    * sampling pass entirely — one whole Spark job saved per
    * small-table statement. Every other case returns 0 (no
    * requirement) so AQE sizes the sort from the rows ACTUALLY
    * rewritten: forcing table-page-many partitions would shatter a
    * narrow rewrite into that many tiny files (an exact requirement
    * disables AQE coalescing), progressively fragmenting the very
    * segments page_len sizes — and MERGE inserts are bounded by the
    * SOURCE, which can dwarf a small target. */
  override def requiredNumPartitions(): Int = {
    // MERGE: AQE sizes the sort (see above). DELETE: unspecified
    // distribution — Spark refuses a partition count without one
    // (and there is no sample job to save anyway).
    if (op.command() != RowLevelOperation.Command.UPDATE) return 0
    val totalRows = op.tableSegments.map(_.meta.length).sum
    if (totalRows <= table.series.collection.pageLen) 1 else 0
  }

  override def supportedCustomMetrics() = {
    import GraftMetrics._
    declare(FilesWritten, SegmentsTotal, SegmentsKept, GroupsStatic,
      GroupsTinySkip)
  }

  override def reportDriverMetrics() = op.groupMetrics

  override def toBatch: BatchWrite =
    new GraftCowBatchWrite(table, table.series.collection.taskParams(), op)
}

class GraftCowBatchWrite(table: GraftTable,
    params: SegmentWriter.TaskParams, op: GraftRowLevelOperation)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    // the scan plans before the write job materializes (its RDD
    // partitions are computed first), so the replaced windows are
    // known here; fail loudly if that execution-order assumption
    // ever breaks rather than writing unsplittable files
    val ranges = op.replacedRanges
    require(ranges != null,
      "graft row-level write started before its scan planned — " +
        "cannot determine the replaced groups")
    // roll boundaries = replaced windows PLUS the untouched visible
    // windows: a staged file must never straddle an existing segment
    // either, or commitReplace's per-file gap splices (and its
    // occupied-space check) would have to refuse legitimate inserts
    // that merely bracket untouched data
    val gs = params.gschema
    val replacedSet = ranges.toSet
    val untouched = op.tableSegments
      .map(s => (s.start, s.stop, s.closed))
      .filterNot(replacedSet.contains)
    val rollWindows = (ranges ++ untouched)
      .sortWith((a, b) => gs.cmpKey(a._1, b._1) < 0)
    new GraftCowWriterFactory(params,
      new SegmentWriter.SerConf(
        SparkSession.active.sessionState.newHadoopConf()),
      new RangeRegions(gs, rollWindows.toIndexedSeq))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val stats = GraftCommitMessage.stats(messages)
    val series = table.series
    try series.commitReplace(stats, op.replacedRanges)
    finally series.collection.repo.store.rm(params.tmpRel,
      recursive = true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    table.series.collection.repo.store.rm(params.tmpRel,
      recursive = true)
}

class GraftCowWriterFactory(params: SegmentWriter.TaskParams,
    conf: SegmentWriter.SerConf, regions: RangeRegions)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftCowDataWriter(
      new SegmentWriter.TaskSegmentWriter(params, conf.value,
        partitionId, taskId), params, regions)
}

/** Rolls the underlying segment writer whenever a row crosses into a
  * different replaced window (or gap), so each staged file maps to
  * exactly one region — the property commitReplace's per-window
  * splices rely on.
  *
  * Incoming rows may carry ONE extra leading column: Spark's
  * group-based ReplaceData tags every row with a `__row_operation`
  * marker, and (Spark 4.1, `ReplaceDataExec.writingTask`) strips it
  * via the data projection ONLY on the metadata-attributes path — a
  * connector with no metadata columns receives the raw tagged row
  * while `LogicalWriteInfo.schema()` still reports the bare table
  * schema. The first row's field count decides the shift; a
  * zero-copy delegating view re-aligns the columns for the segment
  * writer (whose stats/digest read positions 0..n-1). */
class GraftCowDataWriter(tw: SegmentWriter.TaskSegmentWriter,
    params: SegmentWriter.TaskParams, regions: RangeRegions)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val keyAt = new SegmentWriter.RowKeys(params.gschema)
  private val nCols = params.gschema.cols.length
  private var region = Int.MinValue
  private var started = false
  private var shift = -1
  private val shifted = new ShiftedInternalRow(nCols)
  private val metrics =
    Array(GraftMetrics.value(GraftMetrics.FilesWritten, tw.files))
  override def currentMetricsValues() = metrics

  override def write(row: InternalRow): Unit = {
    if (shift < 0) {
      shift = row.numFields - nCols
      require(shift == 0 || shift == 1,
        s"graft row-level write got ${row.numFields} columns for a " +
          s"$nCols-column table")
      shifted.off = shift
    }
    val r =
      if (shift == 0) row
      else { shifted.base = row; shifted }
    val reg = regions.regionOf(keyAt(r))
    if (started && reg != region) tw.rollNow()
    region = reg
    started = true
    tw.write(r)
  }

  override def commit(): WriterCommitMessage =
    GraftCommitMessage(tw.finish().map(_._2))
  override def abort(): Unit = tw.closeQuiet()
  override def close(): Unit = tw.closeQuiet()
}

/** Zero-copy view of an InternalRow with its first `off` columns
  * dropped (the ReplaceData operation marker). Read-only. */
private[sources] final class ShiftedInternalRow(n: Int)
    extends InternalRow {
  var base: InternalRow = _
  var off: Int = 0

  override def numFields: Int = n
  override def isNullAt(i: Int): Boolean = base.isNullAt(i + off)
  override def getBoolean(i: Int): Boolean = base.getBoolean(i + off)
  override def getByte(i: Int): Byte = base.getByte(i + off)
  override def getShort(i: Int): Short = base.getShort(i + off)
  override def getInt(i: Int): Int = base.getInt(i + off)
  override def getLong(i: Int): Long = base.getLong(i + off)
  override def getFloat(i: Int): Float = base.getFloat(i + off)
  override def getDouble(i: Int): Double = base.getDouble(i + off)
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(i + off, precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(i + off)
  override def getBinary(i: Int): Array[Byte] = base.getBinary(i + off)
  override def getInterval(i: Int)
      : org.apache.spark.unsafe.types.CalendarInterval =
    base.getInterval(i + off)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    base.getStruct(i + off, numFields)
  override def getArray(i: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    base.getArray(i + off)
  override def getMap(i: Int)
      : org.apache.spark.sql.catalyst.util.MapData =
    base.getMap(i + off)
  override def getVariant(i: Int)
      : org.apache.spark.unsafe.types.VariantVal =
    base.getVariant(i + off)
  override def getGeography(i: Int)
      : org.apache.spark.unsafe.types.GeographyVal =
    base.getGeography(i + off)
  override def getGeometry(i: Int)
      : org.apache.spark.unsafe.types.GeometryVal =
    base.getGeometry(i + off)
  override def get(i: Int, dt: org.apache.spark.sql.types.DataType)
      : AnyRef = base.get(i + off, dt)
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def copy(): InternalRow =
    // the segment writer consumes rows in place; a copy would need
    // the field dataTypes, which this transient view does not carry
    throw new UnsupportedOperationException(
      "ShiftedInternalRow is a transient write-path view")
}
