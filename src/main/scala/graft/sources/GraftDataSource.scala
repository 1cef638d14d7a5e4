package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
  JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder,
  Statistics, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Closed, ColDef, GType, GSchema, IndexKey,
  SegmentRead, SegmentWriter}
import graft.engine.SparkVals

/** `spark.read.format("graft")` — the SQL-first entry into the
  * engine: a DataSourceV2 TableProvider whose ScanBuilder receives
  * the query's pushed index-column predicates and drives MANIFEST
  * segment pruning with them, so a plain
  * `spark.sql("SELECT … WHERE ts < X")` over a registered graft
  * table opens only the covering segment files — the same pruning
  * the `Series.frame(start, stop)` API performs, now available to a
  * SQL user who never touches the Scala API (the mechanism Delta
  * uses for the same job: TableProvider + ScanBuilder).
  *
  * Options: `path` (repo root), `collection`, `series`,
  * `before` (optional time travel — epoch millis or ISO-8601, the
  * changelog revision clock of `Series.frame(beforeMs)`).
  *
  * Semantics = `Series.frame()`, through the same read planner
  * ([[GraftPlanning.packed]]): splice-clipped segments are sliced IN
  * the reader by a bisect of their sorted index, manifest-inline
  * micro-segments are served as one batch each, clone renames/defaults
  * are resolved per file. Pushed filters are used for
  * pruning and REMAIN residual — Spark re-applies every predicate
  * above the scan, so a partially-usable filter can never change
  * results.
  */
/** shared option parsing: errors NAME the option, timestamp options
  * accept the same forms everywhere (epoch millis, ISO instant, bare
  * local date/datetime read as UTC — the engine convention) */
private[sources] object GraftOptions {
  def epochMs(name: String, s: String): Long =
    try s.toLong
    catch {
      case _: NumberFormatException =>
        try java.time.Instant.parse(s).toEpochMilli // offset/Z forms
        catch {
          case _: java.time.format.DateTimeParseException =>
            val t = s.replace(" ", "T") match {
              case d if d.length == 10 => d + "T00:00:00"
              case d => d
            }
            try java.time.LocalDateTime.parse(t)
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"graft: option '$name' must be epoch millis or an " +
                    s"ISO date/datetime, got '$s'")
            }
        }
    }

  def nonNegLong(name: String, s: String): Long = {
    val n = try java.lang.Long.parseLong(s)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft: option '$name' must be a non-negative integer, " +
            s"got '$s'") }
    require(n >= 0,
      s"graft: option '$name' must be a non-negative integer, got '$s'")
    n
  }
}

class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def resolve(options: CaseInsensitiveStringMap): GraftTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft: missing 'path' option"))
    val clct = Option(options.get("collection")).getOrElse(
      throw new IllegalArgumentException(
        "graft: missing 'collection' option"))
    val series = Option(options.get("series")).getOrElse("_")
    val beforeMs = Option(options.get("before"))
      .map(GraftOptions.epochMs("before", _))
    new GraftTable(path, clct, series, beforeMs)
  }

  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options).schema()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    resolve(new CaseInsensitiveStringMap(properties))
}

/** Driver-side planning state: segments are resolved from the
  * manifest lazily per scan, AFTER filters arrive. */
class GraftTable(rootUri: String, collectionName: String,
    seriesLabel: String, beforeMs: Option[Long])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog
      .SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog
      .SupportsMetadataColumns {

  private[sources] def series: graft.api.Series = {
    val spark = SparkSession.active
    val repo = new graft.api.Repo(rootUri, spark)
    val clct = repo.collection(collectionName).getOrElse(
      throw new IllegalArgumentException(
        s"graft: no collection '$collectionName' under $rootUri"))
    clct.series(seriesLabel)
  }

  private[sources] lazy val gschema: GSchema = series.collection.schema

  override def name(): String =
    s"graft.`$rootUri`.$collectionName.$seriesLabel"
  override def schema(): StructType = gschema.sparkSchema
  /** surfaced in DESCRIBE TABLE EXTENDED */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    series.collection.pageLenCfg.foreach(n =>
      m.put("page_len", n.toString))
    if (gschema.kv) m.put("kv", "true")
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE)
  /** Hidden PROVENANCE column (the Iceberg/Delta `_file` idiom):
    * `SELECT _file, ...` surfaces the store-relative segment file
    * serving each row (null for manifest-inline micro-rows) — it
    * joins against the `.segments` metadata table's `files` for
    * surgical repair flows. Never stored, excluded from `SELECT *`
    * and writes; projected as a per-partition constant, no file IO. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftPlanning.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = true
      override def comment(): String =
        "store-relative segment file serving this row " +
          "(null for manifest-inline rows)"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(this, beforeMs,
      options.getOrDefault("stream.starting", "earliest") == "latest",
      options.getOrDefault("stream.rewrites", "emit") == "skip",
      GraftOptions.nonNegLong("stream.maxRevisionsPerTrigger",
        options.getOrDefault("stream.maxRevisionsPerTrigger", "0")),
      Option(options.get("stream.startingTimestamp"))
        .map(GraftOptions.epochMs("stream.startingTimestamp", _)),
      // DEFAULT ON (round 12): along a linear history the frontier
      // holds exactly one head, so the offset and per-batch work are
      // identical to the single-anchor mode; a fork costs one
      // revision-id string per un-healed head (transient — the heal
      // collapses it) plus a cached manifest decode per head per
      // batch. Exactly-once across heals is what CDC consumers
      // assume; "false" opts back into the smaller at-least-once
      // offset for extreme fork widths.
      options.getOrDefault("stream.forkDedup", "true") == "true")
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(this, info)

  /** SQL UPDATE / MERGE / rewrite-DELETE — group-based copy-on-write
    * over visible segment windows ([[GraftRowLevelOperation]]).
    * Index-range DELETEs still take the metadata-only SupportsDelete
    * route via Spark's OptimizeMetadataOnlyDeleteFromTable. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(this, info.command())

  // ---- SQL DELETE — the engine's native delete IS metadata-only
  // (a manifest tombstone row, no data job), so `DELETE FROM g WHERE
  // <index range>` maps 1:1 onto `Series.delete`. Accepted only when
  // the WHERE is EXACTLY expressible as tombstones: a conjunction
  // that folds into one exact index interval ([[IndexInterval]]:
  // equalities extend an index prefix, the first range column
  // terminates it), or a single IN/= list on the head column (one
  // tombstone per value, one batched commit). Anything else — a
  // value-column predicate, disjunctions — is declined here and
  // falls back to the copy-on-write rewrite path
  // (GraftRowLevelOperation) via Spark's
  // OptimizeMetadataOnlyDeleteFromTable dichotomy: metadata-only
  // when exact, group rewrite otherwise, never silently wrong.
  // A one-sided range substitutes the manifest's
  // recorded extreme for the missing side (exact for the snapshot's
  // rows). DELETE without WHERE = truncate: one commit that drops the
  // series' manifest rows; history stays readable.

  private[sources] sealed trait DeletePlan
  private[sources] case object DeleteAll extends DeletePlan
  private[sources] case class DeleteRange(range: IndexInterval.Interval)
      extends DeletePlan
  private[sources] case class DeleteKeys(values: Seq[Any])
      extends DeletePlan

  private[sources] def deletePlan(filters: Array[Filter])
      : Option[DeletePlan] = {
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.isEmpty) return Some(DeleteAll)
    val head = gschema.idx.head
    real match {
      case Array(In(c, vs)) if c == head.name && vs.nonEmpty &&
          !vs.contains(null) =>
        Some(DeleteKeys(vs.toSeq.map(v =>
          SparkVals.parseBound(head.dtype, v)).distinct))
      case _ =>
        val range = new IndexInterval.Fold(gschema, real.toSeq).interval
        Option.when(range.exact)(DeleteRange(range))
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deletePlan(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit =
    deletePlan(filters) match {
      case None => throw new UnsupportedOperationException(
        s"graft DELETE needs an index-range WHERE; got " +
          filters.mkString(", "))
      case Some(p) =>
        val s = series
        s.collection.multi { applyDelete(s, p) } // one commit
    }

  /** execute a resolved delete plan (shared by SQL DELETE and the
    * replaceWhere overwrite commit — batchable inside multi()) */
  private[sources] def applyDelete(s: graft.api.Series,
      plan: DeletePlan): Unit = plan match {
    case DeleteAll =>
      // on the PASSED series: Collection.multi batching is
      // instance-scoped, so truncateTable()'s fresh resolution would
      // commit outside the enclosing batch
      s.collection.truncateWrite(s.label, Seq.empty)
    case DeleteKeys(vs) =>
      vs.foreach(v => s.delete(IndexKey(Vector(v)),
        IndexKey(Vector(v))))
    case DeleteRange(IndexInterval.Interval(startK, stopK, closed, _)) =>
      // one-sided range: substitute the manifest's recorded extreme
      // (exact for the rows this snapshot holds). Head/tail pruned
      // walks against ONE revision snapshot, NOT a full decode — a
      // one-sided DELETE against a 1e6-segment table must stay
      // O(touched) like every other planning path, and two
      // independent leaf reads could straddle a concurrent commit
      // into a [st, sp] window no snapshot ever held.
      val bounds =
        if (startK != null && stopK != null) null
        else s.collection.labelBoundsSnapshot(s.label, closed)
          .getOrElse(return)
      val st =
        if (startK != null) startK
        else {
          val head = bounds._1.filter(_.meta.hasData)
          if (head.isEmpty) return
          head.head.start
        }
      val sp =
        if (stopK != null) stopK
        else {
          val tail = bounds._2.filter(_.meta.hasData)
          if (tail.isEmpty) return
          tail.last.stop
        }
      // empty range: no-op. Cut order, as the splice checks it: a > 5
      // over a table ending at (5, 39) runs from (5), left-open, to
      // (5, 39) — past all of group 5 before it starts
      if (gschema.inverted(st, sp, closed)) return
      s.delete(st, sp, closed)
  }

  override def truncateTable(): Boolean = {
    val s = series
    s.collection.truncateWrite(s.label, Seq.empty)
    true
  }
}

class GraftScanBuilder(table: GraftTable, beforeMs: Option[Long],
    streamStartLatest: Boolean = false,
    streamSkipRewrites: Boolean = false,
    streamMaxRevs: Long = 0L,
    streamStartTs: Option[Long] = None,
    streamForkDedup: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val idxCols: Seq[ColDef] = table.gschema.idx
  // predicates on ANY index column collect per-column bounds (the
  // interval build() passes on); value-column comparisons and IN lists
  // collect bounds for segment-stats skipping
  private var fold =
    new IndexInterval.Fold(table.gschema, Nil)
  private var required: Option[StructType] = None
  private var limitN: Option[Int] = None
  private var limitReversed = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    fold = new IndexInterval.Fold(table.gschema, filters.toSeq)
    filters // everything stays residual: Spark re-applies above scan
  }
  override def pushedFilters(): Array[Filter] = fold.accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** LIMIT k over the bare scan: the manifest's prefix-covering logic
    * answers it with the fewest leading segments (partial push — Spark
    * re-applies the limit above, so over-serving is safe). */
  override def pushLimit(limit: Int): Boolean = {
    limitN = Some(limit); true
  }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY <idx prefix> LIMIT k: manifest order IS index order, so
    * an ascending top-k needs only the leading covering segments and a
    * descending one only the trailing (partial push — Spark still
    * sorts/limits the reduced input above the scan). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{
      NamedReference, SortDirection}
    if (orders.isEmpty || orders.length > idxCols.length) return false
    val names = orders.map(_.expression() match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        r.fieldNames()(0)
      case _ => return false
    })
    if (!names.sameElements(idxCols.take(names.length).map(_.name)))
      return false
    val dirs = orders.map(_.direction()).distinct
    if (dirs.length != 1) return false
    limitN = Some(limit)
    limitReversed = dirs.head == SortDirection.DESCENDING
    true
  }

  /** `SELECT count(*) / min(idx) / max(idx) FROM g` answered from the
    * MANIFEST — no file IO at all, like Delta's metadata-only count.
    * Accepted only for ungrouped aggregates the metadata answers
    * EXACTLY: count(*) / count(non-null index col) = sum of visible
    * row lengths, min/max of the FIRST index column = the first/last
    * visible segment's recorded data bounds — and only when every
    * visible segment is fully visible (an overlay-clipped segment's
    * visible count/extremes are unknowable without reading it: the
    * whole aggregation is then rejected and planned as a normal
    * scan). Filtered queries never reach here: every WHERE stays a
    * residual post-scan filter, and Spark only offers aggregate
    * pushdown when no post-scan filters remain. */
  private var aggPush: Option[(StructType, Seq[Any])] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = aggPush.isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.groupByExpressions().nonEmpty) return false
    if (limitN.isDefined) return false
    val head = idxCols.head
    def headRef(e: org.apache.spark.sql.connector.expressions
        .Expression): Boolean = e match {
      case r: NamedReference => r.fieldNames().sameElements(
        Array(head.name))
      case _ => false
    }
    def idxRef(e: org.apache.spark.sql.connector.expressions
        .Expression): Boolean = e match {
      case r: NamedReference => r.fieldNames().length == 1 &&
        idxCols.exists(_.name == r.fieldNames()(0))
      case _ => false
    }
    // resolve the plan BEFORE accepting: any clipped segment rejects.
    // Plan-time snapshot = the query's snapshot (same beforeMs).
    val series = table.series
    val segs = series.segments(null, null, beforeMs)
      .filter(_.meta.hasData)
    if (!segs.forall(_.coversData(table.gschema)))
      return false
    val cnt: java.lang.Long = segs.map(_.meta.length).sum
    // SUM over an integer value column answers from per-segment
    // recorded sums — exact (token budgets, counts) — when every
    // visible segment carries the entry and the column has no
    // registry DEFAULT (stored nulls would read as the default)
    def sumOf(e: org.apache.spark.sql.connector.expressions
        .Expression): Option[java.lang.Long] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        val n = r.fieldNames()(0)
        table.gschema.cols.find(c => c.name == n && !c.idx &&
          c.dtype == GType.IntT) match {
          case Some(_)
              if !series.collection.defaults.contains(n) =>
            val phys = series.collection.physOf(n)
            val per = segs.map(_.meta.vsums.flatMap(_.get(phys)))
            if (per.isEmpty || per.exists(_.isEmpty)) None
            else try Some(per.flatten
              .foldLeft(0L)((a, b) => Math.addExact(a, b)))
            catch { case _: ArithmeticException => None }
          case _ => None
        }
      case _ => None
    }
    def minHead: Any =
      segs.headOption.flatMap(_.meta.dataStart).map(k =>
        GraftRead.kernelToInternal(head.dtype, k.values(0))).orNull
    def maxHead: Any =
      segs.lastOption.flatMap(_.meta.dataStop).map(k =>
        GraftRead.kernelToInternal(head.dtype, k.values(0))).orNull
    val out = agg.aggregateExpressions().map {
      case _: CountStar =>
        Some((org.apache.spark.sql.types.StructField("count(*)",
          org.apache.spark.sql.types.LongType, nullable = false), cnt))
      case c: Count if !c.isDistinct && idxRef(c.column) =>
        // index columns are non-null by schema: count(col) = count(*)
        Some((org.apache.spark.sql.types.StructField("count",
          org.apache.spark.sql.types.LongType, nullable = false), cnt))
      case m: Min if headRef(m.column) =>
        Some((org.apache.spark.sql.types.StructField("min",
          head.dtype.sparkType, nullable = true), minHead))
      case m: Max if headRef(m.column) =>
        Some((org.apache.spark.sql.types.StructField("max",
          head.dtype.sparkType, nullable = true), maxHead))
      case s: Sum if !s.isDistinct =>
        sumOf(s.column).map(v =>
          (org.apache.spark.sql.types.StructField("sum",
            org.apache.spark.sql.types.LongType, nullable = true),
            v: Any))
      case _ => None
    }
    if (out.exists(_.isEmpty)) return false
    val resolved = out.flatten
    aggPush = Some((StructType(resolved.map(_._1)),
      resolved.map(_._2).toSeq))
    true
  }

  override def build(): Scan = {
    val range = fold.interval
    new GraftScan(table, range.start, range.stop, range.closed, beforeMs,
      aggPush.map(_._1).orElse(required).getOrElse(table.schema()),
      fold.accepted.map(_.toString).toSeq, streamStartLatest,
      limitN, limitReversed, streamSkipRewrites, streamMaxRevs,
      aggPush, fold.valueQuery, streamStartTs, streamForkDedup)
  }
}

class GraftScan(table: GraftTable, start: IndexKey, stop: IndexKey,
    closed: Closed, beforeMs: Option[Long], required: StructType,
    pushedDesc: Seq[String], streamStartLatest: Boolean = false,
    limit: Option[Int] = None, limitReversed: Boolean = false,
    streamSkipRewrites: Boolean = false,
    streamMaxRevs: Long = 0L,
    aggPush: Option[(StructType, Seq[Any])] = None,
    vquery: Seq[(String, GType, Any, Boolean, Any, Boolean)] = Nil,
    streamStartTs: Option[Long] = None,
    streamForkDedup: Boolean = false)
    extends Scan with Batch
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Per-PARTITION ordering, declared to Catalyst: every planned
    * partition serves index-sorted slices of segment files (or inline
    * runs) that never go back in index order ([[GraftPlanning.packed]]),
    * and slicing / default fills preserve that order — so
    * the scan reports the longest prefix of index columns that
    * survives column pruning, ascending (nulls-first, the engine's
    * index order). `RemoveRedundantSorts` then drops any
    * within-partition SortExec on the index (`sortWithinPartitions`,
    * local-sort requirements) — a GLOBAL `ORDER BY` keeps its
    * exchange+sort, since the scan reports no partitioning (range
    * segments are not a KeyGroupedPartitioning, and this Spark has
    * no single-partition shortcut for v2 scans). Top-k `ORDER BY idx
    * LIMIT k` is already served by the pushed-TopN prefix cover. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    GraftPlanning.indexOrdering(table.gschema,
      required.fieldNames.toSet)

  /** Post-pruning statistics from the MANIFEST (no file IO): row
    * counts are recorded per segment at write time, so the join
    * planner sees the size of the data actually scanned — a graft
    * table filtered down to one segment broadcasts like the small
    * table it is. Clipped segments report their full stored length
    * (an upper bound — statistics are estimates). */
  override def estimateStatistics(): Statistics =
    GraftPlanning.manifestStatistics(plannedSegments, table.gschema)

  /** The plan node's label: segments planned of the manifest's total,
    * the pushed filters, the pushed limit and whether the aggregate is
    * answered from the manifest. The same counts, and the pruning
    * steps behind them, are the scan's metrics ([[GraftMetrics]]). */
  override def description(): String = {
    val segs = plannedSegments
    s"GraftScan ${table.name()} segments=${segs.length}/" +
      s"$totalSegments pushed=[${pushedDesc.mkString(", ")}]" +
      limit.map(l => s" limit=$l" +
        (if (limitReversed) " (desc)" else "")).getOrElse("") +
      (if (aggPush.isDefined) " agg=manifest" else "")
  }

  /** ONE resolution per scan: plannedSegments, planInputPartitions
    * and statistics all read the same changelog revision (a commit
    * landing mid-planning can never mix segment lists from one
    * revision with colMap/defaults from another), and the store
    * metadata loads once instead of once per planning step. */
  private lazy val resolvedSeries: graft.api.Series = table.series

  private lazy val (plannedSegments, totalSegments, statSkipped):
      (Seq[SegmentRead], Int, Option[Int]) = {
    val s = resolvedSeries
    // O(touched), not O(manifest): enumerating every segment (and
    // thus parsing every manifest chunk) to display a denominator
    // made COLD planning against a 1e6-segment table pay the full
    // decode the bisected prune exists to avoid
    val total = s.segmentCountFast(beforeMs)
    val covering1 = s.segments(start, stop, beforeMs, closed)
      .filter(_.meta.hasData)
    // data skipping on VALUE-column stats: drop segments whose
    // recorded per-column (min, max) is disjoint from the query's
    // bounds. Columns with a registry DEFAULT are exempt: a stored
    // null reads back as the default through the coalesce fill, so
    // null-skipped stats can not bound what the reader sees there.
    val covering0 =
      if (vquery.isEmpty) covering1
      else {
        val clct = s.collection
        val q = vquery.filterNot(v => clct.defaults.contains(v._1))
          .map { case (n, dt, lo, loC, hi, hiC) =>
            (clct.physOf(n), dt, lo, loC, hi, hiC) }
        if (q.isEmpty) covering1
        else {
          val kept = covering1.filterNot { seg =>
            seg.meta.vstats.exists { vs =>
              q.exists { case (phys, dt, lo, loC, hi, hiC) =>
                vs.get(phys).exists { case (rmn, rmx) =>
                  val mn = graft.core.Manifest.kernelValue(dt, rmn)
                  val mx = graft.core.Manifest.kernelValue(dt, rmx)
                  (lo != null && (dt.cmp(mx, lo) < 0 ||
                    (dt.cmp(mx, lo) == 0 && !loC))) ||
                  (hi != null && (dt.cmp(mn, hi) > 0 ||
                    (dt.cmp(mn, hi) == 0 && !hiC)))
                }
              }
            }
          }
          kept
        }
      }
    // pushed LIMIT k: the shortest run of segments GUARANTEED to hold
    // ≥ k rows (manifest order = index order; ascending limits take
    // the leading run, descending top-k the trailing). Only fully
    // visible segments contribute guaranteed rows — an overlay-clipped
    // one counts 0, so the cover can only over-serve, never starve the
    // re-applied limit above the scan.
    val covering = limit match {
      case Some(k) =>
        val ordered =
          if (limitReversed) covering0.reverse else covering0
        val out = Seq.newBuilder[SegmentRead]
        var guaranteed = 0L
        val it = ordered.iterator
        while (guaranteed < k && it.hasNext) {
          val seg = it.next()
          out += seg
          if (seg.coversData(table.gschema))
            guaranteed += seg.meta.length
        }
        val run = out.result()
        if (limitReversed) run.reverse else run
      case None => covering0
    }
    (covering, total,
      if (vquery.isEmpty) None else Some(covering1.length - covering0.length))
  }

  // ---- runtime filtering (DPP-style, [[IndexInterval.headValues]])
  private var runtimeKeep: Option[Seq[Any]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val head = table.gschema.idx.head.name
    // only offer the runtime-filter key while it survives column
    // pruning: Spark resolves these refs against the scan OUTPUT, so
    // naming a pruned-away column is an analysis error (surfaced by
    // metadata-only projections like `SELECT _file`)
    if (required.fieldNames.contains(head))
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(head))
    else Array.empty
  }

  override def filter(filters: Array[Filter]): Unit =
    IndexInterval.headValues(table.gschema, filters)
      .foreach(v => runtimeKeep = Some(v))

  private def runtimePruned(segs: Seq[SegmentRead]): Seq[SegmentRead] =
    IndexInterval.headPruned(table.gschema, segs, runtimeKeep)

  override def planInputPartitions(): Array[InputPartition] =
    aggPush match {
      case Some((_, values)) =>
        Array[InputPartition](GraftAggPartition(values.toVector))
      case None =>
        GraftPlanning.packed(resolvedSeries, table.gschema,
          required.fields.map(_.name).toSeq,
          runtimePruned(plannedSegments).flatMap(GraftPlanning.sources))
    }

  override def supportedCustomMetrics() = {
    import GraftMetrics._
    declare(Seq(SegmentsTotal, SegmentsKept) ++ readMetrics ++
      Option.when(vquery.nonEmpty)(SegmentsStatSkipped) ++
      Option.when(filterAttributes().nonEmpty)(SegmentsRuntimeKept) ++
      Option.when(aggPush.isDefined)(AggFromManifest): _*)
  }

  /** Called by Spark once the batch's partitions are planned. */
  override def reportDriverMetrics() = {
    import GraftMetrics._
    (Seq(value(SegmentsTotal, totalSegments),
      value(SegmentsKept, plannedSegments.length)) ++
      statSkipped.map(value(SegmentsStatSkipped, _)) ++
      runtimeKeep.map(_ =>
        value(SegmentsRuntimeKept, runtimePruned(plannedSegments).length)) ++
      aggPush.map(_ => value(AggFromManifest, 1))).toArray
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(table, required, streamStartLatest,
      streamSkipRewrites, streamMaxRevs, streamStartTs,
      streamForkDedup)

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPlanning.readerFactory()
}

/** `INSERT INTO` / `df.write.format("graft").mode(...)` — the
  * DataSourceV2 write path into the engine. The physical shape is the
  * engine's own one-job bulk write ([[SegmentWriter.TaskSegmentWriter]]
  * per task: roll ≤ pageLen-row engine-format parquet files, return
  * per-file count/min/max/content-hash inline), so a SQL insert pays
  * exactly what `Series.write` pays: ONE distributed job, no read-back
  * scan, one metadata commit. Sorting is requested declaratively via
  * [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]
  * (Spark plans the range-shuffle + sort INSIDE the write job — the V2
  * counterpart of the API path's repartitionByRange), or skipped
  * entirely with `option("presorted", "true")`, which mirrors
  * `write(df, presorted = true)`: trusted but verified per row
  * in-task, with file-range disjointness re-checked at seal time.
  * `mode("overwrite")` (SupportsTruncate) replaces THIS series only —
  * a single commit whose manifest drops the series' rows and splices
  * the new ones, so other series in the collection and all history
  * (time travel) stay intact. Semantics = `Series.write` range
  * overlay; KV upsert merge is an API-only surface. */
class GraftWriteBuilder(table: GraftTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var truncateMode = false
  private var overwritePlan: Option[table.DeletePlan] = None

  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateMode = true; this
  }

  /** `df.writeTo(...).overwrite(cond)` / INSERT ... REPLACE WHERE —
    * Delta's replaceWhere for the versioned store: the condition must
    * be an index range (same algebra as SQL DELETE), and the commit
    * tombstones that range + splices the new rows atomically. The
    * written rows must FALL WITHIN the range (checked against the
    * staged files' bounds before anything commits) — the day-backfill
    * contract: replace exactly what you said you would. */
  override def overwrite(filters: Array[Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    table.deletePlan(filters) match {
      case Some(table.DeleteAll) => truncateMode = true
      case Some(r: table.DeleteRange) => overwritePlan = Some(r)
      case _ => throw new UnsupportedOperationException(
        s"graft overwrite needs an index-range condition (the range " +
          s"to replace); got ${filters.mkString(", ")}")
    }
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    // kv collections MERGE on write (first-wins upsert) — a plain
    // splice would silently skip the merge, so refuse rather than
    // diverge from the API's semantics
    require(!table.gschema.kv,
      "graft: kv (upsert) collections merge on write — use the " +
        "Series API (KVSeries.write); SQL INSERT cannot express it")
    val expect = table.gschema.sparkSchema
    val got = info.schema()
    require(got.length == expect.length &&
      got.fields.zip(expect.fields).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType },
      s"graft write schema mismatch: got ${got.simpleString}, " +
        s"table is ${expect.simpleString}")
    new GraftWrite(table,
      info.options().getBoolean("presorted", false), truncateMode,
      info.queryId(), overwritePlan)
  }
}

class GraftWrite(table: GraftTable, presorted: Boolean,
    truncate: Boolean, queryId: String = "",
    overwritePlan: Option[GraftTable#DeletePlan] = None)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write
      .RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution,
    Distributions}
  import org.apache.spark.sql.connector.expressions.SortOrder

  private def idxOrders: Array[SortOrder] =
    GraftPlanning.indexOrdering(table.gschema)

  // presorted = the caller's declaration that the input is already
  // globally sorted (lakota's own write precondition): no shuffle, no
  // sort — the task-side order verify + seal-time disjointness check
  // still reject a false declaration before anything commits
  override def requiredDistribution(): Distribution =
    if (presorted) Distributions.unspecified()
    else Distributions.ordered(idxOrders)
  override def requiredOrdering(): Array[SortOrder] =
    if (presorted) Array.empty else idxOrders

  override def supportedCustomMetrics() =
    GraftMetrics.declare(GraftMetrics.FilesWritten)

  override def toBatch
      : org.apache.spark.sql.connector.write.BatchWrite =
    new GraftBatchWrite(table,
      table.series.collection.taskParams(verifySorted = presorted),
      truncate, overwritePlan)

  /** `df.writeStream.format("graft")` — each micro-batch commits as
    * ONE engine revision (the same staged write + manifest splice the
    * batch path uses; the per-epoch shuffle+sort comes from this
    * Write's distribution requirement, honored by micro-batch plans).
    * Exactly-once visible state: a per-query marker file records the
    * last committed epoch, so a replayed epoch after restart is
    * skipped — and even inside the tiny commit-then-mark window, a
    * replayed commit splices identical content-addressed files over
    * the identical range, leaving the visible rows unchanged.
    * `outputMode("complete")` maps to the per-epoch series truncate. */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftStreamingWrite(table, presorted, truncate, queryId)
}

/** per-task stats travel back in the commit message — the write's
  * ONLY metadata channel, exactly like the bulk job's collect */
final case class GraftCommitMessage(
    stats: Seq[SegmentWriter.FileStat])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

object GraftCommitMessage {
  /** the staged files' stats of every task of one write */
  def stats(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Seq[SegmentWriter.FileStat] = messages.toSeq.flatMap {
    case GraftCommitMessage(s) => s
    case other => throw new IllegalStateException(
      s"unexpected commit message: $other")
  }
}

class GraftBatchWrite(table: GraftTable,
    params: SegmentWriter.TaskParams, truncate: Boolean,
    overwritePlan: Option[GraftTable#DeletePlan] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory,
    PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new GraftWriterFactory(params, new SegmentWriter.SerConf(
      SparkSession.active.sessionState.newHadoopConf()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val stats = GraftCommitMessage.stats(messages)
    val series = table.series
    try overwritePlan match {
      case None => series.commitStaged(stats, truncate)
      case Some(plan) =>
        // replaceWhere: the written rows must fall within the
        // declared range — refuse before anything commits
        plan match {
          case table.DeleteRange(range) if stats.nonEmpty =>
            val gs = table.gschema
            val mn = stats.map(_.min).reduce((a, b) =>
              if (gs.cmpKey(a, b) <= 0) a else b)
            val mx = stats.map(_.max).reduce((a, b) =>
              if (gs.cmpKey(a, b) >= 0) a else b)
            require(gs.within(mn, mx, range.start, range.stop,
              range.closed),
              s"graft overwrite: written rows [$mn, $mx] fall " +
                s"outside the replace range [${range.start}, ${range.stop}]")
          case _ => ()
        }
        series.collection.multi {
          table.applyDelete(series,
            plan.asInstanceOf[table.DeletePlan])
          series.commitStaged(stats, truncate = false)
        }
    }
    finally series.collection.repo.store.rm(params.tmpRel,
      recursive = true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    table.series.collection.repo.store.rm(params.tmpRel,
      recursive = true)
}

/** The streaming half of the connector write: fresh staging per
  * epoch, one changelog commit per micro-batch, replayed
  * epochs skipped via the per-query marker (see GraftWrite.toStreaming
  * scaladoc for the exactly-once argument). */
class GraftStreamingWrite(table: GraftTable, presorted: Boolean,
    truncate: Boolean, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo,
    WriterCommitMessage}

  // one resolution per streaming query, not per epoch store access
  private lazy val resolvedSeries = table.series
  private def store = resolvedSeries.collection.repo.store
  private val qdir =
    s"streams/${queryId.replaceAll("[^A-Za-z0-9-]", "_")}"
  // the CURRENT epoch's staging dir (micro-batches are serial per
  // query; null before the first epoch). Each epoch gets FRESH
  // staging params: gc's staging sweep ages dirs by their hextime
  // prefix, so a long-running stream must not reuse one dir across
  // epochs — the sweep would reap it mid-flight once the query
  // outlives the gc timeout.
  @volatile private var currentRel: String = null

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    val p = resolvedSeries.collection.taskParams(verifySorted = presorted)
    currentRel = p.tmpRel
    new GraftWriterFactory(p, new SegmentWriter.SerConf(
      SparkSession.active.sessionState.newHadoopConf()))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val marker = s"$qdir/e$epochId"
    try {
      if (store.exists(marker)) return // replayed epoch: already in
      val stats = GraftCommitMessage.stats(messages)
      val series = table.series
      if (stats.nonEmpty || truncate)
        series.commitStaged(stats, truncate)
      store.write(marker, Array.emptyByteArray)
      // only the latest epoch can replay after a restart — older
      // markers are dead weight
      store.rm(s"$qdir/e${epochId - 1}")
    } finally rmStaging()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = rmStaging()

  private def rmStaging(): Unit =
    if (currentRel != null) store.rm(currentRel, recursive = true)
}

/** Task-side writers of the batch write and of one streaming epoch
  * (each epoch stages under its own [[GraftStreamingWrite]] params). */
class GraftWriterFactory(params: SegmentWriter.TaskParams,
    conf: SegmentWriter.SerConf)
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(
      new SegmentWriter.TaskSegmentWriter(params, conf.value,
        partitionId, taskId))
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

class GraftDataWriter(tw: SegmentWriter.TaskSegmentWriter)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  // Spark polls this every few rows and once before the commit
  private val metrics =
    Array(GraftMetrics.value(GraftMetrics.FilesWritten, tw.files))
  override def write(row: InternalRow): Unit = tw.write(row)
  override def currentMetricsValues() = metrics
  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage =
    GraftCommitMessage(tw.finish().map(_._2))
  override def abort(): Unit = tw.closeQuiet()
  override def close(): Unit = tw.closeQuiet()
}

/** Planning helpers shared by the batch scan and the micro-batch
  * stream: segment → InputPartitions, and the reader factory with
  * the task-side Hadoop conf Spark's parquet machinery needs. */
private[graft] object GraftPlanning {

  /** Manifest-derived Statistics (no file IO) shared by the regular
    * scan and the COW scan: recorded per-segment row counts times a
    * coarse per-dtype width. Clipped segments report their full
    * stored length (an upper bound — statistics are estimates). */
  def manifestStatistics(segs: => Seq[SegmentRead], gs: GSchema)
      : Statistics = new Statistics {
    private lazy val rows: Long = segs.map(_.meta.length).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * rowWidth(gs))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  /** Ascending index order over the leading index columns in
    * `present` (all of them by default): what a graft scan partition
    * serves and what a graft write requires. */
  def indexOrdering(gs: GSchema, present: String => Boolean = _ => true)
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions,
      SortDirection}
    gs.idxNames.takeWhile(present).map(n => Expressions.sort(
      Expressions.column(n), SortDirection.ASCENDING)).toArray
  }

  /** the hidden provenance metadata column (SupportsMetadataColumns):
    * the store-relative segment file serving each row (null for
    * manifest-inline rows) — joinable against `.segments`.files */
  val FileCol = "_file"

  /** A scan input: the visible rows of one stored source of `seg` —
    * its file `file`, or its manifest-inline rows when `file` is null —
    * of which `skip` are dropped and at most `take` kept (negative =
    * all). */
  final case class Source(seg: SegmentRead, file: String,
      skip: Long = 0L, take: Long = -1L)

  /** the stored sources of a visible segment, in index order */
  def sources(seg: SegmentRead): Seq[Source] =
    if (seg.meta.inline.isDefined) Seq(Source(seg, null))
    else seg.meta.files.map(Source(seg, _))

  /** The part reading `src` as the columns `reqNames0`. A segment whose
    * visible window no longer covers its stored rows is clipped: the
    * part also decodes the index columns, which the reader bisects. A
    * requested `_file` metadata column is never read from parquet: it
    * projects as a constant (outPos sentinel -1). */
  def partOf(s: graft.api.Series, gs: GSchema, reqNames0: Seq[String],
      src: Source): GraftPart = {
    val clct = s.collection
    val seg = src.seg
    val clips =
      if (seg.coversData(gs)) Vector.empty
      else Vector(GraftClip(seg.start, seg.stop, seg.closed))
    val reqNames = reqNames0.filterNot(_ == FileCol)
    val readNames =
      if (clips.isEmpty) reqNames
      else reqNames ++ gs.idxNames.filterNot(reqNames.contains)
    val cols = GraftCols(readNames.toVector,
      readNames.map(clct.physOf).toVector,
      readNames.map(gs(_).dtype.name).toVector,
      readNames.map(n => clct.defaults.get(n).orNull).toVector,
      reqNames0.map(n =>
        if (n == FileCol) -1 else readNames.indexOf(n)).toArray,
      if (clips.isEmpty) Array.empty[Int]
      else gs.idxNames.map(readNames.indexOf).toArray)
    if (src.file == null)
      GraftInlinePart(seg.meta.inline.get, gs.cols.filterNot(c =>
        clct.defaults.contains(c.name)).map(_.name).toVector, cols, clips,
        src.skip, src.take)
    else
      GraftFilePart(clct.repo.store.uri(src.file), src.file,
        if (seg.meta.files.length == 1) seg.meta.length else -1L, cols,
        clips, src.skip, src.take)
  }

  /** One partition per stored source of a visible segment. `onlyFiles`
    * (null = all) restricts a multi-file segment row to a subset — the
    * streaming diff uses it to serve just the NEWLY-appeared files of a
    * row. */
  def partitionsFor(s: graft.api.Series, gs: GSchema,
      reqNames0: Seq[String], seg: SegmentRead,
      onlyFiles: Set[String]): Seq[InputPartition] =
    sources(seg).filter(src => onlyFiles == null || src.file == null ||
      onlyFiles.contains(src.file))
      .map(src => GraftPartition(Vector(partOf(s, gs, reqNames0, src))))

  /** The read tasks of a scan over `srcs` (index order), packed the way
    * Spark's FileSourceScanExec packs files: up to
    * `spark.sql.files.maxPartitionBytes`, a file costing its estimated
    * size plus `spark.sql.files.openCostInBytes`, and no smaller than
    * the total over the leaf parallelism allows. The clipped parts of
    * one file (an overlay split its segment) merge into one read at
    * the file's first place. A task's parts never go back in index
    * order, so every task serves index-sorted rows. */
  def packed(s: graft.api.Series, gs: GSchema, reqNames: Seq[String],
      srcs: Seq[Source]): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val width = rowWidth(gs)
    final case class Unit0(lo: IndexKey, hi: IndexKey, bytes: Long,
        open: Long, part: GraftPart)
    val units = scala.collection.mutable.LinkedHashMap.empty[Any, Unit0]
    srcs.foreach { src =>
      val p = partOf(s, gs, reqNames, src)
      val key: Any = p match {
        case f: GraftFilePart if f.clips.nonEmpty && f.skip == 0 &&
            f.take < 0 => f.uri
        case _ => src
      }
      units.get(key) match {
        case Some(u) =>
          val f = u.part.asInstanceOf[GraftFilePart]
          units(key) = u.copy(hi = src.seg.stop,
            part = f.copy(clips = f.clips ++ p.clips))
        case None =>
          val (rows, open) = p match {
            case f: GraftFilePart =>
              (if (f.rows >= 0) f.rows
               else src.seg.meta.length / src.seg.meta.files.length,
               openCost)
            case i: GraftInlinePart => (i.data.length.toLong, 0L)
          }
          units(key) = Unit0(src.seg.start, src.seg.stop, rows * width,
            open, p)
      }
    }
    val total = units.values.map(u => u.bytes + u.open).sum
    val par = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, total / math.max(1, par)))
    val out = ArrayBuffer.empty[InputPartition]
    var bin = Vector.empty[GraftPart]
    var size = 0L
    var hi: IndexKey = null
    units.values.foreach { u =>
      val fits = bin.nonEmpty && size + u.bytes <= maxSplit &&
        hi != null && u.lo != null && gs.cmpKeyTotal(u.lo, hi) >= 0
      if (bin.nonEmpty && !fits) {
        out += GraftPartition(bin)
        bin = Vector.empty
        size = 0L
      }
      bin :+= u.part
      size += u.bytes + u.open
      hi = u.hi
    }
    if (bin.nonEmpty) out += GraftPartition(bin)
    out.toArray
  }

  /** the coarse per-row width estimates are made with */
  private def rowWidth(gs: GSchema): Long = gs.cols.map(_.dtype match {
    case GType.StrT => 24L
    case GType.DateT => 4L
    case _ => 8L
  }).sum

  /** The rows `src` serves before its skip and take, counted on the
    * calling thread with no Spark job: the manifest's count for an
    * unclipped single-file segment, the footer's for another unclipped
    * file, [[SliceLocator.count]] for a clipped file and a bisect of the
    * inline rows otherwise. `conf` is the session's Hadoop conf. */
  def visibleRows(s: graft.api.Series, gs: GSchema, src: Source,
      conf: Configuration): Long =
    partOf(s, gs, gs.idxNames, src.copy(skip = 0L, take = -1L)) match {
      case f: GraftFilePart if f.clips.isEmpty =>
        if (f.rows >= 0) f.rows else GraftRead.footerRows(f.uri, conf)
      case f: GraftFilePart =>
        SliceLocator.count(f.uri, conf, f.cols.physNames,
          f.cols.dtypeNames.map(GraftRead.dtypeOf).toArray, f.clips)
      case i: GraftInlinePart if i.clips.isEmpty => i.data.length.toLong
      case i: GraftInlinePart =>
        val dts = i.cols.dtypeNames.map(GraftRead.dtypeOf).toArray
        val b = GraftRead.inlineBatch(i, dts)
        val r = SliceLocator.slices(i.cols.idxPos.map(b.column),
          i.cols.idxPos.map(dts(_)), b.numRows, i.clips)
        r.grouped(2).map(x => (x(1) - x(0)).toLong).sum
    }

  def readerFactory(): PartitionReaderFactory =
    new GraftReaderFactory(
      SparkSession.active.sparkContext.broadcast(serConf()))

  private def serConf(): SegmentWriter.SerConf = {
    val session = SparkSession.active
    val c = session.sessionState.newHadoopConf()
    // the entries Spark's parquet reader machinery
    // (ParquetReadSupport / ParquetToSparkSchemaConverter /
    // VectorizedParquetRecordReader) resolves from the TASK-side
    // Hadoop conf — newHadoopConf only carries EXPLICITLY-set SQL
    // entries, so mirror the session-resolved values here exactly
    // like ParquetFileFormat.buildReaderWithPartitionValues does
    import org.apache.spark.sql.internal.SQLConf
    val sc = session.sessionState.conf
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED)
      .foreach(e => c.set(e.key, sc.getConf(e).toString))
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet" +
        ".ParquetReadSupport")
    new SegmentWriter.SerConf(c)
  }

  /** DataFrame over engine partitions, one task each, decoded by the
    * connector's readers ([[GraftBatchReader]], whose tier follows each
    * file's footer: [[GraftRead.open]]) and served as row views. Rows
    * arrive in `schema` order (partitionsFor bakes clip/renames/
    * defaults). */
  def internalScan(spark: SparkSession, parts: Seq[InputPartition],
      schema: StructType): org.apache.spark.sql.DataFrame =
    groupedScan(spark, parts.map(p => Group(null, Seq(p))), schema)

  /** The partitions one task of a [[groupedScan]] reads, in order —
    * a sorted segment run streams out sorted, with no shuffle.
    *
    * A tagged group (`tag` non-null) is cut into the fewest chunks of
    * at most `pageRows` rows, whose sizes differ by at most one row;
    * each row gets a leading string column `<tag>.<chunk>`, so none
    * of a chunk-rolling writer's files is under pageRows/2 rows
    * unless the whole group is. The cut depends only on the group's
    * row count: `known` plus the rows of `count` (the parts whose
    * count the manifest does not know), counted in the task before
    * the group is read. */
  final case class Group(tag: String, parts: Seq[InputPartition],
      pageRows: Long = 0L, known: Long = 0L,
      count: Seq[InputPartition] = Nil)

  /** DataFrame over [[Group]]s of engine partitions, one Spark
    * partition per group; `schema` starts with the tag column when
    * the groups are tagged. */
  def groupedScan(spark: SparkSession, groups: Seq[Group],
      schema: StructType): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftBridge.internalDf(spark,
      new GraftFileRDD(spark.sparkContext, groups, readerFactory()),
      schema)

  /** Rows of `parts`, read one partition after another by the
    * connector's readers, task-side or on the driver. Each reader
    * closes once drained, or when the task ends first; a row is valid
    * until the next one is read (readers reuse their buffers). */
  def readAll(parts: Seq[InputPartition],
      factory: PartitionReaderFactory): Iterator[InternalRow] =
    parts.iterator.flatMap { p =>
      val r = factory.createReader(p)
      var open = true
      def close(): Unit = if (open) { open = false; r.close() }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => close()))
      Iterator.continually(r).takeWhile(_.next() || { close(); false })
        .map(_.get())
    }

  /** The one read planner's DataFrame: `srcs` as an anonymous DSv2
    * relation over the connector's partitions and readers, built from
    * its logical plan. Catalyst prunes its columns, so the decode
    * narrows to what the query reads. `ordered` serves every source in
    * one task, in order (an exact page, limit or tail: no sort and no
    * exchange); otherwise the sources are [[packed]]. `desc` labels the
    * scan node. */
  def scanDf(spark: SparkSession, s: graft.api.Series, gs: GSchema,
      srcs: Seq[Source], ordered: Boolean, desc: String)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftBridge.internalDsv2(spark,
      new GraftSegmentsTable(s, gs, srcs, ordered, desc))
}

/** Anonymous single-use DSv2 table over planned scan sources (the
  * [[graft.api.Series]] read verbs) — see [[GraftPlanning.scanDf]].
  * Driver-side objects (Series, SegmentReads) never leave the driver;
  * only the planned [[InputPartition]]s ship. */
private final class GraftSegmentsTable(s: graft.api.Series,
    gs: GSchema, srcs: Seq[GraftPlanning.Source], ordered: Boolean,
    desc: String) extends Table with SupportsRead {
  override def name(): String = s"graft_segments_${s.label}"
  override def schema(): StructType = gs.sparkSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var req: Seq[String] = gs.names
      override def pruneColumns(st: StructType): Unit = {
        req = st.fieldNames.toSeq
        ()
      }
      override def build(): Scan = new Scan with Batch
          with SupportsReportStatistics {
        override def readSchema(): StructType = StructType(
          req.map(n => org.apache.spark.sql.types.StructField(
            n, gs(n).dtype.sparkType, nullable = true)))
        override def toBatch: Batch = this
        override def description(): String = desc
        override def estimateStatistics(): Statistics =
          GraftPlanning.manifestStatistics(
            srcs.map(_.seg).distinct, gs)
        override def planInputPartitions(): Array[InputPartition] =
          if (!ordered) GraftPlanning.packed(s, gs, req, srcs)
          else if (srcs.isEmpty) Array.empty
          else Array(GraftPartition(srcs.map(
            GraftPlanning.partOf(s, gs, req, _)).toVector))
        override def supportedCustomMetrics() =
          GraftMetrics.declare(GraftMetrics.readMetrics: _*)
        override def createReaderFactory(): PartitionReaderFactory =
          GraftPlanning.readerFactory()
      }
    }
}

private final case class GraftRddPartition(index: Int,
    group: GraftPlanning.Group) extends org.apache.spark.Partition

/** RDD over [[GraftPlanning.Group]]s of connector [[InputPartition]]s
  * — see [[GraftPlanning.groupedScan]]. The reader factory ships to
  * tasks (it carries only a serializable Hadoop conf). */
class GraftFileRDD(
    @transient private val sc: org.apache.spark.SparkContext,
    @transient private val groups: Seq[GraftPlanning.Group],
    factory: PartitionReaderFactory)
    extends org.apache.spark.rdd.RDD[InternalRow](sc, Nil) {
  override def getPartitions: Array[org.apache.spark.Partition] =
    groups.zipWithIndex.map { case (g, i) =>
      GraftRddPartition(i, g): org.apache.spark.Partition }.toArray
  override def compute(split: org.apache.spark.Partition,
      ctx: org.apache.spark.TaskContext): Iterator[InternalRow] = {
    val g = split.asInstanceOf[GraftRddPartition].group
    val rows = GraftPlanning.readAll(g.parts, factory)
    // downstream operators may hold references across next() calls
    if (g.tag == null) return rows.map(_.copy())
    val n = g.known + GraftPlanning.readAll(g.count, factory).size
    val chunks = math.max(1L, (n + g.pageRows - 1) / g.pageRows)
    // chunk j ends before row (j + 1) * n / chunks; rows past a short
    // count stay in the last chunk
    var i = 0L
    var j = -1L
    var end = 0L
    var tag: InternalRow = null
    rows.map { r =>
      while (i >= end && j < chunks - 1) {
        j += 1
        end = (j + 1) * n / chunks
        tag = new GenericInternalRow(
          Array[Any](UTF8String.fromString(s"${g.tag}.$j")))
      }
      i += 1
      new JoinedRow(tag, r.copy())
    }
  }
}

/** Streaming offset: ordinal into the collection's LINEARIZED
  * changelog plus the revision id at that ordinal. The id is the
  * stable anchor: if a concurrent branch's revisions interleave into
  * the linearization (shifting ordinals), the offset still resolves
  * to the same revision by id; the ordinal is the fallback when the
  * anchored revision was trimmed/squashed away. */
final case class GraftStreamOffset(n: Long, rev: String,
    heads: Vector[String] = Vector.empty)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    if (heads.isEmpty) s"""{"n":$n,"rev":"$rev"}"""
    else s"""{"n":$n,"rev":"$rev","heads":[""" +
      heads.map(h => "\"" + h + "\"").mkString(",") + "]}"
}

/** `spark.readStream.format("graft")` — the versioned store as a
  * CDC-style streaming source. Offsets are ordinals into the
  * series' linearized changelog; each micro-batch serves the rows of
  * segment FILES newly referenced by the end revision's manifest
  * versus the start revision's (plus manifest rows not present
  * before — inline micro-writes), clipped to their visibility at the
  * end revision. Append workloads stream exactly once; an overlay
  * REWRITE streams its new rows (and a splice-truncated inline row
  * re-emits its surviving remainder — documented CDC semantics, not
  * a replay bug). `option("stream.starting", "latest")` skips
  * history; the default replays the full series.
  *
  * Rewrite contract (MIGRATION.md "Streaming CDC"): by default a
  * compaction (defrag/squash-style commit that rewrites existing rows
  * into new files) RE-EMITS those rows — at-least-once with replay on
  * compaction — and range deletes never surface (no tombstone
  * events). The same at-least-once bound applies across HEALED
  * CONCURRENT-WRITER FORKS: batches diff consecutive manifests along
  * the DFS linearization, and a merge commit re-references the
  * sibling branch's files, so a batch window straddling the branch
  * point can serve a file twice (exactly-once holds along any linear
  * history); `option("stream.forkDedup", "true")` upgrades forked
  * histories to exactly-once — the offset then carries the whole
  * leaf FRONTIER and the served set diffs against every drained
  * branch. `option("stream.rewrites", "skip")` suppresses the
  * replay: a commit is classified as compaction from MANIFEST
  * METADATA ONLY — the stream's series keeps an identical merged
  * visible-window cover and total row count, with everything fully
  * visible on both sides — and its newly-referenced files/inline rows
  * are not served. An overlay update that preserves exactly its
  * range's row count and bounds is indistinguishable from compaction
  * at the metadata level and is ALSO skipped in this mode: skip is
  * for append+compact workloads; value-rewriting workloads keep the
  * default. The reference has no streaming surface at all; this
  * reuses the batch connector's partitions and readers wholesale. */
class GraftMicroBatchStream(table: GraftTable, required: StructType,
    startingLatest: Boolean, skipRewrites: Boolean = false,
    maxRevsPerTrigger: Long = 0L,
    startingTs: Option[Long] = None,
    forkDedup: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming
      .MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset,
    ReadLimit}

  // one resolution per stream; the changelog refreshes per poll
  private lazy val series = table.series
  private def changelog = series.collection.changelog

  private def logNow(): Seq[graft.core.Revision] = {
    changelog.refresh()
    changelog.log()
  }

  /** leaves of a log SLICE: children with no child inside the slice
    * (distinct — a merge leaf appears once per PARENT EDGE in the
    * changelog, and duplicate head ids would make frontierManifests
    * resolve, and a meta-keyed dedup serve, the same manifest twice) */
  private def headsOf(log: Seq[graft.core.Revision]): Vector[String] = {
    val parents = log.map(_.parent).toSet
    log.collect { case r if !parents.contains(r.child) => r.child }
      .distinct.toVector
  }

  private def offsetAt(log: Seq[graft.core.Revision]): GraftStreamOffset =
    GraftStreamOffset(log.length.toLong,
      log.lastOption.map(_.child).getOrElse(""),
      if (forkDedup) headsOf(log) else Vector.empty)

  /** resolve an offset to a revision: by id first (stable under
    * linearization shifts), by ordinal as fallback */
  private def revisionOf(o: GraftStreamOffset)
      : Option[graft.core.Revision] = {
    if (o.n <= 0) return None
    val log = changelog.log()
    log.find(_.child == o.rev)
      .orElse(log.take(math.min(o.n, log.length.toLong).toInt)
        .lastOption)
  }

  private def manifestOf(o: GraftStreamOffset)
      : Option[graft.core.Manifest] =
    revisionOf(o).map(series.collection.decodeCached)

  override def latestOffset(): Offset = offsetAt(logNow())

  /** Admission control — `option("stream.maxRevisionsPerTrigger", n)`
    * caps how many changelog revisions one micro-batch may span (the
    * Delta `maxFilesPerTrigger` idiom, on the revision clock): a
    * restart after a long pause then drains its backlog in BOUNDED
    * batches (each a bounded per-batch MERGE target / checkpoint
    * unit) instead of one giant catch-up batch. Default 0 = all
    * available. Works under Trigger.AvailableNow: the wrapper keeps
    * issuing batches until the captured target offset is reached. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Trigger.AvailableNow: capture the drain TARGET once at query
    * start; every capped batch then advances toward it (never past
    * it) until the wrapper sees the target reached and terminates —
    * without this, AvailableNow degrades to a single batch and a
    * capped stream would stop early. */
  @volatile private var availableNowTarget: Option[GraftStreamOffset] =
    None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(offsetAt(logNow()))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val log0 = logNow()
    // under AvailableNow, never plan past the captured target
    val log = availableNowTarget match {
      case Some(t) if t.n > 0 =>
        val i = log0.indexWhere(_.child == t.rev)
        if (i >= 0) log0.take(i + 1)
        else log0.take(math.min(t.n, log0.length.toLong).toInt)
      case Some(_) => Vector.empty[graft.core.Revision]
      case None => log0
    }
    val s = start.asInstanceOf[GraftStreamOffset]
    if (maxRevsPerTrigger <= 0) return offsetAt(log)
    // anchor the start POSITION on the revision id (stable under
    // linearization shifts from healed forks/trims), ordinal as
    // fallback; cap the advance without Long overflow
    val pos: Long =
      if (s.n <= 0) 0L
      else {
        val i = log.indexWhere(_.child == s.rev)
        if (i >= 0) i + 1L else math.min(s.n, log.length.toLong)
      }
    val cap = math.min(maxRevsPerTrigger, Int.MaxValue.toLong)
    val end = math.min(log.length.toLong, pos + cap)
    if (end <= pos) GraftStreamOffset(s.n, s.rev, s.heads) // caught up
    else GraftStreamOffset(end, log(end.toInt - 1).child,
      if (forkDedup) headsOf(log.take(end.toInt)) else Vector.empty)
  }
  override def reportLatestOffset(): Offset = offsetAt(logNow())

  /** `option("stream.startingTimestamp", epochMs)` starts the CDC
    * feed AFTER the revisions already committed before that instant
    * on the changelog clock (the batch reader's `before` convention:
    * `log(Some(ms))` = history visible at ms) — the Delta
    * startingTimestamp idiom. Mutually sensible with
    * `stream.starting=latest`, which wins if both are set. */
  override def initialOffset(): Offset =
    if (startingLatest) offsetAt(logNow())
    else startingTs match {
      case Some(ms) =>
        changelog.refresh()
        // anchor on the last pre-cut revision's ID, with its ordinal
        // taken from the FULL linearization (log(Some(ms)) filters a
        // DFS order, so count and position can disagree on a forked
        // history)
        changelog.log(Some(ms)).lastOption match {
          case None => GraftStreamOffset(0L, "")
          case Some(r) =>
            val full = changelog.log()
            val i = full.indexWhere(_.child == r.child)
            GraftStreamOffset(if (i >= 0) i + 1L else 1L, r.child)
        }
      case None => GraftStreamOffset(0L, "")
    }
  override def deserializeOffset(json: String): Offset = {
    val n = "\"n\":(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(0L)
    val rev = "\"rev\":\"([^\"]*)\"".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    val heads = "\"heads\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .map(m => "\"([^\"]*)\"".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).toVector)
      .getOrElse(Vector.empty)
    GraftStreamOffset(n, rev, heads)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** merged visible-window cover + total row count for one series of
    * a manifest — None when any row is overlay-clipped (its visible
    * length is unknowable from metadata alone, so a commit touching
    * it is never classified as compaction). The merged cover makes
    * the signature partition-independent: N small contiguous rows and
    * the one page-sized row defrag rewrote them into hash equal. */
  private def compactionSig(m: graft.core.Manifest, label: String)
      : Option[(Vector[(String, Boolean, String, Boolean)], Long)] = {
    val gs = table.gschema
    val segs = m.segments(label).filter(_.meta.hasData)
    if (!segs.forall(_.coversData(gs))) return None
    // key-adjacent both-closed windows ([0,999] then [1000,…]) merge
    // too when the last index component is a DISCRETE dtype (int /
    // timestamp-micros / date-days — every engine dtype except float
    // and string): defrag's one output window [0,4999] must hash
    // equal to the five input windows it replaced
    def isSuccessor(a: graft.core.IndexKey,
        b: graft.core.IndexKey): Boolean = {
      val n = gs.idx.length
      if (a.values.length != n || b.values.length != n || n == 0)
        return false
      var i = 0
      while (i < n - 1) {
        if (gs.idx(i).dtype.cmp(a.values(i), b.values(i)) != 0)
          return false
        i += 1
      }
      gs.idx(n - 1).dtype match {
        case GType.FloatT | GType.StrT => false
        case _ => (a.values(n - 1), b.values(n - 1)) match {
          case (x: java.lang.Long, y: java.lang.Long) => y == x + 1L
          case _ => false
        }
      }
    }
    val merged = ArrayBuffer
      .empty[(graft.core.IndexKey, Boolean, graft.core.IndexKey, Boolean)]
    segs.foreach { s =>
      val contiguous = merged.nonEmpty && {
        val last = merged.last
        (gs.cmpKey(last._3, s.start) == 0 &&
          (last._4 || s.closed.left)) ||
          (last._4 && s.closed.left && isSuccessor(last._3, s.start))
      }
      if (contiguous) {
        val last = merged.last
        merged(merged.length - 1) =
          (last._1, last._2, s.stop, s.closed.right)
      } else merged += ((s.start, s.closed.left, s.stop, s.closed.right))
    }
    Some((merged.map(w =>
      (w._1.toString, w._2, w._3.toString, w._4)).toVector,
      segs.map(_.meta.length).sum))
  }

  /** files + inline rows introduced by commits in (a, b] that the
    * metadata classifies as pure compaction (see class doc) */
  private def compactionArtifacts(a: GraftStreamOffset,
      b: GraftStreamOffset)
      : (Set[String], Set[graft.core.SegmentMeta]) = {
    val log = changelog.log()
    // anchor window positions on revision IDs (stable under healed
    // forks / trims), ordinals as fallback — mirrors latestOffset
    def posOf(o: GraftStreamOffset): Int =
      if (o.n <= 0) 0
      else {
        val i = log.indexWhere(_.child == o.rev)
        if (i >= 0) i + 1
        else math.min(o.n, log.length.toLong).toInt
      }
    val lo = posOf(a)
    val hi = posOf(b)
    var files = Set.empty[String]
    var inline = Set.empty[graft.core.SegmentMeta]
    var prev: Option[graft.core.Manifest] =
      if (lo == 0) None
      else Some(series.collection.decodeCached(log(lo - 1)))
    val label = series.label
    (lo until hi).foreach { i =>
      val cur = series.collection.decodeCached(log(i))
      val prevRows = prev.map(_.rows.toSet).getOrElse(Set.empty)
      // only this stream's series counts: one defrag commit compacts
      // every label at once, next to labels it may have rewritten
      // in ways the metadata cannot classify
      val isCompaction = prev.exists { p =>
        cur.rows.filter(_.label == label) !=
          p.rows.filter(_.label == label) && {
          val s1 = compactionSig(p, label)
          s1.isDefined && s1 == compactionSig(cur, label)
        }
      }
      if (isCompaction) {
        val prevFiles = prev.map(_.allFiles).getOrElse(Set.empty)
        cur.rows.filterNot(prevRows.contains).foreach { r =>
          files ++= r.files.filterNot(prevFiles.contains)
          if (r.inline.isDefined) inline += r
        }
      }
      prev = Some(cur)
    }
    (files, inline)
  }

  /** resolve an offset's FRONTIER to manifests: every head by id
    * (trimmed heads drop out), falling back to the single anchored
    * revision when no head resolves — pre-forkDedup checkpoints have
    * no heads and land there too */
  private def frontierManifests(o: GraftStreamOffset)
      : Seq[graft.core.Manifest] =
    if (forkDedup && o.heads.nonEmpty) {
      val byId = changelog.log().map(r => r.child -> r).toMap
      val ms = o.heads.flatMap(h => byId.get(h))
        .map(series.collection.decodeCached)
      if (ms.nonEmpty) ms else manifestOf(o).toSeq
    } else manifestOf(o).toSeq

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val a = start.asInstanceOf[GraftStreamOffset]
    val b = end.asInstanceOf[GraftStreamOffset]
    if (b.n <= a.n && b.rev == a.rev && b.heads == a.heads)
      return Array.empty
    // forkDedup: the served set is the union over the start offset's
    // whole FRONTIER (every leaf already drained), so a heal that
    // re-references a sibling branch's files diffs them away instead
    // of replaying them — exactly-once across healed forks, for the
    // price of a multi-head offset
    val endMs = frontierManifests(b)
    if (endMs.isEmpty) return Array.empty
    val startMs = frontierManifests(a)
    val label = series.label
    val (skipFiles, skipInline) =
      if (skipRewrites) compactionArtifacts(a, b)
      else (Set.empty[String], Set.empty[graft.core.SegmentMeta])
    val prevFiles: Set[String] =
      startMs.flatMap(_.allFiles).toSet ++ skipFiles
    val prevRows: Set[graft.core.SegmentMeta] =
      startMs.flatMap(_.rows.filter(_.label == label)).toSet ++
        skipInline
    val gs = table.gschema
    val reqNames = required.fields.map(_.name).toSeq
    // A ROW present on TWO end heads (e.g. both sides of a fork
    // inherited it) must still be served once — dedup by the
    // SegmentMeta (window + files), NEVER by bare file name: one
    // file legitimately backs TWO visible windows of one manifest
    // (a batch spanning a write plus a middle overlay/delete leaves
    // truncated rows [lo,a) and [b,hi) sharing the original file),
    // and a file-keyed set would silently drop the second window's
    // rows from the stream. Residual at-least-once corner (forkDedup
    // only): two UN-HEALED heads carrying DIVERGENT truncations of a
    // file written in the same batch (A's [0,80)+[120,200) vs B's
    // untouched [0,200)) serve the overlap from both heads — distinct
    // metas, so no sound dedup exists short of per-row interval
    // bookkeeping; never loses, and the heal's merge resolves the
    // windows before any later batch.
    var servedRows = Set.empty[graft.core.SegmentMeta]
    var servedInline = Set.empty[graft.core.SegmentMeta]
    endMs.flatMap { endM =>
      endM.rows.filter(r => r.label == label && r.hasData).flatMap {
        meta =>
          val seg = SegmentRead(meta, meta.start, meta.stop, meta.closed)
          if (meta.inline.isDefined) {
            if (prevRows.contains(meta) || servedInline.contains(meta))
              Nil
            else {
              servedInline += meta
              GraftPlanning.partitionsFor(series, gs, reqNames, seg,
                null)
            }
          } else {
            val fresh = meta.files.filterNot(prevFiles.contains).toSet
            if (fresh.isEmpty || servedRows.contains(meta)) Nil
            else {
              servedRows += meta
              GraftPlanning.partitionsFor(series, gs, reqNames, seg,
                fresh)
            }
          }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPlanning.readerFactory()
}

