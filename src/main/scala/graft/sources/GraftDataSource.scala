package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.SeekableInputStream
import org.apache.parquet.io.api.{Converter, GroupConverter,
  PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
  JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet
  .VectorizedParquetRecordReader
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  Statistics, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
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
  * Semantics = `Series.frame()`: overlay (splice-clipped segments
  * get their residual range filter applied IN the reader),
  * manifest-inline micro-segments served from the plan, clone
  * renames/defaults resolved per file. Pushed filters are used for
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
    * partition serves one index-sorted segment file (or inline run),
    * and residual filters / default fills preserve that order — so
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

  // retained for createReaderFactory's columnar-eligibility decision
  // (Spark calls planInputPartitions before the factory on the same
  // Batch instance)
  @volatile private var plannedParts: Array[InputPartition] = null

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = aggPush match {
      case Some((_, values)) =>
        Array[InputPartition](GraftAggPartition(values.toVector))
      case None =>
        runtimePruned(plannedSegments).flatMap(seg =>
          GraftPlanning.partitionsFor(resolvedSeries, table.gschema,
            required.fields.map(_.name).toSeq, seg, null)).toArray
    }
    plannedParts = parts
    parts
  }

  override def supportedCustomMetrics() = {
    import GraftMetrics._
    declare(Seq(SegmentsTotal, SegmentsKept, FilesVectorized,
      FilesColumnar) ++
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

  override def createReaderFactory(): PartitionReaderFactory = {
    // COLUMNAR whenever every partition is a plain full-file decode
    // (no clip/defaults/projection/inline/agg work): whole
    // ColumnarBatches flow from the decode tier each file's footer
    // picks (GraftRead.open) into codegen's ColumnarToRow, skipping
    // the per-row DSv2 iterator tax. Anything needing per-row work —
    // boundary-clipped range scans, clone defaults, `_file` — keeps
    // the row path.
    val parts = plannedParts
    if (parts != null && GraftPlanning.columnarEligible(parts))
      GraftPlanning.columnarReaderFactory()
    else GraftPlanning.readerFactory()
  }
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
    private val rowWidth: Long = gs.cols.map(_.dtype match {
      case GType.StrT => 24L
      case GType.DateT => 4L
      case _ => 8L
    }).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * rowWidth)
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

  /** Partitions for one visible segment. `onlyFiles` (null = all)
    * restricts a multi-file segment row to a subset — the streaming
    * diff uses it to serve just the NEWLY-appeared files of a row.
    * Residual clip needs the index values even when pruned away:
    * read (requested ∪ index-if-clipping), emit requested positions.
    * A requested `_file` metadata column is never read from parquet:
    * it projects as a per-partition constant (outPos sentinel -1).
    */
  def partitionsFor(s: graft.api.Series, gs: GSchema,
      reqNames0: Seq[String], seg: SegmentRead,
      onlyFiles: Set[String]): Seq[InputPartition] = {
    val clct = s.collection
    val clip = !seg.coversData(gs)
    val dataReq = reqNames0.filterNot(_ == FileCol)
    // `SELECT _file` alone still needs one stored column to drive
    // row iteration
    val reqNames =
      if (dataReq.isEmpty && reqNames0.nonEmpty) Seq(gs.idxNames.head)
      else dataReq
    val readNames =
      if (clip) (reqNames ++ gs.idxNames.filterNot(reqNames.contains))
      else reqNames
    val cols = readNames.map(n => gs(n))
    val outPos = reqNames0.map(n =>
      if (n == FileCol) -1 else readNames.indexOf(n)).toArray
    // only meaningful when clipping (idx cols are then in readNames)
    val idxPos =
      if (clip) gs.idxNames.map(readNames.indexOf).toArray
      else Array.empty[Int]
    val defaults = readNames.map(n => clct.defaults.get(n).orNull)
    val bounds =
      if (clip) GraftClip(seg.start, seg.stop, seg.closed) else null
    if (seg.meta.inline.isDefined) {
      val srcCols = gs.cols.filterNot(c =>
        clct.defaults.contains(c.name)).map(_.name)
      Seq(GraftInlinePartition(seg.meta.inline.get,
        srcCols.toVector, readNames.toVector,
        cols.map(_.dtype.name).toVector,
        defaults.toVector, outPos, idxPos, bounds))
    } else seg.meta.files
      .filter(f => onlyFiles == null || onlyFiles.contains(f))
      .map { f =>
        GraftFilePartition(clct.repo.store.uri(f),
          readNames.toVector, cols.map(n => clct.physOf(n.name)).toVector,
          cols.map(_.dtype.name).toVector, defaults.toVector,
          outPos, idxPos, bounds, fileLabel = f)
      }
  }

  def readerFactory(): PartitionReaderFactory =
    new GraftReaderFactory(serConf())

  /** Columnar serving is planned only when EVERY partition is a plain
    * full-file decode: no clip, no defaults, identity projection, no
    * `_file` column, no inline rows — anything needing per-row work
    * routes the whole scan row-based. */
  private[sources] def columnarEligible(
      parts: Array[InputPartition]): Boolean =
    parts.nonEmpty && parts.forall {
      case fp: GraftFilePartition =>
        fp.clip == null && fp.readNames.nonEmpty &&
          fp.defaults.forall(_ == null) &&
          fp.outPos.length == fp.readNames.length &&
          fp.outPos.indices.forall(i => fp.outPos(i) == i)
      case _ => false
    }

  private[sources] def columnarReaderFactory(): PartitionReaderFactory =
    new GraftColumnarReaderFactory(serConf())

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

  /** DataFrame over engine partitions decoded by the connector's own
    * readers ([[GraftFileReader]]/[[GraftInlineReader]]). Spark's
    * builtin parquet source cannot decode BYTE_STREAM_SPLIT pages (no
    * vectorized BSS reader, no per-relation row-mode toggle), while
    * GraftFileReader picks each file's decode tier from its footer
    * ([[GraftRead.open]]). Rows arrive in `schema` order
    * (partitionsFor bakes clip/renames/defaults). */
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

  /** DataFrame over the engine readers as an ANONYMOUS DSv2 relation,
    * the scan [[graft.api.Series.frame]] routes BSS-mode segments
    * through. Unlike [[internalScan]]'s LogicalRDD, this participates
    * in Catalyst column pruning: an aggregate over one column of a
    * BSS-mode frame() decodes one column, not the whole schema
    * (partitions are re-planned with the pruned name set, so both the
    * footer's tier choice and the page-level decode itself narrow,
    * same as the builtin parquet source's ReadSchema). */
  def internalScanTable(spark: SparkSession, s: graft.api.Series,
      gs: GSchema, segs: Seq[SegmentRead])
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftBridge.internalDsv2(spark,
      new GraftSegmentsTable(s, gs, segs))
}

/** Anonymous single-use DSv2 table over a fixed set of segment reads
  * (the BSS-mode [[graft.api.Series.frame]] scan) — see
  * [[GraftPlanning.internalScanTable]]. Driver-side objects (Series,
  * SegmentReads) never leave the driver; only the planned
  * [[InputPartition]]s ship. */
private final class GraftSegmentsTable(s: graft.api.Series,
    gs: GSchema, segs: Seq[SegmentRead]) extends Table
    with SupportsRead {
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
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = StructType(
          req.map(n => org.apache.spark.sql.types.StructField(
            n, gs(n).dtype.sparkType, nullable = true)))
        override def toBatch: Batch = this
        private lazy val parts: Array[InputPartition] =
          segs.flatMap(sr =>
            GraftPlanning.partitionsFor(s, gs, req, sr, null)).toArray
        // COLUMNAR when every partition is a plain full-file decode:
        // row-group batches feed Spark's codegen'd ColumnarToRow
        // directly, skipping the per-row DSv2 iterator tax.
        override def planInputPartitions(): Array[InputPartition] = parts
        override def supportedCustomMetrics() = GraftMetrics.declare(
          GraftMetrics.FilesVectorized, GraftMetrics.FilesColumnar)
        override def createReaderFactory(): PartitionReaderFactory =
          if (GraftPlanning.columnarEligible(parts))
            GraftPlanning.columnarReaderFactory()
          else GraftPlanning.readerFactory()
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

/** residual overlay-clip bounds, evaluated per row in the reader */
final case class GraftClip(start: IndexKey, stop: IndexKey,
    closed: Closed) extends Serializable

final case class GraftFilePartition(uri: String,
    readNames: Vector[String], physNames: Vector[String],
    dtypeNames: Vector[String], defaults: Vector[Any],
    outPos: Array[Int], idxPos: Array[Int], clip: GraftClip,
    /** store-relative segment path served as the `_file` metadata
      * column (joins against `.segments`.files) */
    fileLabel: String = "")
    extends InputPartition

final case class GraftInlinePartition(rows: Vector[Vector[Any]],
    srcCols: Vector[String], readNames: Vector[String],
    dtypeNames: Vector[String], defaults: Vector[Any],
    outPos: Array[Int], idxPos: Array[Int], clip: GraftClip)
    extends InputPartition

/** one pre-computed row: the manifest-answered aggregate (values are
  * already in InternalRow representation) */
final case class GraftAggPartition(values: Vector[Any])
    extends InputPartition

class GraftReaderFactory(conf: SegmentWriter.SerConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case fp: GraftFilePartition => new GraftFileReader(fp, conf)
    case ip: GraftInlinePartition => new GraftInlineReader(ip)
    case ap: GraftAggPartition =>
      new PartitionReader[InternalRow] {
        private var served = false
        override def next(): Boolean =
          if (served) false else { served = true; true }
        override def get(): InternalRow =
          new GenericInternalRow(ap.values.toArray)
        override def close(): Unit = ()
      }
  }
}

private object GraftRead {
  def dtypeOf(name: String): GType =
    GType.all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"bad dtype $name"))

  /** Page encodings Spark 4.1's vectorized parquet reader cannot decode
    * (its value-reader switch covers PLAIN, RLE and DELTA_* only, see
    * VectorizedColumnReader.getValuesReader): `<codec>+bss` segments
    * carry BYTE_STREAM_SPLIT float chunks. */
  val vectorizedUnsupported: Set[Encoding] = Set(Encoding.BYTE_STREAM_SPLIT)

  /** Open one segment file for decoding. The file is stat'ed once
    * (resurrecting a gc-buried copy) and its footer parsed once; the
    * decode tier follows from the requested column chunks' encodings:
    * [[GraftColumnarScan]] when any of them uses an encoding in
    * [[vectorizedUnsupported]], Spark's VectorizedParquetRecordReader
    * otherwise. The chosen reader takes over the footer and the open
    * stream; the result names its tier as the metric that counts it
    * ([[SegmentBatches.tier]]). */
  def open(uri: String, physNames: Seq[String], dtypes: Array[GType],
      conf: Configuration): SegmentBatches = {
    val status = graft.core.Store.statOrResurrect(uri, conf)
    val input = HadoopInputFile.fromStatus(status, conf)
    val options = HadoopReadOptions.builder(conf, status.getPath).build()
    val stream = input.newStream()
    var opened: SegmentBatches = null
    try {
      val footer = ParquetFileReader.readFooter(input, options, stream)
      val wanted = physNames.toSet
      val columnar = footer.getBlocks.asScala.exists(_.getColumns.asScala
        .exists(c => wanted(c.getPath.toDotString) &&
          c.getEncodings.asScala.exists(vectorizedUnsupported)))
      opened =
        if (columnar)
          new GraftColumnarScan(
            new ParquetFileReader(input, footer, options, stream),
            physNames, dtypes)
        else
          vectorized(status, input, stream, footer, physNames, dtypes,
            conf)
      opened
    } finally if (opened == null) stream.close()
  }

  private def vectorized(status: org.apache.hadoop.fs.FileStatus,
      input: HadoopInputFile, stream: SeekableInputStream,
      footer: ParquetMetadata, physNames: Seq[String],
      dtypes: Array[GType], conf: Configuration): SegmentBatches = {
    val c = new Configuration(conf)
    val reqStruct = StructType(physNames.zip(dtypes).map { case (n, dt) =>
      org.apache.spark.sql.types.StructField(n, dt.sparkType,
        nullable = true) })
    // the conf keys ParquetReadSupport/SpecificParquetRecordReaderBase
    // consult when initialized from an InputSplit
    c.set("org.apache.spark.sql.parquet.row.requested_schema",
      reqStruct.json)
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet" +
        ".ParquetReadSupport")
    c.setBoolean("spark.sql.parquet.binaryAsString", false)
    c.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    c.setBoolean("spark.sql.caseSensitive", false)
    // NOTE: Spark's SpecificParquetRecordReaderBase casts to the
    // OLD mapred FileSplit, not the mapreduce one
    val split = new org.apache.hadoop.mapred.FileSplit(
      status.getPath, 0, status.getLen, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(c,
        new org.apache.hadoop.mapreduce.TaskAttemptID())
    // engine files store proleptic INT64 micros (CORRECTED); the
    // INT96 branch only matters for pre-round-8 files of modern
    // timestamps, where CORRECTED and LEGACY agree
    val r = new VectorizedParquetRecordReader(null, "CORRECTED", "UTC",
      "CORRECTED", "UTC", false, 4096)
    r.initialize(split, ctx, Some(input), Some(stream), Some(footer))
    r.initBatch(StructType(Nil), InternalRow.empty)
    new SegmentBatches(GraftMetrics.FilesVectorized) {
      def nextBatch(): ColumnarBatch =
        if (r.nextBatch()) r.resultBatch() else null
      def close(): Unit = r.close()
    }
  }

  /** kernel scalar -> InternalRow slot value for a dtype */
  def kernelToInternal(dt: GType, v: Any): Any =
    if (v == null) null
    else dt match {
      case GType.DateT => v.asInstanceOf[Long].toInt
      case GType.StrT  => UTF8String.fromString(v.asInstanceOf[String])
      case _           => v
    }

  /** InternalRow slot value -> kernel scalar */
  def internalToKernel(dt: GType, v: Any): Any = dt match {
    case GType.DateT => v.asInstanceOf[Int].toLong
    case GType.StrT  => v.toString
    case _           => v
  }

  /** does the row's index key fall inside the clip bounds? */
  def inClip(gs: Array[GType], key: Array[Any], clip: GraftClip): Boolean = {
    if (clip == null) return true
    def cmp(k: IndexKey): Int = {
      val n = math.min(key.length, k.values.length)
      var i = 0
      while (i < n) {
        val c = gs(i).cmp(key(i), k.values(i))
        if (c != 0) return c
        i += 1
      }
      0
    }
    val l = cmp(clip.start)
    val r = cmp(clip.stop)
    (l > 0 || (l == 0 && clip.closed.left)) &&
      (r < 0 || (r == 0 && clip.closed.right))
  }

  /** assemble the output row; outPos sentinel -1 = the partition's
    * `_file` constant (null for manifest-inline partitions) */
  def project(slots: Array[Any], outPos: Array[Int],
      fileConst: UTF8String): InternalRow = {
    if (outPos.length == slots.length &&
        outPos.indices.forall(i => outPos(i) == i))
      new GenericInternalRow(slots.clone())
    else {
      val out = new Array[Any](outPos.length)
      var i = 0
      while (i < outPos.length) {
        val pos = outPos(i)
        out(i) = if (pos == -1) fileConst else slots(pos)
        i += 1
      }
      new GenericInternalRow(out)
    }
  }
}

/** A segment file opened by [[GraftRead.open]]: its rows as column
  * batches in the requested (physNames) order. A batch stays valid
  * until the next call (the DSv2 buffer-reuse contract). `tier` is the
  * [[GraftMetrics]] name counting the files its decode tier opened. */
private abstract class SegmentBatches(val tier: String) {
  /** the next batch, or null at the end of the file */
  def nextBatch(): ColumnarBatch
  def close(): Unit
}

/** Column-at-a-time decode over parquet-mr's page machinery, for files
  * Spark's vectorized reader cannot decode (BYTE_STREAM_SPLIT pages
  * from the `<codec>+bss` storage mode; [[GraftRead.open]] picks it
  * from the footer). parquet-mr's
  * [[org.apache.parquet.column.ColumnReader]] dispatches every page
  * encoding (its ByteStreamSplitValuesReader included), and filling
  * one [[OnHeapColumnVector]] per column in a tight typed loop keeps
  * the batch shape: no record assembly, no per-row converter
  * callbacks, no slot boxing. Requested columns absent from the file
  * (pre-clone segments) serve null vectors. */
private final class GraftColumnarScan(reader: ParquetFileReader,
    physNames: Seq[String], dtypes: Array[GType])
    extends SegmentBatches(GraftMetrics.FilesColumnar) {
  import org.apache.parquet.column.impl.ColumnReadStoreImpl
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private val fileMeta = reader.getFooter.getFileMetaData
  private val fileSchema = fileMeta.getSchema
  private val byName = fileSchema.getFields.asScala
    .map(f => f.getName -> f).toMap
  // projected schema: requested columns present in the file, in
  // request order
  private val presentIdx: Array[Int] = {
    var k = -1
    physNames.map(n =>
      if (byName.contains(n)) { k += 1; k } else -1).toArray
  }
  private val proj: MessageType = {
    val b = Types.buildMessage()
    physNames.foreach(n => byName.get(n).foreach(b.addField))
    b.named(fileSchema.getName)
  }
  if (proj.getFieldCount > 0) reader.setRequestedSchema(proj)
  private val descs = proj.getColumns.asScala.toArray
  private val sparkTypes = dtypes.map(_.sparkType)
  // ColumnReaderImpl requires a converter tree even when values are
  // pulled via the typed getters; dictionary support stays off so
  // dictionary-encoded pages materialize per value
  private val dummyConverter = new GroupConverter {
    override def getConverter(i: Int): Converter =
      new PrimitiveConverter {}
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
  // no requested column in the file (a zero-column request, or a
  // pre-clone segment): the footer's row counts size all-null batches
  // of physNames.length columns, with no page IO at all
  private val rowCounts: Iterator[Long] =
    reader.getRowGroups.asScala.iterator.map(_.getRowCount)

  private var batch: ColumnarBatch = null
  private var vecs: Array[OnHeapColumnVector] = null
  private var vecCap: Int = 0

  def nextBatch(): ColumnarBatch = {
    val pages = if (descs.isEmpty) null else reader.readNextRowGroup()
    val n =
      if (pages != null) pages.getRowCount
      else if (descs.isEmpty && rowCounts.hasNext) rowCounts.next()
      else return null
    require(n <= Int.MaxValue, s"row group of $n rows")
    val rows = n.toInt
    ensureBatch(rows)
    val crs = if (pages == null) null
      else new ColumnReadStoreImpl(pages, dummyConverter, proj,
        fileMeta.getCreatedBy)
    var i = 0
    while (i < physNames.length) {
      val v = vecs(i)
      v.reset()
      if (presentIdx(i) < 0) v.putNulls(0, rows)
      else fill(v, crs, descs(presentIdx(i)), dtypes(i), rows)
      i += 1
    }
    batch.setNumRows(rows)
    batch
  }

  /** REUSE vectors across row groups (downstream consumes each batch
    * before the next load): a fresh-allocation-per-group scan churned
    * ~8 MB of vector garbage per 500k-row group and showed up as GC
    * tax inside the full bench suite. */
  private def ensureBatch(rows: Int): Unit =
    if (vecs == null || rows > vecCap) {
      if (batch != null) batch.close()
      vecs = Array.tabulate(physNames.length)(i =>
        new OnHeapColumnVector(rows, sparkTypes(i)))
      vecCap = rows
      batch = new ColumnarBatch(
        vecs.asInstanceOf[Array[org.apache.spark.sql.vectorized
          .ColumnVector]], rows)
    }

  private def fill(v: OnHeapColumnVector,
      crs: ColumnReadStoreImpl,
      cd: org.apache.parquet.column.ColumnDescriptor, dt: GType,
      rows: Int): Unit = {
    val cr = crs.getColumnReader(cd)
    val maxDef = cd.getMaxDefinitionLevel
    var r = 0
    while (r < rows) {
      if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(r)
      else dt match {
        case GType.FloatT => v.putDouble(r, cr.getDouble)
        case GType.IntT | GType.TimestampT => v.putLong(r, cr.getLong)
        case GType.DateT => v.putInt(r, cr.getInteger)
        case GType.StrT =>
          val b = cr.getBinary.getBytes
          v.putByteArray(r, b, 0, b.length)
      }
      cr.consume()
      r += 1
    }
  }

  def close(): Unit = {
    if (batch != null) batch.close()
    reader.close()
  }
}

/** Columnar partition reader: decoded batches flow straight into
  * Spark's codegen'd ColumnarToRow, so the per-row DSv2 iterator tax
  * disappears. Only planned for partitions with no
  * clip/defaults/projection work ([[GraftPlanning.columnarEligible]]). */
private final class GraftColumnarFileReader(p: GraftFilePartition,
    conf: SegmentWriter.SerConf) extends PartitionReader[ColumnarBatch] {
  private val file = GraftRead.open(p.uri, p.physNames,
    p.dtypeNames.map(GraftRead.dtypeOf).toArray, conf.value)
  private val metrics = Array(GraftMetrics.value(file.tier, 1))
  private var cur: ColumnarBatch = _
  override def next(): Boolean = { cur = file.nextBatch(); cur != null }
  override def get(): ColumnarBatch = cur
  override def currentMetricsValues() = metrics
  override def close(): Unit = file.close()
}

private final class GraftColumnarReaderFactory(
    conf: SegmentWriter.SerConf) extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] =
    throw new IllegalStateException(
      "graft columnar factory: row reads not planned here")
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    new GraftColumnarFileReader(p.asInstanceOf[GraftFilePartition], conf)
}

/** Row partition reader for one segment file: the batches of
  * [[GraftRead.open]] iterated as row views. Rows pass through the
  * shared clip/defaults/projection step only when the partition needs
  * one; the common unclipped, no-defaults, no-extra-columns case emits
  * the batch's row views untouched. Missing columns (pre-clone files)
  * arrive as nulls, which the default injection fills. */
class GraftFileReader(p: GraftFilePartition, conf: SegmentWriter.SerConf)
    extends PartitionReader[InternalRow] {
  import GraftRead._

  private val fileConst: UTF8String =
    if (p.fileLabel.isEmpty) null else UTF8String.fromString(p.fileLabel)
  private val dtypes = p.dtypeNames.map(dtypeOf).toArray
  private val idxDts = p.idxPos.map(i => dtypes(i))
  private val slots = new Array[Any](p.readNames.length)
  private val kernelDefaults: Array[Any] =
    p.defaults.toArray
  private val hasDefaults = kernelDefaults.exists(_ != null)
  private val identityOut = p.clip == null && !hasDefaults &&
    p.outPos.length == p.readNames.length &&
    p.outPos.indices.forall(i => p.outPos(i) == i)

  private val file = open(p.uri, p.physNames, dtypes, conf.value)
  // one file per reader, so its count is final at open: Spark polls
  // this every few rows and gets the same preallocated array back
  private val metrics = Array(GraftMetrics.value(file.tier, 1))
  private var rows: java.util.Iterator[InternalRow] =
    java.util.Collections.emptyIterator()
  private var current: InternalRow = _

  /** defaults + clip + projection over a row in readNames layout */
  private def finish(): Boolean = {
    var i = 0
    while (i < slots.length) {
      if (slots(i) == null && kernelDefaults(i) != null)
        slots(i) = kernelToInternal(dtypes(i), kernelDefaults(i))
      i += 1
    }
    if (p.clip != null) {
      val key = p.idxPos.map(j => internalToKernel(dtypes(j), slots(j)))
      if (!inClip(idxDts, key, p.clip)) return false
    }
    current = project(slots, p.outPos, fileConst)
    true
  }

  private def fillSlots(row: InternalRow): Unit = {
    var i = 0
    while (i < slots.length) {
      slots(i) =
        if (row.isNullAt(i)) null
        else dtypes(i) match {
          case GType.TimestampT | GType.IntT => row.getLong(i)
          case GType.DateT  => row.getInt(i)
          case GType.FloatT => row.getDouble(i)
          case GType.StrT   => row.getUTF8String(i)
        }
      i += 1
    }
  }

  override def next(): Boolean = {
    while (true) {
      while (!rows.hasNext) {
        val b = file.nextBatch()
        if (b == null) return false
        rows = b.rowIterator()
      }
      val row = rows.next()
      if (identityOut) { current = row; return true }
      fillSlots(row)
      if (finish()) return true
    }
    false
  }
  override def get(): InternalRow = current
  override def currentMetricsValues() = metrics
  override def close(): Unit = file.close()
}

class GraftInlineReader(p: GraftInlinePartition)
    extends PartitionReader[InternalRow] {
  import GraftRead._

  private val dtypes = p.dtypeNames.map(dtypeOf).toArray
  private val idxDts = p.idxPos.map(i => dtypes(i))
  private val srcIdx: Array[Int] =
    p.readNames.map(n => p.srcCols.indexOf(n)).toArray
  private val it = p.rows.iterator
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (it.hasNext) {
      val v = it.next()
      val slots = new Array[Any](p.readNames.length)
      var i = 0
      while (i < slots.length) {
        val kernel =
          if (srcIdx(i) >= 0) v(srcIdx(i)) else p.defaults(i)
        slots(i) = kernelToInternal(dtypes(i), kernel)
        i += 1
      }
      val key = p.idxPos.map(j => internalToKernel(dtypes(j), slots(j)))
      if (inClip(idxDts, key, p.clip)) {
        // inline rows have no backing file: `_file` projects null
        current = project(slots, p.outPos, null)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
