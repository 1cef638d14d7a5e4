package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.Encoding
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.SeekableInputStream
import org.apache.parquet.io.api.{Converter, GroupConverter,
  PrimitiveConverter}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
  PrimitiveType, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.parquet
  .VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector,
  OnHeapColumnVector}
import org.apache.spark.sql.types.{Decimal, StringType, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray,
  ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Closed, GType, IndexKey, SegmentWriter}

/** A visible window of a stored source: the rows whose index key lies
  * between `start` and `stop` (prefix compare, ends per `closed`; a
  * null bound is open). */
final case class GraftClip(start: IndexKey, stop: IndexKey,
    closed: Closed) extends Serializable

/** How a part's stored columns become a scan's output columns.
  * `readNames` are decoded (stored as `physNames`, typed by
  * `dtypeNames`): the requested data columns, plus the index columns
  * when the part is clipped (`idxPos` locates them; empty otherwise).
  * `defaults` fill stored nulls (clone-added columns). Output column j
  * is `readNames(outPos(j))`, or the `_file` constant where
  * `outPos(j)` is -1. */
final case class GraftCols(readNames: Vector[String],
    physNames: Vector[String], dtypeNames: Vector[String],
    defaults: Vector[Any], outPos: Array[Int], idxPos: Array[Int])

/** One stored source a [[GraftPartition]] serves: its rows inside
  * `clips` (ascending, disjoint; empty = every row), then `skip` of
  * those dropped and at most `take` kept (negative = all). */
sealed trait GraftPart extends Serializable {
  def cols: GraftCols
  def clips: Vector[GraftClip]
  def skip: Long
  def take: Long
}

/** A segment file. `rows` is its stored row count when the manifest
  * knows it (a single-file segment), else -1. */
final case class GraftFilePart(uri: String,
    /** store-relative path served as the `_file` metadata column */
    fileLabel: String, rows: Long, cols: GraftCols,
    clips: Vector[GraftClip], skip: Long = 0L, take: Long = -1L)
    extends GraftPart

/** A segment's manifest-inline rows: kernel scalars positional over
  * `srcCols`, sorted by index. */
final case class GraftInlinePart(data: Vector[Vector[Any]],
    srcCols: Vector[String], cols: GraftCols, clips: Vector[GraftClip],
    skip: Long = 0L, take: Long = -1L) extends GraftPart

/** One read task: its parts served one after another, each in index
  * order. */
final case class GraftPartition(parts: Vector[GraftPart])
    extends InputPartition

/** one pre-computed row: the manifest-answered aggregate (values are
  * already in InternalRow representation) */
final case class GraftAggPartition(values: Vector[Any])
    extends InputPartition

/** Every graft read partition decodes columnar ([[GraftBatchReader]]);
  * row consumers (defrag, procedures, the copy-on-write and streaming
  * scans' row fallbacks) iterate the batches' row views. The Hadoop
  * conf ships as a broadcast, as Spark's file scans ship theirs: a
  * task then reads it from its executor instead of deserializing
  * ~1000 entries (13 ms measured) from its own task binary. */
class GraftReaderFactory(
    bconf: org.apache.spark.broadcast.Broadcast[SegmentWriter.SerConf])
    extends PartitionReaderFactory {
  private def conf: SegmentWriter.SerConf = bconf.value

  override def supportColumnarReads(p: InputPartition): Boolean =
    p.isInstanceOf[GraftPartition]

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    new GraftBatchReader(p.asInstanceOf[GraftPartition], conf)

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case gp: GraftPartition =>
      val batches = new GraftBatchReader(gp, conf)
      new PartitionReader[InternalRow] {
        private var rows: java.util.Iterator[InternalRow] =
          java.util.Collections.emptyIterator()
        private var cur: InternalRow = null
        override def next(): Boolean = {
          while (!rows.hasNext) {
            if (!batches.next()) return false
            rows = batches.get().rowIterator()
          }
          cur = rows.next()
          true
        }
        override def get(): InternalRow = cur
        override def currentMetricsValues() = batches.currentMetricsValues()
        override def close(): Unit = batches.close()
      }
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

/** Reads a [[GraftPartition]]: each part's decoded batches (the tier
  * [[GraftRead.open]] picks, one batch for inline rows, none for a
  * zero-column read of an unclipped file) cut by [[SliceLocator]] to
  * the visible rows and the part's skip/take, then projected: clone
  * defaults fill stored nulls and `_file` is a constant vector. */
private final class GraftBatchReader(p: GraftPartition,
    conf: SegmentWriter.SerConf) extends PartitionReader[ColumnarBatch] {
  import GraftMetrics._
  private val parts = p.parts.iterator
  private var src: PartBatches = null
  private var cur: ColumnarBatch = null
  private val counts = new GraftReadCounts
  private val metrics = Array(
    value(RowsDecoded, counts.decoded), value(RowsServed, counts.served),
    value(PagesSkipped, counts.pagesSkipped),
    value(FilesVectorized, counts.vectorized),
    value(FilesColumnar, counts.columnar))

  override def next(): Boolean = {
    while (true) {
      if (src == null) {
        if (!parts.hasNext) return false
        src = new PartBatches(parts.next(), conf, counts)
      }
      cur = src.next()
      if (cur != null) { counts.served += cur.numRows; return true }
      src.close()
      src = null
    }
    false
  }
  override def get(): ColumnarBatch = cur
  override def currentMetricsValues() = metrics
  override def close(): Unit = if (src != null) { src.close(); src = null }
}

/** what a reader did, reported as [[GraftMetrics]] */
private final class GraftReadCounts {
  var decoded, served, pagesSkipped, vectorized, columnar = 0L
}

/** The visible batches of one part (see [[GraftBatchReader]]). */
private final class PartBatches(part: GraftPart,
    conf: SegmentWriter.SerConf, counts: GraftReadCounts) {
  import GraftRead._
  private val cols = part.cols
  private val dtypes = cols.dtypeNames.map(dtypeOf).toArray
  private val idxDts = cols.idxPos.map(dtypes(_))
  private val fills: Array[Any] = cols.defaults.indices.map(i =>
    kernelToInternal(dtypes(i), cols.defaults(i))).toArray
  private val fileConst: UTF8String = part match {
    case f: GraftFilePart if f.fileLabel.nonEmpty =>
      UTF8String.fromString(f.fileLabel)
    case _ => null
  }

  private var closer: () => Unit = () => ()
  // the decoded batches in readNames layout; null at the end
  private val source: () => ColumnarBatch = part match {
    case f: GraftFilePart if cols.readNames.isEmpty =>
      // nothing to decode: the footer's row count sizes the batch
      val n =
        if (f.rows >= 0) f.rows
        else GraftRead.footerRows(f.uri, conf.value)
      var left = n
      () => if (left <= 0) null else {
        val k = math.min(left, Int.MaxValue.toLong).toInt
        left -= k
        new ColumnarBatch(Array.empty, k)
      }
    case f: GraftFilePart =>
      val file = open(f.uri, cols.physNames, dtypes, conf.value,
        part.clips, if (cols.idxPos.isEmpty) -1 else cols.idxPos(0))
      closer = () => file.close()
      if (file.tier == GraftMetrics.FilesVectorized) counts.vectorized += 1
      else counts.columnar += 1
      counts.pagesSkipped += file.pagesSkipped
      () => file.nextBatch()
    case i: GraftInlinePart =>
      var batch = inlineBatch(i, dtypes)
      () => { val b = batch; batch = null; b }
  }

  private var toSkip = part.skip
  private var left = part.take
  private var done = false
  // the visible [lo, hi) row ranges of `batch` not yet served
  private var batch: ColumnarBatch = null
  private var ranges: Array[Int] = Array.empty
  private var next0 = 0

  def next(): ColumnarBatch = {
    while (next0 >= ranges.length) {
      if (done) return null
      batch = source()
      if (batch == null) { done = true; return null }
      counts.decoded += batch.numRows
      cut(batch)
    }
    val lo = ranges(next0)
    val hi = ranges(next0 + 1)
    next0 += 2
    view(batch, lo, hi)
  }

  /** the visible ranges of `b`: clips, then skip and take */
  private def cut(b: ColumnarBatch): Unit = {
    val n = b.numRows
    val clipped =
      if (part.clips.isEmpty) Array(0, n)
      else {
        val r = SliceLocator.slices(cols.idxPos.map(b.column), idxDts, n,
          part.clips)
        // every row after the last clip's end is past every window
        if (r(r.length - 1) < n) done = true
        r
      }
    val out = Array.newBuilder[Int]
    var k = 0
    while (k < clipped.length) {
      var lo = clipped(k)
      var hi = clipped(k + 1)
      val drop = math.min(toSkip, (hi - lo).toLong).toInt
      lo += drop
      toSkip -= drop
      if (left >= 0) {
        hi = math.min(hi.toLong, lo + left).toInt
        left -= hi - lo
        if (left == 0) done = true
      }
      if (hi > lo) { out += lo; out += hi }
      k += 2
    }
    ranges = out.result()
    next0 = 0
  }

  private def view(b: ColumnarBatch, lo: Int, hi: Int): ColumnarBatch = {
    val n = hi - lo
    val vs = cols.outPos.map { pos =>
      if (pos < 0) {
        val c = new ConstantColumnVector(n, StringType)
        if (fileConst == null) c.setNull() else c.setUtf8String(fileConst)
        c: ColumnVector
      } else {
        val v = b.column(pos)
        if (lo == 0 && fills(pos) == null) v
        else new ViewVector(v, lo, n, fills(pos))
      }
    }
    new ColumnarBatch(vs, n)
  }

  def close(): Unit = closer()
}

/** Rows `off` until `off + n` of `base`, with `fill` (InternalRow
  * representation) in place of a null when set. */
private final class ViewVector(base: ColumnVector, off: Int, n: Int,
    fill: Any) extends ColumnVector(base.dataType()) {
  private val filled = fill != null
  private def useFill(i: Int): Boolean = filled && base.isNullAt(i + off)
  override def close(): Unit = ()
  override def hasNull(): Boolean = !filled && base.hasNull
  override def numNulls(): Int =
    if (filled) 0 else (0 until n).count(i => base.isNullAt(i + off))
  override def isNullAt(i: Int): Boolean = !filled && base.isNullAt(i + off)
  override def getBoolean(i: Int): Boolean = base.getBoolean(i + off)
  override def getByte(i: Int): Byte = base.getByte(i + off)
  override def getShort(i: Int): Short = base.getShort(i + off)
  override def getInt(i: Int): Int =
    if (useFill(i)) fill.asInstanceOf[Int] else base.getInt(i + off)
  override def getLong(i: Int): Long =
    if (useFill(i)) fill.asInstanceOf[Long] else base.getLong(i + off)
  override def getFloat(i: Int): Float = base.getFloat(i + off)
  override def getDouble(i: Int): Double =
    if (useFill(i)) fill.asInstanceOf[Double] else base.getDouble(i + off)
  override def getArray(i: Int): ColumnarArray = base.getArray(i + off)
  override def getMap(i: Int): ColumnarMap = base.getMap(i + off)
  override def getDecimal(i: Int, p: Int, s: Int): Decimal =
    base.getDecimal(i + off, p, s)
  override def getUTF8String(i: Int): UTF8String =
    if (useFill(i)) fill.asInstanceOf[UTF8String]
    else base.getUTF8String(i + off)
  override def getBinary(i: Int): Array[Byte] = base.getBinary(i + off)
  override def getChild(i: Int): ColumnVector = base.getChild(i)
}

/** Finds the rows of a sorted segment that lie inside clip windows:
  * the candidate pages from the head index column's row-group and
  * page (column-index) statistics, then a bisect of the full
  * lexicographic index key inside decoded batches. */
private[sources] object SliceLocator {

  /** `2 * clips.length` row positions of `n` index-sorted rows: the
    * visible rows of clip k are [out(2k), out(2k + 1)). `keys` are the
    * index columns in index order. */
  def slices(keys: Array[ColumnVector], dts: Array[GType], n: Int,
      clips: Seq[GraftClip]): Array[Int] = {
    val out = new Array[Int](2 * clips.length)
    var k = 0
    clips.foreach { c =>
      val lo = if (c.start == null) 0
        else firstAt(keys, dts, n, c.start, after = !c.closed.left)
      val hi = if (c.stop == null) n
        else firstAt(keys, dts, n, c.stop, after = c.closed.right)
      out(k) = lo
      out(k + 1) = math.max(lo, hi)
      k += 2
    }
    out
  }

  /** the first row whose key is past `b` (after = true) or at or past
    * it, by prefix compare */
  private def firstAt(keys: Array[ColumnVector], dts: Array[GType],
      n: Int, b: IndexKey, after: Boolean): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = cmp(keys, dts, mid, b)
      if (c > 0 || (c == 0 && !after)) hi = mid else lo = mid + 1
    }
    lo
  }

  private def cmp(keys: Array[ColumnVector], dts: Array[GType], r: Int,
      b: IndexKey): Int = {
    val m = math.min(keys.length, b.values.length)
    var i = 0
    while (i < m) {
      val c = dts(i).cmp(kernelAt(keys(i), dts(i), r), b.values(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  private def kernelAt(v: ColumnVector, dt: GType, r: Int): Any =
    dt match {
      case GType.DateT => v.getInt(r).toLong
      case GType.FloatT => v.getDouble(r)
      case GType.StrT => v.getUTF8String(r).toString
      case _ => v.getLong(r)
    }

  /** The pages of one file that may hold clipped rows, per row group
    * (`candidates`; null = every row), the pages of those that a clip
    * bound cuts (`boundary`), how many head-column pages were skipped,
    * and the rows of the pages wholly inside one clip (`inside`). */
  final class Pages(val candidates: Array[RowRanges],
      val boundary: Array[RowRanges], val skipped: Int, val inside: Long)

  /** [[Pages]] from the head index column's statistics. A row group
    * without a usable column index keeps every row, as candidate and
    * as boundary. */
  def pages(reader: ParquetFileReader, headPhys: String, dt: GType,
      clips: Seq[GraftClip]): Pages = {
    val groups = reader.getRowGroups.asScala.toArray
    val cand = new Array[RowRanges](groups.length)
    val bound = new Array[RowRanges](groups.length)
    var skipped = 0
    var inside = 0L
    def head(k: IndexKey): Any =
      if (k == null || k.values.isEmpty) null else k.values.head
    val bounds = clips.map(c => (head(c.start), head(c.stop)))
    groups.indices.foreach { g =>
      val n = groups(g).getRowCount
      val chunk = groups(g).getColumns.asScala.find(c =>
        c.getPath.toDotString == headPhys &&
          statsUsable(c.getPrimitiveType, dt))
      val ci = chunk.flatMap(c => Option(reader.readColumnIndex(c)))
      val oi = chunk.flatMap(c => Option(reader.readOffsetIndex(c)))
      if (ci.isEmpty || oi.isEmpty) {
        cand(g) = null
        bound(g) = null
      } else {
        val nulls = ci.get.getNullPages.asScala
        val mins = ci.get.getMinValues.asScala
        val maxs = ci.get.getMaxValues.asScala
        val keep = Array.newBuilder[Int]
        val cut = Array.newBuilder[Int]
        (0 until oi.get.getPageCount).foreach { p =>
          val rel: Seq[Int] =
            if (nulls(p)) bounds.map(_ => 0)
            else {
              val mn = statValue(dt, mins(p))
              val mx = statValue(dt, maxs(p))
              bounds.map { case (lo, hi) =>
                if ((hi != null && dt.cmp(mn, hi) > 0) ||
                    (lo != null && dt.cmp(mx, lo) < 0)) -1
                else if ((lo == null || dt.cmp(mn, lo) > 0) &&
                    (hi == null || dt.cmp(mx, hi) < 0)) 1
                else 0
              }
            }
          if (rel.forall(_ < 0)) skipped += 1
          else {
            keep += p
            if (rel.count(_ == 1) == 1 && rel.forall(_ != 0))
              inside += oi.get.getLastRowIndex(p, n) -
                oi.get.getFirstRowIndex(p) + 1
            else cut += p
          }
        }
        def ranges(ps: Array[Int]): RowRanges =
          RowRanges.create(n, java.util.Arrays.stream(ps).iterator(),
            oi.get)
        cand(g) = ranges(keep.result())
        bound(g) = ranges(cut.result())
      }
    }
    new Pages(cand, bound, skipped, inside)
  }

  /** Page statistics of a stored column compare with the engine's
    * kernel values only for integer-backed index types whose stored
    * unit is the kernel's (float and string order is not the kernel's
    * order everywhere: NaN, UTF-16 against byte order). */
  private def statsUsable(t: PrimitiveType, dt: GType): Boolean = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = t.getLogicalTypeAnnotation
    dt match {
      case GType.IntT => t.getPrimitiveTypeName == INT64 &&
        (ann == null ||
          ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation])
      case GType.TimestampT => t.getPrimitiveTypeName == INT64 &&
        (ann match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => false
        })
      case GType.DateT => t.getPrimitiveTypeName == INT32 &&
        ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      case _ => false
    }
  }

  private def statValue(dt: GType, b: ByteBuffer): Any = {
    val le = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    if (dt == GType.DateT) le.getInt(le.position()).toLong
    else le.getLong(le.position())
  }

  /** The head-column predicate parquet-mr skips row groups and pages
    * with (Spark's vectorized reader applies it): every clip's head
    * range, inclusive. None when some clip is unbounded or the stored
    * column does not qualify. */
  def headPredicate(footer: ParquetMetadata, headPhys: String, dt: GType,
      clips: Seq[GraftClip]): Option[FilterPredicate] = {
    val t = footer.getFileMetaData.getSchema.getColumns.asScala
      .find(_.getPath.mkString(".") == headPhys).map(_.getPrimitiveType)
    if (t.isEmpty || !statsUsable(t.get, dt)) return None
    def head(k: IndexKey): Option[Any] =
      Option(k).filter(_.values.nonEmpty).map(_.values.head)
    val each = clips.map { c =>
      val sides =
        if (dt == GType.DateT) {
          val col = FilterApi.intColumn(headPhys)
          head(c.start).map(v => FilterApi.gtEq(col,
            Int.box(v.asInstanceOf[Long].toInt))).toSeq ++
            head(c.stop).map(v => FilterApi.ltEq(col,
              Int.box(v.asInstanceOf[Long].toInt)))
        } else {
          val col = FilterApi.longColumn(headPhys)
          head(c.start).map(v => FilterApi.gtEq(col,
            Long.box(v.asInstanceOf[Long]))).toSeq ++
            head(c.stop).map(v => FilterApi.ltEq(col,
              Long.box(v.asInstanceOf[Long])))
        }
      sides.reduceOption[FilterPredicate](FilterApi.and)
    }
    if (each.exists(_.isEmpty)) None
    else each.flatten.reduceOption[FilterPredicate](FilterApi.or)
  }

  /** Visible rows of one segment file under `clips`, on the calling
    * thread: rows of pages wholly inside a clip come from the offset
    * index; only the boundary pages' index columns are decoded, and
    * bisected. */
  def count(uri: String, conf: Configuration, idxPhys: Seq[String],
      dts: Array[GType], clips: Seq[GraftClip]): Long = {
    val f = GraftRead.openFile(uri, conf)
    val reader = new ParquetFileReader(f.input, f.footer, f.options,
      f.stream)
    try {
      val sel = pages(reader, idxPhys.head, dts.head, clips)
      val scan = new GraftColumnarScan(reader, idxPhys, dts, sel.boundary)
      var n = sel.inside
      var b = scan.nextBatch()
      while (b != null) {
        val r = slices(Array.tabulate(idxPhys.length)(b.column), dts,
          b.numRows, clips)
        var k = 0
        while (k < r.length) { n += r(k + 1) - r(k); k += 2 }
        b = scan.nextBatch()
      }
      n
    } finally reader.close()
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

  /** a segment file, stat'ed (resurrecting a gc-buried copy) and its
    * footer parsed, with the stream open */
  final case class OpenFile(status: org.apache.hadoop.fs.FileStatus,
      input: HadoopInputFile, options: org.apache.parquet.ParquetReadOptions,
      stream: SeekableInputStream, footer: ParquetMetadata)

  def openFile(uri: String, conf: Configuration): OpenFile = {
    val status = graft.core.Store.statOrResurrect(uri, conf)
    val input = HadoopInputFile.fromStatus(status, conf)
    val options = HadoopReadOptions.builder(conf, status.getPath).build()
    val stream = input.newStream()
    var footer: ParquetMetadata = null
    try footer = ParquetFileReader.readFooter(input, options, stream)
    finally if (footer == null) stream.close()
    OpenFile(status, input, options, stream, footer)
  }

  /** the stored row count of a segment file, from its footer */
  def footerRows(uri: String, conf: Configuration): Long = {
    val f = openFile(uri, conf)
    try f.footer.getBlocks.asScala.map(_.getRowCount).sum
    finally f.stream.close()
  }

  /** Open one segment file for decoding. The file is stat'ed once
    * (resurrecting a gc-buried copy) and its footer parsed once; the
    * decode tier follows from the requested chunks' encodings:
    * [[GraftColumnarScan]] when any of them uses an encoding in
    * [[vectorizedUnsupported]], Spark's VectorizedParquetRecordReader
    * otherwise. With `clips` (and `head`, the position of the head
    * index column in `physNames`), both tiers skip the row groups and
    * pages the head column's statistics place outside every clip
    * ([[SliceLocator.pages]]); the caller still bisects what they
    * decode. The chosen reader takes over the footer and the open
    * stream; the result names its tier as the metric that counts it
    * ([[SegmentBatches.tier]]). */
  def open(uri: String, physNames: Seq[String], dtypes: Array[GType],
      conf: Configuration, clips: Seq[GraftClip] = Nil,
      head: Int = -1): SegmentBatches = {
    val f = openFile(uri, conf)
    var opened: SegmentBatches = null
    try {
      val wanted = physNames.toSet
      val columnar = f.footer.getBlocks.asScala.exists(_.getColumns.asScala
        .exists(c => wanted(c.getPath.toDotString) &&
          c.getEncodings.asScala.exists(vectorizedUnsupported)))
      lazy val reader = new ParquetFileReader(f.input, f.footer,
        f.options, f.stream)
      val sel =
        if (clips.isEmpty || head < 0) None
        else Some(SliceLocator.pages(reader, physNames(head),
          dtypes(head), clips))
      val skipped = sel.map(_.skipped).getOrElse(0)
      opened =
        if (columnar)
          new GraftColumnarScan(reader, physNames, dtypes,
            sel.map(_.candidates).orNull, skipped)
        else
          vectorized(f, physNames, dtypes, conf, skipped,
            if (head < 0) None
            else SliceLocator.headPredicate(f.footer, physNames(head),
              dtypes(head), clips))
      opened
    } finally if (opened == null) f.stream.close()
  }

  private def vectorized(f: OpenFile, physNames: Seq[String],
      dtypes: Array[GType], conf: Configuration, skipped: Int,
      pred: Option[FilterPredicate]): SegmentBatches = {
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
    // row-group and page skipping on the head index column
    pred.foreach(ParquetInputFormat.setFilterPredicate(c, _))
    // NOTE: Spark's SpecificParquetRecordReaderBase casts to the
    // OLD mapred FileSplit, not the mapreduce one
    val split = new org.apache.hadoop.mapred.FileSplit(
      f.status.getPath, 0, f.status.getLen, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(c,
        new org.apache.hadoop.mapreduce.TaskAttemptID())
    // engine files store proleptic INT64 micros (CORRECTED); the
    // INT96 branch only matters for pre-round-8 files of modern
    // timestamps, where CORRECTED and LEGACY agree
    val r = new VectorizedParquetRecordReader(null, "CORRECTED", "UTC",
      "CORRECTED", "UTC", false, 4096)
    r.initialize(split, ctx, Some(f.input), Some(f.stream), Some(f.footer))
    r.initBatch(StructType(Nil), InternalRow.empty)
    new SegmentBatches(GraftMetrics.FilesVectorized, skipped) {
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

  /** a manifest-inline part's rows as one batch in readNames layout;
    * columns it does not store read as their default */
  def inlineBatch(p: GraftInlinePart, dtypes: Array[GType])
      : ColumnarBatch = {
    val names = p.cols.readNames
    val src = names.map(p.srcCols.indexOf)
    val n = p.data.length
    val vecs = names.indices.map { i =>
      val v = new OnHeapColumnVector(math.max(n, 1), dtypes(i).sparkType)
      var r = 0
      while (r < n) {
        val x = kernelToInternal(dtypes(i),
          if (src(i) >= 0) p.data(r)(src(i)) else p.cols.defaults(i))
        if (x == null) v.putNull(r)
        else x match {
          case l: Long => v.putLong(r, l)
          case d: Int => v.putInt(r, d)
          case d: Double => v.putDouble(r, d)
          case s: UTF8String =>
            val b = s.getBytes
            v.putByteArray(r, b, 0, b.length)
        }
        r += 1
      }
      v: ColumnVector
    }
    new ColumnarBatch(vecs.toArray, n)
  }
}

/** A segment file opened by [[GraftRead.open]]: its rows as column
  * batches in the requested (physNames) order. A batch stays valid
  * until the next call (the DSv2 buffer-reuse contract). `tier` is the
  * [[GraftMetrics]] name counting the files its decode tier opened;
  * `pagesSkipped` the head-column pages its clips skipped. */
private abstract class SegmentBatches(val tier: String,
    val pagesSkipped: Int) {
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
  * (pre-clone segments) serve null vectors. `ranges` (null = every
  * row) restricts each row group to the rows of the pages it names
  * (an empty range skips the group). */
private final class GraftColumnarScan(reader: ParquetFileReader,
    physNames: Seq[String], dtypes: Array[GType],
    ranges: Array[RowRanges] = null, skipped: Int = 0)
    extends SegmentBatches(GraftMetrics.FilesColumnar, skipped) {
  import org.apache.parquet.column.impl.ColumnReadStoreImpl

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
  private val groups = reader.getRowGroups.asScala.toArray
  private var group = 0

  private var batch: ColumnarBatch = null
  private var vecs: Array[OnHeapColumnVector] = null
  private var vecCap: Int = 0

  def nextBatch(): ColumnarBatch = {
    while (group < groups.length && ranges != null &&
        ranges(group) != null && ranges(group).rowCount() == 0)
      group += 1
    if (group >= groups.length) return null
    val rr = if (ranges == null) null else ranges(group)
    // no requested column in the file (a zero-column request, or a
    // pre-clone segment): the row counts size all-null batches of
    // physNames.length columns, with no page IO at all
    val pages =
      if (descs.isEmpty) null
      else if (rr == null) reader.readRowGroup(group)
      else reader.readFilteredRowGroup(group, rr)
    val n =
      if (pages != null) pages.getRowCount
      else if (rr == null) groups(group).getRowCount
      else rr.rowCount()
    group += 1
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
        vecs.asInstanceOf[Array[ColumnVector]], rows)
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
