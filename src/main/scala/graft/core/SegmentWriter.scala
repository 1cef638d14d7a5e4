package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function

/** The engine's own parquet writer for segment files — used on BOTH
  * the driver (the driver tier's one file per write) and executors
  * (the bulk write job and the DataSourceV2 writers), all through
  * [[SegmentWriter.TaskSegmentWriter]], so every segment in a store
  * carries one uniform format and one content digest regardless of
  * which path produced it:
  *
  *  - INT64 TIMESTAMP(MICROS, UTC) timestamps — NOT Spark's INT96
  *    default: INT96 has no usable column statistics, cannot
  *    delta-pack, and costs 12 bytes/value; the 5-minute grid of the
  *    reference's bench_pg dataset delta-packs to ~nothing as INT64.
  *  - v2 data pages: DELTA_BINARY_PACKED int64/int32,
  *    DELTA_BYTE_ARRAY strings.
  *  - BYTE_STREAM_SPLIT for float64/float32 (dictionary fallback):
  *    splits each double into 8 byte-streams so the codec sees the
  *    low-entropy sign/exponent/high-mantissa bytes as runs — the
  *    parquet counterpart of the reference's blosc bitshuffle
  *    (lakota/schema.py:51, numcodecs Blosc SHUFFLE). parquet-mr
  *    only exposes this via `ParquetProperties` — there is no
  *    `parquet.*` Hadoop conf key — which is exactly why the bulk
  *    path writes through this class instead of
  *    `DataFrame.write.parquet`.
  *
  * Spark's vectorized reader consumes all of the above natively.
  *
  * [[writeJob]] is the bulk path: ONE distributed job over the
  * range-sorted input in which each task writes its partition's
  * ~pageLen-row files directly AND returns per-file
  * (count, min key, max key, content hash) — the write IS the stats
  * pass, so no read-back scan, footer probe, or second job exists.
  * The per-file hash is the same order-insensitive
  * `sum(pmod(xxhash64(cols), 2^31-1))` the manifest digest has
  * always used, now computed per FILE — making the content address
  * of every multi-file segment depend on that file's actual interior
  * (two files whose index stats tie but whose rows differ can never
  * alias in the store).
  */
object SegmentWriter {

  /** Per-staged-file statistics returned by the write job. `tmp` is
    * the store-RELATIVE staging path; `min`/`max` are kernel-repr
    * index keys of the file's first/last row (the input is sorted).
    * `vstats` are per-VALUE-column (min, max) kernel bounds keyed by
    * PHYSICAL name — the data-skipping stats the manifest row
    * carries (empty when a path does not compute them). */
  final case class FileStat(tmp: String, cnt: Long, min: IndexKey,
      max: IndexKey, hash: Long,
      vstats: Map[String, (Any, Any)] = Map.empty,
      vsums: Map[String, Long] = Map.empty)
      extends Serializable

  /** java-serializable Hadoop Configuration (Configuration itself is
    * Writable but not Serializable). */
  final class SerConf(@transient private var c: Configuration)
      extends Serializable {
    def value: Configuration = c
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); c.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      c = new Configuration(false)
      c.readFields(in)
    }
  }

  /** Parquet message type for the engine's 5 scalar dtypes. */
  def messageType(cols: Seq[ColDef], physNames: Seq[String])
      : MessageType = {
    val b = Types.buildMessage()
    cols.zip(physNames).foreach { case (c, phys) =>
      def prim(t: org.apache.parquet.schema.PrimitiveType
          .PrimitiveTypeName) =
        if (c.idx) Types.required(t) else Types.optional(t)
      val tb = c.dtype match {
        case GType.TimestampT => prim(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case GType.DateT => prim(INT32)
          .as(LogicalTypeAnnotation.dateType())
        case GType.IntT   => prim(INT64)
        case GType.FloatT => prim(DOUBLE)
        case GType.StrT   => prim(BINARY)
          .as(LogicalTypeAnnotation.stringType())
      }
      b.addField(tb.named(phys))
    }
    b.named("spark_schema")
  }

  /** WriteSupport for flat InternalRows of the engine dtypes (micros
    * Long / days Int / Long / Double / UTF8String, Spark's internal
    * representations). `srcOffset` shifts where the data columns
    * start in the input row (the grouped write carries a leading
    * label column that must not reach the file). */
  private final class RowWriteSupport(cols: Seq[ColDef],
      physNames: Seq[String], srcOffset: Int)
      extends WriteSupport[InternalRow] {
    private val msg = messageType(cols, physNames)
    private var rc: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(msg,
        java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(c: RecordConsumer): Unit = rc = c
    override def write(ir: InternalRow): Unit = {
      rc.startMessage()
      var i = 0
      while (i < cols.length) {
        val s = i + srcOffset
        if (!ir.isNullAt(s)) {
          rc.startField(physNames(i), i)
          cols(i).dtype match {
            case GType.TimestampT | GType.IntT => rc.addLong(ir.getLong(s))
            case GType.DateT  => rc.addInteger(ir.getInt(s))
            case GType.FloatT => rc.addDouble(ir.getDouble(s))
            case GType.StrT   => rc.addBinary(
              Binary.fromString(ir.getUTF8String(s).toString))
          }
          rc.endField(physNames(i), i)
        }
        i += 1
      }
      rc.endMessage()
    }
  }

  private final class RowWriterBuilder(out: HadoopOutputFile,
      ws: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](out) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = ws
  }

  /** Open one segment-format parquet writer at `uri`.
    *
    * file:// targets write through a PRIVATE RawLocalFileSystem: the
    * JVM-cached LocalFileSystem is a ChecksumFileSystem that computes
    * an inline CRC over every byte and doubles the create/rename ops
    * with a `.crc` sidecar — measured at ~2x on the 5M-row bulk
    * write. Segment integrity does not need it (parquet pages carry
    * their own checksums, and the content-addressed digest is
    * verified at seal time); the real deployment filesystems (HDFS,
    * S3A) never use the sidecar scheme. The override is CONF-LOCAL
    * (disable.cache + impl on a copy), so no other file:// user in
    * the JVM loses its checksums. */
  // the raw-local write Configuration, memoized per SOURCE conf: a
  // Configuration copy clones the full property map, and paying that
  // per rolled file (~105 files on the 53M-row write) is pure waste —
  // the derived conf never varies within a task. Weak keys: task
  // confs die with their tasks.
  private val fileWriteConfCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Configuration, Configuration]())

  /** The memoized raw-local conf is SHARED by every concurrent writer
    * task that holds the same source conf; parquet's writer machinery
    * only ever READS it. This subclass enforces that assumption: any
    * downstream consumer that tried to mutate the shared conf (which
    * would silently cross-contaminate sibling writers) fails loudly
    * instead. All Configuration mutators funnel through
    * set(name,value,source) / unset / clear / addResource — each is
    * rejected once the instance is frozen (construction itself copies
    * via internal state, not set(), so the flag can be final). */
  private final class FrozenConf(src: Configuration)
      extends Configuration(src) {
    @volatile private var frozen = false
    def freeze(): this.type = { frozen = true; this }
    private def reject(what: String): Unit = if (frozen)
      throw new UnsupportedOperationException(
        "graft: the shared raw-local write Configuration is read-only " +
          s"(attempted $what); open() hands every writer this one " +
          "instance — mutate a private copy instead")
    override def set(name: String, value: String, source: String): Unit = {
      reject(s"set($name)"); super.set(name, value, source)
    }
    override def set(name: String, value: String): Unit = {
      reject(s"set($name)"); super.set(name, value)
    }
    override def unset(name: String): Unit = {
      reject(s"unset($name)"); super.unset(name)
    }
    override def clear(): Unit = { reject("clear()"); super.clear() }
    override def addResource(r: Configuration): Unit = {
      reject("addResource"); super.addResource(r)
    }
    override def addResource(r: org.apache.hadoop.fs.Path): Unit = {
      reject("addResource"); super.addResource(r)
    }
    override def addResource(r: String): Unit = {
      reject("addResource"); super.addResource(r)
    }
  }

  def open(cols: Seq[ColDef], physNames: Seq[String], uri: String,
      conf: Configuration, codec: String, srcOffset: Int = 0)
      : ParquetWriter[InternalRow] = {
    val path = new Path(uri)
    val writeConf =
      if (Option(path.toUri.getScheme).forall(_ == "file"))
        fileWriteConfCache.computeIfAbsent(conf, c0 => {
          val c = new FrozenConf(c0)
          c.set("fs.file.impl",
            classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
          c.setBoolean("fs.file.impl.disable.cache", true)
          c.freeze()
        })
      else conf
    openWith(cols, physNames, path, writeConf, codec, srcOffset)
  }

  private def openWith(cols: Seq[ColDef], physNames: Seq[String],
      path: Path, conf: Configuration, codec: String, srcOffset: Int)
      : ParquetWriter[InternalRow] = {
    // `<codec>+bss` enables BYTE_STREAM_SPLIT for the FP columns (the
    // parquet-native analogue of the reference's blosc-bitshuffle,
    // lakota/schema.py:51): each double splits into 8 byte-streams so
    // the codec compresses exponent bytes separately from near-random
    // mantissa bytes. Measured on the 5.26M-row sin() comparable:
    // float column 39.9 -> 30.1 MB under zstd (-25%). NOT the default:
    // Spark 4.1's vectorized parquet reader has no BSS decoder (its
    // encoding switch covers PLAIN/RLE/DELTA_* only — verified against
    // VectorizedColumnReader.getValuesReader), so the connector reads
    // files whose footer lists BSS chunks with its own parquet-mr page
    // decoder (GraftColumnarScan) at ~2-3x the full-scan decode cost.
    // Right trade for cold/archival series where storage dominates;
    // wrong default for the read-hot path.
    val bss = codec.toLowerCase(java.util.Locale.ROOT).endsWith("+bss")
    val base = if (bss) codec.substring(0, codec.length - 4) else codec
    val b = new RowWriterBuilder(
      HadoopOutputFile.fromPath(path, conf),
      new RowWriteSupport(cols, physNames, srcOffset))
      .withConf(conf)
      // attempt-unique staging names make OVERWRITE safe: a retried
      // task rewrites its own file, never a committed one
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(
        CompressionCodecName.valueOf(
          base.toUpperCase(java.util.Locale.ROOT)))
      .withWriterVersion(ParquetProperties.WriterVersion.PARQUET_2_0)
      .withDictionaryEncoding(true)
      .withByteStreamSplitEncoding(bss)
    if (bss)
      // keep BSS chunks PURE: with dictionary on, parquet writes
      // dict pages first and falls back to BSS only once the
      // dictionary overflows, so each chunk's first pages would miss
      // the byte-stream split (near-unique doubles overflow it anyway:
      // the dictionary build is wasted work)
      cols.zip(physNames).foreach { case (c, pn) =>
        if (c.dtype == GType.FloatT) b.withDictionaryEncoding(pn, false)
      }
    b.build()
  }

  /** The bulk write: one distributed job over `sorted` (already
    * range-partitioned + sorted within partitions on the index
    * columns, projected to physical names in schema order). Each task
    * streams its rows into ≤ pageLen-row files under `p.tmpUri` and
    * emits one [[FileStat]] per file; the returned stats are the
    * write's ONLY metadata pass. At cluster scale this is
    * embarrassingly parallel: no driver coordination beyond the
    * final small collect of one stat row per ~pageLen rows.
    *
    * A `labeled` write ([[graft.api.Collection.ingestGrouped]], and
    * [[graft.api.Collection.defrag]]'s run chunks) carries a leading
    * STRING label column (row layout `[label, data cols…]`, sorted
    * by (label, index…)): tasks roll
    * files on label change OR pageLen, and each stat comes back
    * tagged with its label — so "split this frame into 10^5 series"
    * is ONE job with no read-back. Unlabeled stats carry a null
    * label.
    */
  def writeJob(sorted: DataFrame, p: TaskParams)
      : Seq[(String, FileStat)] = {
    val serConf = new SerConf(
      sorted.sparkSession.sessionState.newHadoopConf())
    sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, iter) =>
      if (!iter.hasNext) Iterator.empty
      else {
        val attempt = Option(TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tw = new TaskSegmentWriter(p, serConf.value, pid, attempt)
        try {
          while (iter.hasNext) tw.write(iter.next())
          tw.finish().iterator
        } finally tw.closeQuiet()
      }
    }.collect().toSeq
  }

  /** Serializable bundle of everything one rolling writer needs —
    * built by [[graft.api.Collection.taskParams]] for every write
    * tier: the driver tier, the bulk job, the grouped
    * ingest, defrag and the DataSourceV2 batch, streaming and
    * copy-on-write writer factories. */
  final case class TaskParams(gschema: GSchema,
      phys: IndexedSeq[String], tmpRel: String, tmpUri: String,
      pageLen: Long, codec: String, verifySorted: Boolean,
      labeled: Boolean) extends Serializable

  /** Per-file value-column statistics — the one policy every write
    * tier records (the inline embed feeds it kernel scalars, the
    * segment writer feeds it row values): a (min, max) per column,
    * where a NaN poisons a float column (no safe bound) and an
    * all-null column gets no entry; and a SUM per integer column
    * (the metadata-only sum pushdown), where Long overflow poisons
    * the sum but not the bounds. Maps are keyed by `names`, the
    * columns' PHYSICAL names. */
  private[graft] final class ValueStats(dtypes: IndexedSeq[GType],
      names: IndexedSeq[String]) {
    private val n = dtypes.length
    private val mn = new Array[Any](n)
    private val mx = new Array[Any](n)
    private val bad = new Array[Boolean](n)
    private val sum = new Array[Long](n)
    private val sumN = new Array[Long](n)
    private val sumBad = new Array[Boolean](n)

    /** Fold one value of column `j` (kernel repr; null is skipped). */
    def observe(j: Int, v: Any): Unit = if (v != null && !bad(j)) {
      val dt = dtypes(j)
      if (dt == GType.FloatT &&
          java.lang.Double.isNaN(v.asInstanceOf[Double])) {
        bad(j) = true; mn(j) = null; mx(j) = null
      } else {
        if (mn(j) == null || dt.cmp(v, mn(j)) < 0) mn(j) = v
        if (mx(j) == null || dt.cmp(v, mx(j)) > 0) mx(j) = v
        if (dt == GType.IntT && !sumBad(j)) {
          try {
            sum(j) = Math.addExact(sum(j), v.asInstanceOf[Long])
            sumN(j) += 1
          } catch {
            case _: ArithmeticException => sumBad(j) = true
          }
        }
      }
    }

    def stats: Map[String, (Any, Any)] = (0 until n).collect {
      case j if !bad(j) && mn(j) != null => names(j) -> ((mn(j), mx(j)))
    }.toMap

    def sums: Map[String, Long] = (0 until n).collect {
      case j if !sumBad(j) && sumN(j) > 0 => names(j) -> sum(j)
    }.toMap
  }

  /** Reads index keys out of InternalRows laid out as `gs`'s columns
    * after `off` leading ones (a labeled write's group column): the one
    * row-to-IndexKey conversion of every write path. A null index slot
    * would silently read as 0/"" and record a phantom key in the
    * manifest stats (and corrupt the REQUIRED parquet field) — it is
    * rejected with the offending column named. */
  private[graft] final class RowKeys(gs: GSchema, off: Int = 0) {
    private val dtypes = gs.cols.map(_.dtype).toArray
    private val idxPos = gs.cols.indices.filter(gs.cols(_).idx).toArray

    /** column `i` of a non-null slot, in kernel repr */
    def kernelAt(ir: InternalRow, i: Int): Any = dtypes(i) match {
      case GType.TimestampT | GType.IntT => ir.getLong(i + off)
      case GType.DateT  => ir.getInt(i + off).toLong
      case GType.FloatT => ir.getDouble(i + off)
      case GType.StrT   => ir.getUTF8String(i + off).toString
    }

    def apply(ir: InternalRow): IndexKey = IndexKey(
      idxPos.map { i =>
        if (ir.isNullAt(i + off))
          throw new IllegalArgumentException(
            s"null value in index column '${gs.cols(i).name}' — index " +
              "columns must be non-null")
        kernelAt(ir, i)
      }.toVector)
  }

  /** Rolling segment writer — the only code that turns rows into a
    * staged segment file and its [[FileStat]]. Streams sorted
    * InternalRows into ≤ pageLen-row engine-format parquet files
    * under the staging dir, rolling on pageLen (and, for the grouped
    * ingest, on label change), verifying row order when the input
    * was declared presorted, and accumulating each file's
    * (count, min key, max key, content hash, value stats) as it
    * writes — the write IS the stats pass. One instance per task,
    * or per driver-tier write. */
  private[graft] final class TaskSegmentWriter(p: TaskParams,
      conf: Configuration, pid: Int, attempt: Long) {
    private val cols = p.gschema.cols
    private val off = if (p.labeled) 1 else 0
    private val keys = new RowKeys(p.gschema, off)
    private val valPos =
      cols.zipWithIndex.filterNot(_._1.idx).map(_._2).toArray
    private val fieldTypes = p.gschema.sparkSchema.fields.map(_.dataType)
    private val nCols = cols.length
    private val M = 2147483647L

    private val out = ArrayBuffer.empty[(String, FileStat)]
    private var w: ParquetWriter[InternalRow] = null
    private var fi = -1
    private var cnt = 0L
    private var hash = 0L
    private var minK: IndexKey = null
    private var maxK: IndexKey = null
    private var prevK: IndexKey = null
    private var label: String = null
    private def newVals() = new ValueStats(
      valPos.map(cols(_).dtype).toIndexedSeq, valPos.map(p.phys).toIndexedSeq)
    private var vals = newVals()

    private def fname(i: Int) = f"part-$pid%05d-$attempt-$i%04d.parquet"

    private def roll(): Unit = if (w != null) {
      w.close()
      out += ((label,
        FileStat(s"${p.tmpRel}/${fname(fi)}", cnt, minK, maxK, hash,
          vals.stats, vals.sums)))
      w = null; cnt = 0L; hash = 0L; minK = null; maxK = null
      vals = newVals()
    }

    def write(ir: InternalRow): Unit = {
      val rowLabel =
        if (!p.labeled) null
        else if (ir.isNullAt(0))
          throw new IllegalArgumentException(
            "null values in group column — filter them first")
        else ir.getUTF8String(0).toString
      if (w != null && p.labeled && rowLabel != label) {
        roll() // new series starts a new file
        prevK = null
      }
      if (w == null) {
        fi += 1
        w = open(cols, p.phys, s"${p.tmpUri}/${fname(fi)}", conf,
          p.codec, off)
        minK = keys(ir)
        label = rowLabel
      }
      w.write(ir)
      maxK = keys(ir)
      if (p.verifySorted) {
        // presorted-input contract (the reference requires sorted
        // frames on write, lakota/frame.py): verify per row, fail the
        // write loudly before anything commits
        if (prevK != null && p.gschema.cmpKey(prevK, maxK) > 0)
          throw new IllegalArgumentException(
            s"presorted write got unsorted input: $prevK > $maxK")
        prevK = maxK
      }
      // the content digest's per-row hash (xxhash64(cols…), seed 42)
      // via the interpreted hash function directly — no per-row
      // Expression-tree eval
      var h = 42L
      var i = 0
      while (i < nCols) {
        if (!ir.isNullAt(i + off))
          h = XxHash64Function.hash(
            ir.get(i + off, fieldTypes(i)), fieldTypes(i), h)
        i += 1
      }
      hash += ((h % M) + M) % M
      var j = 0
      while (j < valPos.length) {
        val c = valPos(j)
        if (!ir.isNullAt(c + off)) vals.observe(j, keys.kernelAt(ir, c))
        j += 1
      }
      cnt += 1
      if (cnt >= p.pageLen) roll()
    }

    /** files opened so far, the open one included (each holds a row) */
    def files: Int = fi + 1

    /** Close the open file and return every file's stats. */
    def finish(): Seq[(String, FileStat)] = { roll(); out.toSeq }

    /** Force a file boundary here — the copy-on-write row-level
      * writer rolls whenever a row crosses into a different replaced
      * range, so each staged file lies entirely within one range (or
      * one gap) and the commit can splice per range. */
    private[graft] def rollNow(): Unit = roll()

    /** failure-path close: never masks the original exception */
    def closeQuiet(): Unit = if (w != null) {
      // failure-path close: ParquetWriter.close() flushes pages and
      // writes a footer, which can itself throw on a half-written
      // file — swallow it so the ORIGINAL task failure propagates
      try w.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
