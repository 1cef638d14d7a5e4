package graft.sources

import graft.TestSpark
import graft.core.{Closed, ColDef, GType, IndexKey, SegmentWriter}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The slice locator against a brute-force filter, table-driven: every
  * clip below is served by the connector's batch reader and counted by
  * [[SliceLocator.count]] over segment files with several row groups
  * and pages, on both decode tiers, and must give exactly the rows a
  * per-row clip keeps. Keys repeat three times, so duplicates straddle
  * page and row-group edges. */
class SliceLocatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 60000
  /** the stored key of row i: each key three times */
  private def key(i: Int): Long = (i / 3) * 10L
  private lazy val conf = spark.sessionState.newHadoopConf()

  private def one(dir: String): String =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath

  /** Spark's parquet writer: small row groups and pages, plain
    * encodings (the vectorized tier) */
  private lazy val plainFile: String = {
    val dir = Files.createTempDirectory("graft-slice-plain").toString
    spark.range(0, N, 1, 1)
      .select(expr("(id div 3) * 10").as("ts"), (col("id") * 0.5).as("v"))
      .write.mode("overwrite")
      .option("parquet.block.size", 128 * 1024)
      .option("parquet.page.row.count.limit", 2000)
      .parquet(dir)
    one(dir)
  }

  /** the engine's writer in `zstd+bss` mode: BYTE_STREAM_SPLIT float
    * pages, read by the columnar tier */
  private lazy val bssFile: String = {
    val dir = Files.createTempDirectory("graft-slice-bss").toString
    val uri = s"file://$dir/seg.parquet"
    val w = SegmentWriter.open(Seq(ColDef("ts", GType.IntT, idx = true),
      ColDef("v", GType.FloatT, idx = false)), Seq("ts", "v"), uri, conf,
      "zstd+bss")
    try (0 until N).foreach(i => w.write(InternalRow(key(i), i * 0.5)))
    finally w.close()
    s"$dir/seg.parquet"
  }

  /** a two-column index (a, b) = (i / 1000, i % 1000) */
  private lazy val twoColFile: String = {
    val dir = Files.createTempDirectory("graft-slice-two").toString
    spark.range(0, N, 1, 1)
      .select(expr("id div 1000").as("a"), expr("id % 1000").as("b"),
        (col("id") * 0.5).as("v"))
      .write.mode("overwrite")
      .option("parquet.block.size", 128 * 1024)
      .option("parquet.page.row.count.limit", 2000)
      .parquet(dir)
    one(dir)
  }

  private def footer(f: String) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf))
    try r.getFooter finally r.close()
  }

  private def k(v: Any*): IndexKey = IndexKey(v.toVector)

  private def cols(names: String*)(dts: String*)(idx: Int*)
      : GraftCols = GraftCols(names.toVector, names.toVector,
    dts.toVector, names.map(_ => null).toVector,
    names.indices.toArray, idx.toArray)

  /** the reader's output (first column as Long, the rest as doubles or
    * longs) and its task metrics */
  private def read(uri: String, c: GraftCols, clips: Seq[GraftClip],
      skip: Long = 0L, take: Long = -1L, rows: Long = -1L)
      : (Seq[Seq[Any]], Map[String, Long]) = {
    val r = GraftPlanning.readerFactory().createColumnarReader(
      GraftPartition(Vector(GraftFilePart(uri, "f", rows, c,
        clips.toVector, skip, take))))
    val out = Seq.newBuilder[Seq[Any]]
    val dts = c.outPos.map(p => if (p < 0) "str" else c.dtypeNames(p))
    try {
      while (r.next()) r.get().rowIterator().asScala.foreach { row =>
        out += dts.indices.map(j =>
          if (row.isNullAt(j)) null
          else dts(j) match {
            case "float" => row.getDouble(j)
            case "str" => row.getUTF8String(j).toString
            case _ => row.getLong(j)
          })
      }
      (out.result(), r.currentMetricsValues().map(m =>
        m.name() -> m.value()).toMap)
    } finally r.close()
  }

  /** prefix compare, as the engine's index bounds compare */
  private def cmp(key: Seq[Long], b: IndexKey): Int = {
    val n = math.min(key.length, b.values.length)
    (0 until n).iterator.map(i =>
      java.lang.Long.compare(key(i), b.values(i).asInstanceOf[Long]))
      .find(_ != 0).getOrElse(0)
  }
  private def inClip(key: Seq[Long], c: GraftClip): Boolean = {
    val l = if (c.start == null) 1 else cmp(key, c.start)
    val r = if (c.stop == null) -1 else cmp(key, c.stop)
    (l > 0 || (l == 0 && c.closed.left)) &&
      (r < 0 || (r == 0 && c.closed.right))
  }
  /** the rows a per-row clip keeps, in order, then skip and take */
  private def expected(keys: IndexedSeq[Seq[Long]], clips: Seq[GraftClip],
      skip: Long = 0L, take: Long = -1L): IndexedSeq[Int] = {
    val kept = keys.indices.filter(i =>
      clips.isEmpty || clips.exists(inClip(keys(i), _))).drop(skip.toInt)
    if (take < 0) kept else kept.take(take.toInt)
  }

  private lazy val oneColKeys = (0 until N).map(i => Seq(key(i)))

  /** first rows of every row group but the first, of a file */
  private def groupEdges(f: String): Seq[Int] =
    footer(f).getBlocks.asScala.map(_.getRowCount.toInt)
      .scanLeft(0)(_ + _).drop(1).dropRight(1).toSeq

  final case class Case(name: String, clips: Seq[GraftClip],
      skip: Long = 0L, take: Long = -1L)

  private def oneColCases(pageRows: Int, f: String): Seq[Case] = {
    val rg = groupEdges(f)
    val page = pageRows // a page edge inside the first row group
    val all = Closed.Both
    Seq(
      Case("page edge, closed both",
        Seq(GraftClip(k(key(page)), k(key(3 * page)), all))),
      Case("page edge, open both",
        Seq(GraftClip(k(key(page)), k(key(3 * page)), Closed.None_))),
      Case("page edge, left closed",
        Seq(GraftClip(k(key(page)), k(key(2 * page + 1)), Closed.Left))),
      Case("page edge, right closed",
        Seq(GraftClip(k(key(page - 1)), k(key(2 * page)), Closed.Right))),
      Case("before all data", Seq(GraftClip(k(-100L), k(-10L), all))),
      Case("start before all data",
        Seq(GraftClip(k(-100L), k(key(7)), all))),
      Case("after all data",
        Seq(GraftClip(k(key(N - 1) + 10), k(key(N - 1) + 100), all))),
      Case("stop after all data",
        Seq(GraftClip(k(key(N - 5)), k(key(N - 1) + 100), all))),
      Case("between rows", Seq(GraftClip(k(key(4000) + 5),
        k(key(9000) + 5), all))),
      Case("open start", Seq(GraftClip(null, k(key(5000)), Closed.Left))),
      Case("open stop", Seq(GraftClip(k(key(5000)), null, Closed.None_))),
      Case("duplicate keys at a boundary, left-open",
        Seq(GraftClip(k(key(page)), k(key(page + 10)), Closed.Right))),
      Case("duplicate keys at a boundary, single key",
        Seq(GraftClip(k(key(page)), k(key(page)), all))),
      Case("two clips of one file (an overlay split)",
        Seq(GraftClip(k(key(100)), k(key(3000)), Closed.Left),
          GraftClip(k(key(7000)), k(key(N - 10)), Closed.Right))),
      Case("narrow clip in the middle",
        Seq(GraftClip(k(key(30001)), k(key(30400)), all))),
      Case("skip and take across two clips",
        Seq(GraftClip(k(key(100)), k(key(3000)), Closed.Left),
          GraftClip(k(key(7000)), k(key(9000)), all)),
        skip = 2500, take = 1000),
      Case("whole file, skip and take", Nil, skip = 59990, take = 100)) ++
      rg.headOption.toSeq.flatMap(first => Seq(
        Case("row-group edge", Seq(GraftClip(k(key(first)),
          k(key(rg.last)), Closed.Left))),
        Case("row-group edge, open",
          Seq(GraftClip(k(key(first - 1)), k(key(rg.last)),
            Closed.None_)))))
  }

  private def runOneCol(tier: String, f: String, pageRows: Int): Unit = {
    val c = cols("ts", "v")("int", "float")(0)
    oneColCases(pageRows, f).foreach { cs =>
      val want = expected(oneColKeys, cs.clips, cs.skip, cs.take)
      val (got, m) = read(f, c, cs.clips, cs.skip, cs.take)
      assert(got.map(_.head) == want.map(key),
        s"$tier ${cs.name}: ${got.length} rows, want ${want.length}")
      assert(got.map(_(1)) == want.map(_ * 0.5), s"$tier ${cs.name}")
      assert(m(tier) == 1L && m(GraftMetrics.RowsServed) == want.length,
        s"$tier ${cs.name}: $m")
      if (cs.clips.nonEmpty && cs.skip == 0 && cs.take < 0) {
        val n = SliceLocator.count(f, conf, Seq("ts"), Array(GType.IntT),
          cs.clips)
        assert(n == want.length, s"$tier ${cs.name}: counted $n")
      }
      if (cs.name == "narrow clip in the middle")
        assert(m(GraftMetrics.PagesSkipped) > 0 &&
          m(GraftMetrics.RowsDecoded) < N / 2, s"$tier ${cs.name}: $m")
    }
  }

  test("vectorized tier: every clip serves exactly the per-row clip") {
    assert(footer(plainFile).getBlocks.size > 2, "several row groups")
    runOneCol(GraftMetrics.FilesVectorized, plainFile, 2000)
  }

  test("BSS columnar tier: every clip serves exactly the per-row clip") {
    runOneCol(GraftMetrics.FilesColumnar, bssFile, 20000)
  }

  test("two-column index: prefix bounds bisect the full key") {
    val keys = (0 until N).map(i => Seq((i / 1000).toLong, (i % 1000).toLong))
    val c = cols("a", "b", "v")("int", "int", "float")(0, 1)
    Seq(
      GraftClip(k(5L, 500L), k(7L), Closed.Right),
      GraftClip(k(5L), k(6L, 10L), Closed.Right),
      GraftClip(k(5L), k(6L, 10L), Closed.Left),
      GraftClip(k(3L, 999L), k(4L, 0L), Closed.Both),
      GraftClip(k(9L, 1000L), k(10L), Closed.Left)).foreach { clip =>
      val want = expected(keys, Seq(clip))
      val (got, _) = read(twoColFile, c, Seq(clip))
      assert(got.map(r => Seq(r(0), r(1))) == want.map(keys), s"$clip")
      assert(SliceLocator.count(twoColFile, conf, Seq("a", "b"),
        Array(GType.IntT, GType.IntT), Seq(clip)) == want.length, s"$clip")
    }
  }

  test("pre-clone file: a missing column reads its default, or null") {
    // `flag` is not stored: with a default it is a constant, without
    // one it is null; `_file` (outPos -1) is the part's label
    val c = GraftCols(Vector("ts", "flag", "gone"),
      Vector("ts", "flag", "gone"), Vector("int", "int", "float"),
      Vector(null, 7L, null), Array(0, 1, 2, -1), Array(0))
    val clip = GraftClip(k(key(10)), k(key(20)), Closed.Both)
    val (got, _) = read(plainFile, c, Seq(clip))
    assert(got == expected(oneColKeys, Seq(clip)).map(i =>
      Seq(key(i), 7L, null, "f")))
  }

  test("zero-column read: count() decodes nothing unless clipped") {
    val none = cols()()()
    val (all, m) = read(plainFile, none, Nil, rows = N.toLong)
    assert(all.length == N && all.forall(_.isEmpty))
    assert(m(GraftMetrics.RowsDecoded) == N &&
      m(GraftMetrics.FilesVectorized) == 0L, s"$m")
    // from the footer when the manifest does not know the count
    assert(read(plainFile, none, Nil)._1.length == N)
    // clipped: the index column decodes, nothing is emitted per row
    val clip = GraftClip(k(key(4000)), k(key(9000)), Closed.Left)
    val idxOnly = GraftCols(Vector("ts"), Vector("ts"), Vector("int"),
      Vector(null), Array.empty, Array(0))
    val (some, _) = read(bssFile, idxOnly, Seq(clip))
    assert(some.length == expected(oneColKeys, Seq(clip)).length)
  }
}
