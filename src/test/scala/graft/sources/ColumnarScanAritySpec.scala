package graft.sources

import graft.TestSpark
import graft.core.GType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Arity contract of [[GraftColumnarScan]] when the REQUESTED columns
  * and the file's columns diverge (pre-clone / post-ALTER segments
  * read through the columnar tier):
  *  - zero REQUESTED columns (count(*)) → 0-arity rows off the
  *    footer's row counts, no page IO;
  *  - requested columns ALL absent from the file → rows and batches
  *    of exactly physNames.length null fields (a 0-arity answer here
  *    would flow wrong-arity rows downstream), and still no page
  *    decode of the file's unrelated columns;
  *  - partial presence → present columns decode, absent ones are null.
  */
class ColumnarScanAritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeFile(dir: String): String = {
    import spark.implicits._
    spark.range(0, 1000, 1, 1)
      .select($"id".as("a"),
        org.apache.spark.sql.functions.sin($"id".cast("double")).as("b"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
  }

  private def scan(file: String, names: Vector[String],
      dtypes: Array[GType]): GraftColumnarScan =
    new GraftColumnarScan(
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file),
          spark.sparkContext.hadoopConfiguration)), names, dtypes)

  /** the scan's batches as row views, in order */
  private def rowsOf(sc: GraftColumnarScan)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    Iterator.continually(sc.nextBatch()).takeWhile(_ != null)
      .flatMap(_.rowIterator().asScala)

  test("all-absent projection serves physNames.length null fields") {
    val dir = Files.createTempDirectory("graft-arity").toString
    val file = writeFile(dir)

    // all requested columns absent → arity preserved, all nulls
    val sc = scan(file, Vector("zz1", "zz2"),
      Array(GType.FloatT, GType.IntT))
    try {
      var n = 0
      rowsOf(sc).foreach { row =>
        assert(row.numFields == 2, s"arity ${row.numFields}, want 2")
        assert(row.isNullAt(0) && row.isNullAt(1))
        n += 1
      }
      assert(n == 1000, s"served $n rows, want 1000")
    } finally sc.close()

    // batch form of the same file: same arity, same null contract
    val scb = scan(file, Vector("zz1"), Array(GType.FloatT))
    try {
      var n = 0L
      var b = scb.nextBatch()
      while (b != null) {
        assert(b.numCols == 1)
        assert(b.column(0).isNullAt(0))
        n += b.numRows()
        b = scb.nextBatch()
      }
      assert(n == 1000L)
    } finally scb.close()

    // zero-column request (count(*)): 0-arity views, correct count
    val sc0 = scan(file, Vector.empty, Array.empty)
    try {
      var n = 0
      rowsOf(sc0).foreach { row =>
        assert(row.numFields == 0)
        n += 1
      }
      assert(n == 1000)
    } finally sc0.close()

    // partial presence: the present column decodes, the absent one
    // stays null — and order follows the REQUEST, not the file
    val scp = scan(file, Vector("zz", "a"),
      Array(GType.FloatT, GType.IntT))
    try {
      var n = 0L
      var sum = 0L
      rowsOf(scp).foreach { row =>
        assert(row.numFields == 2)
        assert(row.isNullAt(0))
        sum += row.getLong(1)
        n += 1
      }
      assert(n == 1000L)
      assert(sum == (0L until 1000L).sum, s"sum $sum")
    } finally scp.close()
  }
}
