package graft

import graft.api.Repo
import graft.core.{ColDef, GSchema, GType}
import graft.sources.GraftMetrics._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The connector's segment decode: one open per file, the tier chosen
  * from the footer's column-chunk encodings (vectorized unless a
  * requested chunk is BYTE_STREAM_SPLIT, then the columnar page
  * decoder). Decode and I/O errors surface as read failures and leave
  * no trace on later reads of the same file; every graft dtype reads
  * back exactly under both codecs, every projection shape and both a
  * file and an in-memory store. */
class DecodeTierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val valueCols = Seq("i", "f", "t", "d", "s")
  private val schema = GSchema("ts" -> "int*", "i" -> "int",
    "f" -> "float", "t" -> "timestamp", "d" -> "date", "s" -> "str")

  /** 3000 rows over every dtype, with nulls in every value column */
  private def base: DataFrame = spark.range(0, 3000, 1, 3).selectExpr(
    "id AS ts",
    "CASE WHEN id % 7 = 3 THEN NULL ELSE id * 3 END AS i",
    "CASE WHEN id % 7 = 4 THEN NULL ELSE sin(id) END AS f",
    "CASE WHEN id % 7 = 5 THEN NULL ELSE timestamp_micros(id * 1000003)" +
      " END AS t",
    "CASE WHEN id % 7 = 6 THEN NULL ELSE date_add(DATE'2000-01-01'," +
      " CAST(id AS INT)) END AS d",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('s', id) END AS s")

  /** overwrites [1200, 1800): clips the middle segment on both sides */
  private def overlay: DataFrame = spark.range(1200, 1800, 1, 1)
    .selectExpr("id AS ts", "-id AS i", "-1.5D * id AS f",
      "timestamp_micros(id) AS t", "DATE'1999-12-31' AS d",
      "concat('o', id) AS s")

  private def write(s: graft.api.Series, df: DataFrame,
      codec: String): Unit = {
    spark.conf.set("spark.graft.segment.codec", codec)
    try s.write(df, presorted = true)
    finally spark.conf.unset("spark.graft.segment.codec")
  }

  private def table(root: String, clct: String, series: String) =
    spark.read.format("graft").option("path", root)
      .option("collection", clct).option("series", series).load()

  private def sorted(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(_.getLong(0))

  test("decode matrix: dtype x codec x projection x store") {
    // clone-added columns, one per dtype, with their defaults as
    // Spark returns them (and as cloneTo accepts them)
    val additions = Seq(
      ColDef("ai", GType.IntT, idx = false) -> 7L,
      ColDef("af", GType.FloatT, idx = false) -> 2.5,
      ColDef("at", GType.TimestampT, idx = false) ->
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(86400L)),
      ColDef("ad", GType.DateT, idx = false) ->
        java.sql.Date.valueOf("2000-01-01"),
      ColDef("as", GType.StrT, idx = false) -> "dflt")
    val want = sorted(base.collect().toSeq)
    val wantClipped = sorted(want.filter(r =>
      r.getLong(0) < 1200L || r.getLong(0) >= 1800L) ++
      overlay.collect().toSeq)
    def proj(rows: Seq[Row], c: String): Seq[Row] = {
      val k = valueCols.indexOf(c) + 1
      rows.map(r => Row(r.getLong(0), r.get(k)))
    }

    val failures = for {
      store <- Seq("file", "memory")
      codec <- Seq("zstd", "zstd+bss")
      (name, got, exp) <- {
        val root =
          if (store == "file")
            Files.createTempDirectory("graft-decode").toString
          else s"memory://decode${System.nanoTime()}"
        val repo = new Repo(root, spark)
        val clct = repo.createCollection(schema, "c")
        clct.pageLen = 1000L
        clct.embedMaxSize = 0L
        write(clct.series("a"), base, codec)
        write(clct.series("b"), base, codec)
        write(clct.series("b"), overlay, codec)
        clct.cloneTo("c2", additions = additions)
        val files = clct.series("b").segments()
          .flatMap(_.meta.files).toSet
        val a = table(root, "c", "a")
        val b = table(root, "c", "b")
        def rows(df: DataFrame) = () => sorted(df.collect().toSeq)
        def count(n: => Long) = () => Seq(Row(n))
        valueCols.flatMap { c => Seq(
          (s"full $c", rows(a.select("ts", c)), proj(want, c)),
          (s"clipped $c", rows(b.select("ts", c)), proj(wantClipped, c)),
          (s"_file $c", rows(b.select(col("ts"), col(c),
            col("_file").isin(files.toSeq: _*))),
            proj(wantClipped, c).map(r => Row(r(0), r(1), true))))
        } ++ additions.map { case (cd, v) =>
          (s"clone default ${cd.name}",
            () => table(root, "c2", "a").select(cd.name).collect().toSeq,
            Seq.fill(3000)(Row(v)))
        } ++ Seq(
          ("count(*)", count(a.count()), Seq(Row(3000L))),
          ("count(*) clipped", count(b.count()), Seq(Row(3000L))),
          ("count(*) zero-column scan",
            count(a.limit(Int.MaxValue).count()), Seq(Row(3000L))),
          ("count(*) frame()", count(clct.series("b").frame().count()),
            Seq(Row(3000L))))
      }
      actual = got()
      if actual != exp
    } yield s"$store/$codec/$name: got ${actual.take(3)}... " +
      s"(${actual.length} rows), want ${exp.take(3)}... (${exp.length})"
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a corrupt page fails the read and leaves no trace on the file") {
    val root = Files.createTempDirectory("graft-corrupt").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    write(s, base, "zstd")
    val rel = s.segments().flatMap(_.meta.files).head
    val uri = repo.store.uri(rel)
    val path =
      if (uri.startsWith("file:")) Paths.get(new java.net.URI(uri))
      else Paths.get(uri)
    // drop a client checksum sidecar, if any: the page decoder, not
    // the checksum, must be what catches the damage
    Files.deleteIfExists(
      path.getParent.resolve("." + path.getFileName + ".crc"))
    val orig = Files.readAllBytes(path)
    // zero the first page header of the `f` chunk
    val chunk = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path.toUri),
          spark.sessionState.newHadoopConf()))
      try rd.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "f").get
      finally rd.close()
    }
    val bad = orig.clone()
    java.util.Arrays.fill(bad, chunk.getStartingPos.toInt,
      (chunk.getStartingPos + math.min(64L, chunk.getTotalSize)).toInt,
      0.toByte)
    def sumF(): Double = table(root, "c", "_")
      .agg(org.apache.spark.sql.functions.sum("f")).collect()(0).getDouble(0)
    val want = sumF()

    Files.write(path, bad)
    intercept[org.apache.spark.SparkException](sumF())

    // the same content-addressed name, its original bytes again: the
    // next read decodes vectorized, like any plain file
    Files.write(path, orig)
    val (restored, m) = TestSpark.graftMetrics(sumF())
    assert(restored == want)
    assert(m(FilesVectorized) > 0,
      "a restored plain file must decode vectorized")
    assert(m(FilesColumnar) == 0,
      "a failed read must not route later reads to the columnar tier")
  }
}
