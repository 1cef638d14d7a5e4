package graft

import graft.api.Repo
import graft.core.GSchema
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The `<codec>+bss` storage mode: BYTE_STREAM_SPLIT-encoded float64
  * segment pages (the parquet-native analogue of the reference's
  * blosc-bitshuffle, lakota/schema.py:51). Three contracts under
  * test:
  *  1. the writer actually emits BSS chunks for FP columns (footer
  *     asserted) and keeps them PURE (no dictionary prefix, so every
  *     page of a chunk gets the byte-stream split);
  *  2. reads stay CORRECT: Spark 4.1's vectorized reader has no BSS
  *     decoder (its encoding switch is PLAIN/RLE/DELTA_* only), so
  *     the connector picks the columnar tier ([[graft.sources
  *     .GraftColumnarScan]]: parquet-mr page decode into
  *     OnHeapColumnVectors, no record assembly) from the footer's
  *     column-chunk encodings, without ever opening the vectorized
  *     reader on such a file; values identical;
  *  3. plain-codec files still take the vectorized path (the choice
  *     is per file).
  */
class BssCodecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("zstd+bss: BSS footer, correct reads via fallback flip, " +
      "plain files stay vectorized") {
    val root = Files.createTempDirectory("graft-bss").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("ts" -> "int*", "v" -> "float")
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    import spark.implicits._
    val df = spark.range(0, 50000, 1, 4)
      .select($"id".as("ts"), org.apache.spark.sql.functions
        .sin($"id".cast("double")).as("v"))
    spark.conf.set("spark.graft.segment.codec", "zstd+bss")
    try clct.series("bss").write(df, presorted = true)
    finally spark.conf.set("spark.graft.segment.codec", "zstd")
    // DIFFERENT rows for the plain series: segment files are
    // content-addressed by ROW content, so writing the identical
    // frame would dedupe onto the bss series' files instead of
    // exercising a plain-codec write
    val df2 = df.withColumn("v",
      org.apache.spark.sql.functions.col("v") * 2.0)
    clct.series("plain").write(df2, presorted = true)

    // 1. footer: every v-chunk of the bss series is BYTE_STREAM_SPLIT
    //    (pure — no PLAIN_DICTIONARY/RLE_DICTIONARY data pages), and
    //    the plain series carries none
    import scala.jdk.CollectionConverters._
    def encodings(label: String): Set[String] = {
      val conf = spark.sparkContext.hadoopConfiguration
      clct.series(label).segments().flatMap(_.meta.files).distinct
        .flatMap { f =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(s"$root/$f"), conf))
          try rd.getFooter.getBlocks.asScala.flatMap(b =>
            b.getColumns.asScala.filter(_.getPath.toDotString == "v")
              .flatMap(_.getEncodings.asScala.map(_.name())))
          finally rd.close()
        }.toSet
    }
    val bssEnc = encodings("bss")
    assert(bssEnc.contains("BYTE_STREAM_SPLIT"), s"bss chunks: $bssEnc")
    assert(!bssEnc.exists(_.contains("DICTIONARY")),
      s"bss FP chunks must be pure (no dict prefix): $bssEnc")
    assert(!encodings("plain").contains("BYTE_STREAM_SPLIT"))

    // 2. reads take the COLUMNAR tier and return identical values
    import graft.sources.GraftMetrics._
    val (got, m) = TestSpark.graftMetrics(spark.read.format("graft")
      .option("path", root)
      .option("collection", "c").option("series", "bss").load()
      .agg(org.apache.spark.sql.functions.count($"v"),
        org.apache.spark.sql.functions.sum($"v")).collect()(0))
    assert(got.getLong(0) == 50000L)
    assert(m(FilesColumnar) > 0, "BSS files must take the columnar tier")
    val want = df.agg(org.apache.spark.sql.functions.sum($"v"))
      .collect()(0).getDouble(0)
    assert(math.abs(got.getDouble(1) - want) < 1e-6,
      s"${got.getDouble(1)} vs $want")

    // 3. the choice is per file: the plain series still vectorizes
    // a VALUE aggregate, not count(): count(*) answers from the
    // manifest (metadata-only) and would open no file at all
    val (plainSum, m2) = TestSpark.graftMetrics(spark.read.format("graft")
      .option("path", root)
      .option("collection", "c").option("series", "plain").load()
      .agg(org.apache.spark.sql.functions.sum($"v")).collect()(0)
      .getDouble(0))
    assert(plainSum != 0.0)
    assert(m2(FilesVectorized) > 0,
      "plain files must stay on the vectorized path")

    // 4. Series.frame() plans the connector's scan, whose readers pick
    //    the tier per file — same values, from a FRESH handle too
    val viaFrame = clct.series("bss").frame()
      .agg(org.apache.spark.sql.functions.sum($"v")).collect()(0)
      .getDouble(0)
    assert(math.abs(viaFrame - want) < 1e-6, s"$viaFrame vs $want")
    val fresh = new Repo(root, spark).collection("c").get
    assert(fresh.series("bss").frame().count() == 50000L)
    // clipped range read through the engine path (overlay truncation)
    assert(clct.series("bss").frame(100L, 200L).count() == 100L)

    // 5. clones SHARE the source's segment files: a clone's reads
    //    meet the BSS pages too (found by the zstd+bss full-oracle
    //    pass, q59)
    clct.cloneTo("c2", rename = Map("v" -> "w"))
    val freshClone = new Repo(root, spark).collection("c2").get
    val viaClone = freshClone.series("bss").frame()
      .agg(org.apache.spark.sql.functions.sum($"w")).collect()(0)
      .getDouble(0)
    assert(math.abs(viaClone - want) < 1e-6, s"$viaClone vs $want")

    // and the disk win is real on this synthetic too
    def mb(label: String): Double =
      clct.series(label).segments().flatMap(_.meta.files).distinct
        .map(f => Files.size(java.nio.file.Paths.get(root, f))).sum / 1e6
    assert(mb("bss") < mb("plain"),
      f"bss ${mb("bss")}%.2f MB !< plain ${mb("plain")}%.2f MB")

    // 6. task-side gc-buried resurrect, engine-reader parity with
    //    the builtin path (found by the zstd+bss full-oracle pass,
    //    q207/q208): a racing gc buried a referenced segment and
    //    BSS-routed scans had no self-heal
    val segFile = clct.series("bss").segments()
      .flatMap(_.meta.files).head
    repo.store.mv(segFile,
      s"$segFile.t${graft.core.Hash.hextime()}")
    val healed = new Repo(root, spark).collection("c").get
      .series("bss").frame()
      .agg(org.apache.spark.sql.functions.sum($"v")).collect()(0)
      .getDouble(0)
    assert(math.abs(healed - want) < 1e-6,
      "engine-reader scan must resurrect a buried referenced segment")
    assert(repo.store.exists(segFile), "the file is back under its name")

    // 7. clone ADDITIONS over shared BSS segment files: a scan
    //    requesting ONLY the added (default-valued) column requests
    //    no BSS chunk, so the vectorized tier serves null rows of the
    //    REQUESTED arity for the default injection to fill.
    val cl3 = clct.cloneTo("c3", additions =
      Seq((graft.core.ColDef("extra", graft.core.GType.FloatT,
        idx = false), 1.5)))
    val extraSum = new Repo(root, spark).collection("c3").get
      .series("bss").frame().select("extra")
      .agg(org.apache.spark.sql.functions.sum($"extra")).collect()(0)
      .getDouble(0)
    assert(math.abs(extraSum - 1.5 * 50000) < 1e-6,
      s"default-only projection over bss files: $extraSum")
  }

  test("a fresh BSS file is decoded columnar, never opened vectorized") {
    val root = Files.createTempDirectory("graft-bss-fresh").toString
    val clct = new Repo(root, spark)
      .createCollection(GSchema("ts" -> "int*", "v" -> "float"), "c")
    clct.embedMaxSize = 0L
    import spark.implicits._
    val df = spark.range(0, 20000, 1, 2)
      .select($"id".as("ts"), org.apache.spark.sql.functions
        .cos($"id".cast("double")).as("v"))
    spark.conf.set("spark.graft.segment.codec", "zstd+bss")
    try clct.series("_").write(df, presorted = true)
    finally spark.conf.set("spark.graft.segment.codec", "zstd")
    val (got, m) = TestSpark.graftMetrics(spark.read.format("graft")
      .option("path", root)
      .option("collection", "c").option("series", "_").load()
      .agg(org.apache.spark.sql.functions.sum($"v")).collect()(0)
      .getDouble(0))
    val want = df.agg(org.apache.spark.sql.functions.sum($"v"))
      .collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-6, s"$got vs $want")
    import graft.sources.GraftMetrics._
    assert(m(FilesVectorized) == 0,
      "a BSS file must not be opened by the vectorized reader")
    assert(m(FilesColumnar) > 0,
      "the columnar tier must serve the BSS file")
  }
}
