package graft

import graft.api._
import graft.core._
import graft.sources.GraftMetrics
import graft.sources.GraftMetrics._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `spark.read.format("graft")` connector: SQL `WHERE` predicates on
  * the index column must drive MANIFEST pruning (the SegmentRead
  * cover, mirroring `Series.frame(start, stop)`), overlay clips must
  * apply in the reader, inline micro-segments must be served, and
  * `.option("before", ms)` must round-trip time travel.
  */
class GraftSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = GSchema("ts" -> "int*", "value" -> "float")

  /** series with 8 parquet segments of 10k rows each (pageLen 10k) */
  private def fixture(): (Repo, Series, String) = {
    val root = Files.createTempDirectory("graft-dsv2").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.pageLen = 10000L
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    val df = spark.range(0, 80000, 1, 8)
      .select($"id".as("ts"), ($"id" * 1.5).as("value"))
    s.write(df, presorted = true)
    (repo, s, root)
  }

  private def table(root: String) =
    spark.read.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_").load()

  /** `sql`'s single count and the graft metrics of its scan */
  private def countWith(sql: String): (Long, Map[String, Long]) =
    TestSpark.graftMetrics(spark.sql(sql).collect()(0).getLong(0))

  test("index WHERE prunes to the covering segments") {
    val (_, s, root) = fixture()
    assert(s.segments().length == 8)
    table(root).createOrReplaceTempView("g")
    val q = spark.sql(
      "SELECT count(*) AS n, sum(ts) AS st FROM g WHERE ts < 10000")
    val (got, m) = TestSpark.graftMetrics(q.collect()(0))
    assert(got.getLong(0) == 10000L)
    assert(got.getLong(1) == (0L until 10000L).sum)
    assert(m(SegmentsTotal) == 8)
    assert(m(SegmentsKept) == 1,
      s"expected 1 covering segment, scanned ${m(SegmentsKept)}")
    // pushed filters are on the scan's description
    assert("pushed=\\[[^\\]]*ts".r
      .findFirstIn(q.queryExecution.executedPlan.toString).isDefined)

    // range in the middle: 2 covering segments
    val (mid, m2) = countWith(
      "SELECT count(*) AS n FROM g WHERE ts >= 15000 AND ts < 25000")
    assert(mid == 10000L)
    assert(m2(SegmentsKept) == 2)
    // the file partitions must decode through the VECTORIZED reader
    val vectorized = m(FilesVectorized) + m2(FilesVectorized)
    assert(vectorized >= 3, s"vectorized=$vectorized")
  }

  test("concurrent range reads each report their own scan metrics") {
    // two tables (8 and 10 segments), two bounds, two threads planning
    // and running at once: each query's metrics are its own
    val (_, _, rootA) = fixture()
    val (_, sB, rootB) = fixture()
    import spark.implicits._
    sB.write(spark.range(80000, 100000, 1, 2)
      .select($"id".as("ts"), ($"id" * 1.5).as("value")), presorted = true)
    val reads = Seq(
      table(rootA).filter(col("ts") < 10000).agg(count(col("value"))),
      table(rootB).filter(col("ts") >= 15000 && col("ts") < 45000)
        .agg(count(col("value"))))
    val start = new java.util.concurrent.CyclicBarrier(reads.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val counts =
      try reads.map(df => pool.submit(() => {
        start.await(); df.collect()(0).getLong(0)
      })).map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      finally pool.shutdown()
    assert(counts == Seq(10000L, 30000L))
    val ms = reads.map(GraftMetrics.of(_))
    assert(ms.map(_(SegmentsKept)) == Seq(1L, 4L), ms)
    assert(ms.map(_(SegmentsTotal)) == Seq(8L, 10L), ms)
  }

  test("manifest statistics let a pruned scan broadcast") {
    val (_, _, root) = fixture()
    // one covering segment (10k rows ≈ 160 KB by manifest stats) vs
    // the full 8-segment table: the filtered side must broadcast
    val small = table(root).filter(col("ts") < 10000)
    val big = table(root).select(col("ts").as("ts2"), col("value"))
    val j = big.join(small, col("ts2") === col("ts"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1500))
    assert(j.count() == 10000L)
  }

  test("column pruning reaches the reader") {
    val (_, _, root) = fixture()
    val df = table(root).select("value").filter(col("value") < 15.0)
    assert(df.count() == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"), plan.take(800))
  }

  test("overlay clip applies in the reader") {
    val (_, s, root) = fixture()
    import spark.implicits._
    // overwrite [5000, 15000): splices the first two segments
    val over = spark.range(5000, 15000, 1, 2)
      .select($"id".as("ts"), lit(-1.0).as("value"))
    s.write(over, presorted = true)
    val got = table(root).filter(col("ts") < 20000)
    assert(got.count() == 20000L)
    val negs = got.filter(col("value") === -1.0).count()
    assert(negs == 10000L)
    // API result == connector result
    val api = s.frame(null, 20000L, closed = Closed.None_)
    assert(got.exceptAll(api).isEmpty && api.exceptAll(got).isEmpty)
  }

  test("inline micro-segments are served") {
    val root = Files.createTempDirectory("graft-dsv2i").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    val s = clct.series("_")
    import spark.implicits._
    s.write(Seq((1L, 1.0), (2L, 2.0)).toDF("ts", "value"))
    assert(clct.manifest().get.rows.forall(_.inline.isDefined))
    val got = table(root).collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(got == Seq((1L, 1.0), (2L, 2.0)))
  }

  test("before option time-travels (q32 semantics over SQL)") {
    val root = Files.createTempDirectory("graft-dsv2t").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    s.write(Seq((1L, 1.0), (2L, 2.0)).toDF("ts", "value"))
    val rev1 = clct.changelog.leaf().get.epochMs
    Thread.sleep(5)
    s.write(Seq((2L, 20.0), (3L, 3.0)).toDF("ts", "value"))
    val now = table(root).collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(now == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    val then_ = spark.read.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_").option("before", (rev1 + 1).toString)
      .load().collect().map(r =>
        (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(then_ == Seq((1L, 1.0), (2L, 2.0)))
  }

  test("legacy INT96 segment files read correctly") {
    // pre-round-8 engine versions wrote timestamps via Spark's INT96
    // default; stores from them must stay readable. Rewrite a
    // segment file as INT96 (logical content identical — the
    // manifest digest doesn't change) and read it back through both
    // the connector and the API.
    val root = Files.createTempDirectory("graft-int96").toString
    val repo = new Repo(root, spark)
    val tsSchema = GSchema("ts" -> "timestamp*", "value" -> "float")
    val clct = repo.createCollection(tsSchema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    val src = spark.range(0, 1000, 1, 1)
      .select(timestamp_seconds($"id" * 60).as("ts"),
        ($"id" * 0.5).as("value"))
    s.write(src, presorted = true)
    val segRel = s.segments().flatMap(_.meta.files).head
    val segPath = repo.store.uri(segRel)
    val stored = spark.read.parquet(segPath).orderBy("ts")
    val tmp96 = Files.createTempDirectory("graft-96w").toString
    val prev = spark.conf.getOption(
      "spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try stored.repartition(1).write.mode("overwrite").parquet(tmp96)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val part = new java.io.File(tmp96).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val segNio =
      if (segPath.startsWith("file:"))
        java.nio.file.Paths.get(new java.net.URI(segPath))
      else java.nio.file.Paths.get(segPath)
    java.nio.file.Files.copy(part.toPath, segNio,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the replaced bytes invalidate Hadoop LocalFileSystem's .crc
    // sidecar from the original engine write — drop it
    java.nio.file.Files.deleteIfExists(
      segNio.getParent.resolve("." + segNio.getFileName + ".crc"))
    // confirm the store file really is INT96 now
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(segPath),
        spark.sessionState.newHadoopConf()))
    val tsPrim = footer.getFooter.getFileMetaData.getSchema
      .getFields.asScala.find(_.getName == "ts").get
      .asPrimitiveType().getPrimitiveTypeName
    footer.close()
    assert(tsPrim.toString == "INT96", tsPrim.toString)
    val got = spark.read.format("graft")
      .option("path", root).option("collection", "c").load()
      .orderBy("ts").collect()
    val want = src.orderBy("ts").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getTimestamp(0) == w.getTimestamp(0), s"$g vs $w")
      assert(g.getDouble(1) == w.getDouble(1))
    }
  }

  test("readStream tails new segment writes (CDC micro-batches)") {
    val root = Files.createTempDirectory("graft-stream").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    s.write(spark.range(0, 500, 1, 2)
      .select($"id".as("ts"), lit(1.0).as("value")), presorted = true)
    val stream = spark.readStream.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_").load()
    val q = stream.writeStream.format("memory")
      .queryName("gstream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gstream").count() == 500L)
      // an appended write arrives as the next micro-batch
      s.write(spark.range(500, 800, 1, 2)
        .select($"id".as("ts"), lit(2.0).as("value")),
        presorted = true)
      q.processAllAvailable()
      assert(spark.table("gstream").count() == 800L)
      assert(spark.table("gstream")
        .filter(col("value") === 2.0).count() == 300L)
      // a tiny manifest-INLINE commit streams too
      clct.embedMaxSize = 1024L
      s.write(Seq((900L, 3.0)).toDF("ts", "value"))
      q.processAllAvailable()
      assert(spark.table("gstream").count() == 801L)
      // no data -> no phantom batches
      q.processAllAvailable()
      assert(spark.table("gstream").count() == 801L)
    } finally q.stop()
  }

  test("one batch spanning write + middle delete serves BOTH " +
      "truncated windows of the shared file") {
    // regression: the splice keeps ONE file referenced by TWO visible
    // windows ([0,200) deleted in the middle -> rows [0,80) and
    // [120,200) both point at the original segment file). A
    // file-name-keyed served set dropped the second window's rows
    // from the stream; dedup must key on the manifest ROW.
    val root = Files.createTempDirectory("graft-stream-trunc").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    s.write(spark.range(0, 200, 1, 2)
      .select($"id".as("ts"), lit(1.0).as("value")), presorted = true)
    s.delete(80L, 120L, Closed.Left) // middle punch: two windows, one file
    // BOTH commits land inside the FIRST micro-batch window
    val q = spark.readStream.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_").load()
      .writeStream.format("memory").queryName("gtrunc")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gtrunc").select("ts")
        .collect().map(_.getLong(0)).sorted
      val expect = ((0L until 80L) ++ (120L until 200L)).toArray
      assert(got.length == expect.length,
        s"served ${got.length} rows, expected ${expect.length} " +
          "(second truncated window lost?)")
      assert(got.sameElements(expect), "wrong rows served")
    } finally q.stop()
  }

  test("maxRevisionsPerTrigger under Trigger.AvailableNow drains fully") {
    val root = Files.createTempDirectory("graft-stream5").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    for (i <- 0 until 4)
      s.write(spark.range(i * 50L, i * 50L + 50L, 1, 1)
        .select($"id".as("ts"), lit(i.toDouble).as("value")),
        presorted = true)
    val q = spark.readStream.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_")
      .option("stream.maxRevisionsPerTrigger", "2").load()
      .writeStream.format("memory").queryName("gstream5")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      // AvailableNow must still reach the captured end across
      // multiple capped batches, then terminate
      assert(spark.table("gstream5").count() == 200L)
      assert(q.recentProgress.forall(_.numInputRows <= 100L),
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("capped offset walk is exactly-once along a linear history") {
    // drive the MicroBatchStream API directly: N commits, cap 3 ->
    // every file planned exactly once across the walk, regardless of
    // where batch boundaries land (the documented linear-history
    // contract the end-to-end drains rely on)
    val root = Files.createTempDirectory("graft-walk").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    for (i <- 0 until 7)
      s.write(spark.range(i * 10L, i * 10L + 10L, 1, 1)
        .select($"id".as("ts"), lit(i.toDouble).as("value")),
        presorted = true)
    val table = new graft.sources.GraftTable(root, "c", "_", None)
    val stream = new graft.sources.GraftMicroBatchStream(table,
      table.schema(), startingLatest = false, maxRevsPerTrigger = 3L)
    val limit = org.apache.spark.sql.connector.read.streaming
      .ReadLimit.allAvailable()
    var cur = stream.initialOffset()
      .asInstanceOf[graft.sources.GraftStreamOffset]
    var planned = Vector.empty[String]
    var advances = 0
    var done = false
    while (!done && advances < 10) {
      val nxt = stream.latestOffset(cur, limit)
        .asInstanceOf[graft.sources.GraftStreamOffset]
      if (nxt == cur) done = true
      else {
        val parts = stream.planInputPartitions(cur, nxt)
        planned = planned ++ parts.map(_.toString)
        cur = nxt
        advances += 1
      }
    }
    assert(advances == 3, s"7 revisions / cap 3 -> 3 advances, got " +
      s"$advances")
    // exactly once: 7 distinct single-file partitions, no repeats
    assert(planned.distinct.length == planned.length, planned)
    assert(planned.length == 7, planned)
  }

  test("stream.startingTimestamp starts after prior history") {
    val root = Files.createTempDirectory("graft-stream4").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    s.write(spark.range(0, 200, 1, 1)
      .select($"id".as("ts"), lit(1.0).as("value")), presorted = true)
    Thread.sleep(3)
    val cut = System.currentTimeMillis()
    Thread.sleep(3)
    s.write(spark.range(200, 250, 1, 1)
      .select($"id".as("ts"), lit(2.0).as("value")), presorted = true)
    val stream = spark.readStream.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_")
      .option("stream.startingTimestamp", cut.toString).load()
    val q = stream.writeStream.format("memory")
      .queryName("gstream4").outputMode("append").start()
    try {
      q.processAllAvailable()
      // only the post-cut commit streams; history before it is the
      // batch reader's job (same clock as option("before", ms))
      assert(spark.table("gstream4").count() == 50L)
      assert(spark.table("gstream4")
        .agg(min(col("value")), max(col("value"))).collect()(0)
        .toSeq == Seq(2.0, 2.0))
    } finally q.stop()
  }

  test("stream.maxRevisionsPerTrigger bounds each micro-batch") {
    val root = Files.createTempDirectory("graft-stream3").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    // three separate commits = three changelog revisions of backlog
    for (i <- 0 until 3)
      s.write(spark.range(i * 100L, i * 100L + 100L, 1, 1)
        .select($"id".as("ts"), lit(i.toDouble).as("value")),
        presorted = true)
    val stream = spark.readStream.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_")
      .option("stream.maxRevisionsPerTrigger", "1").load()
    val q = stream.writeStream.format("memory")
      .queryName("gstream3").outputMode("append").start()
    try {
      q.processAllAvailable()
      // the full backlog lands, but in BOUNDED one-revision batches
      assert(spark.table("gstream3").count() == 300L)
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"expected >= 3 bounded micro-batches, got $nonEmpty: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      assert(q.recentProgress.forall(_.numInputRows <= 100L),
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("stream.starting=latest skips history") {
    val root = Files.createTempDirectory("graft-stream2").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    s.write(spark.range(0, 400, 1, 2)
      .select($"id".as("ts"), lit(1.0).as("value")), presorted = true)
    val stream = spark.readStream.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_").option("stream.starting", "latest").load()
    val q = stream.writeStream.format("memory")
      .queryName("gstream2").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gstream2").count() == 0L)
      s.write(spark.range(400, 450, 1, 1)
        .select($"id".as("ts"), lit(2.0).as("value")),
        presorted = true)
      q.processAllAvailable()
      assert(spark.table("gstream2").count() == 50L)
    } finally q.stop()
  }

  test("EqualTo(col, null) pushdown is a no-op, not a MatchError") {
    val (_, _, root) = fixture()
    val t = new graft.sources.GraftTable(root, "c", "_", None)
    val b = new graft.sources.GraftScanBuilder(t, None)
    b.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("ts", null),
      org.apache.spark.sql.sources.GreaterThan("ts", null)))
    assert(b.pushedFilters().isEmpty)
    b.build() // must not throw parsing a null bound
  }

  test("multi-column index prefix pushdown prunes within the group") {
    // 2-col index (day, id): equality on day + range on id must
    // assemble the lexicographic prefix bound and prune to the one
    // covering segment — head-column-only pushdown would scan all of
    // day 2's four segments
    val root = Files.createTempDirectory("graft-dsv2m").toString
    val repo = new Repo(root, spark)
    val s2 = GSchema("day" -> "int*", "id" -> "int*",
      "value" -> "float")
    val clct = repo.createCollection(s2, "c")
    clct.pageLen = 5000L
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    val df = spark.range(0, 80000, 1, 4).select(
      ($"id" / 20000).cast("long").as("day"),
      ($"id" % 20000).as("id"),
      ($"id" * 0.5).as("value"))
    s.write(df, presorted = true)
    assert(s.segments().length == 16)
    spark.read.format("graft").option("path", root)
      .option("collection", "c").option("series", "_").load()
      .createOrReplaceTempView("gm")
    val (got, m) = countWith(
      "SELECT count(*) AS n FROM gm WHERE day = 2 AND id >= 15000")
    assert(got == 5000L)
    assert(m(SegmentsKept) == 1,
      s"expected 1 segment, got ${m(SegmentsKept)}")
    // equality on day alone: the day's 4 segments plus the preceding
    // boundary row [ (1,15000), (2,0) ) — its right-open stop could
    // in principle cover day-2 keys with negative ids, so the
    // manifest must keep it (the residual clip drops its rows)
    val (day2, m2) = countWith("SELECT count(*) FROM gm WHERE day = 2")
    assert(day2 == 20000L)
    assert(m2(SegmentsKept) == 5)
    // a bound on id WITHOUT day cannot prune (not a prefix)
    val (low, m3) = countWith("SELECT count(*) FROM gm WHERE id < 100")
    assert(low == 400L)
    assert(m3(SegmentsKept) == 16)
  }

  test("LIMIT and ORDER BY idx LIMIT push to a prefix-covering scan") {
    val (_, _, root) = fixture()
    table(root).createOrReplaceTempView("gl")
    val limited = spark.sql("SELECT * FROM gl LIMIT 100")
    val (rows, m) = TestSpark.graftMetrics(limited.collect())
    assert(rows.length == 100)
    // the pushed limit is on the scan's description
    assert(limited.queryExecution.executedPlan.toString
      .contains("limit=100"))
    assert(m(SegmentsKept) == 1,
      s"limit scan read ${m(SegmentsKept)} segments")
    // ascending top-k: leading segment only
    val (lo, m2) = TestSpark.graftMetrics(
      spark.sql("SELECT ts FROM gl ORDER BY ts LIMIT 5")
        .collect().map(_.getLong(0)).toSeq)
    assert(lo == Seq(0L, 1L, 2L, 3L, 4L))
    assert(m2(SegmentsKept) == 1)
    // descending top-k: trailing segment only
    val (hi, m3) = TestSpark.graftMetrics(
      spark.sql("SELECT ts FROM gl ORDER BY ts DESC LIMIT 3")
        .collect().map(_.getLong(0)).toSeq)
    assert(hi == Seq(79999L, 79998L, 79997L))
    assert(m3(SegmentsKept) == 1)
    // an unlimited read must NOT inherit the pushed limit
    val (all, m4) = countWith("SELECT count(*) FROM gl")
    assert(all == 80000L)
    assert(m4(SegmentsKept) == 8)
  }

  test("reported ordering elides within-partition index sorts") {
    val (_, _, root) = fixture()
    // per-partition sorts on the index are free at any width: the
    // scan reports each partition index-sorted, RemoveRedundantSorts
    // drops the SortExec
    val within = table(root).sortWithinPartitions("ts")
    assert(!within.queryExecution.executedPlan.toString
      .contains("Sort"),
      s"sortWithinPartitions(idx) kept a sort:\n" +
        within.queryExecution.executedPlan)
    // ...and the elided plan still yields index-ordered rows per
    // partition (one partition pruned -> fully ordered output)
    val got = within
      .filter("ts >= 20000 AND ts < 30000").collect()
    assert(got.length == 10000)
    assert(got.sliding(2).forall(p =>
      p(0).getLong(0) < p(1).getLong(0)))
    // no false GLOBAL claim: a multi-partition ORDER BY still sorts
    val all = table(root).orderBy("ts")
    assert(all.queryExecution.executedPlan.toString.contains("Sort"),
      "multi-partition global sort must remain")
    // no false claim on value columns: their sort stays
    val byVal = table(root).sortWithinPartitions("value")
    assert(byVal.queryExecution.executedPlan.toString.contains("Sort"),
      "value-column sort must remain")
    // pruned away index -> no ordering reported, plan stays valid
    assert(table(root).select("value").limit(3).collect().length == 3)
  }

  test("_file metadata column: per-row provenance, joins .segments") {
    val (repo, s, root) = fixture() // 8 file-backed segments
    val df = table(root)
    // hidden from SELECT *
    assert(df.columns.toSeq == Seq("ts", "value"))
    // every row reports its serving file; exactly the manifest's set
    val rows = df.select(col("_file"), col("ts")).collect()
    assert(rows.length == 80000 && rows.forall(_.getString(0) != null))
    val manifestFiles = s.segments().flatMap(_.meta.files).toSet
    assert(rows.map(_.getString(0)).toSet == manifestFiles)
    assert(manifestFiles.size == 8)
    // provenance composes with pruning: one range -> one file
    val one = df.filter("ts >= 20000 AND ts < 30000")
      .select("_file").distinct().collect()
    assert(one.length == 1)
    // `SELECT _file` alone still iterates rows (guard column)
    assert(df.select("_file").count() == 80000L)
    // manifest-inline rows have no backing file -> null
    val c2 = repo.createCollection(
      GSchema("k" -> "int*", "v" -> "float"), "tiny")
    import spark.implicits._
    c2.series("_").write(Seq((1L, 0.5), (2L, 1.5)).toDF("k", "v"))
    val tiny = spark.read.format("graft").option("path", root)
      .option("collection", "tiny").option("series", "_").load()
      .select(col("_file"), col("k")).collect()
    assert(tiny.length == 2 && tiny.forall(_.isNullAt(0)))
    // the surgical-repair flow: bounds FROM the manifest drive an
    // index-range delete (DELETE by _file itself is not a verb —
    // _file is read-only provenance)
    val seg0 = s.segments().head
    val lo = seg0.start.values.head.asInstanceOf[Long]
    val hi = seg0.stop.values.head.asInstanceOf[Long]
    s.delete(lo, hi)
    val left = df.select("_file").distinct().collect()
    assert(left.length == 7, s"expected 7 surviving files: $left")
  }

  test("connector append: one job, no read-back, engine-visible") {
    val (_, s, root) = fixture()
    import spark.implicits._
    val add = spark.range(80000, 90000, 1, 2)
      .select($"id".as("ts"), lit(7.0).as("value"))
    val append = TestSpark.record {
      add.write.format("graft")
        .option("path", root).option("collection", "c")
        .option("series", "_").option("presorted", "true")
        .mode("append").save()
    }
    assert(append.jobs == 1,
      s"presorted connector append ran ${append.jobs} jobs")
    assert(append.graftMetrics(FilesWritten) == 2)
    // visible through BOTH the API and the connector
    assert(s.frame().count() == 90000L)
    assert(table(root).filter(col("value") === 7.0).count() == 10000L)
    // the engine wrote real manifest rows (stats came from the tasks)
    val segs = s.segments()
    assert(segs.length == 10)
    assert(segs.forall(_.meta.length > 0))
  }

  test("connector append without presorted sorts via required ordering") {
    val (_, s, root) = fixture()
    import spark.implicits._
    // deliberately unsorted, unpartitioned-by-range input
    val add = spark.range(0, 10000, 1, 4)
      .select((lit(99999L) - $"id" + lit(80000L)).as("ts"),
        lit(3.0).as("value"))
    add.write.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_").mode("append").save()
    assert(s.frame(90000L, null).count() == 10000L)
    // seal-time disjointness held: segments are ordered and disjoint
    val segs = s.segments()
    assert(segs.sliding(2).forall {
      case Seq(a, b) => schema.cmpKey(a.stop, b.start) <= 0
      case _ => true
    })
  }

  test("a false presorted declaration on the connector aborts") {
    val (_, s, root) = fixture()
    import spark.implicits._
    val bad = spark.range(0, 1000, 1, 1)
      .select((lit(1000L) - $"id").as("ts"), lit(0.0).as("value"))
    val before = s.frame().count()
    val e = intercept[Exception] {
      bad.write.format("graft")
        .option("path", root).option("collection", "c")
        .option("series", "_").option("presorted", "true")
        .mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("unsorted")), e.toString)
    assert(s.frame().count() == before) // nothing committed
  }

  test("connector overwrite replaces one series, keeps history") {
    val (repo, s, root) = fixture()
    // a SECOND series in the same collection must survive overwrite
    val other = repo.collection("c").get.series("other")
    import spark.implicits._
    other.write(spark.range(0, 100, 1, 1)
      .select($"id".as("ts"), lit(5.0).as("value")), presorted = true)
    val revBefore = repo.collection("c").get.changelog.leaf().get.epochMs
    Thread.sleep(5)
    spark.range(0, 500, 1, 1)
      .select($"id".as("ts"), lit(9.0).as("value"))
      .write.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_").option("presorted", "true")
      .mode("overwrite").save()
    assert(s.frame().count() == 500L)
    assert(s.frame().agg(min(col("value"))).collect()(0)
      .getDouble(0) == 9.0)
    assert(other.frame().count() == 100L) // untouched
    // time travel still sees the pre-overwrite series
    assert(s.frame(beforeMs = Some(revBefore + 1)).count() == 80000L)
  }

  test("stream.forkDedup: a healed fork replays nothing") {
    // Fork fixture: trunk r1, then branch A and branch B committed on
    // separate repos and pulled together (the same shape a racing
    // writer's commit produces). Default CDC is at-least-once across
    // the heal (batch diffs are manifest-vs-manifest, and the merge
    // re-references the sibling's files); stream.forkDedup=true makes
    // the offset carry the whole FRONTIER so the heal diffs clean.
    def mkFork(): (Repo, graft.api.Collection) = {
      val root = Files.createTempDirectory("graft-fork").toString
      val repo = new Repo(root, spark)
      val clct = repo.createCollection(schema, "c")
      clct.embedMaxSize = 0L
      import spark.implicits._
      clct.series("_").write(spark.range(0, 500, 1, 2)
        .select($"id".as("ts"), lit(1.0).as("value")), presorted = true)
      // branch B: clone at r1, commit [1000,1500) there
      val rootB = Files.createTempDirectory("graft-forkB").toString
      val cB = new Repo(rootB, spark).createCollection(schema, "c")
      cB.embedMaxSize = 0L
      cB.pull(clct)
      // branch A continues on main: [500,1000)
      clct.series("_").write(spark.range(500, 1000, 1, 2)
        .select($"id".as("ts"), lit(2.0).as("value")), presorted = true)
      cB.refresh()
      cB.series("_").write(spark.range(1000, 1500, 1, 2)
        .select($"id".as("ts"), lit(3.0).as("value")), presorted = true)
      clct.pull(cB)
      clct.refresh()
      assert(clct.changelog.leafs().length == 2, "fixture must fork")
      (repo, clct)
    }
    // forkDedup on: drain the fork, heal, drain again -> zero replays
    locally {
      val (repo, clct) = mkFork()
      val q = spark.readStream.format("graft")
        .option("path", repo.rootUri).option("collection", "c")
        .option("series", "_").option("stream.forkDedup", "true")
        .load().writeStream.format("memory")
        .queryName("gfork_dedup").outputMode("append").start()
      try {
        q.processAllAvailable()
        // the frontier offset drains BOTH leaves
        assert(spark.table("gfork_dedup").count() == 1500L)
        clct.merge(); clct.refresh()
        q.processAllAvailable()
        assert(spark.table("gfork_dedup").count() == 1500L,
          "healed fork must replay nothing under forkDedup")
        // a genuine append after the heal still flows
        import spark.implicits._
        clct.series("_").write(spark.range(1500, 1600, 1, 2)
          .select($"id".as("ts"), lit(4.0).as("value")),
          presorted = true)
        q.processAllAvailable()
        assert(spark.table("gfork_dedup").count() == 1600L)
      } finally q.stop()
    }
    // opt-out mode (stream.forkDedup=false — forkDedup is the default
    // since round 12): the documented at-least-once bound across a heal
    locally {
      val (repo, clct) = mkFork()
      val q = spark.readStream.format("graft")
        .option("path", repo.rootUri).option("collection", "c")
        .option("series", "_").option("stream.forkDedup", "false")
        .load().writeStream.format("memory")
        .queryName("gfork_default").outputMode("append").start()
      try {
        q.processAllAvailable()
        val drained = spark.table("gfork_default").count()
        clct.merge(); clct.refresh()
        q.processAllAvailable()
        assert(spark.table("gfork_default").count() >= drained,
          "default mode may replay across a heal, never lose")
      } finally q.stop()
    }
  }

  test("forkDedup default-on: wide-fork offset state is bounded " +
      "and collapses on heal") {
    // The round-12 default flip rests on this cost model: the offset
    // carries ONE revision id per un-healed head (nothing per file,
    // per segment, or per row), per-batch planning resolves each head
    // through the JVM-wide cached decode, and the heal collapses the
    // frontier back to a single head. A deliberately WIDE synthetic
    // fork (24 branches — wider than q205's racing 20 writers ever
    // leave un-healed) pins all three properties.
    val width = 24
    val root = Files.createTempDirectory("graft-widefork").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    import spark.implicits._
    clct.series("_").write(spark.range(0, 100, 1, 2)
      .select($"id".as("ts"), lit(0.0).as("value")), presorted = true)
    // `width` branches off the same trunk revision, pulled back in
    val branches = (0 until width).map { b =>
      val rb = Files.createTempDirectory(s"graft-wf$b").toString
      val cb = new Repo(rb, spark).createCollection(schema, "c")
      cb.embedMaxSize = 0L
      cb.pull(clct)
      cb.series("_").write(
        spark.range(1000L + b * 100, 1000L + (b + 1) * 100, 1, 1)
          .select($"id".as("ts"), lit(b.toDouble).as("value")),
        presorted = true)
      cb
    }
    branches.foreach(clct.pull(_))
    clct.refresh()
    assert(clct.changelog.leafs().length == width,
      s"fixture must hold $width un-healed heads")
    val t = new graft.sources.GraftTable(root, "c", "_", None)
    val stream = new graft.sources.GraftMicroBatchStream(
      t, t.schema(), startingLatest = false, forkDedup = true)
    val o = stream.latestOffset()
      .asInstanceOf[graft.sources.GraftStreamOffset]
    assert(o.heads.length == width, s"frontier = every head: $o")
    // state cost: one 49-char revision id per head + the anchor — a
    // few KB at this deliberately extreme width, O(heads) and nothing
    // else (no per-file or per-row state in the offset)
    assert(o.json().length < width * 64 + 128,
      s"offset must stay O(heads): ${o.json().length} chars")
    // the full-frontier drain plans every branch's rows exactly once
    val parts = stream.planInputPartitions(
      graft.sources.GraftStreamOffset(0, ""), o)
    assert(parts.nonEmpty)
    // heal: the frontier collapses back to one head, the offset to
    // its linear-history size
    var guard = 0
    while (clct.changelog.leafs().length > 1 && guard < 40) {
      clct.merge(); clct.refresh(); guard += 1
    }
    assert(clct.changelog.leafs().length == 1, "heal must converge")
    val o2 = stream.latestOffset()
      .asInstanceOf[graft.sources.GraftStreamOffset]
    assert(o2.heads.length == 1,
      s"healed frontier must be a single head: $o2")
    // and nothing replays: the healed leaf re-references every
    // branch's files, all already in the start frontier
    assert(stream.planInputPartitions(o, o2).isEmpty,
      "heal must diff away against the drained frontier")
  }

  test("forkDedup at pathological width: a 100-way fork drains " +
      "exactly-once through the CDC source and heals clean") {
    // The r12/r13 verdicts asked for the worst case MEASURED, not
    // modeled: a synthetic 100-way fork (5x the widest racing-writer
    // fixture) drained end-to-end through a real streaming query,
    // healed, and asserted to replay nothing — with the offset size
    // and wall costs recorded (numbers land in MIGRATION.md).
    val width = 100
    val rowsPer = 50L
    val root = Files.createTempDirectory("graft-fork100").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    import spark.implicits._
    clct.series("_").write(spark.range(0, 100, 1, 2)
      .select($"id".as("ts"), lit(0.0).as("value")), presorted = true)
    // every branch forks from the SAME trunk revision (pull before
    // any branch lands back), then all heads pull in together
    val branches = (0 until width).map { b =>
      val rb = Files.createTempDirectory(s"graft-f100-$b").toString
      val cb = new Repo(rb, spark).createCollection(schema, "c")
      cb.embedMaxSize = 0L
      cb.pull(clct)
      cb.series("_").write(
        spark.range(1000L + b * rowsPer, 1000L + (b + 1) * rowsPer, 1, 1)
          .select($"id".as("ts"), lit(b.toDouble).as("value")),
        presorted = true)
      cb
    }
    branches.foreach(clct.pull(_))
    clct.refresh()
    assert(clct.changelog.leafs().length == width,
      s"fixture must hold $width un-healed heads")
    // offset cost at width 100: one revision id per head, nothing per
    // file/segment/row
    val t = new graft.sources.GraftTable(root, "c", "_", None)
    val stream = new graft.sources.GraftMicroBatchStream(
      t, t.schema(), startingLatest = false, forkDedup = true)
    val offChars = stream.latestOffset()
      .asInstanceOf[graft.sources.GraftStreamOffset].json().length
    assert(offChars < width * 64 + 128,
      s"offset must stay O(heads): $offChars chars")
    val q = spark.readStream.format("graft")
      .option("path", root).option("collection", "c")
      .option("series", "_") // forkDedup default-on
      .load().writeStream.format("memory")
      .queryName("gfork100").outputMode("append").start()
    try {
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val drainS = (System.nanoTime() - t0) / 1e9
      val want = 100L + width * rowsPer
      assert(spark.table("gfork100").count() == want,
        "the frontier drain must serve every branch exactly once")
      val t1 = System.nanoTime()
      var guard = 0
      while (clct.changelog.leafs().length > 1 && guard < 200) {
        clct.merge(); clct.refresh(); guard += 1
      }
      val healS = (System.nanoTime() - t1) / 1e9
      assert(clct.changelog.leafs().length == 1, "heal must converge")
      q.processAllAvailable()
      assert(spark.table("gfork100").count() == want,
        "the healed 100-way fork must replay NOTHING")
      // a genuine append after the heal still flows
      clct.series("_").write(spark.range(50000, 50100, 1, 1)
        .select($"id".as("ts"), lit(9.0).as("value")), presorted = true)
      q.processAllAvailable()
      assert(spark.table("gfork100").count() == want + 100L)
      info(f"100-way fork: offset $offChars chars, drain $drainS%.1f s, " +
        f"heal $healS%.1f s in $guard merges, zero replays")
    } finally q.stop()
  }

  test("stream.rewrites contract: skip suppresses defrag replay") {
    val root = Files.createTempDirectory("graft-cdc").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // tiny writes become small FILES
    val s = clct.series("_")
    import spark.implicits._
    def put(lo: Long, hi: Long, v: Double): Unit =
      s.write(spark.range(lo, hi, 1, 1)
        .select($"id".as("ts"), lit(v).as("value")), presorted = true)
    // 5 small segments -> a defrag run (> maxChunk = 4)
    (0 until 5).foreach(i => put(i * 1000L, (i + 1) * 1000L, 1.0))
    def startQ(name: String, opts: Map[String, String]) = {
      var r = spark.readStream.format("graft")
        .option("path", root).option("collection", "c")
        .option("series", "_")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    }
    val qEmit = startQ("cdc_emit", Map.empty)
    val qSkip = startQ("cdc_skip", Map("stream.rewrites" -> "skip"))
    def sync(): Unit = {
      qEmit.processAllAvailable(); qSkip.processAllAvailable()
    }
    try {
      // both modes replay the initial appends exactly once
      sync()
      assert(spark.table("cdc_emit").count() == 5000L)
      assert(spark.table("cdc_skip").count() == 5000L)
      clct.defrag()
      clct.refresh()
      assert(s.segments().length == 1) // the run was compacted
      sync()
      // default: at-least-once with replay on compaction (documented)
      assert(spark.table("cdc_emit").count() == 10000L)
      // skip: the compaction commit is metadata-classified and silent
      assert(spark.table("cdc_skip").count() == 5000L)
      // a REAL append after the defrag must still flow in both modes
      put(5000L, 5600L, 2.0)
      sync()
      assert(spark.table("cdc_emit").count() == 10600L)
      assert(spark.table("cdc_skip").count() == 5600L)
      assert(spark.table("cdc_skip")
        .filter(col("value") === 2.0).count() == 600L)
      // a range delete surfaces no tombstone events in either mode
      s.delete(100L, 200L)
      sync()
      assert(spark.table("cdc_emit").count() == 10600L)
      assert(spark.table("cdc_skip").count() == 5600L)
    } finally { qEmit.stop(); qSkip.stop() }
    spark.catalog.dropTempView("cdc_emit")
    spark.catalog.dropTempView("cdc_skip")
  }

  test("stream.rewrites skip judges a multi-series defrag commit per " +
      "series") {
    val root = Files.createTempDirectory("graft-cdc2").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    import spark.implicits._
    def put(l: String, lo: Long, hi: Long): Unit =
      clct.series(l).write(spark.range(lo, hi, 1, 1)
        .select($"id".as("ts"), lit(1.0).as("value")), presorted = true)
    Seq("a", "b").foreach(l =>
      (0 until 5).foreach(i => put(l, i * 1000L, (i + 1) * 1000L)))
    // b's run is overlay-clipped: its rewrite is not provably compaction
    put("b", 1500L, 1600L)
    val q = spark.readStream.format("graft").option("path", root)
      .option("collection", "c").option("series", "a")
      .option("stream.rewrites", "skip").load()
      .writeStream.format("memory").queryName("cdc_skip_a")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_skip_a").count() == 5000L)
      val revs = clct.changelog.log().length
      clct.defrag()
      clct.refresh()
      // both runs in one commit
      assert(clct.changelog.log().length == revs + 1)
      assert(clct.manifest().get.rows.count(_.hasData) == 2)
      q.processAllAvailable()
      assert(spark.table("cdc_skip_a").count() == 5000L)
    } finally q.stop()
    spark.catalog.dropTempView("cdc_skip_a")
  }

  test("clone renames and defaults resolve through the connector") {
    val root = Files.createTempDirectory("graft-dsv2c").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    s.write(Seq((1L, 1.0), (2L, 2.0)).toDF("ts", "value"))
    clct.cloneTo("c2", rename = Map("value" -> "v2"),
      additions = Seq(
        (ColDef("tag", GType.StrT, idx = false), "x")))
    val got = spark.read.format("graft")
      .option("path", root).option("collection", "c2").load()
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq.sorted
    assert(got == Seq((1L, 1.0, "x"), (2L, 2.0, "x")))
  }
}
