package graft

import graft.api._
import graft.core._
import graft.sources.GraftMetrics._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Per-segment VALUE-column (min, max) statistics — data skipping:
  * segments whose recorded value range is disjoint from the query's
  * bounds drop before any file opens, the Delta/Iceberg file-stats
  * idea on the manifest. */
class GraftStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 3 segments: ts bands [0,100) [100,200) [200,300) with value
    * bands [0,100) [1000,1100) [2000,2100) — value correlates with
    * layout, the regime where stats prune. */
  private def seeded(): (String, Series) = {
    val root = Files.createTempDirectory("graft-st").toString
    val repo = new Repo(root, spark)
    val clct = repo
      .createCollection(GSchema("ts" -> "int*", "v" -> "float"), "c")
    clct.embedMaxSize = 0L // parquet segments, not manifest-inline
    val sr = clct.series("_")
    import spark.implicits._
    (0 until 3).foreach { i =>
      sr.write((0 until 100).map(j =>
        (i * 100L + j, i * 1000.0 + j)).toDF("ts", "v"))
    }
    (root, sr)
  }

  /** `sql`'s single count and the graft metrics of its scan */
  private def countWith(sql: String): (Long, Map[String, Long]) =
    TestSpark.graftMetrics(spark.sql(sql).collect()(0).getLong(0))

  private def view(root: String): Unit =
    spark.read.format("graft").option("path", root)
      .option("collection", "c").option("series", "_").load()
      .createOrReplaceTempView("gstats")

  test("value-range predicate skips disjoint segments") {
    val (root, sr) = seeded()
    assert(sr.segments().count(_.meta.hasData) == 3)
    assert(sr.segments().forall(_.meta.vstats.isDefined),
      "write paths must record value stats")
    view(root)
    val (n, m) = countWith(
      "SELECT count(v) FROM gstats WHERE v >= 1000 AND v < 1100")
    assert(n == 100L)
    assert(m(SegmentsStatSkipped) == 2,
      s"skipped=${m(SegmentsStatSkipped)}")
    assert(m(SegmentsKept) == 1)
    // equality + IN-list bounds skip too
    val (in, m2) = countWith(
      "SELECT count(v) FROM gstats WHERE v IN (2000.0, 2099.0)")
    assert(in == 2L)
    assert(m2(SegmentsStatSkipped) == 2)
    // disjoint from everything: all three skip, zero rows
    val (none, m3) = countWith(
      "SELECT count(v) FROM gstats WHERE v > 50000")
    assert(none == 0L)
    assert(m3(SegmentsStatSkipped) == 3)
  }

  test("NaN poisons a float column's stats (no unsafe skip)") {
    val root = Files.createTempDirectory("graft-st2").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(
      GSchema("ts" -> "int*", "v" -> "float", "w" -> "float"), "c")
    clct.embedMaxSize = 0L // parquet segments, not manifest-inline
    val sr = clct.series("_")
    import spark.implicits._
    sr.write(Seq((0L, 1.0, 7.0), (1L, Double.NaN, 8.0),
      (2L, 2.0, 9.0)).toDF("ts", "v", "w"))
    val seg = sr.segments().head
    assert(seg.meta.vstats.isDefined, "parquet path must record stats")
    assert(seg.meta.vstats.forall(!_.contains("v")),
      s"NaN column must carry no stats: ${seg.meta.vstats}")
    assert(seg.meta.vstats.exists(_.get("w").contains((7.0, 9.0))),
      s"clean column keeps its stats: ${seg.meta.vstats}")
    view(root)
    // Spark orders NaN greatest: v > 100 matches the NaN row — the
    // segment must NOT be skipped
    val (nan, m) = countWith("SELECT count(*) FROM gstats WHERE v > 100.0")
    assert(nan == 1L)
    assert(m.getOrElse(SegmentsStatSkipped, -1L) <= 0)
  }

  test("default-bearing columns are exempt (stored nulls read as default)") {
    val root = Files.createTempDirectory("graft-st3").toString
    val cat = "gst" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    spark.sql(s"CREATE TABLE $cat.c.s (ts BIGINT, v DOUBLE) " +
      s"PARTITIONED BY (ts)")
    spark.sql(s"INSERT INTO $cat.c.s SELECT id, 1.0 FROM range(0, 10)")
    spark.sql(s"ALTER TABLE $cat.c.s ADD COLUMN q DOUBLE DEFAULT 5.0")
    // post-ADD batch stores q = null for even ids, 10.0 for odd: the
    // file's q-stats are [10, 10], but stored nulls READ as 5.0
    spark.sql(s"INSERT INTO $cat.c.s SELECT id, 2.0, " +
      s"CASE WHEN id % 2 = 0 THEN NULL ELSE 10.0 END " +
      s"FROM range(10, 20)")
    // without the defaults exemption, stats [10,10] would skip this
    // segment for q = 5.0 and lose the 15 default-valued rows
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.c.s WHERE q = 5.0")
      .collect()(0).getLong(0) == 15L)
  }

  test("CALL sys.analyze backfills stats onto stats-less segments") {
    val (root, sr) = seeded()
    // simulate pre-stats data: recommit the manifest with vstats
    // stripped (what a round-8 store looks like on disk)
    val c = sr.collection
    val leaf = c.changelog.leaf().get
    val m = Manifest.decode(c.changelog.payload(leaf))
    c.changelog.commit(
      Manifest(m.schema, m.rows.map(_.copy(vstats = None))).encode,
      parents = Seq(leaf.child))
    c.refresh()
    assert(sr.segments().forall(_.meta.vstats.isEmpty))
    view(root)
    val (before, m1) = countWith(
      "SELECT count(v) FROM gstats WHERE v >= 1000 AND v < 1100")
    assert(before == 100L)
    assert(m1.getOrElse(SegmentsStatSkipped, -1L) <= 0,
      "stats-less segments must not skip")

    val cat = "gan" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    val r = spark.sql(s"CALL $cat.sys.analyze('c')").collect()(0)
    assert(r.getLong(1) == 3L, r.toString)
    // stats are back; skipping works; data identical
    val sr2 = new Repo(root, spark).collection("c").get.series("_")
    assert(sr2.segments().forall(_.meta.vstats.isDefined))
    view(root)
    val (after, m2) = countWith(
      "SELECT count(v) FROM gstats WHERE v >= 1000 AND v < 1100")
    assert(after == 100L)
    assert(m2(SegmentsStatSkipped) == 2)
    // idempotent: nothing left to analyze
    assert(spark.sql(s"CALL $cat.sys.analyze('c')").collect()(0)
      .getLong(1) == 0L)
  }

  test("sum(int value col) answers from per-segment recorded sums") {
    val root = Files.createTempDirectory("graft-st5").toString
    val repo = new Repo(root, spark)
    val clct = repo.createCollection(GSchema(
      "ts" -> "int*", "tokens" -> "int", "v" -> "float"), "c")
    clct.embedMaxSize = 0L
    val sr = clct.series("_")
    import spark.implicits._
    (0 until 2).foreach { i =>
      sr.write((0 until 100).map(j =>
        (i * 100L + j, (j % 7).toLong, j * 0.5)).toDF("ts", "tokens",
        "v"))
    }
    assert(sr.segments().forall(_.meta.vsums.exists(_.contains(
      "tokens"))))
    spark.read.format("graft").option("path", root)
      .option("collection", "c").option("series", "_").load()
      .createOrReplaceTempView("gsums")
    val (got, m) = countWith("SELECT sum(tokens) FROM gsums")
    assert(got == 2L * (0 until 100).map(_ % 7).sum)
    assert(m.get(AggFromManifest).contains(1L),
      "integer sum must answer from the manifest")
    // float sums are order-dependent: never pushed
    val (fsum, m2) = TestSpark.graftMetrics(
      spark.sql("SELECT sum(v) FROM gsums").collect()(0).getDouble(0))
    assert(fsum == 2 * (0 until 100).map(_ * 0.5).sum)
    assert(!m2.get(AggFromManifest).contains(1L))
  }

  test("driver-tier (small) writes record the same stats") {
    val root = Files.createTempDirectory("graft-st4").toString
    val repo = new Repo(root, spark)
    val clct = repo
      .createCollection(GSchema("ts" -> "int*", "v" -> "float"), "c")
    clct.embedMaxSize = 0L // force the parquet path, not inline
    val sr = clct.series("_")
    import spark.implicits._
    // small enough for the driver tier, two value bands
    sr.write((0 until 500).map(j => (j.toLong, 1.0 + j % 3))
      .toDF("ts", "v"))
    val vs = sr.segments().head.meta.vstats
    assert(vs.exists(_.get("v").contains((1.0, 3.0))), vs.toString)
  }
}
