package graft

import graft.api._
import graft.core._
import graft.sources.GraftMetrics._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The engine as a Spark SQL catalog (`spark.sql.catalog.<n> =
  * graft.sources.GraftCatalog`): DDL creates collections/series,
  * INSERT runs the engine write, SELECT gets manifest pruning and
  * time travel, DROP/SHOW work — plus the scan-level metadata
  * aggregates and runtime filtering that ride on the same connector.
  */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def newCatalog(): (String, String) = {
    val root = Files.createTempDirectory("graft-cat").toString
    val name = "gc" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.path", root)
    (name, root)
  }

  test("SQL DDL + DML lifecycle through the catalog") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.prices.btc (ts TIMESTAMP, px DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    // the collection exists with the declared schema, index on ts
    val repo = new Repo(root, spark)
    val clct = repo.collection("prices").get
    assert(clct.schema.idxNames == Seq("ts"))
    // series materializes at first INSERT
    spark.sql(
      s"""INSERT INTO $cat.prices.btc
         |SELECT timestamp_seconds(id * 60), id * 0.5
         |FROM range(0, 1000)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.prices.btc")
      .collect()(0).getLong(0) == 1000L)
    assert(clct.ls() == Seq("btc"))
    // a second series in the same collection shares the schema
    spark.sql(
      s"""CREATE TABLE $cat.prices.eth (ts TIMESTAMP, px DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.prices.eth
         |SELECT timestamp_seconds(id * 60), id * 2.0
         |FROM range(0, 10)""".stripMargin)
    assert(spark.sql(s"SHOW TABLES IN $cat.prices").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("btc", "eth"))
    // engine API sees the same data (one store, two doors)
    assert(clct.series("btc").frame().count() == 1000L)
    // WHERE on the index prunes through the catalog-loaded table
    val n = spark.sql(
      s"""SELECT count(px) FROM $cat.prices.btc
         |WHERE ts < timestamp_seconds(6000)""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 100L)
    // INSERT OVERWRITE replaces just that series
    spark.sql(
      s"""INSERT OVERWRITE $cat.prices.eth
         |SELECT timestamp_seconds(id * 60), id * 3.0
         |FROM range(0, 5)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.prices.eth")
      .collect()(0).getLong(0) == 5L)
    assert(clct.series("btc").frame().count() == 1000L) // untouched
    // DROP TABLE removes the series, namespace ops see collections
    spark.sql(s"DROP TABLE $cat.prices.eth")
    assert(clct.ls() == Seq("btc"))
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).toSeq == Seq("prices"))
  }

  test("TIMESTAMP AS OF time-travels through the catalog") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.c.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.c.s SELECT id, 1.0 FROM range(0, 100)")
    Thread.sleep(15)
    val cut = java.time.Instant.now()
    Thread.sleep(15)
    spark.sql(
      s"INSERT INTO $cat.c.s SELECT id, 2.0 FROM range(100, 300)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.c.s")
      .collect()(0).getLong(0) == 300L)
    val asOf = spark.sql(
      s"SELECT count(*) FROM $cat.c.s TIMESTAMP AS OF '$cut'")
      .collect()(0).getLong(0)
    assert(asOf == 100L)
    // VERSION AS OF takes the same clock as epoch millis
    val ver = spark.sql(
      s"SELECT count(*) FROM $cat.c.s VERSION AS OF " +
        s"'${cut.toEpochMilli}'").collect()(0).getLong(0)
    assert(ver == 100L)
  }

  test("schema contract: same collection requires same schema") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.c.a (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.c.a SELECT id, 0.5 FROM range(0, 10)")
    val e = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.c.b (ts BIGINT, other STRING)
           |PARTITIONED BY (ts)""".stripMargin)
    }
    assert(e.getMessage.contains("different schema"), e.getMessage)
  }

  test("count/min/max answer from the manifest (no file IO)") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.c.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    val repo = new Repo(root, spark)
    repo.collection("c").get.pageLen = 10000L
    repo.collection("c").get.embedMaxSize = 0L
    // write through the engine so pageLen applies (several segments)
    import spark.implicits._
    val s = repo.collection("c").get.series("s")
    s.write(spark.range(0, 80000, 1, 8)
      .select($"id".as("ts"), ($"id" * 1.5).as("v")), presorted = true)
    val (got, m) = TestSpark.graftMetrics(spark.sql(
      s"SELECT count(*), count(ts), min(ts), max(ts) FROM $cat.c.s")
      .collect()(0))
    assert(got.getLong(0) == 80000L)
    assert(got.getLong(1) == 80000L)
    assert(got.getLong(2) == 0L)
    assert(got.getLong(3) == 79999L)
    assert(m.get(AggFromManifest).contains(1L),
      "aggregate was not answered from the manifest")
    // an overlay CLIP makes metadata inexact -> normal scan, exact
    s.delete(100L, 200L)
    val (after, m2) = TestSpark.graftMetrics(
      spark.sql(s"SELECT count(*) FROM $cat.c.s").collect()(0).getLong(0))
    assert(after == 80000L - 101L)
    assert(!m2.get(AggFromManifest).contains(1L))
    // filtered aggregates never push (WHERE stays residual)
    val (filtered, m3) = TestSpark.graftMetrics(spark.sql(
      s"SELECT count(*) FROM $cat.c.s WHERE ts >= 70000")
      .collect()(0).getLong(0))
    assert(filtered == 10000L)
    assert(!m3.get(AggFromManifest).contains(1L))
  }

  test("SQL DELETE maps to manifest tombstones (metadata-only)") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.c.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.c.s SELECT id, 1.0 FROM range(0, 1000)")
    val repo = new Repo(root, spark)
    val sr = repo.collection("c").get.series("s")
    val filesBefore = sr.segments().flatMap(_.meta.files).toSet
    // range delete: closed/open bounds honored, no data job
    val (_, jobs, _) = TestSpark.work {
      spark.sql(s"DELETE FROM $cat.c.s WHERE ts >= 100 AND ts < 200")
    }
    assert(jobs == 0, s"metadata delete ran $jobs Spark jobs")
    assert(spark.sql(s"SELECT count(*) FROM $cat.c.s")
      .collect()(0).getLong(0) == 900L)
    // the stored files are untouched (tombstone overlays them)
    assert(sr.segments().flatMap(_.meta.files).toSet
      .subsetOf(filesBefore))
    // IN-list delete: one batched commit, one tombstone per key
    val revs = repo.collection("c").get.changelog.log().length
    spark.sql(s"DELETE FROM $cat.c.s WHERE ts IN (500, 600, 700)")
    assert(repo.collection("c").get.changelog.log().length == revs + 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.c.s")
      .collect()(0).getLong(0) == 897L)
    // one-sided range substitutes the manifest extreme
    spark.sql(s"DELETE FROM $cat.c.s WHERE ts >= 900")
    assert(spark.sql(s"SELECT count(*) FROM $cat.c.s")
      .collect()(0).getLong(0) == 797L)
    // a value-column predicate can't be a tombstone — it takes the
    // copy-on-write rewrite path instead (GraftRowLevelSpec) and
    // still lands correctly
    spark.sql(s"DELETE FROM $cat.c.s WHERE v = 1.0 AND ts = 850")
    assert(spark.sql(s"SELECT count(*) FROM $cat.c.s")
      .collect()(0).getLong(0) == 796L)
    // DELETE without WHERE truncates the series, history readable
    Thread.sleep(15)
    val cut = java.time.Instant.now()
    Thread.sleep(15)
    spark.sql(s"DELETE FROM $cat.c.s")
    assert(spark.sql(s"SELECT count(*) FROM $cat.c.s")
      .collect()(0).getLong(0) == 0L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.c.s TIMESTAMP AS OF '$cut'")
      .collect()(0).getLong(0) == 796L)
  }

  test("CALL procedures: defrag/squash/gc/archive through SQL") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.m.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    // many tiny commits → fragmented manifest + deep changelog
    (0 until 6).foreach { i =>
      spark.sql(s"INSERT INTO $cat.m.s SELECT id, 1.0 " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val repo = new Repo(root, spark)
    val c = repo.collection("m").get
    val segsBefore = c.manifest().get.rows.count(_.hasData)
    assert(segsBefore >= 6)

    // defrag: fewer segments, same rows; returns before/after counts
    val d = spark.sql(s"CALL $cat.sys.defrag(collection => 'm')")
      .collect()(0)
    assert(d.getString(0) == "m")
    assert(d.getLong(2) < d.getLong(1),
      s"defrag should shrink segments: $d")
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.s")
      .collect()(0).getLong(0) == 600L)

    // squash: one revision left, data intact
    val q = spark.sql(s"CALL $cat.sys.squash('m')").collect()(0)
    assert(q.getLong(2) == 1L && q.getLong(1) > 1L, q.toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.s")
      .collect()(0).getLong(0) == 600L)

    // archive parks a snapshot (shared files, no data copy)
    val a = spark.sql(s"CALL $cat.sys.archive('m')").collect()(0)
    assert(a.getLong(1) >= 1L)
    assert(new Repo(root, spark).collection("m", "archive").isDefined)

    // gc after squash+defrag reaps the unreferenced originals
    val g = spark.sql(s"CALL $cat.sys.gc(timeout_ms => 0)")
      .collect()(0)
    assert(g.getLong(0) >= 1L, "gc should collect defrag'd originals")
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.s")
      .collect()(0).getLong(0) == 600L)

    // discovery surface
    val procs = spark.sql(s"SHOW PROCEDURES IN $cat.sys").collect()
      .map(_.getString(3))
    assert(procs.contains("defrag") && procs.contains("gc"),
      procs.mkString(","))
    val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.sys.defrag")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.toLowerCase.contains("defrag"), desc)
    // unknown procedure: a clear error naming the known set
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.nope()")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("sys.defrag")), e.toString)
  }

  test("CTAS and REPLACE TABLE AS SELECT work through the catalog") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.ct.s PARTITIONED BY (ts) AS
         |SELECT id AS ts, cast(id AS DOUBLE) AS v
         |FROM range(0, 100)""".stripMargin)
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $cat.ct.s")
      .collect()(0).getLong(0) == 100L)
    spark.sql(
      s"""REPLACE TABLE $cat.ct.s PARTITIONED BY (ts) AS
         |SELECT id AS ts, cast(id * 2 AS DOUBLE) AS v
         |FROM range(0, 50)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ct.s")
      .collect()(0).getLong(0) == 50L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ct.s")
      .collect()(0).getDouble(0) == (0 until 50).map(_ * 2.0).sum)
  }

  test("replaceWhere overwrite: writeTo(...).overwrite(cond)") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.rw.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.rw.s SELECT id, 1.0 FROM range(0, 300)")
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // backfill days [100, 200): fewer corrected rows replace the range
    (100L until 200L by 2).map(k => (k, 9.0)).toDF("ts", "v")
      .writeTo(s"$cat.rw.s")
      .overwrite(col("ts") >= lit(100L) && col("ts") < lit(200L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.rw.s")
      .collect()(0).getLong(0) == 250L) // 200 outside + 50 corrected
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.rw.s WHERE v = 9.0")
      .collect()(0).getLong(0) == 50L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.rw.s WHERE ts >= 100 AND ts < 200")
      .collect()(0).getLong(0) == 50L)
    // rows outside the declared range are refused before commit
    val e = intercept[Exception] {
      Seq((500L, 2.0)).toDF("ts", "v").writeTo(s"$cat.rw.s")
        .overwrite(col("ts") >= lit(100L) && col("ts") < lit(200L))
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("outside the replace range")),
      e.toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.rw.s")
      .collect()(0).getLong(0) == 250L, "failed overwrite commits nothing")
    // a value-column condition cannot be a range: refused
    val e2 = intercept[Exception] {
      Seq((150L, 3.0)).toDF("ts", "v").writeTo(s"$cat.rw.s")
        .overwrite(col("v") > lit(0.0))
    }
    assert(chain(e2).exists(_.contains("index-range")), e2.toString)
  }

  test("CALL history + VERSION AS OF a revision id") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.h.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.h.s SELECT id, 1.0 FROM range(0, 50)")
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.h.s SELECT id, 2.0 FROM range(50, 80)")
    val hist = spark.sql(s"CALL $cat.sys.history('h')").collect()
    assert(hist.length == 2, hist.mkString(","))
    // rows accumulate across revisions; the leaf is flagged
    assert(hist.map(_.getLong(6)).toSeq == Seq(50L, 80L))
    assert(hist.last.getBoolean(3), "last revision is the leaf")
    // VERSION AS OF the FIRST revision id sees only the first batch
    val rev1 = hist(0).getString(0)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.h.s VERSION AS OF '$rev1'")
      .collect()(0).getLong(0) == 50L)
    // a digest prefix works; a bogus id errors clearly
    val pfx = rev1.split("-")(1).take(12)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.h.s VERSION AS OF '$pfx'")
      .collect()(0).getLong(0) == 50L)
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM $cat.h.s VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("no revision"), e.getMessage)
  }

  test("CALL push/pull sync two repos through SQL") {
    val (cat, _) = newCatalog()
    val (cat2, root2) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.p.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.p.s SELECT id, 2.0 FROM range(0, 50)")
    val r = spark.sql(s"CALL $cat.sys.push('$root2')").collect()(0)
    assert(r.getLong(1) == 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat2.p.s")
      .collect()(0).getLong(0) == 50L)
    // pull direction: new rows on the remote come back
    spark.sql(s"INSERT INTO $cat2.p.s SELECT id, 3.0 FROM range(50, 60)")
    spark.sql(s"CALL $cat.sys.pull('$root2', collection => 'p')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.p.s")
      .collect()(0).getLong(0) == 60L)
  }

  test("ALTER TABLE: zero-copy add/rename/drop column") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.a.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.a.s SELECT id, 1.5 FROM range(0, 100)")
    val filesBefore = new Repo(root, spark).collection("a").get
      .series("s").segments().flatMap(_.meta.files).toSet

    // ADD COLUMN with DEFAULT: pre-add rows answer the default,
    // post-add writes store real values; no file rewritten
    spark.sql(s"ALTER TABLE $cat.a.s ADD COLUMN note STRING " +
      s"DEFAULT 'none'")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.a.s WHERE note = 'none'")
      .collect()(0).getLong(0) == 100L)
    spark.sql(s"INSERT INTO $cat.a.s SELECT id, 2.5, 'fresh' " +
      s"FROM range(100, 150)")
    assert(spark.sql(
      s"SELECT note, count(*) AS c FROM $cat.a.s GROUP BY note " +
        s"ORDER BY note").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("fresh", 50L), ("none", 100L)))
    val filesAfter = new Repo(root, spark).collection("a").get
      .series("s").segments().flatMap(_.meta.files).toSet
    assert(filesBefore.subsetOf(filesAfter),
      "ALTER must not rewrite existing files")

    // ADD COLUMN without DEFAULT is refused with guidance
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.a.s ADD COLUMN bad DOUBLE")
    }
    assert(e1.getMessage.contains("DEFAULT"), e1.getMessage)

    // RENAME COLUMN (value and index): reads keep working
    spark.sql(s"ALTER TABLE $cat.a.s RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE $cat.a.s RENAME COLUMN ts TO t")
    assert(spark.sql(
      s"SELECT sum(val) FROM $cat.a.s WHERE t < 100")
      .collect()(0).getDouble(0) == 150.0)

    // DROP + re-ADD same name: dead stored values must NOT resurrect
    spark.sql(s"ALTER TABLE $cat.a.s DROP COLUMN note")
    spark.sql(s"ALTER TABLE $cat.a.s ADD COLUMN note STRING " +
      s"DEFAULT 'reset'")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.a.s WHERE note = 'reset'")
      .collect()(0).getLong(0) == 150L,
      "re-added column must answer its new default everywhere")

    // guards: dropping an index column, CREATE with DEFAULT
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.a.s DROP COLUMN t")
    }
    assert(e2.getMessage.contains("index"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.a2.s (ts BIGINT, v DOUBLE DEFAULT 1.0)
           |PARTITIONED BY (ts)""".stripMargin)
    }
    assert(e3.getMessage.contains("ALTER"), e3.getMessage)

    // the Scala API sees the evolved schema through the registry
    val c2 = new Repo(root, spark).collection("a").get
    assert(c2.schema.names == Seq("t", "val", "note"))
    assert(c2.series("s").frame().columns.toSeq ==
      Seq("t", "val", "note"))
  }

  test("kv collections refuse the SQL write path") {
    val root = Files.createTempDirectory("graft-kvw").toString
    val repo = new Repo(root, spark)
    val schema = GSchema.kv("k" -> "int*", "v" -> "float")
    repo.createCollection(schema, "c")
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, 1.0)).toDF("k", "v").write.format("graft")
        .option("path", root).option("collection", "c")
        .option("series", "_").mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("kv")), e.toString)
  }

  test("runtime filter drops segments by join-key values") {
    val root = Files.createTempDirectory("graft-rtf").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("ts" -> "int*", "value" -> "float")
    val clct = repo.createCollection(schema, "c")
    clct.pageLen = 10000L
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    import spark.implicits._
    s.write(spark.range(0, 80000, 1, 8)
      .select($"id".as("ts"), ($"id" * 1.5).as("value")),
      presorted = true)
    val t = new graft.sources.GraftTable(root, "c", "_", None)
    val scan = new graft.sources.GraftScanBuilder(t, None).build()
    val rtf = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(rtf.filterAttributes().head.fieldNames().toSeq == Seq("ts"))
    rtf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("ts", Array(5L, 15000L))))
    val parts = scan.toBatch.planInputPartitions()
    // what Spark reads off the scan once its partitions are planned
    val kept = scan.reportDriverMetrics()
      .find(_.name() == SegmentsRuntimeKept).map(_.value())
    assert(kept.contains(2L), s"runtime filter kept $kept")
    assert(parts.length == 2)
    // values outside every segment range -> nothing planned
    val scan2 = new graft.sources.GraftScanBuilder(t, None).build()
    scan2.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("ts", 999999L)))
    assert(scan2.toBatch.planInputPartitions().isEmpty)
  }

  test("metadata tables: .segments/.history are zero-job local scans") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.m.s (ts TIMESTAMP, px DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.m.s
         |SELECT timestamp_seconds(id * 60), id * 0.5
         |FROM range(0, 1000)""".stripMargin)
    Thread.sleep(3) // hextime is ms-precision; separate the revisions
    spark.sql(
      s"""INSERT INTO $cat.m.s
         |SELECT timestamp_seconds(100000 + id * 60), id * 1.5
         |FROM range(0, 200)""".stripMargin)

    // segments: one per INSERT commit; visible rows reconcile
    val seg = spark.sql(s"SELECT * FROM $cat.m.s.segments")
    assert(seg.schema.fieldNames.toSeq ==
      graft.sources.GraftMetaTable.segmentsSchema.fieldNames.toSeq)
    // zero Spark jobs: the plan is a driver-local scan
    assert(seg.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      s"expected LocalTableScan:\n${seg.queryExecution.executedPlan}")
    val rows = seg.collect()
    assert(rows.map(_.getAs[Long]("rows")).sum == 1200L)
    assert(rows.forall(r => !r.getAs[Boolean]("is_inline")))
    assert(rows.length >= 2)
    assert(rows.flatMap(_.getSeq[String](
      rows(0).fieldIndex("files"))).distinct.length >= 2)

    // history: two revisions, leaf carries all rows of this series
    val hist = spark.sql(
      s"""SELECT revision, is_leaf, segments, rows
         |FROM $cat.m.s.history ORDER BY committed_at""".stripMargin)
      .collect()
    assert(hist.length == 2)
    assert(hist(1).getAs[Boolean]("is_leaf"))
    assert(hist(1).getAs[Long]("rows") == 1200L)
    assert(hist(0).getAs[Long]("rows") == 1000L)

    // VERSION AS OF a revision id pins the metadata snapshot too
    val rev1 = hist(0).getString(0)
    val pinned = spark.sql(
      s"""SELECT sum(rows) FROM $cat.m.s.segments
         |VERSION AS OF '$rev1'""".stripMargin).collect()(0).getLong(0)
    assert(pinned == 1000L)

    // a second series in the collection sees only its own segments
    spark.sql(
      s"""CREATE TABLE $cat.m.t (ts TIMESTAMP, px DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.m.t
         |SELECT timestamp_seconds(id * 60), id FROM range(0, 7)"""
        .stripMargin)
    assert(spark.sql(s"SELECT sum(rows) FROM $cat.m.t.segments")
      .collect()(0).getLong(0) == 7L)
    assert(spark.sql(s"SELECT sum(rows) FROM $cat.m.s.segments")
      .collect()(0).getLong(0) == 1200L)
    // each data segment is EITHER file-backed or manifest-inline
    assert(spark.sql(s"SELECT * FROM $cat.m.t.segments")
      .collect().forall(r => r.getAs[Boolean]("is_inline") !=
        r.getSeq[String](r.fieldIndex("files")).nonEmpty))

    // unknown 4th part stays an analysis error
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.m.s.nonsense").collect())
    assert(e.getMessage.contains("nonsense") ||
      e.getMessage.toLowerCase.contains("table"))
  }

  test("CALL restore rolls back to a revision, forward-committed") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.r.s (ts TIMESTAMP, px DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.r.s
         |SELECT timestamp_seconds(id * 60), id * 1.0
         |FROM range(0, 500)""".stripMargin)
    Thread.sleep(3)
    def total: Double = spark.sql(
      s"SELECT sum(px) FROM $cat.r.s").collect()(0).getDouble(0)
    val good = total
    val rev1 = spark.sql(
      s"""SELECT revision FROM $cat.r.s.history
         |ORDER BY committed_at LIMIT 1""".stripMargin)
      .collect()(0).getString(0)
    // bad deploy: overwrite a range with corrupted values
    spark.sql(
      s"""INSERT INTO $cat.r.s
         |SELECT timestamp_seconds(id * 60), id * 100.0
         |FROM range(0, 500)""".stripMargin)
    assert(total != good)
    Thread.sleep(3)
    val r = spark.sql(s"CALL $cat.sys.restore('r', '$rev1')")
      .collect()(0)
    assert(r.getString(1) == rev1 && r.getLong(3) == 500L)
    assert(total == good)
    // the restore is a FORWARD commit: history kept the bad revision
    // and added one for the restore itself
    val hist = spark.sql(
      s"""SELECT revision FROM $cat.r.s.history
         |ORDER BY committed_at""".stripMargin).collect()
    assert(hist.length == 3)
    // ...so the restore is itself undoable: restore to the bad leaf
    Thread.sleep(3)
    spark.sql(s"CALL $cat.sys.restore('r', '${hist(1).getString(0)}')")
      .collect()
    assert(total != good)
    // restoring to what the leaf already holds is a no-op commit
    Thread.sleep(3)
    val n4 = spark.sql(s"SELECT count(*) FROM $cat.r.s.history")
      .collect()(0).getLong(0)
    spark.sql(s"CALL $cat.sys.restore('r', '${hist(1).getString(0)}')")
      .collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.r.s.history")
      .collect()(0).getLong(0) == n4, "no-op restore must not commit")
    // unknown version -> clear error
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.sys.restore('r', 'zzzz')").collect())
    assert(e.getMessage.contains("no revision matches"))
  }

  test("restore x schema evolution: data rolls back, schema stays") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.e.s (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.e.s SELECT id, 1.0 FROM range(0, 100)")
    Thread.sleep(3)
    val rev1 = spark.sql(
      s"""SELECT revision FROM $cat.e.s.history
         |ORDER BY committed_at LIMIT 1""".stripMargin)
      .collect()(0).getString(0)
    // evolve the schema, then write rows that store the new column
    spark.sql(s"ALTER TABLE $cat.e.s ADD COLUMN tag STRING " +
      s"DEFAULT 'old'")
    spark.sql(s"INSERT INTO $cat.e.s SELECT id, 2.0, 'new' " +
      s"FROM range(100, 150)")
    // a COW UPDATE after the ALTER must materialize the added column
    // correctly for pre-ALTER rows (default) while rewriting
    spark.sql(s"UPDATE $cat.e.s SET v = v + 10 WHERE ts < 10")
    assert(spark.sql(
      s"""SELECT tag, count(*) AS c, sum(v) AS sv FROM $cat.e.s
         |GROUP BY tag ORDER BY tag""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq == Seq(("new", 50L, 100.0), ("old", 100L, 200.0)))
    // restore to the pre-ALTER revision: the DATA rolls back (the
    // manifest), the SCHEMA stays current (registry-level, the
    // one-schema-per-collection contract) — restored old files
    // answer the added column with its DEFAULT
    Thread.sleep(3)
    spark.sql(s"CALL $cat.sys.restore('e', '$rev1')").collect()
    val back = spark.sql(
      s"""SELECT tag, count(*) AS c, sum(v) AS sv FROM $cat.e.s
         |GROUP BY tag ORDER BY tag""".stripMargin).collect()
    assert(back.map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("old", 100L, 100.0)), back.mkString(", "))
  }

  test("COW group selection: index-range UPDATE prunes statically " +
      "(no runtime subquery); value DELETE keeps the runtime filter") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.c.ev (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)
         |TBLPROPERTIES ('page_len' = '1000')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.c.ev SELECT id, id * 0.5 FROM range(0, 8000)")
    // pure index-range condition: the manifest bound selects the two
    // covering segments statically — no group-filter subquery planned
    val (_, upd) = TestSpark.graftMetrics(spark.sql(
      s"UPDATE $cat.c.ev SET v = -1.0 WHERE ts >= 2500 AND ts < 3500"))
    assert(upd(GroupsStatic) == 1,
      "index-range UPDATE must select groups statically")
    assert(upd(SegmentsKept) == 2,
      s"expected 2 covering segments, kept ${upd(SegmentsKept)}")
    assert(upd(SegmentsTotal) == 8)
    // groups were read WHOLE: unmatched rows in the rewritten
    // segments survive with their original values
    val r = spark.sql(
      s"""SELECT count(*) n, sum(CASE WHEN v = -1.0 THEN 1 ELSE 0 END)
         |  hit, sum(CASE WHEN ts IN (2000, 3999)
         |    AND v = ts * 0.5 THEN 1 ELSE 0 END) edge
         |FROM $cat.c.ev""".stripMargin).collect()(0)
    assert(r.getLong(0) == 8000L)
    assert(r.getLong(1) == 1000L)
    assert(r.getLong(2) == 2L, "unmatched rows in rewritten segments " +
      "must survive the COW rewrite")
    // value predicate: not index-expressible — the static bound can't
    // cover it, so the runtime group filter must stay in the plan
    val (_, del) = TestSpark.graftMetrics(
      spark.sql(s"DELETE FROM $cat.c.ev WHERE v = 123.5"))
    assert(del(GroupsStatic) == 0,
      "value-predicate DELETE must keep the runtime group filter")
    // v = 123.5 is the one row ts = 247: the group filter ran and kept
    // only its segment (a declared metric that no filter reached reads 0)
    assert(del(SegmentsRuntimeKept) == 1,
      s"runtime filter should keep 1 segment, kept ${del(SegmentsRuntimeKept)}")
    assert(del(SegmentsKept) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.c.ev")
      .collect()(0).getLong(0) == 7999L)
  }

  test("COW static selection: multi-column index exactness rules") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.m.ev (a BIGINT, b BIGINT, v DOUBLE)
         |PARTITIONED BY (a, b)
         |TBLPROPERTIES ('page_len' = '1000')""".stripMargin)
    // a in 0..7, b in 0..999: 8 segments of exactly one a-value each
    spark.sql(
      s"""INSERT INTO $cat.m.ev
         |SELECT cast(id / 1000 AS BIGINT), id % 1000, id * 0.5
         |FROM range(0, 8000)""".stripMargin)
    // eq on the leading column + range on the second: the prefix
    // consumes BOTH bounds — fully static, no runtime subquery
    val (_, eqRange) = TestSpark.graftMetrics(
      spark.sql(s"UPDATE $cat.m.ev SET v = -1.0 " +
        s"WHERE a = 3 AND b >= 200 AND b < 300"))
    assert(eqRange(GroupsStatic) == 1,
      "eq-prefix + range condition must select groups statically")
    assert(eqRange(SegmentsKept) == 1,
      s"expected the one a=3 segment, kept ${eqRange(SegmentsKept)}")
    // range on the SECOND column alone cannot prune through the
    // lexicographic prefix: static selection must stand down (scan
    // unbounded) and the runtime group filter stays available
    val (_, second) = TestSpark.graftMetrics(
      spark.sql(s"UPDATE $cat.m.ev SET v = -2.0 WHERE b = 998"))
    assert(second(GroupsStatic) == 0,
      "a second-column-only condition must not claim exactness")
    // range (not eq) on the leading column + bound on the second:
    // the prefix ends at the first range column, so the second
    // column's bound is NOT consumed — static bound applies but
    // exactness must not be claimed
    val (_, below) = TestSpark.graftMetrics(
      spark.sql(s"UPDATE $cat.m.ev SET v = -3.0 " +
        s"WHERE a >= 5 AND a < 7 AND b = 4"))
    assert(below(GroupsStatic) == 0,
      "a bound below the terminated prefix must not claim exactness")
    // <= 3, not 2: segment stops are stretched to the successor's
    // start, so the a=4 segment's window [(4,0),(5,0)) intersects
    // the (5) closed start bound as a degenerate sliver the prune
    // cannot drop without knowing b's domain — a conservative cover
    // that COW handles by rewriting the group unchanged
    assert(below(SegmentsKept) <= 3,
      "the leading-column range must still bound the scan statically")
    // MERGE with a target-only index conjunct in its ON clause: the
    // pushed bound caps the cover but matched groups are decided by
    // the JOIN — exactness must never be claimed, so the runtime
    // group filter stays and prunes to the segments the source
    // actually matches
    val (_, merge) = TestSpark.graftMetrics(spark.sql(
      s"""MERGE INTO $cat.m.ev t USING (
         |  SELECT cast(2 AS BIGINT) AS a, cast(id AS BIGINT) AS b,
         |    -9.0 AS v FROM range(10, 20)) src
         |ON t.a = src.a AND t.b = src.b AND t.a >= 1 AND t.a < 6
         |WHEN MATCHED THEN UPDATE SET v = src.v""".stripMargin))
    assert(merge(GroupsStatic) == 0,
      "MERGE must never claim static exactness")
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.ev WHERE v = -9.0")
      .collect()(0).getLong(0) == 10L)
    // all three updates landed exactly
    val r = spark.sql(
      s"""SELECT
         |  sum(CASE WHEN v = -1.0 THEN 1 ELSE 0 END) u1,
         |  sum(CASE WHEN v = -2.0 THEN 1 ELSE 0 END) u2,
         |  sum(CASE WHEN v = -3.0 THEN 1 ELSE 0 END) u3,
         |  count(*) n
         |FROM $cat.m.ev""".stripMargin).collect()(0)
    assert(r.getLong(0) == 100L, s"a=3,b in [200,300): ${r.getLong(0)}")
    assert(r.getLong(1) == 8L, s"b=998 across 8 a-groups: ${r.getLong(1)}")
    assert(r.getLong(2) == 2L, s"a in [5,7),b=4: ${r.getLong(2)}")
    assert(r.getLong(3) == 8000L)
  }

  test("graft metrics reach Spark's SQL status store (UI, event log)") {
    val (cat, _) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.c.ui (ts BIGINT, v DOUBLE)
         |PARTITIONED BY (ts)
         |TBLPROPERTIES ('page_len' = '1000')""".stripMargin)
    // what the SQL tab shows: per metric label (the metric's
    // description), the aggregated value on each node that carries it
    def shown(r: TestSpark.Recorded[_]): Map[String, Seq[String]] = {
      val store = spark.sharedState.statusStore
      r.ids.flatMap { id =>
        val deadline = System.nanoTime() + 10000000000L
        while (!store.execution(id).exists(_.completionTime.isDefined) &&
            System.nanoTime() < deadline) Thread.sleep(20)
        val values = store.executionMetrics(id)
        store.execution(id).toSeq.flatMap(_.metrics)
          .filter(_.name.startsWith("graft ")).distinctBy(_.accumulatorId)
          .flatMap(m => values.get(m.accumulatorId).map(m.name -> _))
      }.groupMap(_._1)(_._2)
    }
    val insert = TestSpark.record(spark.sql(
      s"INSERT INTO $cat.c.ui SELECT id, id * 0.5 FROM range(0, 8000)"))
    assert(shown(insert)("graft files written") == Seq("8"), shown(insert))
    val read = TestSpark.record(spark.sql(
      s"""SELECT count(*) FROM $cat.c.ui
         |WHERE ts >= 1000 AND ts < 5000 AND v >= 1000""".stripMargin)
      .collect())
    val r = shown(read)
    assert(r("graft segments in manifest") == Seq("8"), r)
    // [1000, 5000) covers 4 segments; v >= 1000 drops [1000, 2000)
    assert(r("graft segments kept") == Seq("3"), r)
    assert(r("graft segments skipped by value stats") == Seq("1"), r)
    val update = TestSpark.record(
      spark.sql(s"UPDATE $cat.c.ui SET v = 0.0 WHERE v = 2100.0"))
    // the copy-on-write scan's nodes, next to its group-filter
    // subquery's scan of the same table
    val u = shown(update)
    assert(u("graft groups chosen statically") == Seq("0"), u)
    assert(u("graft segments kept by runtime filter").contains("1"), u)
  }

  test("page_len property: persisted, honored, alterable") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.pl.s (ts TIMESTAMP, v DOUBLE)
         |PARTITIONED BY (ts)
         |TBLPROPERTIES ('page_len' = '100')""".stripMargin)
    // persisted in the registry: a fresh Repo handle sees it (a
    // long-lived handle caches the registry log by design — refresh()
    // or reopen to observe another writer's DDL)
    def repo = new Repo(root, spark)
    assert(repo.collection("pl").get.pageLen == 100L)
    // honored by the connector write: 1000 rows roll into 10 files
    spark.sql(
      s"""INSERT INTO $cat.pl.s
         |SELECT timestamp_seconds(id * 60), id * 0.5
         |FROM range(0, 1000)""".stripMargin)
    val segs = repo.collection("pl").get.series("s").segments()
      .filter(_.meta.hasData)
    assert(segs.length == 10, s"expected 10 pages, got ${segs.length}")
    assert(segs.forall(_.meta.length <= 100L))
    // DESCRIBE surfaces it
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.pl.s")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // (Spark renders table properties inside one "Table Properties"
    // row; just assert the value made it somewhere in the output)
    assert(props.exists(kv => kv._2 != null &&
      kv._2.contains("page_len")) ||
      props.values.exists(v => v != null && v.contains("100")))
    // ALTER SET re-points future writes; existing files untouched
    spark.sql(
      s"ALTER TABLE $cat.pl.s SET TBLPROPERTIES ('page_len' = '500')")
    assert(repo.collection("pl").get.pageLen == 500L)
    spark.sql(
      s"""INSERT INTO $cat.pl.s
         |SELECT timestamp_seconds(100000 + id * 60), id * 0.5
         |FROM range(0, 1000)""".stripMargin)
    val segs2 = repo.collection("pl").get.series("s").segments()
      .filter(_.meta.hasData)
    assert(segs2.length == 12, s"10 old + 2 new, got ${segs2.length}")
    // UNSET restores the default
    spark.sql(s"ALTER TABLE $cat.pl.s UNSET TBLPROPERTIES ('page_len')")
    assert(repo.collection("pl").get.pageLen == 500000L)
    // a second CREATE in the same collection with a CONFLICTING
    // page_len is refused (one collection, one page length)
    val err = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.pl.s2 (ts TIMESTAMP, v DOUBLE)
           |PARTITIONED BY (ts)
           |TBLPROPERTIES ('page_len' = '7')""".stripMargin)
    }
    assert(err.getMessage.contains("page_len") ||
      err.getMessage.contains("pageLen"), err.getMessage)
    // invalid values are refused
    val bad = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.plbad.s (ts TIMESTAMP, v DOUBLE)
           |PARTITIONED BY (ts)
           |TBLPROPERTIES ('page_len' = '0')""".stripMargin)
    }
    assert(bad.getMessage.contains("positive"), bad.getMessage)
  }

  test("DROP COLUMN refuses while manifest-inline rows exist") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.ic.s (ts TIMESTAMP, a DOUBLE, b DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    // tiny write via the Series API -> manifest-INLINE row
    // (positional [ts, a, b]; the SQL door always writes files)
    val repo0 = new Repo(root, spark)
    val sp = spark
    import sp.implicits._
    repo0.collection("ic").get.series("s").write(
      Seq(("2024-01-01 00:00:00", 1.0, 2.0)).toDF("ts", "a", "b")
        .selectExpr("cast(ts as timestamp) ts", "a", "b"))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ic.s DROP COLUMN a")
    }
    assert(e.getMessage.contains("inline"), e.getMessage)
    // reads still correct (nothing half-applied)
    assert(spark.sql(s"SELECT b FROM $cat.ic.s").collect()(0)
      .getDouble(0) == 2.0)
    // an ADDed (default-backed) column was never in the vectors:
    // dropping IT is fine even with inline rows present
    spark.sql(
      s"ALTER TABLE $cat.ic.s ADD COLUMN c DOUBLE DEFAULT 9.0")
    spark.sql(s"ALTER TABLE $cat.ic.s DROP COLUMN c")
    // defrag with embedding off rewrites inline rows to FILES;
    // squash retires the inline-bearing history; then the drop works
    val repo = new Repo(root, spark)
    val clct = repo.collection("ic").get
    clct.embedMaxSize = 0L
    clct.defrag(maxChunk = 0)
    clct.squash()
    spark.sql(s"ALTER TABLE $cat.ic.s DROP COLUMN a")
    assert(spark.sql(s"SELECT b FROM $cat.ic.s").collect()(0)
      .getDouble(0) == 2.0)
  }

  test("VERSION AS OF refuses a revision a same-ms successor shadows") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.vs.s (ts TIMESTAMP, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.vs.s VALUES
         |(TIMESTAMP '2024-01-01 00:00:00', 1.0)""".stripMargin)
    val repo = new Repo(root, spark)
    val clog = repo.collection("vs").get.changelog
    val r = clog.leaf().get
    // handcraft a successor revision in the SAME millisecond (the
    // snapshot clock cannot order them)
    val payload = "{}".getBytes("UTF-8")
    val child2 = s"${r.epochHex}-${graft.core.Hash.sha1(payload)}"
    repo.store.write(s"${clog.dir}/${r.child}.$child2", payload)
    clog.refresh()
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM $cat.vs.s VERSION AS OF '${r.child}'").collect()
    }
    assert(e.getMessage.contains("millisecond"), e.getMessage)
  }

  test("VERSION AS OF same-ms guard sees fork siblings, exempts " +
      "ancestors") {
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.vf.s (ts TIMESTAMP, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.vf.s VALUES
         |(TIMESTAMP '2024-01-01 00:00:00', 1.0)""".stripMargin)
    Thread.sleep(3) // r2 lands in a LATER ms than r1
    spark.sql(
      s"""INSERT INTO $cat.vf.s VALUES
         |(TIMESTAMP '2024-01-02 00:00:00', 2.0)""".stripMargin)
    val repo = new Repo(root, spark)
    val clog = repo.collection("vf").get.changelog
    val r2 = clog.leaf().get
    // handcraft a SIBLING of r2 (same parent, same millisecond) on a
    // fork branch — DFS linearization may order it before r2, which
    // the old drop(i+1) scan missed
    val pB = "{ }".getBytes("UTF-8")
    val sib = s"${r2.epochHex}-${graft.core.Hash.sha1(pB)}"
    assert(sib != r2.child)
    repo.store.write(s"${clog.dir}/${r2.parent}.$sib", pB)
    clog.refresh()
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM $cat.vf.s VERSION AS OF '${r2.child}'")
        .collect()
    }
    assert(e.getMessage.contains("millisecond"), e.getMessage)
    // ancestors are exempt: a same-ms PARENT cannot shadow its own
    // child's snapshot. Fresh table (no fork sibling lurking in the
    // log): handcraft a child of the leaf in the leaf's millisecond
    // and resolve the CHILD — the guard must not fire (whatever else
    // the placeholder payload does downstream).
    spark.sql(
      s"""CREATE TABLE $cat.vf2.s (ts TIMESTAMP, v DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.vf2.s VALUES
         |(TIMESTAMP '2024-01-01 00:00:00', 1.0)""".stripMargin)
    val repo2 = new Repo(root, spark) // fresh handle sees vf2's DDL
    val clog2 = repo2.collection("vf2").get.changelog
    val ra = clog2.leaf().get
    val pC = "{}".getBytes("UTF-8")
    val c2 = s"${ra.epochHex}-${graft.core.Hash.sha1(pC)}"
    repo2.store.write(s"${clog2.dir}/${ra.child}.$c2", pC)
    clog2.refresh()
    scala.util.Try(spark.sql(
      s"SELECT * FROM $cat.vf2.s VERSION AS OF '$c2'").collect()) match {
      case scala.util.Failure(ex) =>
        assert(ex.getMessage == null ||
          !ex.getMessage.contains("millisecond"), ex.getMessage)
      case _ => ()
    }
  }

  test("mixed ALTER (page_len + failing column change) applies " +
      "nothing") {
    import org.apache.spark.sql.connector.catalog.{
      Identifier, TableCatalog, TableChange}
    val (cat, root) = newCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.mx.s (ts TIMESTAMP, a DOUBLE, b DOUBLE)
         |PARTITIONED BY (ts)""".stripMargin)
    // tiny Series-API write -> manifest-INLINE row, so DROP COLUMN a
    // is refused (positional layout would shift)
    val repo0 = new Repo(root, spark)
    val sp = spark
    import sp.implicits._
    repo0.collection("mx").get.series("s").write(
      Seq(("2024-01-01 00:00:00", 1.0, 2.0)).toDF("ts", "a", "b")
        .selectExpr("cast(ts as timestamp) ts", "a", "b"))
    // one alterTable call carrying BOTH a property change and the
    // doomed column change (SQL issues them separately, but the
    // TableCatalog API batches; the catalog must stay atomic)
    val catImpl = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[TableCatalog]
    intercept[Exception] {
      catImpl.alterTable(Identifier.of(Array("mx"), "s"),
        TableChange.setProperty("page_len", "123"),
        TableChange.deleteColumn(Array("a"), false))
    }
    // neither half applied: page_len still default, column intact
    val repo = new Repo(root, spark)
    val c = repo.collection("mx").get
    assert(c.pageLen != 123L, s"page_len leaked: ${c.pageLen}")
    assert(c.schema.cols.exists(_.name == "a"))
    assert(spark.sql(s"SELECT a FROM $cat.mx.s").collect()(0)
      .getDouble(0) == 1.0)
  }
}
