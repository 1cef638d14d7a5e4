package graft.perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.api.Repo
import graft.core.{Closed, GSchema}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Last-write-wins model of one series on the id grid
  * `ts = T0 + id * Step`: disjoint id runs whose value is
  * `a * sin(id) + c`. Writes, deletes and SQL updates map onto it. */
final class SeriesModel {
  import TsIngest.{Step, T0}
  import SeriesModel.Run
  private val runs = new java.util.TreeMap[java.lang.Long, Run]()
  var end = 0L // one past the highest id ever written

  private def runsIn(lo: Long, hi: Long): Seq[(Long, Run)] = {
    val from = Option(runs.floorKey(lo)).map(_.longValue).getOrElse(lo)
    runs.subMap(from, true, hi, true).asScala.toSeq
      .map { case (k, r) => (k.longValue, r) }.filter(_._2.last >= lo)
  }

  /** drop ids lo..hi, returning the runs that were cut (clipped) */
  private def cut(lo: Long, hi: Long): Seq[(Long, Run)] =
    runsIn(lo, hi).map { case (k, r) =>
      runs.remove(k)
      if (k < lo) runs.put(k, r.copy(last = lo - 1))
      if (r.last > hi) runs.put(hi + 1, r)
      (math.max(k, lo), r.copy(last = math.min(r.last, hi)))
    }

  def write(lo: Long, hi: Long, a: Double, c: Double): Unit = {
    cut(lo, hi)
    runs.put(lo, Run(hi, a, c))
    end = math.max(end, hi + 1)
  }

  def delete(lo: Long, hi: Long): Unit = cut(lo, hi)

  /** value -> 1 - value on the live ids of lo..hi; rows touched */
  def flip(lo: Long, hi: Long): Long =
    cut(lo, hi).map { case (k, r) =>
      runs.put(k, Run(r.last, -r.a, 1 - r.c))
      r.last - k + 1
    }.sum

  private def agg(k: Long, r: Run): Agg = Agg.grid(k, r.last, T0, Step,
    r.a * Agg.sinSum(k, r.last) + r.c * (r.last - k + 1))

  def agg(lo: Long, hi: Long): Agg =
    runsIn(lo, hi).map { case (k, r) =>
      agg(math.max(k, lo), r.copy(last = math.min(r.last, hi)))
    }.foldLeft(Agg.empty)(_ + _)

  def rows: Long = runs.asScala.map { case (k, r) => r.last - k + 1 }.sum

  /** the last n live rows */
  def tail(n: Long): Agg = {
    var left = n
    var acc = Agg.empty
    val it = runs.descendingMap().asScala.iterator
    while (left > 0 && it.hasNext) {
      val (k, r) = it.next()
      val from = math.max(k.longValue, r.last - left + 1)
      acc = acc + agg(from, r)
      left -= r.last - from + 1
    }
    acc
  }
}

object SeriesModel {
  private final case class Run(last: Long, a: Double, c: Double)
}

/** Write-heavy mix over four series of one collection: appends past the
  * end (small ones take the manifest-embed and single-file tiers, bulk
  * ones the Spark write), overlay writes, SQL UPDATE / DELETE / MERGE
  * INTO through GraftCatalog, and a read of the revision each write just
  * committed; every round (23 ops) ends with defrag, trim and gc. Every
  * read and, at the end, every series is checked against
  * [[SeriesModel]]. */
final class TsIngest(spark: SparkSession, root: String, seed: Long,
    tracer: Tracer) extends Workload {
  import TsIngest._

  def roundS: Double = 12.0

  private val schema = GSchema("ts" -> "timestamp*", "value" -> "float")
  private val walk = new StoreWalk(Paths.get(root))
  private var userBytes = 0L
  private var lastKind = ""

  /** One repo, catalog and model set; set-up warms a throwaway one. */
  private final class Target(dir: String, catalog: String, r: Random) {
    spark.conf.set(s"spark.sql.catalog.$catalog",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.path", dir)
    val repo = Repo(dir, spark)
    repo.createCollection(schema, Coll)
    private val reader = new ApiReader(repo, tracer)
    val models = Labels.map(_ => new SeriesModel)
    val bulkLog = scala.collection.mutable.ArrayBuffer.empty[Long]

    private def frame(lo: Long, hi: Long, c: Int) =
      spark.range(lo, hi + 1, 1, 4).select(
        timestamp_seconds(lit(T0) + col("id") * Step).as("ts"),
        (sin(col("id").cast("double")) + c).as("value"))

    private def write(k: Int, lo: Long, hi: Long, c: Int,
        presorted: Boolean, local: Boolean): Unit = {
      val s = tracer.span("api.registry")(reader.series(Coll, Labels(k))._2)
      val df =
        if (!local) frame(lo, hi, c)
        else spark.createDataFrame((lo to hi).map(id => Row(
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(T0 + id * Step)),
          math.sin(id.toDouble) + c)).asJava, s.emptyDf.schema)
      tracer.span("write")(s.write(df, presorted = presorted))
      tracer.count("write.rows", (hi - lo + 1).toDouble)
      models(k).write(lo, hi, 1.0, c)
      userBytes += (hi - lo + 1) * RowBytes
    }

    def seedAll(rows: Long): Unit = Labels.indices.foreach(k =>
      write(k, 0, rows - 1, k, presorted = true, local = false))

    /** a window of 1k..50k ids (by the quantile q) inside the written
      * range */
    private def window(k: Int, q: Double): (Long, Long) = {
      val len = 1000L + (q * 49000).toLong
      val end = models(k).end
      val lo = (r.nextDouble() * math.max(1L, end - len)).toLong
      (lo, math.min(end - 1, lo + len - 1))
    }

    /** small: 20..2000 rows; bulk: bulkRows..2 * bulkRows rows */
    def append(k: Int, small: Boolean, presorted: Boolean, q: Double,
        bulkRows: Int = 250000): (String, Int, () => Unit) = {
      val n =
        if (small) 20 + (q * 1980).toInt else bulkRows + (q * bulkRows).toInt
      val c = r.nextInt(10)
      (if (small) "append" else "bulk", k, () => {
        val lo = models(k).end
        write(k, lo, lo + n - 1, c, presorted, local = small)
        if (!small) bulkLog += n
      })
    }

    def overlay(k: Int, q: Double): (String, Int, () => Unit) = {
      val c = 10 + r.nextInt(10)
      (("overlay", k, () => {
        val (lo, hi) = window(k, q)
        write(k, lo, hi, c, presorted = true, local = false)
      }))
    }

    private def sql(q: String): Unit = tracer.span("dml")(spark.sql(q))
    private def ts(id: Long) = s"timestamp_seconds(${T0 + id * Step})"

    def dml(k: Int, kind: String, q: Double): (String, Int, () => Unit) = {
      val c = 20 + r.nextInt(10)
      val table = s"$catalog.$Coll.${Labels(k)}"
      ((kind, k, () => {
        val (lo, hi) = window(k, q)
        val where = s"ts >= ${ts(lo)} AND ts <= ${ts(hi)}"
        kind match {
          case "update" =>
            sql(s"UPDATE $table SET value = 1 - value WHERE $where")
            userBytes += models(k).flip(lo, hi) * RowBytes
          case "delete" =>
            sql(s"DELETE FROM $table WHERE $where")
            models(k).delete(lo, hi)
          case "merge" =>
            sql(s"""MERGE INTO $table t USING (
                   |  SELECT timestamp_seconds($T0 + id * $Step) AS ts,
                   |    sin(CAST(id AS DOUBLE)) + $c AS value
                   |  FROM range($lo, ${hi + 1})) s ON t.ts = s.ts
                   |WHEN MATCHED THEN UPDATE SET value = s.value
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            models(k).write(lo, hi, 1.0, c)
            userBytes += (hi - lo + 1) * RowBytes
        }
      }))
    }

    /** a read of series k's newest revision, checked against the model */
    def read(k: Int, tail: Boolean, q: Double): Op = {
      val label = Labels(k)
      val m = models(k)
      if (tail) {
        val n = 10 + r.nextInt(990)
        Op("tail") {
          val s = tracer.span("api.registry")(reader.series(Coll, label)._2)
          val df = tracer.span("api.plan")(s.tail(n))
          val rows = tracer.span("exec")(df.collect())
          val want = m.tail(n)
          () => want.check(Agg.rows(rows.toSeq), s"tail $label")
        }
      } else {
        val posPick = r.nextDouble()
        val cl = Seq(Closed.Both, Closed.Left, Closed.Right, Closed.None_)(
          r.nextInt(4))
        Op("range") {
          val len = (1000 + q * 199000).toLong
          val lo = (posPick * math.max(1L, m.end - len)).toLong
          val hi = lo + len
          val got = reader.read(Coll, T0 + lo * Step, T0 + hi * Step, cl,
            None, label)(Agg.of)
          val want = (m.agg _).tupled(Agg.ids(lo, hi, cl))
          () => want.check(Agg.read(got), s"range $label")
        }
      }
    }

    def maint(): Op = Op("maint") {
      val c = tracer.span("api.registry")(repo.collection(Coll).get)
      tracer.span("maint.defrag")(c.defrag())
      tracer.span("maint.trim")(c.trim(System.currentTimeMillis()))
      tracer.span("maint.gc")(repo.gc(timeoutMs = 0L))
      () => None
    }

    private def withReads(writes: Seq[(String, Int, () => Unit)],
        tails: Seq[Boolean]): Seq[Op] = {
      val qs = Runner.strata(r, writes.size).iterator
      writes.zip(tails).flatMap { case ((kind, k, body), tail) =>
        Seq(Op(kind) { body(); () => None }, read(k, tail, qs.next()))
      } :+ maint()
    }

    /** 11 writes (5 small appends, a presorted and an auto-sorted bulk
      * append, an overlay, UPDATE, DELETE, MERGE), each followed by a
      * read of the revision it committed (3 of them `tail`), then
      * maintenance: 23 ops. Each write slot targets a fixed series, so
      * every seed grows the same segment layout (bulk appends land on
      * s0 and s1, where MERGE and UPDATE then rewrite large segments);
      * the seed moves sizes, windows and order. */
    def round(i: Int): Seq[Op] = {
      val bq = Runner.strata(r, 2)
      val dq = Runner.strata(r, 3)
      withReads(r.shuffle(
        Runner.strata(r, 5).zipWithIndex.map { case (q, j) =>
          append(j % Labels.size, small = true, presorted = false, q) } ++
          Seq(append(0, small = false, presorted = true, bq(0)),
            append(1, small = false, presorted = false, bq(1)),
            overlay(2, 0.5), dml(1, "update", dq(0)),
            dml(3, "delete", dq(1)), dml(0, "merge", dq(2)))),
        r.shuffle(Seq.tabulate(11)(_ < 3)))
    }

    /** set-up's warm-up: one write of each kind (smaller bulk appends)
      * and both read kinds */
    def warmUp(): Seq[Op] = withReads(Seq(
      append(0, small = true, presorted = false, 0.5),
      append(0, small = false, presorted = true, 0.0, bulkRows = 50000),
      append(1, small = false, presorted = false, 0.0, bulkRows = 50000),
      overlay(2, 0.5), dml(1, "update", 0.5), dml(3, "delete", 0.5),
      dml(0, "merge", 0.5)), Seq.tabulate(7)(_ < 2))

    /** every series, read whole, against its model */
    def verify(): Seq[String] = Labels.indices.flatMap { k =>
      val s = reader.series(Coll, Labels(k))._2
      models(k).agg(0, models(k).end)
        .check(Agg.read(Agg.of(s.frame()).collect().head),
          s"final ${Labels(k)}")
    }
  }

  private var target: Target = _

  def setup(): Unit = {
    val warm = new Target(Paths.get(root).resolveSibling("warm").toString,
      "gwarm", new Random(~seed))
    warm.seedAll(WarmRows)
    warm.warmUp().foreach(op => op.call()())
    Main.note("ts_ingest warm-up done")
    target = new Target(root, "g", new Random(seed))
    target.seedAll(BaseRows)
    walk.walk()
    // write_amp counts the timed phase only
    walk.filesCreated = 0
    walk.bytesCreated = 0
    userBytes = 0
  }

  def round(i: Int): Seq[Op] = target.round(i).map { op =>
    new Op(op.kind, () => { lastKind = op.kind; op.call() })
  }

  override def afterOp(t: Tracer): Unit = {
    val d = walk.walk()
    t.count("store.files_created", d.filesCreated.toDouble)
    t.count("store.mb_created", d.bytesCreated / 1e6)
    if (lastKind == "maint") {
      t.count("maint.mb_rewritten", d.bytesCreated / 1e6)
      t.count("maint.files_removed", d.filesRemoved.toDouble)
    }
  }

  private var liveBytes = 0L

  override def finish(): Seq[String] = {
    val c = target.repo.collection(Coll).get
    c.trim(System.currentTimeMillis())
    target.repo.gc(timeoutMs = 0L)
    walk.walk()
    liveBytes = walk.liveBytes
    tracer.put("store.files_live", walk.liveFiles.toDouble)
    tracer.put("store.mb_live", liveBytes / 1e6)
    target.verify()
  }

  def figures(r: Runner.Result): Seq[(String, Double, String)] = {
    val u = r.untraced.filter(_.error.isEmpty)
    def med(k: String*) = Runner.median(u.filter(s => k.contains(s.kind))
      .map(_.ms))
    // bulk ops pair up with the rows they wrote, in order
    val bulk = r.samples.filter(_.kind == "bulk").zip(target.bulkLog)
      .filter { case (s, _) => !s.traced && s.error.isEmpty }
    val liveRows = target.models.map(_.rows).sum
    Seq(("range_ms", med("range"), "ms"),
      ("append_ms", med("append"), "ms"),
      ("ingest_rows_per_s", bulk.map(_._2).sum / (bulk.map(_._1.ms).sum / 1e3),
        "rows/s"),
      ("dml_ms", med("update", "delete", "merge"), "ms"),
      ("maint_s", u.filter(_.kind == "maint").map(_.ms).sum / 1e3, "s"),
      ("write_amp", walk.bytesCreated.toDouble / userBytes, "ratio"),
      ("space_amp", liveBytes.toDouble / (liveRows * RowBytes), "ratio"))
  }
}

object TsIngest {
  val T0 = 1700000000L
  val Step = 60L
  val Coll = "ing"
  val Labels = Seq("s0", "s1", "s2", "s3")
  val BaseRows = 100000L
  val WarmRows = 20000L
  /** user bytes per row: an 8-byte timestamp and an 8-byte float */
  val RowBytes = 16L
}
