package graft.perfbench

import scala.util.Random

import graft.api.{Collection, Repo, Series}
import graft.core.{Closed, GSchema, Manifest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What the benchmark checks a read against: row count, value sum, the
  * sum of the timestamps in epoch seconds (a key fingerprint) and the
  * first and last key. */
final case class Agg(count: Long, sum: Double, secs: Long,
    first: Long, last: Long) {
  def check(got: Agg, what: String): Option[String] =
    Op.expect((s"$what count", got.count, count),
      (s"$what key sum", got.secs, secs),
      (s"$what first", got.first, first),
      (s"$what last", got.last, last))
      .orElse(Op.near(s"$what value sum", got.sum, sum,
        1e-6 + 1e-8 * count))

  def +(o: Agg): Agg =
    if (count == 0) o
    else if (o.count == 0) this
    else Agg(count + o.count, sum + o.sum, secs + o.secs,
      math.min(first, o.first), math.max(last, o.last))
}

object Agg {
  val cols = Seq(count(lit(1)), coalesce(sum(col("value")), lit(0.0)),
    coalesce(sum(unix_seconds(col("ts"))), lit(0L)),
    coalesce(min(unix_seconds(col("ts"))), lit(-1L)),
    coalesce(max(unix_seconds(col("ts"))), lit(-1L)))

  def of(df: DataFrame): DataFrame = df.agg(cols.head, cols.tail: _*)

  def empty: Agg = Agg(0, 0.0, 0, -1, -1)

  /** the aggregate of collected (ts, value) rows */
  def rows(rs: Seq[Row]): Agg = rs.map { r =>
    val t = r.getTimestamp(0).toInstant.getEpochSecond
    Agg(1, r.getDouble(1), t, t, t)
  }.foldLeft(empty)(_ + _)

  def read(r: Row): Agg = Agg(r.getLong(0), r.getDouble(1), r.getLong(2),
    r.getLong(3), r.getLong(4))

  /** Rows with ids lo..hi on a grid `ts = t0 + id * step`. */
  def grid(lo: Long, hi: Long, t0: Long, step: Long, vsum: Double): Agg =
    if (hi < lo) empty
    else {
      val n = hi - lo + 1
      Agg(n, vsum, t0 * n + step * ((lo + hi) * n / 2), t0 + lo * step,
        t0 + hi * step)
    }

  /** sum of sin(k) for k in a..b, closed form */
  def sinSum(a: Long, b: Long): Double =
    if (b < a) 0.0
    else math.sin((a + b) / 2.0) * math.sin((b - a + 1) / 2.0) /
      math.sin(0.5)

  /** Ids a window selects, given its grid-point bounds and Closed. */
  def ids(lo: Long, hi: Long, closed: Closed): (Long, Long) =
    (if (closed.left) lo else lo + 1, if (closed.right) hi else hi - 1)
}

/** An API interval read. Untraced, it is the user's call:
  * `Repo.collection`, then `Series.frame` with no snapshot (which takes
  * the chunk-pruned path) and the body. Traced, the same read is split
  * into its layers, each call in its layer's span: registry ->
  * manifest (`Collection.manifest`) -> prune (`Series.segments` over
  * that manifest) -> plan (`Series.frame` from that manifest, which
  * prunes it again in memory) -> exec. The split costs the traced
  * rounds a second in-memory prune; `trace.overhead_frac` includes it.
  * The manifest span counts calls on a revision this process has not
  * read before. */
final class ApiReader(repo: Repo, tr: Tracer) {
  private val seenRevs = scala.collection.mutable.Set.empty[String]

  def series(collection: String, label: String): (Collection, Series) = {
    val c = repo.collection(collection).get
    (c, c.series(label))
  }

  def read(collection: String, lo: Any, hi: Any, cl: Closed,
      before: Option[Long], label: String = "_")(
      body: DataFrame => DataFrame): Row = {
    val (c, s) = tr.span("api.registry")(series(collection, label))
    val df =
      if (!tr.tracing) body(s.frame(lo, hi, before, cl))
      else {
        tr.count("manifest.calls")
        if (c.changelog.leaf(before).exists(r => seenRevs.add(r.child)))
          tr.count("manifest.fresh")
        val m: Option[Manifest] = tr.span("api.manifest")(c.manifest(before))
        val segs = tr.span("api.prune")(s.segments(lo, hi, before, cl, m))
        tr.count("prune.examined",
          m.map(_.rows.count(_.label == label)).getOrElse(0).toDouble)
        tr.count("prune.returned", segs.size.toDouble)
        tr.span("api.plan")(body(s.frame(lo, hi, before, cl, from = m)))
      }
    tr.span("exec")(df.collect()).head
  }
}

/** Read-only mix over two fixtures at stable revisions: the warm-cache
  * regime. `pg` is the BASELINE bench_pg shape (5,259,457 presorted
  * rows, ts every 300 s from 1970, value = sin(id)) plus three overlay
  * revisions; `frag` is a series of 60 small appends. */
final class TsRead(spark: SparkSession, root: String, seed: Long,
    tracer: Tracer) extends Workload {
  import TsRead._

  def roundS: Double = 5.0

  private val repo = Repo(root, spark)
  private val schema = GSchema("ts" -> "timestamp*", "value" -> "float")
  private val rnd = new Random(seed)

  // overlay j (1-based) adds j to the value over ids a_j..b_j; the
  // three windows are seeded and may overlap (last write wins)
  private val overlays: Seq[(Long, Long)] = (1 to 3).map { _ =>
    val len = 20000L + rnd.nextInt(180000)
    val a = (rnd.nextDouble() * (N - len)).toLong
    (a, a + len - 1)
  }
  /** cuts(k) lies after revision k (0 = base) and before k + 1 */
  private val cuts = Array.fill(overlays.size)(0L)
  private var fragRows = 0L

  private val reader = new ApiReader(repo, tracer)
  private def pg = reader.series("pg", "_")

  private def cutNow(): Long = {
    Thread.sleep(3)
    val t = System.currentTimeMillis()
    Thread.sleep(3)
    t
  }

  def setup(): Unit = {
    val base = repo.createCollection(schema, "pg").series("_")
    base.write(spark.range(0, N, 1, 4).select(
      timestamp_seconds(col("id") * Step).as("ts"),
      sin(col("id").cast("double")).as("value")), presorted = true)
    overlays.zipWithIndex.foreach { case ((a, b), k) =>
      cuts(k) = cutNow()
      base.write(spark.range(a, b + 1, 1, 1).select(
        timestamp_seconds(col("id") * Step).as("ts"),
        (sin(col("id").cast("double")) + (k + 1)).as("value")),
        presorted = true)
    }
    Main.note("ts_read pg written")
    val frag = repo.createCollection(schema, "frag").series("_")
    val fragSchema = frag.emptyDf.schema
    val frnd = new Random(seed ^ 0x5eed)
    (0 until FragWrites).foreach { _ =>
      val n = 20 + frnd.nextInt(380)
      val rows = (fragRows until fragRows + n).map(id =>
        Row(java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(FragT0 + id * FragStep)),
          id * 0.25))
      frag.write(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fragSchema))
      fragRows += n
    }
    Main.note("ts_read frag written")
    // JIT/codegen warm-up: one op of each kind, drawn from another stream
    new Ops(new Random(~seed)).kinds.foreach(op => op.call()())
    walk.walk()
    Main.note("ts_read warm-up done")
  }

  /** expected aggregate of pg ids lo..hi as of revision `rev` */
  private def pgModel(lo: Long, hi: Long, rev: Int): Agg = {
    val live = overlays.take(rev).zipWithIndex
    val cutsAt = (Seq(lo, hi + 1) ++ live.flatMap { case ((a, b), _) =>
      Seq(a, b + 1) }).filter(x => x >= lo && x <= hi + 1).distinct.sorted
    val extra = cutsAt.sliding(2).collect { case Seq(p, q) if q > p =>
      val top = live.collect { case ((a, b), j) if a <= p && q - 1 <= b =>
        j + 1 }
      top.maxOption.getOrElse(0) * (q - p).toDouble
    }.sum
    Agg.grid(lo, hi, 0L, Step, Agg.sinSum(lo, hi) + extra)
  }

  private def fragModel(lo: Long, hi: Long): Agg = {
    val (a, b) = (math.max(lo, 0L), math.min(hi, fragRows - 1))
    Agg.grid(a, b, FragT0, FragStep,
      if (b < a) 0.0 else 0.25 * (a + b) * (b - a + 1) / 2.0)
  }

  private val closedAll = Seq(Closed.Both, Closed.Left, Closed.Right,
    Closed.None_)

  /** The op generators; `r` drives every parameter. */
  private final class Ops(r: Random) {
    /** a window of 1000..maxLen ids, log-uniform by the quantile q */
    private def window(maxLen: Long, n: Long, q: Double): (Long, Long) = {
      val len = math.exp(math.log(1000) +
        q * (math.log(maxLen.toDouble) - math.log(1000))).toLong
      val lo = (r.nextDouble() * (n - len)).toLong
      (lo, lo + len)
    }
    private def closed() = closedAll(r.nextInt(closedAll.size))

    def range(q: Double): Op = {
      val (lo, hi) = window(1000000L, N, q)
      val cl = closed()
      Op("range") {
        val got = reader.read("pg", lo * Step, hi * Step, cl, None)(
          Agg.of)
        () => {
          val (a, b) = Agg.ids(lo, hi, cl)
          pgModel(a, b, overlays.size).check(Agg.read(got), "range")
        }
      }
    }

    def rangeFrag(): Op = {
      val (lo, hi) = window(10000L, fragRows, 0.5)
      val cl = closed()
      Op("frag") {
        val got = reader.read("frag", FragT0 + lo * FragStep,
          FragT0 + hi * FragStep, cl, None)(Agg.of)
        () => {
          val (a, b) = Agg.ids(lo, hi, cl)
          fragModel(a, b).check(Agg.read(got), "frag range")
        }
      }
    }

    def timetravel(q: Double): Op = {
      val (lo, hi) = window(1000000L, N, q)
      val cl = closed()
      val rev = r.nextInt(overlays.size)
      Op("timetravel") {
        val got = reader.read("pg", lo * Step, hi * Step, cl,
          Some(cuts(rev)))(Agg.of)
        () => {
          val (a, b) = Agg.ids(lo, hi, cl)
          pgModel(a, b, rev).check(Agg.read(got), s"rev $rev")
        }
      }
    }

    def dsv2(q: Double): Op = {
      val (lo, hi) = window(1000000L, N, q)
      val cl = closed()
      Op("dsv2") {
        val df = tracer.span("api.plan") {
          val t = col("ts")
          val (l, h) = (timestamp_seconds(lit(lo * Step)),
            timestamp_seconds(lit(hi * Step)))
          Agg.of(spark.read.format("graft").option("path", root)
            .option("collection", "pg").option("series", "_").load()
            .where((if (cl.left) t >= l else t > l) &&
              (if (cl.right) t <= h else t < h)))
        }
        val got = tracer.span("exec")(df.collect()).head
        () => {
          val (a, b) = Agg.ids(lo, hi, cl)
          pgModel(a, b, overlays.size).check(Agg.read(got), "dsv2")
        }
      }
    }

    def fullAgg(): Op = Op("full") {
      val got = reader.read("pg", null, null, Closed.Left, None)(Agg.of)
      () => pgModel(0, N - 1, overlays.size).check(Agg.read(got), "full")
    }

    def fragFull(): Op = Op("frag") {
      val got = reader.read("frag", null, null, Closed.Left, None)(
        Agg.of)
      () => fragModel(0, fragRows - 1).check(Agg.read(got), "frag full")
    }

    def tail(): Op = {
      val n = 10 + r.nextInt(990)
      Op("tail") {
        val (_, s) = tracer.span("api.registry")(pg)
        val df = tracer.span("api.plan")(s.tail(n))
        val rows = tracer.span("exec")(df.collect())
        () => {
          val got = Agg.rows(rows.toSeq)
          pgModel(N - n, N - 1, overlays.size).check(got, "tail")
        }
      }
    }

    /** the first page of a paginated scan from a seeded start key; one
      * page per round, so its size is fixed and only its place moves */
    def page(): Op = {
      val step = PageRows
      val lo = (r.nextDouble() * (N - step)).toLong
      Op("page") {
        val (_, s) = tracer.span("api.registry")(pg)
        val df = tracer.span("api.plan")(
          Agg.of(s.paginate(step, start = lo * Step).next()))
        val got = tracer.span("exec")(df.collect()).head
        () => pgModel(lo, lo + step - 1, overlays.size)
          .check(Agg.read(got), "page")
      }
    }

    /** one per round, so its window size is fixed (the middle of the
      * log range) and only its place moves */
    def reduce(): Op = {
      val (lo, hi) = window(500000L, N, 0.5)
      Op("reduce") {
        val got = reader.read("pg", lo * Step, hi * Step, Closed.Both,
            None) { df =>
          graft.engine.Ops.reduce(df, Seq(
            "day" -> "(floor self.ts 'D')",
            "total" -> "(sum self.value)",
            "cnt" -> "(count self.value)"))
            .agg(count(lit(1)), sum(col("total")), sum(col("cnt")))
        }
        () => {
          val want = pgModel(lo, hi, overlays.size)
          val days = hi * Step / 86400 - lo * Step / 86400 + 1
          Op.expect(("reduce groups", got.getLong(0), days),
            ("reduce count", got.getLong(2), want.count))
            .orElse(Op.near("reduce sum", got.getDouble(1), want.sum,
              1e-6 + 1e-8 * want.count))
        }
      }
    }

    def kinds: Seq[Op] = Seq(range(0.5), rangeFrag(), dsv2(0.5), fullAgg(),
      fragFull(), tail(), page(), timetravel(0.5), reduce())

    /** one round: 13 ops, fixed composition, seeded order; the window
      * sizes of each kind are stratified */
    def all: Seq[Op] = r.shuffle(
      Runner.strata(r, 3).map(range) ++ Runner.strata(r, 2).map(dsv2) ++
        Runner.strata(r, 2).map(timetravel) ++
        Seq(rangeFrag(), fullAgg(), fragFull(), tail(), page(), reduce()))
  }

  private val timed = new Ops(rnd)
  def round(i: Int): Seq[Op] = timed.all

  private val walk = new StoreWalk(java.nio.file.Paths.get(root))

  /** read-only: the traced run walks the store to show it */
  override def afterOp(t: Tracer): Unit = if (t.tracing) {
    val d = walk.walk()
    t.count("store.files_created", d.filesCreated.toDouble)
    t.count("store.mb_created", d.bytesCreated / 1e6)
  }

  override def finish(): Seq[String] = {
    walk.walk()
    tracer.put("store.files_live", walk.liveFiles.toDouble)
    tracer.put("store.mb_live", walk.liveBytes / 1e6)
    Nil
  }

  def figures(r: Runner.Result): Seq[(String, Double, String)] = {
    val u = r.untraced.filter(_.error.isEmpty)
    def med(k: String) = Runner.median(u.filter(_.kind == k).map(_.ms))
    val full = u.filter(_.kind == "full").map(_.ms)
    Seq(("range_ms", med("range"), "ms"),
      ("timetravel_ms", med("timetravel"), "ms"),
      ("scan_rows_per_s", N * full.size / (full.sum / 1e3), "rows/s"))
  }
}

object TsRead {
  val N = 5259457L
  val Step = 300L
  val FragWrites = 60
  val PageRows = 150000L
  val FragT0 = 1600000000L
  val FragStep = 60L
}
