package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One process, one client thread, closed
  * loop: each op is issued after the previous one returns.
  *
  *   Main --workload ts_read|ts_ingest|sql_pipeline --seed N
  *        --seconds S --trace 0|1 --work DIR --spans FILE [--ops N]
  *        [--data DIR --pins FILE [--pin-out FILE]]
  *
  * Prints a `{"detail": ...}` line and then the result line
  * `{"correct", "attempted", "failed", "metrics"}`; `--trace 0` reports
  * the end-to-end metrics, `--trace 1` the per-layer ones. `--ops N`
  * runs exactly N ops, all traced (the repeatability check);
  * `--pin-out` records sql_pipeline's results instead of checking them. */
object Main {
  val Workloads = Seq("ts_read", "ts_ingest", "sql_pipeline")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = session(work)
    note("session started")
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val maxOps = a.get("ops").map(_.toInt)
    val tracer = new Tracer(spark)
    val store = work.resolve("store")
    val w: Workload = workload match {
      case "ts_read" => new TsRead(spark, store.toString, seed, tracer)
      case "ts_ingest" => new TsIngest(spark, store.toString, seed, tracer)
      case "sql_pipeline" =>
        new SqlPipeline(spark, Paths.get(a("data")), seed, tracer,
          Paths.get(a("pins")), a.get("pin-out").map(Paths.get(_)))
    }
    w.setup()
    val setupS = sinceStart()

    val res = Runner.run(w, tracer, Runner.rounds(w, seconds), trace,
      maxOps)
    // `failed` counts ops; an end-of-run check that fails (ts_ingest's
    // final model comparison) makes the run incorrect without an op
    val errors = res.samples.flatMap(_.error) ++ w.finish()
    val attempted = res.samples.size

    val untraced = res.untraced.filter(_.error.isEmpty).map(_.ms)
    val (tailMs, tailPct, tailN) = Runner.tail(untraced)
    // the two metrics every workload reports steadily; the rest of the
    // end-to-end figures go to the detail line
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", res.opsPerS, "ops/s"))
    val metrics =
      if (!trace) e2e
      else tracer.summary() :+
        (("trace.overhead_frac", res.overheadFrac, "ratio"))
    val detail = (e2e ++ Seq(("tail_ms", tailMs, "ms"),
      ("rss_peak_mb", rssPeakMb(), "MB")) ++ w.figures(res) ++ Seq(
      ("failed_frac", res.failed.toDouble / math.max(1, attempted),
        "fraction"),
      ("tail_pct", tailPct, "%"), ("tail_samples", tailN.toDouble, "count"),
      ("rounds", res.rounds.toDouble, "count")) ++
      res.untraced.filter(_.error.isEmpty).groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, ss) =>
          (s"op.$k.median_ms", Runner.median(ss.map(_.ms)), "ms") })
    if (trace) tracer.dump(Paths.get(a("spans")))
    println(Json.obj("detail" -> Json.metrics(detail),
      "errors" -> Json.arr(errors.take(20).map(Json.str))))
    println(Json.obj("correct" -> (errors.isEmpty).toString,
      "attempted" -> attempted.toString, "failed" -> res.failed.toString,
      "metrics" -> Json.metrics(metrics)))
    spark.stop()
    sys.exit(if (errors.isEmpty) 0 else 1)
  }

  private def sinceStart(): Double = (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** progress on stderr, stamped with seconds since JVM start */
  def note(msg: String): Unit =
    System.err.println(f"perfbench: ${sinceStart()}%.2f s $msg")

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.g", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.g.path", work.resolve("store").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (VmHWM). */
  private def rssPeakMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) =>
      k -> obj("value" -> num(v), "unit" -> str(u)) }: _*)
}
