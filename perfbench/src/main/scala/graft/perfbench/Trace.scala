package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `op` groups the spans of one benchmark op; `parent`
  * is the enclosing span (0 = none). Times are epoch nanoseconds, so
  * spans taken from Spark's millisecond clocks (jobs, Catalyst phases)
  * sit on the same axis as the benchmark's own. */
final case class Span(op: Int, id: Int, parent: Int, layer: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans and counters for the traced run. The benchmark opens a span
  * around each public call into a layer; a SparkListener and a
  * QueryExecutionListener, registered only while tracing, add one span
  * per Spark job and per Catalyst phase, parented by time containment.
  * Everything is kept in memory and summarised (or dumped) at the end.
  * With tracing off, `span` is a plain call. */
final class Tracer(spark: SparkSession) {
  private var on = false
  def tracing: Boolean = on

  private val baseNs = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNs)

  val spans = ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 0
  private var open: List[Int] = Nil
  private var op = 0
  private var opSpans = ArrayBuffer.empty[Span]
  var tracedOps = 0
  private var gcAtOpStart = 0L

  def count(name: String, v: Double = 1.0): Unit =
    if (on) counters(name) = counters.getOrElse(name, 0.0) + v
  /** set a gauge, traced or not (end-of-run state) */
  def put(name: String, v: Double): Unit = counters(name) = v
  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  def span[A](layer: String)(body: => A): A =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0)
      open ::= id
      val s = now()
      try body
      finally {
        open = open.tail
        opSpans += Span(op, id, parent, layer, s, now())
      }
    }

  // ---- Spark-side events (delivered on the listener bus thread) -----

  private val ext = new ConcurrentLinkedQueue[Tracer.Ext]()
  private val taskSums = new ConcurrentLinkedQueue[(String, Double)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s =>
        ext.add(Tracer.Ext("spark.job", s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      taskSums.add("exec.stages" -> 1.0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      taskSums.add("exec.tasks" -> 1.0)
      val m = e.taskMetrics
      if (m != null) {
        taskSums.add("exec.run_ms" -> m.executorRunTime.toDouble)
        taskSums.add("exec.cpu_ms" -> m.executorCpuTime / 1e6)
        taskSums.add("exec.input_mb" -> m.inputMetrics.bytesRead / 1e6)
        taskSums.add("exec.shuffle_mb" ->
          m.shuffleWriteMetrics.bytesWritten / 1e6)
        taskSums.add("exec.spill_mb" -> m.diskBytesSpilled / 1e6)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      Seq("analysis", "optimization", "planning").foreach { p =>
        qe.tracker.phases.get(p).foreach(s =>
          ext.add(Tracer.Ext(s"catalyst.$p", s.startTimeMs, s.endTimeMs)))
      }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = phases(qe)
  }

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    ext.clear(); taskSums.clear(); jobStart.clear()
    on = false
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Start an op: its root span covers the program calls only. */
  def beginOp(): Unit = if (on) {
    op += 1
    opSpans = ArrayBuffer.empty[Span]
    PerfbenchBus.drain(spark.sparkContext)
    ext.clear(); taskSums.clear()
    gcAtOpStart = gcMs()
  }

  def opSpan[A](body: => A): A = span("op")(body)

  /** Close an op (outside its timed region): wait for Spark's events,
    * place each job and Catalyst phase under the innermost span that
    * contains it, and fold the task sums into the counters. */
  def endOp(): Unit = if (on) {
    PerfbenchBus.drain(spark.sparkContext)
    count("jvm.gc_ms", (gcMs() - gcAtOpStart).toDouble)
    val slack = 1000000L // Spark's clocks tick in ms
    ext.asScala.foreach { e =>
      val s = e.startMs * 1000000L
      val t = math.max(s, e.endMs * 1000000L)
      val host = opSpans
        .filter(p => p.start - slack <= s && t <= p.end + slack)
        .sortBy(_.dur).headOption
      nextId += 1
      opSpans += Span(op, nextId, host.map(_.id).getOrElse(0), e.layer,
        s, t)
    }
    ext.clear()
    taskSums.asScala.foreach { case (k, v) => count(k, v) }
    taskSums.clear()
    spans ++= opSpans
    tracedOps += 1
  }

  // ---- summary -------------------------------------------------------

  private def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer figures over the traced ops as (name, value, unit):
    * times and counts per op, ratios as ratios, store.*_live as the
    * end state. Self time = duration minus the union of its children's
    * intervals. */
  def summary(): Seq[(String, Double, String)] = {
    val n = math.max(1, tracedOps).toDouble
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def self(s: Span): Long = s.dur - unionLen(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(c => c._2 > c._1).toSeq)
    def ms(ns: Double): Double = ns / 1e6 / n
    def of(layer: String) = spans.filter(_.layer == layer)
    def selfMs(layer: String) = ms(of(layer).map(self).sum.toDouble)
    def under(s: Span, layer: String): Boolean = {
      var p = byId.get(s.parent)
      while (p.isDefined && p.get.layer != layer) p = byId.get(p.get.parent)
      p.isDefined
    }
    val jobs = of("spark.job")
    def jobMsUnder(layer: String) =
      ms(unionLen(jobs.filter(under(_, layer)).map(j => (j.start, j.end))
        .toSeq).toDouble)
    def durMs(layer: String) = ms(of(layer).map(_.dur).sum.toDouble)
    val opWall = of("op").map(_.dur).sum.toDouble
    val jobUnion = unionLen(jobs.map(j => (j.start, j.end)).toSeq).toDouble
    val catalyst = Seq("analysis", "optimization", "planning")
    val dmlPlan = catalyst.map(p =>
      of(s"catalyst.$p").filter(under(_, "dml")).map(_.dur).sum).sum
    val writeMs = durMs("write")
    val writeJobMs = jobMsUnder("write")
    def ratio(a: String, b: String) =
      if (counter(b) > 0) counter(a) / counter(b) else 0.0
    Seq(
      ("api.registry.ms", selfMs("api.registry"), "ms"),
      ("api.registry.calls", of("api.registry").size / n, "count"),
      ("api.manifest.ms", selfMs("api.manifest"), "ms"),
      ("api.manifest.fresh_frac", ratio("manifest.fresh", "manifest.calls"),
        "ratio"),
      ("api.prune.ms", selfMs("api.prune"), "ms"),
      ("api.prune.examined_per_returned",
        ratio("prune.examined", "prune.returned"), "ratio"),
      ("api.plan.ms", selfMs("api.plan"), "ms"),
      ("catalyst.analysis_ms", durMs("catalyst.analysis"), "ms"),
      ("catalyst.optimization_ms", durMs("catalyst.optimization"), "ms"),
      ("catalyst.planning_ms", durMs("catalyst.planning"), "ms"),
      ("exec.jobs", jobs.size / n, "count"),
      ("exec.stages", counter("exec.stages") / n, "count"),
      ("exec.tasks", counter("exec.tasks") / n, "count"),
      ("exec.job_ms", ms(jobUnion), "ms"),
      ("exec.run_ms", counter("exec.run_ms") / n, "ms"),
      ("exec.cpu_ms", counter("exec.cpu_ms") / n, "ms"),
      ("exec.input_mb", counter("exec.input_mb") / n, "MB"),
      ("exec.shuffle_mb", counter("exec.shuffle_mb") / n, "MB"),
      ("exec.spill_mb", counter("exec.spill_mb") / n, "MB"),
      ("exec.driver_gap_ms", ms(opWall - jobUnion), "ms"),
      ("write.ms", writeMs, "ms"),
      ("write.job_ms", writeJobMs, "ms"),
      ("write.commit_ms", writeMs - writeJobMs, "ms"),
      ("write.rows", counter("write.rows") / n, "rows"),
      ("dml.ms", durMs("dml"), "ms"),
      ("dml.job_ms", jobMsUnder("dml"), "ms"),
      ("dml.plan_ms", ms(dmlPlan.toDouble), "ms"),
      ("store.files_created", counter("store.files_created") / n, "files"),
      ("store.mb_created", counter("store.mb_created") / n, "MB"),
      ("store.files_live", counter("store.files_live"), "files"),
      ("store.mb_live", counter("store.mb_live"), "MB"),
      ("maint.defrag_s", durMs("maint.defrag") / 1e3, "s"),
      ("maint.trim_s", durMs("maint.trim") / 1e3, "s"),
      ("maint.gc_s", durMs("maint.gc") / 1e3, "s"),
      ("maint.mb_rewritten", counter("maint.mb_rewritten") / n, "MB"),
      ("maint.files_removed", counter("maint.files_removed") / n, "files"),
      ("jvm.gc_ms", counter("jvm.gc_ms") / n, "ms")
    )
  }

  /** Raw spans as JSON lines, for offline attribution. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map(s =>
      s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},""" +
        s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

object Tracer {
  private final case class Ext(layer: String, startMs: Long, endMs: Long)
}
