package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

import graft.sources.GraftMetrics

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** tiny int-indexed frame builder */
  def frame(ts: Seq[Long], vals: Seq[Double]): DataFrame = {
    val s = spark
    import s.implicits._
    ts.zip(vals).toDF("timestamp", "value")
  }

  /** What `body` did on the shared session, as one listener saw it:
    * the Spark jobs it started and, per SQL execution in start order,
    * its id, the physical plan text logged at its start and the plan it
    * ran. */
  final case class Recorded[T](out: T, jobs: Int, ids: Seq[Long],
      plans: Seq[String], executed: Seq[SparkPlan]) {
    /** the graft metrics of the statements run, read from each executed
      * plan ([[GraftMetrics.of]]: through AQE stages and DML commands)
      * and summed by name */
    def graftMetrics: Map[String, Long] =
      executed.flatMap(GraftMetrics.of(_)).groupMapReduce(_._1)(_._2)(_ + _)
  }

  def record[T](body: => T): Recorded[T] = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
      SparkListenerSQLExecutionStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val started = new java.util.concurrent.ConcurrentSkipListMap[
      java.lang.Long, String]()
    val ended = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, Option[SparkPlan]]()
    val t0 = System.currentTimeMillis()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.time >= t0) jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart if q.time >= t0 =>
          started.put(q.executionId, q.physicalPlanDescription)
        case q: SparkListenerSQLExecutionEnd
            if started.containsKey(q.executionId) =>
          ended.put(q.executionId, org.apache.spark.sql.GraftTestBridge
            .queryExecution(q).map(_.executedPlan))
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      // listener events post asynchronously: wait until every started
      // execution has ended and the counts hold still
      var last = -1
      var spins = 0
      while ((ended.size != started.size ||
          jobs.get() + started.size != last) && spins < 200) {
        last = jobs.get() + started.size; Thread.sleep(50); spins += 1
      }
      import scala.jdk.CollectionConverters._
      val ids = started.keySet.asScala.toSeq
      Recorded(out, jobs.get(), ids.map(_.longValue), ids.map(started.get),
        ids.flatMap(i => Option(ended.get(i)).flatten))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `body`'s result with the number of Spark jobs and of SQL queries
    * it started */
  def work[T](body: => T): (T, Int, Int) = {
    val r = record(body)
    (r.out, r.jobs, r.plans.length)
  }

  /** `body`'s result and the graft metrics of the SQL statements it
    * ran ([[Recorded.graftMetrics]]) */
  def graftMetrics[T](body: => T): (T, Map[String, Long]) = {
    val r = record(body)
    (r.out, r.graftMetrics)
  }
}
