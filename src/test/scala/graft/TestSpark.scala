package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** `body`'s result with the number of Spark jobs and of SQL queries
    * it started, counted by a listener on the shared session */
  def work[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val queries = new java.util.concurrent.atomic.AtomicInteger
    val t0 = System.currentTimeMillis()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.time >= t0) jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: org.apache.spark.sql.execution.ui
            .SparkListenerSQLExecutionStart if q.time >= t0 =>
          queries.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      // listener events post asynchronously — wait until stable
      var last = -1
      var spins = 0
      while (jobs.get() + queries.get() != last && spins < 40) {
        last = jobs.get() + queries.get(); Thread.sleep(50); spins += 1
      }
      (out, jobs.get(), queries.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
