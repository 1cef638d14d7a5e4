package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.metric.{CustomMetric,
  CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{
  DataSourceV2ScanExecBase, V2TableWriteExec}

/** What a graft scan or write decided, as Spark DSv2 custom metrics
  * (README "Connector metrics" says what each one counts): they show
  * on the scan or write node in the UI's SQL tab, in the event log, and
  * in the executed plan's `.metrics` ([[of]]). Every metric sums over
  * tasks (a driver-side metric has one value); flags read 1 when set. */
object GraftMetrics {
  // scan, driver side
  final val SegmentsTotal = "segmentsTotal"
  final val SegmentsKept = "segmentsKept"
  final val SegmentsStatSkipped = "segmentsStatSkipped"
  final val SegmentsRuntimeKept = "segmentsRuntimeKept"
  final val AggFromManifest = "aggFromManifest"
  final val GroupsStatic = "groupsStatic"
  final val GroupsTinySkip = "groupsTinySkip"
  // scan, task side: segment files opened per decode tier, rows
  // decoded and served after the slice, head-column pages skipped
  final val FilesVectorized = "filesVectorized"
  final val FilesColumnar = "filesColumnar"
  final val RowsDecoded = "rowsDecoded"
  final val RowsServed = "rowsServed"
  final val PagesSkipped = "pagesSkipped"
  // write, task side
  final val FilesWritten = "filesWritten"

  /** Every graft metric is a sum. Spark re-instantiates a metric by
    * class name only to aggregate it, through the no-arg constructor;
    * the name and label come from the declared instance. */
  final class GraftSum(n: String, d: String) extends CustomSumMetric {
    def this() = this("", "")
    override def name(): String = n
    override def description(): String = "graft " + d
  }

  // metrics are stateless: one shared instance each
  private val all: Map[String, CustomMetric] = Seq(
    SegmentsTotal -> "segments in manifest",
    SegmentsKept -> "segments kept",
    SegmentsStatSkipped -> "segments skipped by value stats",
    SegmentsRuntimeKept -> "segments kept by runtime filter",
    AggFromManifest -> "aggregate from manifest",
    GroupsStatic -> "groups chosen statically",
    GroupsTinySkip -> "group filter skipped (tiny cover)",
    FilesVectorized -> "files decoded vectorized",
    FilesColumnar -> "files decoded columnar",
    RowsDecoded -> "rows decoded",
    RowsServed -> "rows served",
    PagesSkipped -> "pages skipped by statistics",
    FilesWritten -> "files written"
  ).map { case (n, d) => n -> new GraftSum(n, d) }.toMap

  /** the declarations for a scan's or write's `supportedCustomMetrics` */
  def declare(names: String*): Array[CustomMetric] = names.map(all).toArray

  /** the task-side metrics every graft read reports */
  val readMetrics: Seq[String] = Seq(FilesVectorized, FilesColumnar,
    RowsDecoded, RowsServed, PagesSkipped)

  /** a reported value, read each time Spark asks */
  def value(n: String, v: => Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }

  /** The graft metrics of an executed DataFrame, summed by name over the
    * scans and writes of its main plan: through AQE stages and a DML
    * statement's `CommandResult`, not into subqueries (a row-level
    * operation's group-filter subquery scans the table a second time to
    * choose groups; its facts are its own). A metric is present when a
    * node declared it, so a missing name means "did not apply"; a
    * declared metric nothing reported reads 0. */
  def of(df: DataFrame): Map[String, Long] = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): Map[String, Long] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    nodes(plan).flatMap {
      case s: DataSourceV2ScanExecBase => s.metrics
      case w: V2TableWriteExec => w.metrics
      case _ => Nil
    }.filter(m => all.contains(m._1))
      .groupMapReduce(_._1)(_._2.value)(_ + _)
  }
}
