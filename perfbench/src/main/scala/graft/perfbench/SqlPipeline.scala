package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** Passes over a fixed list of oracle-gated analytic and training-data
  * queries from `SparkEntry.queries`, in a seeded order per pass, over
  * graft's sf0.1 test tables in `dir`. Each result's row count and
  * order-independent hash is checked against `sql_pins.tsv`. The data
  * is fixed; the seed orders each pass. */
final class SqlPipeline(spark: SparkSession, dir: Path, seed: Long,
    tracer: Tracer, pins: Path, pinOut: Option[Path]) extends Workload {
  import SqlPipeline._

  def roundS: Double = 7.0

  private val rnd = new Random(seed)
  private val queries = graft.SparkEntry.queries
  private val want: Map[String, (Long, String)] =
    if (pinOut.isDefined) Map.empty
    else Files.readAllLines(pins).asScala.filterNot(_.startsWith("#"))
      .map(_.split('\t')).collect { case Array(q, n, h) =>
        q -> (n.toLong, h) }.toMap
  private val got = scala.collection.mutable.LinkedHashMap
    .empty[String, (Long, String)]

  /** Set-up is a warm-up pass: codegen, and the session-pinned
    * doc_terms index that q60 and q113 read is built here. */
  def setup(): Unit = {
    Names.foreach(q => op(q).call()())
    Main.note("sql_pipeline warm-up pass done")
  }

  private def op(q: String): Op = Op(q) {
    val df = tracer.span("api.plan")(queries(q)(spark, dir.toString))
    val rows = tracer.span("exec")(df.collect())
    val cols = df.columns.toSeq
    () => {
      val res = (rows.length.toLong, hash(cols, rows.toSeq))
      got(q) = res
      if (pinOut.isDefined) None
      else want.get(q) match {
        case None => Some(s"no pinned result for $q")
        case Some(w) => Op.expect((s"$q rows", res._1, w._1),
          (s"$q hash", res._2, w._2))
      }
    }
  }

  def round(i: Int): Seq[Op] = rnd.shuffle(Names).map(op)

  override def finish(): Seq[String] = {
    pinOut.foreach(p => Files.write(p, (Seq(
      "# query\trows\thash (see README.md: how the pins were taken)") ++
      Names.flatMap(q => got.get(q).map { case (n, h) =>
        s"$q\t$n\t$h" })).asJava))
    Nil
  }

  def figures(r: Runner.Result): Seq[(String, Double, String)] = Nil
}

object SqlPipeline {
  val Names = Seq("q01_agg", "q15_join_revenue", "q39_sessions",
    "q82_funnel", "q60_tfidf_terms", "q113_bm25", "q72_ann_ivf")

  /** Normalised value text: floats to 9 significant digits (the
    * oracle comparison's rounding), collections element-wise. */
  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => norm(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case x => x.toString
  }

  /** Order-independent result hash: columns sorted by name, each row's
    * normalised text hashed, the row hashes summed. */
  def hash(cols: Seq[String], rows: Seq[Row]): String = {
    val order = cols.indices.sortBy(cols)
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val text = order.map(i => norm(r.get(i))).mkString("|")
      acc + scala.util.hashing.MurmurHash3.stringHash(text).toLong *
        0x9E3779B97F4A7C15L + text.length
    }
    f"$sum%016x"
  }
}
