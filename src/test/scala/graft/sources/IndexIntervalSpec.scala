package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{Closed, ColDef, GSchema, GType, IndexKey, SegmentMeta,
  SegmentRead}

/** The connector's one index-interval algebra, table-driven: pushed
  * filters in, `(start, stop, closed)` and `exact` out. */
class IndexIntervalSpec extends AnyFunSuite {
  private val gs = GSchema(Seq(ColDef("a", GType.IntT, idx = true),
    ColDef("b", GType.IntT, idx = true), ColDef("v", GType.FloatT,
      idx = false)))

  private def k(vs: Long*): IndexKey = IndexKey(vs.toVector)

  // filters -> (start, stop, closed, exact)
  private val cases: Seq[(String, Seq[Filter],
      (IndexKey, IndexKey, Closed, Boolean))] = Seq(
    ("eq prefix + range", Seq(EqualTo("a", 3L),
      GreaterThanOrEqual("b", 200L), LessThan("b", 300L)),
      (k(3, 200), k(3, 300), Closed.Left, true)),
    ("eq on every column", Seq(EqualTo("b", 7L), EqualTo("a", 3L)),
      (k(3, 7), k(3, 7), Closed.Both, true)),
    ("eq on the head alone", Seq(EqualTo("a", 3L)),
      (k(3), k(3), Closed.Both, true)),
    ("one-sided open start", Seq(GreaterThan("a", 5L)),
      (k(5), null, Closed.Right, true)),
    ("one-sided closed stop", Seq(LessThanOrEqual("a", 9L)),
      (null, k(9), Closed.Both, true)),
    ("eq prefix + open start, prefix stop", Seq(EqualTo("a", 3L),
      GreaterThan("b", 10L)), (k(3, 10), k(3), Closed.Right, true)),
    ("open both ends", Seq(GreaterThan("a", 1L), LessThan("a", 4L)),
      (k(1), k(4), Closed.None_, true)),
    ("tightest wins, open over closed at a tie", Seq(
      GreaterThanOrEqual("a", 1L), GreaterThan("a", 1L),
      GreaterThan("a", 0L), LessThan("a", 8L), LessThanOrEqual("a", 8L)),
      (k(1), k(8), Closed.None_, true)),
    ("second column only", Seq(EqualTo("b", 998L)),
      (null, null, Closed.Both, false)),
    ("a bound below the range column", Seq(GreaterThanOrEqual("a", 5L),
      LessThan("a", 7L), EqualTo("b", 4L)),
      (k(5), k(7), Closed.Left, false)),
    ("a value predicate", Seq(EqualTo("a", 3L), GreaterThan("v", 1.0)),
      (k(3), k(3), Closed.Both, false)),
    ("IN on an index column", Seq(In("a", Array[Any](1L, 2L)),
      GreaterThan("b", 0L)), (null, null, Closed.Both, false)),
    ("IS NOT NULL on an index column is vacuous", Seq(IsNotNull("a"),
      GreaterThanOrEqual("a", 1L)), (k(1), null, Closed.Both, true)),
    ("IS NOT NULL on a value column is a conjunct", Seq(IsNotNull("v"),
      GreaterThanOrEqual("a", 1L)), (k(1), null, Closed.Both, false)),
    ("IS NOT NULL alone bounds nothing", Seq(IsNotNull("a")),
      (null, null, Closed.Both, false)),
    ("a null literal folds nothing", Seq(LessThan("a", null)),
      (null, null, Closed.Both, false)),
    ("no filters", Nil, (null, null, Closed.Both, false)))

  test("pushed filters fold into one interval and its exactness") {
    cases.foreach { case (name, filters, want) =>
      val iv = new IndexInterval.Fold(gs, filters).interval
      assert((iv.start, iv.stop, iv.closed, iv.exact) == want, name)
    }
  }

  test("accepted filters and value-column bounds") {
    val fs = Seq(EqualTo("a", 3L), GreaterThan("v", 1.0),
      In("v", Array[Any](4.0, 2.0, 3.0)), IsNotNull("a"),
      In("a", Array[Any](1L)))
    val fold = new IndexInterval.Fold(gs, fs)
    assert(fold.accepted.toSeq == fs.take(3))
    // the IN list bounds v by its own min/max, tighter than v > 1.0
    assert(fold.valueQuery == Seq(("v", GType.FloatT, 2.0, true, 4.0,
      true)))
  }

  test("runtime head filter parses once and prunes by head range") {
    val vals = IndexInterval.headValues(gs, Array(In("a", Array[Any](3L,
      null, 3L)), EqualTo("a", 5L), EqualTo("b", 1L)))
    assert(vals.contains(Seq(3L, 5L)))
    assert(IndexInterval.headValues(gs, Array(EqualTo("b", 1L))).isEmpty)
    val meta = SegmentMeta("s", k(0), k(9), Closed.Both, 1L, Vector.empty)
    val segs = Seq((k(0, 0), k(3, 9)), (k(4), k(4, 5)), (k(5), k(9)))
      .map { case (st, sp) => SegmentRead(meta, st, sp, Closed.Both) }
    assert(IndexInterval.headPruned(gs, segs, vals) ==
      Seq(segs(0), segs(2)))
    assert(IndexInterval.headPruned(gs, segs, None) == segs)
  }

  test("containment: closed ends include, open ends exclude, null is " +
      "unbounded") {
    assert(gs.within(k(1, 0), k(4, 9), k(1), k(5), Closed.Left))
    assert(!gs.within(k(1, 0), k(5, 0), k(1), k(5), Closed.Left))
    assert(gs.within(k(1, 0), k(5, 0), k(1), k(5), Closed.Both))
    assert(!gs.within(k(1, 0), k(2), k(1), k(5), Closed.Right))
    assert(gs.within(k(-100), k(2), null, k(5), Closed.Left))
    assert(gs.within(k(2), k(100), k(1), null, Closed.Left))
  }

  private lazy val spark = TestSpark.spark

  /** a fresh catalog holding `c.m (a BIGINT, b BIGINT, v DOUBLE)`
    * indexed on (a, b): (catalog name, repo root) */
  private def newTable(): (String, String) = {
    val root = Files.createTempDirectory("graft-iv").toString
    val cat = "giv" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    spark.sql(s"CREATE TABLE $cat.c.m (a BIGINT, b BIGINT, v DOUBLE) " +
      "PARTITIONED BY (a, b)")
    (cat, root)
  }

  test("deletePlan: exact conjunctions only, IS NOT NULL on the index " +
      "vacuous") {
    val (_, root) = newTable()
    val table = new GraftTable(root, "c", "m", None)
    cases.foreach { case (name, filters, (start, stop, closed, exact)) =>
      val plan = table.deletePlan(filters.toArray)
      if (filters.isEmpty) assert(plan.contains(table.DeleteAll), name)
      else if (exact) assert(plan.contains(table.DeleteRange(
        IndexInterval.Interval(start, stop, closed, exact = true))), name)
      else assert(plan.isEmpty, name)
    }
    assert(table.deletePlan(Array(In("a", Array[Any](2L, 1L, 2L))))
      .contains(table.DeleteKeys(Seq(2L, 1L))))
  }

  test("an equality prefix with a one-sided range deletes and replaces " +
      "the rest of its group") {
    import spark.implicits._
    val (cat, _) = newTable()
    spark.sql(s"INSERT INTO $cat.c.m " +
      "SELECT id DIV 10, id % 10, 1.0 FROM range(0, 30)")
    // start (1, 6), stop (1) right-closed: the splice bounds order as
    // cuts, so the tombstone is valid though (1, 6) sorts after (1)
    val (_, jobs, _) = TestSpark.work(
      spark.sql(s"DELETE FROM $cat.c.m WHERE a = 1 AND b >= 6"))
    assert(jobs == 0, s"metadata delete ran $jobs Spark jobs")
    Seq((2L, 9L, 5.0)).toDF("a", "b", "v").writeTo(s"$cat.c.m")
      .overwrite(org.apache.spark.sql.functions.expr("a = 2 AND b > 7"))
    val got = spark.sql(s"SELECT a, b, v FROM $cat.c.m").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = (for (a <- 0L until 3L; b <- 0L until 10L) yield
      (a, b) -> 1.0).toMap -- (6L until 10L).map((1L, _)) -
      ((2L, 8L)) + ((2L, 9L) -> 5.0)
    assert(got == want)
  }

  test("a one-sided DELETE or REPLACE WHERE past either end of the " +
      "table is a no-op delete") {
    import spark.implicits._
    val (cat, _) = newTable()
    spark.sql(s"INSERT INTO $cat.c.m " +
      "SELECT id DIV 10, id % 10, 1.0 FROM range(0, 30)")
    def rows(): Map[(Long, Long), Double] =
      spark.sql(s"SELECT a, b, v FROM $cat.c.m").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val table0 = (for (a <- 0L until 3L; b <- 0L until 10L) yield
      (a, b) -> 1.0).toMap
    // a > 2 runs from (2), left-open, to the last key (2, 9): its
    // start cuts after all of group 2, so the range holds no key;
    // a < 0 runs from the first key (0, 0) to (0), right-open
    Seq("a > 2", "a >= 3", "a < 0", "a <= -1").foreach { cond =>
      val (_, jobs, _) = TestSpark.work(
        spark.sql(s"DELETE FROM $cat.c.m WHERE $cond"))
      assert(jobs == 0, s"$cond: metadata delete ran $jobs Spark jobs")
      assert(rows() == table0, cond)
    }
    val over = org.apache.spark.sql.functions.expr _
    Seq((3L, 0L, 5.0)).toDF("a", "b", "v").writeTo(s"$cat.c.m")
      .overwrite(over("a > 2"))
    Seq((-1L, 4L, 6.0)).toDF("a", "b", "v").writeTo(s"$cat.c.m")
      .overwrite(over("a < 0"))
    assert(rows() == table0 + ((3L, 0L) -> 5.0) + ((-1L, 4L) -> 6.0))
  }
}
