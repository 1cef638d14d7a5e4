package graft

import graft.api._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Randomized model check for the SQL DML surface: a driver-side
  * Map replays every operation under the ENGINE's documented
  * semantics (INSERT = range splice over the batch's [min, max];
  * UPDATE/MERGE/value-DELETE = copy-on-write over scanned windows;
  * index-DELETE = tombstone; RESTORE = the model state at the
  * restored-to leaf, tracked through the `.history` metadata table),
  * and the full table read must equal the model after every step.
  * Fixed seeds — failures replay exactly. */
class RowLevelPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def newCatalog(): String = {
    val root = Files.createTempDirectory("graft-prop").toString
    val name = "gpr" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.path", root)
    name
  }

  /** model: ts -> v (splice-aware) */
  private def runScenario(seed: Int): Unit = {
    val rnd = new Random(seed)
    val cat = newCatalog()
    spark.sql(s"CREATE TABLE $cat.c.s (ts BIGINT, v DOUBLE) " +
      s"PARTITIONED BY (ts)")
    var model = Map.empty[Long, Double]
    var nextFree = 10000L // inserts beyond this are always free space

    def insertBatch(keys: Seq[Long], f: Long => Double): Unit = {
      if (keys.isEmpty) return
      val rows = keys.map(k => s"($k, ${f(k)})").mkString(", ")
      spark.sql(s"INSERT INTO $cat.c.s VALUES $rows")
      // engine semantics: the write SPLICES over [min, max] — model
      // rows inside the span but not in the batch disappear
      val (lo, hi) = (keys.min, keys.max)
      model = model.filterNot { case (k, _) => k >= lo && k <= hi } ++
        keys.map(k => k -> f(k))
    }

    def check(step: String): Unit = {
      val got = spark.sql(s"SELECT ts, v FROM $cat.c.s").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == model,
        s"seed=$seed after $step: " +
          s"extra=${(got.keySet -- model.keySet).toSeq.sorted.take(5)} " +
          s"missing=${(model.keySet -- got.keySet).toSeq.sorted.take(5)} " +
          s"diff=${model.keySet.intersect(got.keySet)
            .filter(k => got(k) != model(k)).take(5)}")
    }

    // snapshots for the restore op: (leaf revision id, model state)
    // after every committed step — the leaf comes from the .history
    // metadata table, so the check also exercises that surface
    var snapshots = Vector.empty[(String, Map[Long, Double])]
    def snapshot(): Unit = {
      val rev = spark.sql(s"SELECT revision FROM $cat.c.s.history " +
        "WHERE is_leaf").collect()(0).getString(0)
      snapshots :+= (rev -> model)
    }

    // seed data: three disjoint batches
    insertBatch(0L until 100L, _.toDouble)
    insertBatch(200L until 300L, k => k * 2.0)
    insertBatch(400L until 500L, k => k * 3.0)
    check("seed")
    snapshot()

    (0 until 10).foreach { step =>
      rnd.nextInt(7) match {
        case 0 => // UPDATE over a random index range
          val lo = rnd.nextInt(500)
          val hi = lo + 1 + rnd.nextInt(120)
          val add = rnd.nextInt(1000) + 1
          spark.sql(s"UPDATE $cat.c.s SET v = v + $add " +
            s"WHERE ts >= $lo AND ts < $hi")
          model = model.map { case (k, v) =>
            k -> (if (k >= lo && k < hi) v + add else v) }
        case 1 => // UPDATE with a value predicate (full-scan COW)
          val m = 2 + rnd.nextInt(5)
          spark.sql(s"UPDATE $cat.c.s SET v = v * 2 " +
            s"WHERE ts % $m = 0")
          model = model.map { case (k, v) =>
            k -> (if (k % m == 0) v * 2 else v) }
        case 2 => // DELETE an index range (metadata tombstone)
          val lo = rnd.nextInt(500)
          val hi = lo + 1 + rnd.nextInt(80)
          spark.sql(s"DELETE FROM $cat.c.s " +
            s"WHERE ts >= $lo AND ts < $hi")
          model = model.filterNot { case (k, _) => k >= lo && k < hi }
        case 3 => // DELETE with a value predicate (COW rewrite)
          val m = 3 + rnd.nextInt(4)
          spark.sql(s"DELETE FROM $cat.c.s WHERE ts % $m = 1")
          model = model.filterNot { case (k, _) => k % m == 1 }
        case 4 => // MERGE: update half the matches, insert free keys
          val existing = model.keySet.toSeq.sorted
          val upd = rnd.shuffle(existing).take(20)
          val ins = (0 until 10).map(_ => { nextFree += 2; nextFree })
          val srcRows = (upd.map(k => s"($k, -1.0)") ++
            ins.map(k => s"($k, 0.5)")).mkString(", ")
          if (srcRows.nonEmpty) {
            spark.sql(
              s"""MERGE INTO $cat.c.s t
                 |USING (SELECT * FROM VALUES $srcRows AS x(ts, v)) s
                 |ON t.ts = s.ts
                 |WHEN MATCHED THEN UPDATE SET v = s.v
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            // MERGE replaces scanned windows + splices ONE free-space
            // file run: model = matched updates + plain inserts (the
            // inserted keys are beyond every existing key, and the
            // insert span contains only themselves)
            model = model ++ upd.map(_ -> -1.0) ++ ins.map(_ -> 0.5)
          }
        case 5 => // RESTORE to a random earlier snapshot (fwd commit)
          val (rev, snap) = snapshots(rnd.nextInt(snapshots.length))
          spark.sql(s"CALL $cat.sys.restore('c', '$rev')").collect()
          model = snap
        case 6 => // REPLACE WHERE (day-backfill): tombstone the
          // window + splice the corrected rows, one atomic commit
          import org.apache.spark.sql.functions.{col, lit}
          import spark.implicits._
          val lo = rnd.nextInt(500).toLong
          val hi = lo + 1L + rnd.nextInt(60)
          // lo always present so the replacement set is never empty
          val keys = (lo until hi).filter(k =>
            k == lo || rnd.nextBoolean())
          keys.map(k => (k, k * 0.25)).toDF("ts", "v")
            .writeTo(s"$cat.c.s")
            .overwrite(col("ts") >= lit(lo) && col("ts") < lit(hi))
          model = model.filterNot { case (k, _) =>
            k >= lo && k < hi } ++ keys.map(k => k -> k * 0.25)
      }
      check(s"step$step")
      snapshot()
    }
  }

  test("randomized DML scenarios match the model (seeds 1-6)") {
    (1 to 6).foreach(runScenario)
  }

  /** One drawn conjunction over `(a, b, v)` with index `(a, b)`: its SQL
    * text, the same predicate on a model row, and whether it is one
    * EXACT index interval (an equality prefix, then at most one range
    * column, nothing on index columns deeper and no other conjunct). */
  private final case class Conj(sql: String,
      pred: ((Long, Long), Double) => Boolean, exact: Boolean)

  private def drawConj(kind: Int, rnd: Random): Conj = {
    def cmp(x: Long, op: String, y: Long): Boolean = op match {
      case ">" => x > y
      case ">=" => x >= y
      case "<" => x < y
      case "<=" => x <= y
      case "=" => x == y
    }
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    val a = rnd.nextInt(6).toLong
    val lo = rnd.nextInt(30).toLong
    val hi = lo + 1 + rnd.nextInt(15)
    kind match {
      case 0 => // eq prefix + range on the second column
        Conj(s"a = $a AND b >= $lo AND b < $hi",
          { case ((x, y), _) => x == a && y >= lo && y < hi }, true)
      case 1 => // one-sided: a bound on one end only
        val op = pick(">", ">=", "<", "<=")
        if (rnd.nextBoolean())
          Conj(s"a $op $a", { case ((x, _), _) => cmp(x, op, a) }, true)
        else
          Conj(s"a = $a AND b $op $lo", { case ((x, y), _) =>
            x == a && cmp(y, op, lo) }, true)
      case 2 => // open and closed ends on both sides
        val (l, h) = (pick(">", ">="), pick("<", "<="))
        if (rnd.nextBoolean()) {
          val a2 = a + 1 + rnd.nextInt(3)
          Conj(s"a $l $a AND a $h $a2", { case ((x, _), _) =>
            cmp(x, l, a) && cmp(x, h, a2) }, true)
        } else
          Conj(s"a = $a AND b $l $lo AND b $h $hi", { case ((x, y), _) =>
            x == a && cmp(y, l, lo) && cmp(y, h, hi) }, true)
      case 3 => // second column only: no prefix to extend
        if (rnd.nextBoolean())
          Conj(s"b = $lo", { case ((_, y), _) => y == lo }, false)
        else
          Conj(s"b >= $lo AND b < $hi", { case ((_, y), _) =>
            y >= lo && y < hi }, false)
      case 4 => // a bound below the terminating range column
        val a2 = a + 1 + rnd.nextInt(3)
        Conj(s"a >= $a AND a < $a2 AND b = $lo", { case ((x, y), _) =>
          x >= a && x < a2 && y == lo }, false)
      case 5 => // a value predicate next to an exact index range
        val t = (a * 100 + lo).toDouble
        Conj(s"a = $a AND v > $t", { case ((x, _), v) =>
          x == a && v > t }, false)
    }
  }

  /** Multi-column index intervals through every SQL route: each drawn
    * conjunction runs through SELECT, UPDATE, REPLACE WHERE and DELETE
    * against a model, and the route is asserted with the rows — an
    * exact conjunction deletes by metadata alone (no Spark job) and
    * selects the UPDATE's groups statically; any other takes the
    * copy-on-write rewrite with the runtime group filter and is refused
    * by REPLACE WHERE. */
  private def runMultiColumnScenario(seed: Int): Unit = {
    import graft.sources.GraftMetrics.{GroupsStatic, SegmentsKept,
      SegmentsTotal}
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val rnd = new Random(seed)
    val cat = newCatalog()
    val t = s"$cat.c.m"
    spark.sql(s"CREATE TABLE $t (a BIGINT, b BIGINT, v DOUBLE) " +
      "PARTITIONED BY (a, b)")
    type K = (Long, Long)
    var model = Map.empty[K, Double]
    def rows(df: org.apache.spark.sql.DataFrame): Map[K, Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    def check(step: String): Unit = {
      val got = rows(spark.sql(s"SELECT a, b, v FROM $t"))
      assert(got == model, s"seed=$seed after $step: " +
        s"extra=${(got.keySet -- model.keySet).toSeq.sorted.take(5)} " +
        s"missing=${(model.keySet -- got.keySet).toSeq.sorted.take(5)} " +
        s"diff=${model.keySet.intersect(got.keySet)
          .filter(k => got(k) != model(k)).toSeq.sorted.take(5)}")
    }
    // one a-group per insert: the write splices over [(a,0), (a,39)],
    // replacing exactly that group
    def refill(a: Long): Unit = {
      val batch = (0L until 40L).map(b => (a, b) -> (a * 100 + b + 0.5))
      batch.map { case ((x, y), v) => (x, y, v) }.toDF("a", "b", "v")
        .writeTo(t).append()
      model = model.filterNot(_._1._1 == a) ++ batch
    }
    (0L until 6L).foreach(refill)
    check("seed")

    def run(kind: String, c: Conj): Unit = {
      val step = s"kind $kind [${c.sql}]"
      def hit(m: Map[K, Double]) = m.filter { case (k, v) => c.pred(k, v) }

      assert(rows(spark.sql(s"SELECT a, b, v FROM $t WHERE ${c.sql}")) ==
        hit(model), s"seed=$seed SELECT $step")

      val add = 1 + rnd.nextInt(9)
      val (_, upd) = TestSpark.graftMetrics(
        spark.sql(s"UPDATE $t SET v = v + $add WHERE ${c.sql}"))
      // the write reports the group choice even when no group matched
      // and AQE dropped the empty scan
      assert(upd.get(GroupsStatic).contains(if (c.exact) 1L else 0L),
        s"seed=$seed UPDATE $step: groupsStatic ${upd.get(GroupsStatic)}")
      assert(upd.contains(SegmentsKept) && upd.contains(SegmentsTotal),
        s"seed=$seed UPDATE $step: $upd")
      model = model.map { case (k, v) =>
        k -> (if (c.pred(k, v)) v + add else v) }
      check(s"UPDATE $step")

      if (c.exact) {
        // an exact conjunction is on the index alone: replacement rows
        // drawn from the keys it holds fall inside its interval, and
        // may open a group on either side of the table
        val inside = for (x <- -1L until 7L; y <- 0L until 40L
          if c.pred((x, y), 0.0)) yield (x, y)
        val repl = (inside.take(1) ++ inside.drop(1)
          .filter(_ => rnd.nextBoolean()))
          .map(k => k -> -(k._1 * 100 + k._2 + 0.25))
        repl.map { case ((x, y), v) => (x, y, v) }.toDF("a", "b", "v")
          .writeTo(t).overwrite(expr(c.sql))
        model = model.filterNot { case (k, v) => c.pred(k, v) } ++ repl
      } else {
        val e = intercept[Exception](Seq((0L, 0L, 0.0))
          .toDF("a", "b", "v").writeTo(t).overwrite(expr(c.sql)))
        def chain(x: Throwable): Seq[String] =
          if (x == null) Nil
          else Option(x.getMessage).toSeq ++ chain(x.getCause)
        assert(chain(e).exists(_.contains("index-range")),
          s"seed=$seed REPLACE WHERE $step: $e")
      }
      check(s"REPLACE WHERE $step")

      val (_, jobs, _) = TestSpark.work(
        spark.sql(s"DELETE FROM $t WHERE ${c.sql}"))
      if (c.exact) assert(jobs == 0,
        s"seed=$seed exact DELETE $step ran $jobs Spark jobs")
      model = model.filterNot { case (k, v) => c.pred(k, v) }
      check(s"DELETE $step")

      refill(rnd.nextInt(6).toLong)
      check(s"refill after $step")
    }
    rnd.shuffle((0 until 6).flatMap(k => Seq(k, k))).foreach { kind =>
      (0L until 6L).filterNot(a => model.keys.exists(_._1 == a))
        .foreach(refill)
      run(kind.toString, drawConj(kind, rnd))
    }

    // one-sided bounds AT the table's first and last head values: the
    // delete range then starts after, or stops before, every key
    val (mn, mx) = (model.keys.map(_._1).min, model.keys.map(_._1).max)
    run("end", Conj(s"a > $mx", { case ((x, _), _) => x > mx }, true))
    run("end", Conj(s"a < $mn", { case ((x, _), _) => x < mn }, true))
    run("end", Conj(s"a = $mx AND b > 39", { case ((x, y), _) =>
      x == mx && y > 39 }, true))
  }

  test("multi-column index intervals: SELECT, UPDATE, REPLACE WHERE " +
      "and DELETE match the model and take the exact route (seeds 1-2)") {
    (1 to 2).foreach(runMultiColumnScenario)
  }
}
