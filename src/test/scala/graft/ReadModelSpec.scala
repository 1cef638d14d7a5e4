package graft

import graft.api.Repo
import graft.core.{Closed, GSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Model check of the read path: seeded, shrinkable histories of
  * writes, overlays and deletes, after which every read verb —
  * `frame` over random bounds and `Closed`, `limit`/`offset`, `tail`,
  * `paginate`, `length()`, a connector `WHERE`, `VERSION AS OF` and
  * `frame(beforeMs)` at a random earlier revision — must agree with a
  * pure last-write-wins model of the history. Runs in plain and bss
  * storage mode over `file` and `memory://` stores; a failure prints
  * the shrunk history. */
class ReadModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = GSchema("timestamp" -> "int*", "value" -> "float")

  sealed trait Op
  /** rows a until a + n (an overlay where they meet stored rows) */
  final case class Write(a: Long, n: Int, tag: Int) extends Op
  /** delete the closed range [a, b] */
  final case class Delete(a: Long, b: Long) extends Op

  private val op: Gen[Op] = Gen.frequency(
    4 -> (for {
      a <- Gen.choose(0L, 900L)
      n <- Gen.oneOf(Gen.choose(1, 30), Gen.choose(31, 260))
      tag <- Gen.choose(1, 9)
    } yield Write(a, n, tag)),
    1 -> (for {
      a <- Gen.choose(0L, 950L)
      d <- Gen.choose(0L, 120L)
    } yield Delete(a, a + d)))
  private val history: Gen[List[Op]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, op))

  private type Model = Map[Long, Double]
  private def applyOp(m: Model, o: Op): Model = o match {
    case Write(a, n, tag) =>
      m ++ (a until a + n).map(k => k -> (k * 0.5 + tag))
    case Delete(a, b) => m.filterNot { case (k, _) => k >= a && k <= b }
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select("timestamp", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def within(k: Long, lo: Long, hi: Long, c: Closed): Boolean =
    (if (c.left) k >= lo else k > lo) && (if (c.right) k <= hi else k < hi)

  /** the first read that disagrees with the model, if any */
  private def check(ops: List[Op], bss: Boolean, memory: Boolean,
      seed: Long): Option[String] = {
    val root =
      if (memory) s"memory://readmodel${System.nanoTime()}"
      else Files.createTempDirectory("graft-readmodel").toString
    val clct = new Repo(root, spark).createCollection(schema, "m")
    clct.pageLen = 100L
    val s = clct.series("s")
    val rnd = new scala.util.Random(seed)
    // the model after each op, and a clock cut after each
    val states = scala.collection.mutable.ArrayBuffer.empty[(Long, Model)]
    var model: Model = Map.empty
    ops.foreach { o =>
      o match {
        case Write(a, n, tag) =>
          val ks = (a until a + n)
          val df = TestSpark.frame(ks, ks.map(k => k * 0.5 + tag))
          if (bss) spark.conf.set("spark.graft.segment.codec", "zstd+bss")
          try s.write(df)
          finally spark.conf.unset("spark.graft.segment.codec")
        case Delete(a, b) => s.delete(a, b, Closed.Both)
      }
      model = applyOp(model, o)
      Thread.sleep(3)
      states += System.currentTimeMillis() -> model
      Thread.sleep(3)
    }
    val sorted = model.toSeq.sorted
    val fails = Seq.newBuilder[String]
    def expect(what: String, got: => Seq[(Long, Double)],
        want: Seq[(Long, Double)]): Unit = {
      val g = got
      if (g != want) fails += s"$what: got ${g.length} rows " +
        s"${g.take(4)}.., want ${want.length} ${want.take(4)}.." +
        s" first diff ${g.zip(want).find(p => p._1 != p._2)}"
    }
    val closed = Seq(Closed.Both, Closed.Left, Closed.Right, Closed.None_)

    (0 until 3).foreach { _ =>
      val lo = rnd.nextInt(1000).toLong
      val hi = lo + rnd.nextInt(400)
      val c = closed(rnd.nextInt(4))
      val want = sorted.filter(kv => within(kv._1, lo, hi, c))
      expect(s"frame($lo, $hi, $c)", rows(s.frame(lo, hi, closed = c))
        .sorted, want)
      val (l, o) = (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)
      expect(s"frame($lo, $hi, $c, limit $l, offset $o)",
        rows(s.frame(lo, hi, closed = c, limit = Some(l),
          offset = Some(o))), want.slice(o.toInt, (o + l).toInt))
      val step = 1 + rnd.nextInt(120)
      val pages = s.paginate(step, lo, hi, closed = c).map(rows).toSeq
      if (pages.exists(_.length > step) ||
          pages.dropRight(1).exists(_.length != step))
        fails += s"paginate($step, $lo, $hi, $c): page sizes " +
          pages.map(_.length)
      expect(s"paginate($step, $lo, $hi, $c)", pages.flatten, want)
      val where = spark.read.format("graft").option("path", root)
        .option("collection", "m").option("series", "s").load()
        .where((if (c.left) col("timestamp") >= lo
          else col("timestamp") > lo) &&
          (if (c.right) col("timestamp") <= hi else col("timestamp") < hi))
      expect(s"connector WHERE ($lo, $hi, $c)", rows(where).sorted, want)
    }
    val n = 1 + rnd.nextInt(300)
    if (sorted.nonEmpty)
      expect(s"tail($n)", rows(s.tail(n)), sorted.takeRight(n))
    if (s.length() != sorted.length)
      fails += s"length() ${s.length()}, want ${sorted.length}"

    val (cut, then) = states(rnd.nextInt(states.length))
    val past = then.toSeq.sorted
    expect(s"frame(beforeMs = $cut)",
      rows(s.frame(beforeMs = Some(cut))).sorted, past)
    val cat = "rm" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    expect(s"VERSION AS OF $cut", rows(spark.sql(
      s"SELECT timestamp, value FROM $cat.m.s VERSION AS OF '$cut'"))
      .sorted, past)
    fails.result().headOption
  }

  private def run(bss: Boolean, memory: Boolean, seed: Long): Unit = {
    val prop = Prop.forAll(history, Gen.choose(0L, Long.MaxValue)) {
      (ops, readSeed) =>
        val bad = check(ops, bss, memory, readSeed)
        bad.isEmpty :| s"${bad.getOrElse("")} after $ops"
    }
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(4).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(seed))
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  Seq((false, false, 11L), (true, false, 12L), (false, true, 13L),
      (true, true, 14L)).foreach { case (bss, memory, seed) =>
    test(s"read verbs match the last-write-wins model: " +
        s"${if (bss) "bss" else "plain"} mode, " +
        s"${if (memory) "memory://" else "file"} store (seed $seed)") {
      run(bss, memory, seed)
    }
  }
}
