package graft

import graft.core.BoundedCache
import java.util.concurrent.{Callable, CountDownLatch, Executors,
  TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** The one driver cache: weighted access-order LRU eviction, the
  * newest-entry guarantee, first-insert-wins under racing misses, and
  * the peek/replace/clear/miss-count contract every call site relies
  * on (Repo, RegistryCodec, Collection, ManifestCodec, GSchema). */
class BoundedCacheSpec extends AnyFunSuite {
  /** values weigh their string length */
  private def cache(budget: Long) =
    new BoundedCache[String, String](budget, _.length.toLong)

  test("weighted budget holds: the eldest go first") {
    // (budget, values inserted in order, survivors youngest-last)
    val cases = Seq(
      (10L, Seq("aaa", "bbb", "ccc", "ddd"), Seq("bbb", "ccc", "ddd")),
      (6L, Seq("a", "bb", "ccc", "dddd"), Seq("dddd")),
      (6L, Seq("a", "bb", "ccc"), Seq("a", "bb", "ccc")),
      (3L, Seq("a", "b", "c", "d", "e"), Seq("c", "d", "e")),
      (100L, Seq.empty, Seq.empty))
    cases.foreach { case (budget, values, survivors) =>
      val c = cache(budget)
      values.foreach(v => c.put(v, v))
      val kept = values.filter(v => c.peek(v).isDefined)
      assert(kept == survivors, s"budget $budget over $values")
      assert(c.totalWeight == survivors.map(_.length).sum)
      assert(c.totalWeight <= budget)
    }
  }

  test("the newest entry survives even when it alone exceeds the budget") {
    // (budget, values before, the oversized newest)
    val cases = Seq(
      (5L, Seq("aa", "bb"), "ccccccccc"),
      (1L, Seq.empty, "xx"),
      (4L, Seq("aaaa"), "bbbbb"))
    cases.foreach { case (budget, before, big) =>
      val c = cache(budget)
      before.foreach(v => c.put(v, v))
      assert(c.getOrLoad(big)(big) eq big)
      assert(c.peek(big).contains(big), s"budget $budget lost $big")
      assert(before.forall(v => c.peek(v).isEmpty))
      assert(c.totalWeight == big.length)
      // the next insert evicts it like any other eldest entry
      c.put("z", "z")
      assert(c.peek(big).isEmpty && c.totalWeight == 1)
    }
  }

  test("a hot key re-read during a sweep over many cold keys stays") {
    // the time-travel sweep: one hot leaf read between every one of
    // many historical revisions, under a budget of a few entries
    val c = new BoundedCache[String, String](4)
    c.getOrLoad("hot")("h")
    (1 to 200).foreach { i =>
      c.getOrLoad(s"cold$i")(s"c$i")
      assert(c.getOrLoad("hot")(fail("hot key reloaded")) == "h")
    }
    assert(c.misses == 201)
    assert(c.peek("cold1").isEmpty && c.peek("cold200").isDefined)
    assert(c.totalWeight == 4)
  }

  test("N threads missing one key all get one instance") {
    val n = 8
    val c = new BoundedCache[String, AnyRef](16)
    val inLoad = new CountDownLatch(n)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val load: Callable[AnyRef] = () => c.getOrLoad("k") {
        // hold every loader until all threads have missed (or a
        // straggler found the entry already inserted)
        inLoad.countDown(); inLoad.await(500, TimeUnit.MILLISECONDS)
        new Object
      }
      val got = (1 to n).map(_ => pool.submit(load))
        .map(_.get(30, TimeUnit.SECONDS))
      assert(got.forall(_ eq got.head), "racing misses got two instances")
      assert(c.peek("k").exists(_ eq got.head))
      assert(c.misses >= 1 && c.misses <= n)
      assert(c.totalWeight == 1)
    } finally pool.shutdownNow()
  }

  test("peek neither loads nor counts; getOrLoad counts one miss per load") {
    val c = cache(100)
    assert(c.peek("k").isEmpty)
    assert(c.misses == 0 && c.totalWeight == 0)
    assert(c.getOrLoad("k")("vv") == "vv")
    assert(c.misses == 1)
    assert(c.peek("k").contains("vv"))
    assert(c.getOrLoad("k")(fail("hit reloaded")) == "vv")
    assert(c.misses == 1)
  }

  test("replace installs only over the expected entry") {
    // (current entry or null, expected or null, installed?)
    val cur = "cur"
    val cases = Seq(
      (null, null, true),
      (cur, cur, true),
      (cur, null, false),
      (cur, new String("cur"), false), // equal but not the same object
      (null, cur, false))
    cases.foreach { case (present, expected, installs) =>
      val c = cache(100)
      if (present != null) c.put("k", present)
      assert(c.replace("k", expected, "new") == installs)
      assert(c.peek("k") == Option(if (installs) "new" else present))
      assert(c.totalWeight == c.peek("k").map(_.length).getOrElse(0))
    }
  }

  test("clear resets the weight") {
    val c = cache(10)
    Seq("aaa", "bbb", "cc").foreach(v => c.put(v, v))
    assert(c.totalWeight == 8)
    c.clear()
    assert(c.totalWeight == 0 && c.peek("aaa").isEmpty)
    // the budget is whole again: nothing left over to evict against
    Seq("aaaaa", "bbbbb").foreach(v => c.put(v, v))
    assert(c.totalWeight == 10 && c.peek("aaaaa").isDefined)
    assert(c.misses == 0, "put and clear count no misses")
  }
}
