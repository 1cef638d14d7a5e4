package graft

import graft.api._
import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Maintenance operator semantics: merge of concurrent writers,
  * defrag, trim, squash, gc, sync (push/pull), rename/delete.
  * Behavioral reference: lakota/collection.py + repo.py tests.
  */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val schema = GSchema("timestamp" -> "int*", "value" -> "float")

  def freshRepo(): Repo =
    new Repo(Files.createTempDirectory("graft-m").toString, spark)

  def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("timestamp", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  test("merge: two concurrent writers, disjoint ranges") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    val s = clct.series("_")
    s.write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))
    val base = clct.changelog.leaf().get
    val mBase = Manifest.decode(clct.changelog.payload(base))

    // writer A commits normally on top of base
    Thread.sleep(5)
    s.write(TestSpark.frame(Seq(10L, 11L), Seq(10.0, 11.0)))

    // writer B: emulate a concurrent fork — write through the API to
    // produce real segment files, then re-parent the resulting
    // manifest delta onto base as a sibling revision
    Thread.sleep(5)
    s.write(TestSpark.frame(Seq(20L, 21L), Seq(20.0, 21.0)))
    val leafB = clct.changelog.leaf().get
    val mB = Manifest.decode(clct.changelog.payload(leafB))
    val newRows = mB.rows.filterNot(r =>
      mBase.rows.contains(r) || r.start.values(0) == 10L)
    val branchM = newRows.foldLeft(mBase)((m, r) => m.update(r))
    repo.store.rm(s"${clct.changelog.dir}/${leafB.path}")
    clct.refresh()
    clct.changelog.commit(branchM.encode, parents = Seq(base.child))

    clct.refresh()
    assert(clct.changelog.leafs().length == 2)
    clct.merge()
    clct.refresh()
    val merged = clct.series("_").frame()
    assert(rows(merged) == Seq((1L, 1.0), (2L, 2.0), (10L, 10.0),
      (11L, 11.0), (20L, 20.0), (21L, 21.0)))
  }

  test("merge rewrites splice-truncated open-bound rows exactly") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    val s = clct.series("_")
    s.write(TestSpark.frame(0L to 9L, (0 to 9).map(_.toDouble)))
    val base = clct.changelog.leaf().get
    val mBase = Manifest.decode(clct.changelog.payload(base))

    // writer A commits a disjoint range on top of base
    Thread.sleep(5)
    s.write(TestSpark.frame(Seq(100L, 101L), Seq(100.0, 101.0)))

    // writer B (forged fork off base): an overlapping write over [3,6]
    // — its splice truncates base's segment into open-bound neighbor
    // rows [0,3) and (6,9], the exact shape merge must read+rewrite
    Thread.sleep(5)
    s.write(TestSpark.frame(3L to 6L, Seq(30.0, 40.0, 50.0, 60.0)))
    val leafB = clct.changelog.leaf().get
    val mB = Manifest.decode(clct.changelog.payload(leafB))
    val newRow = mB.rows.find(r => r.start.values(0) == 3L &&
      r.stop.values(0) == 6L).get
    val branchM = mBase.update(newRow)
    assert(branchM.rows.exists(_.closed != Closed.Both),
      "forged branch must contain truncated open-bound rows")
    repo.store.rm(s"${clct.changelog.dir}/${leafB.path}")
    clct.refresh()
    clct.changelog.commit(branchM.encode, parents = Seq(base.child))

    clct.refresh()
    assert(clct.changelog.leafs().length == 2)
    clct.merge()
    clct.refresh()
    val expect = Seq(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 30.0,
      4L -> 40.0, 5L -> 50.0, 6L -> 60.0, 7L -> 7.0, 8L -> 8.0,
      9L -> 9.0, 100L -> 100.0, 101L -> 101.0)
    assert(rows(clct.series("_").frame()) == expect)
    // the read+rewrite branch replays B's truncated [0,3) and (6,9]
    // rows as exact data-bounded both-closed segments — as-is splicing
    // would have kept the open bounds
    val mm = clct.manifest().get
    assert(mm.rows.exists(r => r.closed == Closed.Both &&
      r.start.values(0) == 0L && r.stop.values(0) == 2L))
    assert(mm.rows.exists(r => r.closed == Closed.Both &&
      r.start.values(0) == 7L && r.stop.values(0) == 9L))
  }

  test("memory:// repo runs the whole engine in-memory (MemPOD parity)") {
    val repo = Repo(s"memory://m${System.nanoTime()}", spark)
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // force parquet segments THROUGH the mem fs
    val s = clct.series("_")
    s.write(TestSpark.frame(1L to 50L, (1 to 50).map(_ * 1.0)))
    s.write(TestSpark.frame(10L to 19L, (10 to 19).map(_ => -1.0)))
    assert(s.frame().count() == 50)
    val got = rows(s.frame(10L, 19L, closed = Closed.Both))
    assert(got == (10L to 19L).map(_ -> -1.0))
    // overlay + delete + gc all through the in-memory store
    s.delete(40L, 50L)
    assert(s.frame().count() == 39)
    assert(repo.gc(timeoutMs = 0L) >= 0)
    assert(rows(s.frame(1L, 5L, closed = Closed.Both)) ==
      (1L to 5L).map(i => i -> i.toDouble))
  }

  test("gc sweeps orphaned staging dirs, keeps fresh ones") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.series("_").write(TestSpark.frame(Seq(1L), Seq(1.0)))
    // a writer that died an hour ago vs one possibly still in flight
    val old = Hash.hextime(System.currentTimeMillis() - 3600000L)
    repo.store.write(s"tmp/$old-dead/part-0.parquet", Array[Byte](1))
    repo.store.write(s"tmp/${Hash.hextime()}-live/part-0.parquet",
      Array[Byte](1))
    repo.gc(timeoutMs = 600000L)
    val left = repo.store.ls("tmp")
    assert(!left.exists(_.endsWith("-dead")), left)
    assert(left.exists(_.endsWith("-live")), left)
    assert(rows(clct.series("_").frame()) == Seq((1L, 1.0)))
  }

  test("squash collapses history to one root revision") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    val s = clct.series("_")
    s.write(TestSpark.frame(Seq(1L), Seq(1.0)))
    Thread.sleep(3)
    s.write(TestSpark.frame(Seq(2L), Seq(2.0)))
    Thread.sleep(3)
    s.write(TestSpark.frame(Seq(3L), Seq(3.0)))
    assert(clct.changelog.log().length == 3)
    clct.squash()
    assert(clct.changelog.log().length == 1)
    assert(clct.changelog.log().head.parent == Changelog.Phi)
    assert(rows(s.frame()) == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("a leaf a racing squash re-rooted still decodes") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.series("_").write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))
    Thread.sleep(3)
    clct.squash()
    val stale = clct.changelog.leaf().get // what a writer just read
    Thread.sleep(3)
    clct.squash() // same manifest under a new root; `stale` is deleted
    assert(!repo.store.exists(s"${clct.changelog.dir}/${stale.path}"))
    Collection.clearManifestCache()
    assert(clct.decodeCached(stale).rows == clct.manifest().get.rows)
  }

  test("trim drops old revisions but keeps current data") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    val s = clct.series("_")
    s.write(TestSpark.frame(Seq(1L), Seq(1.0)))
    Thread.sleep(10)
    s.write(TestSpark.frame(Seq(2L), Seq(2.0)))
    Thread.sleep(10)
    val cut = System.currentTimeMillis()
    Thread.sleep(10)
    s.write(TestSpark.frame(Seq(3L), Seq(3.0)))
    assert(clct.changelog.log().length == 3)
    clct.trim(cut)
    clct.refresh()
    assert(clct.changelog.log().length == 1)
    assert(rows(s.frame()) == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("defrag compacts small segments") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    clct.pageLen = 100L
    val s = clct.series("_")
    (0 until 8).foreach { i =>
      s.write(TestSpark.frame(Seq(10L * i, 10L * i + 1),
        Seq(i * 1.0, i * 1.0 + 0.5)))
    }
    val before = clct.manifest().get.rows.count(_.files.nonEmpty)
    assert(before == 8)
    clct.defrag(maxChunk = 4)
    clct.refresh()
    val after = clct.manifest().get.rows.count(_.files.nonEmpty)
    assert(after < before)
    val expect = (0 until 8).flatMap(i =>
      Seq((10L * i, i * 1.0), (10L * i + 1, i * 1.0 + 0.5))).sorted
    assert(rows(s.frame()) == expect)
  }

  test("gc buries unreferenced segments and resurrects referenced ones") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // force parquet segments: gc operates on files
    val s = clct.series("_")
    s.write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))
    Thread.sleep(3)
    // overwrite everything -> first segment unreferenced after squash
    s.write(TestSpark.frame(Seq(1L, 2L), Seq(9.0, 9.0)))
    clct.squash()
    val allSegs = repo.store.walk("seg").filter(_.endsWith(".parquet"))
    val live = clct.digests()
    assert(allSegs.exists(f => !live.contains(f)))

    val buried = repo.gc(timeoutMs = 60000L)
    assert(buried > 0)
    // live files still in place, data readable
    assert(rows(s.frame()) == Seq((1L, 9.0), (2L, 9.0)))
    // second gc after timeout=0 hard-deletes buried files
    val t0 = repo.store.walk("seg").count(_.contains(".parquet.t"))
    assert(t0 == buried)
    repo.gc(timeoutMs = -1L)
    assert(repo.store.walk("seg").count(_.contains(".parquet.t")) == 0)
  }

  test("reads resurrect gc-buried segment files") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // need a real segment file to bury
    val s = clct.series("_")
    s.write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))
    val seg = repo.store.walk("seg").filter(_.endsWith(".parquet"))
    assert(seg.nonEmpty)
    // emulate a racing gc: soft-delete the referenced file
    seg.foreach(f => repo.store.mv(f, s"$f.t${Hash.hextime()}"))
    assert(rows(s.frame()) == Seq((1L, 1.0), (2L, 2.0)))
    // resurrected in place
    assert(seg.forall(repo.store.exists))

    // more than 32 files (Spark's distributed-listing threshold) and an
    // overlay-clipped segment: the frame, and the clipped-segment
    // counts of a limited read and of length(), resurrect what they scan
    (1 until 40).foreach(i => s.write(TestSpark.frame(
      Seq(10L * i, 10L * i + 1, 10L * i + 2),
      Seq(i * 1.0, i + 0.1, i + 0.2))))
    s.write(TestSpark.frame(Seq(11L), Seq(-1.0))) // clips segment i = 1
    val want = Seq((1L, 1.0), (2L, 2.0)) ++ (1 until 40).flatMap(i =>
      Seq((10L * i, i * 1.0),
        (10L * i + 1, if (i == 1) -1.0 else i + 0.1),
        (10L * i + 2, i + 0.2)))
    val many = repo.store.walk("seg").filter(_.endsWith(".parquet"))
    assert(many.length == 41)
    def buryAll(): Unit = many.filter(repo.store.exists)
      .foreach(f => repo.store.mv(f, s"$f.t${Hash.hextime()}"))
    buryAll()
    assert(rows(s.frame()) == want)
    assert(many.forall(repo.store.exists))
    buryAll()
    assert(rows(s.frame(limit = Some(6L))) == want.take(6))
    buryAll()
    assert(s.length() == want.length.toLong)
  }

  test("push/pull syncs data between repos") {
    val a = freshRepo()
    val b = freshRepo()
    val clct = a.createCollection(schema, "c")
    val s = clct.series("_")
    s.write(TestSpark.frame(Seq(1L, 2L, 3L), Seq(1.0, 2.0, 3.0)))
    a.push(b)
    val sB = b.collection("c").get.series("_")
    assert(rows(sB.frame()) == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // incremental: write more in a, pull from b side
    Thread.sleep(3)
    s.write(TestSpark.frame(Seq(4L), Seq(4.0)))
    b.pull(a)
    val clB = b.collection("c").get
    clB.refresh()
    assert(rows(clB.series("_").frame()).map(_._1) ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("series delete propagates through push and pull (sync_test parity)") {
    val a = freshRepo()
    val b = freshRepo()
    val ca = a.createCollection(schema, "c")
    Seq("a", "b", "c", "d").foreach { l =>
      ca.series(l).write(
        TestSpark.frame(Seq(1L, 2L, 3L), Seq(1.0, 2.0, 3.0)))
      Thread.sleep(2)
    }
    a.push(b)
    val cb = b.collection("c").get
    assert(cb.ls() == Seq("a", "b", "c", "d"))
    // delete one label locally, push: remote must see the deletion
    Thread.sleep(3)
    ca.deleteSeries("c")
    ca.refresh()
    a.push(b)
    cb.refresh()
    assert(ca.ls() == Seq("a", "b", "d"))
    assert(cb.ls() == Seq("a", "b", "d"))
    // delete one label remotely, pull: local must see the deletion
    Thread.sleep(3)
    cb.deleteSeries("d")
    cb.refresh()
    a.pull(b)
    ca.refresh()
    assert(cb.ls() == Seq("a", "b"))
    assert(ca.ls() == Seq("a", "b"))
    // surviving series still read correctly on both sides
    assert(rows(ca.series("a").frame()) ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    assert(rows(cb.series("b").frame()) ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("defrag on synced repos yields identical live digests (stability)") {
    val a = freshRepo()
    val b = freshRepo()
    val ca = a.createCollection(schema, "c")
    ca.embedMaxSize = 0L
    ca.pageLen = 100L
    val s = ca.series("_")
    (0 until 10).foreach { i =>
      s.write(TestSpark.frame(Seq(10L * i, 10L * i + 1),
        Seq(i * 1.0, i + 0.5)))
      Thread.sleep(2)
    }
    a.push(b)
    val cb = b.collection("c").get
    cb.embedMaxSize = 0L
    cb.pageLen = 100L
    ca.defrag()
    cb.defrag()
    ca.refresh()
    cb.refresh()
    // content-addressed rewrites: both sides must converge to the
    // SAME live segment set (reference test_series_defrag_stability)
    assert(ca.digests() == cb.digests())
    assert(rows(ca.series("_").frame()) == rows(cb.series("_").frame()))
  }

  test("series rename and delete") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.series("x").write(TestSpark.frame(Seq(1L), Seq(1.0)))
    clct.series("y").write(TestSpark.frame(Seq(2L), Seq(2.0)))
    assert(clct.ls() == Seq("x", "y"))
    clct.renameSeries("x", "z")
    clct.refresh()
    assert(clct.ls() == Seq("y", "z"))
    assert(rows(clct.series("z").frame()) == Seq((1L, 1.0)))
    clct.deleteSeries("y")
    clct.refresh()
    assert(clct.ls() == Seq("z"))
  }

  test("forked registry heals by union-merge") {
    val root = Files.createTempDirectory("graft-reg").toString
    val r1 = new Repo(root, spark)
    r1.createCollection(schema, "a")
    // r2 primes its changelog cache at the current leaf…
    val r2 = new Repo(root, spark)
    assert(r2.ls() == Seq("a"))
    // …then r1 advances the registry while r2 is stale
    r1.createCollection(schema, "b")
    // r2 commits against the stale leaf -> fork
    r2.createCollection(schema, "c")
    // a fresh reader unions both branches and heals the registry
    val r3 = new Repo(root, spark)
    assert(r3.ls() == Seq("a", "b", "c"))
    assert(r3.registry.leafs().length == 1) // healed
  }

  test("repo bulk export/import round-trips collections") {
    val a = freshRepo()
    val c = a.createCollection(schema, "c")
    c.series("s1").write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))
    c.series("s2").write(TestSpark.frame(Seq(5L), Seq(5.0)))
    val dump = Files.createTempDirectory("graft-dump").toString
    a.exportTo(dump)
    val b = freshRepo()
    b.importFrom(dump)
    assert(rows(b.collection("c").get.series("s1").frame()) ==
      Seq((1L, 1.0), (2L, 2.0)))
    assert(rows(b.collection("c").get.series("s2").frame()) ==
      Seq((5L, 5.0)))
  }

  test("trim with cutoff after the last write keeps the leaf") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    val s = clct.series("_")
    s.write(TestSpark.frame(Seq(1L), Seq(1.0)))
    Thread.sleep(5)
    s.write(TestSpark.frame(Seq(2L), Seq(2.0)))
    Thread.sleep(5)
    // cutoff in the future: every revision predates it — the leaf must
    // survive (reference keeps the last commit), data stays readable
    clct.trim(System.currentTimeMillis() + 60000L)
    clct.refresh()
    assert(clct.changelog.log().length == 1)
    assert(rows(s.frame()) == Seq((1L, 1.0), (2L, 2.0)))
  }

  test("defrag fast-forwards past large segments (no rewrite)") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // the point is file-level rewrite avoidance
    clct.pageLen = 100L
    val s = clct.series("_")
    (0 until 5).foreach { i =>
      s.write(TestSpark.frame(Seq(10L * i), Seq(i * 1.0)))
    }
    // one big segment (>= pageLen/2 rows) between the small runs
    val bigTs: Seq[Long] = (1000L until 1080L)
    s.write(TestSpark.frame(bigTs, bigTs.map(_.toDouble)))
    (0 until 5).foreach { i =>
      s.write(TestSpark.frame(Seq(2000L + 10L * i), Seq(i * 1.0)))
    }
    val bigFiles = clct.manifest().get.rows
      .filter(_.length >= 50L).flatMap(_.files).toSet
    assert(bigFiles.nonEmpty)
    clct.defrag(maxChunk = 2)
    clct.refresh()
    val after = clct.manifest().get.rows.filter(_.files.nonEmpty)
    // the big segment's file is still referenced verbatim — not rewritten
    assert(bigFiles.subsetOf(after.flatMap(_.files).toSet))
    // both small runs were compacted
    assert(after.length < 11)
    val expect = ((0 until 5).map(i => (10L * i, i * 1.0)) ++
      bigTs.map(t => (t, t.toDouble)) ++
      (0 until 5).map(i => (2000L + 10L * i, i * 1.0))).sorted
    assert(rows(s.frame()) == expect)
  }

  /** pageLen 100, files only; each label gets two defrag runs (eight
    * 2-row writes, then five 1-row ones) split by one 60-row (large)
    * write, then an overlay and a delete that clip its first run */
  private def twoRunLabels(labels: Seq[String]): Collection = {
    val clct = freshRepo().createCollection(schema, "c")
    clct.embedMaxSize = 0L
    clct.pageLen = 100L
    labels.zipWithIndex.foreach { case (l, k) =>
      val s = clct.series(l)
      def put(ts: Seq[Long], v: Long => Double): Unit =
        s.write(TestSpark.frame(ts, ts.map(v)))
      (0 until 8).foreach(i =>
        put(Seq(10L * i, 10L * i + 1), _.toDouble + k))
      put(1000L until 1060L, _ * 2.0 + k)
      (0 until 5).foreach(i => put(Seq(2000L + 10L * i), _.toDouble + k))
      put(Seq(11L, 21L), _ => -1.0 - k)
      s.delete(30L, 31L)
    }
    clct
  }

  test("defrag: one commit and at most two jobs for every run of " +
      "every label, rows unchanged") {
    val labels = Seq("a", "b", "c")
    val clct = twoRunLabels(labels)
    val before = labels.map(l => rows(clct.series(l).frame()))
    val revs = clct.changelog.log().length
    clct.refresh()
    val (_, jobs, _) = TestSpark.work(clct.defrag())
    clct.refresh()
    assert(clct.changelog.log().length == revs + 1,
      "defrag must commit exactly one revision")
    assert(jobs <= 2, s"defrag ran $jobs Spark jobs")
    val m = clct.manifest().get
    labels.foreach { l =>
      val segs = m.rows.filter(r => r.label == l && r.hasData)
      // each label: run 1, the large segment, run 2
      assert(segs.length == 3, s"$l: ${segs.map(_.length)}")
      assert(segs(1).length == 60L)
    }
    assert(labels.map(l => rows(clct.series(l).frame())) == before)
  }

  test("defrag writes page-sized segments: only a run's last one is " +
      "under pageLen/2, and a second defrag writes no file") {
    val repo = freshRepo()
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    clct.pageLen = 800000L
    val s = clct.series("_")
    // 400k rows in eight writes: each lands as the driver tier's one
    // 50k-row file (under pageLen/2, so the eight form one run), and
    // the run's ~3 MB of (incompressible) values is large enough that
    // an auto-sorted rewrite would spread it over several write tasks
    (0 until 8).foreach { i =>
      s.write(spark.range(i * 50000L, (i + 1) * 50000L, 1, 2)
        .selectExpr("id AS timestamp", "rand(7) AS value"))
    }
    val expect = rows(s.frame())
    clct.refresh()
    def dataSegs = clct.manifest().get.rows.filter(_.hasData)
    assert(dataSegs.map(m => (m.length, m.files.length)) ==
      Seq.fill(8)((50000L, 1)))
    clct.defrag()
    clct.refresh()
    val after = dataSegs
    assert(after.init.forall(_.length >= clct.pageLen / 2),
      s"sub-page segments: ${after.map(_.length)}")
    assert(after.map(_.length).sum == 400000L)
    assert(rows(s.frame()) == expect)
    // a fresh page-sized layout gives the next defrag nothing to do
    def files: Set[String] = repo.store.walk("").toSet
    val segFiles = files
    clct.defrag()
    clct.refresh()
    assert(files == segFiles, "a second defrag wrote files")
    assert(dataSegs == after)
  }

  test("defrag cuts a long run into balanced page-sized segments") {
    val clct = freshRepo().createCollection(schema, "c")
    clct.embedMaxSize = 0L
    clct.pageLen = 1000L
    val s = clct.series("_")
    (0 until 10).foreach { i =>
      val ts = (i * 310L until (i + 1) * 310L)
      s.write(TestSpark.frame(ts, ts.map(_ * 0.5)))
    }
    // clip two segments: their rows are counted from the files
    s.write(TestSpark.frame(Seq(600L, 1001L), Seq(-1.0, -2.0)))
    val expect = rows(s.frame())
    assert(expect.length == 2700)
    clct.defrag()
    clct.refresh()
    // 2700 rows: three pages of 900, none a sub-half-page tail
    assert(clct.manifest().get.rows.filter(_.hasData).map(_.length) ==
      Seq(900L, 900L, 900L))
    assert(rows(s.frame()) == expect)
  }

  test("defrag re-embeds an inline-only run on the driver, no job") {
    val clct = freshRepo().createCollection(schema, "c")
    clct.embedMaxSize = 4096L
    val s = clct.series("_")
    (0 until 6).foreach(i =>
      s.write(TestSpark.frame(Seq(10L * i, 10L * i + 1),
        Seq(i * 1.0, i + 0.5))))
    s.delete(20L, 20L)
    val expect = rows(s.frame())
    clct.refresh()
    val (_, jobs, _) = TestSpark.work(clct.defrag())
    clct.refresh()
    val segs = clct.manifest().get.rows.filter(_.hasData)
    assert(segs.length == 1 && segs.head.inline.isDefined &&
      segs.head.files.isEmpty, s"$segs")
    assert(segs.head.length == 11L)
    assert(jobs == 0, s"inline re-embed ran $jobs Spark jobs")
    assert(rows(s.frame()) == expect)
  }

  test("collection rename and delete") {
    val repo = freshRepo()
    repo.createCollection(schema, "a").series("_")
      .write(TestSpark.frame(Seq(1L), Seq(1.0)))
    repo.createCollection(schema, "b")
    assert(repo.ls() == Seq("a", "b"))
    repo.renameCollection("a", "c")
    assert(repo.ls() == Seq("b", "c"))
    assert(rows(repo.collection("c").get.series("_").frame()) ==
      Seq((1L, 1.0)))
    repo.deleteCollection("b")
    assert(repo.ls() == Seq("c"))
  }

  test("ingestGrouped: one commit, one series per group, faithful reads") {
    val repo = freshRepo()
    val gschema = GSchema("timestamp" -> "int*", "value" -> "float")
    val c = repo.createCollection(gschema, "grp")
    import spark.implicits._
    val df = Seq(
      (1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"),
      (4L, 4.0, "b"), (5L, 5.0, "c"))
      .toDF("timestamp", "value", "grp")
    val labels = c.ingestGrouped(df, "grp")
    assert(labels == Seq("a", "b", "c"))
    assert(c.ls() == Seq("a", "b", "c"))
    assert(c.changelog.log().length == 1,
      "the whole ingest must be ONE batched changelog commit")
    assert(rows(c.series("a").frame()) == Seq((1L, 1.0), (2L, 2.0)))
    assert(rows(c.series("b").frame()) == Seq((3L, 3.0), (4L, 4.0)))
    assert(rows(c.series("c").frame()) == Seq((5L, 5.0)))
    // ingest composes with overlay semantics like any other write
    c.series("a").write(TestSpark.frame(Seq(2L), Seq(20.0)))
    assert(rows(c.series("a").frame()) == Seq((1L, 1.0), (2L, 20.0)))
  }

  test("recreate after rename gets a fresh path (no shared changelog)") {
    val repo = freshRepo()
    val a1 = repo.createCollection(schema, "a")
    a1.series("_").write(TestSpark.frame(Seq(1L), Seq(1.0)))
    repo.renameCollection("a", "b")
    // re-creating "a" must NOT land on the directory "b" still owns
    val a2 = repo.createCollection(schema, "a")
    assert(a2.path != repo.collection("b").get.path)
    a2.series("_").write(TestSpark.frame(Seq(9L), Seq(9.0)))
    assert(rows(repo.collection("b").get.series("_").frame()) ==
      Seq((1L, 1.0)), "renamed collection keeps only its own data")
    assert(rows(repo.collection("a").get.series("_").frame()) ==
      Seq((9L, 9.0)))
    // reference label hygiene: strip + reject empty
    assert(repo.createCollection(schema, "  c  ").label == "c")
    intercept[IllegalArgumentException] {
      repo.createCollection(schema, "   ")
    }
  }

  test("pull keeps the local path when label paths diverged") {
    // rename/recreate histories can leave the SAME label on DIFFERENT
    // physical paths in two repos; pull must keep the local RegEntry
    // path (adopting the remote one would orphan local-only commits,
    // which gc would then delete) and land the remote changelog in it
    val a = freshRepo()
    val b = freshRepo()
    val ca0 = a.createCollection(schema, "old")
    ca0.series("_").write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))
    a.renameCollection("old", "c") // label c keeps old's path in A
    val cb = b.createCollection(schema, "c") // fresh base path in B
    cb.series("_").write(TestSpark.frame(Seq(10L), Seq(10.0)))
    val pathB = cb.path
    assert(a.collection("c").get.path != pathB, "paths must diverge")

    b.pull(a)
    val cb2 = b.collection("c").get
    assert(cb2.path == pathB,
      "pull must not repoint the local label to the remote path")
    cb2.merge()
    cb2.refresh()
    assert(rows(cb2.series("_").frame()) ==
      Seq((1L, 1.0), (2L, 2.0), (10L, 10.0)),
      "local and pulled histories both survive in the local path")
    // gc must not sweep the pulled segments (they live in the local
    // changelog even though their file keys carry the remote prefix)
    b.gc(timeoutMs = 0L)
    assert(rows(b.collection("c").get.series("_").frame()) ==
      Seq((1L, 1.0), (2L, 2.0), (10L, 10.0)))
  }

  test("ingestGrouped handles labels needing partition-dir escaping") {
    val repo = freshRepo()
    val gschema = GSchema("timestamp" -> "int*", "value" -> "float")
    val c = repo.createCollection(gschema, "grp2")
    import spark.implicits._
    // a space survives as a literal dir char but is %-encoded in the
    // file URI; ':' is Hive-escaped in the dir name itself — both
    // once silently lost the staged files (regression)
    val df = Seq((1L, 1.0, "United States"), (2L, 2.0, "a:b"))
      .toDF("timestamp", "value", "grp")
    assert(c.ingestGrouped(df, "grp") == Seq("United States", "a:b").sorted)
    assert(rows(c.series("United States").frame()) == Seq((1L, 1.0)))
    assert(rows(c.series("a:b").frame()) == Seq((2L, 2.0)))
    val nulls = Seq((3L, 3.0, null.asInstanceOf[String]))
      .toDF("timestamp", "value", "grp")
    intercept[IllegalArgumentException] { c.ingestGrouped(nulls, "grp") }
  }

  test("archive namespace: invisible to default ls, survives gc") {
    val repo = freshRepo()
    val c = repo.createCollection(schema, "metrics")
    c.series("_").write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))

    // park a snapshot under the archive namespace
    val arc = repo.archive(c)
    arc.series("_").write(c.series("_").frame())
    assert(repo.archive(c).path == arc.path, "archive() is idempotent")

    assert(repo.ls() == Seq("metrics"), "default ls hides archives")
    assert(repo.ls("archive") == Seq("metrics"))
    assert(repo.namespaces() == Seq("archive", "collection"))

    // deleting the live collection must not take the archive's
    // segments with it: the gc live set spans every namespace
    repo.deleteCollection("metrics")
    assert(repo.ls().isEmpty)
    repo.gc(timeoutMs = 0L)
    val back = repo.collection("metrics", "archive").get
    assert(rows(back.series("_").frame()) == Seq((1L, 1.0), (2L, 2.0)),
      "archived snapshot must read back intact after delete + gc")
  }
}
