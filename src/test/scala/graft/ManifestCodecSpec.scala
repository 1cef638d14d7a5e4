package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Chunked manifest payload codec (v2): incremental re-encode after
  * splices must round-trip EXACTLY (same rows as a plain encode
  * would), the root must be canonical for reuse (restore's no-op
  * digest compare), chunk-pruned reads must equal full-manifest
  * reads, and the store-facing lifecycle (commit → fresh decode →
  * gc → pull) must keep every oracle-visible behavior unchanged. */
class ManifestCodecSpec extends AnyFunSuite {
  private val schema = GSchema("ts" -> "int*", "v" -> "float")
  private val target = 16 // tiny chunks exercise every boundary

  private def memStore(): (java.util.concurrent.ConcurrentHashMap[
      String, Array[Byte]], String => Array[Byte]) = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    (m, (sha: String) => {
      val b = m.get(sha)
      require(b != null, s"missing chunk $sha")
      b
    })
  }

  /** format-dispatching decode, as Collection.decodePayload does */
  private def dec(bytes: Array[Byte],
      fetch: String => Array[Byte]): Manifest =
    if (ManifestCodec.isChunked(bytes)) ManifestCodec.decode(bytes, fetch)
    else Manifest.decode(bytes)

  /** encode with the spec's tiny target, stage fresh chunks */
  private def enc(m: Manifest,
      store: java.util.concurrent.ConcurrentHashMap[String, Array[Byte]])
      : Array[Byte] = {
    val e = ManifestCodec.encode(m, target)
    e.fresh.foreach { case (sha, b) => store.put(sha, b) }
    if (e.refs != null) {
      m.chunkRefs = e.refs; m.incPrefix = Int.MaxValue
      m.incSuffix = Int.MaxValue
    }
    e.root
  }

  private def row(lbl: String, lo: Long, hi: Long,
      files: Int = 1): SegmentMeta =
    SegmentMeta(lbl, IndexKey(Vector(lo)), IndexKey(Vector(hi)),
      Closed.Left, hi - lo,
      Vector.tabulate(files)(i => f"seg/xx/$lbl-$lo%08d-$i.parquet"),
      // recorded data bounds = write-time visible bounds (what the
      // write path records); splice truncation later narrows only
      // the VISIBLE range — the tail-pruning accounting relies on
      // this distinction
      dataStart = Some(IndexKey(Vector(lo))),
      dataStop = Some(IndexKey(Vector(hi - 1))), // last STORED key

      vstats = Some(Map("v" -> ((lo.toDouble, hi.toDouble)))))

  private def mkManifest(labels: Seq[String], tilesPerLabel: Int,
      width: Long = 100L): Manifest =
    Manifest(schema, labels.sorted.toVector.flatMap(l =>
      Vector.tabulate(tilesPerLabel)(i =>
        row(l, i * width, (i + 1) * width))))

  test("incremental encode after random splices round-trips exactly") {
    val rnd = new scala.util.Random(42)
    (0 until 30).foreach { trial =>
      val (store, fetch) = memStore()
      var m = mkManifest(Seq("a", "b", "c"), 40) // 120 rows, ~8 chunks
      dec(enc(m, store), fetch) // start from a DECODED state
      m = dec(enc(m, store), fetch)
      // a reference copy spliced identically but never chunk-encoded
      var ref = Manifest(schema, m.rows)
      (0 until 12).foreach { _ =>
        val lbl = Seq("a", "b", "c")(rnd.nextInt(3))
        val lo = rnd.nextInt(3900).toLong
        val len = (1 + rnd.nextInt(4)) * 100L
        val op = rnd.nextInt(4)
        if (op == 0) { // delete range (tombstone)
          val t = SegmentMeta(lbl, IndexKey(Vector(lo)),
            IndexKey(Vector(lo + len)), Closed.Left, 0L, Vector.empty)
          m = m.update(t); ref = ref.update(t)
        } else if (op == 1 && rnd.nextBoolean()) { // delete a label
          m = m.deleteLabels(Set(lbl)); ref = ref.deleteLabels(Set(lbl))
        } else { // tiled write
          val k = 1 + rnd.nextInt(3)
          val tiles = Vector.tabulate(k)(j => row(lbl,
            lo + j * (len / k), lo + (j + 1) * (len / k)))
          m = Manifest.spliceWrite(m, tiles)
          ref = Manifest.spliceWrite(ref, tiles)
        }
        // commit + fresh decode between some splices (the real cycle)
        if (rnd.nextBoolean()) m = dec(enc(m, store), fetch)
      }
      val out = dec(enc(m, store), fetch)
      assert(out.rows == ref.rows, s"trial $trial diverged")
      assert(out.schema == ref.schema)
    }
  }

  test("single splice re-encodes O(touched): few fresh chunks") {
    val (store, fetch) = memStore()
    var m = mkManifest(Seq("s"), 400) // 400 rows = 25 chunks @ 16
    m = ManifestCodec.decode(enc(m, store), fetch)
    val before = ManifestCodec.chunkEncodes.get()
    m = Manifest.spliceWrite(m, Vector(row("s", 20000, 20100)))
    val e = ManifestCodec.encode(m, target)
    val freshChunks = ManifestCodec.chunkEncodes.get() - before
    // one row replaced: at most the touched chunk + absorbed neighbor
    assert(freshChunks <= 3, s"$freshChunks fresh chunks for 1 splice")
    assert(e.refs.length <= 27, s"chunk count crept: ${e.refs.length}")
    e.fresh.foreach { case (sha, b) => store.put(sha, b) }
    assert(ManifestCodec.decode(e.root, fetch).rows == m.rows)
  }

  test("balanced split survives midLen*k past Int.MaxValue") {
    // 200k rows at target 16 -> k=12500, midLen*k = 2.5e9: the Int
    // arithmetic regression made `take` negative and committed a
    // corrupt root at >= ~2.93M rows under the default 4096 target
    val (store, fetch) = memStore()
    val m = Manifest(schema, Vector.tabulate(200000)(i =>
      SegmentMeta("s", IndexKey(Vector(i * 10L)),
        IndexKey(Vector((i + 1) * 10L)), Closed.Left, 10L,
        Vector.empty)))
    val e = ManifestCodec.encode(m, target)
    assert(e.refs.iterator.map(_._2.toLong).sum == 200000L)
    assert(e.refs.forall(_._2 > 0), "no negative/zero chunk sizes")
    e.fresh.foreach { case (sha, b) => store.put(sha, b) }
    assert(ManifestCodec.decode(e.root, fetch).rows == m.rows)
  }

  test("decode then re-encode is byte-canonical (restore no-op)") {
    val (store, fetch) = memStore()
    val m = mkManifest(Seq("a", "b"), 50)
    val root1 = enc(m, store)
    val dec = ManifestCodec.decode(root1, fetch)
    val root2 = ManifestCodec.encode(dec, target).root
    assert(java.util.Arrays.equals(root1, root2),
      "decoded manifest must re-encode to identical root bytes")
    // and the digest the changelog would see is stable
    assert(Hash.sha1(root1) == Hash.sha1(root2))
  }

  test("chunk-pruned reads equal full-manifest reads (property)") {
    val rnd = new scala.util.Random(7)
    val (store, fetch) = memStore()
    // irregular tile widths + multi-label to stress chunk boundaries
    var m = Manifest(schema, Vector("a", "b", "c").flatMap { l =>
      var lo = 0L
      Vector.fill(60) {
        val w = 10L + rnd.nextInt(200)
        val r = row(l, lo, lo + w); lo += w; r
      }
    })
    m = ManifestCodec.decode(enc(m, store), fetch)
    val root = ManifestCodec.parseRoot(ManifestCodec.encode(m, target).root)
    (0 until 300).foreach { _ =>
      val lbl = Seq("a", "b", "c", "zz")(rnd.nextInt(4))
      val a = rnd.nextInt(13000).toLong
      val b = a + rnd.nextInt(2000)
      val (s, e) = (
        if (rnd.nextInt(5) == 0) None else Some(IndexKey(Vector(a))),
        if (rnd.nextInt(5) == 0) None else Some(IndexKey(Vector(b))))
      val closed = Seq(Closed.Both, Closed.Left, Closed.Right,
        Closed.None_)(rnd.nextInt(4))
      val full = m.segments(lbl, s, e, closed)
      val pruned = ManifestCodec.prunedSegments(root, fetch, lbl, s, e, closed)
      assert(pruned == full, s"$lbl [$s, $e] $closed")
      // tail-pruned: a true SUFFIX of the full answer that guarantees
      // at least `need` covered rows (or is the complete answer)
      val need = 1L + rnd.nextInt(3000)
      val tp = ManifestCodec.prunedTailSegments(root, fetch, lbl,
        s, e, closed, need)
      assert(tp == full.takeRight(tp.length),
        s"tail not a suffix: $lbl [$s, $e] $closed need=$need")
      def g(sr: SegmentRead): Long =
        (sr.meta.dataStart, sr.meta.dataStop) match {
          case (Some(ds), Some(de))
              if (schema.cmpKey(sr.start, ds) < 0 ||
                (schema.cmpKey(sr.start, ds) == 0 && sr.closed.left)) &&
                (schema.cmpKey(sr.stop, de) > 0 ||
                  (schema.cmpKey(sr.stop, de) == 0 && sr.closed.right)) =>
            sr.meta.length
          case _ => 0L
        }
      assert(tp.map(g).sum >= math.min(need, full.map(g).sum),
        s"tail under-covers: $lbl [$s, $e] $closed need=$need")
    }
  }

  test("a corrupt chunk fails loudly after bounded retries") {
    val (store, fetch) = memStore()
    val m = mkManifest(Seq("a"), 80)
    val root = enc(m, store)
    val sha = ManifestCodec.chunkShas(root).head
    store.put(sha, "[]".getBytes("UTF-8")) // content no longer matches sha
    ManifestCodec.clearChunkCache()
    val ex = intercept[IllegalStateException] {
      ManifestCodec.decode(root, fetch)
    }
    assert(ex.getMessage.contains("checksum mismatch"))
  }

  // ----------------------------------------------------------------
  // end-to-end through a real Collection (store-facing lifecycle)
  // ----------------------------------------------------------------

  private def withChunkProp[T](rows: Int)(body: => T): T = {
    val prev = System.getProperty("graft.manifestChunkRows")
    System.setProperty("graft.manifestChunkRows", rows.toString)
    try body
    finally if (prev == null)
      System.clearProperty("graft.manifestChunkRows")
    else System.setProperty("graft.manifestChunkRows", prev)
  }

  private def bigRows(n: Int): Vector[SegmentMeta] =
    Vector.tabulate(n)(i => SegmentMeta("big",
      IndexKey(Vector(i * 100L)), IndexKey(Vector((i + 1) * 100L)),
      Closed.Left, 100L, Vector(f"seg/aa/bb/$i%08d.parquet")))

  test("collection lifecycle: chunked commit, O(touched) re-decode, " +
      "lazy pruned read, restore no-op") {
    withChunkProp(64) {
      val spark = TestSpark.spark
      val root = java.nio.file.Files
        .createTempDirectory("graft-chunked").toString
      val repo = new graft.api.Repo(root, spark)
      val c = repo.createCollection(schema, "cc")
      val m = Manifest(schema, bigRows(2000))
      c.commitManifest(m, Seq(Changelog.Phi))
      val leaf1 = c.changelog.leaf().get
      assert(ManifestCodec.isChunked(c.changelog.payload(leaf1)),
        "2000 rows over a 64-row target must encode chunked")

      // chunk files exist under <path>/chunks, content-addressed
      val chunkDir = s"${c.path}/chunks"
      val listed = repo.store.ls(chunkDir)
      assert(listed.nonEmpty)
      listed.foreach(f =>
        assert(Hash.sha1(repo.store.read(s"$chunkDir/$f")) == f))

      // warm decode, then a 1-write splice: the fresh handle's decode
      // of the MOVED leaf parses only the touched chunks
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      assert(new graft.api.Repo(root, spark).collection("cc").get
        .manifest().get.size == 2000)
      val s = new graft.api.Repo(root, spark).collection("cc").get
      val parses0 = ManifestCodec.chunkCache.misses
      s.commitManifest(Manifest.spliceWrite(s.manifest().get,
        Seq(SegmentMeta("big", IndexKey(Vector(55000L)),
          IndexKey(Vector(55100L)), Closed.Left, 100L,
          Vector("seg/cc/dd/new.parquet")))), Seq(leaf1.child))
      val c2 = new graft.api.Repo(root, spark).collection("cc").get
      assert(c2.manifest().get.size == 2000)
      val parsesMoved = ManifestCodec.chunkCache.misses - parses0
      assert(parsesMoved <= 4,
        s"decode of a 1-splice-moved leaf parsed $parsesMoved chunks")

      // cold lazy pruned read: clear everything, point-query — only
      // the covering chunks (+1 straddle) are parsed, not all ~32
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      val p0 = ManifestCodec.chunkCache.misses
      val got = new graft.api.Repo(root, spark).collection("cc").get
        .series("big").segments(start = 100000L, stop = 100300L)
      assert(got.length >= 3 && got.length <= 4)
      val lazyParses = ManifestCodec.chunkCache.misses - p0
      assert(lazyParses <= 3,
        s"cold point query parsed $lazyParses chunks (expected <= 3)")

      // restore to leaf1 must be a no-op-free forward commit, and
      // restoring to the CURRENT leaf commits nothing (digest match)
      val leaf2 = c2.changelog.leaf().get
      c2.restore(leaf1.child)
      val c3 = new graft.api.Repo(root, spark).collection("cc").get
      assert(c3.manifest().get.rows ==
        graft.api.Collection.manifestCache.peek(leaf1.child)
          .map(_.rows).getOrElse(c3.decodeCached(leaf1).rows))
      val nRevs = c3.changelog.log().length
      c3.restore(c3.changelog.leaf().get.child) // no-op
      assert(c3.changelog.log().length == nRevs,
        "restore to the current payload must commit nothing")
      assert(leaf2.child != c3.changelog.leaf().get.child)
    }
  }

  test("gc sweeps unreferenced chunks two-phase; referenced survive") {
    withChunkProp(64) {
      val spark = TestSpark.spark
      val root = java.nio.file.Files
        .createTempDirectory("graft-chunkgc").toString
      val repo = new graft.api.Repo(root, spark)
      val c = repo.createCollection(schema, "cc")
      c.commitManifest(Manifest(schema, bigRows(1000)), Seq(Changelog.Phi))
      // second commit REPLACES everything -> all-new chunks
      val m2 = Manifest(schema, bigRows(1000).map(r => r.copy(
        files = r.files.map(_.replace("/aa/", "/zz/")))))
      c.commitManifest(m2, Seq(c.changelog.leaf().get.child))
      val chunkDir = s"${c.path}/chunks"
      val before = repo.store.ls(chunkDir).count(!_.contains(".t"))
      c.squash() // only the latest revision survives
      val live = ManifestCodec.chunkShas(
        c.changelog.payload(c.changelog.leaf().get)).toSet
      assert(live.nonEmpty && live.size < before)
      // an in-flight writer's staging file must be invisible to the
      // sweep: HadoopStore.write stages as .tmp-<uuid> in the target
      // dir, and deleting it would lose the racing commit's chunk
      repo.store.write(s"$chunkDir/.tmp-abcdef123456",
        "inflight".getBytes("UTF-8"))
      repo.gc(timeoutMs = 0L) // phase 1: bury
      Thread.sleep(5)
      repo.gc(timeoutMs = 0L) // phase 2: reap buried
      val after = repo.store.ls(chunkDir)
      assert(after.contains(".tmp-abcdef123456"),
        "gc must never touch a writer's staging file")
      assert(after.toSet - ".tmp-abcdef123456" == live,
        s"after gc expected exactly the live chunks, got $after")
      // reads still good
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      assert(new graft.api.Repo(root, spark).collection("cc").get
        .manifest().get.rows == m2.rows)
    }
  }

  test("concurrent forked writers on a CHUNKED manifest heal losslessly") {
    withChunkProp(64) {
      val spark = TestSpark.spark
      val root = java.nio.file.Files
        .createTempDirectory("graft-chunkfork").toString
      val base = new graft.api.Repo(root, spark)
        .createCollection(schema, "cc")
      base.commitManifest(Manifest(schema,
        bigRows(1000).map(_.copy(files = Vector.empty))),
        Seq(Changelog.Phi))
      val leaf = base.changelog.leaf().get
      // two handles fork off the same leaf with disjoint splices —
      // each incremental-encodes against the shared chunk layout
      val w1 = new graft.api.Repo(root, spark).collection("cc").get
      val w2 = new graft.api.Repo(root, spark).collection("cc").get
      // both-closed rows take merge's verbatim-splice branch, so the
      // healed manifest must contain them UNCHANGED
      val r1 = SegmentMeta("big", IndexKey(Vector(200000L)),
        IndexKey(Vector(200100L)), Closed.Both, 100L, Vector.empty,
        inline = Some(Vector(Vector[Any](200000L, 1.0))))
      val r2 = SegmentMeta("big", IndexKey(Vector(700000L)),
        IndexKey(Vector(700100L)), Closed.Both, 100L, Vector.empty,
        inline = Some(Vector(Vector[Any](700000L, 2.0))))
      // snapshot BOTH manifests before either commit — a real race's
      // interleaving (each writer decodes the leaf it forked from)
      val m1 = w1.manifest().get
      val m2 = w2.manifest().get
      w1.commitManifest(Manifest.spliceWrite(m1, Seq(r1)), Seq(leaf.child))
      w2.commitManifest(Manifest.spliceWrite(m2, Seq(r2)), Seq(leaf.child))
      val healer = new graft.api.Repo(root, spark).collection("cc").get
      assert(healer.changelog.leafs().length == 2, "expected a fork")
      healer.merge()
      val after = new graft.api.Repo(root, spark).collection("cc").get
      assert(after.changelog.leafs().length == 1)
      val m = after.manifest().get
      assert(m.rows.contains(r1) && m.rows.contains(r2),
        "both branches' work must survive the heal")
      // r1/r2 sit past the 1000-tile range [0, 100000): pure appends
      assert(m.size == 1002)
    }
  }

  test("a buried-but-referenced chunk self-heals: gc resurrects it " +
      "before decoding, and a direct read resurrects it too") {
    withChunkProp(64) {
      val spark = TestSpark.spark
      val root = java.nio.file.Files
        .createTempDirectory("graft-chunkbury").toString
      val repo = new graft.api.Repo(root, spark)
      val c = repo.createCollection(schema, "cc")
      c.commitManifest(Manifest(schema,
        bigRows(1000).map(_.copy(files = Vector.empty))),
        Seq(Changelog.Phi))
      val chunkDir = s"${c.path}/chunks"
      val sha = repo.store.ls(chunkDir).head
      // simulate the gc-vs-commit race: a referenced chunk got buried
      repo.store.mv(s"$chunkDir/$sha",
        s"$chunkDir/$sha.t${Hash.hextime()}")

      // gc must NOT throw (the old order decoded payloads before the
      // resurrect pass, bricking gc forever) and must resurrect
      repo.gc(timeoutMs = 600000L)
      assert(repo.store.exists(s"$chunkDir/$sha"),
        "gc must resurrect a referenced buried chunk")

      // bury again: a plain READ must also self-heal (segment parity)
      repo.store.mv(s"$chunkDir/$sha",
        s"$chunkDir/$sha.t${Hash.hextime()}")
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      assert(new graft.api.Repo(root, spark).collection("cc").get
        .manifest().get.size == 1000)
      assert(repo.store.exists(s"$chunkDir/$sha"),
        "a read must resurrect a referenced buried chunk")
    }
  }

  test("squash on an un-healed fork heals it and keeps both branches' data") {
    // the race spec's data-loss shape, pinned without timing: squash
    // merges an open fork before collapsing, so both branches' rows
    // land in the squash root (and a fork created mid-squash would
    // survive as an ordinary fork via the ancestor-closure delete)
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqfork").toString
    val repo = new graft.api.Repo(root, spark)
    val c = repo.createCollection(schema, "cc")
    import spark.implicits._
    c.series("s").write(Seq((1L, 1.0), (2L, 2.0)).toDF("ts", "v"))
    val base = c.changelog.leaf().get
    // two commits forking off the same parent
    val rA = SegmentMeta("s", IndexKey(Vector(10L)),
      IndexKey(Vector(11L)), Closed.Both, 1L, Vector.empty,
      inline = Some(Vector(Vector[Any](10L, 10.0))))
    val rB = SegmentMeta("s", IndexKey(Vector(20L)),
      IndexKey(Vector(21L)), Closed.Both, 1L, Vector.empty,
      inline = Some(Vector(Vector[Any](20L, 20.0))))
    val m0 = c.decodeCached(base)
    c.commitManifest(Manifest.spliceWrite(m0, Seq(rA)), Seq(base.child))
    c.commitManifest(Manifest.spliceWrite(m0, Seq(rB)), Seq(base.child))
    c.refresh()
    assert(c.changelog.leafs().length == 2)
    // squash heals the fork FIRST (merge), then collapses: both
    // branches' rows land in the single squash root — last-leaf-wins
    // reads stay correct and nothing is destroyed
    c.squash()
    c.refresh()
    assert(c.changelog.leafs().length == 1,
      "squash must heal the fork into one root")
    val m = new graft.api.Repo(root, spark).collection("cc").get
      .manifest().get
    assert(m.rows.contains(rA) && m.rows.contains(rB),
      "both branches' rows must survive a forked squash")
    assert(new graft.api.Repo(root, spark).collection("cc").get
      .series("s").frame().count() == 4)
  }

  test("racing writers + gc + squash on a CHUNKED manifest lose nothing") {
    withChunkProp(64) {
     // GRAFT_RACE_ITERS>1: debug-only in-JVM repetition to corner
     // timing-sensitive interleavings without JVM restart cost
     (1 to sys.env.getOrElse("GRAFT_RACE_ITERS", "1").toInt).foreach { _ =>
      val spark = TestSpark.spark
      val root = java.nio.file.Files
        .createTempDirectory("graft-chunkrace").toString
      val schema2 = schema
      locally {
        val c0 = new graft.api.Repo(root, spark)
          .createCollection(schema2, "cc")
        c0.commitManifest(Manifest(schema2,
          bigRows(1000).map(_.copy(files = Vector.empty))),
          Seq(Changelog.Phi))
      }
      val writers = 8
      val writesPer = 6
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 1)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      // maintenance thread: gc with zero timeout hammers the bury/
      // resurrect path while roots move under it; squash collapses
      // history mid-race (the staging-file deletion bug lived here)
      pool.submit(new Runnable { def run(): Unit = {
        val r = new graft.api.Repo(root, spark)
        while (!stop.get()) {
          try {
            // realistic timeout: burying is fair game mid-race, but
            // reaping young buried files would void the two-phase
            // protection (the documented operational contract — a gc
            // timeout must exceed the longest in-flight write)
            r.gc(timeoutMs = 600000L)
            r.collection("cc").get.squash()
          } catch { case t: Throwable => errs.add(t); () }
        }
      }})
      val latch = new java.util.concurrent.CountDownLatch(writers)
      val committed = new java.util.concurrent.ConcurrentHashMap[
        Long, Seq[Revision]]()
      (0 until writers).foreach { w =>
        pool.submit(new Runnable { def run(): Unit = {
          try {
            val c = new graft.api.Repo(root, spark).collection("cc").get
            (0 until writesPer).foreach { i =>
              // disjoint both-closed appends past the base range:
              // every row must survive every heal verbatim
              val lo = 200000L + (w * writesPer + i) * 1000L
              val r = SegmentMeta("big", IndexKey(Vector(lo)),
                IndexKey(Vector(lo + 100L)), Closed.Both, 100L,
                Vector.empty,
                inline = Some(Vector(Vector[Any](lo, w.toDouble))))
              // a stale leaf just forks; merge heals it below
              val leaf = c.changelog.leaf().get
              committed.put(lo, c.commitManifest(
                Manifest.spliceWrite(c.decodeCached(leaf), Seq(r)),
                Seq(leaf.child)))
              ()
            }
          } catch { case t: Throwable => errs.add(t); () }
          finally latch.countDown()
        }})
      }
      assert(latch.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "writers timed out")
      stop.set(true)
      pool.shutdown()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(errs.isEmpty, s"race error: ${Option(errs.peek())}")
      // heal whatever forks remain, then EVERY write must be present.
      // Up to writers*writesPer forks can be alive at stop-time (every
      // commit that lost the leaf race forks); each merge() heals at
      // least one pair, so the bound is the total commit count — the
      // old guard of 20 flaked when the maintenance thread healed
      // fewer forks mid-race than usual and >20 leaves remained.
      val h = new graft.api.Repo(root, spark).collection("cc").get
      var guard = 0
      while (h.changelog.leafs().length > 1 && guard < 200) {
        h.merge(); h.refresh(); guard += 1
      }
      assert(h.changelog.leafs().length == 1,
        s"heal loop exhausted with ${h.changelog.leafs().length} leaves")
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      val m = new graft.api.Repo(root, spark).collection("cc").get
        .manifest().get
      val got = m.rows.filter(r => r.inline.isDefined &&
        r.start.values(0).asInstanceOf[Long] >= 200000L)
      if (got.length != writers * writesPer) {
        val gotLos = got.map(_.start.values(0).asInstanceOf[Long]).toSet
        val missing = (0 until writers * writesPer)
          .map(k => 200000L + k * 1000L).filterNot(gotLos)
        missing.foreach { lo =>
          val revs = committed.get(lo)
          val info = if (revs == null) "COMMIT NEVER RECORDED"
            else revs.map { r =>
              val p = s"${h.changelog.dir}/${r.path}"
              s"${r.path} exists=${new graft.api.Repo(root, spark)
                .store.exists(p)}"
            }.mkString("; ")
          System.err.println(s"[diag] lost lo=$lo rev: $info")
        }
        val entries = h.changelog.entries()
        System.err.println(s"[diag] ${entries.length} changelog entries")
        // which surviving revisions still CONTAIN each missing row?
        val hh = new graft.api.Repo(root, spark).collection("cc").get
        hh.changelog.log().foreach { r =>
          val rows = hh.decodeCached(r).rows
            .filter(x => x.inline.isDefined &&
              missing.contains(x.start.values(0).asInstanceOf[Long]))
          if (rows.nonEmpty) System.err.println(
            s"[diag] ${r.path} still holds ${rows.map(_.start)}")
        }
      }
      assert(got.length == writers * writesPer,
        s"${got.length} of ${writers * writesPer} writes survived")
      // and a final settled gc leaves every referenced chunk readable
      new graft.api.Repo(root, spark).gc(timeoutMs = 600000L)
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      assert(new graft.api.Repo(root, spark).collection("cc").get
        .manifest().get.rows == m.rows)
     }
    }
  }

  test("pull copies chunk objects with the revision files") {
    withChunkProp(64) {
      val spark = TestSpark.spark
      val srcRoot = java.nio.file.Files
        .createTempDirectory("graft-chunksrc").toString
      val dstRoot = java.nio.file.Files
        .createTempDirectory("graft-chunkdst").toString
      val srcRepo = new graft.api.Repo(srcRoot, spark)
      val src = srcRepo.createCollection(schema, "cc")
      // metadata-only rows: this test is about CHUNK objects traveling
      // with revision files (segment-file copying has its own specs)
      src.commitManifest(Manifest(schema,
        bigRows(1000).map(_.copy(files = Vector.empty))),
        Seq(Changelog.Phi))
      // warm the JVM chunk cache BEFORE pulling: the copy pass must
      // not depend on a chunk-cache miss to fire (a warm cache once
      // skipped the fetch and would have skipped the copy)
      src.manifest()
      val dstRepo = new graft.api.Repo(dstRoot, spark)
      val dst = dstRepo.createCollection(schema, "cc")
      dst.pull(src)
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      val got = new graft.api.Repo(dstRoot, spark).collection("cc").get
      assert(got.manifest().get.size == 1000)
      // chunks landed under the DESTINATION collection's path
      assert(dstRepo.store.ls(s"${dst.path}/chunks").nonEmpty)
    }
  }

  test("commit over expired-deleted reused chunks full-re-encodes " +
      "instead of bricking the branch") {
    withChunkProp(64) {
      val spark = TestSpark.spark
      val root = java.nio.file.Files
        .createTempDirectory("graft-staleref").toString
      val repo = new graft.api.Repo(root, spark)
      val c = repo.createCollection(schema, "cc")
      c.commitManifest(Manifest(schema, bigRows(2000)), Seq(Changelog.Phi))
      // a handle held PAST the gc timeout: decode now, commit later
      val held = c.manifest().get
      assert(held.chunkRefs != null)
      // meanwhile two gc passes expired-deleted every chunk object
      // (squash/trim retired the revisions referencing them)
      val chunkDir = s"${c.path}/chunks"
      repo.store.ls(chunkDir).foreach(f => repo.store.rm(s"$chunkDir/$f"))
      // the held layout's reused refs now point at nothing; without
      // the existence check this commit writes only the spliced
      // middle's fresh chunks and the root is permanently undecodable
      val spliced = Manifest.spliceWrite(held,
        Vector(SegmentMeta("big", IndexKey(Vector(55000L)),
          IndexKey(Vector(55100L)), Closed.Left, 100L,
          Vector("seg/cc/dd/new.parquet"))))
      c.commitManifest(spliced, Seq(c.changelog.leaf().get.child))
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      val got = new graft.api.Repo(root, spark).collection("cc").get
        .manifest().get
      assert(got.rows == spliced.rows,
        "full re-encode fallback must keep the branch decodable")
    }
  }

  test("gc drops an aged buried duplicate once the plain chunk is live") {
    withChunkProp(64) {
      val spark = TestSpark.spark
      val root = java.nio.file.Files
        .createTempDirectory("graft-burydup").toString
      val repo = new graft.api.Repo(root, spark)
      val c = repo.createCollection(schema, "cc")
      c.commitManifest(Manifest(schema,
        bigRows(1000).map(_.copy(files = Vector.empty))),
        Seq(Changelog.Phi))
      val chunkDir = s"${c.path}/chunks"
      val sha = repo.store.ls(chunkDir).head
      // bury raced a re-mint: plain copy live AND a buried copy.
      // mvQuiet's rename target exists, so before the aging rule these
      // duplicates were retried (and kept) by every gc pass forever.
      val young = s"$sha.t${Hash.hextime()}"
      val old = s"$sha.t${Hash.hextime(1L)}"
      val bytes = repo.store.read(s"$chunkDir/$sha")
      repo.store.write(s"$chunkDir/$young", bytes)
      repo.store.write(s"$chunkDir/$old", bytes)
      repo.gc(timeoutMs = 3600000L)
      assert(repo.store.exists(s"$chunkDir/$young"),
        "a young buried duplicate may still serve mid-flight readers")
      assert(!repo.store.exists(s"$chunkDir/$old"),
        "aged buried duplicate must be reaped, not retried forever")
      assert(repo.store.exists(s"$chunkDir/$sha"))
      graft.api.Collection.clearManifestCache()
      ManifestCodec.clearChunkCache()
      assert(new graft.api.Repo(root, spark).collection("cc").get
        .manifest().get.size == 1000)
    }
  }

  test("-Dgraft.debug: a layout stamp on a cache-shared manifest " +
      "throws; the normal commit cycle stays clean") {
    withChunkProp(64) {
      val prev = System.getProperty("graft.debug")
      System.setProperty("graft.debug", "true")
      try {
        val spark = TestSpark.spark
        val root = java.nio.file.Files
          .createTempDirectory("graft-debugstamp").toString
        val repo = new graft.api.Repo(root, spark)
        val c = repo.createCollection(schema, "cc")
        // normal cycle under the guard: chunked commit, cached decode,
        // splice through withInc, second commit — no false positive
        c.commitManifest(Manifest(schema, bigRows(500)),
          Seq(Changelog.Phi))
        val shared = c.manifest().get // JVM-cache-shared decode
        c.commitManifest(Manifest.spliceWrite(shared,
          Vector(SegmentMeta("big", IndexKey(Vector(7000L)),
            IndexKey(Vector(7100L)), Closed.Left, 100L,
            Vector("seg/cc/dd/new2.parquet")))),
          Seq(c.changelog.leaf().get.child))
        assert(shared.cacheShared,
          "manifest() must return the cache-shared object")
        // the contract the guard exists for: stamping the shared
        // object is an unsynchronized publish racing other handles
        intercept[IllegalStateException] {
          shared.stampLayout(Vector(("0" * 40, shared.size)), 0, 0)
        }
      } finally if (prev == null) System.clearProperty("graft.debug")
      else System.setProperty("graft.debug", prev)
    }
  }
}
