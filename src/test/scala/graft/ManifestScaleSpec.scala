package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side metadata costs at a 100 TB-scale manifest: 1e5
  * segments (100k segments × ~500k rows × ~2 KB/row ≈ 100 TB). Every
  * query pays the driver-side plan — prune, splice, encode, decode —
  * so these must stay interactive at that size. The bounds are
  * deliberately generous absolute ceilings (shared-host noise), but
  * tight enough that a regression to quadratic planning fails
  * loudly; the pruned/spliced SETS are asserted exactly.
  */
class ManifestScaleSpec extends AnyFunSuite {
  private val schema = GSchema("ts" -> "int*", "v" -> "float")
  private val N = 100000

  // N disjoint left-closed [i*100, (i+1)*100) segments, one file each
  private lazy val big: Manifest = {
    val rows = Vector.tabulate(N) { i =>
      SegmentMeta("_", IndexKey(Vector(i * 100L)),
        IndexKey(Vector((i + 1) * 100L)), Closed.Left, 100L,
        Vector(f"seg/aa/bb/$i%08d.parquet"))
    }
    Manifest(schema, rows)
  }

  test("pruning a 100k-segment manifest: exact and interactive") {
    big.size // build outside the timed region
    val t0 = System.nanoTime()
    (0 until 50).foreach { q =>
      val lo = (q * 199999L) % (N.toLong * 100 - 1000)
      val got = big.segments("_", Some(IndexKey(Vector(lo))),
        Some(IndexKey(Vector(lo + 300L))), Closed.Left)
      // [lo, lo+300) over width-100 tiles covers 3 or 4 segments
      assert(got.length >= 3 && got.length <= 4,
        s"[$lo, ${lo + 300}) -> ${got.length} segments")
      // clipped visible bounds land exactly on the query window
      assert(got.head.start == IndexKey(Vector(lo)))
      assert(got.last.stop == IndexKey(Vector(lo + 300L)))
      assert(got.flatMap(_.meta.files).distinct.length == got.length)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    // bisected pruning measures ~30 ms here (was ~460 ms as a linear
    // scan); the ceiling keeps generous host-noise headroom while
    // still failing a regression back to O(manifest)
    assert(ms < 400, f"50 prunes over $N segments took $ms%.0f ms")
    info(f"50 prunes over $N segments: $ms%.0f ms total")
  }

  test("a write splices into a 100k-segment manifest via bisect") {
    big.size
    val base = 5000000L
    val tiles = Seq.tabulate(8)(j => SegmentMeta("_",
      IndexKey(Vector(base + j * 100L)),
      IndexKey(Vector(base + (j + 1) * 100L)), Closed.Left, 100L,
      Vector(f"seg/cc/dd/$j%04d.parquet")))
    val t0 = System.nanoTime()
    val m2 = Manifest.spliceWrite(big, tiles)
    val ms = (System.nanoTime() - t0) / 1e6
    // the overlay replaced exactly the 8 covered tiles
    assert(math.abs(m2.size - big.size) <= 2, s"${m2.size} vs ${big.size}")
    val after = m2.segments("_", Some(IndexKey(Vector(base))),
      Some(IndexKey(Vector(base + 800L))), Closed.Left)
    assert(after.flatMap(_.meta.files).toSet ==
      tiles.flatMap(_.files).toSet, "spliced window must serve the new files")
    // neighbors outside the window are untouched
    val left = m2.segments("_", Some(IndexKey(Vector(base - 100L))),
      Some(IndexKey(Vector(base))), Closed.Left)
    assert(left.flatMap(_.meta.files) ==
      Vector(f"seg/aa/bb/${base / 100 - 1}%08d.parquet"))
    assert(ms < 2000, f"splice took $ms%.0f ms")
    info(f"8-tile splice into $N segments: $ms%.0f ms")
  }

  test("pruning and splicing stay logarithmic at 1e6 segments") {
    // 10x the pinned scale (1e6 segments x 500k rows x ~2 KB/row ~
    // 1 EB for one series — far past any sane layout, so this is a
    // pure slope check: bisect pruning and splicing must grow
    // O(log n + k), i.e. barely move vs the 1e5 numbers, and a
    // regression to a linear scan fails the ceiling loudly).
    val n10 = 1000000
    val huge = Manifest(schema, Vector.tabulate(n10) { i =>
      SegmentMeta("_", IndexKey(Vector(i * 100L)),
        IndexKey(Vector((i + 1) * 100L)), Closed.Left, 100L,
        Vector(f"seg/aa/bb/$i%08d.parquet"))
    })
    huge.size // build outside the timed region
    val t0 = System.nanoTime()
    (0 until 50).foreach { q =>
      val lo = (q * 1999999L) % (n10.toLong * 100 - 1000)
      val got = huge.segments("_", Some(IndexKey(Vector(lo))),
        Some(IndexKey(Vector(lo + 300L))), Closed.Left)
      assert(got.length >= 3 && got.length <= 4,
        s"[$lo, ${lo + 300}) -> ${got.length} segments")
      assert(got.head.start == IndexKey(Vector(lo)))
      assert(got.last.stop == IndexKey(Vector(lo + 300L)))
    }
    val prunesMs = (System.nanoTime() - t0) / 1e6
    // measured ~11 ms bisected; the pre-bisect linear scan took
    // ~4,960 ms and only just passed a 5 s ceiling — this bound is
    // what actually pins the slope
    assert(prunesMs < 400,
      f"50 prunes over $n10 segments took $prunesMs%.0f ms")
    val tiles = Seq.tabulate(8)(j => SegmentMeta("_",
      IndexKey(Vector(50000000L + j * 100L)),
      IndexKey(Vector(50000000L + (j + 1) * 100L)), Closed.Left, 100L,
      Vector(f"seg/cc/dd/$j%04d.parquet")))
    val t1 = System.nanoTime()
    val m2 = Manifest.spliceWrite(huge, tiles)
    val spliceMs = (System.nanoTime() - t1) / 1e6
    assert(math.abs(m2.size - huge.size) <= 2)
    val after = m2.segments("_", Some(IndexKey(Vector(50000000L))),
      Some(IndexKey(Vector(50000800L))), Closed.Left)
    assert(after.flatMap(_.meta.files).toSet ==
      tiles.flatMap(_.files).toSet)
    assert(spliceMs < 2000, f"splice took $spliceMs%.0f ms")
    info(f"1e6 segments: 50 prunes $prunesMs%.0f ms, " +
      f"8-tile splice $spliceMs%.0f ms")
  }

  test("encode/decode round-trips 100k segments within bounds") {
    big.size
    val t0 = System.nanoTime()
    val bytes = big.encode
    val tEnc = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val m2 = Manifest.decode(bytes)
    val tDec = (System.nanoTime() - t1) / 1e6
    assert(m2.size == big.size)
    assert(m2.rows(12345) == big.rows(12345))
    assert(m2.rows(N - 1) == big.rows(N - 1))
    // one commit's metadata cost at 100 TB scale: seconds, not minutes
    assert(tEnc < 10000, f"encode $tEnc%.0f ms")
    assert(tDec < 10000, f"decode $tDec%.0f ms")
    info(f"$N-segment manifest: ${bytes.length / 1024} KB, " +
      f"encode $tEnc%.0f ms, decode $tDec%.0f ms")
  }

  test("chunked commits at 1e5 segments: encode, decode and cold " +
      "pruned reads are O(touched), not O(manifest)") {
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-chunkscale").toString
    val repo = new graft.api.Repo(root, spark)
    val c = repo.createCollection(schema, "cc")
    big.size
    // initial commit pays the one-time full chunking (~25 chunks)
    c.commitManifest(Manifest(schema, big.rows), Seq(Changelog.Phi))
    val leaf1 = c.changelog.leaf().get
    assert(ManifestCodec.isChunked(c.changelog.payload(leaf1)))

    // a single write's COMMIT re-encodes only the touched chunks
    graft.api.Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    val warm = new graft.api.Repo(root, spark).collection("cc").get
    val m1 = warm.manifest().get // warm full decode (baseline state)
    val enc0 = ManifestCodec.chunkEncodes.get()
    val t0 = System.nanoTime()
    warm.commitManifest(Manifest.spliceWrite(m1,
      Seq(SegmentMeta("_", IndexKey(Vector(5000000L)),
        IndexKey(Vector(5000100L)), Closed.Left, 100L,
        Vector("seg/cc/dd/new.parquet")))), Seq(leaf1.child))
    val commitMs = (System.nanoTime() - t0) / 1e6
    val freshChunks = ManifestCodec.chunkEncodes.get() - enc0
    assert(freshChunks <= 3,
      s"1-splice commit re-encoded $freshChunks chunks")
    // full encode measured ~2.8 s at this scale; incremental ~17 ms.
    // The CHUNK COUNTER above is the O(touched) pin; the wall ceiling
    // only guards a regression to full re-encode (JIT/IO headroom)
    assert(commitMs < 1000, f"incremental commit took $commitMs%.0f ms")

    // a fresh statement on the MOVED leaf re-parses only those chunks
    graft.api.Collection.clearManifestCache() // chunk cache stays warm
    val p0 = ManifestCodec.chunkCache.misses
    val c2 = new graft.api.Repo(root, spark).collection("cc").get
    assert(c2.manifest().get.size == big.size)
    val reparsed = ManifestCodec.chunkCache.misses - p0
    assert(reparsed <= 3,
      s"moved-leaf decode re-parsed $reparsed chunks (expected <= 3)")

    // stone-cold point query: root + covering chunks only
    graft.api.Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    val q0 = ManifestCodec.chunkCache.misses
    val t1 = System.nanoTime()
    val got = new graft.api.Repo(root, spark).collection("cc").get
      .series("_").segments(start = 7000000L, stop = 7000300L)
    val coldMs = (System.nanoTime() - t1) / 1e6
    assert(got.length >= 3 && got.length <= 4)
    val coldParses = ManifestCodec.chunkCache.misses - q0
    assert(coldParses <= 3,
      s"cold point query parsed $coldParses of ~25 chunks")
    // full cold decode is ~4 s here; the pruned path is ~50 ms
    assert(coldMs < 1500, f"cold pruned point query took $coldMs%.0f ms")
    info(f"1e5 chunked: incremental commit $commitMs%.0f ms " +
      f"($freshChunks fresh chunks), moved-leaf re-decode $reparsed " +
      f"chunks, cold pruned query $coldMs%.0f ms ($coldParses chunks)")
  }

  test("manifest decode cache: second fresh handle decodes nothing, " +
      "changed leaf invalidates") {
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-mancache").toString
    val schema = graft.core.GSchema("ts" -> "int*", "v" -> "float")
    val repo0 = new graft.api.Repo(root, spark)
    val c0 = repo0.createCollection(schema, "c")
    c0.embedMaxSize = 0L // real parquet segments, real manifest rows
    import spark.implicits._
    c0.series("s").write(Seq((1L, 1.0), (2L, 2.0)).toDF("ts", "v"))
    // warm: first fresh handle pays one decode of the leaf manifest
    graft.api.Collection.clearManifestCache()
    val r1 = new graft.api.Repo(root, spark)
    assert(r1.collection("c").get.series("s").frame().count() == 2)
    val afterFirst = graft.api.Collection.manifestCache.misses
    // the SQL-door pattern: a SECOND fresh Repo+Collection handle on
    // the unchanged leaf must decode NOTHING (JVM-wide content-
    // addressed hit) — per-statement driver cost O(1) in manifest size
    val r2 = new graft.api.Repo(root, spark)
    assert(r2.collection("c").get.series("s").frame().count() == 2)
    assert(graft.api.Collection.manifestCache.misses == afterFirst,
      "fresh handle on an unchanged leaf must not re-decode the manifest")
    // a commit through ANY handle moves the leaf: the next fresh
    // handle sees the new data at once (leaf listing is never cached)
    // and pays exactly one new decode for the new revision id
    new graft.api.Repo(root, spark).collection("c").get
      .series("s").write(Seq((3L, 3.0)).toDF("ts", "v"))
    val afterWrite = graft.api.Collection.manifestCache.misses
    val r3 = new graft.api.Repo(root, spark)
    assert(r3.collection("c").get.series("s").frame().count() == 3)
    assert(graft.api.Collection.manifestCache.misses > afterWrite,
      "a changed leaf must be decoded fresh (new revision id)")
  }

  test("chunked commits at 1e6 segments: splice-commit and cold " +
      "pruned read stay O(touched)") {
    // the codec-path sibling of the 1e5 pin one scale decade up
    // (~245 chunks at the default 4096-row target): the counters,
    // not the wall ceilings, are the O(touched) assertions — they
    // must NOT grow with the decade
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-chunk1e6").toString
    val repo = new graft.api.Repo(root, spark)
    val c = repo.createCollection(schema, "cc")
    val n10 = 1000000
    val huge = Manifest(schema, Vector.tabulate(n10) { i =>
      SegmentMeta("_", IndexKey(Vector(i * 100L)),
        IndexKey(Vector((i + 1) * 100L)), Closed.Left, 100L,
        Vector(f"seg/aa/bb/$i%08d.parquet"),
        // recorded data bounds (what the write path stamps) — the
        // cold-tail accounting counts only bounds-covered segments
        dataStart = Some(IndexKey(Vector(i * 100L))),
        dataStop = Some(IndexKey(Vector((i + 1) * 100L - 1))))
    })
    val tFull = System.nanoTime()
    c.commitManifest(huge, Seq(Changelog.Phi))
    val fullS = (System.nanoTime() - tFull) / 1e9
    val leaf1 = c.changelog.leaf().get
    val root1 = ManifestCodec.parseRoot(c.changelog.payload(leaf1))
    assert(root1.chunks.length >= 200,
      s"expected ~245 chunks, got ${root1.chunks.length}")

    // warm decode baseline, then a 1-splice commit
    graft.api.Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    val warm = new graft.api.Repo(root, spark).collection("cc").get
    val m1 = warm.manifest().get
    val enc0 = ManifestCodec.chunkEncodes.get()
    val t0 = System.nanoTime()
    warm.commitManifest(Manifest.spliceWrite(m1,
      Seq(SegmentMeta("_", IndexKey(Vector(50000000L)),
        IndexKey(Vector(50000100L)), Closed.Left, 100L,
        Vector("seg/cc/dd/new.parquet")))), Seq(leaf1.child))
    val commitMs = (System.nanoTime() - t0) / 1e6
    val freshChunks = ManifestCodec.chunkEncodes.get() - enc0
    assert(freshChunks <= 3,
      s"1-splice commit at 1e6 re-encoded $freshChunks chunks")
    assert(commitMs < 2000, f"incremental commit took $commitMs%.0f ms")

    // fresh statement on the moved leaf: O(touched) re-parse
    graft.api.Collection.clearManifestCache() // chunk cache stays warm
    val p0 = ManifestCodec.chunkCache.misses
    assert(new graft.api.Repo(root, spark).collection("cc").get
      .manifest().get.size == n10)
    val reparsed = ManifestCodec.chunkCache.misses - p0
    assert(reparsed <= 3,
      s"moved-leaf decode re-parsed $reparsed of ~245 chunks")

    // stone-cold bounded read: covering chunks + straddle only
    graft.api.Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    val q0 = ManifestCodec.chunkCache.misses
    val t1 = System.nanoTime()
    val got = new graft.api.Repo(root, spark).collection("cc").get
      .series("_").segments(start = 70000000L, stop = 70000300L)
    val coldMs = (System.nanoTime() - t1) / 1e6
    assert(got.length >= 3 && got.length <= 4)
    val coldParses = ManifestCodec.chunkCache.misses - q0
    assert(coldParses <= 3,
      s"cold point query parsed $coldParses of ~245 chunks")
    assert(coldMs < 2500, f"cold pruned point query took $coldMs%.0f ms")

    // stone-cold tail: trailing chunks only — the label spans ~245
    // chunks but a need of 500 rows is guaranteed by the last chunk
    // (+ none to spare), so the walk stops immediately
    graft.api.Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    val tq0 = ManifestCodec.chunkCache.misses
    val tailSegs = new graft.api.Repo(root, spark).collection("cc").get
      .prunedTailSegments("_", None, None, graft.core.Closed.Left,
        None, need = 500L)
    val tailParses = ManifestCodec.chunkCache.misses - tq0
    assert(tailSegs.nonEmpty)
    assert(tailSegs.last.stop == IndexKey(Vector(100000000L)))
    assert(tailParses <= 2,
      s"cold tail parsed $tailParses of ~245 chunks")

    // stone-cold head: leading chunks only (the one-sided SQL DELETE
    // bound probe — it used to decode the WHOLE manifest)
    graft.api.Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    val hq0 = ManifestCodec.chunkCache.misses
    val headSegs = new graft.api.Repo(root, spark).collection("cc").get
      .prunedHeadSegments("_", None, None, graft.core.Closed.Left,
        None, need = 1L)
    val headParses = ManifestCodec.chunkCache.misses - hq0
    assert(headSegs.nonEmpty)
    assert(headSegs.head.start == IndexKey(Vector(0L)))
    assert(headParses <= 2,
      s"cold head parsed $headParses of ~245 chunks")
    info(f"1e6 chunked: full encode $fullS%.1fs (${root1.chunks.length} " +
      f"chunks), incremental commit $commitMs%.0f ms ($freshChunks " +
      f"fresh), moved-leaf re-decode $reparsed chunks, cold pruned " +
      f"query $coldMs%.0f ms ($coldParses chunks)")
  }

  test("a DDL against a 1e5-collection registry commits O(touched)") {
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-reg1e5").toString
    val repo = new graft.api.Repo(root, spark)
    val schema = GSchema("ts" -> "int*", "v" -> "float")
    // seed 1e5 entries in ONE commit (the full-encode cost is paid
    // once here; incremental DDLs are what must stay O(touched))
    val state = (0 until 100000).map { i =>
      "collection\u0000" + f"t$i%05d" ->
        graft.api.Repo.RegEntry(f"c-$i%08x", schema, Map.empty, Map.empty)
    }.toMap
    val t0 = System.nanoTime()
    repo.writeRegWithParents(state, Seq(Changelog.Phi))
    val seedS = (System.nanoTime() - t0) / 1e9
    assert(graft.api.RegistryCodec.isChunked(
      repo.registry.payload(repo.registry.leaf().get)))

    // ONE createCollection = one registry DDL: wall-clock interactive
    // and counter-pinned at <= 3 fresh chunks (touched + absorbed
    // neighbor), entries re-serialized O(chunk), not O(registry)
    val encBefore = graft.api.RegistryCodec.chunkEncodes.get()
    val t1 = System.nanoTime()
    repo.createCollection(schema, "zz-one-more")
    val ddlS = (System.nanoTime() - t1) / 1e9
    val freshChunks = graft.api.RegistryCodec.chunkEncodes.get() - encBefore
    info(f"seed(full encode)=$seedS%.2fs  ddl=$ddlS%.3fs  " +
      f"freshChunks=$freshChunks")
    assert(freshChunks <= 3, s"$freshChunks fresh chunks for one DDL")
    // one same-process retry on a wall-clock miss (round 16): this VM
    // measured the identical DDL at 0.29 s and 3.2 s across runs with
    // unchanged code (neighbor-steal windows) — a REAL O(registry)
    // regression fails both attempts, a one-off host stall does not.
    // The chunk counters above stay unconditional.
    var retried = 0 // the retry CREATES a collection — count it below
    val ddlS2 = if (ddlS < 2.0) ddlS else {
      val t2 = System.nanoTime()
      repo.createCollection(schema, "zz-one-more-r")
      retried = 1
      val r = (System.nanoTime() - t2) / 1e9
      info(f"retry ddl=$r%.3fs (first attempt $ddlS%.2fs)"); r
    }
    assert(ddlS2 < 2.0,
      f"DDL took $ddlS%.2fs / retry $ddlS2%.2fs against 1e5 collections")

    // a second DDL through the seeded cache stays O(touched),
    // decodes nothing (the SQL door's fresh-statement pattern) and
    // pays NO full key sort (the cached sorted-key array splices)
    val parses0 = graft.api.RegistryCodec.chunkCache.misses
    val enc0 = graft.api.RegistryCodec.chunkEncodes.get()
    val sorts0 = graft.api.Repo.regFullSorts.get()
    repo.createCollection(schema, "zz-two-more")
    assert(graft.api.RegistryCodec.chunkEncodes.get() - enc0 <= 3)
    assert(graft.api.RegistryCodec.chunkCache.misses - parses0 == 0,
      "warm DDL must not re-decode any chunk")
    assert(graft.api.Repo.regFullSorts.get() == sorts0,
      "warm DDL must not re-sort the key space")
    // and a fresh handle sees everything (seed + zz-one-more +
    // zz-two-more, plus zz-one-more-r when the perf retry fired —
    // the retry path used to fail this count exactly in the noisy
    // scenario it exists to tolerate)
    assert(new graft.api.Repo(root, spark).ls().length ==
      100002 + retried)
  }

  test("SQL-door composition: a stone-cold SELECT with an index " +
      "predicate against a 1e6-segment table plans O(touched)") {
    // the parts are each pinned (bisected prune, chunked decode,
    // registry cache); this is their COMPOSITION — the statement a
    // 100 TB user actually runs: fresh session, cold caches, one
    // indexed SELECT through the catalog. Driver planning must touch
    // only the covering chunks, and the scan must open only the
    // pruned segments (real files exist ONLY inside the probed
    // window — touching any other segment crashes the test).
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-conncold").toString
    val repo = new graft.api.Repo(root, spark)
    val c = repo.createCollection(schema, "cc")
    val n10 = 1000000
    // real files for the probed window plus one straddle-widen
    // neighbor each side
    (699999 to 700003).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("seg").toString
      spark.range(i * 100L, (i + 1) * 100L, 1, 1)
        .selectExpr("id AS ts", "cast(id AS double) AS v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(root, "seg/aa/bb",
        f"$i%08d.parquet")
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.copy(part.toPath, dest)
    }
    val huge = Manifest(schema, Vector.tabulate(n10) { i =>
      SegmentMeta("_", IndexKey(Vector(i * 100L)),
        IndexKey(Vector((i + 1) * 100L)), Closed.Left, 100L,
        Vector(f"seg/aa/bb/$i%08d.parquet"),
        dataStart = Some(IndexKey(Vector(i * 100L))),
        dataStop = Some(IndexKey(Vector((i + 1) * 100L - 1))))
    })
    c.commitManifest(huge, Seq(Changelog.Phi))

    val cat = "gcold" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    // stone-cold: what a fresh driver JVM's first statement sees
    graft.api.Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    graft.api.Repo.clearRegDecodeCache()
    val p0 = ManifestCodec.chunkCache.misses
    val t0 = System.nanoTime()
    val df = spark.sql(
      s"""SELECT sum(v) AS sv, count(*) AS n FROM $cat.cc.`_`
         |WHERE ts >= 70000000 AND ts < 70000300""".stripMargin)
    df.queryExecution.executedPlan // force full driver planning
    val planMs = (System.nanoTime() - t0) / 1e6
    val row = df.collect()(0)
    val execMs = (System.nanoTime() - t0) / 1e6 - planMs
    val m = graft.sources.GraftMetrics.of(df)
    // correctness: exactly the 300 rows of the window
    assert(row.getLong(1) == 300L)
    assert(math.abs(row.getDouble(0) -
      (70000000L to 70000299L).map(_.toDouble).sum) < 1e-3)
    // segments OPENED == the pruned answer (3 covering, +1 possible
    // straddle-widen) out of 1e6
    val scanned = m(graft.sources.GraftMetrics.SegmentsKept)
    assert(scanned >= 3 && scanned <= 4,
      s"scan opened $scanned of $n10 segments")
    assert(m(graft.sources.GraftMetrics.SegmentsTotal) == n10)
    // planning parsed only the covering manifest chunks, not ~245
    val parses = ManifestCodec.chunkCache.misses - p0
    assert(parses <= 3,
      s"cold SQL planning parsed $parses manifest chunks")
    assert(planMs < 5000,
      f"cold planning at 1e6 segments took $planMs%.0f ms")
    info(f"conn_cold_1e6seg: plan $planMs%.0f ms, exec $execMs%.0f " +
      f"ms, $scanned/$n10 segments, $parses chunk parses")
  }

  test("a DDL against a 1e6-collection registry: O(touched) chunks, " +
      "zero full sorts, interactive wall-clock") {
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-reg1e6").toString
    val repo = new graft.api.Repo(root, spark)
    val schema = GSchema("ts" -> "int*", "v" -> "float")
    val state = (0 until 1000000).map { i =>
      "collection\u0000" + f"t$i%07d" ->
        graft.api.Repo.RegEntry(f"c-$i%08x", schema, Map.empty, Map.empty)
    }.toMap
    val t0 = System.nanoTime()
    repo.writeRegWithParents(state, Seq(Changelog.Phi))
    val seedS = (System.nanoTime() - t0) / 1e9

    // warm the DDL machinery once (materializes the taken-paths set
    // lazily; the seed commit already cached the sorted keys), then
    // pin the steady state: no full sort, no chunk re-parse, <=3
    // fresh chunks, and a wall-clock ceiling with slack for CI noise
    repo.createCollection(schema, "zz-warm")
    val sorts0 = graft.api.Repo.regFullSorts.get()
    val parses0 = graft.api.RegistryCodec.chunkCache.misses
    val enc0 = graft.api.RegistryCodec.chunkEncodes.get()
    val t1 = System.nanoTime()
    repo.createCollection(schema, "zz-one-more")
    val ddlS = (System.nanoTime() - t1) / 1e9
    info(f"seed(full encode)=$seedS%.2fs  warm ddl=$ddlS%.3fs  " +
      f"freshChunks=${graft.api.RegistryCodec.chunkEncodes.get() - enc0}")
    assert(graft.api.Repo.regFullSorts.get() == sorts0,
      "a warm DDL at 1e6 entries must not sort the key space")
    assert(graft.api.RegistryCodec.chunkCache.misses - parses0 == 0)
    assert(graft.api.RegistryCodec.chunkEncodes.get() - enc0 <= 3)
    // same one-retry noise policy as the 1e5 pin (round 16): the
    // counter pins above are unconditional; only the wall clock gets
    // a second attempt (this test measured 0.083-1.015 s across runs
    // of identical code under neighbor steal).
    val ddlS2 = if (ddlS < 1.0) ddlS else {
      val t2 = System.nanoTime()
      repo.createCollection(schema, "zz-one-more-r")
      val r = (System.nanoTime() - t2) / 1e9
      info(f"retry ddl=$r%.3fs (first attempt $ddlS%.2fs)"); r
    }
    assert(ddlS2 < 1.0,
      f"DDL took $ddlS%.2fs / retry $ddlS2%.2fs against 1e6 collections")
  }

  test("registry decode cache: content-addressed hits, DDL-coherent") {
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft-regcache").toString
    val schema = graft.core.GSchema("ts" -> "timestamp*", "v" -> "float")
    new graft.api.Repo(root, spark).createCollection(schema, "a")
    // two fresh handles reading the same leaf share ONE decoded map
    // (eq, not just ==): the per-statement fresh-Repo pattern the SQL
    // door uses costs one registry parse per LEAF, not per statement
    val r1 = new graft.api.Repo(root, spark)
    val r2 = new graft.api.Repo(root, spark)
    assert(r1.ls() == Seq("a") && r2.ls() == Seq("a"))
    val c1 = r1.collection("a").get
    val c2 = r2.collection("a").get
    assert(c1.path == c2.path)
    // DDL through ANOTHER handle is visible to a fresh handle at once
    // (the leaf listing is never cached — only the decode under a
    // content-addressed revision id)
    new graft.api.Repo(root, spark).createCollection(schema, "b",
      pageLen = Some(123L))
    val r3 = new graft.api.Repo(root, spark)
    assert(r3.ls() == Seq("a", "b"))
    assert(r3.collection("b").get.pageLen == 123L)
  }
}
