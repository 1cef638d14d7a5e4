package graft

import graft.api._
import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Crash-point ENUMERATION over the engine's commit protocols.
  *
  * The reference's durability story (lakota/changelog.py,
  * lakota/repo.py gc) is "content-addressed blobs + an append-only
  * changelog entry as the single commit point": a writer that dies at
  * ANY moment leaves either the old state or the new state visible,
  * never a torn one, and the orphaned blobs are gc-able. This spec
  * proves the same contract for every store MUTATION the Scala engine
  * performs: for each scenario it first dry-runs the operation
  * counting mutating store ops (write/mv/rm — reads can't tear
  * state), then replays it from the same starting snapshot once PER
  * OP INDEX with a store that throws at that op and keeps throwing
  * (a dead process doesn't come back), and asserts with a cold fresh
  * handle (all JVM caches dropped) that
  *
  *  1. the repo is still fully READABLE (no exception — a reader
  *     hitting a gc-buried chunk must self-heal),
  *  2. the visible state is one of the states the scenario allows
  *     (old or new — never a hybrid), and
  *  3. re-running the operation HEALS: the final state equals the
  *     completed-run state (retries are the reference's crash
  *     recovery mechanism — content-addressed names make them
  *     idempotent).
  *
  * Segment DATA files are written task-side by Spark and promoted
  * into place through these same Store ops, so the enumeration
  * covers the promotion, manifest/registry/changelog commits, gc's
  * bury+resurrect two-phase, squash/defrag rewrites, and merge.
  */
object CrashConsistencySpec {
  /** Thrown by the gated store; once armed it keeps firing (the
    * crashed process never performs another IO). */
  final class CrashPoint(n: Int)
    extends RuntimeException(s"injected crash at mutation #$n")
}

class CrashConsistencySpec extends AnyFunSuite {
  import CrashConsistencySpec.CrashPoint
  lazy val spark = TestSpark.spark

  /** Counts MUTATING ops (write/mv/rm); throws from op index
    * `crashAt` (0-based) onward. Reads/lists pass through untouched —
    * they cannot tear on-disk state. */
  final class CrashStore(inner: Store) extends Store {
    val ops = new AtomicInteger(0)
    @volatile var crashAt: Int = Int.MaxValue
    private def gate(): Unit = {
      val n = ops.getAndIncrement()
      if (n >= crashAt) throw new CrashPoint(n)
    }
    def write(path: String, data: Array[Byte]): Boolean = {
      gate(); inner.write(path, data)
    }
    def rm(path: String, recursive: Boolean): Unit = {
      gate(); inner.rm(path, recursive)
    }
    def mv(from: String, to: String): Unit = { gate(); inner.mv(from, to) }
    def ls(dir: String): Seq[String] = inner.ls(dir)
    def read(path: String): Array[Byte] = inner.read(path)
    def exists(path: String): Boolean = inner.exists(path)
    def walk(prefix: String): Seq[String] = inner.walk(prefix)
    def uri(path: String): String = inner.uri(path)
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
  }

  private def clearCaches(): Unit = {
    Collection.clearManifestCache()
    ManifestCodec.clearChunkCache()
    Repo.clearRegDecodeCache()
  }

  /** Logical state of the whole repo: every collection label with the
    * sorted rows of each of its series (`_` always, present or not).
    * Computed through a cold fresh
    * handle — any torn metadata or lost chunk shows up here as an
    * exception or a wrong row set. */
  private def fingerprint(root: String): String = {
    clearCaches()
    val repo = new Repo(root, spark)
    val live = repo.ls().sorted.map { l =>
      val c = repo.collection(l).get
      val series = ("_" +: c.ls()).distinct.sorted.map { sl =>
        val rows = c.series(sl).frame()
          .select("timestamp", "value").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
        s"$sl:${rows.mkString(",")}"
      }
      s"$l=${series.mkString("/")}"
    }.mkString(";")
    live + repo.ls("archive").sorted.mkString("|arch[", ",", "]")
  }

  private def crashOf(t: Throwable): Option[CrashPoint] = t match {
    case null => None
    case c: CrashPoint => Some(c)
    case _ => crashOf(t.getCause).orElse(
      t.getSuppressed.iterator.flatMap(crashOf(_).iterator).nextOption())
  }

  val schema = GSchema("timestamp" -> "int*", "value" -> "float")

  /** @param setup    state every replay starts from (runs once, then
    *                 the dir is SNAPSHOTTED and copied per crash point)
    * @param op       the operation under crash enumeration
    * @param heal     recovery action on a crashed copy; defaults to
    *                 re-running `op` (content addressing makes the
    *                 retry idempotent). DDL retries check first — the
    *                 reference's retry-after-crash is "look, then redo".
    * @param extraOk  additional legal post-crash fingerprints beyond
    *                 {old, new} (merge: each fork's pre-merge view).
    * @param prefixes legal INTERMEDIATE states, each expressed as a
    *                 transform applied to a copy of the setup
    *                 snapshot; the harness fingerprints the result and
    *                 admits it (multi-commit ops like clone pass
    *                 through states that are neither old nor new but
    *                 are consistent snapshots in their own right). */
  case class Scenario(name: String, setup: Repo => Unit,
      op: Repo => Unit, heal: Repo => Unit = null,
      extraOk: Set[String] = Set.empty,
      prefixes: Seq[Repo => Unit] = Nil)

  /** Collection handle with segment embedding OFF: tiny writes
    * otherwise inline their rows into the changelog commit and the
    * whole protocol collapses to ONE store op (separately pinned
    * below) — real parquet chunks + manifest + changelog is the
    * multi-op sequence worth enumerating. */
  private def coll(repo: Repo, label: String): Collection = {
    val c = repo.collection(label).get
    c.embedMaxSize = 0L
    c
  }

  private def wr(repo: Repo, label: String, ts: Seq[Long],
      mul: Double = 1.0, series: String = "_"): Unit =
    coll(repo, label).series(series)
      .write(TestSpark.frame(ts, ts.map(_ * mul)))

  def scenarios: Seq[Scenario] = Seq(
    Scenario("series write (chunks + manifest + changelog)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 40L)
      },
      op = r => wr(r, "c", 40L until 80L)),
    Scenario("overlay write (splice over existing segments)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 60L)
      },
      op = r => wr(r, "c", 20L until 40L, mul = 2.0)),
    Scenario("delete range (tombstone splice)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 60L)
      },
      op = r => coll(r, "c").series("_").delete(15L, 45L)),
    Scenario("create collection (registry commit)",
      setup = r => r.createCollection(schema, "c"),
      op = r => r.createCollection(schema, "d"),
      heal = r =>
        if (r.collection("d").isEmpty) r.createCollection(schema, "d")),
    Scenario("rename collection",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 10L)
      },
      op = r => r.renameCollection("c", "e"),
      heal = r =>
        if (r.collection("e").isEmpty) r.renameCollection("c", "e")),
    Scenario("delete collection",
      setup = r => {
        r.createCollection(schema, "c")
        r.createCollection(schema, "dead")
        wr(r, "dead", 0L until 10L)
      },
      op = r => r.deleteCollection("dead"),
      heal = r =>
        if (r.collection("dead").isDefined) r.deleteCollection("dead")),
    Scenario("squash (history rewrite)",
      setup = r => {
        r.createCollection(schema, "c")
        Seq(0L until 20L, 20L until 40L, 40L until 60L)
          .foreach(ts => wr(r, "c", ts))
      },
      op = r => { val c = coll(r, "c"); c.refresh(); c.squash() }),
    // two series with two runs each: every run lands in ONE commit
    Scenario("defrag (segment coalesce, fast-forward commit)",
      setup = r => {
        r.createCollection(schema, "c")
        Seq("_", "b").foreach { sl =>
          // at pageLen 20: runs of two 5-row segments on either side
          // of a large 12-row one, which defrag never rewrites
          Seq(0L, 5L).foreach(a => wr(r, "c", a until a + 5L, series = sl))
          wr(r, "c", 10L until 22L, mul = 2.0, series = sl)
          Seq(30L, 35L).foreach(a =>
            wr(r, "c", a until a + 5L, mul = 3.0, series = sl))
        }
      },
      op = r => {
        val c = coll(r, "c")
        c.pageLen = 20L
        c.refresh(); c.defrag(1)
      }),
    Scenario("gc (two-phase bury/resurrect after overwrite garbage)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 50L)
        wr(r, "c", 0L until 50L, mul = 3.0) // orphans the first chunks
        val c = coll(r, "c")
        c.refresh(); c.squash()
      },
      // timeout 0: the SAME run buries fresh orphans AND deletes
      // anything already buried — two gc calls walk both phases, so
      // the enumeration crashes inside bury (mv), inside delete (rm),
      // and between the phases
      op = r => { r.gc(0L); r.gc(0L); () }),
    Scenario("kv upsert (merge-on-write commit)",
      setup = r => {
        r.createCollection(
          GSchema.kv("timestamp" -> "int*", "value" -> "float"), "c")
        wr(r, "c", 0L until 20L)
      },
      // overlaps keys 10-19 (new wins) and inserts 20-29: the commit
      // carries a MERGED view, so a torn write would surface as a
      // half-merged key set
      op = r => wr(r, "c", 10L until 30L, mul = 7.0)),
    Scenario("kv delete (key tombstone merge)",
      setup = r => {
        r.createCollection(
          GSchema.kv("timestamp" -> "int*", "value" -> "float"), "c")
        wr(r, "c", 0L until 20L)
      },
      op = r => {
        val c = coll(r, "c")
        c.kvSeries("_").deleteKeys(Seq(5L, 6L, 7L))
      }),
    Scenario("clone (zero-copy: registry commit + target manifest)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 25L)
      },
      op = r => { coll(r, "c").cloneTo("c2"); () },
      // a crash between the clone's two commits leaves the target
      // created-but-empty — delete-and-reclone is the recovery
      heal = r => {
        val stale = r.collection("c2")
          .exists(_.series("_").frame().count() == 0L)
        if (stale) r.deleteCollection("c2")
        if (stale || r.collection("c2").isEmpty) {
          coll(r, "c").cloneTo("c2"); ()
        }
      },
      prefixes = Seq(r => { r.createCollection(schema, "c2"); () })),
    Scenario("series rename (manifest-level DDL)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 20L)
      },
      op = r => {
        val c = coll(r, "c"); c.refresh(); c.renameSeries("_", "s2")
      }),
    Scenario("series delete (manifest label drop)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 20L)
      },
      op = r => {
        val c = coll(r, "c"); c.refresh(); c.deleteSeries("_")
      }),
    Scenario("restore (manifest rollback commit)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 30L)
        wr(r, "c", 0L until 30L, mul = 5.0)
      },
      op = r => {
        val c = coll(r, "c"); c.refresh()
        c.restore(c.changelog.log().head.child); ()
      }),
    Scenario("archive (namespace snapshot registry commit)",
      setup = r => {
        r.createCollection(schema, "c")
        wr(r, "c", 0L until 10L)
      },
      op = r => { r.archive(r.collection("c").get); () }),
    Scenario("trim (revision retirement)",
      setup = r => {
        r.createCollection(schema, "c")
        Seq(0L until 20L, 20L until 40L, 40L until 60L)
          .foreach(ts => wr(r, "c", ts))
      },
      op = r => {
        val c = coll(r, "c"); c.refresh()
        c.trim(System.currentTimeMillis() + 60000L)
      })
  )

  /** Recursive delete for the per-scenario temp stores: ~2 full repo
    * copies per mutating op across ~17 scenarios × 2 format modes
    * would exhaust a small CI tmpfs if left behind (ADVICE r15), so
    * every copy is deleted AS SOON AS its assertions pass — a failing
    * assertion throws first, leaving that copy on disk for debugging. */
  private def deleteRec(root: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => Files.deleteIfExists(f))
  }

  private def runScenario(sc: Scenario): Unit = {
    val setupRoot = Files.createTempDirectory("graft-crash-setup")
    clearCaches()
    sc.setup(new Repo(setupRoot.toString, spark))

    // dry run on a copy: count mutating ops + capture the NEW state
    val dryRoot = Files.createTempDirectory("graft-crash-dry").toString
    copyDir(setupRoot.toString, dryRoot)
    val counter = new CrashStore(new HadoopStore(dryRoot))
    clearCaches()
    sc.op(new Repo(dryRoot, spark, counter))
    val totalOps = counter.ops.get()
    assert(totalOps >= 1, s"${sc.name}: op performed no store mutations")
    val fpNew = fingerprint(dryRoot)
    val fpOld = fingerprint(setupRoot.toString)
    val prefixFps = sc.prefixes.map { fn =>
      val r = Files.createTempDirectory("graft-crash-pre").toString
      copyDir(setupRoot.toString, r)
      clearCaches()
      fn(new Repo(r, spark))
      val fp = fingerprint(r)
      deleteRec(r)
      fp
    }.toSet
    val allowed = Set(fpOld, fpNew) ++ sc.extraOk ++ prefixFps

    var crashed = 0
    for (n <- 0 until totalOps) {
      val root = Files.createTempDirectory(s"graft-crash-$n").toString
      copyDir(setupRoot.toString, root)
      val gated = new CrashStore(new HadoopStore(root))
      gated.crashAt = n
      clearCaches()
      val died =
        try { sc.op(new Repo(root, spark, gated)); false }
        catch {
          case t: Throwable if crashOf(t).isDefined => true
          case t: Throwable =>
            fail(s"${sc.name}: crash at op $n surfaced a foreign " +
              s"error instead of the injected one: $t")
        }
      if (died) crashed += 1
      // 1+2: cold read works and sees a legal (untorn) state
      val fp = fingerprint(root)
      assert(allowed.contains(fp),
        s"${sc.name}: torn state after crash at op $n/$totalOps:\n" +
        s" got  $fp\n old  $fpOld\n new  $fpNew")
      // 3: retry heals to the completed state
      clearCaches()
      val healRepo = new Repo(root, spark)
      if (sc.heal != null) sc.heal(healRepo) else sc.op(healRepo)
      val fpHealed = fingerprint(root)
      assert(fpHealed == fpNew,
        s"${sc.name}: retry after crash at op $n did not converge:\n" +
        s" got  $fpHealed\n want $fpNew")
      deleteRec(root) // assertions passed — reclaim this crash copy
    }
    assert(crashed > 0,
      s"${sc.name}: no replay actually crashed ($totalOps dry ops)")
    deleteRec(dryRoot)
    deleteRec(setupRoot.toString)
    info(s"${sc.name}: $totalOps mutation points, $crashed crashed " +
      "replays, all untorn, all healed")
  }

  for (sc <- scenarios) test(s"crash enumeration: ${sc.name}") {
    runScenario(sc)
  }

  // Same enumeration under forced-chunked metadata formats: a v2
  // chunked manifest/registry commit writes its chunks BEFORE the
  // root that references them, so the multi-chunk protocol has
  // crash points (orphan chunks, root-less chunk sets) the plain
  // formats never reach. Chunk sizes of 1-2 entries make even these
  // small fixtures multi-chunk.
  for (sc <- scenarios) test(
      s"crash enumeration (chunked formats): ${sc.name}") {
    val pm = System.getProperty("graft.manifestChunkRows")
    val pr = System.getProperty("graft.registryChunkEntries")
    System.setProperty("graft.manifestChunkRows", "2")
    System.setProperty("graft.registryChunkEntries", "1")
    try runScenario(sc)
    finally {
      if (pm == null) System.clearProperty("graft.manifestChunkRows")
      else System.setProperty("graft.manifestChunkRows", pm)
      if (pr == null) System.clearProperty("graft.registryChunkEntries")
      else System.setProperty("graft.registryChunkEntries", pr)
    }
  }

  test("inline write (embedding ON) commits in ONE store mutation") {
    // the default small-write path: rows inline into the changelog
    // entry, so the commit point and the data are the same single
    // content-addressed write — crash atomicity by construction
    val root = Files.createTempDirectory("graft-crash-inl").toString
    clearCaches()
    locally {
      val r = new Repo(root, spark)
      r.createCollection(schema, "c")
      r.collection("c").get.series("_")
        .write(TestSpark.frame(Seq(1L, 2L), Seq(1.0, 2.0)))
    }
    val counter = new CrashStore(new HadoopStore(root))
    clearCaches()
    new Repo(root, spark, counter).collection("c").get.series("_")
      .write(TestSpark.frame(Seq(3L, 4L), Seq(3.0, 4.0)))
    assert(counter.ops.get() == 1,
      s"inline write took ${counter.ops.get()} mutations, expected 1")
  }

  test("crash enumeration: pull into a remote (sync crash safety)") {
    // the sync path: every revision + chunk the destination lacks is
    // copied THROUGH the destination's store — a dying pull must
    // leave the destination readable (old state) and a retried pull
    // must converge, because content-addressed copies are idempotent
    val srcRoot = Files.createTempDirectory("graft-crash-psrc").toString
    clearCaches()
    locally {
      val src = new Repo(srcRoot, spark)
      src.createCollection(schema, "c")
      wr(src, "c", 0L until 60L)
      val c = coll(src, "c")
      c.refresh(); c.defrag(1)
    }
    val dstSetup = Files.createTempDirectory("graft-crash-pdst")
    clearCaches()
    new Repo(dstSetup.toString, spark).createCollection(schema, "other")
    val fpOld = fingerprint(dstSetup.toString)
    // pull's atomicity unit is the REVISION, not the whole sync: the
    // destination may legally surface any PREFIX of the source's
    // history (each pulled revision is a consistent snapshot the
    // source itself once showed). For this source that adds exactly
    // one intermediate state — "c" created but not yet written —
    // which materializes it here for the allowed set.
    val fpPrefix = {
      val r = Files.createTempDirectory("graft-crash-ppre").toString
      copyDir(dstSetup.toString, r)
      new Repo(r, spark).createCollection(schema, "c")
      fingerprint(r)
    }

    def pull(dstRepo: Repo): Unit =
      dstRepo.pull(new Repo(srcRoot, spark), Seq("c"))
    val dryRoot = Files.createTempDirectory("graft-crash-pdry").toString
    copyDir(dstSetup.toString, dryRoot)
    val counter = new CrashStore(new HadoopStore(dryRoot))
    clearCaches()
    pull(new Repo(dryRoot, spark, counter))
    val totalOps = counter.ops.get()
    assert(totalOps >= 3,
      s"pull of a chunk-bearing collection should copy several " +
        s"objects, got $totalOps ops")
    val fpNew = fingerprint(dryRoot)
    assert(fpNew != fpOld)

    for (n <- 0 until totalOps) {
      val root = Files.createTempDirectory(s"graft-crash-p$n").toString
      copyDir(dstSetup.toString, root)
      val gated = new CrashStore(new HadoopStore(root))
      gated.crashAt = n
      clearCaches()
      try pull(new Repo(root, spark, gated))
      catch {
        case t: Throwable if crashOf(t).isDefined => ()
        case t: Throwable =>
          fail(s"pull crash at op $n surfaced a foreign error: $t")
      }
      val fp = fingerprint(root)
      assert(fp == fpOld || fp == fpPrefix || fp == fpNew,
        s"pull: torn destination after crash at op $n/$totalOps:\n" +
        s" got  $fp\n old  $fpOld\n pre  $fpPrefix\n new  $fpNew")
      clearCaches()
      pull(new Repo(root, spark))
      assert(fingerprint(root) == fpNew,
        s"pull retry after crash at op $n did not converge")
    }
    info(s"pull: $totalOps mutation points enumerated")
  }

  test("crash enumeration: merge of forked branches") {
    // fork: branch A [0,40) defragged, branch B writes [40,60) from
    // the same empty parent (pull preserves the edge → sibling leafs)
    val setupRoot = Files.createTempDirectory("graft-crash-mg")
    clearCaches()
    locally {
      val repo = new Repo(setupRoot.toString, spark)
      repo.createCollection(schema, "c")
      wr(repo, "c", 0L until 40L)
      val rootB = Files.createTempDirectory("graft-crash-mgB").toString
      val repoB = new Repo(rootB, spark)
      repoB.createCollection(schema, "c")
      wr(repoB, "c", 40L until 60L, mul = 2.0)
      val cA = repo.collection("c").get
      cA.pull(repoB.collection("c").get)
      cA.refresh()
      assert(cA.changelog.leafs().length == 2, "fork setup failed")
    }
    val fpForked = fingerprint(setupRoot.toString) // pre-merge view

    val dryRoot = Files.createTempDirectory("graft-crash-mgd").toString
    copyDir(setupRoot.toString, dryRoot)
    val counter = new CrashStore(new HadoopStore(dryRoot))
    clearCaches()
    new Repo(dryRoot, spark, counter).collection("c").get.merge()
    val totalOps = counter.ops.get()
    assert(totalOps >= 1)
    val fpNew = fingerprint(dryRoot)

    for (n <- 0 until totalOps) {
      val root = Files.createTempDirectory(s"graft-crash-mg$n").toString
      copyDir(setupRoot.toString, root)
      val gated = new CrashStore(new HadoopStore(root))
      gated.crashAt = n
      clearCaches()
      try new Repo(root, spark, gated).collection("c").get.merge()
      catch {
        case t: Throwable if crashOf(t).isDefined => ()
        case t: Throwable =>
          fail(s"merge crash at op $n surfaced a foreign error: $t")
      }
      val fp = fingerprint(root)
      assert(fp == fpForked || fp == fpNew,
        s"merge: torn state after crash at op $n/$totalOps:\n" +
        s" got  $fp\n fork $fpForked\n new  $fpNew")
      clearCaches()
      new Repo(root, spark).collection("c").get.merge()
      assert(fingerprint(root) == fpNew,
        s"merge retry after crash at op $n did not converge")
    }
    info(s"merge: $totalOps mutation points enumerated")
  }
}
