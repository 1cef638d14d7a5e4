package graft.core

/** One revision file in a changelog: named `parent.child` where ids
  * are `hextime-sha1(payload)`. Forms a tree; linearized by DFS with
  * last-leaf-wins (behaviorally ported from reference
  * lakota/changelog.py:17-194).
  */
final case class Revision(parent: String, child: String,
    isLeaf: Boolean = false) {
  def path: String = s"$parent.$child"
  def epochHex: String = child.takeWhile(_ != '-')
  def epochMs: Long = java.lang.Long.parseLong(epochHex, 16)
  def digest: String = child.dropWhile(_ != '-').drop(1)
}

final class Changelog(val store: Store, val dir: String) {

  import Changelog._

  @volatile private var logCache: Vector[Revision] = null
  // (winning-leaf child id, index of its DESCEND edge, its edge
  // count) for the cached log — lets a warm commit splice in O(tail)
  // without scanning the whole linearization. Maintained by
  // computeLog (O(n), paid once per cold build) and by each
  // incremental append (O(1)).
  @volatile private var leafMeta: (String, Int, Int) = null
  // bumped on every invalidation: a cold build computed OUTSIDE the
  // monitor installs only if no refresh/commit invalidated the view
  // while it listed — otherwise the next reader recomputes
  @volatile private var gen: Long = 0L

  // synchronized: commit()'s incremental branch writes the cache pair
  // under the same monitor — an unsynchronized refresh racing it could
  // otherwise be overwritten by the commit's splice, resurrecting the
  // view the refresher just dropped
  def refresh(): Unit =
    synchronized { logCache = null; leafMeta = null; gen += 1 }

  /** Append a new revision holding `payload`. If `parents` is empty the
    * current leaf is used (or phi for an empty log). Double-writes of
    * an identical payload on the same parent are skipped.
    */
  def commit(payload: Array[Byte], parents: Seq[String] = Nil)
      : Seq[Revision] = {
    val effParents =
      if (parents.nonEmpty) parents
      else leaf() match {
        case Some(l) => Seq(l.child)
        case None    => Seq(Phi)
      }
    val key = Hash.sha1(payload)
    // one child id shared by all parent edges: a multi-parent commit
    // (merge) is ONE node in the revision tree, so the DFS sees a
    // single leaf afterwards
    val child = s"${Hash.hextime()}-$key"
    def parentKey(parent: String): String =
      parent.split("-", 2) match {
        case Array(_, k) => k
        case _           => ""
      }
    // The double-write skip applies ONLY to single-parent commits — a
    // true re-commit of the parent's own content (Series.write no-ops,
    // restore's no-op digest compare). A MULTI-parent commit is a JOIN
    // node: its purpose is collapsing leaves into one, and it must be
    // written even when the merged content equals a parent's payload.
    // The old per-EDGE skip dead-locked healing: two leaves carrying
    // identical digests (racing merges converge to the same union)
    // skipped every edge, so merge() could never reduce them and the
    // fork lived forever (found by the chunked-manifest race spec).
    val parents2 = effParents.distinct
    val revs =
      if (parents2.length == 1 && parents2.head != Phi &&
          parentKey(parents2.head) == key) Nil // double write
      else parents2.map { parent =>
        val rev = Revision(parent, child)
        store.write(s"$dir/${rev.path}", payload)
        rev
      }
    // Maintain the linearization INCREMENTALLY when this commit
    // extends the cached winning leaf: a CDC-style deployment commits
    // per micro-batch, and recomputing (one `ls` + O(n) DFS) after
    // every own-commit made the nth commit cost O(n) — O(n^2)
    // cumulative between trims. The canonical DFS position of the new
    // edge is right after the leaf's DESCEND edge (its first
    // occurrence — a merge leaf also has trailing revisit edges), so
    // splicing there reproduces computeLog's order bit-for-bit; all
    // other shapes (merge commits, explicit foreign/phi parents, cold
    // cache) drop the cache and recompute on next read.
    //
    // DELIBERATE freshness trade (documented in MIGRATION.md): the
    // old refresh-after-every-commit meant a warm handle re-listed on
    // its next read and adopted concurrent writers' newer leaves as
    // parents. A warm handle now parents onto ITS OWN leaf until an
    // explicit refresh()/fresh handle — concurrent writers produce a
    // persistent fork that the read-side union-merge heals, exactly
    // the multi-process model (which never had the accidental
    // relist). The relist was the O(n)-per-commit cost this removes.
    if (revs.isEmpty) () // double-write skip: the view is unchanged
    else synchronized {
      val lc = logCache
      val lm = leafMeta
      val p = if (revs.length == 1) revs.head.parent else null
      if (lc != null && lm != null && p != null && lm._1 == p) {
        Changelog.incAppends.incrementAndGet()
        val (at, edges) = (lm._2, lm._3)
        // demote p's edges (descend at `at`, any revisits after it),
        // splice the new edge right after the descend edge. In the
        // common linear case at == lc.length-1 and edges == 1, so
        // this is one updated + one append — no full-vector work.
        var v = lc.updated(at, lc(at).copy(isLeaf = false))
        var left = edges - 1
        var i = at + 1
        while (left > 0 && i < v.length) {
          if (v(i).child == p) { v = v.updated(i,
            v(i).copy(isLeaf = false)); left -= 1 }
          i += 1
        }
        logCache = (v.take(at + 1) :+
          revs.head.copy(isLeaf = true)) ++ v.drop(at + 1)
        leafMeta = (child, at + 1, 1)
      } else refresh()
    }
    revs
  }

  def entries(): Seq[String] = store.ls(dir)

  /** Linear history: DFS over the parent->children tree built from the
    * sorted file listing; last yielded revision of the first branch is
    * the winning leaf.
    */
  def log(beforeMs: Option[Long] = None): Seq[Revision] = {
    var lc = logCache
    if (lc == null) {
      // build OUTSIDE the monitor: a cold linearization over a slow
      // store (one paginated ls + O(n) DFS, seconds at 1e5 revisions)
      // must not block concurrent commit()/refresh() for its whole
      // duration. Install only if the view wasn't invalidated while
      // we listed (gen unchanged and still cold) — a commit that
      // landed mid-listing would otherwise be hidden by our stale
      // build (read-your-writes violation within the handle). On a
      // skipped install this caller still uses its own build — a view
      // as of the moment its listing started — and the next reader
      // recomputes.
      val g0 = gen
      val built = computeLog()
      synchronized {
        if (logCache == null && gen == g0) {
          // leaf summary for the incremental commit path: the winning
          // leaf's child, its descend-edge index, and its edge count
          leafMeta = built.reverseIterator.find(_.isLeaf)
            .orElse(built.lastOption).map { w =>
              (w.child, built.indexWhere(_.child == w.child),
                built.count(_.child == w.child))
            }.orNull
          logCache = built
        }
        lc = if (logCache != null) logCache else built
      }
    }
    beforeMs match {
      case None => lc
      case Some(ms) =>
        val cut = Hash.hextime(ms)
        // filter, not takeWhile: on a forked history the DFS
        // linearization interleaves branches, and a single late
        // revision on an EARLIER branch must not hide every later
        // branch's older revisions from time travel
        lc.filter(_.epochHex < cut)
    }
  }

  private def computeLog(): Vector[Revision] = {
    Changelog.fullComputes.incrementAndGet()
    val children = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[Revision]]
    val allChildren = scala.collection.mutable.Set.empty[String]
    entries().sorted.foreach { name =>
      val i = name.indexOf('.')
      if (i > 0) {
        val (parent, child) = (name.take(i), name.drop(i + 1))
        if (parent != child) {
          allChildren += child
          children(parent) = children.getOrElse(parent, Vector.empty) :+
            Revision(parent, child)
        }
      }
    }
    val roots = children.keys.filterNot(allChildren.contains).toVector
    val firstGen = roots.flatMap(children.getOrElse(_, Vector.empty))
    // head-pop queue: seed ASCENDING and push children ASCENDING at
    // the head, mirroring the reference's end-pop-of-reversed-list
    // (changelog.py:108-121) exactly — the traversal descends the
    // OLDEST sibling first, so the LAST yielded revision (= leaf())
    // is the tip of the NEWEST branch. Seeding reversed here made the
    // oldest branch win an unmerged fork, the opposite of the
    // reference's last-leaf-wins.
    var queue = firstGen.toList
    val yielded = scala.collection.mutable.Set.empty[String]
    val out = Vector.newBuilder[Revision]
    while (queue.nonEmpty) {
      val rev = queue.head; queue = queue.tail
      val kids =
        if (yielded.contains(rev.child)) Vector.empty
        else children.getOrElse(rev.child, Vector.empty)
      yielded += rev.child
      queue = kids.toList ::: queue
      // leaf-ness is a property of the GRAPH, not the traversal: a
      // merge node reached again via its second parent edge must not
      // masquerade as a leaf once a commit sits on top of it —
      // leafs() would then report a permanent fake fork and every
      // reader would commit a fresh heal revision
      out += rev.copy(isLeaf = !children.contains(rev.child))
    }
    out.result()
  }

  /** The winning revision: the LAST DFS-yielded edge whose node is a
    * leaf within the queried view. NOT plain `lastOption`: a merge
    * node has one edge per parent, and the DFS yields the second
    * parent's edge as a REVISIT without descending (its children
    * already ran) — so the last yielded edge overall can be a revisit
    * of an INTERIOR node, whose payload is a stale snapshot. Reading
    * that lost every row the real leaf had merged on top (the chunked
    * race spec caught it as writers' last commits "vanishing").
    * For time travel the leaf-ness test is view-relative: a node
    * whose only children are past the cut IS the leaf of that era. */
  def leaf(beforeMs: Option[Long] = None): Option[Revision] =
    beforeMs match {
      case None =>
        val l = log(None)
        // isLeaf is graph-global (computed by the DFS); the scan from
        // the tail crosses only trailing revisit edges — O(#trailing)
        l.reverseIterator.find(_.isLeaf).orElse(l.lastOption)
      case some =>
        val l = log(some)
        val parents = l.iterator.map(_.parent).toSet
        l.reverseIterator.find(r => !parents.contains(r.child))
          .orElse(l.lastOption)
    }

  /** distinct leaf nodes (a multi-parent merge writes one edge file
    * per parent, all sharing one child id — that's ONE leaf) */
  def leafs(): Seq[Revision] =
    log().filter(_.isLeaf).groupBy(_.child).map(_._2.head).toSeq
      .sortBy(_.child)

  /** Payload of a revision, sha1-verified with bounded retry (guards
    * against a concurrent writer mid-flight). A revision a racing
    * squash deleted may live on under another name: squash re-roots
    * the leaf's manifest unchanged, and any file whose id carries the
    * same digest holds the same bytes. */
  def payload(rev: Revision): Array[Byte] =
    Hash.readVerified(rev.digest, s"revision ${rev.path}")(
      try store.read(s"$dir/${rev.path}")
      catch {
        case e: java.io.FileNotFoundException =>
          store.ls(dir).find(_.endsWith(s"-${rev.digest}"))
            .map(twin => store.read(s"$dir/$twin")).getOrElse(throw e)
      })

  /** Copy missing revision files from a remote changelog. */
  def pull(remote: Changelog, shallow: Boolean = false): Seq[String] = {
    // dedupe on (parent payload digest, child payload digest): parents
    // that differ only in hextime (e.g. after a one-sided squash or
    // re-root) must not resurrect trimmed history on every sync
    // (reference lakota/changelog.py RevDigest semantics)
    def pd(parent: String): String = parent.split("-", 2) match {
      case Array(_, d) => d
      case _           => parent
    }
    val localDigests = log().map(r => (pd(r.parent), r.digest)).toSet
    val remoteRevs = if (shallow) remote.leafs() else remote.log()
    val copied = remoteRevs.filterNot(r =>
      localDigests.contains((pd(r.parent), r.digest))).map { r =>
      // verify BEFORE writing: a torn read of a mid-flight remote
      // object would otherwise land corrupt bytes under the
      // digest-named path, and the name-based dedupe above would then
      // block the repair forever. Same verify-retry as payload().
      // (The reference copies unverified — robustness over parity.)
      val data = Hash.readVerified(r.digest, s"pulled revision ${r.path}")(
        remote.store.read(s"${remote.dir}/${r.path}"))
      store.write(s"$dir/${r.path}", data)
      r.path
    }
    refresh()
    copied
  }

  /** Remove revisions strictly older than `beforeMs`; the first kept
    * revision's dangling parent edge makes it an implicit root
    * (reference Collection.trim semantics — no file is rewritten). */
  def trim(beforeMs: Long): Seq[Revision] = {
    val history = log()
    val (old0, kept0) = history.partition(_.epochMs < beforeMs)
    if (old0.isEmpty) return Seq.empty
    // never empty the log: if every revision predates the cutoff keep
    // the newest one (the current leaf), mirroring the reference's
    // revs = revs[:-1] guard — a cutoff after the last write is the
    // normal maintenance case, not a request to drop all data
    val (old, kept) =
      if (kept0.nonEmpty) (old0, kept0)
      else (old0.init, Vector(old0.last))
    if (old.isEmpty) return Seq.empty
    // NO re-root (reference parity, collection.py:339-362): the kept
    // revision keeps its original parent edge — computeLog's implicit
    // root inference (parents never seen as children) preserves
    // continuity, and the unchanged (parent-digest, child-digest)
    // pair keeps pull's dedupe exact: a re-rooted copy would be
    // re-pulled from any untrimmed remote, duplicating the node.
    old.foreach(r => store.rm(s"$dir/${r.path}"))
    refresh()
    old
  }
}

object Changelog {
  val ZeroHextime = "0" * 11
  val ZeroHash = "0" * 40
  val Phi = s"$ZeroHextime-$ZeroHash"

  // ---- observability (scale specs pin incremental behavior) ----
  /** full linearizations (one `ls` + O(n) DFS) */
  private[graft] val fullComputes =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** commits that extended the cached log in place (no ls, no DFS) */
  private[graft] val incAppends =
    new java.util.concurrent.atomic.AtomicLong(0L)
}
