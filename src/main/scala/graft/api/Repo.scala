package graft.api

import graft.core._
import org.apache.spark.sql.SparkSession

/** Root of a storage location: holds the registry (collection label →
  * path + schema) as its own changelog, mirroring the reference where
  * the registry is itself a versioned KV collection
  * (lakota/repo.py:115-130).
  *
  * Layout under `rootUri`:
  * {{{
  *   registry/changelog/<parent>.<child>     JSON {label: {path, schema}}
  *   c-<digest>/changelog/<parent>.<child>   manifest revisions
  *   seg/aa/bb/<digest>.parquet              content-addressed segments
  *   tmp/…                                   staging for writes
  * }}}
  */
class Repo(val rootUri: String, val spark: SparkSession,
    storeOverride: Store = null) {

  // memory:// / s3ish:// roots (reference MemPOD and the moto-S3
  // analogue): register the in-JVM FileSystems with the session so
  // Spark's own parquet scans and writes resolve the schemes too
  if (rootUri.startsWith("memory://") || rootUri.startsWith("s3ish://"))
    MemFileSystem.install(spark.sparkContext.hadoopConfiguration)
  // s3net:// roots: the S3-REST-over-HTTP FileSystem (endpoint from
  // fs.s3net.endpoint or the JVM default set when the server started)
  if (rootUri.startsWith("s3net://"))
    S3NetFileSystem.install(spark.sparkContext.hadoopConfiguration)

  val store: Store =
    if (storeOverride != null) storeOverride else new HadoopStore(rootUri)
  val registry = new Changelog(store, "registry/changelog")

  import Repo.RegEntry

  /** Registry keys carry a namespace (reference repo.py keeps one
    * registry series per namespace — "collection" for live data,
    * "archive" for [[archive]]d snapshots). Encoded `ns<NUL>label`:
    * NUL cannot appear in a user label, so a bare legacy key (even one
    * containing ':') always parses as the default namespace — no
    * legacy collection can be misread into a bogus namespace. */
  val DefaultNs = "collection"
  private val NsSep = '\u0000'
  private val NsToken = "[A-Za-z0-9_-]+".r
  private def mkKey(ns: String, label: String): String = {
    require(NsToken.matches(ns), s"invalid namespace: $ns")
    require(!label.contains(NsSep), "label may not contain NUL")
    s"$ns$NsSep$label"
  }
  private def parseKey(k: String): (String, String) = {
    val i = k.indexOf(NsSep.toInt)
    if (i > 0) (k.take(i), k.drop(i + 1))
    else (DefaultNs, k)
  }

  private def regState(): Map[String, RegEntry] = {
    // concurrent creates produce sibling registry revisions; a plain
    // last-leaf-wins read could drop a collection. Union all leaves
    // (and heal the registry with a merge commit when forked). The
    // heal COMMITS, so it must hold the per-root DDL lock like every
    // other registry writer — an unlocked heal racing a locked DDL
    // would mint fresh sibling leaves whose re-heal resurrects the
    // DDL's delete (monitor is re-entrant: DDL methods already
    // holding the lock pass straight through).
    val leaves = registry.leafs()
    if (leaves.length > 1) Repo.ddlLock(rootUri).synchronized {
      registry.refresh() // a racer may have healed while we waited
      val lv = registry.leafs()
      if (lv.length > 1) {
        val merged = lv.sortBy(_.child)
          .map(r => decodeReg(registry.payload(r))._1)
          .reduce(_ ++ _)
        writeRegWithParents(merged, lv.map(_.child))
        merged
      } else regStateSingle(lv.headOption)
    } else regStateSingle(leaves.headOption)
  }

  private def regStateSingle(leaf: Option[Revision])
      : Map[String, RegEntry] = leaf.map { r =>
    val hit = Repo.regDecodeCache.peek(rootUri).orNull
    // serve the cache when it matches the handle's leaf OR is a
    // strictly NEWER leaf COMMITTED BY THIS JVM (noteLeaf; in-JVM
    // commit ids share one clock, so hextime string order is commit
    // order): another handle here committed a DDL this warm handle
    // hasn't relisted. Without this, a stale handle's DDL would
    // parent onto its old leaf — an in-JVM fork whose add-wins union
    // heal RESURRECTS renamed/deleted keys. A leaf that merely
    // STRING-compares newer is NOT trusted (a cross-process commit
    // from a skewed clock could sort below its own parent).
    if (hit != null && (hit.leaf == r.child ||
        (hit.leaf == Repo.notedLeaf(rootUri) && hit.leaf > r.child)))
      hit.state
    else {
      val (m, refs) = decodeReg(registry.payload(r))
      // sortedKeys stays null until a write needs it: decodes
      // (reads, SQL statements) never pay a sort. Put atomically:
      // never replace an entry a concurrent commit installed after
      // our get (it is newer than this decode).
      Repo.regDecodeCache.replace(rootUri, hit,
        Repo.RegCached(r.child, m, refs, null, null))
      m
    }
  }.getOrElse(Map.empty)

  /** [[regState]] with a CURRENCY guarantee for DDL preconditions
    * (call only under [[Repo.ddlLock]]): if this JVM has committed a
    * registry leaf this handle's warm view hasn't seen AND the
    * decoded state for it is gone (LRU-evicted regDecodeCache), the
    * plain read would return a stale snapshot — and a DDL validating
    * against it could e.g. pass rename's "target free" check while
    * the target exists, silently overwriting a sibling handle's
    * collection. Relist + re-decode in that case; O(1) extra work on
    * the common path (one map get + string compare). */
  private def regStateCurrent(): Map[String, RegEntry] = {
    val st = regState()
    val noted = Repo.notedLeaf(rootUri)
    if (noted == null) return st
    val hit = Repo.regDecodeCache.peek(rootUri).orNull
    if (hit != null && (hit.state eq st) &&
        (hit.leaf == noted || hit.leaf > noted)) st
    else {
      registry.refresh()
      regState()
    }
  }

  /** Decode a registry payload of either format: plain v1 single-doc
    * or chunked v2 ([[RegistryCodec]] — chunks live under
    * `registry/chunks/<sha>`, assembled through the JVM-wide chunk
    * cache). Returns the chunk layout too (null for v1) so the next
    * DDL commit can re-encode O(touched). */
  private def decodeReg(payload: Array[Byte])
      : (Map[String, RegEntry], Vector[RegistryCodec.ChunkRef]) =
    if (RegistryCodec.isChunked(payload))
      RegistryCodec.decode(payload, readRegChunk, parseRegEntries)
    else (parseRegEntries(Json.parse(new String(payload, "UTF-8"))
      .asInstanceOf[Map[String, Any]]), null)

  private def parseRegEntries(m: Map[String, Any])
      : Map[String, RegEntry] =
        m.map { case (label0, v) =>
          val vm = v.asInstanceOf[Map[String, Any]]
          val schema = GSchema.fromJson(vm("schema").asInstanceOf[String])
          val colMap = vm.getOrElse("colmap", Map.empty[String, Any])
            .asInstanceOf[Map[String, Any]]
            .map { case (k, s) => k -> s.asInstanceOf[String] }
          val defaults = vm.getOrElse("defaults", Map.empty[String, Any])
            .asInstanceOf[Map[String, Any]]
            .map { case (k, s) =>
              k -> Manifest.kernelValue(schema(k).dtype, s) }
          // normalize to the canonical ns:label key (migrates bare
          // legacy keys on the next registry write)
          val (ns, lbl) = parseKey(label0)
          val pageLen = vm.get("page_len")
            .map(_.asInstanceOf[Number].longValue())
          mkKey(ns, lbl) -> RegEntry(vm("path").asInstanceOf[String],
            schema, colMap, defaults, pageLen)
        }

  /** Registry chunk read with the gc-buried resurrect fallback,
    * mirroring [[Collection.readChunk]] (same two-phase contract). */
  private[api] def readRegChunk(sha: String): Array[Byte] = {
    val rel = s"registry/chunks/$sha"
    var attempt = 0
    while (true) {
      try return store.read(rel)
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 3) throw e
          val buriedCopy = store.ls("registry/chunks")
            .find(_.startsWith(s"$sha.t"))
          buriedCopy.foreach(b =>
            store.mvQuiet(s"registry/chunks/$b", rel))
          if (buriedCopy.isEmpty && attempt >= 2) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** DDL-path registry write: the caller states the touched keys
    * (`put` upserts, `del` removals) against the BASE state it read;
    * the new state, the sorted key order AND the chunk layout all
    * update O(touched) — no per-DDL full sort, no full key-space
    * diff. Falls back to [[writeRegWithParents]] (full sort) when the
    * cached leaf doesn't match the current one (cold handle, racer in
    * between) OR the cached state isn't the exact snapshot the caller
    * read (`hit.state eq base` — a concurrent commit replaced the
    * cache between the caller's regState() and here; splicing the
    * newer cache's keys against the stale base would either throw
    * during encode or seed the cache with a state missing an entry
    * the committed document holds). In the stale-base case the delta
    * is re-applied onto the CURRENT cached state so the concurrent
    * key survives — correctness never depends on the cache. */
  private def writeRegDelta(base: Map[String, RegEntry],
      put: Seq[(String, RegEntry)], del: Seq[String]): Unit = {
    val localParent =
      registry.leaf().map(_.child).getOrElse(Changelog.Phi)
    val hit = Repo.regDecodeCache.peek(rootUri).orNull
    // parent onto the newest leaf COMMITTED BY THIS JVM (noteLeaf;
    // one clock, so hextime string order is commit order — a leaf
    // that merely string-compares newer is NOT trusted, see
    // regStateSingle): a warm handle whose own lineage lags a sibling
    // handle's commit must extend that commit, not fork from its
    // stale view — forks are only for cross-PROCESS racers (healed by
    // union-merge, which is add-wins and would undo an in-JVM
    // rename/delete). notedLeaf survives regDecodeCache eviction, so
    // the guarantee holds even for a root the LRU dropped.
    val noted = Repo.notedLeaf(rootUri)
    val parent =
      if (noted != null && localParent != Changelog.Phi &&
          noted > localParent) noted
      else localParent
    if (parent == Changelog.Phi || hit == null || hit.leaf != parent) {
      if (parent != localParent && (hit == null || hit.leaf != parent)) {
        // a newer in-JVM leaf is KNOWN (noteLeaf) but its decoded
        // state is gone (LRU-evicted): committing base+delta onto it
        // would drop whatever that leaf added. Relist so this handle
        // sees it, re-read the state, apply the delta to THAT.
        registry.refresh()
        val fresh = regState()
        writeRegWithParents((fresh -- del) ++ put,
          Seq(registry.leaf().map(_.child).getOrElse(Changelog.Phi)))
      } else writeRegWithParents((base -- del) ++ put, Seq(parent))
      return
    }
    if (!(hit.state eq base)) {
      writeRegWithParents((hit.state -- del) ++ put, Seq(parent))
      return
    }
    val state = (base -- del) ++ put
    val prev = hit.state
    val changed: Set[String] =
      (put.iterator.collect {
        case (k, v) if !prev.get(k).contains(v) => k
      } ++ del.iterator.filter(prev.contains)).toSet
    val keys: Array[String] =
      if (hit.sortedKeys != null)
        Repo.spliceSorted(hit.sortedKeys,
          put.view.map(_._1).filterNot(prev.contains), del)
      else sortedKeysOf(state)
    val paths: Set[String] =
      if (hit.paths == null) null
      else {
        var p = hit.paths
        del.foreach(k => prev.get(k).foreach(e => p -= e.path))
        put.foreach { case (k, v) =>
          prev.get(k).foreach(e => if (e.path != v.path) p -= e.path)
          p += v.path
        }
        p
      }
    writeRegCore(state, Seq(parent), keys,
      if (hit.refs != null) hit.refs else null,
      if (hit.refs != null) changed else null, paths)
  }

  /** The set of physical paths the registry currently holds — used by
    * createCollection's collision probe. Built O(n) once per cached
    * leaf, then maintained O(touched) by [[writeRegDelta]]; building
    * it per-DDL was the last O(registry) scan on the DDL path. */
  private def takenPaths(state: Map[String, RegEntry]): Set[String] = {
    val hit = Repo.regDecodeCache.peek(rootUri).orNull
    if (hit != null && (hit.state eq state) && hit.paths != null)
      hit.paths
    else {
      val p = state.valuesIterator.map(_.path).toSet
      // compare-and-set: between the peek above and this put a
      // concurrent commitReg can install a NEWER leaf's entry, and
      // blindly putting would overwrite it with the older leaf's
      // cache (ADVICE r14 low: next regState regresses to a cold
      // decode and the incremental layout is dropped)
      if (hit != null && (hit.state eq state))
        Repo.regDecodeCache.replace(rootUri, hit, hit.copy(paths = p))
      p
    }
  }

  private def sortedKeysOf(state: Map[String, RegEntry]): Array[String] = {
    Repo.regFullSorts.incrementAndGet()
    val a = new Array[String](state.size)
    var i = 0
    state.keysIterator.foreach { k => a(i) = k; i += 1 }
    java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]])
    a
  }

  private[graft] def writeRegWithParents(state: Map[String, RegEntry],
      parents: Seq[String]): Unit = {
    val keys = sortedKeysOf(state)
    // incremental layout: when the single parent is the cached leaf,
    // reuse its chunk refs and re-serialize only the chunks the
    // changed keys touch — a 1-collection DDL against a 1e5-entry
    // registry re-encodes O(touched), not the whole document
    var prevRefs: Vector[RegistryCodec.ChunkRef] = null
    var changed: Set[String] = null
    if (parents.length == 1 && parents.head != Changelog.Phi) {
      val hit = Repo.regDecodeCache.peek(rootUri).orNull
      if (hit != null && hit.leaf == parents.head && hit.refs != null) {
        prevRefs = hit.refs
        val prev = hit.state
        changed = (prev.keySet ++ state.keySet)
          .filter(k => prev.get(k) != state.get(k))
      }
    }
    writeRegCore(state, parents, keys, prevRefs, changed, null)
  }

  private def writeRegCore(state: Map[String, RegEntry],
      parents: Seq[String], keys: Array[String],
      prevRefs: Vector[RegistryCodec.ChunkRef],
      changed: Set[String], paths: Set[String]): Unit = {
    val keySeq: IndexedSeq[String] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(keys)
    // lazy per-entry serialization: only the entries landing in a
    // FRESH chunk are ever rendered — a 1-key DDL at 1e5 collections
    // serializes one chunk's worth, not the whole document
    val valueJson: Int => String = i => Repo.entryJson(state(keys(i)))
    val enc = RegistryCodec.encode(keySeq, valueJson, prevRefs, changed)
    if (enc.refs != null) {
      // reused refs must still EXIST (same hazard as
      // Collection.commitManifest: a layout held past the gc timeout
      // can reference expired-deleted chunks; a root over absent
      // chunks bricks the registry — the WHOLE repo)
      val freshShas = enc.fresh.iterator.map(_._1).toSet
      val reused = enc.refs.iterator.map(_.sha)
        .filterNot(freshShas).toSet
      if (reused.nonEmpty) {
        val missing = graft.core.Store
          .missingChunks(store, "registry/chunks", reused)
        if (missing.nonEmpty) {
          System.err.println("[graft] registry commit: " +
            s"${missing.size} reused chunk refs missing " +
            "from the store; falling back to a full re-encode")
          return commitReg(
            RegistryCodec.encode(keySeq, valueJson, null, null),
            state, parents, keys, paths)
        }
      }
    }
    commitReg(enc, state, parents, keys, paths)
  }

  private def commitReg(enc: RegistryCodec.Encoded,
      state: Map[String, RegEntry], parents: Seq[String],
      keys: Array[String], paths: Set[String]): Unit = {
    enc.fresh.foreach { case (sha, bytes) =>
      store.write(s"registry/chunks/$sha", bytes)
    }
    val revs = registry.commit(enc.root, parents)
    // seed the decode cache with the state we just committed: the
    // next regState() on this leaf decodes nothing, and carries the
    // refs AND the sorted keys for the next DDL's O(touched) encode
    revs.headOption.foreach { r =>
      Repo.regDecodeCache.put(rootUri,
        Repo.RegCached(r.child, state, enc.refs, keys, paths))
      Repo.noteLeaf(rootUri, r.child)
    }
    ()
  }

  def createCollection(schema: GSchema, label0: String,
      colMap: Map[String, String] = Map.empty,
      defaults: Map[String, Any] = Map.empty,
      namespace: String = DefaultNs,
      pageLen: Option[Long] = None): Collection =
      Repo.ddlLock(rootUri).synchronized {
    pageLen.foreach(n => require(n > 0, s"pageLen must be positive: $n"))
    // reference repo.py:189-191: labels are stripped, empty is invalid
    val label = label0.trim
    require(label.nonEmpty, s"invalid label: '$label0'")
    val state = regStateCurrent()
    state.get(mkKey(namespace, label)) match {
      case Some(e) =>
        require(e.schema == schema,
          s"collection $label exists with different schema")
        require(pageLen.isEmpty || pageLen == e.pageLen,
          s"collection $label exists with page_len ${e.pageLen
            .getOrElse("default")}, requested ${pageLen.get}")
        new Collection(this, label, e.path, e.schema, e.colMap,
          e.defaults, e.pageLen)
      case None =>
        // Path is DERIVED from the key (not random like the reference)
        // so two processes racing to create the same label converge on
        // one changelog dir and the registry union-merge heals the
        // fork. A rename keeps its path, so a later re-create of the
        // old label must probe past paths other entries still hold —
        // the probe order is deterministic, preserving the
        // concurrent-create convergence.
        val base = "c-" + Hash.sha1(
          mkKey(namespace, label).getBytes("UTF-8")).take(16)
        val taken = takenPaths(state)
        val path = Iterator.from(1)
          .map(i => if (i == 1) base else s"$base-$i")
          .find(p => !taken.contains(p)).get
        val kv = mkKey(namespace, label) -> RegEntry(path,
          schema, colMap, defaults, pageLen)
        writeRegDelta(state, Seq(kv), Nil)
        new Collection(this, label, path, schema, colMap, defaults,
          pageLen)
    }
  }

  /** In-place schema evolution for a collection: swap its registry
    * entry's (schema, colMap, defaults) atomically — the same
    * read-time machinery clones use (files store PHYSICAL names;
    * colMap renames, defaults fill columns a file predates), so
    * ADD / RENAME / DROP COLUMN are pure metadata: zero files
    * rewritten, one registry commit. The index column SET must be
    * preserved (same physical columns in the same order — renames
    * fine): manifests prune by position, not name. */
  def alterCollection(label: String, schema: GSchema,
      colMap: Map[String, String], defaults: Map[String, Any],
      namespace: String = DefaultNs,
      pageLenChange: Option[Option[Long]] = None): Collection =
      Repo.ddlLock(rootUri).synchronized {
    pageLenChange.foreach(_.foreach(n =>
      require(n > 0, s"pageLen must be positive: $n")))
    val key = mkKey(namespace, label)
    val state = regStateCurrent()
    val e = state.getOrElse(key, throw new IllegalArgumentException(
      s"no collection '$label' in namespace '$namespace'"))
    val oldPhysIdx = e.schema.idx.map(c =>
      e.colMap.getOrElse(c.name, c.name))
    val newPhysIdx = schema.idx.map(c => colMap.getOrElse(c.name, c.name))
    require(oldPhysIdx == newPhysIdx,
      s"alter may not change the index column set: $oldPhysIdx -> " +
        s"$newPhysIdx")
    // DROP COLUMN guard: manifest-INLINE rows store values
    // positionally over the write-time non-default column set, so
    // dropping a SOURCE column would silently shift every later
    // column's slot on read (files are name-addressed and immune;
    // default-backed added columns were never in the vectors). Scan
    // the full history — time travel reads old revisions too.
    val oldPhysAll = e.schema.cols.map(c =>
      e.colMap.getOrElse(c.name, c.name)).toSet
    val newPhysAll = schema.cols.map(c =>
      colMap.getOrElse(c.name, c.name)).toSet
    val defaultPhys = e.defaults.keySet.map(n =>
      e.colMap.getOrElse(n, n))
    val droppedSrc = oldPhysAll -- newPhysAll -- defaultPhys
    if (droppedSrc.nonEmpty) {
      val c = new Collection(this, label, e.path, e.schema, e.colMap,
        e.defaults, e.pageLen)
      val hasInline = c.changelog.log().exists(r =>
        c.decodePayload(c.changelog.payload(r)).rows
          .exists(_.inline.isDefined))
      require(!hasInline,
        s"cannot drop stored column(s) ${droppedSrc.mkString(", ")}: " +
          "the collection's history holds manifest-inline rows whose " +
          "positional layout would shift — rewrite them to files " +
          "(defrag with embedMaxSize = 0), squash, then retry")
    }
    // a mixed ALTER (column change + page_len property) commits both
    // in ONE registry write, so a failing half can never leave the
    // other half applied
    val newPageLen = pageLenChange.getOrElse(e.pageLen)
    val ne = RegEntry(e.path, schema, colMap, defaults, newPageLen)
    writeRegDelta(state, Seq(key -> ne), Nil)
    new Collection(this, label, e.path, schema, colMap, defaults,
      e.pageLen)
  }

  /** Re-point a collection's persisted page length (rows per segment
    * file) — `ALTER TABLE ... SET TBLPROPERTIES ('page_len'='N')`.
    * Pure registry metadata: existing segments keep their size; only
    * FUTURE writes (and compactions) roll at the new length. None
    * restores the engine default. */
  def alterPageLen(label: String, pageLen: Option[Long],
      namespace: String = DefaultNs): Collection =
      Repo.ddlLock(rootUri).synchronized {
    pageLen.foreach(n => require(n > 0, s"pageLen must be positive: $n"))
    val key = mkKey(namespace, label)
    val state = regStateCurrent()
    val e = state.getOrElse(key, throw new IllegalArgumentException(
      s"no collection '$label' in namespace '$namespace'"))
    val ne = e.copy(pageLen = pageLen)
    writeRegDelta(state, Seq(key -> ne), Nil)
    new Collection(this, label, e.path, e.schema, e.colMap, e.defaults,
      pageLen)
  }

  def collection(label: String,
      namespace: String = DefaultNs): Option[Collection] =
    regState().get(mkKey(namespace, label)).map { e =>
      new Collection(this, label, e.path, e.schema, e.colMap,
        e.defaults, e.pageLen) }

  def ls(namespace: String = DefaultNs): Seq[String] =
    regState().keys.toSeq.map(parseKey)
      .collect { case (ns, l) if ns == namespace => l }.sorted

  /** every namespace present in the registry */
  def namespaces(): Seq[String] =
    (regState().keys.toSeq.map(k => parseKey(k)._1) :+ DefaultNs)
      .distinct.sorted

  /** Same-schema sibling of `c` under the `archive` namespace
    * (reference Repo.archive, lakota/repo.py:227-232): a parking slot
    * for cold snapshots — invisible to default ls()/pull/merge, but
    * its segments stay live for [[gc]]. */
  def archive(c: Collection): Collection =
    collection(c.label, "archive")
      .getOrElse(createCollection(c.schema, c.label,
        namespace = "archive", pageLen = c.pageLenCfg))

  /** collections whose label starts with `prefix` (reference
    * Repo.search / CLI prefix match, lakota/repo.py:138-161). */
  def search(prefix: String): Seq[String] =
    ls().filter(_.startsWith(prefix))

  /** Register every series of every collection as a Spark temp view
    * named `<collection>_<series>` (non-identifier characters mapped
    * to `_`), so the whole versioned repo is queryable from plain
    * SQL — one view per series, backed by the
    * `spark.read.format("graft")` CONNECTOR — not a pre-resolved
    * frame snapshot — so a plain `WHERE ts < X` over the view pushes
    * its index predicates into [[graft.sources.GraftScanBuilder]]
    * and prunes MANIFEST segments exactly like the
    * `Series.frame(start, stop)` API. Views are live (each query
    * re-reads the current leaf); pass `before` for time-travel
    * views pinned at that changelog revision. */
  def registerViews(prefix: String = "",
      before: Option[Long] = None): Seq[String] = {
    def clean(s: String): String = s.map {
      case c if c.isLetterOrDigit => c
      case _ => '_'
    }.mkString
    // distinct (collection, series) pairs can clean() to the same
    // identifier ("a_b"/"c" vs "a"/"b_c") — suffix collisions instead
    // of letting createOrReplaceTempView silently shadow a series
    val taken = scala.collection.mutable.Set.empty[String]
    for {
      cl <- ls()
      c = collection(cl).get
      sl <- c.ls()
    } yield {
      val base = clean(s"$prefix$cl" + "_" + sl)
      val name = Iterator.from(1)
        .map(i => if (i == 1) base else s"${base}_$i")
        .find(taken.add(_)).get
      val rd = spark.read.format("graft")
        .option("path", rootUri)
        .option("collection", cl)
        .option("series", sl)
      before.foreach(ms => rd.option("before", ms.toString))
      rd.load().createOrReplaceTempView(name)
      name
    }
  }

  def deleteCollection(label: String,
      namespace: String = DefaultNs): Unit = {
    // only the registry delta needs the DDL lock; the recursive data
    // deletion (one IO per segment file — minutes on a large remote
    // collection) must not stall every other DDL on the root
    val path = Repo.ddlLock(rootUri).synchronized {
      val state = regStateCurrent()
      val key = mkKey(namespace, label)
      state.get(key).map { e =>
        writeRegDelta(state, Nil, Seq(key))
        e.path
      }
    }
    path.foreach(p => store.rm(p, recursive = true))
  }

  def renameCollection(from: String, to: String,
      namespace: String = DefaultNs): Unit =
      Repo.ddlLock(rootUri).synchronized {
    val state = regStateCurrent()
    val (fromK, toK) = (mkKey(namespace, from), mkKey(namespace, to))
    state.get(fromK).foreach { e =>
      require(!state.contains(toK), s"collection $to already exists")
      writeRegDelta(state, Seq(toK -> e), Seq(fromK))
    }
  }

  /** Sync: copy missing registry entries + per-collection revisions
    * and segment files from `remote`. */
  def pull(remote: Repo, labels: Seq[String] = Nil,
      shallow: Boolean = false): Unit = {
    val want = if (labels.nonEmpty) labels else remote.ls()
    val remoteState = remote.ls().filter(want.contains)
      .flatMap(l => remote.collection(l).map(l -> _)).toMap
    // merge registry: a label already known locally KEEPS its local
    // RegEntry (in particular its path) — with probe-suffixed path
    // allocation the same label can resolve to different physical
    // paths after divergent rename/recreate histories, and adopting
    // the remote path would orphan every local-only commit/segment
    // (which gc would then delete). The remote changelog is pulled
    // into the local path below instead.
    Repo.ddlLock(rootUri).synchronized {
      val state = regStateCurrent()
      val added = remoteState.collect {
        case (l, c) if !state.contains(mkKey(DefaultNs, l)) =>
          mkKey(DefaultNs, l) -> RegEntry(c.path, c.schema, c.colMap,
            c.defaults, c.pageLenCfg) }.toSeq
      if (added.nonEmpty)
        writeRegDelta(state, added, Nil)
    }
    remoteState.foreach { case (l, rc) =>
      collection(l).foreach(_.pull(rc, shallow))
    }
  }

  def push(remote: Repo, labels: Seq[String] = Nil,
      shallow: Boolean = false): Unit = remote.pull(this, labels, shallow)

  def merge(): Unit = ls().flatMap(collection(_)).foreach(_.merge())

  /** Bulk export of whole collections (reference Repo.export_,
    * lakota/repo.py:415-499): one parquet dataset per series under
    * `path/<collection>/<series>/` plus a `_schemas.json` with each
    * collection's schema, so [[importFrom]] can rebuild from scratch.
    */
  def exportTo(path: String, labels: Seq[String] = Nil): Unit = {
    val want = if (labels.nonEmpty) labels else ls()
    val out = new HadoopStore(path)
    val schemas = want.flatMap(l => collection(l).map(l -> _)).map {
      case (l, c) =>
        c.ls().foreach { sl =>
          c.series(sl).frame()
            .write.mode("overwrite").parquet(out.uri(s"$l/$sl"))
        }
        s"${Json.str(l)}:{" +
          s""""schema":${Json.str(c.schema.serialize)},"series":${
            c.ls().map(Json.str).mkString("[", ",", "]")}}"""
    }
    out.rm("_schemas.json")
    out.write("_schemas.json",
      schemas.mkString("{", ",", "}").getBytes("UTF-8"))
    ()
  }

  /** Inverse of [[exportTo]]: create collections and load each series'
    * parquet dump (reference Repo.import_). */
  def importFrom(path: String): Unit = {
    val in = new HadoopStore(path)
    val m = Json.parse(new String(in.read("_schemas.json"), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    m.foreach { case (label, v) =>
      val vm = v.asInstanceOf[Map[String, Any]]
      val schema = GSchema.fromJson(vm("schema").asInstanceOf[String])
      val c = createCollection(schema, label)
      vm("series").asInstanceOf[List[Any]].foreach { sl =>
        val name = sl.asInstanceOf[String]
        c.series(name).write(spark.read.parquet(in.uri(s"$label/$name")))
      }
    }
  }

  /** Two-phase GC (reference lakota/repo.py:339-413): unreferenced
    * segment files are soft-deleted (renamed with a hextime suffix);
    * buried files older than `timeoutMs` are removed; referenced
    * buried files are resurrected.
    */
  /** Two-phase sweep of one content-addressed chunk directory
    * (collection manifests and the registry share the contract):
    * unreferenced plain chunks are buried under a hextime suffix,
    * referenced buried chunks resurrect, aged buried chunks are
    * reaped. ONLY `<40-hex>[.t<hex>]` names are touched — a
    * concurrent writer's in-flight `.tmp-<uuid>` staging file
    * (HadoopStore.write stages in the target dir) must never be
    * treated as an expired buried chunk and deleted: its rename would
    * fail and the committed root would reference a chunk that no
    * longer exists anywhere. */
  private def sweepChunkDir(dir: String, refd: Set[String], now: Long,
      timeoutMs: Long,
      buried: java.util.concurrent.atomic.AtomicInteger): Unit = {
    def isSha(n: String): Boolean = n.length == 40 &&
      n.forall(ch => (ch >= '0' && ch <= '9') || (ch >= 'a' && ch <= 'f'))
    store.ls(dir).foreach { f =>
      val rel = s"$dir/$f"
      val ti = f.indexOf(".t")
      val plain = if (ti < 0) f else f.take(ti)
      if (isSha(plain)) {
        if (ti < 0) {
          if (!refd.contains(f)) {
            store.mvQuiet(rel, s"$rel.t${Hash.hextime(now)}")
            buried.incrementAndGet()
            ()
          }
        } else {
          val ts = try java.lang.Long.parseLong(f.drop(ti + 2), 16)
            catch { case _: NumberFormatException => 0L }
          if (refd.contains(plain)) {
            if (store.exists(s"$dir/$plain")) {
              // bury raced a re-mint: the plain copy is live, so the
              // rename target exists and mvQuiet would no-op forever,
              // leaving this duplicate retried every gc pass. Content
              // addressing makes the copies identical — drop the
              // buried one once it ages out (not immediately: a
              // mid-flight resurrector may still be reading it).
              if (now - ts > timeoutMs) store.rm(rel)
            } else store.mvQuiet(rel, s"$dir/$plain")
          } else if (now - ts > timeoutMs) store.rm(rel)
        }
      }
    }
  }

  def gc(timeoutMs: Long = 600000L): Int = {
    // live set spans EVERY namespace — an archived collection's
    // segments are as reachable as a live one's (reference gc walks
    // all registry namespaces, lakota/repo.py:356-363)
    val colls = namespaces()
      .flatMap(ns => ls(ns).flatMap(collection(_, ns)))
    val now = System.currentTimeMillis()
    val buried = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.jdk.CollectionConverters._

    // ONE payload read per revision: plain payloads decode their file
    // set immediately (no chunk bytes needed); chunked ROOTS (small)
    // are held so their row decode runs AFTER this collection's chunk
    // resurrect pass — ordering that matters, because a previous gc
    // racing a commit may have buried a chunk the leaf references,
    // and decoding before resurrecting would throw and brick gc
    // (segment files self-heal precisely because their resurrect path
    // never reads the buried bytes).
    val liveB = Set.newBuilder[String]
    colls.foreach { c =>
      val plainFiles =
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val roots =
        new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
      c.changelog.log().toList.asJava.parallelStream().forEach { r =>
        val bytes = c.changelog.payload(r)
        if (ManifestCodec.isChunked(bytes)) { roots.add(bytes); () }
        else Manifest.decode(bytes).allFiles.foreach(plainFiles.add)
      }
      val rootList = roots.asScala.toList.map(ManifestCodec.parseRoot)
      // chunk sweep, same two-phase bury/resurrect contract as
      // segments: trim/squash retire revisions whose exclusive chunks
      // become unreferenced; a writer that crashed between chunk
      // writes and its root commit leaves orphans. Referenced =
      // listed in ANY surviving revision's root (root parse only).
      sweepChunkDir(s"${c.path}/chunks",
        rootList.flatMap(_.chunks.map(_.sha)).toSet,
        now, timeoutMs, buried)
      // Chunked roots contribute files now — every referenced chunk
      // is present after the resurrect pass above ([[Collection
      // .uniqueChunkFiles]]: one parallel walk per unique chunk).
      c.uniqueChunkFiles(rootList).foreach(liveB += _)
      plainFiles.forEach(f => liveB += f)
    }
    val live: Set[String] = liveB.result()

    // REGISTRY chunk objects: same contract. Referenced = listed in
    // any surviving registry revision's root.
    sweepChunkDir("registry/chunks",
      registry.log().flatMap { r =>
        val b = registry.payload(r)
        if (RegistryCodec.isChunked(b)) RegistryCodec.chunkShas(b)
        else Nil
      }.toSet, now, timeoutMs, buried)

    // each segment's bury/resurrect decision is independent — fan the
    // per-file store ops out on a parallel stream (like digests()): at
    // millions of segments the serial driver loop, not the store,
    // would be the sweep bottleneck
    store.walk("seg").toList.asJava.parallelStream().forEach { f =>
      if (f.endsWith(".parquet")) {
        if (!live.contains(f)) {
          store.mvQuiet(f, s"$f.t${Hash.hextime(now)}")
          buried.incrementAndGet()
          ()
        }
      } else if (f.contains(".parquet.t")) {
        val plain = f.substring(0, f.indexOf(".parquet.t") + 8)
        val ts = java.lang.Long.parseLong(
          f.drop(f.indexOf(".parquet.t") + 10), 16)
        if (live.contains(plain)) store.mvQuiet(f, plain) // resurrect
        else if (now - ts > timeoutMs) store.rm(f)
      }
    }
    // staging sweep: a writer that dies between staging and commit
    // leaves its tmp/<hextime>-<uuid> dir forever — age it out. The
    // hextime prefix is the staging dir's CREATION time, so the
    // timeout is an operational contract (reference settings.timeout,
    // lakota/utils.py:42): don't run gc with a timeout shorter than
    // the longest in-flight write job
    store.ls("tmp").foreach { d =>
      val hex = d.takeWhile(_ != '-')
      val ts = try java.lang.Long.parseLong(hex, 16) catch {
        case _: NumberFormatException => 0L // pre-hextime layout: stale
      }
      if (now - ts > timeoutMs) store.rm(s"tmp/$d", recursive = true)
    }
    buried.get
  }
}

object Repo {
  /** registry entry: path, schema, column mapping, read defaults,
    * optional persisted page length (rows per segment file) */
  final case class RegEntry(path: String, schema: GSchema,
      colMap: Map[String, String], defaults: Map[String, Any],
      pageLen: Option[Long] = None)

  /** JVM-wide registry DECODE cache, content-addressed by the leaf
    * revision id (`hextime-sha1(payload)`): a payload never changes
    * under its id, so a hit can never serve stale state — freshness
    * comes from the per-call leaf LISTING, which stays uncached. The
    * SQL door opens a fresh [[Repo]] per statement by design (no
    * stale handles); this cache makes that pattern O(1) in registry
    * size instead of re-parsing a 10^5-collection JSON per statement.
    * One entry per ROOT (the newest leaf — only it can ever hit
    * again), so memory is O(#open repos), not O(#registry commits);
    * a [[graft.core.BoundedCache]] of 256 roots (temp repos in test
    * suites would otherwise accumulate), so hot repos never lose their
    * slot to a cold temp repo churning the bound. */
  private[api] val regDecodeCache =
    new graft.core.BoundedCache[String, RegCached](256)

  /** One cached registry decode/commit: the leaf revision it belongs
    * to, the entry state, the chunk layout (null for v1 payloads),
    * the SORTED key array and the set of taken physical paths (both
    * null until first materialized — a decode pays neither; writes
    * maintain them O(touched)). The array is shared by reference and
    * must never be mutated; [[spliceSorted]] always allocates. */
  private[api] final case class RegCached(leaf: String,
      state: Map[String, RegEntry],
      refs: Vector[RegistryCodec.ChunkRef],
      sortedKeys: Array[String],
      paths: Set[String])

  /** Per-root DDL monitor: serializes registry WRITERS (create /
    * delete / rename / alter / pull-delta) across every
    * Repo HANDLE in this JVM — [[regDecodeCache]] is JVM-global per
    * root, so two handles' unsynchronized DDLs could interleave a
    * commit between one another's regState() read and the delta
    * splice (ADVICE r14: NoSuchElementException during encode, or a
    * committed document whose seeded cache silently lacks the
    * concurrent key). Reads stay lock-free; cross-PROCESS racers
    * still fork and union-merge heal. Keyed by rootUri — one small
    * monitor object per distinct root opened over the JVM lifetime. */
  private val ddlLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private[api] def ddlLock(root: String): AnyRef =
    ddlLocks.computeIfAbsent(root, _ => new Object)

  /** Newest registry leaf committed by THIS JVM per root — the
    * in-JVM single-chain guarantee must survive [[regDecodeCache]]'s
    * 256-root LRU: with only the cache, an evicted root's next DDL
    * from a warm-stale handle would parent onto its old leaf and
    * fork (whose add-wins union heal resurrects deleted keys). One
    * leaf-id string per root ever opened — never evicted. */
  private val latestRegLeaf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[api] def notedLeaf(root: String): String =
    latestRegLeaf.get(root)
  private[api] def noteLeaf(root: String, leaf: String): Unit =
    latestRegLeaf.merge(root, leaf,
      (old, nw) => if (nw > old) nw else old)

  /** full O(n log n) registry key sorts — DDLs against a warm handle
    * must NOT pay one (spec-pinned); only the first write after a
    * cold decode (or a fork merge / bulk import) does */
  private[graft] val regFullSorts =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** `base` (sorted, never mutated) with `add` inserted and `rem`
    * removed, as ONE merge pass — O(n + K log n), not K whole-array
    * memcpys (a bulk pull of K collections into a 1e6-entry registry
    * would otherwise copy the full array K times). The comparison
    * sort this replaces was the dominant cost of a DDL at that
    * scale. Keys in `add` already present are position no-ops
    * (value-only changes); keys in `rem` not present are ignored; a
    * key in both ends absent (add-then-remove, matching the old
    * sequential application). */
  private[api] def spliceSorted(base: Array[String],
      add: Iterable[String], rem: Iterable[String]): Array[String] = {
    val remSet = new java.util.HashSet[String]()
    rem.foreach(remSet.add)
    val addArr: Array[String] = {
      val a = add.iterator
        .filter(k => !remSet.contains(k) &&
          java.util.Arrays.binarySearch(
            base.asInstanceOf[Array[AnyRef]], k) < 0)
        .toArray.distinct
      java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]])
      a
    }
    if (addArr.isEmpty && remSet.isEmpty) return base
    val out = new scala.collection.mutable.ArrayBuilder.ofRef[String]
    out.sizeHint(base.length + addArr.length)
    var bi = 0
    var ai = 0
    while (bi < base.length || ai < addArr.length) {
      if (ai < addArr.length &&
          (bi >= base.length || addArr(ai) < base(bi))) {
        out += addArr(ai); ai += 1
      } else {
        val k = base(bi); bi += 1
        if (!remSet.contains(k)) out += k
      }
    }
    out.result()
  }

  /** Test hook: drop cached registry decodes (cold-read specs). */
  private[graft] def clearRegDecodeCache(): Unit = regDecodeCache.clear()

  /** Canonical JSON of ONE registry entry's value — the unit both the
    * plain v1 document and [[RegistryCodec]]'s chunks are built from,
    * so the two encodings agree byte-for-byte per entry. */
  private[api] def entryJson(e: RegEntry): String = {
    val cm = e.colMap.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val dm = e.defaults.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}:${Json.scalar(v)}" }.mkString("{", ",", "}")
    val pl = e.pageLen.map(n => s""","page_len":$n""").getOrElse("")
    s"""{"path":${Json.str(e.path)},"schema":${Json.str(
      e.schema.serialize)},"colmap":$cm,"defaults":$dm$pl}"""
  }

  /** `http(s)://` roots open as HTTP-POD clients (a repo served by
    * [[graft.core.StoreServer]]); `memory://` roots run fully
    * in-memory ([[graft.core.MemFileSystem]], reference MemPOD);
    * everything else goes through the Hadoop FS connectors (file://,
    * hdfs://, s3a://). */
  def apply(rootUri: String, spark: SparkSession): Repo =
    if (rootUri.startsWith("http://") || rootUri.startsWith("https://"))
      new Repo(rootUri, spark, new HttpStore(rootUri))
    else new Repo(rootUri, spark)
}
