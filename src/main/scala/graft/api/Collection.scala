package graft.api

import graft.core._
import org.apache.spark.sql.functions._

/** Named group of series sharing one schema and one changelog
  * (reference lakota/collection.py). The changelog payload is a JSON
  * [[Manifest]]; all series of the collection live in the same
  * manifest, keyed by label.
  */
class Collection(val repo: Repo, val label: String, val path: String,
    val schema: GSchema,
    /** target→source column-name mapping (set by cloneTo renames) */
    val colMap: Map[String, String] = Map.empty,
    /** added columns absent from stored segments → default scalar */
    val defaults: Map[String, Any] = Map.empty,
    /** registry-persisted segment page length (rows per file) —
      * `CREATE TABLE ... TBLPROPERTIES ('page_len'='N')` / the
      * `pageLen` argument of [[Repo.createCollection]]. Smaller pages
      * trade per-file overhead for finer segment granularity: range
      * reads prune tighter and SQL row-level operations (group-based
      * copy-on-write) rewrite only the covering segments. None =
      * engine default. */
    val pageLenCfg: Option[Long] = None) {

  val changelog = new Changelog(repo.store, s"$path/changelog")
  var pageLen: Long = pageLenCfg.getOrElse(500000L)
  /** writes serializing under this many bytes embed their rows in the
    * manifest instead of creating a parquet segment (reference
    * lakota/series.py embed_max_size; 0 disables embedding) */
  var embedMaxSize: Long = 1024L
  /** row cap for the tiny-write probe collect */
  var embedProbeRows: Int = 256

  // pending writes (one Seq of tiled rows per write) for multi()
  private var batch: scala.collection.mutable.ArrayBuffer[Seq[SegmentMeta]] =
    null

  /** Physical (stored) name of a schema column: clones keep renamed
    * columns under their SOURCE name in every segment file — Delta
    * column-mapping style — so pre-clone and post-clone segments stay
    * uniform and resolve with one read-time projection. */
  private[graft] def physOf(n: String): String = colMap.getOrElse(n, n)

  def series(name: String): Series =
    if (schema.kv) new KVSeries(this, name) else new Series(this, name)

  /** Bulk multi-series ingest — one series per distinct value of
    * `byCol` (the reference's who_covid workflow, one series per
    * country, examples/who_covid.md). Scale shape: ONE range-sorted
    * job in which every task streams its (label, index)-ordered rows
    * into per-label segment files ([[graft.core.SegmentWriter]]
    * rolls on label change or pageLen) and returns label-tagged
    * per-file stats + content hashes inline; every series' manifest
    * rows then land in a SINGLE batched changelog commit — the
    * driver loop touches only metadata, so "split this dataframe
    * into 10^5 series" never becomes 10^5 Spark jobs, and the old
    * read-back stats aggregate (a second full pass at corpus scale)
    * no longer exists. Labels are the group values rendered as
    * strings. Returns the ingested labels in sorted order.
    */
  def ingestGrouped(df: org.apache.spark.sql.DataFrame,
      byCol: String): Seq[String] = {
    require(!schema.kv, "ingestGrouped targets plain series schemas")
    require(colMap.isEmpty && defaults.isEmpty,
      "ingestGrouped targets non-cloned collections (bulk ingest " +
        "belongs in the source collection; clones share its segments)")
    val idxCols = schema.idxNames.map(col)
    val data = df.select(col(byCol).cast("string").as("_graft_label") +:
      schema.cols.map(c =>
        col(c.name).cast(c.dtype.sparkType).as(c.name)): _*)
    val sortCols = col("_graft_label") +: idxCols
    val sorted = data.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)

    val writes = staged(labeled = true) { p =>
      val stats =
        try SegmentWriter.writeJob(sorted, p)
        catch {
          case scala.util.control.NonFatal(e) =>
            // task-side validation (null labels) keeps its API-level
            // exception type instead of Spark's job-failure wrapper
            Iterator.iterate(e.getCause)(_.getCause)
              .takeWhile(_ != null).take(8)
              .collectFirst { case ia: IllegalArgumentException =>
                throw new IllegalArgumentException(
                  s"${ia.getMessage} (group column '$byCol')") }
            throw e
        }
      stats.groupBy(_._1).toSeq.sortBy(_._1).map { case (lbl, st) =>
        lbl -> new Series(this, lbl).sealSegments(st.map(_._2),
          null, null, Closed.Both)
      }
    }
    if (writes.nonEmpty) synchronized {
      val rows = writes.map(_._2)
      if (batch != null) batch ++= rows else commitBatch(rows)
    }
    writes.map(_._1)
  }

  /** Staging for one write, shared by every write tier.
    *
    * The at-rest codec is `spark.graft.segment.codec` (default zstd):
    * a 100 TB corpus is storage- and scan-IO-bound, and zstd buys ~2x
    * the ratio of snappy at comparable decode speed — the reference
    * makes the same call with blosc(zstd) per column
    * (lakota/schema.py). Reads are codec-agnostic: the connector's
    * readers pick each file's decode tier from its footer, the
    * engine's page decoder for `+bss` (BYTE_STREAM_SPLIT) float pages.
    *
    * The staging dir is a fresh `tmp/<hextime>-<uuid>`: the hextime
    * prefix is its creation time, which gc's staging sweep
    * ([[Repo.gc]]) ages out when a writer dies before commit. */
  private[graft] def taskParams(verifySorted: Boolean = false,
      labeled: Boolean = false): SegmentWriter.TaskParams = {
    val codec = repo.spark.conf.get("spark.graft.segment.codec", "zstd")
    val tmpRel = s"tmp/${Hash.hextime()}-" +
      java.util.UUID.randomUUID().toString.take(12)
    SegmentWriter.TaskParams(schema,
      schema.names.map(physOf).toIndexedSeq, tmpRel,
      repo.store.uri(tmpRel), pageLen, codec, verifySorted, labeled)
  }

  /** `body` over fresh [[taskParams]], with the staging dir removed on
    * every path: sealing moved the files `body` kept, and a failed
    * write (a rejected presorted declaration, a failed task)
    * leaves nothing behind for gc to age out. */
  private[graft] def staged[T](verifySorted: Boolean = false,
      labeled: Boolean = false)(body: SegmentWriter.TaskParams => T): T = {
    val p = taskParams(verifySorted, labeled)
    try body(p) finally repo.store.rm(p.tmpRel, recursive = true)
  }

  def kvSeries(name: String): KVSeries = new KVSeries(this, name)

  /** Decoded-manifest lookup through the JVM-wide content-addressed
    * cache ([[Collection.manifestCache]]). Revision ids are
    * `hextime-sha1(payload)` — equal id implies equal payload implies
    * equal decode — so a cached decode can never go stale; only the
    * LEAF lookup (cheap) consults the store per read. The cache being
    * JVM-wide (not instance-local) is what makes the SQL door's
    * fresh-handle-per-statement pattern O(1) in manifest size: a
    * fresh Collection on an unchanged leaf decodes nothing. */
  private[graft] def decodeCached(r: Revision): Manifest =
    Collection.manifestCache.getOrLoad(r.child) {
      val m = decodePayload(changelog.payload(r))
      // frozen from here on: other handles read the layout fields
      // without synchronization once it is inserted
      // ([[Manifest.stampLayout]]'s debug guard enforces that no
      // further stamps land on this object)
      m.cacheShared = true
      m
    }

  /** Decode a revision payload of either format: plain v1 single-doc
    * or chunked v2 ([[ManifestCodec]] — chunks live under
    * `<path>/chunks/<sha>`, assembled through the JVM-wide chunk
    * cache, so re-decoding a leaf that moved by one splice parses
    * only the touched chunks). */
  private[graft] def decodePayload(bytes: Array[Byte]): Manifest =
    if (ManifestCodec.isChunked(bytes))
      ManifestCodec.decode(bytes, readChunk)
    else Manifest.decode(bytes)

  private[graft] def readChunk(sha: String): Array[Byte] = {
    // gc-buried fallback, mirroring segment reads (GraftRead.open):
    // a referenced chunk soft-deleted by a racing gc still exists
    // under its hextime suffix — resurrect it. Best-effort with a
    // bounded loop: concurrent resurrectors (another reader, gc's own
    // resurrect pass) race the rename (which throws FNF on a vanished
    // source), and a re-bury can land between our mv and re-read.
    val rel = s"$path/chunks/$sha"
    var attempt = 0
    while (true) {
      try return repo.store.read(rel)
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 3) throw e
          val buriedCopy = repo.store.ls(s"$path/chunks")
            .find(_.startsWith(s"$sha.t"))
          buriedCopy.foreach(b =>
            repo.store.mvQuiet(s"$path/chunks/$b", rel))
          // genuinely absent (no buried form on a SECOND look, so not
          // a mid-flight resurrect either): fail now instead of
          // burning the remaining read+list attempts
          if (buriedCopy.isEmpty && attempt >= 2) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit a manifest revision: big manifests encode as a chunk set
    * plus a small root ([[ManifestCodec]]); chunk objects are written
    * (content-addressed create-if-absent — a racer minting the same
    * chunk is a no-op) BEFORE the root becomes visible, so a reader
    * can never see a root whose chunks are missing. Unchanged chunks
    * are reused by reference: a single-write commit on a 1e6-segment
    * manifest re-encodes O(touched) rows, not O(manifest). */
  private[graft] def commitManifest(m: Manifest,
      parents: Seq[String]): Seq[graft.core.Revision] = {
    var enc = ManifestCodec.encode(m)
    // Reused-by-reference chunks must still EXIST: a handle held past
    // the gc timeout (default 10 min) can carry a layout whose chunks
    // two gc passes have since expired-deleted (the revisions
    // referencing them were retired by squash/trim meanwhile), and
    // committing a root over absent chunks bricks the whole branch —
    // worse than the pre-existing stale-SEGMENT window, which loses
    // one segment. Small reused sets probe per-sha; a miss (or a big
    // set) escalates to the chunks-dir listing that also sees
    // gc-buried forms — buried is resurrectable, see [[readChunk]];
    // any truly absent ref forces a full re-encode.
    if (enc.refs != null) {
      val freshShas = enc.fresh.iterator.map(_._1).toSet
      val reused = enc.refs.iterator.map(_._1)
        .filterNot(freshShas).toSet
      if (reused.nonEmpty) {
        val missing = graft.core.Store
          .missingChunks(repo.store, s"$path/chunks", reused)
        if (missing.nonEmpty) {
          // rare recovery event worth surfacing: it means a layout
          // outlived the gc timeout (operational contract violation)
          System.err.println("[graft] commitManifest: " +
            s"${missing.size} reused chunk refs missing " +
            "from the store; falling back to a full re-encode")
          enc = ManifestCodec.encodeFull(m)
        }
      }
    }
    enc.fresh.foreach { case (sha, bytes) =>
      repo.store.write(s"$path/chunks/$sha", bytes)
    }
    // The encoded layout now describes m.rows exactly — stamp it so a
    // follow-on splice from this same object stays incremental. Skip
    // the no-op stamp: a JVM-cache-SHARED manifest (restore, squash,
    // merge-without-changes commit the cached decode directly) already
    // carries these exact values, and writing content-equal values to
    // its plain fields from here would be an unsynchronized publish
    // racing other handles' readers. Derived manifests are
    // thread-confined to the committing thread, where the plain
    // writes are safe.
    if (enc.refs != null && m.chunkRefs != null &&
        !(m.incPrefix == Int.MaxValue && m.incSuffix == Int.MaxValue &&
          enc.refs == m.chunkRefs)) {
      m.stampLayout(enc.refs, Int.MaxValue, Int.MaxValue)
    }
    changelog.commit(enc.root, parents)
  }

  /** Files referenced by the given parsed v2 roots, walking each
    * UNIQUE chunk exactly once — consecutive revisions of a history
    * share almost all chunks, so sweeps over the whole changelog
    * (gc, digests, pull) cost O(unique chunks), not
    * O(revisions × manifest rows). Chunk fetch+parse fans out on a
    * parallel stream: a cold object store serves one GET per chunk
    * (~245 for a 1e6-segment history) and back-to-back round trips
    * would dominate the sweep. */
  private[graft] def uniqueChunkFiles(
      roots: Seq[ManifestCodec.Root]): Set[String] = {
    import scala.jdk.CollectionConverters._
    // dedup key is (sha, schema) like the chunk cache's: identical
    // chunk bytes can be referenced by roots with different embedded
    // schemas (post-ALTER histories), and although file extraction is
    // dtype-independent TODAY, a sha-only dedup would silently
    // mis-parse if rowFromParsed ever grows a dtype-sensitive field
    val uniq = roots.flatMap(r =>
      r.chunks.map(ch => (ch.sha, r.schema) -> ((r.schema, ch)))).toMap
    val out = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    uniq.values.toList.asJava.parallelStream().forEach { sc =>
      ManifestCodec.chunkRows(sc._1, sc._2, readChunk)
        .foreach(r => r.files.foreach(out.add))
    }
    out.asScala.toSet
  }

  /** Bounded segment read without materializing the manifest: when
    * the leaf is chunked and not yet fully decoded in this JVM, fetch
    * only the chunks whose (label, start-head) span can cover the
    * query ([[ManifestCodec.prunedSegments]]) — a cold point query on
    * a 1e6-segment manifest touches a couple of ~400 KB chunks
    * instead of the full payload. Once a full decode is cached (any
    * unbounded read, `ls`, or a SQL snapshot), the cached manifest
    * serves directly. Freshness is identical to [[manifest]]: the
    * leaf LISTING is never cached. */
  /** ONE retry for a racing squash/trim that deleted the revision
    * mid-read (see [[manifest]]): re-list and re-run. The single copy
    * of the recovery every pruned read shares. */
  private def retryStale[A](body: => A): A =
    try body
    catch {
      case _: java.io.FileNotFoundException =>
        changelog.refresh()
        body
    }

  /** Dispatch over how revision `rev`'s manifest materializes:
    * decoded-in-cache / chunked root (the O(touched) codec paths) /
    * plain payload (small by construction — full decode, cached).
    * The single copy of the scaffold every pruned read shares. */
  private def overRoot[A](rev: Revision)(whole: Manifest => A)(
      chunked: ManifestCodec.Root => A): A =
    Collection.manifestCache.peek(rev.child) match {
      case Some(m) => whole(m)
      case None =>
        Collection.rootCache.getOrLoad(rev.child) {
          val bytes = changelog.payload(rev)
          if (ManifestCodec.isChunked(bytes))
            Some(ManifestCodec.parseRoot(bytes))
          else None
        } match {
          case Some(r) => chunked(r)
          case None => whole(decodeCached(rev))
        }
    }

  private[graft] def prunedSegments(label: String,
      start: Option[IndexKey], stop: Option[IndexKey], closed: Closed,
      beforeMs: Option[Long] = None): Seq[SegmentRead] =
    retryStale {
      changelog.leaf(beforeMs).map(
        prunedSegmentsAt(_, label, start, stop, closed))
        .getOrElse(Seq.empty)
    }

  /** [[prunedSegments]] against a FIXED revision — a caller that
    * resolves several values must read them all from one snapshot. */
  private[graft] def prunedSegmentsAt(rev: Revision, label: String,
      start: Option[IndexKey], stop: Option[IndexKey], closed: Closed)
      : Seq[SegmentRead] =
    overRoot(rev)(_.segments(label, start, stop, closed))(r =>
      ManifestCodec.prunedSegments(r, readChunk, label, start, stop,
        closed))

  /** Tail-oriented sibling of [[prunedSegments]]: when the leaf is
    * chunked and cold, only the TRAILING chunks that guarantee `need`
    * visible rows are fetched ([[ManifestCodec.prunedTailSegments]])
    * — a cold `tail(n)` against a 1e6-segment label decodes a couple
    * of chunks instead of every chunk spanning the label. */
  private[graft] def prunedTailSegments(label: String,
      start: Option[IndexKey], stop: Option[IndexKey], closed: Closed,
      beforeMs: Option[Long], need: Long): Seq[SegmentRead] =
    retryStale {
      changelog.leaf(beforeMs).map(
        prunedTailSegmentsAt(_, label, start, stop, closed, need))
        .getOrElse(Seq.empty)
    }

  private[graft] def prunedTailSegmentsAt(rev: Revision, label: String,
      start: Option[IndexKey], stop: Option[IndexKey], closed: Closed,
      need: Long): Seq[SegmentRead] =
    overRoot(rev)(_.segments(label, start, stop, closed))(r =>
      ManifestCodec.prunedTailSegments(r, readChunk, label, start,
        stop, closed, need))

  /** Head-oriented sibling of [[prunedTailSegments]] — first visible
    * segments of the label without a full decode (one-sided DML
    * bounds at 1e6-segment scale). */
  private[graft] def prunedHeadSegments(label: String,
      start: Option[IndexKey], stop: Option[IndexKey], closed: Closed,
      beforeMs: Option[Long], need: Long): Seq[SegmentRead] =
    retryStale {
      changelog.leaf(beforeMs).map(
        prunedHeadSegmentsAt(_, label, start, stop, closed, need))
        .getOrElse(Seq.empty)
    }

  private[graft] def prunedHeadSegmentsAt(rev: Revision, label: String,
      start: Option[IndexKey], stop: Option[IndexKey], closed: Closed,
      need: Long): Seq[SegmentRead] =
    overRoot(rev)(_.segments(label, start, stop, closed))(r =>
      ManifestCodec.prunedHeadSegments(r, readChunk, label, start,
        stop, closed, need))

  /** Both one-sided DML bound substitutes from ONE snapshot: (head,
    * tail) pruned walks of the label against the SAME revision — two
    * independent reads could straddle a concurrent commit and yield a
    * [st, sp] window no snapshot ever held. None = no revisions. */
  private[graft] def labelBoundsSnapshot(label: String, closed: Closed)
      : Option[(Seq[SegmentRead], Seq[SegmentRead])] =
    retryStale {
      changelog.leaf(None).map { rev =>
        (prunedHeadSegmentsAt(rev, label, None, None, closed, 1L),
          prunedTailSegmentsAt(rev, label, None, None, closed, 1L))
      }
    }

  /** Manifest row count for `label` WITHOUT enumerating the manifest
    * — the scan planner's display/probe denominator. O(touched) via
    * [[ManifestCodec.countLabelRows]] when the leaf is chunked and
    * cold. ONE semantics in every tier: ALL manifest rows of the
    * label, tombstones included — fully-covered chunk refs can't see
    * hasData without being fetched, and a denominator that changed
    * between cold and warm runs of the same statement would read as
    * a pruning regression. */
  private[graft] def segmentCount(label: String,
      beforeMs: Option[Long] = None): Int =
    retryStale {
      changelog.leaf(beforeMs).map { rev =>
        overRoot(rev)(_.rows.count(_.label == label))(r =>
          ManifestCodec.countLabelRows(r, readChunk, label))
      }.getOrElse(0)
    }

  def manifest(beforeMs: Option[Long] = None): Option[Manifest] =
    retryStale(changelog.leaf(beforeMs).map(decodeCached))

  /** Series labels present at the current leaf. */
  def ls(beforeMs: Option[Long] = None): Seq[String] =
    manifest(beforeMs).map(_.labels).getOrElse(Seq.empty)

  /** Run `body`; any series writes inside are accumulated and
    * committed as ONE revision (reference Collection.multi /
    * Batch, lakota/batch.py). */
  def multi[T](body: => T): T = synchronized {
    require(batch == null, "nested multi() not supported")
    batch = scala.collection.mutable.ArrayBuffer.empty[Seq[SegmentMeta]]
    try {
      val out = body
      val writes = batch.toSeq
      batch = null
      if (writes.nonEmpty) commitBatch(writes)
      out
    } finally batch = null
  }

  // THREAD-LOCAL capture for merge's read+rewrite: unlike the shared
  // multi() batch, a capture must divert only the capturing thread's
  // own writes — a concurrent writer on another thread keeps its
  // normal commit path
  private val capture =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Seq[SegmentMeta]]]

  /** Defer a write's rows to this thread's open capture, the open
    * multi() batch, or commit direct. */
  private[api] def batchOr(direct: () => Unit)(rows: Seq[SegmentMeta])
      : Unit = {
    val cap = capture.get()
    if (cap != null) { cap += rows; () }
    else synchronized {
      if (batch != null) batch += rows else direct()
    }
  }

  /** Run `body` capturing any series writes ON THIS THREAD as segment
    * rows WITHOUT committing them — the reference's `batch = True`
    * trick its merge uses to collect rewrite rows
    * (lakota/collection.py:265-291). */
  private[api] def captureRows(body: => Unit): Seq[Seq[SegmentMeta]] = {
    require(capture.get() == null, "nested captureRows not supported")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[SegmentMeta]]
    capture.set(buf)
    try { body; buf.toSeq } finally capture.remove()
  }

  /** ONE commit that drops every existing row of `label` and splices
    * `rows` in — SQL overwrite-mode semantics for a single series:
    * readers at the previous revision (time travel) still see the old
    * data; other series are untouched. */
  private[graft] def truncateWrite(label: String,
      rows: Seq[SegmentMeta]): Unit = synchronized {
    commitOn(changelog.leaf()) { m =>
      val m1 = m.deleteLabels(Set(label))
      if (rows.isEmpty) m1 else Manifest.spliceWrite(m1, rows)
    }
  }

  /** Commit `f` of `base`'s manifest (empty for None) as ONE revision
    * whose parent is `base`: the commit every manifest transform
    * shares — writes, batches, truncates, series DDL and defrag. */
  private[api] def commitOn(base: Option[Revision])(
      f: Manifest => Manifest): Unit = {
    commitManifest(f(base.map(decodeCached).getOrElse(
      Manifest.empty(schema))),
      parents = Seq(base.map(_.child).getOrElse(Changelog.Phi)))
    ()
  }

  private def commitBatch(writes: Seq[Seq[SegmentMeta]],
      base: Option[Revision] = changelog.leaf()): Unit =
    commitOn(base)(writes.foldLeft(_)(Manifest.spliceWrite))

  def refresh(): Unit = changelog.refresh()

  // ------------------------------------------------------------------
  // series-level DDL (manifest transforms, no data movement)
  // ------------------------------------------------------------------

  // a revision a racing squash/trim deleted fails the decode before
  // anything commits: retry on the fresh leaf
  def deleteSeries(labels: String*): Unit = retryStale {
    changelog.leaf().foreach(l =>
      commitOn(Some(l))(_.deleteLabels(labels.toSet)))
  }

  def renameSeries(from: String, to: String): Unit = retryStale {
    changelog.leaf().foreach(l =>
      commitOn(Some(l))(_.renameLabel(from, to)))
  }

  // ------------------------------------------------------------------
  // maintenance
  // ------------------------------------------------------------------

  /** Rewrite history as a single root revision holding the current
    * leaf manifest (reference Collection.squash).
    *
    * Fork-aware: only the squashed leaf's ANCESTOR edges are deleted.
    * On an un-healed fork, the winning leaf (last-leaf-wins, same
    * choice every read makes) is squashed while sibling branches keep
    * their revisions — squashing them away would silently destroy
    * whatever a concurrent writer committed on them (found by the
    * chunked-manifest race spec: 43 of 48 racing writes vanished).
    * The surviving branches remain ordinary forks; `merge()` heals
    * them into the squash root afterwards, exactly like any other
    * fork. On a linear history (the common case) ancestors == the
    * whole log and behavior is unchanged. */
  def squash(): Unit = {
    // heal any fork FIRST: the squash root's Phi parent sorts before
    // a surviving sibling's implicit root in the changelog DFS, so
    // squashing the winner of a live fork would flip every read to
    // the STALE branch until someone merged — merging first keeps
    // last-leaf-wins intact and folds the sibling's data into the
    // squashed state (bounded loop; a racing writer can at worst
    // leave one fresh fork, which stays a normal fork)
    var heals = 0
    while (changelog.leafs().length > 1 && heals < 8) {
      merge(); refresh(); heals += 1
    }
    // ONE history snapshot drives everything below: the manifest
    // committed and the ancestor closure deleted must come from the
    // SAME leaf (a concurrent commit through this handle refreshes
    // the shared log cache between calls — seeding the closure from
    // a re-read history.last would delete the newer leaf's revision
    // while committing the older manifest)
    val history = changelog.log()
    if (history.isEmpty) return
    // the WINNING leaf from this same snapshot — not history.last,
    // which can be a second-parent-edge revisit of an interior merge
    // node (see Changelog.leaf); squashing that would collapse to a
    // stale snapshot
    val leafRev = history.reverseIterator.find(_.isLeaf)
      .getOrElse(history.last)
    locally {
        val m = decodeCached(leafRev)
        // ancestor closure of the squashed leaf, following EVERY
        // parent edge (a merge node has one edge per parent, all
        // sharing one child id)
        val edgesByChild = history.groupBy(_.child)
        val anc = scala.collection.mutable.Set.empty[String]
        var frontier = List(leafRev.child)
        while (frontier.nonEmpty) {
          val id = frontier.head; frontier = frontier.tail
          if (anc.add(id))
            edgesByChild.getOrElse(id, Seq.empty).foreach { e =>
              if (e.parent != Changelog.Phi) {
                val pid = e.parent
                if (!anc.contains(pid)) frontier = pid :: frontier
              }
            }
        }
        val old = history.filter(r => anc.contains(r.child))
        val written = commitManifest(m, parents = Seq(Changelog.Phi))
        // keep exactly the root the commit resolved to: a squash in
        // the same millisecond as an identical earlier squash shares
        // its content-addressed id (the write-once create is a no-op
        // on the existing file), and deleting that very file would
        // EMPTY the changelog — every series would read as gone and
        // gc would reap the segments
        val keep = written.map(_.path).toSet
        old.filterNot(r => keep.contains(r.path))
          .foreach(r => repo.store.rm(s"${changelog.dir}/${r.path}"))
        changelog.refresh()
    }
  }

  /** Drop revisions older than `beforeMs` (keep the leaf). */
  def trim(beforeMs: Long): Unit = {
    changelog.trim(beforeMs)
    ()
  }

  /** RESTORE to an earlier revision (Delta RESTORE / Iceberg
    * rollback_to_snapshot): commit that revision's manifest FORWARD
    * as the new leaf — undone revisions stay in the changelog (time
    * travel still reads them; restore is itself undoable; `trim`/
    * `squash` + `gc` retire them for real). `version` is a revision
    * id (full or unambiguous prefix) or epoch millis on the
    * changelog clock. Returns the revision restored to.
    *
    * Restore is DATA-only: the manifest rolls back, the SCHEMA stays
    * current (registry-level, shared by the collection's series —
    * the one-schema-per-collection contract), so restored pre-ALTER
    * files answer added columns with their DEFAULTs, exactly like
    * any other pre-ALTER file. */
  def restore(version: String): graft.core.Revision = {
    val log = changelog.log()
    val rev = scala.util.Try(version.toLong).toOption match {
      case Some(ms) =>
        // view-relative leaf, like Changelog.leaf(beforeMs): the last
        // DFS edge can be a revisit of an interior merge node
        val l = log.filter(_.epochMs <= ms)
        val parents = l.iterator.map(_.parent).toSet
        l.reverseIterator.find(r => !parents.contains(r.child))
          .orElse(l.lastOption)
          .getOrElse(throw new IllegalArgumentException(
            s"graft restore: no revision at or before epoch ms $ms"))
      case None =>
        val hits = log.filter(r =>
          r.child == version || r.child.startsWith(version) ||
            r.digest.startsWith(version))
        hits match {
          case Seq(r) => r
          case Seq() => throw new IllegalArgumentException(
            s"graft restore: no revision matches '$version' (a " +
              "revision id from the log, or epoch millis)")
          case _ => throw new IllegalArgumentException(
            s"graft restore: '$version' is ambiguous " +
              s"(${hits.length} revisions match)")
        }
    }
    val m = decodeCached(rev)
    val leaf = changelog.leaf()
    // no-op restore: the leaf already holds this exact payload
    // (digest = sha1 of the manifest bytes) — commit nothing
    if (!leaf.exists(_.digest == rev.digest)) {
      commitManifest(m,
        parents = Seq(leaf.map(_.child).getOrElse(Changelog.Phi)))
      refresh()
    }
    rev
  }

  /** Compaction (reference Collection.defrag,
    * lakota/collection.py:364-403 — Delta OPTIMIZE analogue), one
    * pass over the whole collection:
    *
    *  - ONE PLAN. Every run of every label comes from one leaf
    *    manifest: more than `maxChunk` contiguous data segments, each
    *    under pageLen/2 rows. A large segment ends a run and is NEVER
    *    rewritten (lakota's fast-forward rule).
    *  - ONE JOB. Each run is one task that reads the run's visible
    *    segments in order through the connector's readers (clip,
    *    clone renames and defaults, BSS decode). Segment files are
    *    sorted and a run's segments disjoint, so rows stream out
    *    sorted — no shuffle, no sort — into the labeled
    *    [[SegmentWriter.TaskSegmentWriter]], cut into balanced
    *    page-sized files: none is under pageLen/2 rows unless the run
    *    is, the cut depends only on the run's rows, and the next
    *    defrag leaves them alone. An inline-only run that still fits
    *    embedMaxSize is re-embedded on the driver, with no job.
    *  - ONE COMMIT. Each run is sealed over its own bounds, and all
    *    runs splice into one revision whose parent is the PLANNED
    *    one: a write racing into a run's span forks the log and
    *    merge() heals it, instead of the splice covering its rows.
    */
  def defrag(maxChunk: Int = 4): Unit = {
    val planned = retryStale(changelog.leaf().map(r => r -> decodeCached(r)))
    planned.foreach { case (rev, m) =>
      val runs = scala.collection.mutable.ArrayBuffer
        .empty[Vector[SegmentMeta]]
      var cur = Vector.empty[SegmentMeta]
      def flush(): Unit = {
        if (cur.length > maxChunk) runs += cur
        cur = Vector.empty
      }
      // manifest rows are sorted by (label, start): a new label or a
      // large segment ends the current run
      m.rows.foreach { r =>
        if (cur.nonEmpty && r.label != cur.head.label) flush()
        if (r.hasData) {
          if (r.length < pageLen / 2) cur :+= r else flush()
        }
      }
      flush()
      if (runs.nonEmpty) commitBatch(rewriteRuns(m, runs.toSeq), Some(rev))
    }
  }

  /** [[defrag]]'s rewrite: the sealed segment rows of every run, in
    * run order. */
  private def rewriteRuns(m: Manifest, runs: Seq[Vector[SegmentMeta]])
      : Seq[Seq[SegmentMeta]] = {
    import graft.sources.GraftPlanning
    final case class Run(s: Series, start: IndexKey, stop: IndexKey,
        closed: Closed, read: GraftPlanning.Group, inlineOnly: Boolean) {
      def seal(st: Seq[SegmentWriter.FileStat]): Seq[SegmentMeta] =
        if (st.isEmpty)
          Seq(SegmentMeta(s.label, start, stop, closed, 0L, Vector.empty))
        else s.sealSegments(st, start, stop, closed)
    }
    val plans = runs.zipWithIndex.map { case (run, i) =>
      // a plain Series even for KV collections: a rewrite of stored
      // rows has no upsert to merge
      val s = new Series(this, run.head.label)
      val cl = Closed.Both.setLeft(run.head.closed.left)
        .setRight(run.last.closed.right)
      val segs = s.segments(run.head.start, run.last.stop, closed = cl,
        from = Some(m)).filter(_.meta.hasData)
      // the manifest knows an untruncated segment's row count; the
      // task counts a clipped one from its index columns
      val (whole, clipped) = segs.partition(_.coversData(schema))
      def parts(sr: SegmentRead, cols: Seq[String]) =
        GraftPlanning.partitionsFor(s, schema, cols, sr, null)
      Run(s, run.head.start, run.last.stop, cl,
        GraftPlanning.Group(i.toString, segs.flatMap(parts(_, schema.names)),
          pageLen, whole.map(_.meta.length).sum,
          clipped.flatMap(parts(_, schema.idxNames))),
        segs.forall(_.meta.inline.isDefined))
    }
    // inline-only runs that still fit embedMaxSize re-embed on the
    // driver (clone-added defaults never embed, as in Series.write)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema.sparkSchema)
    val embedded: Map[Int, Seq[SegmentMeta]] =
      if (embedMaxSize <= 0 || defaults.nonEmpty) Map.empty
      else plans.zipWithIndex.filter(_._1.inlineOnly).flatMap {
        case (r, i) =>
          val rows = GraftPlanning.readAll(r.read.parts,
            GraftPlanning.readerFactory())
            .map(ir => toRow(ir).asInstanceOf[org.apache.spark.sql.Row])
            .toVector
          if (rows.isEmpty) Some(i -> r.seal(Nil))
          else r.s.inlineSegment(rows, r.start, r.stop, r.closed)
            .map(row => i -> Seq(row))
      }.toMap
    // every other run in ONE job: one task per run, its chunk tags
    // "<run>.<chunk>" roll the labeled writer's files
    val jobRuns = plans.indices.filterNot(embedded.contains)
    val written: Map[Int, Seq[SegmentMeta]] =
      if (jobRuns.isEmpty) Map.empty
      else staged(labeled = true) { p =>
        import org.apache.spark.sql.types._
        val df = GraftPlanning.groupedScan(repo.spark,
          jobRuns.map(plans(_).read), StructType(
            StructField("_graft_run", StringType) +:
              schema.sparkSchema.fields))
        val stats = SegmentWriter.writeJob(df, p)
          .groupBy(_._1.takeWhile(_ != '.').toInt)
        jobRuns.map(i =>
          i -> plans(i).seal(stats.getOrElse(i, Nil).map(_._2))).toMap
      }
    plans.indices.map(i => embedded.getOrElse(i, written(i)))
  }

  /** 3-way merge of divergent changelog leaves: pick the oldest-branch
    * leaf as base, splice every segment row committed on the other
    * leaves since the common ancestor, commit with all leaves as
    * parents (behavioral port of reference Collection.merge,
    * lakota/collection.py:235-298).
    */
  def merge(): Unit = {
    val leaves = changelog.leafs()
    if (leaves.length < 2) return
    val history = changelog.log()
    val byChild = history.map(r => r.child -> r).toMap

    def ancestry(rev: Revision): List[Revision] = {
      var chain = List(rev)
      var cur = rev
      while (byChild.contains(cur.parent)) {
        cur = byChild(cur.parent)
        chain = cur :: chain
      }
      chain
    }
    val chains = leaves.map(ancestry)
    val common = chains.map(_.map(_.child).toSet).reduce(_ intersect _)

    // base = first (oldest-branch) leaf's manifest; pile every other
    // head's rows onto it. Rows already present in the base leaf or the
    // common ancestor are not that branch's work and are skipped; a
    // both-closed (or dataless tombstone) row splices in as-is; a
    // non-both-closed row — typically a splice-truncated neighbor whose
    // visible window no longer matches its stored bounds — is READ from
    // that head's snapshot and REWRITTEN as exact-bounded segments,
    // mirroring the reference's read+rewrite branch
    // (lakota/collection.py:278-289).
    val baseLeaf = leaves.head
    var m = decodeCached(baseLeaf)
    val baseRows = m.rows.toSet
    val rootRows: Set[SegmentMeta] =
      chains.head.takeWhile(r => common.contains(r.child)).lastOption
        .map(r => decodeCached(r).rows.toSet)
        .getOrElse(Set.empty)
    leaves.tail.foreach { leaf =>
      val headM = decodeCached(leaf)
      headM.rows.foreach { r =>
        if (!baseRows.contains(r) && !rootRows.contains(r)) {
          // Conflict probe: does r's span intersect FOREIGN data
          // already piled — another branch's work, not shared-ancestor
          // rows (those r legitimately overlays)? A plain splice would
          // CUT that foreign data: a defragged/coalesced segment's
          // span legitimately bridges key ranges its own branch never
          // saw (interior gaps), and splicing it wholesale deletes
          // whatever a sibling branch wrote inside those gaps — the
          // concurrent-ingest data-loss mode (the reference's pile
          // algebra, collection.py:270-291, shares it; we deviate:
          // conflicted spans get a content-level union merge instead,
          // incoming-branch-wins per key).
          val conflicted = r.hasData && m.segments(r.label,
              Some(r.start), Some(r.stop), r.closed)
            .exists(sr => sr.meta.hasData && sr.meta != r &&
              !rootRows.contains(sr.meta))
          // tombstones ALWAYS splice (the cut wins — the conflict
          // probe never runs for them: conflicted requires hasData);
          // unconflicted both-closed data rows splice verbatim
          if (!r.hasData || (!conflicted && r.closed == Closed.Both))
            m = m.update(r)
          else {
            val s = new Series(this, r.label)
            val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
            // incoming branch's visible rows over the span
            val sib = s.frame(r.start, r.stop, closed = r.closed,
              from = Some(headM))
            // one persisted computation serves the emptiness probe AND
            // the rewrite's own evaluation
            val frm = (if (conflicted) {
              // union with the pile's in-span rows: incoming wins on
              // key collisions, foreign keys the incoming branch never
              // saw survive
              val idx = schema.idxNames
              val keep = s.frame(r.start, r.stop, closed = r.closed,
                from = Some(m)).join(
                  sib.select(idx.map(org.apache.spark.sql.functions
                    .col): _*), idx, "left_anti")
              sib.unionByName(keep)
            } else sib).persist(lvl)
            try {
              if (!frm.isEmpty) {
                val written = captureRows { s.write(frm) }
                written.flatten.foreach(w => m = m.update(w))
              }
            } finally { frm.unpersist(); () }
          }
        }
      }
    }
    commitManifest(m, parents = leaves.map(_.child))
    ()
  }

  /** Clone this collection into a new collection `targetLabel` with
    * optional column renames and added default-valued columns — a
    * manifest-only transform: segment files are shared
    * (content-addressed), renames/defaults are resolved at read time
    * via the target's column mapping (reference Collection.clone,
    * lakota/collection.py:127-205; same zero-copy idea as Delta column
    * mapping).
    *
    * `rename` maps source→target column names; `additions` lists new
    * column definitions with their default scalar value.
    */
  def cloneTo(targetLabel: String, rename: Map[String, String] = Map.empty,
      additions: Seq[(ColDef, Any)] = Nil): Collection = {
    val renamedCols = schema.cols.map { c =>
      c.copy(name = rename.getOrElse(c.name, c.name)) }
    val targetSchema = GSchema(renamedCols ++ additions.map(_._1),
      schema.kv)
    // target -> PHYSICAL name, composed THROUGH this collection's own
    // mapping: cloning a clone must keep resolving to the names the
    // shared segment files actually store, and must carry the earlier
    // clone's added-column defaults forward (under their new names)
    val tgtColMap = schema.cols.flatMap { c =>
      val tgt = rename.getOrElse(c.name, c.name)
      val phys = physOf(c.name)
      if (tgt == phys) None else Some(tgt -> phys)
    }.toMap
    val tgtDefaults =
      defaults.map { case (n, v) => rename.getOrElse(n, n) -> v } ++
        additions.map { case (cd, v) =>
          cd.name -> graft.engine.SparkVals.parseBound(cd.dtype, v) }.toMap
    val target = repo.createCollection(targetSchema, targetLabel,
      tgtColMap, tgtDefaults, pageLen = pageLenCfg)
    manifest().foreach { m =>
      val tm = Manifest(targetSchema, m.rows)
      target.commitManifest(tm, parents = Seq(Changelog.Phi))
      ()
    }
    target
  }

  /** All content-addressed segment files referenced by any revision.
    * Revision payloads decode in parallel — at millions of revisions
    * the serial driver loop, not the store, is the gc bottleneck. */
  def digests(): Set[String] = {
    import scala.jdk.CollectionConverters._
    // plain payloads decode in parallel; chunked roots defer to the
    // parallel UNIQUE-chunk walk ([[uniqueChunkFiles]])
    val roots =
      new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
    val plain = changelog.log().toList.asJava.parallelStream()
      .map[Set[String]] { r =>
        val bytes = changelog.payload(r)
        if (ManifestCodec.isChunked(bytes)) { roots.add(bytes); Set.empty }
        else Manifest.decode(bytes).allFiles
      }
      .reduce(Set.empty[String], (a: Set[String], b: Set[String]) => a ++ b)
    plain ++ uniqueChunkFiles(roots.asScala.toList.map(
      ManifestCodec.parseRoot))
  }

  /** Copy missing segment files + changelog entries from `remote`. */
  def pull(remote: Collection, shallow: Boolean = false): Unit = {
    val mine = digests()
    val theirs = {
      val out = Set.newBuilder[String]
      val roots = Seq.newBuilder[ManifestCodec.Root]
      (if (shallow) remote.changelog.leafs() else remote.changelog.log())
        .foreach { r =>
          val bytes = remote.changelog.payload(r)
          if (ManifestCodec.isChunked(bytes))
            roots += ManifestCodec.parseRoot(bytes)
          else out ++= Manifest.decode(bytes).allFiles
        }
      val rootList = roots.result()
      // chunked revisions reference chunk objects that must travel
      // with the revision file — copy missing ones FIRST, verified
      // against their content-address, as an explicit parallel pass
      // (never folded into the chunk-row fetch: a warm JVM chunk
      // cache would skip the fetch and silently skip the copy)
      locally {
        import scala.jdk.CollectionConverters._
        rootList.flatMap(_.chunks.map(_.sha)).distinct
          .asJava.parallelStream().forEach { sha =>
            val dst = s"$path/chunks/$sha"
            if (!repo.store.exists(dst)) {
              repo.store.write(dst, Hash.readVerified(sha,
                s"pulled manifest chunk $sha")(remote.readChunk(sha)))
              ()
            }
          }
      }
      out.result() ++ uniqueChunkFiles(rootList)
    }
    // per-file copies are independent — parallel, like the reference's
    // thread pool (lakota/collection.py pull)
    locally {
      import scala.jdk.CollectionConverters._
      (theirs -- mine).toList.asJava.parallelStream().forEach { f =>
        repo.store.write(f, remote.repo.store.read(f))
        ()
      }
    }
    changelog.pull(remote.changelog, shallow)
    ()
  }

  def push(remote: Collection, shallow: Boolean = false): Unit =
    remote.pull(this, shallow)
}

/** JVM-wide content-addressed manifest decode cache — the
  * [[Repo.regDecodeCache]] pattern applied to collection manifests.
  * Revision ids embed `sha1(payload)`, so equal id ⇒ equal payload ⇒
  * equal decoded [[Manifest]]: a hit can never serve stale state, and
  * freshness comes entirely from the per-call leaf LISTING, which is
  * never cached. The SQL door opens a fresh [[Repo]]/[[Collection]]
  * per statement by design (no stale handles); an instance-local
  * cache made every statement re-decode the full manifest JSON —
  * O(manifest): ~1 s at 1e5 segments, ~10 s projected at 1e6. With
  * this cache the per-statement driver cost is O(1) in manifest size
  * once any handle in the JVM has decoded the leaf.
  *
  * A [[graft.core.BoundedCache]] bounded by TOTAL cached segment
  * rows: 2e6 ≈ two 1e6-segment manifests, a few GB worst case. A hot
  * leaf is never evicted by a time-travel sweep over many historical
  * revisions. Its miss count is the number of payload decodes: a
  * second fresh handle on an unchanged leaf must not move it.
  */
object Collection {
  private[graft] val manifestCache =
    new BoundedCache[String, Manifest](2000000L, _.size)

  /** Test hook: drop all cached decodes (miss counts keep their value). */
  private[graft] def clearManifestCache(): Unit = {
    manifestCache.clear(); rootCache.clear()
  }

  // parsed v2 roots by revision id (None = that revision is plain).
  // Roots are tiny (~120 B/chunk); an entry-count bound is plenty.
  private val rootCache =
    new BoundedCache[String, Option[ManifestCodec.Root]](512)
}
