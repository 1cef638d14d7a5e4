package graft.core

/** One row of a commit manifest: a segment of one labeled series
  * covering index interval [start, stop] with closedness flags.
  *
  * `files` are repo-relative, digest-named parquet file paths holding
  * the segment's rows (empty for a delete tombstone / empty write).
  * `length` is the row count at write time; later splices may truncate
  * the visible interval without rewriting the file, so it is an upper
  * bound used only for planning (matches reference behavior,
  * lakota/commit.py:263-359 keeps lengths unchanged on truncation).
  *
  * Semantics ported behaviorally from the reference commit manifest
  * (lakota/commit.py:142-516); representation is our own (JSON, one
  * parquet file set per segment instead of per-column chunk digests).
  */
final case class SegmentMeta(
    label: String,
    start: IndexKey,
    stop: IndexKey,
    closed: Closed,
    length: Long,
    files: Vector[String],
    /** min/max index keys of the rows actually stored in `files`,
      * recorded at write time. Splice truncation shrinks the VISIBLE
      * [start, stop] but never rewrites files, so readers can skip the
      * residual filter — and share one multi-file scan — whenever the
      * visible range still covers the data range. None = unknown
      * (older manifests): always filter. */
    dataStart: Option[IndexKey] = None,
    dataStop: Option[IndexKey] = None,
    /** Tiny writes are embedded straight in the manifest instead of
      * paying a parquet file + footer per write (reference
      * lakota/series.py:148-157, embed_max_size): rows in kernel
      * scalar repr, one vector per row in non-default column order,
      * sorted by index. Mutually exclusive with `files`. */
    inline: Option[Vector[Vector[Any]]] = None,
    /** Per-VALUE-column (min, max) over the rows stored in `files`,
      * recorded at write time — the data-skipping stats that let a
      * scan drop whole segments on value predicates (the Delta/
      * Iceberg file-stats idea). Keyed by PHYSICAL column name (the
      * name the parquet file stores), so schema evolution — renames,
      * drop-then-re-add — can never misread a stale column's stats.
      * Values are raw kernel scalars (converted with the live
      * schema's dtype at use). A column with only nulls, or a float
      * column containing NaN, has no entry (no safe bound). None =
      * older manifests: never skip. Splice truncation narrows the
      * VISIBLE window but stats keep describing the whole file —
      * still a superset of the visible rows, so skipping stays safe. */
    vstats: Option[Map[String, (Any, Any)]] = None,
    /** Per-INT-value-column SUM over the non-null rows stored in
      * `files` (physical names, like `vstats`): lets an unfiltered
      * `SELECT sum(col)` answer from metadata alone — exact for
      * integer columns (token budgets, counts). A column with zero
      * non-null values, or whose sum overflows Long, has no entry. */
    vsums: Option[Map[String, Long]] = None)
    extends Serializable {
  /** does this row carry data (either as files or embedded rows)? */
  def hasData: Boolean = files.nonEmpty || inline.isDefined
}

final case class SegmentRead(meta: SegmentMeta, start: IndexKey,
    stop: IndexKey, closed: Closed) {
  /** the visible window still covers the data range recorded at write
    * time (the common case: never truncated by later overlays), so the
    * segment reads whole with no residual clip */
  def coversData(gs: GSchema): Boolean =
    (meta.dataStart, meta.dataStop) match {
      case (Some(ds), Some(de)) => gs.within(ds, de, start, stop, closed)
      case _ => false
    }
}

/** Sorted manifest of segments + the interval splice algebra giving
  * last-write-wins overlay semantics (reference lakota/commit.py).
  * Rows are kept sorted by (label, start); overlaps are resolved at
  * commit time (never at read time).
  */
final case class Manifest(schema: GSchema, rows: Vector[SegmentMeta]) {
  /** Chunk layout this manifest DECODED from (codec side-channel,
    * [[ManifestCodec]]): (sha, row-count) per chunk, in row order.
    * Lets a commit re-encode only the spliced region — unchanged
    * chunks are reused by sha. A constructor-body var: NOT part of
    * case-class equality/hashCode/copy, so manifest VALUE semantics
    * (restore's digest compares, splice algebra, tests) are
    * untouched; a manifest without it (built by splices) simply
    * full-encodes. */
  @transient private[graft] var chunkRefs: Vector[(String, Int)] = null
  /** Conservative unchanged spans vs the manifest `chunkRefs`
    * describes: the first `incPrefix` rows and the last `incSuffix`
    * rows of THIS manifest equal that manifest's first/last rows.
    * Composed as mins across splices; MaxValue = everything (a fresh
    * decode). Only meaningful when `chunkRefs != null`. */
  @transient private[graft] var incPrefix: Int = Int.MaxValue
  @transient private[graft] var incSuffix: Int = Int.MaxValue
  /** Confinement guards for the layout fields above, enforced under
    * `-Dgraft.debug` (the contract otherwise lives only in prose, and
    * a future edit could silently publish unsynchronized writes onto
    * a shared object): the decoding/constructing thread owns the
    * fields; once the object enters the JVM-wide manifest cache
    * ([[graft.api.Collection.decodeCached]] flips
    * `cacheShared`) they are frozen. */
  @transient private[graft] val ownerThread: Long =
    Thread.currentThread().getId
  @transient @volatile private[graft] var cacheShared: Boolean = false

  /** Sole mutation door for the layout fields — asserts the
    * confinement contract when `-Dgraft.debug` is set, is a plain
    * triple store otherwise. */
  private[graft] def stampLayout(refs: Vector[(String, Int)],
      prefix: Int, suffix: Int): Unit = {
    if (Manifest.debugGuard) {
      if (cacheShared) throw new IllegalStateException(
        "graft.debug: layout stamp on a JVM-cache-shared manifest")
      if (Thread.currentThread().getId != ownerThread)
        throw new IllegalStateException(
          "graft.debug: layout stamp from non-owner thread")
    }
    chunkRefs = refs
    incPrefix = prefix
    incSuffix = suffix
  }

  /** propagate the chunk layout to a derived manifest whose rows are
    * unchanged outside [prefix, n-suffix) of THIS manifest's rows */
  private[core] def withInc(res: Manifest, prefix: Int, suffix: Int): Manifest = {
    if (chunkRefs != null)
      res.stampLayout(chunkRefs,
        math.min(incPrefix, prefix), math.min(incSuffix, suffix))
    res
  }

  def size: Int = rows.length
  def isEmpty: Boolean = rows.isEmpty

  /** compare (label, key) with prefix semantics on the key */
  // Total ordering for same-arity splice work (write ordering, range
  // validation). Equal-arity keys compare exactly; a partial key
  // sorts before its extensions (the reference's raw tuple order).
  private def cmpLK(l1: String, k1: IndexKey, l2: String, k2: IndexKey): Int = {
    val c = l1.compareTo(l2)
    if (c != 0) c else schema.cmpKeyTotal(k1, k2)
  }

  // splice bounds and stored rows' own bounds order as CUTS, each
  // resolved by its own closed flags
  import schema.cmpCut
  private def startCutAfter(leftClosed: Boolean): Boolean = !leftClosed
  private def stopCutAfter(rightClosed: Boolean): Boolean = rightClosed

  /** (startPos, stopPos) bisect positions for a [start, stop] splice
    * (reference lakota/commit.py:235-244): startPos bisects right over
    * row *stop* keys, stopPos bisects left over row *start* keys.
    * Bounds and row keys compare as CUTS ([[GSchema.cmpCut]]); equal-arity
    * behavior is the reference's exactly.
    */
  def split(label: String, start: IndexKey, stop: IndexKey): (Int, Int) =
    split(label, start, stop, Closed.Both)

  private def split(label: String, start: IndexKey, stop: IndexKey,
      closed: Closed): (Int, Int) = {
    val sAfter = startCutAfter(closed.left)
    val eAfter = stopCutAfter(closed.right)
    def cmpStopTo(i: Int): Int = {
      val r = rows(i)
      val c = r.label.compareTo(label)
      if (c != 0) c
      else cmpCut(r.stop, stopCutAfter(r.closed.right), start, sAfter)
    }
    def cmpStartTo(i: Int): Int = {
      val r = rows(i)
      val c = r.label.compareTo(label)
      if (c != 0) c
      else cmpCut(r.start, startCutAfter(r.closed.left), stop, eAfter)
    }
    def bisect(cmpAt: Int => Int, strict: Boolean): Int = {
      var lo = 0; var hi = rows.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = cmpAt(mid)
        if (if (strict) c <= 0 else c < 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    val startPos = bisect(cmpStopTo, strict = true)
    val stopPos = bisect(cmpStartTo, strict = false)
    (startPos, stopPos)
  }

  /** Splice a new segment row into the manifest: truncates overlapped
    * neighbors, flips closed flags, drops rows emptied to zero width
    * (unless closed=BOTH). Core overlay algebra, behaviorally ported
    * from reference lakota/commit.py:263-359.
    */
  def update(row: SegmentMeta): Manifest = {
    // bounds order as CUTS: start (4, 6) to stop (4), right-closed, is
    // the rest of group 4 — valid, though (4, 6) sorts after (4)
    require(!schema.inverted(row.start, row.stop, row.closed),
      s"Invalid range ${row.start} -> ${row.stop}")
    if (rows.isEmpty) return Manifest(schema, Vector(row))

    val label = row.label
    val start = row.start
    val stop  = row.stop
    val closed = row.closed

    val first = rows.head
    val last = rows.last
    // covers-everything shortcut, cut-aware: an open-left partial
    // start sits AFTER its group, so it must not be mistaken for
    // "before the first row" by raw ordering
    def lkCut(l1: String, k1: IndexKey, a1: Boolean,
        l2: String, k2: IndexKey, a2: Boolean): Int = {
      val c = l1.compareTo(l2)
      if (c != 0) c else cmpCut(k1, a1, k2, a2)
    }
    if (lkCut(label, start, startCutAfter(closed.left),
          first.label, first.start,
          startCutAfter(first.closed.left)) < 0 &&
        lkCut(label, stop, stopCutAfter(closed.right),
          last.label, last.stop,
          stopCutAfter(last.closed.right)) > 0)
      return Manifest(schema, Vector(row))

    var (startPos, stopPos) = split(label, start, stop, closed)
    val sAfter = startCutAfter(closed.left)
    val eAfter = stopCutAfter(closed.right)

    // ---- truncate the row hit on the left (head side) ----
    var head: Vector[SegmentMeta] = null
    var startRow: SegmentMeta = null
    // startPos comes from a bisect_right; the slot on the left may be a
    // perfect (label, stop)==(label, start) match
    if (startPos > 0) {
      val prev = rows(startPos - 1)
      if (prev.label == label &&
          cmpCut(prev.stop, stopCutAfter(prev.closed.right),
            start, sAfter) == 0) {
        startPos -= 1
        startRow = prev
      }
    }
    if (startRow == null) startRow = rows(math.min(startPos, rows.length - 1))

    // closed state of the (possibly truncated) start row — the
    // reference reuses this in the tail branch below
    var startRowClosed: Closed = startRow.closed
    // whether the head branch RAN: the reference's tail zero-width
    // check reads start_row["closed"], which is a raw STRING unless
    // head truncation reassigned it — string != Closed.BOTH is always
    // true, so an untouched start row always lets a zero-width stop
    // row drop (lakota/commit.py:338-346 quirk, kept for parity)
    var headTruncRan = false

    if (startRow.label == label &&
        cmpCut(startRow.start, startCutAfter(startRow.closed.left),
          start, sAfter) <= 0 &&
        cmpCut(start, sAfter,
          startRow.stop, stopCutAfter(startRow.closed.right)) <= 0) {
      headTruncRan = true
      // we hit the right side of an existing row: its stop shrinks to
      // our start, and its right-closedness becomes the opposite of
      // our left-closedness
      val newClosed = startRow.closed.setRight(!closed.left)
      startRowClosed = newClosed
      val truncated = startRow.copy(stop = start, closed = newClosed)
      if (cmpCut(truncated.start, startCutAfter(newClosed.left),
            truncated.stop, stopCutAfter(newClosed.right)) >= 0 &&
          truncated.closed != Closed.Both) {
        head = rows.take(startPos) // zero-width & not fully closed: drop
      } else {
        head = rows.take(startPos) :+ truncated
      }
    }
    if (head == null) head = rows.take(startPos)

    // ---- truncate the row hit on the right (tail side) ----
    var tail: Vector[SegmentMeta] = null
    var stopRow: SegmentMeta = null
    // stopPos comes from a bisect_left; the slot on the right may be a
    // perfect (label, start)==(label, stop) match
    if (stopPos < rows.length) {
      val next = rows(stopPos)
      if (next.label == label &&
          cmpCut(next.start, startCutAfter(next.closed.left),
            stop, eAfter) == 0) {
        stopRow = next
        stopPos += 1
      }
    }
    if (stopRow == null) stopRow = rows(math.max(0, stopPos - 1))

    if (stopRow.label == label &&
        cmpCut(stopRow.start, startCutAfter(stopRow.closed.left),
          stop, eAfter) <= 0 &&
        cmpCut(stop, eAfter,
          stopRow.stop, stopCutAfter(stopRow.closed.right)) <= 0) {
      // we hit the left side of an existing row
      val truncated = stopRow.copy(start = stop,
        closed = stopRow.closed.setLeft(!closed.right))
      // NOTE: the reference checks START_row's closed flag here
      // (lakota/commit.py:341-344) — and that flag is only an enum
      // (comparable to BOTH) when head truncation reassigned it;
      // untouched it is a raw string, so the comparison is always
      // "not BOTH". Kept for behavioral parity.
      if (cmpCut(truncated.start, startCutAfter(truncated.closed.left),
            truncated.stop,
            stopCutAfter(truncated.closed.right)) >= 0 &&
          (!headTruncRan || startRowClosed != Closed.Both)) {
        tail = rows.drop(stopPos)
      } else {
        tail = truncated +: rows.drop(stopPos)
      }
    }
    if (tail == null) tail = rows.drop(stopPos)

    // incremental-encode bookkeeping: rows before startPos and after
    // stopPos (in THIS manifest) are carried verbatim — only the
    // spliced middle needs re-chunking at commit time
    withInc(Manifest(schema, head ++ (row +: tail)),
      startPos, rows.length - stopPos)
  }

  /** Query-time pruning: all segments of `label` intersecting
    * [start, stop], with bounds clipped and closed flags resolved
    * (query flags win — reference lakota/commit.py:425-475).
    */
  def segments(label: String, start: Option[IndexKey] = None,
      stop: Option[IndexKey] = None,
      closed0: Closed = Closed.Both): Seq[SegmentRead] = {
    var closed = closed0
    // an open side with no bound makes no sense: force closed
    if (start.isEmpty) closed = closed.setLeft(true)
    if (stop.isEmpty) closed = closed.setRight(true)

    // A PREFIX bound (fewer components than the key it meets) that
    // prefix-equals resolves by side + closedness: a closed start
    // bound (2,) means "from the beginning of group 2", an open one
    // "after all of group 2"; symmetrically for stops — so a
    // right-CLOSED stop (2,) includes the whole group. This is a
    // DELIBERATE deviation from the reference, whose raw tuple order
    // puts (2,) before every (2, x) (lakota/commit.py:425-475): there
    // a closed stop (2,) EXCLUDES all of group 2 and an open start
    // (2,) still serves it with its original flags (the clip clauses
    // never fire). Side-resolution is the user-facing range
    // convention every oracle encodes ("up to day X inclusive"
    // covers the day); the reference's tuple semantics survive intact
    // on the SPLICE side (cmpKeyTotal). Equal arity keeps the exact
    // cmpKey result — single-column and full-tuple behavior is
    // unchanged.
    def cmpStart(s: IndexKey, k: IndexKey): Int = {
      val c = schema.cmpKey(s, k)
      if (c != 0 || s.values.length >= k.values.length) c
      else if (closed.left) -1 else 1
    }
    def cmpStop(s: IndexKey, k: IndexKey): Int = {
      val c = schema.cmpKey(s, k)
      if (c != 0 || s.values.length >= k.values.length) c
      else if (closed.right) 1 else -1
    }

    // BISECT the candidate window before the exact per-row clip: rows
    // are kept sorted by (label, start) with same-label ranges
    // disjoint, so (a) the label's rows form one contiguous span and
    // (b) both start-heads and stop-heads are nondecreasing inside
    // it. A row is exactly skippable when the bound's HEAD component
    // alone already separates it (cmpKey decides at component 0), so
    // binary-searching the head values yields a conservative
    // contiguous superset window — prefix-arity and closed-flag
    // resolution stay entirely in the exact filter below. This is
    // what keeps a prune O(log n + answer) instead of O(manifest):
    // at 1e6 segments the full scan measured ~100 ms per prune, the
    // bisect microseconds (ManifestScaleSpec pins both scales).
    val (lab0, lab1) = {
      var a = 0; var b = rows.length
      while (a < b) {
        val m = (a + b) >>> 1
        if (rows(m).label.compareTo(label) < 0) a = m + 1 else b = m
      }
      val first = a
      var a2 = first; var b2 = rows.length
      while (a2 < b2) {
        val m = (a2 + b2) >>> 1
        if (rows(m).label.compareTo(label) <= 0) a2 = m + 1 else b2 = m
      }
      (first, a2)
    }
    val hd = schema.idx.head.dtype
    val winLo = start.fold(lab0) { s =>
      val sv = s.values(0)
      // first row whose stop-head could still reach the start bound
      var a = lab0; var b = lab1
      while (a < b) {
        val m = (a + b) >>> 1
        if (hd.cmp(rows(m).stop.values(0), sv) < 0) a = m + 1 else b = m
      }
      a
    }
    val winHi = stop.fold(lab1) { s =>
      val sv = s.values(0)
      // past the last row whose start-head is within the stop bound
      var a = winLo; var b = lab1
      while (a < b) {
        val m = (a + b) >>> 1
        if (hd.cmp(rows(m).start.values(0), sv) <= 0) a = m + 1 else b = m
      }
      a
    }

    (winLo until winHi).iterator.map(rows).flatMap { r =>
      var aStart = r.start
      var aStop = r.stop
      var aClosed = r.closed
      var skip = false

      start.foreach { s =>
        val cStop = cmpStart(s, r.stop)
        if (cStop > 0) skip = true                      // fully right of row
        else if (!aClosed.right && cStop == 0) skip = true
        else {
          val cStart = cmpStart(s, aStart)
          if (cStart > 0) {                              // clip left
            aClosed = aClosed.setLeft(closed.left)
            aStart = s
          } else if (cStart == 0 && aClosed.left) {
            aClosed = aClosed.setLeft(closed.left)
          }
        }
      }
      if (!skip) stop.foreach { s =>
        val cStart = cmpStop(s, aStart)
        if (cStart < 0) skip = true                      // fully left of row
        else if (!aClosed.left && cStart == 0) skip = true
        else {
          val cStop = cmpStop(s, aStop)
          if (cStop < 0) {                               // clip right
            aClosed = aClosed.setRight(closed.right)
            aStop = s
          } else if (cStop == 0 && aClosed.right) {
            aClosed = aClosed.setRight(closed.right)
          }
        }
      }
      // a clip that degenerated to a single point is only non-empty
      // when BOTH sides stayed closed ([k,k] = the point; [k,k) and
      // (k,k] are empty) — skipping them prunes the boundary segment
      // a right-open stop (or left-open start) lands exactly on.
      // ONLY for same-arity keys: prefix compare returns 0 for
      // (5) vs (5,10) too, but that half-open range holds the rows
      // (5,0)..(5,9) — mixed-arity bounds must never prune here
      if (!skip && aStart.values.length == aStop.values.length &&
          schema.cmpKey(aStart, aStop) == 0 &&
          !(aClosed.left && aClosed.right)) skip = true
      if (skip) Iterator.empty
      else Iterator.single(SegmentRead(r, aStart, aStop, aClosed))
    }.toSeq
  }

  def labels: Seq[String] = rows.map(_.label).distinct.sorted

  def deleteLabels(rm: Set[String]): Manifest = {
    val first = rows.indexWhere(r => rm.contains(r.label))
    if (first < 0) return this // no-op keeps the chunk layout whole
    val last = rows.lastIndexWhere(r => rm.contains(r.label))
    withInc(Manifest(schema, rows.filterNot(r => rm.contains(r.label))),
      first, rows.length - 1 - last)
  }

  def renameLabel(from: String, to: String): Manifest = {
    // verbatim relabel: the extracted rows already form a disjoint
    // sorted cover. Re-splicing them through update() would re-derive
    // neighbor closedness and flip the both-closed straddle boundary
    // two tiles share at a duplicated index key to right-open —
    // silently hiding that key's rows after a rename.
    require(!rows.exists(_.label == to),
      s"series $to already exists") // two covers must never interleave
    val extract = rows.filter(_.label == from).map(_.copy(label = to))
    val base = deleteLabels(Set(from))
    Manifest(schema, (base.rows ++ extract).sortWith((a, b) =>
      cmpLK(a.label, a.start, b.label, b.start) < 0))
  }

  /** Same manifest with `rows2` (same length, rows modified in
    * place — e.g. an analyze stats backfill). Unmodified rows must be
    * the SAME references; the chunk layout carries over with the
    * changed span computed by identity. */
  private[graft] def withRows(rows2: Vector[SegmentMeta]): Manifest = {
    require(rows2.length == rows.length, "withRows: row count changed")
    var first = 0
    while (first < rows.length && (rows2(first) eq rows(first))) first += 1
    if (first == rows.length) return this // nothing changed
    var last = rows.length - 1
    while (last > first && (rows2(last) eq rows(last))) last -= 1
    withInc(Manifest(schema, rows2), first, rows.length - 1 - last)
  }

  def allFiles: Set[String] = rows.iterator.flatMap(_.files).toSet

  // ---------- serialization ----------

  def encode: Array[Byte] = {
    val rws = rows.map(Manifest.rowJson).mkString("[", ",", "]")
    s"""{"schema":${GSchema.toJson(schema)},"rows":$rws}"""
      .getBytes("UTF-8")
  }
}

object Manifest {
  /** `-Dgraft.debug` — read per stamp (rare: one per commit/decode)
    * so specs can toggle it without class-load ordering games */
  private[graft] def debugGuard: Boolean =
    java.lang.Boolean.getBoolean("graft.debug")

  def empty(schema: GSchema): Manifest = Manifest(schema, Vector.empty)

  /** canonical JSON of ONE manifest row — the unit both the plain
    * single-document payload and [[ManifestCodec]]'s chunks are built
    * from, so the two encodings agree byte-for-byte per row */
  private[core] def rowJson(r: SegmentMeta): String = {
    def key(k: IndexKey): String =
      k.values.map(Json.scalar).mkString("[", ",", "]")
    val dataBounds = (r.dataStart, r.dataStop) match {
      case (Some(ds), Some(de)) =>
        s""","dstart":${key(ds)},"dstop":${key(de)}"""
      case _ => ""
    }
    val inlinePart = r.inline match {
      case Some(rows) => s""","inline":${rows.map(
        _.map(Json.scalar).mkString("[", ",", "]"))
        .mkString("[", ",", "]")}"""
      case None => ""
    }
    val vstatsPart = r.vstats match {
      case Some(vs) if vs.nonEmpty =>
        s""","vstats":${vs.toSeq.sortBy(_._1).map { case (n, mm) =>
          s"${Json.str(n)}:[${Json.scalar(mm._1)},${
            Json.scalar(mm._2)}]" }.mkString("{", ",", "}")}"""
      case _ => ""
    }
    val vsumsPart = r.vsums match {
      case Some(vs) if vs.nonEmpty =>
        s""","vsums":${vs.toSeq.sortBy(_._1).map { case (n, v) =>
          s"${Json.str(n)}:$v" }.mkString("{", ",", "}")}"""
      case _ => ""
    }
    s"""{"label":${Json.str(r.label)},"start":${key(r.start)},""" +
    s""""stop":${key(r.stop)},"closed":"${r.closed.short}",""" +
    s""""length":${r.length},"files":${
      r.files.map(Json.str).mkString("[", ",", "]")
      }$dataBounds$inlinePart$vstatsPart$vsumsPart}"""
  }

  /** decode ONE parsed row object (the inverse of [[rowJson]]) */
  private[core] def rowFromParsed(schema: GSchema, o: Any): SegmentMeta = {
    val idxTypes = schema.idx.map(_.dtype)
    def key(v: Any): IndexKey = IndexKey(
      v.asInstanceOf[List[Any]].zip(idxTypes)
        .map { case (x, dt) => toKernel(dt, x) }.toVector)
    val rm = o.asInstanceOf[Map[String, Any]]
    SegmentMeta(
      rm("label").asInstanceOf[String],
      key(rm("start")), key(rm("stop")),
      Closed.parse(rm("closed").asInstanceOf[String]),
      rm("length").asInstanceOf[Long],
      rm("files").asInstanceOf[List[Any]]
        .map(_.asInstanceOf[String]).toVector,
      rm.get("dstart").map(key), rm.get("dstop").map(key),
      rm.get("inline").map(_.asInstanceOf[List[Any]].map { rv =>
        rv.asInstanceOf[List[Any]].zip(schema.cols)
          .map { case (x, c) =>
            if (x == null) null else toKernel(c.dtype, x) }.toVector
      }.toVector),
      rm.get("vstats").map(_.asInstanceOf[Map[String, Any]].map {
        case (n, v) =>
          val l = v.asInstanceOf[List[Any]]
          n -> ((l(0), l(1))) // raw kernel scalars; dtyped at use
      }),
      rm.get("vsums").map(_.asInstanceOf[Map[String, Any]].map {
        case (n, v) => n -> v.asInstanceOf[Long]
      }))
  }

  /** decode the schema object of a parsed payload */
  private[core] def schemaFromParsed(sm0: Any): GSchema = {
    val sm = sm0.asInstanceOf[Map[String, Any]]
    val kv = sm.get("kind").contains("kv")
    val cols = sm("columns").asInstanceOf[List[Any]].map { o =>
      val cm = o.asInstanceOf[Map[String, Any]]
      ColDef(cm("name").asInstanceOf[String],
        GType.parse(cm("dt").asInstanceOf[String]),
        cm("idx").asInstanceOf[Boolean])
    }
    GSchema(cols, kv)
  }

  /** Splice one logical write (tiled into k contiguous physical
    * segment rows) into `m`: a single covering row performs the
    * overlay splice against existing data — exactly one splice per
    * write, as in the reference — and is then expanded in place into
    * the tiles.
    */
  def spliceWrite(m: Manifest, tiles: Seq[SegmentMeta]): Manifest = {
    require(tiles.nonEmpty, "spliceWrite needs at least one row")
    if (tiles.length == 1) return m.update(tiles.head)
    val covering = SegmentMeta(
      tiles.head.label, tiles.head.start, tiles.last.stop,
      Closed.Both.setLeft(tiles.head.closed.left)
        .setRight(tiles.last.closed.right),
      tiles.map(_.length).sum, Vector.empty)
    val m1 = m.update(covering)
    val i = m1.rows.indexWhere(_ eq covering)
    require(i >= 0, "covering row lost during splice")
    m1.withInc(Manifest(m1.schema, m1.rows.patch(i, tiles, 1)),
      i, m1.rows.length - i - 1)
  }

  def one(schema: GSchema, row: SegmentMeta): Manifest =
    Manifest(schema, Vector(row))

  /** Concat non-overlapping manifests in key order
    * (reference lakota/commit.py:377-407). */
  /** parsed-JSON value -> kernel scalar for a dtype */
  def kernelValue(dt: GType, v: Any): Any = toKernel(dt, v)

  private def toKernel(dt: GType, v: Any): Any = dt match {
    case GType.FloatT => Json.toDouble(v)
    case GType.StrT => v.asInstanceOf[String]
    case _ => v.asInstanceOf[Long]
  }

  def decode(bytes: Array[Byte]): Manifest = {
    val m = Json.parse(new String(bytes, "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    val schema = schemaFromParsed(m("schema"))
    val rws = m("rows").asInstanceOf[List[Any]]
      .map(rowFromParsed(schema, _)).toVector
    Manifest(schema, rws)
  }
}
