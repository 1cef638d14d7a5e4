package graft.core

import java.util.concurrent.atomic.AtomicLong

/** Chunked manifest payload codec — the Iceberg manifest-list / Delta
  * checkpoint analogue for the changelog's commit payload.
  *
  * A plain (v1) payload is one JSON document holding every segment row
  * ([[Manifest.encode]]): encode and decode are O(manifest) — ~1 s per
  * 1e5 segments — paid on EVERY commit and every cold read, the last
  * O(table-metadata) driver costs at 100 TB scale. v2 splits the rows
  * into row-range chunks stored as separate content-addressed objects
  * (`<collection>/chunks/<sha1(bytes)>`), and the revision payload
  * becomes a small ROOT document listing `(sha, rowCount)` per chunk
  * plus each chunk's first/last (label, head-of-start-key) for
  * chunk-level pruning:
  *
  * {{{
  * {"v":2,"schema":{...},"chunks":[
  *   {"sha":"...","n":4096,"l0":"lbl","h0":0,"l1":"lbl","h1":409500},
  *   ...]}
  * }}}
  *
  * - The revision file keeps its `parent.child` name and sha1
  *   integrity (digest = sha1 of the ROOT bytes); each chunk is
  *   verified against its own content-address on read, with the same
  *   bounded retry the changelog uses for torn concurrent creates.
  * - A commit re-encodes only the spliced row range: [[Manifest]]
  *   threads the decoded chunk layout plus a conservative
  *   unchanged-prefix/suffix through its splice algebra
  *   ([[Manifest.chunkRefs]]/incPrefix/incSuffix), so unchanged chunks
  *   are reused BY REFERENCE — encode is O(touched + #chunks).
  * - Decode assembles rows through a JVM-wide content-addressed chunk
  *   cache: after one warm decode, re-decoding the next leaf (one
  *   splice later) parses only the touched chunks — the SQL door's
  *   fresh-statement-on-a-moved-leaf cost drops from O(manifest) to
  *   O(touched).
  * - [[prunedSegments]] serves a bounded read from the root alone:
  *   only chunks whose (label, start-head) span can intersect the
  *   query window are fetched — a cold point query on a 1e6-segment
  *   manifest decodes a couple of chunks, not 100 MB.
  *
  * Payloads under `2 * targetRows` rows stay plain v1, byte-for-byte
  * identical to previous releases — small collections keep their
  * digests (restore no-op compares, double-write skips) and old
  * payloads remain readable forever; a legacy plain payload upgrades
  * to chunks on its next commit. The reference stores its manifest as
  * one msgpack document (lakota/changelog.py:149-194); the payload
  * encoding was already a documented deviation (JSON), and chunking
  * changes only the encoding, not the commit protocol.
  */
object ManifestCodec {

  /** rows per chunk (and the v2 threshold at 2x this) — a system
    * property so specs can exercise chunking at tiny sizes */
  def targetRows: Int =
    Integer.getInteger("graft.manifestChunkRows", 4096)

  /** manifests under this many rows encode plain v1 */
  def chunkMin(target: Int): Int = 2 * target

  // ---- observability (specs pin O(touched) via these) ----
  /** chunks serialized fresh by encode (reused chunks don't count) */
  private[graft] val chunkEncodes = new AtomicLong(0L)

  /** Result of [[encode]]: the root payload (what the changelog
    * commits), the chunk objects that must exist in the store before
    * the root is visible (fresh ones only — reused chunks are already
    * there), and the layout to stamp back onto the manifest. `refs`
    * is null for a plain v1 encoding. */
  final case class Encoded(root: Array[Byte],
      fresh: Seq[(String, Array[Byte])], refs: Vector[(String, Int)])

  private val V2Prefix = """{"v":2,""".getBytes("UTF-8")

  def isChunked(bytes: Array[Byte]): Boolean =
    bytes.length > V2Prefix.length &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOf(bytes, V2Prefix.length), V2Prefix)

  // ---------------------------------------------------------------
  // encode
  // ---------------------------------------------------------------

  def encode(m: Manifest): Encoded = encode(m, targetRows)

  /** Full re-encode IGNORING any incremental layout: every chunk is
    * serialized fresh. The fallback when [[graft.api.Collection
    * .commitManifest]] finds a reused chunk ref missing from the
    * store — a handle held past the gc timeout can carry a layout
    * whose chunks two gc passes have since expired-deleted, and
    * committing those refs by reference would brick the new root. */
  def encodeFull(m: Manifest): Encoded = {
    val target = targetRows
    if (m.rows.length < chunkMin(target)) Encoded(m.encode, Nil, null)
    else assemble(m, m.rows, Vector.empty, 0, Vector.empty, 0, target)
  }

  def encode(m: Manifest, target: Int): Encoded = {
    val rows = m.rows
    val n = rows.length
    if (n < chunkMin(target)) return Encoded(m.encode, Nil, null)

    val old = m.chunkRefs
    var frontChunks = Vector.empty[(String, Int)]
    var endChunks = Vector.empty[(String, Int)]
    if (old != null) {
      val oldN = old.iterator.map(_._2.toLong).sum
      // effective unchanged spans (inc values are conservative mins
      // composed across splices; clamp into both manifests)
      val prefix = math.min(math.min(m.incPrefix.toLong, n.toLong), oldN)
      val suffix = math.min(math.min(m.incSuffix.toLong, n.toLong), oldN)
      // front: old chunks fully inside the unchanged prefix — their
      // rows sit at the SAME positions in the new manifest
      var cum = 0L
      val fIt = old.iterator
      var go = true
      while (go && fIt.hasNext) {
        val c = fIt.next()
        if (cum + c._2 <= prefix) { frontChunks :+= c; cum += c._2 }
        else go = false
      }
      var frontRows = cum
      // end: old chunks fully inside the unchanged suffix (positions
      // shift, content doesn't) — taken from the back, never
      // overlapping the front chunks or the new row count
      var endStart = oldN
      val eb = List.newBuilder[(String, Int)]
      var ei = old.length - 1
      var going = true
      while (going && ei >= 0) {
        val c = old(ei)
        val a = endStart - c._2
        if (a >= oldN - suffix && a >= frontRows &&
            (oldN - a) <= n - frontRows) {
          eb += c; endStart = a; ei -= 1
        } else going = false
      }
      endChunks = eb.result().reverse.toVector
      var endRows = endChunks.iterator.map(_._2.toLong).sum
      // anti-sliver: a tiny middle would mint a sliver chunk per
      // commit; absorb one neighbor chunk so fresh chunks stay near
      // target-sized and the chunk count doesn't creep
      val midLen = n - frontRows - endRows
      if (midLen > 0 && midLen < target / 2) {
        if (frontChunks.nonEmpty) {
          frontRows -= frontChunks.last._2
          frontChunks = frontChunks.init
        } else if (endChunks.nonEmpty) {
          endRows -= endChunks.head._2
          endChunks = endChunks.tail
        }
      }
      return assemble(m, rows, frontChunks, frontRows.toInt,
        endChunks, endRows.toInt, target)
    }
    assemble(m, rows, Vector.empty, 0, Vector.empty, 0, target)
  }

  private def assemble(m: Manifest, rows: Vector[SegmentMeta],
      front: Vector[(String, Int)], frontRows: Int,
      end: Vector[(String, Int)], endRows: Int, target: Int): Encoded = {
    val n = rows.length
    val midLen = n - frontRows - endRows
    // balanced fresh chunks (no trailing sliver)
    val freshRefs = Vector.newBuilder[(String, Int)]
    val freshBytes = Seq.newBuilder[(String, Array[Byte])]
    if (midLen > 0) {
      val k = math.max(1, (midLen + target - 1) / target)
      var off = frontRows
      var i = 0
      while (i < k) {
        // Long arithmetic: midLen * k overflows Int from ~2.93M rows
        // (first full encode of a 3e6-segment manifest), which made
        // `take` negative and committed a corrupt root
        val take = ((midLen.toLong * (i + 1)) / k -
          (midLen.toLong * i) / k).toInt
        val sb = new java.lang.StringBuilder(take * 96)
        sb.append('[')
        var j = 0
        while (j < take) {
          if (j > 0) sb.append(',')
          sb.append(Manifest.rowJson(rows(off + j)))
          j += 1
        }
        sb.append(']')
        val bytes = sb.toString.getBytes("UTF-8")
        val sha = Hash.sha1(bytes)
        freshRefs += ((sha, take))
        freshBytes += ((sha, bytes))
        chunkEncodes.incrementAndGet()
        off += take
        i += 1
      }
    }
    val refs = front ++ freshRefs.result() ++ end
    // root: chunk list with first/last (label, start-head) boundary
    // metadata derived from the live rows (deterministic — a reused
    // layout reproduces the exact root bytes, so restore's no-op
    // digest compare and the changelog's double-write skip still work)
    val sb = new java.lang.StringBuilder(refs.length * 120 + 256)
    sb.append("""{"v":2,"schema":""").append(GSchema.toJson(m.schema))
      .append(""","chunks":[""")
    var off = 0
    var i = 0
    while (i < refs.length) {
      val (sha, cn) = refs(i)
      val first = rows(off)
      val last = rows(off + cn - 1)
      if (i > 0) sb.append(',')
      sb.append("""{"sha":""").append(Json.str(sha))
        .append(""","n":""").append(cn)
        .append(""","l0":""").append(Json.str(first.label))
        .append(""","h0":""").append(Json.scalar(first.start.values(0)))
        .append(""","l1":""").append(Json.str(last.label))
        .append(""","h1":""").append(Json.scalar(last.start.values(0)))
        .append('}')
      off += cn
      i += 1
    }
    sb.append("]}")
    Encoded(sb.toString.getBytes("UTF-8"), freshBytes.result(), refs)
  }

  // ---------------------------------------------------------------
  // decode
  // ---------------------------------------------------------------

  /** Parsed v2 root: schema + chunk list with pruning metadata.
    * `h0`/`h1` are kernel scalars of the head index dtype. */
  final case class ChunkRef(sha: String, n: Int,
      l0: String, h0: Any, l1: String, h1: Any)
  final case class Root(schema: GSchema, chunks: Vector[ChunkRef])

  def parseRoot(bytes: Array[Byte]): Root = {
    val m = Json.parse(new String(bytes, "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    val schema = Manifest.schemaFromParsed(m("schema"))
    val hd = schema.idx.head.dtype
    val chunks = m("chunks").asInstanceOf[List[Any]].map { o =>
      val cm = o.asInstanceOf[Map[String, Any]]
      ChunkRef(cm("sha").asInstanceOf[String],
        cm("n").asInstanceOf[Long].toInt,
        cm("l0").asInstanceOf[String],
        Manifest.kernelValue(hd, cm("h0")),
        cm("l1").asInstanceOf[String],
        Manifest.kernelValue(hd, cm("h1")))
    }.toVector
    Root(schema, chunks)
  }

  /** chunk sha list of a v2 payload WITHOUT decoding any rows — what
    * pull (copy these objects too) and gc (these are referenced) need */
  def chunkShas(bytes: Array[Byte]): Seq[String] =
    parseRoot(bytes).chunks.map(_.sha)

  /** Full decode of a v2 payload. `fetch` reads one chunk object by
    * sha; rows come from the JVM-wide chunk cache when warm. */
  def decode(bytes: Array[Byte], fetch: String => Array[Byte]): Manifest = {
    val root = parseRoot(bytes)
    val rows = Vector.newBuilder[SegmentMeta]
    rows.sizeHint(root.chunks.iterator.map(_.n).sum)
    root.chunks.foreach(c => rows ++= chunkRows(root.schema, c, fetch))
    val m = Manifest(root.schema, rows.result())
    m.stampLayout(root.chunks.map(c => (c.sha, c.n)),
      Int.MaxValue, Int.MaxValue)
    m
  }

  /** Chunk-pruned segment read straight off a v2 root: fetches only
    * the chunks whose (label, start-head) span can intersect the
    * query, widened one chunk left for the single row that can
    * straddle the window start (rows of one label are disjoint and
    * sorted, so at most one row with start-head below the bound can
    * still reach it — see Manifest.segments' window argument). The
    * assembled window is a conservative SUPERSET; exact clipping is
    * [[Manifest.segments]]'s as usual. */
  def prunedSegments(root: Root, fetch: String => Array[Byte],
      label: String, start: Option[IndexKey], stop: Option[IndexKey],
      closed: Closed): Seq[SegmentRead] = {
    val hd = root.schema.idx.head.dtype
    val chunks = root.chunks
    // cmp (chunk boundary) vs (label, optional head bound)
    def cmpLo(cl: String, ch: Any): Int = { // vs (label, start.head|-inf)
      val c = cl.compareTo(label)
      if (c != 0) c
      else start.fold(1)(s => hd.cmp(ch, s.values(0)))
    }
    def cmpHi(cl: String, ch: Any): Int = { // vs (label, stop.head|+inf)
      val c = cl.compareTo(label)
      if (c != 0) c
      else stop.fold(-1)(s => hd.cmp(ch, s.values(0)))
    }
    var lo = 0
    while (lo < chunks.length && cmpLo(chunks(lo).l1, chunks(lo).h1) < 0)
      lo += 1
    if (lo > 0) lo -= 1 // straddle widen
    var hi = lo
    while (hi < chunks.length && cmpHi(chunks(hi).l0, chunks(hi).h0) <= 0)
      hi += 1
    if (hi <= lo) return Seq.empty
    val rows = Vector.newBuilder[SegmentMeta]
    (lo until hi).foreach(i =>
      rows ++= chunkRows(root.schema, chunks(i), fetch))
    Manifest(root.schema, rows.result())
      .segments(label, start, stop, closed)
  }

  /** Tail-oriented pruned read: the covering chunks are walked from
    * the END, stopping as soon as the collected suffix GUARANTEES at
    * least `need` visible rows — a cold `tail(n)` on a 1e6-segment
    * manifest decodes one or two chunks, not every chunk of the
    * label. The guarantee counts only segments whose visible range
    * still covers their recorded data range (overlay-truncated
    * segments contribute zero — their visible count would need a
    * scan), so the result is always a true suffix of what the full
    * decode would return, covering >= need rows or the whole range.
    */
  def prunedTailSegments(root: Root, fetch: String => Array[Byte],
      label: String, start: Option[IndexKey], stop: Option[IndexKey],
      closed: Closed, need: Long): Seq[SegmentRead] = {
    val hd = root.schema.idx.head.dtype
    val chunks = root.chunks
    def cmpLo(cl: String, ch: Any): Int = {
      val c = cl.compareTo(label)
      if (c != 0) c
      else start.fold(1)(s => hd.cmp(ch, s.values(0)))
    }
    def cmpHi(cl: String, ch: Any): Int = {
      val c = cl.compareTo(label)
      if (c != 0) c
      else stop.fold(-1)(s => hd.cmp(ch, s.values(0)))
    }
    var lo = 0
    while (lo < chunks.length && cmpLo(chunks(lo).l1, chunks(lo).h1) < 0)
      lo += 1
    if (lo > 0) lo -= 1 // straddle widen
    var hi = lo
    while (hi < chunks.length && cmpHi(chunks(hi).l0, chunks(hi).h0) <= 0)
      hi += 1
    if (hi <= lo) return Seq.empty

    def guaranteed(sr: SegmentRead): Long =
      (sr.meta.dataStart, sr.meta.dataStop) match {
        case (Some(ds), Some(de)) =>
          val l = root.schema.cmpKey(sr.start, ds)
          val r = root.schema.cmpKey(sr.stop, de)
          if ((l < 0 || (l == 0 && sr.closed.left)) &&
              (r > 0 || (r == 0 && sr.closed.right))) sr.meta.length
          else 0L
        case _ => 0L
      }
    var i = hi
    var got = 0L
    var rows = Vector.empty[SegmentMeta]
    while (i > lo && got < need) {
      i -= 1
      val cr = chunkRows(root.schema, chunks(i), fetch)
      rows = cr ++ rows
      // per-chunk accounting only — manifest rows are overlay-free
      // (splice algebra resolves overlaps at commit), so a chunk's
      // reads are independent of the rest of the suffix
      Manifest(root.schema, cr).segments(label, start, stop, closed)
        .foreach(sr => got += guaranteed(sr))
    }
    Manifest(root.schema, rows)
      .segments(label, start, stop, closed)
  }

  /** Head-oriented sibling of [[prunedTailSegments]]: walk the
    * covering chunks from the FRONT, stopping once the collected
    * prefix guarantees `need` visible rows — a cold "first segment of
    * the label" probe (the one-sided SQL DELETE bound) decodes one or
    * two chunks of a 1e6-segment manifest instead of all of them.
    * Same guarantee accounting as the tail walk: the result is a true
    * prefix of the full decode, covering >= need rows or the whole
    * range. */
  def prunedHeadSegments(root: Root, fetch: String => Array[Byte],
      label: String, start: Option[IndexKey], stop: Option[IndexKey],
      closed: Closed, need: Long): Seq[SegmentRead] = {
    val hd = root.schema.idx.head.dtype
    val chunks = root.chunks
    def cmpLo(cl: String, ch: Any): Int = {
      val c = cl.compareTo(label)
      if (c != 0) c
      else start.fold(1)(s => hd.cmp(ch, s.values(0)))
    }
    def cmpHi(cl: String, ch: Any): Int = {
      val c = cl.compareTo(label)
      if (c != 0) c
      else stop.fold(-1)(s => hd.cmp(ch, s.values(0)))
    }
    var lo = 0
    while (lo < chunks.length && cmpLo(chunks(lo).l1, chunks(lo).h1) < 0)
      lo += 1
    if (lo > 0) lo -= 1 // straddle widen
    var hi = lo
    while (hi < chunks.length && cmpHi(chunks(hi).l0, chunks(hi).h0) <= 0)
      hi += 1
    if (hi <= lo) return Seq.empty
    def guaranteed(sr: SegmentRead): Long =
      (sr.meta.dataStart, sr.meta.dataStop) match {
        case (Some(ds), Some(de)) =>
          val l = root.schema.cmpKey(sr.start, ds)
          val r = root.schema.cmpKey(sr.stop, de)
          if ((l < 0 || (l == 0 && sr.closed.left)) &&
              (r > 0 || (r == 0 && sr.closed.right))) sr.meta.length
          else 0L
        case _ => 0L
      }
    var i = lo
    var got = 0L
    var rows = Vector.empty[SegmentMeta]
    while (i < hi && got < need) {
      val cr = chunkRows(root.schema, chunks(i), fetch)
      rows = rows ++ cr
      Manifest(root.schema, cr).segments(label, start, stop, closed)
        .foreach(sr => got += guaranteed(sr))
      i += 1
    }
    Manifest(root.schema, rows)
      .segments(label, start, stop, closed)
  }

  // ---- JVM-wide content-addressed chunk row cache ----
  // Keyed by (sha, schema): the bytes are unique per sha, but parsing
  // is schema-directed (dtypes), so the same bytes under two schemas
  // must not share a decode. Bounded by 4e6 cached rows; a miss is one
  // store fetch + JSON parse of one chunk.
  private[graft] val chunkCache =
    new BoundedCache[(String, GSchema), Vector[SegmentMeta]](
      4000000L, _.length)

  private[graft] def chunkRows(schema: GSchema, ref: ChunkRef,
      fetch: String => Array[Byte]): Vector[SegmentMeta] =
    chunkCache.getOrLoad((ref.sha, schema)) {
      val bytes = Hash.readVerified(ref.sha,
        s"manifest chunk ${ref.sha}")(fetch(ref.sha))
      val parsed = Json.parse(new String(bytes, "UTF-8"))
        .asInstanceOf[List[Any]]
        .map(Manifest.rowFromParsed(schema, _)).toVector
      require(parsed.length == ref.n,
        s"manifest chunk ${ref.sha}: ${parsed.length} rows, root says ${ref.n}")
      parsed
    }

  /** O(touched) manifest-row count for `label`: chunks whose label
    * range sits strictly inside the label contribute their recorded
    * `n` WITHOUT being fetched; only the (≤2) chunks straddling a
    * label boundary are parsed (cache-shared with real reads) and
    * counted row-exact. Semantics are uniform across tiers: ALL
    * manifest rows of the label, tombstones included (chunk refs
    * can't see hasData without being fetched, and exact hasData
    * accounting would fetch every chunk of the label — the O(n)
    * planning cost this replaces: the scan DESCRIPTION's denominator
    * was enumerating 1e6 segments per statement). */
  def countLabelRows(root: Root, fetch: String => Array[Byte],
      label: String): Int = {
    var total = 0
    root.chunks.foreach { c =>
      if (c.l1 < label || c.l0 > label) ()
      else if (c.l0 == label && c.l1 == label) total += c.n
      else total += chunkRows(root.schema, c, fetch)
        .count(_.label == label)
    }
    total
  }

  /** Test hook: drop cached chunk decodes (counters keep values). */
  private[graft] def clearChunkCache(): Unit = chunkCache.clear()
}
