package graft.api

import graft.core.{BoundedCache, Hash, Json}
import java.util.concurrent.atomic.AtomicLong

/** Chunked REGISTRY payloads — the [[graft.core.ManifestCodec]] recipe
  * applied to the repo's one remaining O(metadata) commit cost: the
  * registry was a single JSON document `{key: entry, ...}` re-encoded
  * whole on every DDL, ~30 MB and whole-document parse/serialize at
  * 1e5 collections. Large registries now commit a small v2 root
  * listing content-addressed chunk objects (`registry/chunks/<sha>`,
  * [[targetEntries]] sorted entries each, sha-verified); a DDL
  * re-serializes only the chunks whose key range the change touches
  * (prefix/suffix reuse by reference), and decode assembles entries
  * through a JVM-wide per-chunk cache, so a fresh handle after one
  * DDL re-parses O(touched) chunks.
  *
  * Registries under `2 * targetEntries` entries keep the plain v1
  * document byte-for-byte (small repos keep their digests and legacy
  * payloads stay readable forever); a legacy payload upgrades to
  * chunks on its next registry write. The reference stores its
  * registry as a versioned KV series (lakota/repo.py:115-130) — one
  * document per revision, the same shape this deviates from.
  *
  * Entries are handled as PRE-SERIALIZED `(key, valueJson)` pairs in
  * sorted key order: the codec never interprets entry bodies, so the
  * chunk bytes concatenate back to exactly the v1 document and the
  * encoding stays canonical (equal state ⇒ equal root bytes ⇒ the
  * changelog's double-write skip and no-op compares still work).
  */
private[graft] object RegistryCodec {

  /** entries per chunk (and the v2 threshold at 2x this) — a system
    * property so specs can exercise chunking at tiny sizes. `0` (or
    * negative) disables v2 emission entirely: repos that must stay
    * readable by pre-v2 binaries or external v1-document parsers keep
    * the plain format at any size (the upgrade is otherwise ONE-WAY —
    * crossing the threshold rewrites the committed root as v2, and
    * shrinking back re-emits v1 only on the next write). */
  def targetEntries: Int =
    Integer.getInteger("graft.registryChunkEntries", 4096)

  /** v2 threshold: 2x the chunk target. `target = 1` is the
    * force-chunked spec/oracle mode — EVERY registry (a single-entry
    * one included) commits as v2 roots + chunks, so a whole oracle
    * pass can run on the chunked format even though its repos hold
    * one or two collections each. */
  def chunkMin(target: Int): Int = if (target == 1) 1 else 2 * target

  // ---- observability (specs pin O(touched) via these) ----
  /** chunks serialized fresh by encode (reused refs don't count) */
  private[graft] val chunkEncodes = new AtomicLong(0L)

  /** (sha, entry-count, first-key, last-key) of one chunk object */
  final case class ChunkRef(sha: String, n: Int, k0: String, k1: String)

  /** `refs` is null for a plain v1 encoding. `fresh` holds only the
    * chunk objects not already in the store (reused refs travel by
    * reference). */
  final case class Encoded(root: Array[Byte],
      fresh: Seq[(String, Array[Byte])], refs: Vector[ChunkRef])

  private val V2Prefix = """{"v":2,"reg":""".getBytes("UTF-8")

  def isChunked(bytes: Array[Byte]): Boolean =
    bytes.length > V2Prefix.length &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOf(bytes, V2Prefix.length), V2Prefix)

  /** One chunk's bytes: a complete JSON object over its key range —
    * decode unions the fragments in root order. `valueJson(i)` is
    * called ONLY for the entries actually serialized, so a reused-
    * layout encode never serializes the untouched ranges (entry
    * serialization, not the diff, is the O(registry) cost a DDL must
    * not pay). */
  private def chunkBytes(keys: IndexedSeq[String],
      valueJson: Int => String, from: Int, n: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(n * 160)
    sb.append('{')
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      sb.append(Json.str(keys(from + i))).append(':')
        .append(valueJson(from + i))
      i += 1
    }
    sb.append('}')
    sb.toString.getBytes("UTF-8")
  }

  /** The plain v1 document — byte-identical to the pre-chunking
    * encoder's output for the same state. */
  def plainBytes(keys: IndexedSeq[String],
      valueJson: Int => String): Array[Byte] =
    chunkBytes(keys, valueJson, 0, keys.length)

  /** Encode the sorted state. `prevRefs`/`changed` drive the
    * incremental path: chunks of the PREVIOUS layout whose key range
    * lies strictly outside [min(changed), max(changed)] are reused by
    * reference — sound because chunks partition the sorted key space,
    * so every key outside the changed span serializes identically.
    * Pass `prevRefs = null` (or `changed = null`) for a full encode. */
  def encode(keys: IndexedSeq[String], valueJson: Int => String,
      prevRefs: Vector[ChunkRef], changed: Set[String]): Encoded =
    encode(keys, valueJson, prevRefs, changed, targetEntries)

  def encode(keys: IndexedSeq[String], valueJson: Int => String,
      prevRefs: Vector[ChunkRef], changed: Set[String],
      target: Int): Encoded = {
    val n = keys.length
    if (target <= 0 || n < chunkMin(target))
      return Encoded(plainBytes(keys, valueJson), Nil, null)

    var front = Vector.empty[ChunkRef]
    var end = Vector.empty[ChunkRef]
    if (prevRefs != null && changed != null) {
      if (changed.isEmpty) {
        // canonical no-op: same state reuses the whole layout
        val total = prevRefs.iterator.map(_.n.toLong).sum
        if (total == n) return assemble(keys, valueJson, prevRefs,
          total.toInt, Vector.empty, 0, target)
      } else {
        val firstC = changed.min
        val lastC = changed.max
        var i = 0
        while (i < prevRefs.length && prevRefs(i).k1 < firstC) {
          front :+= prevRefs(i); i += 1
        }
        var j = prevRefs.length - 1
        val eb = List.newBuilder[ChunkRef]
        while (j >= i && prevRefs(j).k0 > lastC) {
          eb += prevRefs(j); j -= 1
        }
        end = eb.result().reverse.toVector
      }
    }
    var frontRows = front.iterator.map(_.n).sum
    var endRows = end.iterator.map(_.n).sum
    // defensive position check: the reused spans must line up with
    // the new sorted entries exactly (they do by the key-space
    // partition argument; a violated assumption falls back to full)
    val aligned =
      frontRows + endRows <= n &&
      (front.isEmpty ||
        (keys(frontRows - 1) == front.last.k1 &&
          (frontRows == n || keys(frontRows) > front.last.k1))) &&
      (end.isEmpty ||
        (keys(n - endRows) == end.head.k0 &&
          (endRows == n || keys(n - endRows - 1) < end.head.k0)))
    if (!aligned) {
      front = Vector.empty; end = Vector.empty
      frontRows = 0; endRows = 0
    }
    // anti-sliver: absorb one neighbor so a 1-entry DDL doesn't mint
    // a sliver chunk per commit
    val midLen = n - frontRows - endRows
    if (midLen > 0 && midLen < target / 2) {
      if (front.nonEmpty) { frontRows -= front.last.n; front = front.init }
      else if (end.nonEmpty) { endRows -= end.head.n; end = end.tail }
    }
    assemble(keys, valueJson, front, frontRows, end, endRows, target)
  }

  private def assemble(keys: IndexedSeq[String],
      valueJson: Int => String,
      front: Vector[ChunkRef], frontRows: Int,
      end: Vector[ChunkRef], endRows: Int, target: Int): Encoded = {
    val n = keys.length
    val midLen = n - frontRows - endRows
    val freshRefs = Vector.newBuilder[ChunkRef]
    val freshBytes = Seq.newBuilder[(String, Array[Byte])]
    if (midLen > 0) {
      val k = math.max(1, (midLen + target - 1) / target)
      var off = frontRows
      var i = 0
      while (i < k) {
        // Long arithmetic (the ManifestCodec overflow lesson)
        val take = ((midLen.toLong * (i + 1)) / k -
          (midLen.toLong * i) / k).toInt
        val bytes = chunkBytes(keys, valueJson, off, take)
        val sha = Hash.sha1(bytes)
        freshRefs += ChunkRef(sha, take,
          keys(off), keys(off + take - 1))
        freshBytes += ((sha, bytes))
        chunkEncodes.incrementAndGet()
        off += take
        i += 1
      }
    }
    val refs = front ++ freshRefs.result() ++ end
    val sb = new java.lang.StringBuilder(refs.length * 120 + 64)
    sb.append("""{"v":2,"reg":1,"chunks":[""")
    var i = 0
    while (i < refs.length) {
      val r = refs(i)
      if (i > 0) sb.append(',')
      sb.append("""{"sha":""").append(Json.str(r.sha))
        .append(""","n":""").append(r.n)
        .append(""","k0":""").append(Json.str(r.k0))
        .append(""","k1":""").append(Json.str(r.k1))
        .append('}')
      i += 1
    }
    sb.append("]}")
    Encoded(sb.toString.getBytes("UTF-8"), freshBytes.result(), refs)
  }

  // ---------------------------------------------------------------
  // decode
  // ---------------------------------------------------------------

  def parseRoot(bytes: Array[Byte]): Vector[ChunkRef] = {
    val m = Json.parse(new String(bytes, "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    m("chunks").asInstanceOf[List[Any]].map { o =>
      val cm = o.asInstanceOf[Map[String, Any]]
      ChunkRef(cm("sha").asInstanceOf[String],
        cm("n").asInstanceOf[Long].toInt,
        cm("k0").asInstanceOf[String], cm("k1").asInstanceOf[String])
    }.toVector
  }

  /** chunk sha list WITHOUT decoding entries — what gc needs */
  def chunkShas(bytes: Array[Byte]): Seq[String] =
    parseRoot(bytes).map(_.sha)

  /** Decode a v2 payload to the union of its chunks' parsed entries.
    * `fetch` reads one chunk object by sha; `parse` maps one chunk's
    * raw JSON map to the caller's entry type (deterministic per
    * bytes, so the JVM-wide cache is keyed by sha alone). Returns the
    * refs too, so a follow-on commit can encode incrementally. */
  def decode[T](bytes: Array[Byte], fetch: String => Array[Byte],
      parse: Map[String, Any] => Map[String, T])
      : (Map[String, T], Vector[ChunkRef]) = {
    val refs = parseRoot(bytes)
    val out = Map.newBuilder[String, T]
    refs.foreach { ref =>
      out ++= chunkEntries(ref, fetch, parse).asInstanceOf[Map[String, T]]
    }
    (out.result(), refs)
  }

  // ---- JVM-wide content-addressed chunk entry cache ----
  // Keyed by sha: chunk bytes are content-addressed and the parse fn
  // is deterministic per bytes (one registry entry schema JVM-wide).
  // Bounded by 4e5 cached entries; a miss is one store fetch + JSON
  // parse of one chunk.
  private[graft] val chunkCache =
    new BoundedCache[String, Map[String, Any]](400000L, _.size)

  private def chunkEntries(ref: ChunkRef, fetch: String => Array[Byte],
      parse: Map[String, Any] => Map[String, _]): Map[String, _] =
    chunkCache.getOrLoad(ref.sha) {
      val bytes = Hash.readVerified(ref.sha,
        s"registry chunk ${ref.sha}")(fetch(ref.sha))
      val parsed = parse(Json.parse(new String(bytes, "UTF-8"))
        .asInstanceOf[Map[String, Any]]).asInstanceOf[Map[String, Any]]
      require(parsed.size == ref.n,
        s"registry chunk ${ref.sha}: ${parsed.size} entries, root says ${ref.n}")
      parsed
    }

  /** Test hook, mirroring ManifestCodec.clearChunkCache. */
  private[graft] def clearChunkCache(): Unit = chunkCache.clear()
}
