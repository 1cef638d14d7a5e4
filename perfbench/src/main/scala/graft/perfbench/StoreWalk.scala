package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The store layer seen from outside: a walk of the file backend's root
  * after each op. A file counts as created the first time a walk sees
  * it (keyed by path, size and mtime, so a rewrite counts again). A file
  * created and removed between two walks is not seen. */
final class StoreWalk(root: Path) {
  private var seen = Set.empty[(String, Long, Long)]
  private var live = Map.empty[String, Long]
  var filesCreated = 0L
  var bytesCreated = 0L

  def liveFiles: Long = live.size.toLong
  def liveBytes: Long = live.values.sum

  def walk(): StoreWalk.Delta = {
    val now =
      if (!Files.exists(root)) Map.empty[(String, Long, Long), Long]
      else {
        val s = Files.walk(root)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).flatMap { p =>
          // a concurrent-free single client: a file vanishing mid-walk
          // is one the op just deleted
          try {
            val size = Files.size(p)
            Some((p.toString, size, Files.getLastModifiedTime(p).toMillis)
              -> size)
          } catch { case _: java.nio.file.NoSuchFileException => None }
        }.toMap
        finally s.close()
      }
    val fresh = now.keySet -- seen
    val nowLive = now.map { case ((p, _, _), sz) => p -> sz }
    val removed = (live.keySet -- nowLive.keySet).size.toLong
    seen ++= fresh
    live = nowLive
    val d = StoreWalk.Delta(fresh.size.toLong, fresh.toSeq.map(_._2).sum,
      removed)
    filesCreated += d.filesCreated
    bytesCreated += d.bytesCreated
    d
  }
}

object StoreWalk {
  final case class Delta(filesCreated: Long, bytesCreated: Long,
      filesRemoved: Long)
}
