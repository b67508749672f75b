package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ops.ParquetTableStore

/** What one walk of the store root found. Files are keyed by inode and
  * modification time: bytes a new version shares with an old one by
  * hard link count once, and an inode the file system reuses after a
  * prune still reads as a new file. */
final case class StoreWalk(
    files: Map[(Object, java.time.Instant), (String, Long)], // → (table, bytes)
    liveBytes: Long,
    tmpDirs: Int,
    versions: Map[String, Long]) {
  def totalBytes: Long = files.values.map(_._2).sum
}

/** Observes a store from outside the engine: one directory walk after
  * each round gives files and bytes added, versions published,
  * leftover `tmp-` staging dirs and live vs total bytes. */
final class StoreObserver(root: String, store: ParquetTableStore) {
  private var last: Option[StoreWalk] = None

  def walk(): StoreWalk = {
    val files = mutable.HashMap.empty[(Object, java.time.Instant), (String, Long)]
    var live = 0L
    var tmp = 0
    val rootPath = Paths.get(root)
    val versions = store.tables.flatMap(t => store.currentVersion(t).map(t -> _)).toMap
    if (Files.exists(rootPath)) {
      val stream = Files.walk(rootPath)
      try stream.iterator().asScala.foreach { p =>
        val rel = rootPath.relativize(p)
        if (Files.isDirectory(p)) {
          if (p.getFileName.toString.startsWith("tmp-")) tmp += 1
        } else {
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          val key = (Option(a.fileKey()).getOrElse(p.toAbsolutePath.toString),
            a.lastModifiedTime().toInstant)
          if (!files.contains(key)) {
            files(key) = (if (rel.getNameCount > 1) rel.getName(0).toString else "", a.size())
            if (isLive(rel, versions)) live += a.size()
          }
        }
      } finally stream.close()
    }
    StoreWalk(files.toMap, live, tmp, versions)
  }

  /** A file is live when it sits outside any version dir (pointers,
    * sidecars, checkpoints) or inside its table's current version. */
  private def isLive(rel: Path, versions: Map[String, Long]): Boolean =
    rel.getNameCount < 3 || {
      val dir = rel.getName(1).toString
      !dir.startsWith("v=") || versions.get(rel.getName(0).toString).exists { v =>
        val core = dir.stripPrefix("v=")
        core.takeWhile(_ != '-') == v.toString
      }
    }

  /** Walk, and report what changed since the previous walk. */
  def delta(): StoreDelta = {
    val now = walk()
    val prev = last
    last = Some(now)
    val added = (now.files.keySet -- prev.map(_.files.keySet).getOrElse(Set.empty))
      .toSeq.map(now.files)
    val published = now.versions.map { case (t, v) =>
      t -> (prev.flatMap(_.versions.get(t)) match {
        case Some(p) => math.max(0L, v - p)
        case None => v + 1
      })
    }
    StoreDelta(added.groupBy(_._1).map { case (t, fs) => t -> (fs.size.toLong, fs.map(_._2).sum) },
      published, now.tmpDirs)
  }
}

/** One round's store changes: files and bytes added per table (new
  * inodes since the last walk), versions published per table, and the
  * `tmp-` staging dirs left behind. */
final case class StoreDelta(added: Map[String, (Long, Long)], published: Map[String, Long],
    tmpDirs: Int) {
  def filesWritten: Long = added.values.map(_._1).sum
  def bytesWritten: Long = added.values.map(_._2).sum
  def versionsPublished: Long = published.values.sum
}
