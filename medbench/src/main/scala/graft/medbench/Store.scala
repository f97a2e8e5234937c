package graft.medbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** File-system helpers for output stores: reset, restore and written-file
  * accounting, all outside timed regions.
  */
object Store {

  final case class FileStat(size: Long, mtime: Long)

  def files(root: Path): Map[String, FileStat] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).map { p =>
        root.relativize(p).toString ->
          FileStat(Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Files in `after` that are new or changed since `before`. */
  def written(before: Map[String, FileStat],
      after: Map[String, FileStat]): Map[String, FileStat] =
    after.filter { case (p, st) => !before.get(p).contains(st) }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Replaces `to` with a copy of `from`. Files are hard links when the
    * file system allows it: Spark never rewrites a data file in place, it
    * deletes and writes new ones, so the pristine copy stays intact.
    */
  def restore(from: Path, to: Path): Unit = {
    delete(to)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else
        try Files.createLink(q, p)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
        }
    }
    finally s.close()
  }
}
