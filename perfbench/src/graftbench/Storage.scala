package graftbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** Filesystem accounting of a table root's snapshots (`v<N>/` dirs), read
  * from outside the program: a file hard-linked into a later snapshot keeps
  * its inode, so "new in version N" means an inode no earlier version had.
  */
object Storage {
  final case class Version(v: Long, files: Seq[(Object, Long)], newFiles: Int,
                           newBytes: Long)

  def versions(root: String): Seq[Version] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return Nil
    val dirs = list(r).flatMap { p =>
      val n = p.getFileName.toString
      if (n.matches("v\\d+") && Files.isDirectory(p)) Some(n.drop(1).toLong -> p) else None
    }.sortBy(_._1)
    val seen = scala.collection.mutable.HashSet[Object]()
    dirs.map { case (v, d) =>
      val fs = parquetFiles(d).map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        (Option(a.fileKey).getOrElse(p.toString): Object) -> a.size
      }
      val fresh = fs.filterNot(f => seen(f._1))
      fs.foreach(f => seen += f._1)
      Version(v, fs, fresh.size, fresh.map(_._2).sum)
    }
  }

  private def parquetFiles(d: Path): Seq[Path] = {
    val s = Files.walk(d)
    try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  def deleteTree(d: Path): Unit =
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
      finally s.close()
    }

  private def list(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator.asScala.toList finally s.close()
  }
}
