package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Small file-tree helpers for inputs and outputs. */
object Files {

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)

  private def walk(p: Path): Seq[Path] =
    if (!JFiles.exists(p)) Nil
    else Using.resource(JFiles.walk(p))(_.iterator.asScala.toVector)

  /** Total bytes of the regular files under `p`. */
  def bytes(p: Path): Long = walk(p).filter(JFiles.isRegularFile(_)).map(JFiles.size).sum

  def delete(p: Path): Unit =
    walk(p).reverse.foreach(JFiles.deleteIfExists)

  def writeLines(p: Path, lines: Iterable[String]): Unit = {
    JFiles.createDirectories(p.getParent)
    Using.resource(JFiles.newBufferedWriter(p, UTF_8)) { w =>
      lines.foreach { l => w.write(l); w.write('\n') }
    }
  }
}
