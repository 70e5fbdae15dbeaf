package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-filesystem views of the tables the engine writes. */
object Disk {
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** Bytes of the data files under `dir` (recursive). */
  def bytes(dir: String): Long = walk(dir).filter(isData).map(Files.size).sum

  /** Data files under `dir` (recursive). */
  def fileCount(dir: String): Int = walk(dir).count(isData)

  /** Every file directly in `dir`, bookkeeping files included, with its
    * size and modification time: equal states mean nothing was written.
    */
  def state(dir: String): Map[String, (Long, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f.getFileName.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
      }.toMap
      finally s.close()
    }
  }

  /** Data-file part of a [[state]]. */
  def data(st: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    st.filter { case (n, _) => !n.startsWith("_") && !n.startsWith(".") }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }
}
