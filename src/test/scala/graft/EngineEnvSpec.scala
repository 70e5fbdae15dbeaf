package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages take every setting as an explicit parameter: a
  * behaviour switched by an environment variable is invisible at the
  * call site and untested by default. Only the mains (`Bench`,
  * `Verify`, `tools.ProfileRecall`) read the environment.
  *
  * The engine pins and releases data only through
  * `operators/Checkpoints.scala`, so every pin has one lifecycle: a
  * runner job is its release scope.
  *
  * Every lake write commits through `operators/FileMerge.scala`, the
  * only file that renames, and the engine and its drivers reach the
  * filesystem only through Hadoop `FileSystem`.
  */
class EngineEnvSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala/graft")
  private val EnginePackages = Seq("operators", "functions", "streaming", "sources", "plans")
  private val EnvRead = """sys\.env|System\.getenv""".r
  private val PinCall = """\.(cache\(\)|persist\(|localCheckpoint\(|unpersist\()""".r
  private val Drivers = Seq("LakeDriver.scala", "CurationDriver.scala").map(Root.resolve)

  private def scalaFiles(dirs: Seq[String]): Seq[Path] = {
    val files = dirs.flatMap { pkg =>
      val dir = Root.resolve(pkg)
      assert(Files.isDirectory(dir), s"missing package directory $dir")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    files
  }

  private def hits(files: Seq[Path])(bad: String => Boolean): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if bad(line)
    } yield s"$f:${i + 1}: ${line.trim}"

  test("engine packages read no environment variables") {
    val found = hits(scalaFiles(EnginePackages))(EnvRead.findFirstIn(_).isDefined)
    assert(found.isEmpty, found.mkString("environment reads in engine code:\n", "\n", ""))
  }

  test("engine code pins and releases data only through Checkpoints") {
    val files = (scalaFiles(EnginePackages :+ "queries") ++ Drivers)
      .filterNot(_.endsWith(Paths.get("operators", "Checkpoints.scala")))
    // a line's code: scaladoc and block-comment lines have none, and a
    // trailing `//` comment is cut off
    def codeOf(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
    }
    val found = hits(files)(line => PinCall.findFirstIn(codeOf(line)).isDefined)
    assert(found.isEmpty, found.mkString("pins outside operators/Checkpoints.scala:\n", "\n", ""))
  }

  test("only the commit protocol renames files") {
    val files = scalaFiles(Seq("."))
      .filterNot(_.endsWith(Paths.get("operators", "FileMerge.scala")))
    val found = hits(files)(_.contains(".rename("))
    assert(found.isEmpty, found.mkString("renames outside operators/FileMerge.scala:\n", "\n", ""))
  }

  test("engine and drivers reach the filesystem through Hadoop FileSystem only") {
    val files = scalaFiles(Seq("operators", "plans", "sources")) ++ Drivers
    val found = hits(files)(_.contains("java.nio.file"))
    assert(found.isEmpty, found.mkString("java.nio.file in engine or driver code:\n", "\n", ""))
  }
}
