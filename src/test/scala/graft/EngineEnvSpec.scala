package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages take every setting as an explicit parameter: a
  * behaviour switched by an environment variable is invisible at the
  * call site and untested by default. Only the mains (`Bench`,
  * `Verify`, `tools.ProfileRecall`) read the environment.
  */
class EngineEnvSpec extends AnyFunSuite {

  private val EnginePackages = Seq("operators", "functions", "streaming", "sources", "plans")
  private val EnvRead = """sys\.env|System\.getenv""".r

  test("engine packages read no environment variables") {
    val root = Paths.get("src/main/scala/graft")
    val files = EnginePackages.flatMap { pkg =>
      val dir = root.resolve(pkg)
      assert(Files.isDirectory(dir), s"missing package directory $dir")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if EnvRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("environment reads in engine code:\n", "\n", ""))
  }
}
