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
  *
  * Writers recover and readers resolve: only a writer repairs a torn
  * commit (`FileMerge.recoverFileMerge`), and a read function, with
  * everything it calls, never changes the table it reads. The index
  * operators read a table only through `FileMerge.readTable` (or
  * `readFiles`), which types it from footers the driver reads.
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
    val found = hits(files)(line => PinCall.findFirstIn(codeOf(line)).isDefined)
    assert(found.isEmpty, found.mkString("pins outside operators/Checkpoints.scala:\n", "\n", ""))
  }

  test("only the commit protocol renames files") {
    val files = scalaFiles(Seq("."))
      .filterNot(_.endsWith(Paths.get("operators", "FileMerge.scala")))
    val found = hits(files)(_.contains(".rename("))
    assert(found.isEmpty, found.mkString("renames outside operators/FileMerge.scala:\n", "\n", ""))
  }

  /** Every `def` in `files`, by name: its lines, from the `def` line to
    * the last line indented deeper than it (closing brackets included).
    */
  private def defs(files: Seq[Path]): Map[String, Seq[Seq[String]]] = {
    val Def = """^(\s*)(?:(?:private|protected|final|override)(?:\[\w+\])?\s+)*def\s+(\w+)""".r
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val found = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      m <- Def.findPrefixMatchOf(line).toSeq
    } yield {
      val k = m.group(1).length
      val rest = lines.drop(i + 1).takeWhile { l =>
        val t = l.trim
        t.isEmpty || indent(l) > k || (indent(l) == k && (t.startsWith(")") || t.startsWith("}")))
      }
      m.group(2) -> (line +: rest)
    }
    found.groupMap(_._1)(_._2)
  }

  /** A line's code: scaladoc and block-comment lines have none, and a
    * trailing `//` comment is cut off.
    */
  private def codeOf(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) "" else t.split("//", 2)(0)
  }

  private val Writers = Set(
    "mergeFileGranular", "appendStaged", "ingestIncremental", "mergePartitionPruned",
    "writeIndex", "appendToIndex", "ivfBuild", "ivfAppend", "ivfCompact", "ivfPqBuild",
    "ivfPqAppend", "compact", "ingestBatchDeduped", "compactIngestCorpus", "upsertBatch",
    "upsertBatchFileGranular")

  private val Readers = Seq(
    "readIndex", "corpusAsOf", "indexedProbeCandidates", "indexedBatchCandidates",
    "ivfPqTopK", "ivfPqTopKBatch", "ivfPqShortlistFor", "semDedupCandidates",
    "ivfPqDriftReport", "snapshot", "lakeRowCounts")

  test("only writers run the commit recovery") {
    val files = scalaFiles(Seq("."))
    val all = defs(files)
    val callers = for {
      (name, bodies) <- all.toSeq
      body <- bodies
      if body.tail.exists(l => codeOf(l).contains("recoverFileMerge("))
    } yield name
    assert(callers.nonEmpty)
    val strays = callers.filterNot(Writers)
    assert(strays.isEmpty, strays.mkString("recoverFileMerge called outside the writers: ", ", ", ""))
  }

  test("read functions never change the table they read") {
    val all = defs(scalaFiles(EnginePackages))
    Readers.foreach(r => assert(all.contains(r), s"read function $r not found"))
    // every engine def a reader reaches by name, the reader included
    var reached = Set.empty[String]
    var next = Readers.toSet
    while (next.nonEmpty) {
      reached ++= next
      next = (for {
        name <- next.toSeq
        line <- all(name).flatten
        callee <- """\b(\w+)\s*\(""".r.findAllMatchIn(codeOf(line)).map(_.group(1))
        if all.contains(callee) && !reached(callee)
      } yield callee).toSet
    }
    val Mutation = """recoverFileMerge\(|\.delete\(|\.rename\(|\.create\(""".r
    val found = for {
      name <- reached.toSeq.sorted
      line <- all(name).flatten
      if Mutation.findFirstIn(codeOf(line)).isDefined
    } yield s"$name: ${line.trim}"
    assert(found.isEmpty, found.mkString("a read function reaches a table change:\n", "\n", ""))
  }

  test("the index operators read tables only through the snapshot reader") {
    val files = Seq("Similarity.scala", "Invert.scala").map(Root.resolve("operators").resolve(_))
    val found = hits(files)(line => """\.read\b""".r.findFirstIn(codeOf(line)).isDefined)
    assert(found.isEmpty,
      found.mkString("reads past FileMerge.readTable/readFiles in the index operators:\n", "\n", ""))
  }

  test("engine and drivers reach the filesystem through Hadoop FileSystem only") {
    val files = scalaFiles(Seq("operators", "plans", "sources")) ++ Drivers
    val found = hits(files)(_.contains("java.nio.file"))
    assert(found.isEmpty, found.mkString("java.nio.file in engine or driver code:\n", "\n", ""))
  }
}
