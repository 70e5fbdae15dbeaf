package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class IncrementalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def df(rows: (Long, String)*) = rows.toDF("id", "v")

  test("high watermark = global max PK; None on empty (A1, utils.py:219)") {
    assert(Incremental.highWatermark(df(1L -> "a", 5L -> "b"), "id").contains(5L))
    assert(Incremental.highWatermark(df().where(lit(false)), "id").isEmpty)
  }

  test("watermark filter keeps only rows strictly above (P5)") {
    val src = df(1L -> "a", 5L -> "b", 6L -> "c", 9L -> "d")
    val existing = df(1L -> "a", 5L -> "b")
    val fresh = Incremental.newRowsAboveWatermark(src, existing, "id")
    assert(fresh.select("id").as[Long].collect().sorted.toSeq == Seq(6L, 9L))
  }

  test("append path: no drops, no duplicates across two increments (K3)") {
    val dir = Files.createTempDirectory("inc").toString + "/t"
    df(1L -> "a", 2L -> "b").write.parquet(dir)
    val src = df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    Incremental.appendIncrement(src, spark.read.parquet(dir), "id", dir)
    // re-running with the same source appends nothing
    Incremental.appendIncrement(src, spark.read.parquet(dir), "id", dir)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("merge: source wins on matched keys, inserts new, keeps unmatched (K4)") {
    val target = df(1L -> "t1", 2L -> "t2", 3L -> "t3")
    val source = df(2L -> "s2", 4L -> "s4")
    val out = Incremental.merge(target, source, "id").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(1L -> "t1", 2L -> "s2", 3L -> "t3", 4L -> "s4"))
  }

  test("merge is idempotent: re-merging the same batch changes nothing") {
    val target = df(1L -> "t1", 2L -> "t2")
    val source = df(2L -> "s2", 3L -> "s3")
    val once = Incremental.merge(target, source, "id")
    val twice = Incremental.merge(once, source, "id")
    assert(once.as[(Long, String)].collect().toSet == twice.as[(Long, String)].collect().toSet)
  }

  test("merge with duplicate source keys is deterministic (last-write-wins by max struct)") {
    val target = df(1L -> "t1")
    val source = df(1L -> "a", 1L -> "z", 2L -> "m", 2L -> "b")
    val out = Incremental.merge(target, source, "id").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(1L -> "z", 2L -> "m"))
  }

  test("merge preserves target column order and disjoint columns") {
    val target = Seq((1L, "x", 10)).toDF("id", "v", "extra")
    val source = df(2L -> "y")
    val out = Incremental.merge(target, source, "id")
    assert(out.columns.toSeq == Seq("id", "v", "extra"))
    val rows = out.orderBy("id").collect()
    assert(rows(1).getString(1) == "y" && rows(1).isNullAt(2))
  }

  test("ingestIncremental: create → append → merge lifecycle (E4)") {
    val dir = Files.createTempDirectory("e4").toString + "/t"
    // first run creates
    Incremental.ingestIncremental(spark, df(1L -> "a", 2L -> "b"), dir, "id", updates = false)
    assert(spark.read.parquet(dir).count() == 2)
    // append run: only rows above watermark land
    Incremental.ingestIncremental(spark, df(1L -> "a", 2L -> "b", 3L -> "c"), dir, "id", updates = false)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    // updates run: matched keys rewritten, new keys inserted
    Incremental.ingestIncremental(spark, df(2L -> "B2", 4L -> "d"), dir, "id", updates = true)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("merge: explicit source NULL overwrites the target value (whenMatchedUpdateAll parity)") {
    val target = Seq((1L, Some("t1")), (2L, Some("t2"))).toDF("id", "v")
    val source = Seq((2L, None: Option[String])).toDF("id", "v")
    val out = Incremental.merge(target, source, "id").orderBy("id").collect()
    assert(out(0).getString(1) == "t1")
    assert(out(1).isNullAt(1), "matched source row with NULL must null-out the target value")
  }

  private def liveNames(live: String): Set[String] = {
    val path = new org.apache.hadoop.fs.Path(live)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path).map(_.getPath.getName).toSet
  }

  test("whole-table rewrite commit: new data live, no staging residue") {
    val live = Files.createTempDirectory("rewrite").toString + "/t"
    Incremental.ingestIncremental(spark, df(1L -> "old"), live, "id", updates = true)
    Files.writeString(java.nio.file.Paths.get(live, "_commits"), "floor:0\n")
    Incremental.ingestIncremental(spark, df(2L -> "new"), live, "id", updates = true)
    assert(spark.read.parquet(live).as[(Long, String)].collect().toSet ==
      Set(1L -> "old", 2L -> "new"))
    assert(!Files.exists(java.nio.file.Paths.get(live + "_fmerge")))
    assert(!liveNames(live).exists(_.startsWith("_old_")))
    assert(liveNames(live)("_commits"), "a whole-table rewrite keeps bookkeeping files")
  }

  test("whole-table rewrite: a crash after the manifest rolls forward") {
    val live = Files.createTempDirectory("rewrite").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names = liveNames(live)
    Incremental.ingestIncremental(spark, df(1L -> "old"), live, "id", updates = true)
    Incremental.ingestIncremental(spark, df(2L -> "new"), live, "id", updates = true)

    // crash after the manifest: every live data file hidden, the staged
    // replacement not yet published — the table reads empty until the
    // next writer rolls the commit forward
    val dataFiles = names.filterNot(n => n.startsWith("_") || n.startsWith("."))
    spark.read.parquet(live).union(df(3L -> "x")).write.parquet(live + "_fmerge")
    Files.writeString(java.nio.file.Paths.get(live + "_fmerge", "_touched"),
      dataFiles.mkString("", "\n", "\n"))
    dataFiles.foreach(n => assert(fs.rename(
      new org.apache.hadoop.fs.Path(live, n), new org.apache.hadoop.fs.Path(live, "_old_" + n))))
    Incremental.ingestIncremental(spark, df(4L -> "y"), live, "id", updates = true)
    assert(spark.read.parquet(live).as[(Long, String)].collect().toSet ==
      Set(1L -> "old", 2L -> "new", 3L -> "x", 4L -> "y"))
    assert(!names.exists(_.startsWith("_old_")))
  }

  test("merge fails fast if an input already carries the reserved marker column") {
    val target = Seq((1L, true)).toDF("id", "__graft_matched")
    intercept[IllegalArgumentException] {
      Incremental.merge(target, df(1L -> "x"), "id")
    }
  }

  test("mergeWithDeletes: flagged keys vanish, others upsert, flag column dropped") {
    val target = df(1L -> "t1", 2L -> "t2", 3L -> "t3")
    val source = Seq(
      (2L, "s2", false), // update
      (3L, null.asInstanceOf[String], true), // delete (payload ignored)
      (4L, "s4", false), // insert
      (9L, "x", true) // delete of a key the target never had: no-op
    ).toDF("id", "v", "_deleted")
    val out = Incremental.mergeWithDeletes(target, source, "id", "_deleted")
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq(1L -> "t1", 2L -> "s2", 4L -> "s4"))
    // a NULL flag means "not deleted", not a crash or a delete
    val nullFlag = Seq((1L, "n1", null.asInstanceOf[java.lang.Boolean]))
      .toDF("id", "v", "_deleted")
    val out2 = Incremental.mergeWithDeletes(target, nullFlag, "id", "_deleted")
    assert(out2.where(col("id") === 1L).head().getString(1) == "n1")
  }

  test("merge on disjoint keys equals union (append equivalence)") {
    val target = df(1L -> "a", 2L -> "b")
    val source = df(3L -> "c", 4L -> "d")
    val m = Incremental.merge(target, source, "id").as[(Long, String)].collect().toSet
    assert(m == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  private def pdf(rows: (Long, String, Int)*) = rows.toDF("id", "v", "p")

  /** (relative path, mtime) of every data file under `dir`, recursively. */
  private def fileState(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, Long]()
    // Files.walk holds open directory handles until closed
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { stream =>
      stream.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          out(root.relativize(p).toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
    }
    out.toMap
  }

  test("partition-pruned merge rewrites ONLY the touched partition directory") {
    val dir = Files.createTempDirectory("pmerge").toString + "/t"
    Incremental.mergePartitionPruned(
      spark,
      pdf((1L, "a", 0), (2L, "b", 1), (3L, "c", 2), (4L, "d", 1)),
      dir, "id", "p")
    val before = fileState(dir)
    assert(before.keys.exists(_.startsWith("p=0")) && before.keys.exists(_.startsWith("p=2")))

    // batch touches ONLY p=1: update id=2, insert id=9
    Incremental.mergePartitionPruned(spark, pdf((2L, "B", 1), (9L, "z", 1)), dir, "id", "p")
    assert(spark.read.parquet(dir).as[(Long, String, Int)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 0), (2L, "B", 1), (3L, "c", 2), (4L, "d", 1), (9L, "z", 1)))

    val now = fileState(dir)
    val untouchedBefore = before.filter { case (k, _) => k.startsWith("p=0") || k.startsWith("p=2") }
    val untouchedNow = now.filter { case (k, _) => k.startsWith("p=0") || k.startsWith("p=2") }
    assert(untouchedNow == untouchedBefore,
      "untouched partitions must keep identical file paths AND mtimes (no rewrite)")
    assert(now.keys.filter(_.startsWith("p=1")).toSet !=
      before.keys.filter(_.startsWith("p=1")).toSet, "touched partition must be rewritten")
    assert(!now.keys.exists(_.contains("_old_")) &&
      !Files.exists(java.nio.file.Paths.get(dir + "_fmerge")),
      "no staging/aside residue after a clean commit")
  }

  test("partition-pruned merge: a batch with a NEW partition value only adds that directory") {
    val dir = Files.createTempDirectory("pmerge-new").toString + "/t"
    Incremental.mergePartitionPruned(spark, pdf((1L, "a", 0), (2L, "b", 1)), dir, "id", "p")
    val before = fileState(dir)
    Incremental.mergePartitionPruned(spark, pdf((7L, "n", 5)), dir, "id", "p")
    val now = fileState(dir)
    assert(now.filter(!_._1.startsWith("p=5")) == before, "existing partitions untouched")
    assert(now.keys.exists(_.startsWith("p=5")))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("partition-pruned merge is idempotent under batch replay") {
    val dir = Files.createTempDirectory("pmerge-idem").toString + "/t"
    Incremental.mergePartitionPruned(spark, pdf((1L, "a", 0), (2L, "b", 1)), dir, "id", "p")
    val batch = pdf((2L, "B", 1), (3L, "c", 0))
    Incremental.mergePartitionPruned(spark, batch, dir, "id", "p")
    val once = spark.read.parquet(dir).as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    Incremental.mergePartitionPruned(spark, batch, dir, "id", "p")
    val twice = spark.read.parquet(dir).as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(once == twice && once == Seq((1L, "a", 0), (2L, "B", 1), (3L, "c", 0)))
  }

  test("partition-pruned merge: an empty first batch does not wedge the table") {
    val dir = Files.createTempDirectory("pmerge-empty").toString + "/t"
    val empty = pdf().where(lit(false))
    // empty initial batch: no unreadable zero-data-file directory created
    Incremental.mergePartitionPruned(spark, empty, dir, "id", "p")
    assert(!Files.exists(java.nio.file.Paths.get(dir)))
    // a real first batch afterwards initializes normally
    Incremental.mergePartitionPruned(spark, pdf((1L, "a", 0)), dir, "id", "p")
    assert(spark.read.parquet(dir).count() == 1)
    // an empty LATER batch is a no-op, not an error
    Incremental.mergePartitionPruned(spark, empty, dir, "id", "p")
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("partition-pruned merge preserves non-canonical STRING partition values") {
    val dir = Files.createTempDirectory("pmerge-str").toString + "/t"
    def sdf(rows: (Long, String, String)*) = rows.toDF("id", "v", "month")
    // '01' would infer as int 1 on read-back; the pinned-schema read keeps
    // it a string so the rewrite lands in the SAME p=01 directory
    Incremental.mergePartitionPruned(spark, sdf((1L, "a", "01"), (2L, "b", "02")), dir, "id", "month")
    Incremental.mergePartitionPruned(spark, sdf((1L, "A", "01")), dir, "id", "month")
    // read with the pinned schema: a bare spark.read would itself re-infer
    // '01' as int — the user-facing reads of a string-partitioned table
    // must pin the schema the way the merge does
    val out = spark.read.schema(sdf().schema).parquet(dir)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "A", "01"), (2L, "b", "02")),
      s"partition values must survive verbatim, got $out")
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.contains("=")).toSet
    assert(dirs == Set("month=01", "month=02"), s"no rewritten/duplicate partition dirs: $dirs")
  }

  test("partition-pruned merge refuses hazardous directory/column states loudly") {
    // a '_'-prefixed partition column can never be read back (discovery
    // ignores such dirs) — rejected up front
    intercept[IllegalArgumentException] {
      Incremental.mergePartitionPruned(
        spark, Seq((1L, "a", 0)).toDF("id", "v", "_p"),
        Files.createTempDirectory("pmerge-badcol").toString + "/t", "id", "_p")
    }
    // a directory with unrecognized content (no col=value dirs, not a bare
    // marker) is surfaced, never silently deleted
    val dir = Files.createTempDirectory("pmerge-odd").toString + "/t"
    pdf((1L, "x", 0)).drop("p").write.parquet(dir) // plain files, no partition layout
    val e = intercept[IllegalArgumentException] {
      Incremental.mergePartitionPruned(spark, pdf((2L, "y", 1)), dir, "id", "p")
    }
    assert(e.getMessage.contains("refusing to overwrite"))
    assert(spark.read.parquet(dir).count() == 1, "pre-existing data must be untouched")
  }

  test("ingestIncremental evolves the schema when the batch adds a column") {
    val lake = Files.createTempDirectory("evolve").toString + "/t"
    Incremental.ingestIncremental(spark, df(1L -> "a", 2L -> "b"), lake, "id", updates = true)
    Incremental.ingestIncremental(
      spark, Seq((2L, "b2", "x2"), (3L, "c", "x3")).toDF("id", "v", "w"),
      lake, "id", updates = true)
    val got = spark.read.parquet(lake).select("id", "v", "w").as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> (("a", None)), // pre-evolution row: NULL in the new column
      2L -> (("b2", Some("x2"))),
      3L -> (("c", Some("x3")))))
  }

  test("partition-pruned merge: replaying a crashed INITIAL write recovers") {
    // a crash mid-initial-write leaves only writer residue (_temporary);
    // the replay must clear it and initialize, not wedge on the guard
    val dir = Files.createTempDirectory("pmerge-tmpres").toString + "/t"
    Files.createDirectories(java.nio.file.Paths.get(dir + "/_temporary/0"))
    Incremental.mergePartitionPruned(spark, pdf((1L, "a", 0)), dir, "id", "p")
    assert(spark.read.parquet(dir).as[(Long, String, Int)].collect().toSeq == Seq((1L, "a", 0)))
  }

  test("partition-pruned merge: a torn commit rolls forward on recovery") {
    val dir = Files.createTempDirectory("pmerge-recov").toString + "/t"
    Incremental.mergePartitionPruned(spark, pdf((1L, "a", 0), (2L, "b", 1)), dir, "id", "p")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash after the manifest, between moving live p=1 aside and
    // publishing its staged replacement
    pdf((2L, "B", 1)).drop("p").write.parquet(dir + "_fmerge/p=1")
    fs.create(new org.apache.hadoop.fs.Path(dir + "_fmerge/_touched"), true).close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "/p=1"),
      new org.apache.hadoop.fs.Path(dir + "/_old_p=1")))
    assert(FileMerge.recoverFileMerge(spark, dir))
    val rows = spark.read.parquet(dir).as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", 0), (2L, "B", 1)))
    assert(!Files.exists(java.nio.file.Paths.get(dir + "_fmerge")))
    assert(!Files.exists(java.nio.file.Paths.get(dir + "/_old_p=1")))
    assert(!FileMerge.recoverFileMerge(spark, dir))
  }

  test("roll-forward after a partial publish keeps a new partition live") {
    val dir = Files.createTempDirectory("pmerge-partial").toString + "/t"
    Incremental.mergePartitionPruned(spark, pdf((1L, "a", 0), (2L, "b", 1)), dir, "id", "p")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    // a batch touching both partitions crashed mid-publish: p=1 already
    // replaced (its old copy still aside), p=0 still staged
    pdf((1L, "A", 0)).drop("p").write.parquet(dir + "_fmerge/p=0")
    pdf((2L, "B", 1)).drop("p").write.parquet(dir + "_fmerge/p=1")
    fs.create(hp(dir + "_fmerge/_touched"), true).close()
    assert(fs.rename(hp(dir + "/p=1"), hp(dir + "/_old_p=1")))
    assert(fs.rename(hp(dir + "_fmerge/p=1"), hp(dir + "/p=1")))
    Incremental.mergePartitionPruned(spark, pdf((3L, "c", 1)), dir, "id", "p")
    assert(spark.read.parquet(dir).as[(Long, String, Int)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "A", 0), (2L, "B", 1), (3L, "c", 1)))
    assert(!fs.listStatus(hp(dir)).exists(_.getPath.getName.startsWith("_old_")))
  }

  test("snapshotDiff: added/removed/changed classified; unchanged rows dropped") {
    val oldSnap = Seq(
      (1L, "same", 10L),
      (2L, "will change", 20L),
      (3L, "will be removed", 30L)
    ).toDF("id", "body", "n")
    val newSnap = Seq(
      (1L, "same", 10L),
      (2L, "changed!", 20L),
      (4L, "brand new", 40L)
    ).toDF("id", "body", "n")
    val got = Incremental.snapshotDiff(oldSnap, newSnap, "id", Seq("body", "n"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("snapshotDiff: null is distinct from the empty string and from absence") {
    val oldSnap = Seq((1L, Some("x")), (2L, Some(""))).toDF("id", "body")
    val newSnap = Seq((1L, None: Option[String]), (2L, Some(""))).toDF("id", "body")
    val got = Incremental.snapshotDiff(oldSnap, newSnap, "id", Seq("body"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // row 2 ("" → "") is unchanged; row 1 ("x" → NULL) is a change
    assert(got == Seq((1L, "changed")))
  }

  test("snapshotDiff: contract guards fail fast") {
    val df1 = Seq((1L, "a")).toDF("id", "body")
    assert(intercept[IllegalArgumentException] {
      Incremental.snapshotDiff(df1, df1, "id", Seq.empty)
    }.getMessage.contains("no columns to compare"))
    assert(intercept[IllegalArgumentException] {
      Incremental.snapshotDiff(df1, df1, "id", Seq("id", "body"))
    }.getMessage.contains("cannot also be compared"))
    val clash = Seq((1L, "a", "x")).toDF("id", "body", "change_type")
    assert(intercept[IllegalArgumentException] {
      Incremental.snapshotDiff(clash, clash, "id", Seq("body"))
    }.getMessage.contains("reserved working column"))
  }
}
