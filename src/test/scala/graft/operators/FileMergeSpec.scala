package graft.operators

import java.nio.file.Files
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class FileMergeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def base(n: Long) = (0L until n).map(i => (i, s"v$i")).toDF("id", "v")

  private def tmp(): String = Files.createTempDirectory("fmerge").toString + "/tbl"

  /** (name -> (length, modTime, md5)) for every data file in the table. */
  private def snapshot(dir: String): Map[String, (Long, Long, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p)
      .filter(st =>
        st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map { st =>
        val in = fs.open(st.getPath)
        val bytes =
          try in.readAllBytes()
          finally in.close()
        val md5 = MessageDigest.getInstance("md5").digest(bytes).map("%02x".format(_)).mkString
        st.getPath.getName -> ((st.getLen, st.getModificationTime, md5))
      }
      .toMap
  }

  private def content(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).as[(Long, String)].collect().toSet

  test("file ranges come from footer stats and are disjoint under range clustering") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(1000), dir, "id", initialFiles = 8)
    val ranges = FileMerge.fileRanges(spark, dir, "id").sortBy(_.lo)
    assert(ranges.size === 8)
    assert(ranges.forall(_.known))
    assert(ranges.map(r => r.hi - r.lo).sum < 1000) // narrow, non-spanning files
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a.hi < b.lo) // disjoint and ordered
      case _         =>
    }
    assert(ranges.head.lo === 0L && ranges.last.hi === 999L)
  }

  test("merge batch rewrites ONLY intersecting files; the rest stay byte-identical") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(1000), dir, "id", initialFiles = 8)
    val before = snapshot(dir)
    val ranges = FileMerge.fileRanges(spark, dir, "id")
    // batch: update a narrow key span + one insert far beyond every range
    val batch = ((100L to 120L).map(i => (i, s"upd$i")) :+ (5000L, "new")).toDF("id", "v")
    FileMerge.mergeFileGranular(spark, batch, dir, "id")

    // semantics identical to the full source-wins merge
    val expected = (0L until 1000L)
      .map(i => if (i >= 100 && i <= 120) (i, s"upd$i") else (i, s"v$i"))
      .toSet + ((5000L, "new"))
    assert(content(dir) === expected)

    // every file whose range missed [100, 120] survives byte-identical
    val after = snapshot(dir)
    val shouldSurvive = ranges.filter(r => r.hi < 100L || r.lo > 120L).map(_.file)
    assert(shouldSurvive.nonEmpty && shouldSurvive.size >= 6)
    shouldSurvive.foreach { f =>
      assert(after.contains(f), s"untouched file $f disappeared")
      assert(after(f) === before(f), s"untouched file $f was rewritten")
    }
    // and the intersecting file(s) were actually replaced
    val mustGo = ranges.filter(r => r.lo <= 120L && r.hi >= 100L).map(_.file)
    assert(mustGo.nonEmpty)
    mustGo.foreach(f => assert(!after.contains(f), s"touched file $f not replaced"))
  }

  test("insert-only batch beyond all ranges leaves every original file untouched") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(200), dir, "id", initialFiles = 4)
    val before = snapshot(dir)
    FileMerge.mergeFileGranular(spark, Seq((10000L, "x")).toDF("id", "v"), dir, "id")
    val after = snapshot(dir)
    before.foreach { case (f, sig) => assert(after.get(f).contains(sig)) }
    assert(content(dir) === (0L until 200L).map(i => (i, s"v$i")).toSet + ((10000L, "x")))
  }

  test("replaying the same batch is idempotent") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(100), dir, "id", initialFiles = 2)
    val batch = Seq((5L, "up"), (500L, "ins")).toDF("id", "v")
    FileMerge.mergeFileGranular(spark, batch, dir, "id")
    val once = content(dir)
    FileMerge.mergeFileGranular(spark, batch, dir, "id")
    assert(content(dir) === once)
  }

  test("recovery rolls a manifested staging FORWARD (crash before any rename)") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(100), dir, "id", initialFiles = 2)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = snapshot(dir).keys.head
    // staged replacement = the victim's rows, all values rewritten
    val replacement = spark.read
      .parquet(s"$dir/$victim")
      .withColumn("v", concat(lit("R"), col("id")))
    val staging = dir + "_fmerge"
    replacement.coalesce(1).write.mode("overwrite").parquet(staging)
    val out = fs.create(new Path(staging, "_touched"), true)
    out.write((victim + "\n").getBytes("UTF-8"))
    out.close()
    val victimIds =
      spark.read.parquet(s"$dir/$victim").select("id").as[Long].collect().toSet

    assert(FileMerge.recoverFileMerge(spark, dir))
    assert(!fs.exists(new Path(staging)))
    assert(!fs.exists(new Path(dir, victim)))
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("_old_")))
    val expected = (0L until 100L).map(i =>
      if (victimIds(i)) (i, s"R$i") else (i, s"v$i")).toSet
    assert(content(dir) === expected)
    // second recovery is a no-op
    assert(!FileMerge.recoverFileMerge(spark, dir))
  }

  test("recovery discards an unmanifested (incomplete) staging") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(50), dir, "id", initialFiles = 2)
    val before = content(dir)
    Seq((1L, "garbage")).toDF("id", "v").write.parquet(dir + "_fmerge")
    assert(FileMerge.recoverFileMerge(spark, dir))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dir + "_fmerge")))
    assert(content(dir) === before)
  }

  test("clustered compaction preserves disjoint per-file key ranges") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(500), dir, "id", initialFiles = 8)
    FileMerge.mergeFileGranular(spark, Seq((600L, "a")).toDF("id", "v"), dir, "id")
    FileMerge.mergeFileGranular(spark, Seq((700L, "b")).toDF("id", "v"), dir, "id")
    graft.sources.Lake.compact(spark, dir, targetFileBytes = 4096, clusterBy = Some("id"))
    val ranges = FileMerge.fileRanges(spark, dir, "id").sortBy(_.lo)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a.hi < b.lo, s"overlapping post-compaction ranges: $a $b")
      case _         =>
    }
    // the compacted table is still file-granular mergeable
    FileMerge.mergeFileGranular(spark, Seq((5L, "up")).toDF("id", "v"), dir, "id")
    assert(content(dir).exists(_ == (5L, "up")))
    assert(content(dir).size == 502)
  }

  test("a read between an append's staged data and its marker loses no rows") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(50), dir, "id", initialFiles = 2)
    val batch = (1000L until 1010L).map(i => (i, s"n$i")).toDF("id", "v")
    // appendStaged step by step, with a reader between its staged data
    // and its staged marker: the staging has no manifest yet, and the
    // reader must leave it alone
    Scale.writeRangeClustered(batch, FileMerge.stagingPath(dir), "id", 1)
    assert(Invert.readIndex(spark, dir).count() == 50)
    FileMerge.stageFile(spark, dir, "_append_committed_b1", "")
    FileMerge.commit(spark, dir, Nil)
    assert(FileMerge.appendCommitted(spark, dir, "b1"))
    assert(content(dir) == (base(50).as[(Long, String)].collect() ++
      batch.as[(Long, String)].collect()).toSet, "the committed append lost rows")
  }

  test("compact repairs a torn file-merge commit instead of baking it in") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(100), dir, "id", initialFiles = 2)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // torn commit: manifest published, victim already hidden, staged
    // replacement not yet moved in — a crash between phases A and B
    val victim = snapshot(dir).keys.head
    val victimIds = spark.read.parquet(s"$dir/$victim").select("id").as[Long].collect().toSet
    val staging = dir + "_fmerge"
    spark.read.parquet(s"$dir/$victim").withColumn("v", concat(lit("R"), col("id")))
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val out = fs.create(new Path(staging, "_touched"), true)
    out.write((victim + "\n").getBytes("UTF-8")); out.close()
    assert(fs.rename(new Path(dir, victim), new Path(dir, "_old_" + victim)))

    // compacting now must roll the commit FORWARD first — not persist the
    // torn view (which silently drops the victim's rows) nor leave the
    // staging behind to resurrect stale rows later
    graft.sources.Lake.compact(spark, dir, targetFileBytes = 4096, clusterBy = Some("id"))
    assert(!fs.exists(new Path(staging)))
    val expected = (0L until 100L).map(i => if (victimIds(i)) (i, s"R$i") else (i, s"v$i")).toSet
    assert(content(dir) === expected)
  }

  test("merge after a torn whole-table swap recovers the table first") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(50), dir, "id", initialFiles = 2)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crashed compact: manifest published, every live file hidden, the
    // compacted replacement not yet published
    val live = snapshot(dir).keys.toSeq
    spark.read.parquet(dir).coalesce(1).write.parquet(dir + "_fmerge")
    val out = fs.create(new Path(dir + "_fmerge", "_touched"), true)
    out.write(live.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    live.foreach(n => assert(fs.rename(new Path(dir, n), new Path(dir, "_old_" + n))))
    // the next merge must roll the table forward, NOT initial-load the batch
    FileMerge.mergeFileGranular(spark, Seq((5L, "up")).toDF("id", "v"), dir, "id")
    val expected = (0L until 50L).map(i => if (i == 5L) (i, "up") else (i, s"v$i")).toSet
    assert(content(dir) === expected)
  }

  test("a replayed appendStaged after compact writes nothing") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(20), dir, "id", initialFiles = 2)
    val batch = (100L until 110L).map(i => (i, s"v$i")).toDF("id", "v")
    assert(FileMerge.appendStaged(spark, batch, dir, "id", files = 1, commitId = Some("b1")))
    graft.sources.Lake.compact(spark, dir, targetFileBytes = 4096, clusterBy = Some("id"))
    assert(!FileMerge.appendStaged(spark, batch, dir, "id", files = 1, commitId = Some("b1")))
    assert(spark.read.parquet(dir).count() == 30)
  }

  test("clustered compaction refuses a Hive-partitioned layout") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(dir)
    val err = intercept[IllegalArgumentException] {
      graft.sources.Lake.compact(spark, dir, clusterBy = Some("id"))
    }
    assert(err.getMessage.contains("Hive-partitioned"))
  }

  test("every whole-table rewriter repairs a torn file-merge commit first") {
    // the cross-writer invariant: upsertBatch (streaming) and compact
    // both read-then-rewrite; over a torn file-merge commit both must
    // roll it FORWARD, not bake the torn view in
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(100), dir, "id", initialFiles = 2)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = snapshot(dir).keys.head
    val victimIds = spark.read.parquet(s"$dir/$victim").select("id").as[Long].collect().toSet
    val staging = dir + "_fmerge"
    spark.read.parquet(s"$dir/$victim").withColumn("v", concat(lit("R"), col("id")))
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val out = fs.create(new Path(staging, "_touched"), true)
    out.write((victim + "\n").getBytes("UTF-8")); out.close()
    assert(fs.rename(new Path(dir, victim), new Path(dir, "_old_" + victim)))

    graft.streaming.Streams.upsertBatch(
      spark, Seq((1000L, "new")).toDF("id", "v"), "id", dir, batchId = 0L)
    val expected = (0L until 100L)
      .map(i => if (victimIds(i)) (i, s"R$i") else (i, s"v$i")).toSet + ((1000L, "new"))
    assert(content(dir) === expected)
    assert(!fs.exists(new Path(staging)))
  }

  test("partition-pruned merge repairs a torn whole-table swap first") {
    val dir = tmp()
    val t0 = Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "p")
    Incremental.mergePartitionPruned(spark, t0, dir, "id", "p")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crashed partitioned compact: manifest published, live p=p1 moved
    // aside, no staged partition published yet
    spark.read.parquet(dir).repartition(1).write.partitionBy("p").parquet(dir + "_fmerge")
    fs.create(new Path(dir + "_fmerge", "_touched"), true).close()
    assert(fs.rename(new Path(dir, "p=p1"), new Path(dir, "_old_p=p1")))
    Incremental.mergePartitionPruned(
      spark, Seq((2L, "b2", "p2")).toDF("id", "v", "p"), dir, "id", "p")
    val rows = spark.read.parquet(dir).select("id", "v", "p")
      .as[(Long, String, String)].collect().toSet
    assert(rows === Set((1L, "a", "p1"), (2L, "b2", "p2")))
  }

  test("schema evolution: batch adds a column; old rows read NULL; untouched files byte-identical") {
    val t = tmp()
    FileMerge.mergeFileGranular(spark, base(200), t, "id", initialFiles = 8)
    val before = snapshot(t)
    // low-id updates + one pure insert, all carrying a NEW column
    val batch = Seq((1L, "v1x", "w1"), (3L, "v3x", "w3"), (500L, "v500", "w500"))
      .toDF("id", "v", "w")
    FileMerge.mergeFileGranular(spark, batch, t, "id")
    val out = Incremental.readEvolved(spark, t)
    assert(out.columns.sorted.toSeq == Seq("id", "v", "w"))
    val got = out.select("id", "v", "w").as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 201)
    assert(got(1L) == (("v1x", Some("w1"))) && got(500L) == (("v500", Some("w500"))))
    // rows from pre-evolution files surface the new column as NULL
    assert(got(0L) == (("v0", None)) && got(199L) == (("v199", None)))
    // files the batch's key range missed were never rewritten
    val after = snapshot(t)
    val survived = before.count { case (n, s) => after.get(n).contains(s) }
    assert(survived >= 6, s"only $survived of ${before.size} files survived evolution")
    // a LATER batch WITHOUT the evolved column must not drop it
    FileMerge.mergeFileGranular(spark, Seq((2L, "v2y")).toDF("id", "v"), t, "id")
    val again = Incremental.readEvolved(spark, t)
      .select("id", "v", "w").as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again(2L) == (("v2y", None)) && again(1L) == (("v1x", Some("w1"))))
  }

  test("a key inside overlapping ranges after appendStaged touches every covering file") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, (0L until 100L by 2).map(i => (i, s"v$i")).toDF("id", "v"),
      dir, "id", initialFiles = 2)
    // odd keys appended as one file whose range spans both even files
    assert(FileMerge.appendStaged(spark, (1L until 100L by 2).map(i => (i, s"v$i")).toDF("id", "v"),
      dir, "id", files = 1))
    val ranges = FileMerge.fileRanges(spark, dir, "id")
    val covering = ranges.filter(r => r.lo <= 61L && r.hi >= 61L).map(_.file)
    assert(covering.size == 2, s"61 should lie in two files' ranges: $ranges")
    val before = snapshot(dir)
    FileMerge.mergeFileGranular(spark, Seq((61L, "up")).toDF("id", "v"), dir, "id")
    val after = snapshot(dir)
    covering.foreach(f => assert(!after.contains(f), s"covering file $f not touched"))
    ranges.map(_.file).filterNot(covering.contains).foreach(f => assert(after.get(f) == before.get(f)))
    val ids = spark.read.parquet(dir).select("id").as[Long].collect()
    assert(ids.length == 100 && ids.distinct.length == 100, "a key lives in two files")
    assert(content(dir)((61L, "up")))
  }

  test("a stat-less file is always touched") {
    val dir = tmp()
    FileMerge.mergeFileGranular(spark, base(100), dir, "id", initialFiles = 2)
    (200L until 210L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(dir)
    val statless = FileMerge.fileRanges(spark, dir, "id").filterNot(_.known).map(_.file)
    assert(statless.size == 1)
    val before = snapshot(dir)
    // 205 lives in the stat-less file; 1000 lies in no file's range
    FileMerge.mergeFileGranular(spark, Seq((205L, "up"), (1000L, "x")).toDF("id", "v"), dir, "id")
    val after = snapshot(dir)
    assert(!after.contains(statless.head), "the stat-less file was not touched")
    assert(before.keySet.filterNot(_ == statless.head).forall(f => after.get(f) == before.get(f)))
    assert(content(dir) == ((0L until 100L) ++ (200L until 210L)).map(i =>
      (i, if (i == 205L) "up" else s"v$i")).toSet + ((1000L, "x")))
  }

  test("a batch without an evolved column keeps it across evolved and old touched files") {
    val t = tmp()
    FileMerge.mergeFileGranular(spark, base(200), t, "id", initialFiles = 8)
    FileMerge.mergeFileGranular(spark, Seq((1L, "v1x", "w1")).toDF("id", "v", "w"), t, "id")
    val schemas = FileMerge.footerRanges(spark, FileMerge.snapshot(spark, t), "id")
    def hasW(key: Long) = schemas.filter(r => r.lo <= key && r.hi >= key)
      .forall(_.schema.contains("\"w\""))
    // key 2 lies in the evolved file, key 199 in an old one
    assert(hasW(2L) && !hasW(199L))
    FileMerge.mergeFileGranular(spark, Seq((2L, "v2y"), (199L, "v199y")).toDF("id", "v"), t, "id")
    val got = Incremental.readEvolved(spark, t)
      .select("id", "v", "w").as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 200)
    assert(got(1L) == (("v1x", Some("w1"))), "the evolved column was dropped")
    assert(got(2L) == (("v2y", None)) && got(199L) == (("v199y", None)) && got(0L) == (("v0", None)))
  }

  test("footer schemas merge to what mergeSchema infers, with or without Spark row metadata") {
    val t = tmp()
    FileMerge.mergeFileGranular(spark, base(100), t, "id", initialFiles = 2)
    FileMerge.mergeFileGranular(spark, Seq((1L, "v1x", "w1")).toDF("id", "v", "w"), t, "id")
    val written = FileMerge.footerRanges(spark, FileMerge.snapshot(spark, t), "id")
    // a file another engine wrote carries no Spark row metadata
    val foreign = FileMerge.footers(spark, Seq(s"$sf/orders.parquet"), Some("o_orderkey"), strict = false)
      .collect().toSeq
    assert(written.forall(_.schema.startsWith("{")) && !foreign.head.schema.startsWith("{"))
    def fields(s: org.apache.spark.sql.types.StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    val sb = org.apache.spark.sql.graftbridge.SchemaBridge
    assert(fields(sb.merge(spark, written.map(_.schema))) ==
      fields(Incremental.readEvolved(spark, t).schema))
    assert(fields(sb.merge(spark, foreign.map(_.schema))) ==
      fields(Incremental.readEvolved(spark, s"$sf/orders.parquet").schema))
  }

  test("readTable types a table as inference does; without row metadata too; empty still fails") {
    def typedAsInference(path: String): Unit = {
      val snap = FileMerge.snapshot(spark, path)
      assert(FileMerge.readTable(spark, snap).schema == spark.read.parquet(snap.paths: _*).schema, path)
    }
    val t = tmp()
    FileMerge.mergeFileGranular(spark, base(100), t, "id", initialFiles = 2)
    typedAsInference(t)
    // evolved: the files' footers disagree, and inference reads the first
    FileMerge.mergeFileGranular(spark, Seq((1L, "v1x", "w1")).toDF("id", "v", "w"), t, "id")
    typedAsInference(t)
    // a file another engine wrote carries no Spark row metadata
    typedAsInference(s"$sf/orders.parquet")
    // no data files: inference fails, and so does the reader, alike
    val empty = new Path(tmp())
    empty.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(empty)
    val want = intercept[Exception](spark.read.parquet(empty.toString))
    val got = intercept[Exception](FileMerge.readTable(spark, FileMerge.snapshot(spark, empty.toString)))
    assert(got.getClass == want.getClass && got.getMessage == want.getMessage)
  }

  test("stat-less or non-integral inputs are rejected or handled conservatively") {
    val dir = tmp()
    val err = intercept[IllegalArgumentException] {
      FileMerge.mergeFileGranular(
        spark, Seq(("a", 1L)).toDF("k", "v"), dir, "k")
    }
    assert(err.getMessage.contains("integral"))
  }
}
