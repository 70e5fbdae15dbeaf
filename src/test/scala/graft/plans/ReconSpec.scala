package graft.plans

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.FileMerge

class ReconSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("count report pairs source and lake counts per table (O7)") {
    val rep = Recon.countReport(spark, Map("t1" -> (3L, 3L))).collect()
    assert(rep.length == 1)
    val r = rep.head
    assert(r.getAs[String]("OnpremTableName") == "t1" && r.getAs[Long]("OnpremRowCounts") == 3
      && r.getAs[Long]("TableRowCounts") == 3)
  }

  test("count report is one distributed job and keeps empty tables") {
    val root = Files.createTempDirectory("recon_jobs").toString
    spark.range(0, 3).write.parquet(s"$root/t1")
    Seq.empty[Int].toDF("x").write.parquet(s"$root/t0")
    val tables = Map("t1" -> s"$root/t1", "t0" -> s"$root/t0")
    val (rep, jobs) = jobsOf {
      Recon.countReport(spark, Recon.lakeRowCounts(spark, tables).map { case (t, c) => t -> (c, c) })
        .collect()
        .map(r => (r.getAs[String]("TableName"), r.getAs[Long]("OnpremRowCounts"),
          r.getAs[Long]("TableRowCounts")))
    }
    assert(rep.toSeq == Seq(("t0", 0L, 0L), ("t1", 3L, 3L)))
    assert(jobs == 1, s"count report ran $jobs Spark jobs")
    assert(Recon.lakeRowCounts(spark, Map.empty).isEmpty)
    assert(Recon.countReport(spark, Map.empty).collect().isEmpty)
  }

  test("count report lifts per-table counts on the driver, sorted, keeping empty tables") {
    val report = Recon.countReport(spark, Map("t1" -> (3L, 2L), "t0" -> (0L, 0L)))
    val rep = report.collect()
      .map(r => (r.getAs[String]("TableName"), r.getAs[Long]("OnpremRowCounts"),
        r.getAs[Long]("TableRowCounts")))
    assert(rep.toSeq == Seq(("t0", 0L, 0L), ("t1", 3L, 2L)))
    // the schema a distributed count-and-sum report has
    assert(report.schema == StructType(Seq(
      StructField("OnpremTableName", StringType), StructField("OnpremRowCounts", LongType),
      StructField("TableName", StringType), StructField("TableRowCounts", LongType))))
    assert(Recon.countReport(spark, Map.empty).collect().isEmpty)
  }

  test("footer counts equal a parquet read: multi-file, empty, partitioned, beside residue") {
    val root = Files.createTempDirectory("recon_counts").toString
    spark.range(0, 1000).repartition(4).write.parquet(s"$root/multi")
    Seq.empty[Int].toDF("x").write.parquet(s"$root/empty")
    spark.range(0, 100).withColumn("p", col("id") % 3).withColumn("q", col("id") % 2)
      .write.partitionBy("p", "q").parquet(s"$root/part")
    spark.range(0, 50).repartition(2).write.parquet(s"$root/res")
    // a writer's uncommitted staging beside the table, a commit's aside in it
    spark.range(0, 7).write.parquet(s"$root/res_fmerge")
    val live = dataFiles(s"$root/res")
    Files.copy(live.head, live.head.resolveSibling("_old_" + live.head.getFileName))
    val tables = Seq("multi", "empty", "part", "res").map(t => t -> s"$root/$t").toMap
    assert(dataFiles(s"$root/multi").size == 4 && dataFiles(s"$root/empty").size == 1)

    val counts = Recon.lakeRowCounts(spark, tables)
    tables.foreach { case (t, dir) =>
      assert(counts(t) == spark.read.parquet(dir).count(), t)
    }
    assert(counts("empty") == 0 && counts("part") == 100 && counts("res") == 50)
  }

  test("footer counts of a table caught mid-commit are its snapshot's") {
    val dir = Files.createTempDirectory("recon_torn").resolve("t").toString
    spark.range(0, 100).repartition(2).write.parquet(dir)
    // a published commit, nothing moved yet: one live file hidden, a
    // 30-row replacement staged
    val victim = dataFiles(dir).head.getFileName.toString
    spark.range(0, 30).coalesce(1).write.parquet(FileMerge.stagingPath(dir))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(FileMerge.stagingPath(dir), "_touched"), true)
    out.write((victim + "\n").getBytes("UTF-8"))
    out.close()

    val resolved = FileMerge.readTable(spark, dir).count()
    assert(resolved != spark.read.parquet(dir).count())
    assert(Recon.lakeRowCounts(spark, Map("t" -> dir)) == Map("t" -> resolved))
  }

  test("size report sums file bytes under each table dir") {
    val dir = Files.createTempDirectory("recon")
    Files.writeString(dir.resolve("f1"), "12345")
    Files.writeString(dir.resolve("f2"), "67")
    val rep = Recon.sizeReport(spark, Map("t" -> dir.toString)).collect().head
    assert(rep.getAs[Long]("TableSize") == 7)
    // a written table: its files' bytes, without the local checksum sidecars
    val table = dir.resolve("written").toString
    spark.range(0, 100).write.parquet(table)
    val files = Files.list(Paths.get(table)).iterator().asScala.toSeq
    assert(files.exists(_.getFileName.toString.endsWith(".crc")))
    assert(Recon.sizeReport(spark, Map("t" -> table)).collect().head.getAs[Long]("TableSize") ==
      files.filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size(_)).sum)
    assert(Recon.sizeReport(spark, Map("gone" -> "/nonexistent-xyz")).collect().head
      .getAs[Long]("TableSize") == 0)
  }

  test("ingestion time = duration of last SUCCESS run per job; full join on TableName") {
    val meta = Seq(
      ("nis_t1", "", "SUCCESS", ts(1000), ts(2000), 10),
      ("nis_t1", "", "SUCCESS", ts(5000), ts(9000), 40), // latest wins
      ("nis_t1", "", "FAILURE", ts(9000), ts(9500), 99),
      ("nis_t2", "", "FAILURE", ts(1000), ts(2000), 5)
    ).toDF("job_name", "job_args", "job_status", "job_start_time", "job_end_time", "job_duration")
    val times = Recon.ingestionTimeReport(meta, "nis_")
    val rows = times.collect().map(r => r.getAs[String]("TableName") -> r.getAs[Int]("IngestionTime"))
    assert(rows.toSeq == Seq("t1" -> 40)) // only SUCCESS rows contribute

    val counts = Seq(("t1", 3L, "t1", 3L))
      .toDF("OnpremTableName", "OnpremRowCounts", "TableName", "TableRowCounts")
    val sizes = Seq(("t1", 123L)).toDF("TableName", "TableSize")
    val rec = Recon.reconReport(counts, times, sizes).collect().head
    assert(rec.getAs[Int]("IngestionTime") == 40 && rec.getAs[Long]("TableSize") == 123L)
  }

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** The parquet part files directly under `dir`. */
  /** `body`'s result and the Spark jobs it started on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.recon") == tag) {
          n.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.recon", tag)
    try {
      val out = body
      ListenerBusProbe.drain(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty("graft.test.recon", null)
      sc.removeSparkListener(listener)
    }
  }

  private def dataFiles(dir: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
}
