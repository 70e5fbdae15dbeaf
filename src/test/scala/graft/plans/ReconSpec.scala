package graft.plans

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class ReconSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("count report pairs source and lake counts per table (O7)") {
    val src = Seq(1, 2, 3).toDF("x")
    val lake = Seq(1, 2, 3).toDF("x")
    val rep = Recon.countReport(spark, Map("t1" -> (src, lake))).collect()
    assert(rep.length == 1)
    val r = rep.head
    assert(r.getAs[String]("OnpremTableName") == "t1" && r.getAs[Long]("OnpremRowCounts") == 3
      && r.getAs[Long]("TableRowCounts") == 3)
  }

  test("count report is one distributed job and keeps empty tables") {
    val src = Seq(1, 2, 3).toDF("x")
    val lake = Seq(1, 2).toDF("x")
    val empty = Seq.empty[Int].toDF("x")
    val rep = Recon
      .countReport(spark, Map("t1" -> (src, lake), "t0" -> (empty, empty)))
      .collect()
      .map(r => (r.getAs[String]("TableName"), r.getAs[Long]("OnpremRowCounts"),
        r.getAs[Long]("TableRowCounts")))
    assert(rep.toSeq == Seq(("t0", 0L, 0L), ("t1", 3L, 2L)))
    assert(Recon.countReport(spark, Map.empty).collect().isEmpty)
  }

  test("size report sums file bytes under each table dir") {
    val dir = Files.createTempDirectory("recon")
    Files.writeString(dir.resolve("f1"), "12345")
    Files.writeString(dir.resolve("f2"), "67")
    val rep = Recon.sizeReport(spark, Map("t" -> dir.toString)).collect().head
    assert(rep.getAs[Long]("TableSize") == 7)
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
}
