package graft.plans

import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reconciliation report, re-expressing `reporting_utils.py:31-89`:
  * per-table (source row count, lake row count, last-success ingestion
  * time, byte size), joined on `TableName` (J3) into one stakeholder
  * sign-off table. A Hadoop filesystem walk stands in for S3 prefix walks.
  */
object Recon {

  /** Source-vs-lake row counts (`reporting_utils.py:63-74`) as ONE
    * distributed union-aggregate job: each table contributes zero-column
    * scans tagged with its name and side, a single groupBy sums both
    * sides. The naive per-table `src.count(); lake.count()` loop is 2N
    * serial Spark jobs — at 100 tables that is 200 scheduler round-trips
    * vs one. A seed row per table keeps empty tables in the report.
    */
  def countReport(
      spark: SparkSession,
      tables: Map[String, (DataFrame, DataFrame)] // name -> (source, lake)
  ): DataFrame = {
    import spark.implicits._
    val schema = Seq.empty[(String, Long, Long)].toDF("t", "src_n", "lake_n")
    if (tables.isEmpty)
      return schema.select(
        col("t").as("OnpremTableName"), col("src_n").as("OnpremRowCounts"),
        col("t").as("TableName"), col("lake_n").as("TableRowCounts"))
    val seed = tables.keys.toSeq.map(n => (n, 0L, 0L)).toDF("t", "src_n", "lake_n")
    val pieces = tables.toSeq.map { case (name, (src, lake)) =>
      src.select(lit(name).as("t"), lit(1L).as("src_n"), lit(0L).as("lake_n"))
        .unionByName(lake.select(lit(name).as("t"), lit(0L).as("src_n"), lit(1L).as("lake_n")))
    }
    (seed +: pieces)
      .reduce(_ unionByName _)
      .groupBy(col("t"))
      .agg(sum("src_n").as("src_cnt"), sum("lake_n").as("lake_cnt"))
      .select(
        col("t").as("OnpremTableName"), col("src_cnt").as("OnpremRowCounts"),
        col("t").as("TableName"), col("lake_cnt").as("TableRowCounts"))
      .orderBy("OnpremTableName")
  }

  /** Per-table byte size: sum of file sizes under the table's directory
    * (`reporting_utils.py:31-42`'s S3 prefix sum), through the path's
    * Hadoop filesystem. A checksummed local filesystem is read raw, so
    * its `.crc` sidecars count as stored bytes. A missing directory
    * reports 0.
    */
  def sizeReport(spark: SparkSession, tableDirs: Map[String, String]): DataFrame = {
    import spark.implicits._
    def bytes(dir: String): Long = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
        case c: ChecksumFileSystem => c.getRawFileSystem
        case f                     => f
      }
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    tableDirs.toSeq
      .map { case (name, dir) => (name, bytes(dir)) }
      .sortBy(_._1)
      .toDF("TableName", "TableSize")
  }

  /** Last-success execution time per table from the operational metastore
    * (`reporting_utils.py:45-60`): duration of the most recent SUCCESS run
    * of each table's job. The job→table mapping is the reference's prefix
    * strip (`reporting_utils.py:51`), kept as a codegen'd `regexp_replace`
    * rather than a UDF so Catalyst can still optimize through it.
    */
  def ingestionTimeReport(meta: DataFrame, jobPrefix: String = ""): DataFrame = {
    val toTable =
      if (jobPrefix.isEmpty) col("job_name")
      else regexp_replace(col("job_name"), "^" + java.util.regex.Pattern.quote(jobPrefix), "")
    meta
      .where(col("job_status") === "SUCCESS")
      .groupBy(col("job_name"))
      .agg(max(struct(col("job_start_time"), col("job_duration"))).as("last"))
      .select(toTable.as("TableName"), col("last.job_duration").as("IngestionTime"))
  }

  /** Full recon: counts ⋈ times ⋈ sizes on `TableName`
    * (`reporting_utils.py:77-89`), written parquet-overwrite by callers.
    */
  def reconReport(counts: DataFrame, times: DataFrame, sizes: DataFrame): DataFrame =
    counts.join(times, Seq("TableName"), "left").join(sizes, Seq("TableName"), "left")
}
