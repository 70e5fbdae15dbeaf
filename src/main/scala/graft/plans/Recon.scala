package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.FileMerge

/** Reconciliation report, re-expressing `reporting_utils.py:31-89`:
  * per-table (source row count, lake row count, last-success ingestion
  * time, byte size), joined on `TableName` (J3) into one stakeholder
  * sign-off table. A Hadoop filesystem walk stands in for S3 prefix walks,
  * and lake row counts come from parquet footers.
  */
object Recon {

  private val CountSchema = StructType(Seq(
    StructField("OnpremTableName", StringType), StructField("OnpremRowCounts", LongType),
    StructField("TableName", StringType), StructField("TableRowCounts", LongType)))

  /** Source-vs-lake row counts (`reporting_utils.py:63-74`), counted by
    * the caller (name -> (source, lake)) and lifted into a report on the
    * driver, sorted by table name (S9). Every count column is nullable,
    * as the sum of a distributed count is.
    */
  def countReport(spark: SparkSession, counts: Map[String, (Long, Long)]): DataFrame = {
    val rows = counts.toSeq.sortBy(_._1).map { case (t, (src, lake)) => Row(t, src, t, lake) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), CountSchema)
  }

  /** Exact row counts of the tables at `tableDirs` from their parquet
    * footers: ONE distributed footer scan over the committed data files
    * of every table (none when no table has a data file), summed per
    * table on the driver. No data page is read and no schema inferred —
    * the reference's per-table `count()`, answered from file metadata.
    * A table is what [[FileMerge.snapshot]] resolves: its top-level data
    * files, and every file under its `k=v` partition directories, with
    * `_`- and `.`-named entries skipped below them as Spark's file index
    * skips them. A table without data files counts 0.
    */
  def lakeRowCounts(spark: SparkSession, tableDirs: Map[String, String]): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def files(dir: String): Seq[String] = {
      val table = FileMerge.snapshot(spark, dir)
      val fs = new Path(dir).getFileSystem(conf)
      def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
      def under(st: FileStatus): Seq[FileStatus] =
        if (st.isFile) Seq(st)
        else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(under)
      val partitions = table.entries.filter(st => st.isDirectory && st.getPath.getName.contains("="))
      (table.dataFiles ++ partitions.flatMap(under)).map(_.getPath.toString)
    }
    val byTable = tableDirs.map { case (name, dir) => name -> files(dir) }
    val all = byTable.values.flatten.toSeq
    val rows =
      if (all.isEmpty) Map.empty[String, Long]
      else FileMerge.footers(spark, all, None, strict = false).map(r => r.file -> r.rows)
        .collect().toMap
    byTable.map { case (name, paths) => name -> paths.map(rows).sum }
  }

  /** Per-table byte size: sum of file sizes under the table's directory
    * (`reporting_utils.py:31-42`'s S3 prefix sum), through the path's
    * Hadoop filesystem. A checksummed filesystem (the local one) hides
    * its `.crc` sidecars, so a local lake sums the bytes an S3 prefix
    * holds. A missing directory reports 0.
    */
  def sizeReport(spark: SparkSession, tableDirs: Map[String, String]): DataFrame = {
    import spark.implicits._
    def bytes(dir: String): Long = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    tableDirs.toSeq
      .map { case (name, dir) => (name, bytes(dir)) }
      .sortBy(_._1)
      .toDF("TableName", "TableSize")
  }

  /** Last-success execution time per table from the operational metastore
    * (`reporting_utils.py:45-60`): duration of the most recent SUCCESS run
    * of each table's job, the run with the greatest (start time,
    * duration), nulls lowest, as Spark's `max` over that struct orders
    * it. The job→table mapping is the reference's prefix strip
    * (`reporting_utils.py:51`). The metastore holds a few rows per run:
    * its SUCCESS rows come to the driver in one scan and are folded
    * there, and the report is a local relation `(TableName,
    * IngestionTime)`, both nullable, sorted by table name.
    */
  def ingestionTimeReport(meta: DataFrame, jobPrefix: String = ""): DataFrame = {
    val runs = meta
      .where(col("job_status") === "SUCCESS")
      .select(col("job_name"), unix_micros(col("job_start_time")), col("job_duration"))
    def opt[T](r: Row, i: Int): Option[T] = if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    val last = Ordering.by((r: Row) => (opt[Long](r, 1), opt[Int](r, 2)))
    val rows = runs.collect().toSeq.groupBy(r => Option(r.getString(0))).toSeq.map {
      case (job, rs) =>
        Row(job.map(j => if (j.startsWith(jobPrefix)) j.substring(jobPrefix.length) else j).orNull,
          rs.max(last).get(2))
    }.sortBy(r => Option(r.getString(0)))
    val schema = StructType(Seq(StructField("TableName", StringType),
      StructField("IngestionTime", runs.schema("job_duration").dataType)))
    meta.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Full recon: counts ⋈ times ⋈ sizes on `TableName`
    * (`reporting_utils.py:77-89`), written parquet-overwrite by callers.
    * Each input holds about one row per table, so each comes to the
    * driver (no job for a local relation) and the two left joins run
    * there: a local relation with the rows, the column order and the
    * types of Spark's `join(…, Seq("TableName"), "left")`, in `counts`'
    * row order.
    */
  def reconReport(counts: DataFrame, times: DataFrame, sizes: DataFrame): DataFrame = {
    val (schema, rows) =
      Seq(times, sizes).map(local).foldLeft(local(counts))(leftJoinOnTableName)
    counts.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private type Local = (StructType, Seq[Row])

  private def local(d: DataFrame): Local = (d.schema, d.collect().toSeq)

  /** `l` left-joined with `r` on `TableName` as Spark's using-join: the
    * key, then `l`'s other columns, then `r`'s, made nullable; a null
    * key matches nothing; one row per match, or one null-padded row.
    */
  private def leftJoinOnTableName(l: Local, r: Local): Local = {
    val (lk, rk) = (l._1.fieldIndex("TableName"), r._1.fieldIndex("TableName"))
    val lRest = l._1.indices.filter(_ != lk)
    val rRest = r._1.indices.filter(_ != rk)
    val byKey = r._2.filterNot(_.isNullAt(rk)).groupBy(_.get(rk))
    val schema = StructType(
      l._1(lk) +: (lRest.map(l._1(_)) ++ rRest.map(r._1(_).copy(nullable = true))))
    val rows = l._2.flatMap { row =>
      val left = row.get(lk) +: lRest.map(row.get)
      val matches = if (row.isNullAt(lk)) Nil else byKey.getOrElse(row.get(lk), Nil)
      if (matches.isEmpty) Seq(Row.fromSeq(left ++ rRest.map(_ => null)))
      else matches.map(m => Row.fromSeq(left ++ rRest.map(m.get)))
    }
    (schema, rows)
  }
}
