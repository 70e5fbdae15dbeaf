package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.{Dag, Recon, Runner}
import graft.plans.Runner.{Job, JobRunRecord}
import graft.sources.Lake

/** Full-lake ingestion driver, re-expressing E1
  * (`driver_ingestions.py` / `README.md:130-203`) in one process:
  *
  *   1. infra bootstrap — local dirs + session catalog stand in for the
  *      bucket / Glue database / crawler (O9, `infra_utils.py:15-128`);
  *   2. job registry — named in-JVM `SparkSession => Unit` procedures,
  *      each ending in its lake write, instead of one Glue application
  *      per script;
  *   3. dependency layering from the dependency CSV (O1);
  *   4. layered execution, each layer in ≤`maxBatchSize` parallel batches
  *      (O2/O3), metadata appended per batch (O6);
  *   5. reconciliation report written to the lake (O7).
  *
  * The Glue-API polling layer collapses into `Future` completion; the
  * crawler collapses into session-catalog registration on write.
  */
object LakeDriver {

  final case class Config(
      root: String, // stands in for s3://bucket
      dependencyCsv: Option[String] = None,
      jobPrefix: String = "",
      maxBatchSize: Int = 25, // driver_ingestions.py:28
      metaSubdir: String = "operational_metadata",
      database: Option[String] = None // catalog database to bootstrap (infra_utils.py:41-53)
  )

  final case class RunResult(
      records: Seq[JobRunRecord],
      recon: DataFrame,
      layers: Map[Int, Seq[String]]
  )

  /** Ingestion job helper: read → optional SQL filtration → lake write
    * (the E2 per-table pipeline shape of `table_jobs/nis_policies.py`).
    */
  def ingestJob(
      read: SparkSession => DataFrame,
      tablePath: String,
      root: String,
      filterSql: Option[String] = None,
      viewName: Option[String] = None,
      database: Option[String] = None
  ): Job = { spark =>
    val df = read(spark)
    val filtered = filterSql match {
      case Some(q) =>
        // serialized: this job may run beside 24 others on one session
        val v = viewName.getOrElse(Lake.tableNameFromPath(tablePath))
        Lake.withScopedView(spark, v, df)(spark.sql(q))
      case None => df
    }
    Lake.writeToDatalake(spark, filtered, root, tablePath, database)
  }

  def run(spark: SparkSession, config: Config, registry: Map[String, Job]): RunResult = {
    // 1. infra bootstrap: the "bucket" + the catalog database the
    //    reference's infra step creates (O9, infra_utils.py:41-53)
    val lakeDir = new Path(s"${config.root}/datalake")
    lakeDir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(lakeDir)
    config.database.foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`"))

    // 3. DAG layers (single layer 0 with every job when no CSV given)
    val layers: Map[Int, Seq[String]] = config.dependencyCsv match {
      case Some(csv) => Dag.layeredJobsFromCsv(spark, csv, registry.keySet, config.jobPrefix)
      case None      => Map(0 -> registry.keys.toSeq.sorted)
    }

    // 4. layered execution + operational metadata per batch
    val metaPath = s"${config.root}/${config.metaSubdir}"
    val records = Runner.runLayers(
      spark,
      layers,
      registry,
      maxBatchSize = config.maxBatchSize,
      record = recs => plans.MetaStore.append(spark, recs, metaPath)
    )

    // 5. reconciliation over everything the run produced
    val recon = reconReport(spark, config)
    recon.write.mode("overwrite").parquet(s"${config.root}/recon_report")
    RunResult(records, recon, layers)
  }

  /** Recon for all tables under the lake root: lake counts, sizes, and
    * last-success ingestion times joined on TableName. The sources are
    * the lake inputs themselves, so source counts equal lake counts; a
    * JDBC-source variant counts its source frames and passes both sides
    * to `Recon.countReport`.
    *
    * Counts are one footer scan over every table's committed data files
    * (`Recon.lakeRowCounts`), and the metastore is read typed from a
    * footer, so recon infers no schema and reads no data page but the
    * metastore's. Its SUCCESS rows come to the driver in one scan, and
    * the times, the sizes and the joins are folded there: the report is
    * a local relation, and its write is recon's only other job.
    *
    * Table discovery: a table is the nearest non-partition (`k=v`)
    * ancestor directory of a parquet file; a writer's `<table>_fmerge`
    * staging is excluded. Names are lowercased so they join
    * the metastore's lowercased job-derived names (`Dag.jobNameFor`) —
    * mixed-case tablePaths would otherwise recon with NULL times.
    */
  private def reconReport(spark: SparkSession, config: Config): DataFrame = {
    val root = new Path(s"${config.root}/datalake")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lakeDir = fs.makeQualified(root)
    def tableDirOf(file: Path): Option[Path] = {
      var d = file.getParent
      while (d != null && d != lakeDir && d.getName.contains("=")) d = d.getParent
      if (d != null && d != lakeDir && !d.getName.endsWith("_fmerge")) Some(d) else None
    }
    val tables: Map[String, String] =
      if (!fs.exists(lakeDir)) Map.empty
      else {
        val files = fs.listFiles(lakeDir, true)
        Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
          .filter(_.getName.endsWith(".parquet"))
          .flatMap(tableDirOf(_))
          .map(d => d.getName.toLowerCase -> d.toString)
          .toMap
      }
    val counts = Recon.countReport(
      spark, Recon.lakeRowCounts(spark, tables).map { case (n, c) => n -> (c, c) })
    val sizes = Recon.sizeReport(spark, tables)
    val metaPath = s"${config.root}/${config.metaSubdir}"
    val times =
      if (fs.exists(new Path(metaPath)))
        Recon.ingestionTimeReport(plans.MetaStore.read(spark, metaPath), config.jobPrefix)
      else {
        import spark.implicits._
        Seq.empty[(String, Int)].toDF("TableName", "IngestionTime")
      }
    Recon.reconReport(counts, times, sizes)
  }
}
