package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Dependency-layered job DAG, re-expressing `dependency_utils.py:19-34`:
  * a dependency CSV (`Table, Parent Table, Layer`) becomes a map of layer
  * number → job names, run lowest layer first. Only rows whose job exists
  * in the registry survive (the reference's membership filter — with its
  * `utils.py:405` tautology bug fixed: we test against the registry).
  */
object Dag {

  final case class Dependency(table: String, parent: Option[String], layer: Int)

  /** Job name = prefix + lowercased table name (`dependency_utils.py:26-28`). */
  def jobNameFor(table: String, prefix: String): String =
    prefix + table.toLowerCase

  private def dependenciesFrom(rows: Seq[Row]): Seq[Dependency] =
    rows.map { r =>
      // CSV rows with missing cells arrive as nulls — fail with a
      // row-identifying message, not an NPE deep inside the driver
      def cell(name: String): Option[String] =
        Option(r.getAs[String](name)).map(_.trim).filter(_.nonEmpty)
      val table = cell("Table").getOrElse(
        throw new IllegalArgumentException(s"dependency CSV row missing Table: $r"))
      val layer = cell("Layer").getOrElse(
        throw new IllegalArgumentException(s"dependency CSV row missing Layer: $r"))
      require(layer.forall(_.isDigit), s"dependency CSV row has non-numeric Layer '$layer': $r")
      Dependency(table, cell("Parent Table"), layer.toInt)
    }

  /** Layer → ordered distinct job names, keeping only registered jobs. */
  def layeredJobs(
      deps: Seq[Dependency],
      registeredJobs: Set[String],
      prefix: String = ""
  ): Map[Int, Seq[String]] =
    deps
      .map(d => d.layer -> jobNameFor(d.table, prefix))
      .filter { case (_, j) => registeredJobs.contains(j) }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).distinct)
      .toMap

  def layeredJobsFromCsv(
      spark: SparkSession,
      csvPath: String,
      registeredJobs: Set[String],
      prefix: String = ""
  ): Map[Int, Seq[String]] =
    layeredJobs(dependenciesFrom(csvRows(spark, csvPath)), registeredJobs, prefix)

  /** The rows of the CSV file at `csvPath` as `spark.read.option("header",
    * "true").csv` returns them, read on the driver through the path's
    * Hadoop filesystem, so a dozen-line file costs no Spark job. Each
    * line is tokenized by the parser settings of Spark's CSV source
    * (`,` separator, `"` quote, `\` escape); blank lines are skipped; the
    * first line names the columns (an empty name becomes `_c<i>`, a
    * case-insensitive duplicate gets its index appended); an empty cell,
    * or one past a short row's end, is null; cells past the header's
    * width are dropped.
    */
  private def csvRows(spark: SparkSession, csvPath: String): Seq[Row] = {
    val path = new Path(csvPath)
    val in = path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val options = new CSVOptions(
      Map("header" -> "true"), false, spark.sessionState.conf.sessionLocalTimeZone)
    val parser = new CsvParser(options.asParserSettings)
    val lines = text.split("\r\n|\n|\r").toSeq.filter(_.trim.nonEmpty)
    if (lines.isEmpty) return Nil
    def cells(line: String): Array[String] =
      parser.parseLine(line).map(c => if (c == null || c.isEmpty) null else c)
    val header = cells(lines.head)
    val duplicates = header.filter(_ != null).groupBy(_.toLowerCase).filter(_._2.length > 1).keySet
    val schema = StructType(header.zipWithIndex.map {
      case (null, i)                                   => StructField(s"_c$i", StringType)
      case (h, i) if duplicates.contains(h.toLowerCase) => StructField(s"$h$i", StringType)
      case (h, _)                                      => StructField(h, StringType)
    })
    lines.tail.map { line =>
      val c = cells(line)
      new GenericRowWithSchema(
        Array.tabulate[Any](schema.length)(i => if (i < c.length) c(i) else null), schema)
    }
  }

  /** Parent-before-child validation: every parent's layer must be strictly
    * below its child's. Returns the violating (child, parent) pairs.
    */
  def layerViolations(deps: Seq[Dependency]): Seq[(String, String)] = {
    val layerOf = deps.map(d => d.table -> d.layer).toMap
    for {
      d <- deps
      p <- d.parent.toSeq
      pl <- layerOf.get(p).toSeq
      if pl >= d.layer
    } yield (d.table, p)
  }

  /** O2 — contiguous batches of at most `maxBatchSize` jobs
    * (`utils.py:45-53`; 25 at `driver_ingestions.py:28`).
    */
  def batches(jobs: Seq[String], maxBatchSize: Int): Seq[Seq[String]] = {
    require(maxBatchSize > 0, "maxBatchSize must be positive")
    jobs.grouped(maxBatchSize).toSeq
  }
}
