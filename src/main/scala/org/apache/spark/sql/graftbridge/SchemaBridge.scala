package org.apache.spark.sql.graftbridge

import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge into the two halves of Spark's `mergeSchema` inference that
  * are `private[sql]`: a parquet footer's Spark schema and the schema
  * merge. A caller that already holds a table's footers builds the
  * schema inference would, without inference's listing and footer job.
  */
object SchemaBridge {

  /** A footer's schema, neither parsed nor converted: the Spark schema
    * JSON that Spark's writer stores as row metadata, else the parquet
    * message type.
    */
  def footerSchema(meta: FileMetaData): String =
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .getOrElse(meta.getSchema.toString)

  /** `schemas` ([[footerSchema]]s) merged as `mergeSchema` merges
    * footers: each becomes a Spark schema (the JSON parsed, a message
    * type through Spark's converter under the session's settings), then
    * left to right with the session's case sensitivity, fields keeping
    * their first position, new fields appended, and a field with two
    * incompatible types failing.
    */
  def merge(spark: SparkSession, schemas: Seq[String]): StructType = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    lazy val converter = new ParquetToSparkSchemaConverter(conf)
    schemas
      .map { s =>
        if (s.startsWith("{")) DataType.fromJson(s).asInstanceOf[StructType]
        else converter.convert(MessageTypeParser.parseMessageType(s))
      }
      .reduceLeft(_.merge(_, conf.caseSensitiveAnalysis))
  }
}
