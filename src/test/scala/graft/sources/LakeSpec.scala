package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class LakeSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String = Files.createTempDirectory("lake").toString

  test("tableNameFromPath takes the last segment (utils.py:123)") {
    assert(Lake.tableNameFromPath("a/b/c") == "c")
    assert(Lake.tableNameFromPath("solo") == "solo")
  }

  test("DDL parsing: table name and column list (utils.py:144-145)") {
    val ddl = "CREATE TABLE lookup_calendar (`Date - Date Format` DATE, Year INT, Rate FLOAT)"
    assert(Lake.tableNameFromDdl(ddl) == "lookup_calendar")
    assert(Lake.columnListFromDdl(ddl).contains("Year INT"))
  }

  test("CSV with DDL-declared schema keeps declared types (S5)") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/cal.csv"), "d,Year,Rate\n2024-01-02,2024,1.5\n")
    val df = Lake.readCsvDdl(spark, "CREATE TABLE cal (d DATE, Year INT, Rate FLOAT)", s"$dir/cal.csv")
    assert(df.schema.map(_.dataType.typeName) == Seq("date", "integer", "float"))
    assert(df.count() == 1)
  }

  test("CSV inferred schema (S4) + ingest pipeline sanitizes and syncs catalog (K6/O8)") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"), "col one,b;ad\n1,x\n2,y\n")
    val root = tmp()
    Lake.ingestCsvToDatalake(spark, s"$dir/in.csv", root, "nested/mytable")
    val back = spark.read.parquet(s"$root/datalake/nested/mytable")
    assert(back.columns.toSeq == Seq("col_one", "bad"))
    assert(back.count() == 2)
    // crawler-replacement: the table is queryable by name
    assert(spark.sql("SELECT count(*) FROM mytable").head().getLong(0) == 2)
  }

  test("compaction rewrites many small files into few, preserving rows") {
    import spark.implicits._
    val dir = tmp() + "/frag"
    // 8 single-row appends → at least 8 data files
    (1 to 8).foreach(i => Seq((i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir))
    def dataFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles() >= 8)
    val before = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    Lake.compact(spark, dir, targetFileBytes = 1024L * 1024)
    assert(dataFiles() == 1) // tiny table → one file
    val after = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(after.toSeq == before.toSeq)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + "_fmerge")))
    assert(!new java.io.File(dir).list().exists(_.startsWith("_old_")))
  }

  test("compaction carries a streaming-upsert ledger across the swap") {
    import spark.implicits._
    val dir = tmp() + "/ledgered"
    (1 to 4).foreach(i => Seq((i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir))
    val ledger = java.nio.file.Paths.get(dir, "_commits")
    java.nio.file.Files.write(ledger, "floor:5\n".getBytes("UTF-8"))
    Lake.compact(spark, dir, targetFileBytes = 1024L * 1024)
    // the whole-dir swap must not drop the exactly-once ledger
    assert(java.nio.file.Files.exists(ledger))
    assert(new String(java.nio.file.Files.readAllBytes(ledger), "UTF-8") == "floor:5\n")
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("compaction of a partitioned table preserves the partition layout") {
    import spark.implicits._
    val dir = tmp() + "/frag_part"
    (1 to 4).foreach(i => Seq((i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par").coalesce(1).write.partitionBy("par").mode("append").parquet(dir))
    Lake.compact(spark, dir, targetFileBytes = 1024L * 1024, partitionCols = Seq("par"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/par=even")))
    assert(spark.read.parquet(dir).count() == 4)
    // partition pruning still works on the compacted layout
    val plan = spark.read.parquet(dir).where($"par" === "even")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(par"), plan.take(400))
  }

  test("schema evolution: merged-schema read unions appended columns") {
    import spark.implicits._
    val dir = tmp() + "/evolving"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val merged = Lake.readParquetMergedSchema(spark, dir)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old file → NULL
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
  }

  test("catalog-table sync is visible beyond the session (crawler parity, O8)") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/cat_tbl"
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    spark.sql("DROP TABLE IF EXISTS `graft_cat`.`cat_tbl`")
    val fq = Lake.syncCatalogTable(spark, dir, "graft_cat")
    assert(fq == "`graft_cat`.`cat_tbl`")
    // external-catalog entry: a NEW session sees it (a temp view would not)
    val other = spark.newSession()
    assert(other.table(fq).count() == 3)
    assert(!other.catalog.tableExists("cat_tbl")) // the temp view stayed session-local
    // re-sync after a data change refreshes, not errors
    Seq(4, 5).toDF("x").write.mode("overwrite").parquet(dir)
    Lake.syncCatalogTable(spark, dir, "graft_cat")
    assert(spark.table(fq).count() == 2)
    // re-sync after SCHEMA evolution: the catalog entry tracks new columns
    Seq((6, "s")).toDF("x", "extra").write.mode("overwrite").parquet(dir)
    Lake.syncCatalogTable(spark, dir, "graft_cat")
    assert(spark.table(fq).columns.toSet == Set("x", "extra"))
  }

  test("json-lines scan: inferred + declared schema, corrupt rows captured not fatal") {
    import spark.implicits._
    val dir = tmp()
    val f = java.nio.file.Paths.get(dir, "d.json")
    java.nio.file.Files.write(f,
      java.util.Arrays.asList(
        """{"id": 1, "v": "a"}""",
        """{"id": 2, "v": "b"}""",
        """{"id": oops not json""",
        """{"id": 3, "v": "c"}"""))

    // Spark disallows queries referencing ONLY the corrupt-record column
    // on the raw file scan — cache the parsed result first (the
    // documented workaround)
    val declared = Lake.readJsonLines(
      spark, f.toString, schemaDdl = Some("id BIGINT, v STRING"), corruptCol = Some("_bad"))
      .cache()
    val rows = declared.collect()
    assert(rows.length == 4)
    assert(declared.where(col("_bad").isNotNull).count() == 1, "bad line captured, not fatal")
    assert(declared.where(col("_bad").isNull).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))

    val inferred = Lake.readJsonLines(spark, f.toString)
    assert(inferred.columns.contains("id") && inferred.columns.contains("v"))
  }

  test("orc round trip preserves rows and schema") {
    val dir = tmp() + "/orc_t"
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "score")
    Lake.writeOrc(df, dir)
    val back = Lake.readOrc(spark, dir)
    // ORC round-trips relax nullability — structural equality is the
    // meaningful check (same helper the catalog re-sync uses)
    assert(Lake.sameStructure(back.schema, df.schema))
    assert(back.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("schema compare for catalog re-sync ignores nullability and metadata") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
      StructField("kv", MapType(StringType, LongType, valueContainsNull = true))))
    val meta = new MetadataBuilder().putString("comment", "x").build()
    val b = StructType(Seq(
      StructField("id", LongType, nullable = false, metadata = meta),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("kv", MapType(StringType, LongType, valueContainsNull = false))))
    assert(Lake.sameStructure(a, b), "nullability/metadata-only drift must NOT recreate")
    val c = StructType(Seq(
      StructField("id", IntegerType), // different dataType
      StructField("tags", ArrayType(StringType)),
      StructField("kv", MapType(StringType, LongType))))
    assert(!Lake.sameStructure(a, c), "a real type change must recreate")
    assert(!Lake.sameStructure(a, StructType(a.fields :+ StructField("x", LongType))))
  }

  test("parquet lake scan with SQL filtration over temp view (S3)") {
    val root = tmp()
    import spark.implicits._
    Lake.writeToDatalake(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), root, "t1")
    val out = Lake.readParquet(spark, s"$root/datalake/t1", Some("SELECT v FROM t1 WHERE id = 2"))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("jdbc reader carries the pushdown derived-table option (S1, utils.py:87)") {
    val reader = Lake.jdbcReader(
      spark, "jdbc:sqlserver://host;databaseName=db", "nis.policies",
      "u", "p", pushdownQuery = Some("SELECT * FROM nis.policies WHERE id > 5")
    )
    // option map is private; assert via the reader's plan failure mode instead:
    // building the reader must not throw, and load() must fail on connection,
    // not on option validation.
    val err = intercept[Exception](reader.load())
    val msg = Option(err.getMessage).getOrElse("") + err.getClass.getName
    assert(!msg.toLowerCase.contains("option"))
  }

  test("overwrite write is idempotent (K1)") {
    import spark.implicits._
    val root = tmp()
    Lake.writeToDatalake(spark, Seq(1, 2, 3).toDF("x"), root, "t2")
    Lake.writeToDatalake(spark, Seq(1, 2, 3).toDF("x"), root, "t2")
    assert(spark.read.parquet(s"$root/datalake/t2").count() == 3)
  }

  test("partitioned registration discovers partitions appended after the crawl (O8)") {
    import spark.implicits._
    val dir = tmp() + "/ptab"
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(dir)
    val fq = Lake.syncCatalogTable(spark, dir, "pdb")
    assert(spark.table(fq).count() == 2)
    // a NEW partition directory appended after registration is invisible
    // to name-based reads until the next crawl recovers the partition list
    Seq((3L, "c")).toDF("id", "p").write.mode("append").partitionBy("p").parquet(dir)
    Lake.syncCatalogTable(spark, dir, "pdb")
    assert(spark.table(fq).select("id", "p").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // and the partition column still prunes
    assert(spark.table(fq).where(col("p") === "c").count() == 1)
  }

  test("writeToDatalake with partitionBy lays out Hive dirs and registers them (K1+O8)") {
    import spark.implicits._
    val root = tmp()
    val df = Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p")
    val path =
      Lake.writeToDatalake(spark, df, root, "ptable", Some("pdb"), partitionBy = Seq("p"))
    assert(Files.exists(java.nio.file.Paths.get(s"$path/p=a")))
    assert(spark.table("`pdb`.`ptable`").count() == 2)
    assert(spark.table("`pdb`.`ptable`").where(col("p") === "b").count() == 1)
  }

  test("footerStats: exact count and bounds from footers alone, multi-file") {
    import spark.implicits._
    val dir = tmp() + "/t"
    (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(7).write.parquet(dir)
    val row = Lake.footerStats(spark, dir, "k").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((1000L, 1L, 1000L)))
    // full-scan truth
    val t = spark.read.parquet(dir)
    assert(t.count() == 1000L)
  }

  test("footerStats: NULLs don't shape bounds; all-null column reports NULL") {
    import spark.implicits._
    val dir = tmp() + "/n"
    Seq((Some(5L), 1), (None, 2), (Some(9L), 3)).toDF("k", "x").write.parquet(dir)
    val row = Lake.footerStats(spark, dir, "k").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((3L, 5L, 9L)))
    val dirN = tmp() + "/allnull"
    Seq((Option.empty[Long], 1), (Option.empty[Long], 2)).toDF("k", "x").write.parquet(dirN)
    val rowN = Lake.footerStats(spark, dirN, "k").head()
    assert(rowN.getLong(0) == 2L && rowN.isNullAt(1) && rowN.isNullAt(2))
  }

  test("footerStats fails fast on a missing column instead of guessing") {
    import spark.implicits._
    val dir = tmp() + "/m"
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir)
    val e = intercept[org.apache.spark.SparkException] {
      Lake.footerStats(spark, dir, "nope").head()
    }
    assert(e.getMessage != null)
  }
}
