package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Runner.Job

/** End-to-end E1 lifecycle: infra → registry → layered run → metadata →
  * recon, against the sf0.001 fixtures.
  */
class LakeDriverSpec extends AnyFunSuite with SparkSpec {

  test("full-lake driver: layered ingestion with metadata and recon") {
    val root = Files.createTempDirectory("lake_e2e").toString
    val depCsv = s"$root/deps.csv"
    Files.writeString(
      java.nio.file.Paths.get(depCsv),
      """Table,Parent Table,Layer
        |Orders,,0
        |Customer,,0
        |Flagship,Orders,1
        |""".stripMargin
    )

    val registry: Map[String, Job] = Map(
      "ing_orders" -> LakeDriver.ingestJob(
        s => s.read.parquet(s"$sf/orders.parquet"), "orders", root),
      "ing_customer" -> LakeDriver.ingestJob(
        s => s.read.parquet(s"$sf/customer.parquet"), "customer", root),
      // layer-1 job reads layer-0 lake output (true dependency)
      "ing_flagship" -> LakeDriver.ingestJob(
        s => s.read.parquet(s"$root/datalake/orders"),
        "flagship", root,
        filterSql = Some("SELECT * FROM flagship WHERE o_orderstatus = 'F'")
      )
    )

    val pins = new PinMark
    val result = LakeDriver.run(
      spark,
      LakeDriver.Config(root, Some(depCsv), jobPrefix = "ing_", maxBatchSize = 2),
      registry
    )
    assert(pins.left == ((0, Set.empty[Int])), s"lake run left ${pins.left}")

    // layering respected registry + CSV
    assert(result.layers(0).toSet == Set("ing_orders", "ing_customer"))
    assert(result.layers(1) == Seq("ing_flagship"))

    // every job succeeded, metadata landed
    assert(result.records.map(_.job_status).forall(_ == "SUCCESS"))
    val meta = spark.read.parquet(s"$root/operational_metadata")
    assert(meta.count() == 3)

    // lake contents: full copies + filtered flagship
    val nOrders = spark.read.parquet(s"$root/datalake/orders").count()
    val nFlag = spark.read.parquet(s"$root/datalake/flagship").count()
    assert(nOrders == spark.read.parquet(s"$sf/orders.parquet").count())
    assert(nFlag > 0 && nFlag < nOrders)

    // recon: row-count parity per table, sizes > 0, times recorded
    val recon = spark.read.parquet(s"$root/recon_report").collect()
    assert(recon.length == 3)
    recon.foreach { r =>
      assert(r.getAs[Long]("OnpremRowCounts") == r.getAs[Long]("TableRowCounts"))
      assert(r.getAs[Long]("TableSize") > 0)
      assert(r.getAs[Int]("IngestionTime") >= 0)
    }
  }

  test("database-backed run: O9 bootstraps the catalog db, writes register durable tables") {
    val root = Files.createTempDirectory("lake_db").toString
    spark.sql("DROP TABLE IF EXISTS `graft_e2e`.`region`")
    val registry: Map[String, Job] = Map(
      "ing_region" -> LakeDriver.ingestJob(
        s => s.read.parquet(s"$sf/region.parquet"), "region", root,
        database = Some("graft_e2e"))
    )
    val result = LakeDriver.run(
      spark,
      LakeDriver.Config(root, jobPrefix = "ing_", database = Some("graft_e2e")),
      registry)
    assert(result.records.forall(_.job_status == "SUCCESS"))
    assert(spark.catalog.databaseExists("graft_e2e"))
    // durable catalog entry: visible from a fresh session (not a temp view)
    assert(spark.newSession().table("`graft_e2e`.`region`").count() ==
      spark.read.parquet(s"$sf/region.parquet").count())
  }

  test("a failing job inside a layer is recorded FAILURE, run continues") {
    val root = Files.createTempDirectory("lake_fail").toString
    val registry: Map[String, Job] = Map(
      "a" -> (s => s.read.parquet(s"$sf/region.parquet")),
      "b" -> (_ => throw new RuntimeException("ingest exploded"))
    )
    // a writer's leftover staging is not a table
    spark.range(1).write.parquet(s"$root/datalake/t_fmerge")
    val result = LakeDriver.run(spark, LakeDriver.Config(root), registry)
    val byName = result.records.map(r => r.job_name -> r.job_status).toMap
    assert(byName("a") == "SUCCESS" && byName("b") == "FAILURE")
    assert(result.recon.collect().isEmpty)
  }
}
