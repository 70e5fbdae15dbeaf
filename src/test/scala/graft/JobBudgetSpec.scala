package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Invert, Similarity}
import graft.plans.Runner
import graft.streaming.Streams

/** Spark-job budgets of the per-query and per-batch engine calls. At
  * this scale the cost of a call is its Spark jobs, and a job count is
  * exact where a timing is noise, so each budget is the count measured
  * on these fixtures: a change that adds a job fails here. Lower a
  * budget when a change removes jobs.
  */
class JobBudgetSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val Tag = "graft.test.budget"

  /** `body`'s result and the Spark jobs it started. Only jobs that
    * carry this call's local-property tag count, so a job of another
    * thread is never charged to it.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == tag) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try {
      val out = body
      ListenerBusProbe.drain(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def within[T](what: String, budget: Int)(body: => T): T = {
    val (out, jobs) = jobsOf(body)
    info(s"$what: $jobs jobs (budget $budget)")
    assert(jobs <= budget, s"$what ran $jobs Spark jobs, over its budget of $budget")
    out
  }

  private def scratch(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_budget_${tag}_" +
      ProcessHandle.current().pid()
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration).delete(new Path(p), true)
    p
  }

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private def queryVec = emb.where(col("vec_id") === 0L).select("embedding")

  test("readIndex plus a collected bm25TopK") {
    val dir = scratch("bm25")
    val docs = (0L until 200L).map(i => (i, s"w${i % 7} w${i % 11} common w${i % 13}"))
      .toDF("doc_id", "text")
    Invert.writeIndex(spark, Invert.postingLists(docs, "doc_id", "text"), s"$dir/inv", files = 4)
    Invert.docLengths(docs, "doc_id", "text").write.parquet(s"$dir/doclen")
    val lens = spark.read.parquet(s"$dir/doclen")
    val top = within("readIndex + bm25TopK", 8) {
      Invert.bm25TopK(Invert.readIndex(spark, s"$dir/inv"), lens, Seq("w3", "common"), 10)
        .collect()
    }
    assert(top.length == 10)
  }

  test("one ivfTopKIndexed probe") {
    val idx = scratch("ivf")
    Similarity.ivfBuild(spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", idx, files = 4)
    val top = within("ivfTopKIndexed", 4) {
      Similarity.ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec,
        k = 5, nprobe = 2, excludeId = Some(0L)).collect()
    }
    assert(top.length == 5)
  }

  test("one ivfPqTopK probe") {
    val idx = scratch("ivfpq")
    Similarity.ivfPqBuild(spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = 4)
    val top = within("ivfPqTopK", 7) {
      Similarity.ivfPqTopK(spark, idx, "vec_id", queryVec,
        m = 4, topK = 5, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L)).collect()
    }
    assert(top.length == 5)
  }

  test("one ivfPqAppend batch") {
    val idx = scratch("ivfpqappend")
    Similarity.ivfPqBuild(spark, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = 4)
    val appended = within("ivfPqAppend", 14) {
      Similarity.ivfPqAppend(spark, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
        idx, files = 2, commitId = Some("b1"))
    }
    assert(appended)
  }

  test("hybridRrfFuseLegs over two collected legs") {
    val dir = scratch("rrf")
    val docs = (0L until 200L).map(i => (i, s"w${i % 7} w${i % 11} common w${i % 13}"))
      .toDF("doc_id", "text")
    Invert.writeIndex(spark, Invert.postingLists(docs, "doc_id", "text"), s"$dir/inv", files = 4)
    def collected(d: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
    val sparse = collected(Invert.bm25TopK(Invert.readIndex(spark, s"$dir/inv"),
      Invert.docLengths(docs, "doc_id", "text"), Seq("w3", "common"), 10))
    val dense = collected(Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10))
    val fused = within("hybridRrfFuseLegs", 0) {
      Invert.hybridRrfFuseLegs(sparse, dense, "vec_id", 10).collect()
    }
    assert(fused.length == 10)
  }

  test("one corpusAsOf") {
    val target = scratch("asof") + "/corpus"
    assert(Streams.ingestBatchDeduped(spark,
      Seq((1L, "the first document of batch zero"), (2L, "another quite different text"))
        .toDF("doc_id", "text"), "doc_id", "text", target, 0L))
    assert(Streams.ingestBatchDeduped(spark,
      Seq((3L, "a later batch brings new words")).toDF("doc_id", "text"),
      "doc_id", "text", target, 1L))
    val rows = within("corpusAsOf", 2) {
      Streams.corpusAsOf(spark, target, 0L).collect()
    }
    assert(rows.length == 2)
  }

  test("one upsertBatch batch") {
    val target = scratch("swap") + "/t"
    assert(Streams.upsertBatch(spark,
      (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), "id", target, batchId = 0L))
    val applied = within("upsertBatch", 4) {
      Streams.upsertBatch(spark,
        Seq((5L, "v5x"), (500L, "new")).toDF("id", "v"), "id", target, batchId = 1L)
    }
    assert(applied)
  }

  test("one LakeDriver.run migration") {
    val root = scratch("lakedriver")
    val deps = java.nio.file.Paths.get(root, "deps.csv")
    java.nio.file.Files.createDirectories(deps.getParent)
    java.nio.file.Files.writeString(deps,
      "Table,Parent Table,Layer\nOrders,,0\nCustomer,,0\nFlagship,Orders,1\n")
    val registry: Map[String, Runner.Job] = Map(
      "ing_orders" -> LakeDriver.ingestJob(
        s => s.read.parquet(s"$sf/orders.parquet"), "orders", root),
      "ing_customer" -> LakeDriver.ingestJob(
        s => s.read.parquet(s"$sf/customer.parquet"), "customer", root),
      "ing_flagship" -> LakeDriver.ingestJob(
        s => s.read.parquet(s"$root/datalake/orders"), "flagship", root,
        filterSql = Some("SELECT * FROM flagship WHERE o_orderstatus = 'F'")))
    val result = within("LakeDriver.run", 11) {
      LakeDriver.run(spark,
        LakeDriver.Config(root, Some(deps.toString), jobPrefix = "ing_", maxBatchSize = 2), registry)
    }
    assert(result.records.map(_.job_status) == Seq("SUCCESS", "SUCCESS", "SUCCESS"))
  }

  test("one upsertBatchFileGranular batch") {
    val target = scratch("upsert") + "/t"
    assert(Streams.upsertBatchFileGranular(spark,
      (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), "id", target, batchId = 0L))
    val applied = within("upsertBatchFileGranular", 7) {
      Streams.upsertBatchFileGranular(spark,
        Seq((5L, "v5x"), (500L, "new")).toDF("id", "v"), "id", target, batchId = 1L)
    }
    assert(applied)
  }
}
