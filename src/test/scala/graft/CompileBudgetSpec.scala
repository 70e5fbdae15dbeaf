package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Invert, Similarity}

/** Generated-class budgets of the retrieval probes. A probe's plans
  * differ from the previous probe's only in per-call values (the query
  * vector, its norm, the excluded id, the probed buckets, the shortlist
  * cut, the terms), and those values are bound as references, not
  * inlined into the generated source, so a warm probe finds every class
  * in the codegen cache and compiles none. A per-call value inlined as a
  * literal makes every probe compile new classes and fails here.
  */
class CompileBudgetSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** `body`'s result and the number of classes compiled while it ran. */
  private def compilesOf[T](body: => T): (T, Long) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val out = body
    (out, compiles.getCount - before)
  }

  /** Asserts that a second call, after `warm`, compiles no class. */
  private def compilesNothingAfter[T](what: String)(warm: => T)(again: => T): T = {
    compilesOf(warm)
    val (out, n) = compilesOf(again)
    info(s"$what: $n classes compiled by the warm call")
    assert(n == 0, s"a warm $what compiled $n classes")
    out
  }

  private def scratch(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_compile_${tag}_" +
      ProcessHandle.current().pid()
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration).delete(new Path(p), true)
    p
  }

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** The embeddings of `ids` as local one-row query frames, by id. Built
    * before any measured call: selecting a row by a literal id compiles
    * the caller's own class.
    */
  private def queries(ids: Long*): Map[Long, DataFrame] = ids.map { id =>
    val v = emb.where(col("vec_id") === id).select("embedding").as[Array[Float]].head()
    id -> Seq(Tuple1(v)).toDF("q")
  }.toMap

  test("a warm ivfPqTopK probe compiles no class") {
    val idx = scratch("ivfpq")
    Similarity.ivfPqBuild(spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = 4)
    val q = queries(3L, 41L)
    def probe(id: Long, nprobe: Int) = Similarity.ivfPqTopK(spark, idx, "vec_id", q(id),
      m = 4, topK = 5, nprobe = nprobe, shortlist = 40,
      rerank = emb, rerankVecCol = "embedding", excludeId = Some(id)).collect()
    // another query vector, excluded id and cut, and a probed set of
    // another size
    val top = compilesNothingAfter("ivfPqTopK")(probe(3L, 2))(probe(41L, 3))
    assert(top.length == 5 && !top.exists(_.getLong(0) == 41L))
  }

  test("a warm ivfTopKIndexed probe compiles no class") {
    val idx = scratch("ivf")
    Similarity.ivfBuild(spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", idx, files = 4)
    val q = queries(3L, 41L)
    def probe(id: Long, nprobe: Int) = Similarity.ivfTopKIndexed(spark, idx, "vec_id",
      "embedding", q(id), k = 5, nprobe = nprobe, excludeId = Some(id)).collect()
    val top = compilesNothingAfter("ivfTopKIndexed")(probe(3L, 2))(probe(41L, 3))
    assert(top.length == 5 && !top.exists(_.getLong(0) == 41L))
  }

  test("a warm bm25TopK with another term count compiles no class") {
    val dir = scratch("bm25")
    val docs = (0L until 200L).map(i => (i, s"w${i % 7} w${i % 11} common w${i % 13}"))
      .toDF("doc_id", "text")
    Invert.writeIndex(spark, Invert.postingLists(docs, "doc_id", "text"), s"$dir/inv", files = 4)
    Invert.docLengths(docs, "doc_id", "text").write.parquet(s"$dir/doclen")
    val lens = spark.read.parquet(s"$dir/doclen")
    def query(terms: String*) =
      Invert.bm25TopK(Invert.readIndex(spark, s"$dir/inv"), lens, terms, 10).collect()
    val top = compilesNothingAfter("bm25TopK")(query("w3", "common"))(query("w5", "w8", "w12"))
    assert(top.length == 10)
  }
}
