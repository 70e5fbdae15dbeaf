package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CurationDriver
import graft.operators.{Invert, Similarity}

/** `curate_retrieve`: a curated corpus served for retrieval.
  *
  * Before the window, traced and timed once each: CurationDriver.run
  * over a seeded corpus with a planted benchmark set and a clique-chain
  * link graph (validate, dedup, [decontaminate | mix], quality, pack);
  * then, reported in `setup_s`, the persisted inverted index
  * (Invert.writeIndex) and IVF-PQ index (Similarity.ivfPqBuild) built
  * on 90% of the survivors and their vectors, and the held-out 10%
  * appended (Invert.appendToIndex, Similarity.ivfPqAppend), so the
  * queries read indexes that carry an appended batch.
  *
  * Timed window: one closed-loop client issuing queries round-robin
  * over a BM25 top-k over readIndex, an IVF-PQ top-k and a hybrid RRF
  * over both persisted legs, in whole rounds of the three. A hybrid
  * query retrieves each leg on its own and fuses the two result lists.
  *
  * throughput = documents curated per second; unit op = one query,
  * its median taken per query type and averaged over the three;
  * bytes_ratio = stage-table and index bytes per input byte.
  */
final class CurateRetrieve extends Workload {
  private val NDocs = 400
  private val MinRounds = 3
  private val K = 10
  private val M = 8
  private val NList = 32
  private val NProbe = 4
  private val Shortlist = 40
  private val Types = Seq("bm25", "ann", "hybrid")

  private var docs: Seq[(Long, String)] = Nil
  private var benchTexts = Set.empty[String]
  private var terms: Seq[Seq[String]] = Nil
  private var indexed: Seq[Long] = Nil
  private var curation: Option[CurationDriver.RunResult] = None
  private var appended: Option[Boolean] = None
  private var bytesRatio = 0.0
  private var indexFiles = (0, 0)
  private var windowS = 0.0
  // results of the queries the checks verify: (terms, (doc, score)) and
  // (query vector, (vec, cosine))
  private var checkedBm25: Seq[(Seq[String], Seq[(Long, Long)])] = Nil
  private var checkedAnn: Option[(Long, Seq[(Long, Double)])] = None

  private def cur(c: Ctx) = c.path("cur")
  private def dir(c: Ctx) = c.path("r")

  def setup(c: Ctx): Unit = {
    val t0 = System.nanoTime()
    val spark = c.spark
    import spark.implicits._
    docs = Gen.documents(c.seed, NDocs)
    Gen.docsFrame(spark, docs).write.parquet(c.path("docs"))
    val (bench, _) = Gen.planted(c.seed, docs)
    benchTexts = bench.map(_._2).toSet
    Gen.docsFrame(spark, bench).write.parquet(c.path("bench"))
    Gen.links(c.seed, docs.map(_._1)).toDF("src", "dst").write.parquet(c.path("links"))
    Gen.embFrame(spark, Gen.embeddings(c.seed, NDocs)).write.parquet(c.path("emb_all"))
    terms = Gen.queryTerms(c.seed, docs, 300)
    c.setup("fixture_s") = (System.nanoTime() - t0) / 1e9
  }

  private def ids(d: DataFrame): Seq[Long] = d.select("doc_id").collect().map(_.getLong(0)).toSeq

  private def build(c: Ctx, d: DataFrame, e: DataFrame): Unit = {
    val spark = c.spark
    val r = dir(c)
    d.write.parquet(s"$r/docs")
    e.write.parquet(s"$r/emb")
    val stored = spark.read.parquet(s"$r/docs")
    Invert.writeIndex(spark, Invert.postingLists(stored, "doc_id", "text"), s"$r/inv")
    Invert.docLengths(stored, "doc_id", "text").write.parquet(s"$r/doclen")
    val emb = spark.read.parquet(s"$r/emb")
    val centres = new Random(c.seed * 13L + 7).shuffle(ids(d)).take(NList)
    Similarity.ivfPqBuild(spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id").isin(centres: _*)), "vec_id", "embedding",
      m = M, k = 16, indexPath = s"$r/pq")
  }

  private def append(c: Ctx, d: DataFrame, e: DataFrame): Boolean = {
    val spark = c.spark
    val r = dir(c)
    d.write.mode("append").parquet(s"$r/docs")
    Invert.docLengths(d, "doc_id", "text").write.mode("append").parquet(s"$r/doclen")
    e.write.mode("append").parquet(s"$r/emb")
    val a = c.tracer.span("invert_append")(
      Invert.appendToIndex(spark, d, "doc_id", "text", s"$r/inv", commitId = Some("held-out")))
    val b = c.tracer.span("similarity_append")(Similarity.ivfPqAppend(
      spark, e, "vec_id", "embedding", s"$r/pq", commitId = Some("held-out")))
    a && b
  }

  private def bm25(c: Ctx, q: Seq[String], k: Int): DataFrame = {
    val idx = c.tracer.span("invert_read_index")(Invert.readIndex(c.spark, s"${dir(c)}/inv"))
    Invert.bm25TopK(idx, c.spark.read.parquet(s"${dir(c)}/doclen"), q, k)
  }

  private def ann(c: Ctx, id: Long, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val emb = c.spark.read.parquet(s"${dir(c)}/emb")
    val q = emb.where(col("vec_id") === id).select(col("embedding").as("q"))
    Similarity.ivfPqTopK(c.spark, s"${dir(c)}/pq", "vec_id",
      q, m = M, topK = k, nprobe = nprobe, shortlist = shortlist,
      rerank = emb, rerankVecCol = "embedding", excludeId = Some(id))
  }

  /** `d` run to completion, as a local frame over its rows. */
  private def materialize(c: Ctx, d: DataFrame): DataFrame =
    c.spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)

  /** Query `i` (type `Types(i % 3)`): the number of rows it returned.
    * Every span encloses the execution of what it names: a hybrid
    * query runs each leg to completion inside its leg's span and fuses
    * the two lists in `rrf_fuse`.
    */
  private def query(c: Ctx, i: Int, rnd: Random): Int = {
    val q = terms(i % terms.size)
    val id = indexed(rnd.nextInt(indexed.size))
    val t = c.tracer
    Types(i % 3) match {
      case "bm25" => t.span("invert_bm25")(bm25(c, q, K).collect().length)
      case "ann"  => t.span("similarity_topk")(ann(c, id, K, NProbe, Shortlist).collect().length)
      case _ =>
        val sparse = t.span("invert_bm25")(materialize(c, bm25(c, q, 2 * K)))
        val dense = t.span("similarity_topk")(
          materialize(c, ann(c, id, 2 * K, NProbe, Shortlist).select("vec_id", "cos_sim")))
        t.span("rrf_fuse")(Invert.hybridRrfFuseLegs(sparse, dense, "vec_id", K).collect().length)
    }
  }

  /** The curation run (timed: the throughput), then the index build
    * and append and the query warm-up (reported in `setup_s`); traced,
    * so the curation and index layers appear in the per-layer metrics.
    */
  override def prepare(c: Ctx): Unit = {
    val spark = c.spark
    curation = c.timed("curate_s", "curate")(CurationDriver.run(spark,
      spark.read.parquet(c.path("docs")), spark.read.parquet(c.path("bench")),
      CurationDriver.Config(root = cur(c)), links = Some(spark.read.parquet(c.path("links")))))
    val t0 = System.nanoTime()
    val s = spark.read.parquet(s"${cur(c)}/stage_quality").select("doc_id", "text")
    val e = spark.read.parquet(c.path("emb_all")).join(s.select(col("doc_id").as("vec_id")), "vec_id")
      .select("vec_id", "embedding")
    val cut = NDocs * 9 / 10
    c.timed("build_s", "index_build")(build(c, s.where(col("doc_id") < cut), e.where(col("vec_id") < cut)))
    appended = c.timed("append_s", "append")(
      append(c, s.where(col("doc_id") >= cut), e.where(col("vec_id") >= cut)))
    indexed = spark.read.parquet(s"${dir(c)}/emb").select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    c.setup("load_s") = (System.nanoTime() - t0) / 1e9

    // warm-up, untraced: the queries the checks verify after the window
    // (two BM25 top-k over the persisted index, an IVF-PQ top-k at
    // exhaustive nprobe and full shortlist) and the RRF fusion of two of
    // their lists, so every query plan of the window has run once (the
    // loads above have already warmed the JVM)
    val t1 = System.nanoTime()
    c.tracer.untraced {
      val rnd = new Random(c.seed * 23L + 1)
      val sparse = Seq.fill(2)(terms(rnd.nextInt(terms.size))).map(q => q -> materialize(c, bm25(c, q, K)))
      checkedBm25 = sparse.map { case (q, d) => q -> d.collect().map(x => (x.getLong(0), x.getLong(2))).toSeq }
      val id = indexed(rnd.nextInt(indexed.size))
      val dense = materialize(c, ann(c, id, K, NList, indexed.size).select("vec_id", "cos_sim"))
      checkedAnn = Some(id -> dense.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq)
      Invert.hybridRrfFuseLegs(sparse.head._2, dense, "vec_id", K).collect()
    }
    c.setup("warmup_s") = (System.nanoTime() - t1) / 1e9
  }

  /** The window's unit operations: one span per query type. */
  def opSpans: Seq[String] = Types.map(k => s"query_$k")

  def loadSpans: Seq[String] = Seq("curate", "index_build", "append")

  /** Whole rounds (one query of each type) until the deadline, at least
    * `MinRounds`; each query is timed on its own.
    */
  def run(c: Ctx, deadlineNs: Long): Unit = {
    val rnd = new Random(c.seed * 5L + 3)
    val t0 = System.nanoTime()
    var round = 0
    while (round < MinRounds || System.nanoTime() < deadlineNs) {
      Types.indices.foreach { k =>
        val i = 3 * round + k
        val kind = Types(k)
        c.timed("op", s"query_$kind")(query(c, i, rnd)).foreach { n =>
          c.samples.add(kind, c.samples.last("op"))
          // an IVF probe may see fewer than K candidates in its buckets;
          // the hybrid list, fed by both legs, is always full
          c.check(s"query $i ($kind) returned results")(n > 0 && n <= K && (kind != "hybrid" || n == K))
        }
      }
      round += 1
    }
    windowS = (System.nanoTime() - t0) / 1e9
  }

  private def stageIds(c: Ctx, stage: String): Set[Long] =
    c.spark.read.parquet(s"${cur(c)}/stage_$stage").select("doc_id").collect().map(_.getLong(0)).toSet

  def check(c: Ctx): Unit = {
    val spark = c.spark
    c.check("curation: every stage SUCCESS")(
      curation.exists(r => r.records.size == 6 && r.records.forall(_.job_status == "SUCCESS")))
    val st = Seq("raw", "dedup", "clean", "quality", "packed").map(s => s -> stageIds(c, s)).toMap
    c.check("packed ⊆ quality ⊆ clean ⊆ dedup ⊆ raw")(
      st("packed").subsetOf(st("quality")) && st("quality").subsetOf(st("clean")) &&
        st("clean").subsetOf(st("dedup")) && st("dedup").subsetOf(st("raw")) && st("packed").nonEmpty)
    c.check("raw holds the whole corpus")(st("raw") == docs.map(_._1).toSet)
    val mix = spark.read.parquet(s"${cur(c)}/stage_mix")
    c.check("stage_mix has one row per raw doc")(
      mix.count() == st("raw").size && mix.select("doc_id").distinct().count() == st("raw").size)
    val planted = docs.filter(d => benchTexts(d._2)).map(_._1).toSet
    c.check("planted benchmark docs absent from clean")(
      planted.nonEmpty && planted.intersect(st("clean")).isEmpty)

    val r = dir(c)
    c.check("held-out survivors appended to both indexes")(appended.contains(true))
    val allDocs = spark.read.parquet(s"$r/docs")
    val allEmb = spark.read.parquet(s"$r/emb")
    c.check("indexed corpus = every curated survivor, one vector each")(
      st("quality") == ids(allDocs).toSet && allEmb.count() == st("quality").size)
    // the in-memory reference: postings built straight from the corpus
    val memIndex = Invert.postingLists(allDocs, "doc_id", "text").cache()
    val memLens = Invert.docLengths(allDocs, "doc_id", "text").cache()
    c.check("two BM25 and one IVF-PQ query checked")(checkedBm25.size == 2 && checkedAnn.nonEmpty)
    checkedBm25.foreach { case (q, persisted) =>
      val inMem = Invert.bm25TopK(memIndex, memLens, q, K).collect().map(x => (x.getLong(0), x.getLong(2))).toSeq
      c.check(s"bm25 over the persisted index = in-memory postings (${q.mkString(" ")})")(
        persisted.nonEmpty && persisted == inMem)
    }
    checkedAnn.foreach { case (id, got) =>
      val brute = Similarity.cosineTopK(allEmb, "vec_id", "embedding", id, K).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      c.check(s"ivf-pq at exhaustive nprobe = exact cosine top-k (vec $id)")(got.size == K && got == brute)
    }

    indexFiles = (Disk.fileCount(s"$r/inv"), Disk.fileCount(s"$r/pq"))
    val persistedBytes =
      Seq("raw", "dedup", "clean", "quality", "mix", "packed").map(s => Disk.bytes(s"${cur(c)}/stage_$s")).sum +
        Seq("inv", "pq", "doclen").map(x => Disk.bytes(s"$r/$x")).sum
    bytesRatio = persistedBytes.toDouble / (Disk.bytes(c.path("docs")) + Disk.bytes(c.path("emb_all")))
  }

  private def curateDocsPerS(c: Ctx): Double =
    if (c.samples.count("curate_s") == 0) 0.0 else NDocs / c.samples.median("curate_s")

  /** The query mix's median latency: the mean over the three query
    * types of each type's median. Every type weighs the same, and the
    * figure does not jump between types as the middle sample of the
    * pooled series would.
    */
  private def queryP50(c: Ctx): Double = Types.map(c.samples.median).sum / Types.size

  def endToEnd(c: Ctx): Map[String, Double] = Map(
    "throughput_per_s" -> curateDocsPerS(c),
    "op_s_p50" -> queryP50(c), "bytes_ratio" -> bytesRatio)

  def layers(c: Ctx): Map[String, Double] = {
    val t = c.tracer
    val modules = Seq("dedup" -> "operators.Dedup", "graph" -> "operators.Graph",
      "curation" -> "operators.Curation", "scale" -> "operators.Scale").flatMap { case (k, mod) =>
      val s = t.sparkOfModules(mod)
      Seq(s"$k.spark_jobs" -> s.jobs.toDouble, s"$k.executor_cpu_s" -> s.cpuS,
        s"$k.shuffle_bytes" -> s.shuffleWriteBytes.toDouble)
    }
    def med(span: String) = { val s = t.named(span); if (s.isEmpty) 0.0 else Stats.median(s.map(_.seconds)) }
    def perQuery(span: String) = t.sparkUnder(span).inputBytes.toDouble / math.max(1, t.named(span).size)
    val stages = curation.toSeq.flatMap(_.records).map { r =>
      s"curate.${r.job_name}_s" -> (r.job_end_time.getTime - r.job_start_time.getTime) / 1e3
    }
    stages.toMap ++ modules ++ Map(
      "curate_docs_per_s" -> curateDocsPerS(c),
      "queries_per_s" -> c.samples.count("op") / math.max(1e-9, windowS),
      "invert.bm25_s" -> med("invert_bm25"),
      "invert.read_index_s" -> med("invert_read_index"),
      "invert.bytes_read_per_query" -> perQuery("query_bm25"),
      "invert.append_s" -> med("invert_append"),
      "invert.index_files" -> indexFiles._1.toDouble,
      "similarity.ivfpq_topk_s" -> med("similarity_topk"),
      "similarity.bytes_read_per_query" -> perQuery("query_ann"),
      "similarity.append_s" -> med("similarity_append"),
      "similarity.index_files" -> indexFiles._2.toDouble,
      "bm25_s_p50" -> c.samples.median("bm25"),
      "ann_s_p50" -> c.samples.median("ann"),
      "hybrid_s_p50" -> c.samples.median("hybrid"),
      "query_s_tail" -> c.samples.tail("op"),
      "index_append_s_p50" -> c.samples.median("append_s"))
  }

  def sampleCounts(c: Ctx): Map[String, Int] =
    (Seq("op", "curate_s", "build_s", "append_s") ++ Types).map(k => k -> c.samples.count(k)).toMap
}
