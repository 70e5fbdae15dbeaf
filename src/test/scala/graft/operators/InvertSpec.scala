package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class InvertSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "red fox red fox red"),
    (1L, "the quick red fox"),
    (101L, "fox red fox"), // lands in block 1 at blockDocs = 100
    (102L, "")
  ).toDF("doc_id", "text")

  test("postingLists: positions, block sharding, df/tf per block") {
    val idx = Invert.postingLists(docs, "doc_id", "text", blockDocs = 100L)
    val fox = idx.where(col("term") === "fox").orderBy("block")
      .select(col("block"), col("df"), col("tf"),
        transform(col("postings"), p => concat_ws(":", p("doc_id"), p("pos"))).as("ps"))
      .as[(Long, Long, Long, Seq[String])].collect().toSeq
    assert(fox == Seq(
      (0L, 2L, 3L, Seq("0:1", "0:3", "1:3")),
      (1L, 1L, 2L, Seq("101:0", "101:2"))))
    // the empty doc contributes no postings at all
    assert(idx.select(explode(col("postings")).as("p"))
      .where(col("p.doc_id") === 102L).count() == 0)
  }

  test("phraseSearch: multi-word phrase with overlap-free starts") {
    val idx = Invert.postingLists(docs, "doc_id", "text", blockDocs = 100L)
    val out = Invert.phraseSearch(idx, Seq("red", "fox"))
      .as[(Long, Long, Long)].collect().toSeq
    // doc 0: starts 0 and 2; doc 1: start 2; doc 101: start 1
    assert(out == Seq((0L, 2L, 0L), (1L, 1L, 2L), (101L, 1L, 1L)))
  }

  test("phraseSearch: repeated word in the phrase votes per slot") {
    val rep = Seq((7L, "go go go stop go go")).toDF("doc_id", "text")
    val idx = Invert.postingLists(rep, "doc_id", "text")
    val out = Invert.phraseSearch(idx, Seq("go", "go"))
      .as[(Long, Long, Long)].collect().toSeq
    // "go go go" yields starts 0 and 1; "go go" at the tail yields 4
    assert(out == Seq((7L, 3L, 0L)))
  }

  test("phraseSearch: no adjacency, no match") {
    val idx = Invert.postingLists(docs, "doc_id", "text", blockDocs = 100L)
    assert(Invert.phraseSearch(idx, Seq("quick", "the")).isEmpty)
    assert(Invert.phraseSearch(idx, Seq("absent")).isEmpty)
  }

  test("phraseSearch spans block boundaries of the sharded index") {
    // adjacency is positional within a doc; sharding only splits the
    // posting storage by doc range, so a phrase inside one doc must be
    // found regardless of which block its postings landed in
    val many = (0L to 250L).map(i => (i, s"alpha beta gamma")).toDF("doc_id", "text")
    val idx = Invert.postingLists(many, "doc_id", "text", blockDocs = 100L)
    assert(idx.select(countDistinct(col("block"))).head.getLong(0) == 3L)
    assert(Invert.phraseSearch(idx, Seq("alpha", "beta", "gamma")).count() == 251L)
  }

  test("bm25TopK: coverage beats repetition, k caps, ranking deterministic") {
    val corpus = Seq(
      (1L, "apple banana cherry"),           // both query terms once, short
      (2L, "apple apple apple apple apple"), // one term, heavily repeated
      (3L, "apple banana banana date fig"),  // both terms, one repeated
      (4L, "date fig grape")                 // no query terms
    ).toDF("doc_id", "text")
    val idx = Invert.postingLists(corpus, "doc_id", "text")
    val lens = Invert.docLengths(corpus, "doc_id", "text")
    val out = Invert.bm25TopK(idx, lens, Seq("apple", "banana"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    // docs 1 and 3 hit both terms; tf saturation keeps doc 2's five
    // apples below any two-term doc; doc 4 never appears
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(out.take(2).map(_._1).toSet == Set(1L, 3L))
    assert(out.last._1 == 2L)
    assert(out.collect { case (d, h, _) if d != 2L => h }.forall(_ == 2L))
    // k caps the result
    assert(Invert.bm25TopK(idx, lens, Seq("apple", "banana"), k = 1).count() == 1)
    // scores are invariant to input partitioning (exact-integer sums)
    val rep = Invert.bm25TopK(
      Invert.postingLists(corpus.repartition(7), "doc_id", "text"),
      lens.repartition(5), Seq("apple", "banana"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rep == out)
  }

  test("bm25TopK plans a TakeOrdered, not a global sort") {
    val idx = Invert.postingLists(docs, "doc_id", "text")
    val lens = Invert.docLengths(docs, "doc_id", "text")
    val plan = Invert.bm25TopK(idx, lens, Seq("red"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("persisted index: seek equals in-memory search, IN-list reaches the scan") {
    val dir = java.nio.file.Files.createTempDirectory("invert_idx").toString + "/index"
    val idx = Invert.postingLists(docs, "doc_id", "text", blockDocs = 100L)
    Invert.writeIndex(spark, idx, dir, files = 3)
    val persisted = Invert.readIndex(spark, dir)
    val mem = Invert.phraseSearch(idx, Seq("red", "fox")).collect().toSeq
    val disk = Invert.phraseSearch(persisted, Seq("red", "fox")).collect().toSeq
    assert(disk == mem)
    // the term IN-list must be PUSHED to the parquet scan: with the
    // index range-clustered on term, row-group stats prune everything
    // but the query terms' neighborhoods — the index-seek contract
    val scanPlan = persisted.where(col("term").isin("red", "fox"))
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("PushedFilters: [In(term"), scanPlan.take(600))
    // rebuild over a live index swaps atomically (old copy healed away)
    Invert.writeIndex(spark, idx.where(col("term") =!= "red"), dir, files = 2)
    assert(Invert.readIndex(spark, dir).where(col("term") === "red").isEmpty)
  }

  test("appendToIndex: monotone batches append; overlap fails fast; replay skips") {
    val dir = java.nio.file.Files.createTempDirectory("invert_append").toString + "/index"
    val first = (0L until 150L).map(i => (i, "alpha beta")).toDF("doc_id", "text")
    // starts INSIDE the last partially-filled block (150 DIV 100 = block
    // 1 = first's max block): a legitimate monotone ingest whose batch
    // boundary straddles a block — must append, with the duplicate
    // (term, block 1) rows' disjoint doc ranges aggregating correctly
    val straddle = (150L until 230L).map(i => (i, "alpha gamma")).toDF("doc_id", "text")
    val batch = (300L until 360L).map(i => (i, "beta gamma")).toDF("doc_id", "text")
    Invert.writeIndex(spark, Invert.postingLists(first, "doc_id", "text", 100L), dir, files = 2)
    assert(Invert.appendToIndex(spark, straddle, "doc_id", "text", dir,
      blockDocs = 100L, commitId = Some("b0")))
    assert(Invert.appendToIndex(spark, batch, "doc_id", "text", dir,
      blockDocs = 100L, commitId = Some("b1")))
    val all = first.union(straddle).union(batch)
    // the maintained index answers exactly like a from-scratch rebuild
    val got = Invert.bm25TopK(
      Invert.readIndex(spark, dir),
      Invert.docLengths(all, "doc_id", "text"),
      Seq("beta", "gamma"), k = 5).collect().toSeq
    val rebuilt = Invert.bm25TopK(
      Invert.postingLists(all, "doc_id", "text", 100L),
      Invert.docLengths(all, "doc_id", "text"),
      Seq("beta", "gamma"), k = 5).collect().toSeq
    assert(got == rebuilt)
    // same commitId → idempotent no-op on replay
    assert(!Invert.appendToIndex(spark, batch, "doc_id", "text", dir,
      blockDocs = 100L, commitId = Some("b1")))
    // a batch overlapping the indexed doc-range must fail BEFORE writing
    val overlapping = Seq((120L, "delta")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Invert.appendToIndex(spark, overlapping, "doc_id", "text", dir, blockDocs = 100L)
    }
    assert(e.getMessage.contains("strictly increasing"))
  }

  test("appendToIndex: a pre-watermark index (no max_doc column) fails with a rebuild hint") {
    val dir = java.nio.file.Files.createTempDirectory("invert_legacy").toString + "/index"
    val first = (0L until 50L).map(i => (i, "alpha beta")).toDF("doc_id", "text")
    // simulate an index persisted before max_doc became a top-level
    // column: build the modern postings, drop the watermark columns,
    // write the result as the "legacy" index
    Invert.writeIndex(
      spark,
      Invert.postingLists(first, "doc_id", "text", 100L).drop("min_doc", "max_doc"),
      dir, files = 1)
    val batch = (100L until 120L).map(i => (i, "beta gamma")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Invert.appendToIndex(spark, batch, "doc_id", "text", dir, blockDocs = 100L)
    }
    assert(e.getMessage.contains("rebuild it with writeIndex"), e.getMessage)
  }

  test("a torn index swap reads as committed; the next writer heals it") {
    val root = java.nio.file.Files.createTempDirectory("invert_heal").toString
    val dir = s"$root/index"
    val idx = Invert.postingLists(docs, "doc_id", "text")
    Invert.writeIndex(spark, idx, dir, files = 2)
    val expected = Invert.readIndex(spark, dir).count()
    // simulate a rebuild whose commit crashed after the manifest: the
    // new index fully staged, every live index file moved aside, none
    // of the staged ones published yet
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Invert.writeIndex(spark, idx, s"$root/rebuilt", files = 2)
    assert(fs.rename(new Path(s"$root/rebuilt"), new Path(dir + "_fmerge")))
    val live = fs.listStatus(new Path(dir)).map(_.getPath.getName).filterNot(_.startsWith("_"))
    val out = fs.create(new Path(dir + "_fmerge", "_touched"), true)
    try out.write(live.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    live.foreach(n => assert(fs.rename(new Path(dir, n), new Path(dir, "_old_" + n))))
    val torn = tree(dir, dir + "_fmerge")
    assert(Invert.readIndex(spark, dir).count() == expected)
    assert(tree(dir, dir + "_fmerge") == torn, "the read changed the index or its staging")
    // the next writer rolls the commit forward before its own append
    val more = Seq((200L, "zeta")).toDF("doc_id", "text")
    assert(Invert.appendToIndex(spark, more, "doc_id", "text", dir))
    assert(!fs.exists(new Path(dir + "_fmerge")))
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("_old_")))
    assert(Invert.readIndex(spark, dir).count() == expected + 1)
  }

  test("a read of an index commit torn mid-publish returns the new index and changes nothing") {
    val root = java.nio.file.Files.createTempDirectory("invert_torn").toString
    val dir = s"$root/index"
    Invert.writeIndex(spark, Invert.postingLists(docs, "doc_id", "text"), dir, files = 2)
    val grown = docs.union(Seq((300L, "zeta eta theta")).toDF("doc_id", "text"))
    Invert.writeIndex(spark, Invert.postingLists(grown, "doc_id", "text"), s"$root/rebuilt", files = 2)
    val expected = Invert.readIndex(spark, s"$root/rebuilt")
      .select("term", "block").as[(String, Long)].collect().sorted.toSeq
    // the rebuild's commit crashed mid-publish: its manifest names
    // every live file, all of them are moved aside, and one of the
    // staged files is already published
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(s"$root/rebuilt"), new Path(dir + "_fmerge")))
    val live = fs.listStatus(new Path(dir)).map(_.getPath.getName).filterNot(_.startsWith("_"))
    val out = fs.create(new Path(dir + "_fmerge", "_touched"), true)
    try out.write(live.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    live.foreach(n => assert(fs.rename(new Path(dir, n), new Path(dir, "_old_" + n))))
    val first = fs.listStatus(new Path(dir + "_fmerge")).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).min
    assert(fs.rename(new Path(dir + "_fmerge", first), new Path(dir, first)))
    val torn = tree(dir, dir + "_fmerge")
    val got = Invert.readIndex(spark, dir)
      .select("term", "block").as[(String, Long)].collect().sorted.toSeq
    assert(got == expected)
    assert(tree(dir, dir + "_fmerge") == torn, "the read changed the index or its staging")
  }

  test("index build has no window operator in the plan") {
    val plan = Invert.postingLists(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in index build:\n$plan")
  }

  test("tfidfCosinePairs: matches the sequential exact-integer replay") {
    // reference replay of the deterministic-log tf-idf pipeline
    def pseudoLn(x: Double): Double = {
      val z = (x - 1.0) / (x + 1.0); val q = z * z
      (2.0 * z) * (1.0 + q * ((1.0 / 3.0) + q * ((1.0 / 5.0) + q * ((1.0 / 7.0) +
        q * ((1.0 / 9.0) + q * ((1.0 / 11.0) + q * ((1.0 / 13.0) + q * (1.0 / 15.0))))))))
    }
    def lnOfCount(c: Long): Double = {
      val e = java.lang.Long.toBinaryString(c).length - 1
      e * 0.6931471805599453 + pseudoLn(c.toDouble / (1L << e).toDouble)
    }
    val corpus = Seq(
      (0L, "alpha beta gamma alpha"),
      (1L, "alpha beta gamma"),
      (2L, "alpha delta delta"),
      (3L, "common common common"), // 'common' also in every other doc below
      (4L, "common alpha beta gamma"),
      (5L, "common epsilon zeta"),
      (6L, "common epsilon zeta zeta"))
    val maxDf = 3L
    val n = corpus.length.toLong
    val tf = corpus.flatMap { case (d, t) => t.split("\\s+").map(w => (d, w)) }
      .groupBy(identity).map { case ((d, w), xs) => (d, w, xs.length.toLong) }.toSeq
    val df = tf.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    val w = tf.collect {
      case (d, t, f) if df(t) <= maxDf =>
        val idf = math.floor((lnOfCount(n) - lnOfCount(df(t))) * 1000.0).toLong
        (d, t, f * idf)
    }.filter(_._3 > 0L)
    // 'common' and 'alpha' have df 4 > maxDf: absent from the space
    assert(df("common") == 4L && df("alpha") == 4L)
    assert(!w.exists(x => x._2 == "common" || x._2 == "alpha"))
    val n2 = w.groupBy(_._1).map { case (d, xs) => d -> xs.map(x => x._3 * x._3).sum }
    val want = (for {
      (a, ta, wa) <- w; (b, tb, wb) <- w
      if a < b && ta == tb
    } yield ((a, b), wa * wb)).groupBy(_._1).toSeq.map { case ((a, b), xs) =>
      val cos = xs.map(_._2).sum.toDouble / (math.sqrt(n2(a).toDouble) * math.sqrt(n2(b).toDouble))
      (a, b, BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.filter(_._3 >= 0.3).sortBy(x => (x._1, x._2))
    val got = Invert.tfidfCosinePairs(
      corpus.toDF("doc_id", "text").repartition(3), "doc_id", "text",
      minSim = 0.3, maxDf = maxDf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == want)
    // identical docs are perfect matches; the pair space is strictly upper-triangular
    assert(got.forall(p => p._1 < p._2))
    val twin = Invert.tfidfCosinePairs(
      Seq((7L, "x y z"), (8L, "x y z"), (9L, "q r s t")).toDF("doc_id", "text"),
      "doc_id", "text", minSim = 0.5, maxDf = 10L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(twin == Seq((7L, 8L, 1.0)))
    intercept[IllegalArgumentException](
      Invert.tfidfCosinePairs(docs, "doc_id", "text", minSim = 0.0, maxDf = 10L))
    intercept[IllegalArgumentException](
      Invert.tfidfCosinePairs(docs, "doc_id", "text", minSim = 0.5, maxDf = 1L))
  }

  test("tfidfCosinePairs: grid-blocked join and relative cap are exact") {
    val corpus = (0L until 40L).map { d =>
      val rare = if (d % 8 == 0) " rare" else ""
      (d, s"stop word every doc shares these tokens$rare extra${d % 5}")
    }
    val docsDf = corpus.toDF("doc_id", "text").repartition(5)
    // blocked join (any B) must return EXACTLY the plain join's rows —
    // each pair matches in the single grid cell its two blocks name
    val plain = Invert.tfidfCosinePairs(
      docsDf, "doc_id", "text", minSim = 0.1, maxDf = 12L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(plain.nonEmpty)
    for (b <- Seq(2, 3, 16)) {
      val blocked = Invert.tfidfCosinePairs(
        docsDf, "doc_id", "text", minSim = 0.1, maxDf = 12L, blocks = b)
        .as[(Long, Long, Double)].collect().toSeq
      assert(blocked == plain, s"blocks=$b diverged from the plain join")
    }
    // relative cap: effective = max(maxDf, floor(frac·N)); with N = 40
    // and frac = 0.3 the effective cap is 12 — identical result to the
    // absolute-12 run even though the absolute knob is only 2
    val rel = Invert.tfidfCosinePairs(
      docsDf, "doc_id", "text", minSim = 0.1, maxDf = 2L,
      maxDfFrac = Some(0.3), blocks = 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(rel == plain)
    // and the absolute floor side of the max: frac tiny, maxDf carries
    val floorSide = Invert.tfidfCosinePairs(
      docsDf, "doc_id", "text", minSim = 0.1, maxDf = 12L,
      maxDfFrac = Some(0.001))
      .as[(Long, Long, Double)].collect().toSeq
    assert(floorSide == plain)
    intercept[IllegalArgumentException](
      Invert.tfidfCosinePairs(docsDf, "doc_id", "text",
        minSim = 0.5, maxDf = 5L, maxDfFrac = Some(1.5)))
    intercept[IllegalArgumentException](
      Invert.tfidfCosinePairs(docsDf, "doc_id", "text",
        minSim = 0.5, maxDf = 5L, blocks = 0))
  }

  test("rrfFuse: exact integer fusion, overlap outranks single-leg, guards") {
    // legs: sparse [10, 11], dense [11, 12] — 11 appears in both
    val ranked = Seq(
      ("sparse", 10L, 1L), ("sparse", 11L, 2L),
      ("dense", 11L, 1L), ("dense", 12L, 2L)
    ).toDF("leg", "doc_id", "rank")
    val got = Invert.rrfFuse(ranked, k = 3, rrfK = 60)
      .as[(Long, Long, Long)].collect().toSeq
    val c1 = 1000000000000L / 61 // floor(1e12/61) — exact by the gap argument
    val c2 = 1000000000000L / 62
    assert(got == Seq(
      (11L, 2L, c1 + c2), // both legs — overlap outranks either single leg
      (10L, 1L, c1), // sparse rank 1
      (12L, 1L, c2))) // dense rank 2
    intercept[IllegalArgumentException](Invert.rrfFuse(ranked, k = 0))
    // out-of-contract rank fails loudly, not silently mis-floors
    val bad = Seq(("sparse", 1L, 0L)).toDF("leg", "doc_id", "rank")
    val e = intercept[Exception](Invert.rrfFuse(bad, k = 1).collect())
    assert(e.getMessage.contains("rrfFuse: rank out of"),
      s"unexpected error: ${e.getMessage}")
  }

  test("hybridRrfTopK: fuses exactly the standalone legs; flags name the proposers") {
    val docsDf = Seq(
      (0L, "anchor text"),
      (1L, "red fox customer stream"),
      (2L, "customer customer vector"),
      (3L, "vector stream stream"),
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    // embeddings: vec 0 is the query; 3 is nearly parallel to it,
    // 4 is orthogonal, 1/2 in between
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.6f, 0.8f)),
      (2L, Seq(0.8f, 0.6f)),
      (3L, Seq(0.99f, 0.1f)),
      (4L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val idx = Invert.postingLists(docsDf, "doc_id", "text", blockDocs = 100L)
    val lens = Invert.docLengths(docsDf, "doc_id", "text")
    val q = Seq("customer", "vector", "stream")
    val fused = Invert.hybridRrfTopK(
      idx, lens, q, emb, "vec_id", "embedding", queryId = 0L,
      k = 5, kPerLeg = 3, rrfK = 60)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // replay: manual leg ranks → expected fusion
    val sparseRank = Invert.bm25TopK(idx, lens, q, 3)
      .as[(Long, Long, Long)].collect().toSeq.map(_._1).zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    val denseRank = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 3)
      .as[(Long, Double)].collect().toSeq.map(_._1).zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    def c(r: Long) = 1000000000000L / (60L + r)
    val expect = (sparseRank.keySet ++ denseRank.keySet).toSeq.map { d =>
      (d,
        if (sparseRank.contains(d)) 1L else 0L,
        if (denseRank.contains(d)) 1L else 0L,
        sparseRank.get(d).map(c).getOrElse(0L) + denseRank.get(d).map(c).getOrElse(0L))
    }.sortBy(t => (-t._4, t._1)).take(5)
    assert(fused == expect)
    // at least one doc must carry both flags on this fixture (2 or 3
    // score on both legs), proving the fusion actually overlapped
    assert(fused.exists(t => t._2 == 1L && t._3 == 1L))
    // the legs-supplied face is the same fusion: feeding it the two
    // standalone top lists reproduces hybridRrfTopK exactly (the slot
    // q164 puts the persisted-index probe into)
    val viaLegs = Invert.hybridRrfFuseLegs(
      Invert.bm25TopK(idx, lens, q, 3),
      Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 3),
      "vec_id", k = 5, rrfK = 60)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(viaLegs == fused)
  }

  test("readIndex is typed as inference types the index, after writeIndex and appendToIndex") {
    val dir = java.nio.file.Files.createTempDirectory("invert_reader").toString + "/index"
    def typedAsInference(): Unit = {
      val paths = FileMerge.snapshot(spark, dir).paths
      assert(Invert.readIndex(spark, dir).schema == spark.read.parquet(paths: _*).schema)
    }
    val first = (0L until 50L).map(i => (i, s"alpha w${i % 5}")).toDF("doc_id", "text")
    Invert.writeIndex(spark, Invert.postingLists(first, "doc_id", "text", 100L), dir, files = 2)
    typedAsInference()
    val batch = (100L until 120L).map(i => (i, "beta gamma")).toDF("doc_id", "text")
    assert(Invert.appendToIndex(spark, batch, "doc_id", "text", dir, blockDocs = 100L))
    typedAsInference()
  }

  /** [[Invert.hybridRrfFuseLegs]] as the Spark plan it replaced: each
    * leg ranked by [[Invert.rankedLeg]], the union's
    * [[Invert.rrfContributions]] summed per id.
    */
  private def sparkFusion(sparseTop: DataFrame, denseTop: DataFrame, k: Int, rrfK: Int): DataFrame = {
    val sparse = Invert.rankedLeg(
      sparseTop, "sparse", "doc_id", Seq(col("score_scaled").desc, col("doc_id")))
    val dense = Invert.rankedLeg(
      denseTop, "dense", "vec_id", Seq(col("cos_sim").desc, col("vec_id")))
    Invert.rrfContributions(sparse.unionByName(dense), rrfK)
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("leg") === "sparse", 1L).otherwise(0L)).as("in_sparse"),
        max(when(col("leg") === "dense", 1L).otherwise(0L)).as("in_dense"),
        sum(col("_contrib")).as("rrf_scaled"))
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
      .limit(k)
  }

  test("hybridRrfFuseLegs equals the Spark fusion on tied and NULL scores: rows, order, schema") {
    // a bm25TopK-shaped leg with tied scores
    val sparse = Seq((7L, 2L, 500L), (3L, 1L, 500L), (9L, 2L, 900L), (4L, 1L, 100L), (12L, 1L, 500L))
      .toDF("doc_id", "n_terms_hit", "score_scaled")
    // a (vec_id, cos_sim) leg with ties, a NULL, a NaN and both zeros
    // (-0.0 on the lower id: Spark ranks the two zeros as a tie)
    val dense = Seq((3L, Some(0.5)), (8L, Some(0.5)), (1L, None), (9L, Some(0.9)),
      (5L, Some(Double.NaN)), (2L, Some(-0.0)), (6L, Some(0.0)), (10L, Some(0.5)))
      .toDF("vec_id", "cos_sim")
    def same(s: DataFrame, d: DataFrame, k: Int, rrfK: Int): Unit = {
      val got = Invert.hybridRrfFuseLegs(s, d, "vec_id", k, rrfK)
      val want = sparkFusion(s, d, k, rrfK)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq, s"k=$k rrfK=$rrfK")
    }
    Seq((20, 60), (10, 0), (3, 1)).foreach { case (k, rrfK) => same(sparse, dense, k, rrfK) }
    // an INT sparse leg: the ids widen to BIGINT as the union widens them
    same(sparse.withColumn("doc_id", col("doc_id").cast("int")), dense, 20, 60)
    // lazy legs fuse as local ones do
    same(sparse.where(col("doc_id") > 0), dense.where(col("vec_id") > 0), 20, 60)
  }

  test("rrfContribution is rrfContributions' BIGINT, with its rank guard") {
    Seq(0, 1, 60, 1000).foreach { rrfK =>
      val ranks = (1L to 3000L) :+ ((1L << 20) - rrfK)
      val ranked = ranks.map(r => ("leg", r, r)).toDF("leg", "doc_id", "rank")
      val viaSpark = Invert.rrfContributions(ranked, rrfK)
        .select("rank", "_contrib").as[(Long, Long)].collect().toMap
      ranks.foreach(r => assert(Invert.rrfContribution(r, rrfK) == viaSpark(r), s"rank $r rrfK $rrfK"))
    }
    Seq(0L, -1L, (1L << 20) - 59).foreach { r =>
      val e = intercept[IllegalArgumentException](Invert.rrfContribution(r, 60))
      assert(e.getMessage.contains("rrfFuse: rank out of"), e.getMessage)
    }
  }
}
