package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Persisted IVF index (build-once/probe-many) + k-means training. */
class IvfIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def scratch(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_ivfspec_${tag}_" +
      ProcessHandle.current().pid()
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p), true)
    p
  }

  private def buildCorpusIndex(tag: String, files: Int): String = {
    val idx = scratch(tag)
    Similarity.ivfBuild(
      spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", idx, files = files)
    idx
  }

  private def queryVec = emb.where(col("vec_id") === 0L).select("embedding")

  test("indexed probe returns exactly the inline ivfTopK rows") {
    val idx = buildCorpusIndex("roundtrip", files = 8)
    val inline = Similarity
      .ivfTopK(
        emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        queryId = 0L, k = 10, nprobe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val indexed = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec,
        k = 10, nprobe = 4, excludeId = Some(0L))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(indexed.toSeq == inline.toSeq)
  }

  test("radius probe equals the top-k probe filtered at the threshold") {
    val idx = buildCorpusIndex("radius", files = 8)
    // with k = corpus size the top-k probe returns EVERY probed candidate;
    // the radius result must be exactly its >= minSim prefix
    val minSim = 0.2
    val all = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec,
        k = emb.count().toInt, nprobe = 4, excludeId = Some(0L))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val radius = Similarity
      .ivfRadiusIndexed(spark, idx, "vec_id", "embedding", queryVec,
        minSim = minSim, nprobe = 4, excludeId = Some(0L))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(radius.toSeq == all.takeWhile(_._2 >= minSim).toSeq)
    assert(radius.nonEmpty && radius.forall(_._2 >= minSim))
    // an impossible radius is empty but schema-stable, not an error.
    // Empty BY CONSTRUCTION, not by fixture separation (ADVICE r8): the
    // query is a synthetic vector absent from the corpus and the
    // threshold is derived strictly above the corpus's actual best
    // cosine against it — adding near-duplicate embeddings to the
    // fixture cannot break this case.
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val synth = Array.tabulate(dim)(i => if (i % 2 == 0) 1f else -1f)
    def cosTo(v: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until math.min(dim, v.length)).foreach { i =>
        d += synth(i).toDouble * v(i); na += synth(i).toDouble * synth(i)
        nb += v(i).toDouble * v(i)
      }
      if (na == 0 || nb == 0) -1.0 else d / math.sqrt(na * nb)
    }
    val maxSim = emb.select(col("embedding")).as[Array[Float]].collect().map(cosTo).max
    assert(maxSim < 1.0, "synthetic query must not be parallel to any corpus vector")
    val impossible = (maxSim + 1.0) / 2 // strictly above every corpus sim, <= 1
    val synthQ = Seq(Tuple1(synth)).toDF("embedding")
    val none = Similarity
      .ivfRadiusIndexed(spark, idx, "vec_id", "embedding", synthQ,
        minSim = impossible, nprobe = 4)
    assert(none.columns.toSeq == Seq("vec_id", "cos_sim") && none.count() == 0)
  }

  test("probe scans only the files whose centroid range intersects the probed buckets") {
    val idx = buildCorpusIndex("pruning", files = 8)
    val post = s"$idx/postings"
    val fs = new Path(post).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val allFiles = fs.listStatus(new Path(post))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName)
    assert(allFiles.length > 1, "pruning test needs a multi-file postings table")

    // probed bucket ids, recomputed independently of the operator: rank
    // stored centroids against the query vector by cosine
    val q = queryVec.as[Array[Float]].head()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until math.min(a.length, b.length)).foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val probed = spark.read.parquet(s"$idx/centroids")
      .as[(Long, Array[Float])].collect()
      .sortBy { case (cid, v) => (-cos(v, q), cid) }
      .take(1).map(_._1)

    val result = Similarity.ivfTopKIndexed(
      spark, idx, "vec_id", "embedding", queryVec, k = 5, nprobe = 1)
    val scanned = result.inputFiles.filter(_.contains("/postings/")).map(_.split('/').last)
    assert(scanned.nonEmpty && scanned.length < allFiles.length,
      s"probe scanned ${scanned.length} of ${allFiles.length} files — no pruning")
    // every scanned file's footer range must actually cover a probed bucket
    val ranges = FileMerge.fileRanges(spark, post, "centroid_id")
      .map(r => r.file -> r).toMap
    scanned.foreach { f =>
      val r = ranges(f)
      assert(!r.known || probed.exists(c => c >= r.lo && c <= r.hi),
        s"file $f (range ${r.lo}..${r.hi}) scanned but no probed bucket ${probed.mkString(",")} intersects")
    }
  }

  /** The crash state of a rebuild of `idx` into the content of `from`
    * (by default, identical content): the staged index (a copy of
    * `from`) and its empty manifest are written — the sub-tables
    * replace their namesakes — then `hide` sub-tables are moved aside
    * and `publish` staged ones moved in.
    */
  private def crashRebuild(
      idx: String, hide: Seq[String], publish: Seq[String], from: Option[String] = None): Unit = {
    val live = new Path(idx)
    val staging = new Path(idx + "_fmerge")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = live.getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(from.getOrElse(idx)), fs, staging, false, conf))
    fs.create(new Path(staging, "_touched"), true).close()
    hide.foreach(n => assert(fs.rename(new Path(live, n), new Path(live, "_old_" + n))))
    publish.foreach(n => assert(fs.rename(new Path(staging, n), new Path(live, n))))
  }

  test("a crashed index rebuild reads as committed; the next writer heals it") {
    val idx = buildCorpusIndex("recovery", files = 4)
    val before = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // live postings moved aside, its staged replacement not yet published
    crashRebuild(idx, hide = Seq("postings"), publish = Nil)
    val torn = tree(idx, idx + "_fmerge")
    val after = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before)
    assert(tree(idx, idx + "_fmerge") == torn, "the probe changed the index or its staging")
    // the next writer rolls the rebuild forward before its own commit
    Similarity.ivfCompact(spark, idx, targetFileBytes = 64L * 1024)
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$idx/postings")), "recovery should have published the postings")
    assert(!fs.exists(new Path(s"$idx/_old_postings")) && !fs.exists(new Path(idx + "_fmerge")))
  }

  test("a build that crashed mid-swap of the WHOLE index heals before the probe") {
    val idx = buildCorpusIndex("tornswap", files = 4)
    val before = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // ivfBuild's single commit crashed mid-publish: both sub-tables
    // moved aside, the new postings published, the new centroids not
    crashRebuild(idx, hide = Seq("postings", "centroids"), publish = Seq("postings"))
    val after = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before)
  }

  test("a replayed ivfAppend after ivfCompact writes nothing") {
    val idx = halfCorpusIndex("appendcompact")
    val odd = emb.where(col("vec_id") % 2 === 1)
    assert(Similarity.ivfAppend(spark, odd, "vec_id", "embedding", idx, files = 2,
      commitId = Some("b1")))
    Similarity.ivfCompact(spark, idx, targetFileBytes = 64L * 1024)
    val rows = spark.read.parquet(s"$idx/postings").count()
    assert(!Similarity.ivfAppend(spark, odd, "vec_id", "embedding", idx, files = 2,
      commitId = Some("b1")))
    assert(spark.read.parquet(s"$idx/postings").count() == rows)
  }

  test("a multi-row query is rejected instead of silently mixing similarities") {
    val idx = buildCorpusIndex("multiq", files = 2)
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(
        spark, idx, "vec_id", "embedding",
        emb.where(col("vec_id") < 2).select("embedding"), k = 5, nprobe = 2)
    }
  }

  // --- incremental maintenance: ivfAppend / ivfCompact -----------------

  private def halfCorpusIndex(tag: String): String = {
    val idx = scratch(tag)
    Similarity.ivfBuild(
      spark, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", idx, files = 4)
    idx
  }

  private def probe(idx: String) = Similarity
    .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec,
      k = 10, nprobe = 4, excludeId = Some(0L))
    .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("ivfAppend: appended vectors probe identically to a full build") {
    val idx = halfCorpusIndex("append")
    Similarity.ivfAppend(
      spark, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, files = 2)
    val full = buildCorpusIndex("appendfull", files = 4)
    assert(probe(idx) == probe(full))
  }

  // the batch an interrupted append would have staged: odd vectors
  // assigned under the index's stored centroids
  private def stageOddBatch(idx: String, staging: Path): Unit =
    emb.where(col("vec_id") % 2 === 1)
      .join(
        Similarity.ivfAssign(
          emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
          spark.read.parquet(s"$idx/centroids"), "centroid_id", "centroid"),
        "vec_id")
      .selectExpr("CAST(centroid_id AS LONG) AS centroid_id", "vec_id", "embedding")
      .write.mode("overwrite").parquet(staging.toString)

  test("an append that crashed before its manifest is unseen, after it seen; writers heal both") {
    val idx = halfCorpusIndex("appendcrash")
    val baseline = probe(idx)
    val post = s"$idx/postings"
    val staging = new Path(post + "_fmerge")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // crash BEFORE the manifest: staged data files, no _touched — the
    // batch never started committing; the probe must ignore it, leave
    // it in place, and return the pre-append result
    stageOddBatch(idx, staging)
    val unstarted = tree(idx)
    assert(probe(idx) == baseline)
    assert(tree(idx) == unstarted, "the probe changed the index or the append's staging")
    // the next writer discards it
    Similarity.ivfCompact(spark, idx, targetFileBytes = 64L * 1024)
    assert(!fs.exists(staging), "discarded staging should be gone")
    assert(probe(idx) == baseline)

    // crash AFTER the manifest: staged files + the staged replay marker
    // + _touched, commit never ran — the probe must already see the
    // whole append, data AND marker together
    stageOddBatch(idx, staging)
    fs.create(new Path(staging, "_append_committed_batch1"), true).close()
    fs.create(new Path(staging, "_touched"), true).close() // empty manifest
    val published = tree(idx)
    val appended = probe(idx)
    assert(appended != baseline)
    assert(appended == probe(buildCorpusIndex("appendcrashfull", files = 4)))
    assert(tree(idx) == published, "the probe changed the index or the append's staging")

    // the caller's retry of that same batch id rolls the append forward
    // and is then a detected replay: nothing written, still one posting
    // per vector
    val applied = Similarity.ivfAppend(
      spark, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", idx,
      files = 2, commitId = Some("batch1"))
    assert(!applied)
    assert(!fs.exists(staging), "rolled-forward staging should be gone")
    assert(fs.exists(new Path(post, "_append_committed_batch1")),
      "roll-forward must record the replay marker")
    assert(probe(idx) == appended)
  }

  test("ivfAppend with a commitId is exactly-once: the second call writes nothing") {
    val idx = halfCorpusIndex("appendreplay")
    val post = new Path(s"$idx/postings")
    val fs = post.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val odd = emb.where(col("vec_id") % 2 === 1)
    assert(Similarity.ivfAppend(
      spark, odd, "vec_id", "embedding", idx, files = 2, commitId = Some("b7")))
    val filesAfter = fs.listStatus(post).map(_.getPath.getName).toSet
    val resultAfter = probe(idx)
    assert(!Similarity.ivfAppend(
      spark, odd, "vec_id", "embedding", idx, files = 2, commitId = Some("b7")))
    assert(fs.listStatus(post).map(_.getPath.getName).toSet == filesAfter,
      "a replayed commitId must write no files")
    assert(probe(idx) == resultAfter)
  }

  test("ivfCompact restores disjoint clustering and pruning after appends") {
    val idx = halfCorpusIndex("compact")
    Similarity.ivfAppend(
      spark, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, files = 2)
    val before = probe(idx)
    val nFiles = Similarity.ivfCompact(spark, idx, targetFileBytes = 64L * 1024)
    assert(probe(idx) == before, "compaction must not change probe results")
    // post-compaction ranges must be pairwise disjoint again (equal keys
    // never split across range partitions, so ranges cannot even touch)
    val ranges = FileMerge.fileRanges(spark, s"$idx/postings", "centroid_id")
      .filter(r => r.known && r.lo <= r.hi) // drop empty files
      .sortBy(_.lo)
    assert(ranges.size <= nFiles)
    ranges.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.hi < b.lo, s"overlapping ranges after compact: $a vs $b")
      case _ => ()
    }
  }

  test("batch ANN for a single query equals the one-query probe") {
    val idx = buildCorpusIndex("batch", files = 8)
    val single = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec,
        k = 10, nprobe = 4, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Similarity
      .ivfTopKIndexedBatch(spark, idx, "vec_id", "embedding",
        emb.where(col("vec_id") === 0L).select("vec_id", "embedding"),
        "vec_id", "embedding", k = 10, nprobe = 4, excludeSelf = true)
    assert(batch.columns.toSeq == Seq("query_id", "vec_id", "cos_sim"))
    val rows = batch.collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == single)
  }

  test("batch ANN returns up to k neighbours for every query") {
    val idx = buildCorpusIndex("batchmulti", files = 8)
    val res = Similarity
      .ivfTopKIndexedBatch(spark, idx, "vec_id", "embedding",
        emb.where(col("vec_id") < 4).select("vec_id", "embedding"),
        "vec_id", "embedding", k = 5, nprobe = 4, excludeSelf = true)
      .collect()
    val perQuery = res.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery.keySet == Set(0L, 1L, 2L, 3L))
    assert(perQuery.values.forall(_ <= 5))
    // no query may see itself among its neighbours
    assert(res.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("batch radius for a single query equals the one-query radius probe") {
    val idx = buildCorpusIndex("batchradius", files = 8)
    val single = Similarity
      .ivfRadiusIndexed(spark, idx, "vec_id", "embedding", queryVec,
        minSim = 0.2, nprobe = 4, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Similarity
      .ivfRadiusIndexedBatch(spark, idx, "vec_id", "embedding",
        emb.where(col("vec_id") === 0L).select("vec_id", "embedding"),
        "vec_id", "embedding", minSim = 0.2, nprobe = 4, excludeSelf = true)
    assert(batch.columns.toSeq == Seq("query_id", "vec_id", "cos_sim"))
    assert(batch.collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq == single)
    assert(single.nonEmpty && single.forall(_._2 >= 0.2))
  }

  test("batch radius honours the threshold independently per query") {
    val idx = buildCorpusIndex("batchradiusmulti", files = 8)
    val res = Similarity
      .ivfRadiusIndexedBatch(spark, idx, "vec_id", "embedding",
        emb.where(col("vec_id") < 4).select("vec_id", "embedding"),
        "vec_id", "embedding", minSim = 0.3, nprobe = 4, excludeSelf = true)
      .collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getDouble(2) >= 0.3))
    // no query may see itself among its neighbours
    assert(res.forall(r => r.getLong(0) != r.getLong(1)))
    // each query's result agrees with its own single-query radius probe
    val perQuery = res.groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    (0L until 4L).foreach { qid =>
      val one = Similarity
        .ivfRadiusIndexed(spark, idx, "vec_id", "embedding",
          emb.where(col("vec_id") === qid).select("embedding"),
          minSim = 0.3, nprobe = 4, excludeId = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(perQuery.getOrElse(qid, Seq.empty) == one, s"query $qid mismatch")
    }
  }

  test("filtered probe: predicate on stored metadata, applied before the top-k cut") {
    val idx = scratch("filtered")
    Similarity.ivfBuild(
      spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", idx, files = 8,
      metaCols = Seq("label"))
    val got = Similarity
      .ivfTopKIndexedFiltered(
        spark, idx, "vec_id", "embedding", queryVec,
        k = 10, nprobe = 4, predicate = col("label") === 1, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty && got.size <= 10)
    // ground truth: the UNfiltered probe's candidate ranking restricted
    // to label=1 ids, then cut at k — filter-before-cut means the two
    // must agree exactly (the filtered result is never crowded out)
    val label1 = emb.where(col("label") === 1).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val unfiltered = Similarity
      .ivfTopKIndexed(spark, idx, "vec_id", "embedding", queryVec,
        k = 1000000, nprobe = 4, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(p => label1.contains(p._1)).take(10).toSeq
    assert(got == unfiltered)
    got.foreach { case (id, _) => assert(label1.contains(id)) }
    // the label predicate must reach the parquet scan of the postings
    val fs = new Path(s"$idx/postings").getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$idx/postings")))
    val plan = spark.read.parquet(s"$idx/postings").where(col("label") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,1)]")
      || plan.contains("PushedFilters: [EqualTo(label,1)"), plan.take(600))
  }

  test("ivfAppend preserves stored metadata: appended vectors stay filter-visible") {
    val idx = scratch("filtered_append")
    val half = emb.where(col("vec_id") < 250)
    Similarity.ivfBuild(
      spark, half, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", idx, files = 4,
      metaCols = Seq("label"))
    // a batch WITHOUT the stored metadata column must be rejected —
    // otherwise its vectors would carry NULL labels and silently
    // vanish from every filtered probe
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAppend(
        spark, emb.where(col("vec_id") >= 250).select("vec_id", "embedding"),
        "vec_id", "embedding", idx)
    }
    assert(e.getMessage.contains("label"))
    // with the column supplied, appended vectors answer filtered probes
    assert(Similarity.ivfAppend(
      spark, emb.where(col("vec_id") >= 250), "vec_id", "embedding", idx))
    val got = Similarity
      .ivfTopKIndexedFiltered(
        spark, idx, "vec_id", "embedding", queryVec,
        k = 1000000, nprobe = 16, predicate = col("label") === 1, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    val appendedLabel1 = emb.where(col("vec_id") >= 250 && col("label") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // nprobe = all 16 centroids -> every label-1 vector is a candidate
    assert(appendedLabel1.subsetOf(got), s"missing ${appendedLabel1 -- got}")
  }

  test("a NULL query vector yields a schema-stable empty result, not an NPE") {
    val idx = buildCorpusIndex("nullq", files = 2)
    val nullQ = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>) AS embedding")
    val res = Similarity.ivfTopKIndexed(
      spark, idx, "vec_id", "embedding", nullQ, k = 5, nprobe = 2)
    assert(res.columns.toSeq == Seq("vec_id", "cos_sim"))
    assert(res.count() == 0L)
  }

  test("a non-ARRAY<FLOAT> query column is rejected with a typed error") {
    val idx = buildCorpusIndex("badtype", files = 2)
    val doubleQ = spark.sql("SELECT ARRAY(CAST(1.0 AS DOUBLE)) AS embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(
        spark, idx, "vec_id", "embedding", doubleQ, k = 5, nprobe = 2)
    }
    assert(ex.getMessage.contains("ARRAY<FLOAT>"))
  }

  // deterministic 3-cluster synthetic set: tight cones around three
  // orthogonal axes — k-means must recover the grouping exactly
  private def syntheticClusters: org.apache.spark.sql.DataFrame = {
    val rows = (0 until 60).map { i =>
      val g = i % 3
      val v = Array.fill(6)(0.05f * ((i * 7 + 3) % 5))
      v(g * 2) = 10f + (i % 4)
      (i.toLong, v)
    }
    rows.toDF("id", "vec")
  }

  test("kmeansTrain converges and recovers well-separated clusters") {
    val data = syntheticClusters
    val res = Similarity.kmeansTrain(data, "id", "vec", k = 3, maxIter = 15)
    assert(res.converged, s"did not converge in ${res.iterations} iterations")
    assert(res.iterations < 15)
    val assign = Similarity
      .ivfAssign(data, "id", "vec", res.centroids, "centroid_id", "centroid")
      .as[(Long, Long)].collect().toMap
    assert(assign.size == 60)
    // same group → same centroid; different group → different centroid
    (0 until 60).foreach(i => assert(assign(i.toLong) == assign((i % 3).toLong)))
    assert(Set(assign(0L), assign(1L), assign(2L)).size == 3)
  }

  test("trained centroids feed the index: full probe equals brute force") {
    val data = syntheticClusters
    val res = Similarity.kmeansTrain(data, "id", "vec", k = 3, maxIter = 15)
    val idx = scratch("kmeans")
    Similarity.ivfBuild(spark, data, "id", "vec", res.centroids, "centroid_id", "centroid",
      idx, files = 3)
    val brute = Similarity.cosineTopK(data, "id", "vec", 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Similarity
      .ivfTopKIndexed(spark, idx, "id", "vec",
        data.where(col("id") === 0L).select("vec"), k = 5, nprobe = 3,
        excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == brute)
  }

  test("kmeans++ init beats lowest-id init when ids correlate with content") {
    // ids sorted BY CLUSTER (ingestion order): the k lowest ids all fall
    // in cluster 0, so the legacy init seeds all three centroids inside
    // one cone and Lloyd gets stuck merging the other two
    val rows = (0 until 60).map { i =>
      val g = i / 20 // ids 0-19 → cluster 0, 20-39 → 1, 40-59 → 2
      val v = Array.fill(6)(0.05f * ((i * 7 + 3) % 5))
      v(g * 2) = 10f + (i % 4)
      (i.toLong, v)
    }
    val data = rows.toDF("id", "vec")
    def inertia(centroids: org.apache.spark.sql.DataFrame): Double =
      data
        .join(
          Similarity.ivfAssign(data, "id", "vec", centroids, "centroid_id", "centroid"), "id")
        .join(centroids, "centroid_id")
        .select(sum(lit(1.0) - Similarity.cosine(col("vec"), col("centroid"))))
        .head().getDouble(0)
    val pp = Similarity.kmeansTrain(data, "id", "vec", k = 3, maxIter = 15)
    val legacy = Similarity.kmeansTrain(data, "id", "vec", k = 3, maxIter = 15, init = "lowest-id")
    val (iPp, iLegacy) = (inertia(pp.centroids), inertia(legacy.centroids))
    assert(iPp < iLegacy,
      s"k-means++ init ($iPp) should beat lowest-id init ($iLegacy) on ingestion-ordered clusters")
    // and the ++ run must fully recover the three cones
    val assign = Similarity
      .ivfAssign(data, "id", "vec", pp.centroids, "centroid_id", "centroid")
      .as[(Long, Long)].collect().toMap
    assert((0 until 60).map(i => assign(i.toLong)).toSet.size == 3)
    (0 until 60).foreach(i => assert(assign(i.toLong) == assign(((i / 20) * 20).toLong)))
  }

  test("kmeansUpdate: per-dimension means over the assigned vectors") {
    val data = Seq(
      (0L, Array(1f, 0f)), (1L, Array(3f, 0f)), // → centroid 0 (x-axis)
      (2L, Array(0f, 2f)), (3L, Array(0f, 4f))  // → centroid 1 (y-axis)
    ).toDF("id", "vec")
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("cid", "cvec")
    val got = Similarity
      .kmeansUpdate(data, "id", "vec", cents, "cid", "cvec")
      .as[(Long, Long, Array[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    assert(got(0L) == ((2L, Seq(2.0, 0.0))))
    assert(got(1L) == ((2L, Seq(0.0, 3.0))))
  }

  // ----------------------------------------------------------------- IVF×PQ

  private def buildIvfPq(tag: String, files: Int): String = {
    val idx = scratch(tag)
    Similarity.ivfPqBuild(
      spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = files)
    idx
  }

  test("ivfPq: exhaustive probe + full shortlist recovers the exact top-k") {
    // with every bucket probed and a shortlist wider than the corpus,
    // the ADC stage cannot drop a true neighbour — the exact re-rank
    // must return brute force's answer exactly
    val idx = buildIvfPq("pqexact", files = 4)
    val n = emb.count().toInt
    val got = Similarity.ivfPqTopK(
      spark, idx, "vec_id", queryVec,
      m = 4, topK = 10, nprobe = 16, shortlist = n,
      rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute)
  }

  test("ivfPq probe scans only the probed buckets' postings files; no vectors read") {
    val idx = buildIvfPq("pqprune", files = 8)
    // the probe reads the postings once, inside the call, to select its
    // shortlist: record the files of every scan it executes
    val read = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.analyzed.foreach {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
          fs.location.inputFiles.foreach(read.add)
        case _ =>
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.ivfPqTopK(
        spark, idx, "vec_id", queryVec,
        m = 4, topK = 10, nprobe = 2, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L)).collect()
      org.apache.spark.ListenerBusProbe.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val probed = spark.read.parquet(s"$idx/centroids")
      .select(col("centroid_id"),
        graft.functions.VectorFunctions.vec_cosine(
          col("centroid"),
          typedLit(queryVec.head().getSeq[Float](0).toArray)).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id"))
      .limit(2).select("centroid_id").as[Long].collect().toSeq
    val scanned = read.toArray(Array.empty[String]).toSeq.distinct
      .filter(_.contains("/postings/")).map(_.split('/').last)
    assert(scanned.nonEmpty)
    val ranges = FileMerge.fileRanges(spark, s"$idx/postings", "centroid_id")
      .map(r => r.file -> r).toMap
    scanned.foreach { f =>
      val r = ranges(f)
      assert(!r.known || probed.exists(c => c >= r.lo && c <= r.hi),
        s"file $f (range ${r.lo}..${r.hi}) scanned but no probed bucket intersects")
    }
    // the postings carry codes plus three per-vector SCALARS (exact
    // norm, reconstruction norm, quantization residual — what the
    // indexed semantic dedup's pairwise bound needs) — the index never
    // stores a vector
    val postCols = spark.read.parquet(s"$idx/postings").columns.toSet
    assert(postCols == Set("centroid_id", "vec_id", "codes", "nrm", "qn", "r"))
  }

  test("ivfPq: a build that crashed mid-swap of the whole index heals before the probe") {
    val idx = buildIvfPq("pqtorn", files = 4)
    def probe() = Similarity.ivfPqTopK(
      spark, idx, "vec_id", queryVec,
      m = 4, topK = 5, nprobe = 4, shortlist = 40,
      rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val before = probe()
    // all three sub-tables moved aside, only the codebook published
    crashRebuild(idx, hide = Seq("postings", "centroids", "codebook"), publish = Seq("codebook"))
    assert(probe() == before)
  }

  test("ivfPq: a probe of a rebuild torn mid-publish returns the new index and changes nothing") {
    val idx = scratch("pqtornnew")
    Similarity.ivfPqBuild(
      spark, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = 4)
    val full = buildIvfPq("pqtornfull", files = 4)
    def probe(path: String) = Similarity.ivfPqTopK(
      spark, path, "vec_id", queryVec,
      m = 4, topK = 5, nprobe = 4, shortlist = 40,
      rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val expected = probe(full)
    assert(probe(idx) != expected)
    // the rebuild into the full corpus crashed mid-publish: all three
    // sub-tables moved aside, only the new codebook published
    crashRebuild(idx, hide = Seq("postings", "centroids", "codebook"), publish = Seq("codebook"),
      from = Some(full))
    val torn = tree(idx, idx + "_fmerge")
    assert(probe(idx) == expected)
    assert(tree(idx, idx + "_fmerge") == torn, "the probe changed the index or its staging")
  }

  test("ivfPqAppend: appended vectors probe identically to a full build; exactly-once replay") {
    val idx = scratch("pqappend")
    Similarity.ivfPqBuild(
      spark, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = 4, trainOn = Some(emb))
    assert(Similarity.ivfPqAppend(
      spark, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", idx,
      files = 2, commitId = Some("b1")))
    // replaying the committed id writes nothing
    assert(!Similarity.ivfPqAppend(
      spark, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", idx,
      files = 2, commitId = Some("b1")))
    Similarity.ivfCompact(spark, idx, targetFileBytes = 4L * 1024 * 1024)
    def probe(path: String) = Similarity.ivfPqTopK(
      spark, path, "vec_id", queryVec,
      m = 4, topK = 10, nprobe = 4, shortlist = 40,
      rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val grown = probe(idx)
    val full = buildIvfPq("pqappendfull", files = 4)
    assert(grown == probe(full), "incremental growth must not change a neighbor")
  }

  /** Every sub-table of the index at `idx`, as its snapshot resolves
    * it: the snapshot reader's schema is what inference gives the same
    * paths, nullability and metadata included.
    */
  private def assertTypedAsInference(idx: String): Unit = {
    val index = FileMerge.snapshot(spark, idx)
    val subs = Seq("postings", "centroids", "codebook")
      .filter(n => index.entries.exists(_.getPath.getName == n))
    assert(subs.contains("postings") && subs.contains("centroids"))
    subs.foreach { n =>
      val t = FileMerge.snapshot(spark, index.pathOf(n))
      assert(FileMerge.readTable(spark, t).schema == spark.read.parquet(t.paths: _*).schema, s"$idx: $n")
    }
  }

  test("the snapshot reader types IVF and IVF-PQ sub-tables as inference does, torn ones included") {
    val odd = emb.where(col("vec_id") % 2 === 1)
    val ivf = halfCorpusIndex("readerivf")
    assertTypedAsInference(ivf)
    Similarity.ivfAppend(spark, odd, "vec_id", "embedding", ivf, files = 2)
    assertTypedAsInference(ivf)
    val pq = scratch("readerpq")
    Similarity.ivfPqBuild(spark, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", m = 4, k = 8, indexPath = pq, files = 4)
    assertTypedAsInference(pq)
    Similarity.ivfPqAppend(spark, odd, "vec_id", "embedding", pq, files = 2)
    assertTypedAsInference(pq)
    // a rebuild torn mid-publish: the sub-tables resolve into staging
    crashRebuild(pq, hide = Seq("postings", "centroids", "codebook"), publish = Seq("codebook"))
    assert(FileMerge.snapshot(spark, pq).torn)
    assertTypedAsInference(pq)
    // an append torn after its manifest: the postings list their files
    val post = s"$ivf/postings"
    val staging = new Path(post + "_fmerge")
    stageOddBatch(ivf, staging)
    staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new Path(staging, "_touched"), true).close()
    assert(FileMerge.snapshot(spark, post).torn)
    assertTypedAsInference(ivf)
  }

  test("the driver (dot, norm2) table is the Spark dotD/norm2D fold, bit for bit") {
    val m = 4
    val cb = Similarity.pqBuild(emb, "vec_id", "embedding", m, k = 8)
    val rows = cb.collect().toSeq
    val queries = emb.where(col("vec_id") < 5).orderBy("vec_id").select("embedding")
      .as[Array[Float]].collect()
    assert(queries.length == 5)
    queries.foreach { q =>
      val d = q.length / m
      val qsubs = Similarity.subspaces(Seq(Tuple2(0L, q)).toDF("_qid", "q"), "_qid", "q", m, d)
      val viaSpark = cb
        .join(broadcast(qsubs.select(col("sub"), col("subvec").as("_qv"))), "sub")
        .select(col("sub"), col("cid"),
          Similarity.dotD(col("cvec"), col("_qv")), Similarity.norm2D(col("cvec")))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
        .toMap
      val driver = Similarity.adcDotNorm2Table(rows, q, m, d)
      assert(driver.nonEmpty && driver.keySet == viaSpark.keySet)
      // == on the doubles: no tolerance
      driver.foreach { case (key, (dt, n2)) =>
        val (sdt, sn2) = viaSpark(key)
        assert(dt == sdt && n2 == sn2, s"$key: driver ($dt, $n2) vs Spark ($sdt, $sn2)")
      }
    }
  }

  test("the driver SDC table is the Spark dotD fold over the codebook self-join, bit for bit") {
    val built = Similarity.pqBuild(emb, "vec_id", "embedding", 4, k = 8)
    val rows = built.collect().toSeq
    val cb = spark.createDataFrame(java.util.Arrays.asList(rows: _*), built.schema)
    val viaSpark = cb.select(col("sub"), col("cid").as("_ca"), col("cvec").as("_va"))
      .join(cb.select(col("sub"), col("cid").as("_cb"), col("cvec").as("_vb")), "sub")
      .select(col("sub"), col("_ca"), col("_cb"), Similarity.dotD(col("_va"), col("_vb")))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val driver = Similarity.sdcDotTable(rows)
    assert(driver.size == 4 * 8 * 8 && driver.keySet == viaSpark.keySet)
    // == on the doubles: no tolerance
    driver.foreach { case (key, d) =>
      assert(d == viaSpark(key), s"$key: driver $d vs Spark ${viaSpark(key)}")
    }
  }

  test("denseLookup builds the array and map literals typedLit builds, value and type") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, MapType}
    // the array and map literals of `c`, resolved over a code column
    def literals(c: org.apache.spark.sql.Column) =
      Seq(1L).toDF("c").select(c).queryExecution.analyzed.expressions.flatMap(_.collect {
        case l @ Literal(_, _: ArrayType | _: MapType) => (l.dataType, l.sql)
      })
    def same(got: org.apache.spark.sql.Column, want: org.apache.spark.sql.Column) = {
      val g = literals(got)
      assert(g.size == 1 && g == literals(want))
    }
    val code = col("c")
    val dist = Map(0L -> 0.5, 1L -> -1.25, 3L -> 2.0)
    same(Similarity.denseLookup(dist, Similarity.DistCell, code),
      typedLit((0L to 3L).map(dist.get)))
    val pairs = Map(0L -> ((0.5, 1.0)), 2L -> ((-1.5, 2.5)))
    same(Similarity.denseLookup(pairs, Similarity.PairCell, code),
      typedLit((0L to 2L).map(pairs.get)))
    // sparse codes: the map-literal fallback
    val sparseDist = Map(0L -> 0.5, 9L -> 1.0)
    same(Similarity.denseLookup(sparseDist, Similarity.DistCell, code), typedLit(sparseDist))
    val sparsePairs = Map(0L -> ((0.5, 1.0)), 9L -> ((1.0, 2.0)))
    same(Similarity.denseLookup(sparsePairs, Similarity.PairCell, code), typedLit(sparsePairs))
  }

  test("ivfPq: tie-inclusive shortlist hands whole code-equivalence classes to the re-rank") {
    // the RECALL_r15 regression shape, miniaturized: two tight clusters
    // whose members all CODE identically (codebook trained on the two
    // exact base vectors, noise far smaller than the inter-base
    // distance), so ADC — a function of codes alone — is ONE value
    // across the query's entire cluster. A row-count shortlist cut of 5
    // would keep the 5 smallest IDS of that ~99-member class; the
    // tie-inclusive cut must surface the class whole, so the exact
    // re-rank returns brute force's answer — which is, by construction
    // (noise amplitude shrinking with id), the LARGEST even ids.
    val dim = 8
    def vec(id: Int): Array[Float] = {
      val base = Array.tabulate(dim)(i =>
        if ((id % 2 == 0) == (i < 4)) 1f else 0f)
      if (id >= 2) base(0) = base(0) + 1e-3f * (300 - id)
      base
    }
    val tiny = (0 until 200).map(id => (id.toLong, vec(id))).toDF("vec_id", "embedding")
    val idx = scratch("pqties")
    Similarity.ivfPqBuild(
      spark, tiny, "vec_id", "embedding",
      tiny.where(col("vec_id") < 2), "vec_id", "embedding",
      m = 4, k = 2, indexPath = idx, files = 2,
      trainOn = Some(tiny.where(col("vec_id") < 2)))
    // the fixture really is one tie class bigger than the shortlist:
    // every cluster-0 candidate shares one code array
    val post = spark.read.parquet(s"$idx/postings")
    val clusterCodes = post.where(col("vec_id") % 2 === 0 && col("vec_id") =!= 0L)
      .select(col("codes").cast("string")).distinct().count()
    assert(clusterCodes == 1L, "fixture drifted: cluster-0 codes no longer tie")
    // the quantized-cosine score is a pure function of the codes (dot
    // over the reconstruction norm, both cell-constant), so the whole
    // cluster ties at one adc and only the RANK cut surfaces it whole
    val got = Similarity.ivfPqTopK(
      spark, idx, "vec_id", tiny.where(col("vec_id") === 0L).select("embedding"),
      m = 4, topK = 5, nprobe = 1, shortlist = 5,
      rerank = tiny, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.cosineTopK(tiny, "vec_id", "embedding", queryId = 0L, k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == brute, "tie-inclusive shortlist must recover brute force here")
    assert(got == Seq(198L, 196L, 194L, 192L, 190L),
      "expected the smallest-noise (largest even) ids — a row-count cut would return 2,4,6,8,10")
  }

  /** The tie-class fixture above, persisted: 200 vectors in two tight
    * clusters whose members code identically (m = 4, k = 2, two files),
    * and the vectors as a parquet table.
    */
  private def tieClassIndex(tag: String): (String, org.apache.spark.sql.DataFrame) = {
    val dim = 8
    def vec(id: Int): Array[Float] = {
      val base = Array.tabulate(dim)(i =>
        if ((id % 2 == 0) == (i < 4)) 1f else 0f)
      if (id >= 2) base(0) = base(0) + 1e-3f * (300 - id)
      base
    }
    val idx = scratch(tag)
    (0 until 200).map(id => (id.toLong, vec(id))).toDF("vec_id", "embedding")
      .write.parquet(s"${idx}_vecs")
    val tiny = spark.read.parquet(s"${idx}_vecs")
    Similarity.ivfPqBuild(
      spark, tiny, "vec_id", "embedding",
      tiny.where(col("vec_id") < 2), "vec_id", "embedding",
      m = 4, k = 2, indexPath = idx, files = 2,
      trainOn = Some(tiny.where(col("vec_id") < 2)))
    (idx, tiny)
  }

  test("ivfPq: a one-pass shortlist past its bound takes the distributed path, with the same rows") {
    val (idx, tiny) = tieClassIndex("pqbound")
    // a score that is a function of the codes, as ADC is: the two
    // clusters are two tie classes of about 100 rows each
    val scored = spark.read.parquet(s"$idx/postings").where(col("vec_id") =!= 0L)
      .select(col("vec_id"), hash(col("codes")).cast("double").as("_adcr"))
    val best = scored.agg(max(col("_adcr"))).head().getDouble(0)
    val bestClass = scored.where(col("_adcr") === best).select("vec_id").as[Long].collect().toSet
    assert(bestClass.size >= 99)
    // a cut of 5 keeps the whole best class; a bound of 8 rows over the
    // two files cannot hold it, and the selection says so
    val kept = Similarity.topNTies(scored, 5, 1000000L)
    assert(kept.map(_.map(_.getLong(0)).toSet).contains(bestClass))
    assert(Similarity.topNTies(scored, 5, 8L).isEmpty)
    def probe(bound: Long) = Similarity.ivfPqProbe(
      spark, idx, "vec_id", tiny.where(col("vec_id") === 0L).select("embedding"),
      m = 4, topK = 5, nprobe = 1, shortlist = 5,
      rerank = tiny, rerankVecCol = "embedding", excludeId = Some(0L), driverBound = bound)
    def localShortlists(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.size
    val (onePass, distributed) = (probe(1000000L), probe(8L))
    assert(localShortlists(onePass) == 1 && localShortlists(distributed) == 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val brute = Similarity.cosineTopK(tiny, "vec_id", "embedding", queryId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(distributed) == rows(onePass))
    assert(rows(onePass).map(r => (r._1, r._3)) == brute)
  }

  test("ivfPq: a starved probe strips its sentinel rows after the cut") {
    // twelve vectors in two clusters, every candidate probed, a
    // shortlist past the candidate count: the cut keeps every row. The
    // odd cluster's code of subspace 1 is then dropped from the stored
    // codebook, so its rows score the -2 sentinel; they reach the cut,
    // and only the even cluster may reach the re-rank
    val dim = 8
    def vec(id: Int): Array[Float] = {
      val base = Array.tabulate(dim)(i => if ((id % 2 == 0) == (i < 4)) 1f else 0f)
      if (id >= 2) base(0) = base(0) + 1e-2f * (20 - id)
      base
    }
    val idx = scratch("pqstarved")
    (0 until 12).map(id => (id.toLong, vec(id))).toDF("vec_id", "embedding")
      .write.parquet(s"${idx}_vecs")
    val tiny = spark.read.parquet(s"${idx}_vecs")
    Similarity.ivfPqBuild(
      spark, tiny, "vec_id", "embedding",
      tiny.where(col("vec_id") < 2), "vec_id", "embedding",
      m = 4, k = 2, indexPath = idx, files = 2,
      trainOn = Some(tiny.where(col("vec_id") < 2)))
    val oddCode = spark.read.parquet(s"$idx/postings").where(col("vec_id") === 1L)
      .select(col("codes").getItem(1)).head().getLong(0)
    val cb = spark.read.parquet(s"$idx/codebook")
    val kept = cb.collect().filterNot(r =>
      r.getAs[Int]("sub") == 1 && r.getAs[Long]("cid") == oddCode)
    assert(kept.length == cb.count() - 1)
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), cb.schema)
      .write.mode("overwrite").parquet(s"$idx/codebook")
    val got = Similarity.ivfPqTopK(
      spark, idx, "vec_id", tiny.where(col("vec_id") === 0L).select("embedding"),
      m = 4, topK = 8, nprobe = 2, shortlist = 20,
      rerank = tiny, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    // the rows the probe returned before its shortlist took one pass
    assert(got == Seq(
      (10L, 1.0, 0.999109), (8L, 1.0, 0.99873), (6L, 1.0, 0.998289),
      (4L, 1.0, 0.997788), (2L, 1.0, 0.99723)))
  }

  test("ivfPqShortlistFor: population-scaled sizing; 1x-population probe equals brute force") {
    val idx = buildIvfPq("pqsize", files = 4)
    val n = emb.count()
    val nCent = spark.read.parquet(s"$idx/centroids").count()
    val perBucket = math.ceil(n.toDouble / nCent)
    // the arithmetic: max(minFactor·topK, ceil(frac·nprobe·perBucket))
    assert(Similarity.ivfPqShortlistFor(spark, idx, topK = 10, nprobe = 4) ==
      math.max(40L, math.ceil(0.25 * 4 * perBucket).toLong).toInt)
    // frac = 1.0 at full nprobe re-ranks every probed candidate exactly:
    // the probe must return brute force's answer (the guarantee the
    // sizing rule's 1x row prices)
    val full = Similarity.ivfPqShortlistFor(
      spark, idx, topK = 10, nprobe = nCent.toInt, frac = 1.0)
    assert(full >= n.toInt - 1)
    val got = Similarity.ivfPqTopK(
      spark, idx, "vec_id", queryVec,
      m = 4, topK = 10, nprobe = nCent.toInt, shortlist = full,
      rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute)
    intercept[IllegalArgumentException](
      Similarity.ivfPqShortlistFor(spark, idx, topK = 0, nprobe = 4))
  }

  test("ivfPqTopKBatch: equals per-query probes; brute force at exhaustive settings; off-broadcast paths match") {
    val idx = buildIvfPq("pqbatch", files = 4)
    val qs = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    def batch(dtCap: Long) = Similarity.ivfPqTopKBatch(
      spark, idx, "vec_id", qs, "vec_id", "embedding",
      m = 4, topK = 10, nprobe = 4, shortlist = 40,
      rerank = emb, rerankVecCol = "embedding", excludeSelf = true,
      maxBroadcastDtRows = dtCap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val got = batch(1L << 22)
    val singles = (0L until 3L).flatMap { qid =>
      Similarity.ivfPqTopK(
        spark, idx, "vec_id", emb.where(col("vec_id") === qid).select("embedding"),
        m = 4, topK = 10, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding", excludeId = Some(qid))
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    }
    assert(got == singles,
      "batch probe must return exactly the per-query single probes' rows")
    // the dot-table shuffle path (dt past its broadcast cap) is value-identical
    assert(batch(0L) == singles)
    // exhaustive probe + full shortlist recovers brute force per query
    val n = emb.count().toInt
    val full = Similarity.ivfPqTopKBatch(
      spark, idx, "vec_id", qs, "vec_id", "embedding",
      m = 4, topK = 10, nprobe = 16, shortlist = n,
      rerank = emb, rerankVecCol = "embedding", excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val brute = (0L until 3L).flatMap { qid =>
      Similarity.cosineTopK(emb, "vec_id", "embedding", queryId = qid, k = 10)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(full == brute)
  }

  test("ivfPqTopKBatch: degenerate query rows raise with counts instead of vanishing") {
    // the single-query face types an EMPTY frame for a null query and
    // requires a non-zero norm; in a batch those rows would silently
    // disappear while other queries return rows — a dedup sweep would
    // read the missing query as "no neighbors" — so the batch face
    // must refuse the whole batch loudly
    val idx = buildIvfPq("pqbatchdeg", files = 2)
    val good = emb.where(col("vec_id") < 2).select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    def run(qs: org.apache.spark.sql.DataFrame) = Similarity.ivfPqTopKBatch(
      spark, idx, "vec_id", qs, "vec_id", "embedding",
      m = 4, topK = 5, nprobe = 4, shortlist = 40,
      rerank = emb, rerankVecCol = "embedding")
    val nullVec = good.unionByName(
      Seq((99L, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
    val e1 = intercept[IllegalArgumentException](run(nullVec))
    assert(e1.getMessage.contains("null embedding"), e1.getMessage)
    val zeroVec = good.unionByName(
      Seq((98L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding"))
    val e2 = intercept[IllegalArgumentException](run(zeroVec))
    assert(e2.getMessage.contains("zero-norm"), e2.getMessage)
    val nullId = good.unionByName(
      emb.where(col("vec_id") === 5L)
        .select(lit(null).cast("long").as("vec_id"), col("embedding")))
    val e3 = intercept[IllegalArgumentException](run(nullId))
    assert(e3.getMessage.contains("null vec_id"), e3.getMessage)
    val shortVec = good.unionByName(
      Seq((97L, Array.fill(dim / 2)(0.5f))).toDF("vec_id", "embedding"))
    val e4 = intercept[IllegalArgumentException](run(shortVec))
    assert(e4.getMessage.contains("vector length"), e4.getMessage)
  }

  test("ivfPq: contract guards and the NULL query") {
    val idx = buildIvfPq("pqguards", files = 2)
    intercept[IllegalArgumentException] { // multi-row query
      Similarity.ivfPqTopK(
        spark, idx, "vec_id", emb.where(col("vec_id") < 2).select("embedding"),
        m = 4, topK = 5, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding")
    }
    intercept[IllegalArgumentException] { // shortlist below topK
      Similarity.ivfPqTopK(
        spark, idx, "vec_id", queryVec,
        m = 4, topK = 10, nprobe = 4, shortlist = 5,
        rerank = emb, rerankVecCol = "embedding")
    }
    intercept[IllegalArgumentException] { // wrong query column type
      Similarity.ivfPqTopK(
        spark, idx, "vec_id", Seq(1L).toDF("embedding"),
        m = 4, topK = 5, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding")
    }
    val empty = Similarity.ivfPqTopK(
      spark, idx, "vec_id",
      Seq(Option.empty[Array[Float]]).toDF("embedding"),
      m = 4, topK = 5, nprobe = 4, shortlist = 40,
      rerank = emb, rerankVecCol = "embedding")
    assert(empty.columns.toSeq == Seq("vec_id", "adc", "cos_sim"))
    assert(empty.count() == 0L)
  }

  test("semDedupIndexed: identical keep set to semDedup at several thresholds") {
    val idx = buildIvfPq("semidx", files = 4)
    for (th <- Seq(0.3, 0.45, 0.7)) {
      val direct = Similarity.semDedup(
        emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding", threshold = th)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      val indexed = Similarity.semDedupIndexed(
        spark, emb, "vec_id", "embedding", idx, threshold = th)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(indexed == direct, s"threshold $th: indexed dedup diverged")
      // non-degenerate at the q89 threshold: both kept and dropped exist
      if (th == 0.45) {
        assert(direct.exists(_._3) && direct.exists(!_._3))
      }
    }
  }

  test("semDedupIndexed: candidate scan reads ONLY index files (no lake)") {
    val idx = buildIvfPq("semfiles", files = 4)
    val cand = Similarity.semDedupCandidates(
      spark, idx, "vec_id", threshold = 0.45)
    val files = cand.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("/postings/") || f.contains("/codebook/")),
      s"candidate scan read outside the index: ${files.filterNot(f =>
        f.contains("/postings/") || f.contains("/codebook/")).mkString(", ")}")
    // on THIS fixture (random unit-ish vectors, k = 8 on 16-dim
    // subspaces) the quantization residuals dominate the bound
    // (r ≈ 0.93), so ub > 1 for every pair and nothing prunes —
    // honest PQ behavior, and exactly why the keep set stays exact:
    // everything gets rescored. The pruning power is asserted below on
    // an exactly-quantizable corpus.
    assert(cand.count() ==
      spark.read.parquet(s"$idx/postings")
        .groupBy("centroid_id").count()
        .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
        .head().getLong(0))
  }

  test("semDedupCandidates: tight codebook prunes the pair space to the true dups") {
    // four orthogonal one-hot patterns per 16-dim subspace, rotated by
    // id: vectors with id ≡ id' (mod 4) agree on EVERY subspace
    // (cos = 1), all others on NONE (cos = 0). k = 8 Lloyd recovers the
    // four patterns exactly (means of identical subvectors), so r = 0
    // and the Cauchy–Schwarz bound collapses to the true cosine — the
    // candidate set must be exactly the cos-1 pairs, a massive prune.
    val dim = 64
    val synth = (0L until 64L).map { id =>
      val v = Array.fill(dim)(0f)
      (0 until 4).foreach(s => v(s * 16 + ((id + s) % 4).toInt) = 1f)
      (id, v)
    }.toDF("vec_id", "embedding")
    val idx = scratch("semtight")
    // only TWO coarse centroids: classes 0 and 1 get their own cluster,
    // classes 2 and 3 are equidistant (cos 0) from both and tie-break
    // into cluster 0 — so cluster 0 holds three classes and its pair
    // space is mostly cos-0 pairs the bound must prune
    Similarity.ivfPqBuild(
      spark, synth, "vec_id", "embedding",
      synth.where(col("vec_id") < 2), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = 2, iters = 4)
    // residuals must be zero: the codebook represents the corpus exactly
    val maxR = spark.read.parquet(s"$idx/postings").agg(max(col("r"))).head().getDouble(0)
    assert(maxR < 1e-6, s"expected exact quantization, max residual $maxR")
    val cand = Similarity.semDedupCandidates(spark, idx, "vec_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val within = spark.read.parquet(s"$idx/postings")
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (a, ca) <- within; (b, cb) <- within
      if a < b && ca == cb && (a % 4) == (b % 4) // same cluster AND cos = 1
    } yield (a, b)).toSet
    val allWithin = (for {
      (a, ca) <- within; (b, cb) <- within if a < b && ca == cb
    } yield (a, b)).toSet
    assert(cand == expected, "tight-codebook candidates must be exactly the cos-1 pairs")
    assert(cand.size < allWithin.size,
      s"the prune removed nothing (${cand.size} of ${allWithin.size})")
    // and the end-to-end keep set still matches the raw-vector dedup
    val direct = Similarity.semDedup(
      synth, "vec_id", "embedding",
      synth.where(col("vec_id") < 2), "vec_id", "embedding", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val indexed = Similarity.semDedupIndexed(
      spark, synth, "vec_id", "embedding", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(indexed == direct)
  }

  test("ivfPqDriftReport: in-distribution batch ~1.0, drifted batch crosses") {
    val idx = buildIvfPq("drift", files = 4)
    // in-distribution: a slice of the corpus the codebook trained on
    val same = Similarity.ivfPqDriftReport(
      spark, emb.where(col("vec_id") % 7 === 0), "vec_id", "embedding", idx)
      .head()
    val sameRatio = same.getDouble(3)
    assert(sameRatio > 0.5 && sameRatio < 1.5,
      s"in-distribution drift ratio should sit near 1.0, got $sameRatio")
    // drifted: vectors far outside the trained distribution (the corpus
    // is unit-ish floats; scale and shift break every subspace centroid)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val drifted = spark.range(100000, 100040)
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(1, $dim), i -> CAST(10.0 + pmod(id * i, 17) AS FLOAT))")
          .as("embedding"))
    val far = Similarity.ivfPqDriftReport(
      spark, drifted, "vec_id", "embedding", idx).head()
    assert(far.getLong(0) == 40L)
    assert(far.getDouble(3) > sameRatio * 2,
      s"drifted batch ratio ${far.getDouble(3)} did not cross (baseline $sameRatio)")
  }
}
