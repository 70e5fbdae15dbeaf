package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationDriverSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 12-token sentences; the near-dup twin changes only the final token
  private val DocA = "the quick brown fox jumps over the lazy dog near the river"
  private val DocANear = "the quick brown fox jumps over the lazy dog near the creek"
  private val DocB = "pack my box with five dozen liquor jugs before the long trip"
  private val Bench = "sphinx of black quartz judge my vow in the quiet dark night"
  private val WithPii =
    "contact us at alice@example.com for the complete shipping manifest today"

  private def benchDf = Seq((900L, Bench)).toDF("doc_id", "text")

  test("full pipeline: each stage drops exactly its targets, all stages logged") {
    val root = Files.createTempDirectory("curation").toString
    val docs = Seq(
      (1L, DocA),
      (2L, DocA), //   exact dup of 1      → dropped by dedup
      (3L, DocANear), // near dup of 1     → dropped by dedup
      (4L, DocB),
      (5L, Bench), //  benchmark text      → dropped by decontaminate
      (6L, "too short"), //                → dropped by quality (min tokens)
      (7L, WithPii) //                     → kept, email redacted
    ).toDF("doc_id", "text")

    val res = CurationDriver.run(
      spark, docs, benchDf, CurationDriver.Config(root = root))

    assert(res.records.map(_.job_status).forall(_ == "SUCCESS"), res.records)
    assert(res.stageCounts == Seq(
      "raw" -> 7L, "dedup" -> 5L, "clean" -> 4L, "quality" -> 3L, "packed" -> 3L))

    val packed = spark.read.parquet(res.finalPath)
    assert(packed.columns.toSet ==
      Set("doc_id", "text", "n_tokens", "train_pos", "shard", "bin"))
    val byId = packed.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(byId.keySet == Set(1L, 4L, 7L))
    assert(byId(7L).contains("<EMAIL>") && !byId(7L).contains("alice@example.com"))
    // training positions are a permutation of 1..n
    assert(packed.select("train_pos").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // one operational-metadata row per stage, reference schema
    val meta = spark.read.parquet(s"$root/operational_metadata")
    assert(meta.count() == 5)
    assert(meta.select("job_status").as[String].collect().forall(_ == "SUCCESS"))

    // the run is deterministic: rerunning over the same inputs yields
    // identical survivors and training order (content-hash shuffle).
    // Materialize the first run's order BEFORE the rerun overwrites it.
    val order1 = packed.select("doc_id", "train_pos").as[(Long, Long)].collect().toSet
    val again = CurationDriver.run(
      spark, docs, benchDf, CurationDriver.Config(root = root))
    val order2 = spark.read.parquet(again.finalPath)
      .select("doc_id", "train_pos").as[(Long, Long)].collect().toSet
    assert(order2 == order1)
  }

  test("smoke on the real fixture corpus: all stages succeed, counts monotone") {
    val root = Files.createTempDirectory("curationsf").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // benchmark = a disjoint-id slice of the same corpus, so the
    // decontamination stage has real work to do
    val bench = docs.where(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val res = CurationDriver.run(
      spark, docs, bench, CurationDriver.Config(root = root))
    assert(res.records.map(_.job_status).forall(_ == "SUCCESS"), res.records)
    val counts = res.stageCounts.toMap
    assert(counts("raw") == docs.count())
    // every stage can only shrink the corpus, and the planted benchmark
    // overlap plus the fixture's dup families guarantee real drops
    assert(counts("raw") >= counts("dedup") && counts("dedup") >= counts("clean") &&
      counts("clean") >= counts("quality"), res.stageCounts)
    assert(counts("dedup") < counts("raw"), "fixture dup families should dedup")
    assert(counts("clean") < counts("dedup"), "planted benchmark overlap should drop docs")
    assert(counts("packed") == counts("quality"))
    // the packed output is a ready training set: positions 1..n, shards balanced-ish
    val packed = spark.read.parquet(res.finalPath)
    val n = packed.count()
    assert(packed.select(max("train_pos")).head().getLong(0) == n)
    assert(packed.select(countDistinct("shard")).head().getLong(0) == 4L)
  }

  test("incremental mode: a second run dedups only the new batch against the lake") {
    val rootDay1 = Files.createTempDirectory("curinc1").toString
    val rootDay2 = Files.createTempDirectory("curinc2").toString
    val rootFull = Files.createTempDirectory("curincfull").toString
    val Novel = "bright silver rockets arc across seven quiet valleys toward the dawn"

    // day 1: corpus with an exact-dup family → survivors {1, 3}
    val day1 = Seq((1L, DocA), (2L, DocA), (3L, DocB)).toDF("doc_id", "text")
    val r1 = CurationDriver.run(spark, day1, benchDf, CurationDriver.Config(root = rootDay1))
    assert(r1.records.map(_.job_status).forall(_ == "SUCCESS"))
    val corpusPath = s"$rootDay1/stage_dedup"
    assert(spark.read.parquet(corpusPath).select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L))

    // day 2: new batch — 10 near-dups corpus doc 1, 11 exactly matches
    // corpus doc 3, 13 exactly dups 12 WITHIN the batch, 12 is novel
    val day2 = Seq((10L, DocANear), (11L, DocB), (12L, Novel), (13L, Novel))
      .toDF("doc_id", "text")
    val r2 = CurationDriver.run(
      spark, day2, benchDf,
      CurationDriver.Config(root = rootDay2, existingCorpusPath = Some(corpusPath)))
    assert(r2.records.map(_.job_status).forall(_ == "SUCCESS"), r2.records)
    val incSurvivors = spark.read.parquet(s"$rootDay2/stage_dedup")
      .select("doc_id").as[Long].collect().toSet
    assert(incSurvivors == Set(12L), s"got $incSurvivors")
    // the run's packed output is the curated INCREMENT (the new shard)
    assert(spark.read.parquet(r2.finalPath).select("doc_id").as[Long].collect().toSet
      == Set(12L))

    // parity with a from-scratch run over the union: incremental
    // survivors = union survivors minus the existing corpus
    val rFull = CurationDriver.run(
      spark, day1.union(day2), benchDf, CurationDriver.Config(root = rootFull))
    val fullSurvivors = spark.read.parquet(s"$rootFull/stage_dedup")
      .select("doc_id").as[Long].collect().toSet
    assert(fullSurvivors == Set(1L, 3L, 12L))
    assert(incSurvivors == fullSurvivors -- Set(1L, 3L))
  }

  test("incremental mode: the novelty filter's caches are released after the dedup stage") {
    val rootDay1 = Files.createTempDirectory("curcache1").toString
    val day1 = Seq((1L, DocA), (2L, DocA), (3L, DocB)).toDF("doc_id", "text")
    CurationDriver.run(spark, day1, benchDf, CurationDriver.Config(root = rootDay1))
    val day2 = Seq((10L, DocANear), (11L, DocB), (12L, DocA + " again")).toDF("doc_id", "text")
    // (new cache entries, new persistent RDDs) a run leaves behind
    def pinsLeftBy(run: => CurationDriver.RunResult): (Int, Set[Int]) = {
      val pins = new PinMark
      val r = run
      assert(r.records.map(_.job_status).forall(_ == "SUCCESS"), r.records)
      pins.left
    }
    // the same batch curated from scratch: the self-dedup's shingle
    // cache and closure checkpoints die with the dedup stage
    val fromScratch = pinsLeftBy(CurationDriver.run(
      spark, day2, benchDf,
      CurationDriver.Config(root = Files.createTempDirectory("curcache2").toString)))
    // the incremental run adds the corpus and batch shingle tables and
    // the candidate pairs; none of them may outlive the stage
    val incremental = pinsLeftBy(CurationDriver.run(
      spark, day2, benchDf,
      CurationDriver.Config(
        root = Files.createTempDirectory("curcache3").toString,
        existingCorpusPath = Some(s"$rootDay1/stage_dedup"))))
    assert(Seq(fromScratch, incremental).forall(_ == ((0, Set.empty[Int]))),
      s"from-scratch run left $fromScratch, incremental run left $incremental")
  }

  test("mix stage: composed policy reasons land in stage_mix, pack admits only kept") {
    val root = Files.createTempDirectory("curationmix").toString
    // distinct 12-token sentences (all pass the scan-side quality
    // filter); 13 exactly duplicates 11; 23/53 share their FIRST 8
    // tokens (same head fingerprint, same synthetic ingest day
    // 23 % 30 = 53 % 30 = 23 — inside the freshness window) but differ
    // past token 8 (3-gram jaccard 0.4 < 0.8 — both survive dedup)
    val docs = Seq(
      (10L, "alpine rivers carve granite canyons while eagles trace slow circles overhead daily"),
      (11L, "desert winds sculpt crimson dunes as lizards sprint between scattered thorny shrubs"),
      (12L, "harbor cranes lift painted containers onto barges bound for distant northern ports"),
      (13L, "desert winds sculpt crimson dunes as lizards sprint between scattered thorny shrubs"),
      (3L, "glacial moraines record ancient advances beneath layers of compacted volcanic ash deposits"),
      (6L, "monsoon clouds gather above terraced paddies where herons stalk silver darting fish"),
      (7L, "basalt columns frame hidden coves where otters crack urchins on flat stones"),
      (4L, "library archives preserve brittle manuscripts describing forgotten trade routes across frozen straits"),
      (23L, "quartz veins thread the canyon walls above the old mining camp ruins"),
      (53L, "quartz veins thread the canyon walls above the collapsed smelter foundations near town")
    ).toDF("doc_id", "text")
    // link graph: a 5-clique {10,11,12,23,53} reachable from trusted
    // seed 10 (10 % 5 = 0), a seed-free triangle {3,6,7} (untrusted),
    // 4 isolated (shallow core), 13 only ever a dedup loser
    val links = Seq(
      (10L, 11L), (10L, 12L), (10L, 23L), (10L, 53L), (11L, 12L),
      (11L, 23L), (11L, 53L), (12L, 23L), (12L, 53L), (23L, 53L),
      (3L, 6L), (3L, 7L), (6L, 7L)).toDF("src", "dst")
    val pins = new PinMark
    val res = CurationDriver.run(
      spark, docs, benchDf,
      CurationDriver.Config(root = root,
        mixMinQuality = 0.0, mixMinCore = 1L, mixMinRankMicro = 1L,
        trustedSeedMod = 5L, mixMaxFresh = 2L),
      links = Some(links))
    assert(res.records.map(_.job_status).forall(_ == "SUCCESS"), res.records)
    // the graph signals' checkpoints and the dedup caches die with their stages
    assert(pins.left == ((0, Set.empty[Int])), s"mix run left ${pins.left}")
    assert(res.records.map(_.job_name).contains("mix"))
    // the audit table: one fail-closed decision per RAW document
    val mix = spark.read.parquet(s"$root/stage_mix")
      .select("doc_id", "kept", "reason").as[(Long, Boolean, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(mix.keySet == docs.select("doc_id").as[Long].collect().toSet)
    assert(mix(13L) == ((false, "duplicate")))
    assert(mix(4L) == ((false, "shallow_core")))
    assert(Seq(3L, 6L, 7L).forall(mix(_) == ((false, "untrusted"))), mix)
    assert(Seq(23L, 53L).forall(mix(_) == ((false, "overexposed"))), mix)
    assert(Seq(10L, 11L, 12L).forall(mix(_) == ((true, "kept"))), mix)
    // pack admits exactly the mix-kept survivors
    val packed = spark.read.parquet(res.finalPath)
      .select("doc_id").as[Long].collect().toSet
    assert(packed == Set(10L, 11L, 12L))
    // the stage count census includes the audit table
    assert(res.stageCounts.toMap.apply("mix") == docs.count())
  }

  test("a quality gate that drops every document: all stages SUCCESS, empty stages count 0") {
    val root = Files.createTempDirectory("curationempty").toString
    // three distinct, uncontaminated documents, all shorter than minTokens
    val docs = Seq((1L, DocA), (2L, DocB), (3L, WithPii)).toDF("doc_id", "text")
    val res = CurationDriver.run(
      spark, docs, benchDf, CurationDriver.Config(root = root, minTokens = 100))
    assert(res.records.map(_.job_status).forall(_ == "SUCCESS"), res.records)
    assert(res.stageCounts == Seq(
      "raw" -> 3L, "dedup" -> 3L, "clean" -> 3L, "quality" -> 0L, "packed" -> 0L))
    assert(spark.read.parquet(res.finalPath).count() == 0L)
  }

  test("a failed validation gate suspends every downstream stage") {
    val root = Files.createTempDirectory("curationfail").toString
    val bad = Seq((1L, DocA), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val res = CurationDriver.run(
      spark, bad, benchDf, CurationDriver.Config(root = root))
    val status = res.records.map(r => r.job_name -> r.job_status).toMap
    assert(status("validate") == "FAILURE")
    assert(Seq("dedup", "decontaminate", "quality", "pack")
      .forall(status(_) == "SUSPENDED"), status)
    // nothing published: no stage table exists
    assert(res.stageCounts.forall(_._2 == -1L), res.stageCounts)
  }
}
