package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Curation, Dedup, Graph, Pack, Scale}
import graft.plans.{MetaStore, Runner, Validate}
import graft.plans.Runner.{Job, JobRunRecord}

/** End-to-end TRAINING-DATA curation driver: the LLM-pipeline analogue
  * of [[LakeDriver]] — the stages every pretraining corpus runs
  * (validate → dedup → decontaminate → quality-filter+redact →
  * shuffle+pack) composed as a layered [[graft.plans.Runner]] DAG with
  * per-stage operational metadata, so the orchestration layer the
  * reference built for ingestion (`driver_ingestions.py` loop,
  * `utils.py:340-498` runners/metadata) serves the curation pipeline
  * identically: one failed stage suspends everything downstream, and
  * the run's records land in the same metastore schema.
  *
  * Stages hand off through the lake (each writes `stage_<name>` and the
  * next reads it), so every intermediate is independently inspectable
  * and a rerun resumes from durable state rather than recomputing the
  * whole chain — the operational shape that matters at 100 TB. Each
  * stage is individually scale-shaped by its operator (digest-only
  * exact dedup, banded LSH, broadcast benchmark shingles, scan-side
  * quality filter, sharded packing windows).
  *
  * When a document LINK graph is supplied (`links` — citations,
  * hyperlinks, co-references: the graph a web-scale corpus carries),
  * the DAG additionally runs the full COMPOSED curation policy the
  * q169/q173 queries prove out, as a `mix` stage parallel to
  * decontamination: [[graft.operators.Curation.curationMix]] over the
  * dedup survivors, quality score, k-core number, LPA community
  * modularity, trusted-seed personalized PageRank, and the windowed
  * count-min freshness estimate. `stage_mix` lands one row per raw
  * document with the fail-closed `(kept, reason)` decision — the audit
  * table — and the pack stage then admits only mix-kept survivors.
  * Without `links` the classic five-stage chain runs unchanged (the
  * graph gates are fail-closed by design, so running them without a
  * real link graph would drop every unlinked document).
  */
object CurationDriver {

  final case class Config(
      root: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3, // shingle size for dedup + decontamination
      threshold: Double = 0.8, // near-dup jaccard
      contaminationThreshold: Double = 0.5,
      minTokens: Int = 5,
      maxStopRatio: Double = 0.3,
      maxPunctRatio: Double = 0.2,
      minDistinctRatio: Double = 0.35,
      packBudget: Long = 2000L,
      shards: Int = 4,
      shuffleSeed: String = "curation-v1",
      metaSubdir: String = "operational_metadata",
      /** INCREMENTAL mode: path to an already-curated corpus (e.g. a
        * previous run's `stage_dedup`). When set, the dedup stage
        * self-dedups only the NEW batch and then novelty-filters it
        * against this corpus ([[graft.operators.Dedup.noveltyFilter]]:
        * exact-digest guard + banded incremental near-dup — the corpus
        * never self-joins), so a daily run pays batch-scale shuffles
        * plus corpus SCANS instead of re-deduping the whole lake.
        * Batch ids must be disjoint from (and, for min-id survivor
        * parity with a from-scratch run, greater than) the corpus's.
        */
      existingCorpusPath: Option[String] = None,
      // ---- mix-stage knobs (in effect only when `links` is supplied;
      // defaults mirror the q169/q173 corpus policy) ----
      mixMinQuality: Double = 0.3,
      mixMinCore: Long = 2L,
      mixMinRankMicro: Long = 1L,
      /** Trusted PPR seed set: doc_id % trustedSeedMod == 0. */
      trustedSeedMod: Long = 37L,
      lpaRounds: Int = 3,
      coreKMax: Int = 5,
      cmDepth: Int = 4,
      /** Count-min width must scale with the WINDOW's key volume — at
        * width 64 an sf0.1 window (≈1200 distinct fingerprints) puts
        * ~18 keys in every bucket and the estimate saturates ≥ any
        * sane cap, overexposing the whole corpus (measured: 2333/5000
        * docs dropped with max TRUE count 2). 2¹⁶ cells × depth 4 is
        * still trivial memory and keeps the collision floor ≈ 0 into
        * the millions of window keys; the one-sided est ≥ true bound
        * then gates only genuinely recurring content.
        */
      freshWidth: Long = 1L << 16,
      /** Synthetic ingest day = doc_id % freshDayMod (a real pipeline
        * passes its ingest-date column; the modulo keeps the driver
        * self-contained on corpora without one).
        */
      freshDayMod: Long = 30L,
      freshFromDay: Long = 23L,
      mixMaxFresh: Long = 4L
  )

  /** `stageCounts`: rows each stage table received in THIS run, observed
    * on the write itself (no read-back); −1 for a stage that did not
    * write (failed or suspended).
    */
  final case class RunResult(
      records: Seq[JobRunRecord],
      stageCounts: Seq[(String, Long)],
      finalPath: String
  )

  /** Stage tables in hand-off order; `stageCounts` reports them all. */
  val Stages: Seq[String] = Seq("raw", "dedup", "clean", "quality", "packed")

  /** Stage list when a link graph enables the composed-policy stage. */
  val StagesWithMix: Seq[String] =
    Seq("raw", "dedup", "clean", "quality", "mix", "packed")

  private def stagePath(c: Config, s: String) = s"${c.root}/stage_$s"

  def run(
      spark: SparkSession,
      docs: DataFrame,
      bench: DataFrame,
      c: Config,
      links: Option[DataFrame] = None
  ): RunResult = {
    val id = col(c.idCol)
    val text = col(c.textCol)

    // row counts ride the writes' own jobs; decontaminate ∥ mix write concurrently
    val written = TrieMap.empty[String, Long]
    def write(df: DataFrame, stage: String): Unit = {
      val rows = Observation()
      df.observe(rows, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(stagePath(c, stage))
      written(stage) = rows.get("rows").asInstanceOf[Long]
    }
    def read(stage: String) = spark.read.parquet(stagePath(c, stage))

    val baseRegistry: Map[String, Job] = Map(
      // gate first: a malformed corpus fails BEFORE any stage runs, and
      // the cascade records every downstream stage SUSPENDED
      "validate" -> { _ =>
        Validate.enforce(
          docs,
          c.idCol,
          Seq(
            "id_present" -> id.isNotNull,
            "text_present" -> (text.isNotNull && length(text) > 0)))
        write(docs.select(id, text), "raw")
      },
      "dedup" -> { _ =>
        val raw = read("raw")
        val exact = Dedup.exactDedup(raw, c.idCol, c.textCol)
        val pairs = Dedup.minhashLshPairsMd5(exact, c.idCol, c.textCol, c.n, c.threshold)
        val inner = Dedup.dedupByPairs(exact, c.idCol, pairs)
        val survivors = c.existingCorpusPath match {
          case None => inner
          case Some(p) =>
            // incremental: only the new batch self-joins; the existing
            // corpus streams past it (digest guard + banded near-dup)
            Dedup.noveltyFilter(
              spark.read.parquet(p).select(id, text), inner,
              c.idCol, c.textCol, c.n, c.threshold)
        }
        write(survivors, "dedup")
      },
      "decontaminate" -> { _ =>
        val deduped = read("dedup")
        val contaminated = Curation
          .decontaminationReport(
            deduped, bench, c.idCol, c.textCol, c.n, c.contaminationThreshold)
          .where(col("contaminated"))
          .select(id)
        write(deduped.join(contaminated, Seq(c.idCol), "left_anti"), "clean")
      },
      "quality" -> { _ =>
        val clean = read("clean")
        write(
          clean
            .where(
              Text.filterReason(
                text,
                minTokens = c.minTokens,
                maxStopRatio = c.maxStopRatio,
                maxPunctRatio = c.maxPunctRatio,
                minDistinctRatio = c.minDistinctRatio) === "keep")
            .withColumn(c.textCol, Text.redactPii(text)),
          "quality")
      },
      "pack" -> { _ =>
        // under the composed policy only mix-kept documents train —
        // the reason for every exclusion is durable in stage_mix
        val qualityDocs = read("quality")
        val gated = links match {
          case Some(_) =>
            qualityDocs.join(
              read("mix").where(col("kept")).select(id), Seq(c.idCol), "left_semi")
          case None => qualityDocs
        }
        val q = gated.withColumn("n_tokens", Text.tokenCount(text))
        val shuffled = Scale
          .trainingShuffle(q, Seq(c.idCol), c.shuffleSeed)
          .withColumn("shard", pmod(col("train_pos"), lit(c.shards)))
        write(
          Pack.byTokenBudget(shuffled, "train_pos", "n_tokens", c.packBudget, Some("shard")),
          "packed")
      }
    )
    // the COMPOSED curation policy (q169's five gates + q173's
    // freshness gate) over the supplied link graph: every signal
    // from its own oracled operator, one fail-closed decision per
    // raw document, durable in stage_mix. Runs PARALLEL to
    // decontamination (it needs only raw + dedup survivors).
    val registry: Map[String, Job] = baseRegistry ++ links.map { linkGraph =>
      "mix" -> { (_: SparkSession) =>
        val raw = read("raw")
        val survivors = read("dedup").select(id)
        val quality = raw.select(id, Text.qualityScore(text).as("quality"))
        val cores = Graph.coreNumbers(linkGraph, kMax = c.coreKMax)
          .select(col("node").as(c.idCol), col("core"))
        val labels = Graph.labelPropagation(linkGraph, rounds = c.lpaRounds)
        val mod = Graph.modularityByCommunity(linkGraph, labels)
        val und = linkGraph.unionByName(
          linkGraph.select(col("dst").as("src"), col("src").as("dst")))
        val ids = raw.select(id).where(id.isNotNull).distinct()
        val ppr = Graph.personalizedPageRankExact(
          und, ids, c.idCol,
          raw.where(id % c.trustedSeedMod === 0), c.idCol, iterations = 5)
        // recent-window frequency over head fingerprints — the q173
        // windowed count-min lifecycle (day shards rolled to a window)
        val fp = raw.select(id, (id % c.freshDayMod).as("iday"),
          array_join(slice(Text.tokens(text), 1, 8), " ").as("fp"))
        val fpnn = fp.where(col("fp").isNotNull)
        val shards = Scale.countMinSharded(
          fpnn, col("iday"), "iday", col("fp"), c.cmDepth, c.freshWidth)
        val sketch = Scale.countMinWindow(shards, col("iday") >= c.freshFromDay)
        val est = Scale.countMinEstimate(
          fpnn, col("fp"), sketch, c.cmDepth, c.freshWidth)
        val fresh = fpnn.join(est, fpnn("fp") === est("key"))
          .select(fpnn(c.idCol), col("cm_est").as("fresh_cnt"))
        write(Curation.curationMix(
          raw, c.idCol, survivors, quality, cores,
          labels.select(col("node").as(c.idCol), col("label")), mod, ppr,
          minQuality = c.mixMinQuality, minCore = c.mixMinCore,
          minRankMicro = c.mixMinRankMicro,
          freshness = Some(fresh), maxFreshCount = c.mixMaxFresh), "mix")
      }
    }

    val layers =
      if (links.isDefined)
        Map(
          0 -> Seq("validate"),
          1 -> Seq("dedup"),
          2 -> Seq("decontaminate", "mix"),
          3 -> Seq("quality"),
          4 -> Seq("pack"))
      else
        Map(
          0 -> Seq("validate"),
          1 -> Seq("dedup"),
          2 -> Seq("decontaminate"),
          3 -> Seq("quality"),
          4 -> Seq("pack"))
    val metaPath = s"${c.root}/${c.metaSubdir}"
    val records = Runner.runLayers(
      spark,
      layers,
      registry,
      record = recs => MetaStore.append(spark, recs, metaPath))

    val counts = (if (links.isDefined) StagesWithMix else Stages)
      .map(st => st -> written.getOrElse(st, -1L))
    RunResult(records, counts, stagePath(c, "packed"))
  }
}
