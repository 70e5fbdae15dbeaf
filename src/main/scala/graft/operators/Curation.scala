package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingestion and batch assembly: benchmark decontamination,
  * per-domain capping, vocabulary construction, and repetition scoring.
  *
  * Scale shapes: decontamination is an equi-join on shingles with the
  * (small) benchmark side broadcast; capping is a per-group window;
  * repetition is computed row-wise by a codegen'd shingle expression
  * followed by one grouped aggregation. No all-pairs or driver-side
  * stage anywhere.
  */
object Curation {

  /** Benchmark DECONTAMINATION report: for every training document, the
    * fraction of its distinct word n-gram shingles that also appear
    * anywhere in the benchmark set (the standard eval-contamination
    * check run before pretraining). Candidates come from a shingle
    * equi-join; the benchmark shingle set is distinct-reduced and
    * broadcast — benchmarks are tiny next to a training corpus, so the
    * 100 TB scan never shuffles.
    *
    * Returns (id, n_sh, n_overlap, overlap_ratio) for every train doc
    * that HAS shingles; `flagThreshold` adds a boolean `contaminated`.
    */
  def decontaminationReport(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      flagThreshold: Double
  ): DataFrame = {
    val trainSh = Dedup.shingleTable(train, idCol, textCol, n)
    val benchSh = Dedup.shingleTable(bench, idCol, textCol, n).select("shingle").distinct()
    // ONE pass over the training corpus: the broadcast LEFT join marks
    // benchmark hits, and a single aggregation counts total and matched
    // shingles together (a counts⋈overlap formulation would tokenize and
    // shingle the 100 TB side twice)
    trainSh
      .join(broadcast(benchSh.withColumn("_hit", lit(1))), Seq("shingle"), "left")
      .groupBy("doc_id")
      // count(_hit) is never NULL — 0 when no benchmark shingle matched
      .agg(count(lit(1)).as("n_sh"), count(col("_hit")).as("n_overlap"))
      .select(
        col("doc_id").as(idCol),
        col("n_sh"),
        col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_sh"), 6).as("overlap_ratio"))
      .withColumn("contaminated", col("overlap_ratio") >= flagThreshold)
      .orderBy(idCol)
  }

  /** Per-group cap (domain balancing): keep at most `k` rows per group,
    * preferring by `rankCols` order (ties must be broken to a total
    * order for determinism) — the standard "no domain may dominate the
    * corpus" curation step.
    *
    * Skew shape: a bare per-group window funnels EVERY row of a hot
    * group through one unsplittable task — at 100 TB with a handful of
    * domains that is a handful of tasks for the whole corpus (the q82
    * window-skew class). Two phases instead: (1) top-k per
    * (group, input-partition) — the window key includes the physical
    * partition id, so no cell ever exceeds one input partition's rows;
    * (2) exact top-k over the surviving candidates, whose input is
    * bounded by k × partitions per group, not by group size. The global
    * top-k of a group is always a subset of the union of its
    * per-partition top-ks, so the result is exactly the naive window's.
    */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      rankCols: Seq[Column],
      k: Int
  ): DataFrame = {
    require(k > 0)
    val reserved = Seq("_rn", "_cap_pid")
    require(reserved.forall(c => !df.columns.contains(c)),
      s"capPerGroup: reserved working column already exists (${reserved.mkString(", ")})")
    val local = df
      .withColumn("_cap_pid", spark_partition_id())
      .withColumn(
        "_rn",
        row_number().over(
          Window.partitionBy(col(groupCol), col("_cap_pid")).orderBy(rankCols: _*)))
      .where(col("_rn") <= k)
      .drop("_rn", "_cap_pid")
    local
      .withColumn(
        "_rn",
        row_number().over(Window.partitionBy(col(groupCol)).orderBy(rankCols: _*)))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /** Frequency-ranked VOCABULARY build: tokens occurring at least
    * `minCount` times, each with its corpus count and a dense id in
    * (count desc, token asc) order. The corpus-sized work (token
    * counting) is an ordinary grouped aggregation; the ranking runs
    * through [[Scale.globalDenseRank]] — range-partitioned local ranks
    * plus broadcast partition offsets — so no single ordered partition
    * ever holds the whole vocabulary (the previous global
    * `Window.orderBy` funnelled every surviving token through one task).
    */
  def buildVocab(
      docs: DataFrame,
      textCol: String,
      minCount: Long
  ): DataFrame = {
    val counts = docs
      .select(explode(graft.functions.Text.tokens(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
    Scale
      .globalDenseRank(counts, Seq(col("n").desc, col("tok").asc), "token_id")
      .orderBy("token_id")
  }

  /** EXACT top-`k` most frequent tokens via two-pass heavy hitters:
    * pass 1 runs a Misra–Gries summary (capacity `capacity`) inside
    * each partition — bounded memory, no shuffle of the token multiset;
    * pass 2 exactly recounts ONLY the surviving candidates (a broadcast
    * semi-join, so the grouped aggregation shuffles at most
    * `partitions × capacity` partially-aggregated rows instead of the
    * full vocabulary).
    *
    * Why not `groupBy(token).count().orderBy(...).limit(k)`? At 100 TB
    * the token vocabulary (every typo, number, URL fragment) is
    * billions of keys — that plan shuffles ALL of them to rank the top
    * 50. Misra–Gries bounds the exchange by construction: a token
    * absent from every partition's summary has global frequency
    * ≤ N/(capacity+1), so the candidate set provably contains every
    * token with frequency above that bound, and the exact recount makes
    * the final counts (not estimates) correct.
    *
    * The result is CERTIFIABLY exact when the k-th candidate's exact
    * count exceeds N/(capacity+1) (N = total tokens, measured in the
    * same pass); otherwise the tail of the top-k could in principle be
    * displaced by an unseen sub-bound token, and the operator logs a
    * warning naming the capacity to raise. Ties rank (count desc, token
    * asc), so output is deterministic across partitionings and engines.
    *
    * The driver materializes only the ≤ k result rows (metadata-scale,
    * like every other bounded collect in this codebase) — that is what
    * lets it certify the bound at all.
    */
  def heavyHitters(
      docs: DataFrame,
      textCol: String,
      k: Int,
      capacity: Int = 4096
  ): DataFrame = {
    require(k > 0, s"heavyHitters: k must be positive, got $k")
    require(capacity >= k, s"heavyHitters: capacity ($capacity) must be >= k ($k)")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(graft.functions.Text.tokens(col(textCol))).as("tok"))
    // Pass 1: per-partition Misra–Gries. Emits each partition's candidate
    // tokens plus one ("", n_p) marker carrying the partition's token
    // count — word tokens are never empty by construction, so "" cannot
    // collide. Decrement step is O(capacity) and runs at most
    // n_p/(capacity+1) times: amortized O(1) per token.
    val sketch = toks
      .as[String]
      .mapPartitions { it =>
        import scala.jdk.CollectionConverters._
        val m = new java.util.HashMap[String, Long](capacity * 2)
        var np = 0L
        it.foreach { tok =>
          np += 1
          val cur = m.get(tok)
          if (cur != 0L || m.containsKey(tok)) m.put(tok, cur + 1)
          else if (m.size < capacity) m.put(tok, 1L)
          else {
            val e = m.entrySet.iterator
            while (e.hasNext) {
              val kv = e.next()
              if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1L)
            }
          }
        }
        Iterator.single(("", np)) ++
          m.keySet.iterator.asScala.map(t => (t, 0L))
      }
      .toDF("tok", "np")
    Checkpoints.scoped {
      val collected = Checkpoints.cache(sketch)
      val n = collected.where(col("tok") === "").agg(sum(col("np"))).head().getLong(0)
      val candidates = collected.where(col("tok") =!= "").select("tok").distinct()
      // Pass 2: exact recount of candidates only. The broadcast semi-join
      // filters scan-side; partial aggregation bounds the exchange.
      val top = toks
        .join(broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(k)
        .collect()
      val bound = n / (capacity + 1)
      if (top.length == k && top.last.getLong(1) <= bound)
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .warn(
            s"heavyHitters: k-th count ${top.last.getLong(1)} <= N/(capacity+1) = $bound — " +
              s"top-$k tail not certifiably exact; raise capacity above $capacity")
      val rows = top.zipWithIndex.map { case (r, i) =>
        (r.getString(0), r.getLong(1), i + 1L)
      }
      spark.createDataFrame(rows.toSeq).toDF("tok", "n", "rank")
    }
  }

  /** One BPE-style adjacent-pair counting round — the core step of a
    * byte-pair-encoding tokenizer build: within every token occurrence,
    * each adjacent character pair is a merge candidate; pairs are counted
    * corpus-wide, filtered to `minCount`, and ranked (count desc, pair
    * asc) into the merge table the next BPE round would apply. Pair
    * extraction is row-wise by a codegen'd single-pass expression (the
    * `transform(sequence(...))` built-in route evaluates an interpreted
    * lambda per token — the hot-path shape this codebase's custom text
    * expressions exist to avoid), counting is one grouped aggregation,
    * and the ranking goes through [[Scale.globalDenseRank]] so no single
    * ordered partition holds the pair vocabulary.
    */
  def bpeMergePairs(docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val toks = docs.select(explode(graft.functions.Text.tokens(col(textCol))).as("tok"))
    val pairs =
      toks.select(explode(graft.functions.TextExpressions.char_pairs(col("tok"))).as("pair"))
    val counts = pairs.groupBy("pair").agg(count(lit(1)).as("n")).where(col("n") >= minCount)
    Scale
      .globalDenseRank(counts, Seq(col("n").desc, col("pair").asc), "merge_rank")
      .orderBy("merge_rank")
  }

  final case class BpeMerge(merge_rank: Int, left_sym: String, right_sym: String, n: Long)

  /** Adjacent symbol pairs of an array<string> column, as (l, r) structs
    * (a concatenated-string pair would be ambiguous once symbols are
    * multi-character: "ab"+"c" vs "a"+"bc"). Interpreted lambda — fine
    * here because every caller runs it over the VOCABULARY table (word
    * types × counts), never the corpus token stream.
    */
  private def adjacentSymPairs(syms: Column): Column =
    when(
      size(syms) >= 2,
      transform(
        sequence(lit(0), size(syms) - 2),
        i => struct(syms.getItem(i).as("l"), syms.getItem(i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** Apply ONE merge rule (l, r) → l+r to a symbol array, greedy
    * left-to-right over non-overlapping occurrences — classic BPE apply
    * semantics: ["a","a","a"] under (a,a) becomes ["aa","a"], and the
    * freshly merged symbol never re-merges in the same pass (it would
    * have to equal `l` with a non-empty `r` appended — impossible).
    * The first CASE branch keeps ANSI-mode element_at off the empty
    * accumulator (CaseWhen evaluates branches lazily).
    */
  private def mergeOnce(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(
            element_at(acc, -1) === l && x === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Characters of a token as the initial BPE symbol array. */
  private def charSyms(tok: Column): Column =
    filter(split(tok, ""), c => c =!= "")

  /** Iterative BPE TRAINER (byte-pair-encoding tokenizer build): up to
    * `numMerges` rounds of "count adjacent symbol pairs corpus-wide, merge
    * the most frequent pair everywhere", starting from characters. Ties
    * break (count desc, left asc, right asc) for cross-engine determinism;
    * training stops early when the best pair's count falls below
    * `minCount` or no pairs remain.
    *
    * Scale shape: all per-round work runs on the WORD-TYPE table (distinct
    * token + corpus count) — the standard trainer reduction, since pair
    * counts only depend on word types × frequencies — so a 100 TB corpus
    * is scanned exactly once (tokenize + count) and each round is one
    * vocabulary-sized grouped aggregation. The merge DECISION is
    * inherently sequential: one k-row-bounded `limit(1).collect()` per
    * round (the same bounded-driver-traffic discipline as
    * [[Similarity.kmeansTrain]]'s centroid loop), with the word table
    * localCheckpoint-truncated every round and each superseded round
    * released like [[Dedup.connectedComponents]]; the last round is
    * released before the merges return.
    */
  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 1L
  ): Seq[BpeMerge] = {
    require(numMerges >= 1, "bpeTrain: need numMerges >= 1")
    require(minCount >= 1, "bpeTrain: need minCount >= 1")
    import Checkpoints.{checkpoint, release}
    var words = checkpoint(docs
      .select(explode(graft.functions.Text.tokens(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("wc"))
      .select(col("wc"), charSyms(col("tok")).as("syms")))
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var done = false
    for (rank <- 1 to numMerges if !done) {
      val top = words
        .select(col("wc"), explode(adjacentSymPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("wc").as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty || top(0).getAs[Long]("n") < minCount) done = true
      else {
        val (l, r, n) =
          (top(0).getAs[String]("l"), top(0).getAs[String]("r"), top(0).getAs[Long]("n"))
        out += BpeMerge(rank, l, r, n)
        val next = checkpoint(words.withColumn("syms", mergeOnce(col("syms"), l, r)))
        release(words)
        words = next
      }
    }
    release(words)
    out.toSeq
  }

  /** Apply a trained merge list to a corpus: every document's tokens are
    * segmented into BPE subword symbols by replaying the merges IN
    * TRAINING ORDER (order is part of the BPE contract — a later merge
    * may consume a symbol an earlier merge created). Returns
    * (idCol, subwords array) per document; documents with no tokens are
    * omitted (nothing to segment), matching [[lmBigramScore]]'s contract.
    *
    * Scale shape: merges replay over the DISTINCT-token table, not the
    * corpus (same word-type reduction as [[bpeTrain]]); the corpus-sized
    * work is one posexplode + one equi-join token→segmentation + one
    * grouped ordered reassembly (`array_sort(collect_list(struct))` — the
    * q82 line-dedup pattern, per-doc arrays, no global window). The
    * expression tree nests one fold per merge, so the vocab plan is
    * checkpoint-truncated every 8 merges.
    */
  def applyBpe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]
  ): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      posexplode(graft.functions.Text.tokens(col(textCol))).as(Seq("pos", "tok")))
    var vocab = toks
      .select("tok")
      .distinct()
      .select(col("tok"), charSyms(col("tok")).as("syms"))
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      vocab = vocab.withColumn("syms", mergeOnce(col("syms"), l, r))
      if ((i + 1) % 8 == 0) vocab = Checkpoints.checkpoint(vocab)
    }
    toks
      .join(vocab, "tok")
      .groupBy("doc_id")
      .agg(
        flatten(
          transform(
            array_sort(collect_list(struct(col("pos"), col("syms")))),
            s => s.getField("syms"))).as("subwords"))
      .select(col("doc_id").as(idCol), col("subwords"))
  }

  /** Deterministic MIXTURE SAMPLING (training-data mixing): keep each
    * document with probability `rateCol` (typically derived from its
    * source/domain — the "data mixing weights" step of corpus assembly),
    * decided by a CONTENT hash rather than an RNG: the first 8 md5 hex
    * chars of `textCol`, scaled to [0, 1). Reproducible across engines,
    * runs, and retried tasks (an rand()-based sample re-rolls under
    * partial stage recompute — the same trap as RNG salts), and purely
    * scan-side: a codegen'd filter, no shuffle, no state.
    */
  def mixtureSample(docs: DataFrame, textCol: String, rateCol: Column): DataFrame = {
    val frac =
      graft.functions.Text.md5PrefixLong(col(textCol), 8).cast("double") / 4294967296.0
    docs.where(frac < rateCol)
  }

  /** TEMPERATURE-scaled mixture sampling at α = 1/2 ("sqrt temperature",
    * the common multinomial data-mixing flattening: source s is drawn
    * ∝ n_s^α, so per-document keep rates go ∝ n_s^(α-1) and small
    * sources are up-weighted relative to their share). Rates target
    * `targetFraction` of the corpus overall:
    * `r_s = min(1, tf · N · n_s^(-1/2) / Σ_j n_j^(1/2))`; the keep
    * decision is [[mixtureSample]]'s content hash, so the draw is
    * reproducible across engines, runs, and retried tasks.
    *
    * Cross-engine determinism: `sqrt(n_s)` is quantized to the exact
    * integer `w_s = floor(1e6 · sqrt(n_s))` (every step correctly
    * rounded under IEEE-754, hence bit-identical on any engine — unlike
    * `pow`, which libms round differently, and unlike a float Σ n^α,
    * whose value depends on summation order), the sums `N = Σ n_s` and
    * `S = Σ w_s` are exact BIGINTs, and the rate is a fixed-shape
    * double expression over those exact inputs. The ≤ 1e-6 relative
    * quantization of sqrt is part of the operator's contract.
    *
    * Scale shape: one grouped count over the corpus (map-side partial),
    * a source-level (metadata-scale) rate table broadcast back, and the
    * scan-side hash filter — no corpus shuffle.
    */
  def temperatureMixtureSqrt(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      targetFraction: Double
  ): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1, "targetFraction must be in (0, 1]")
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_docs"))
    val weighted = counts.withColumn(
      "w", floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0)).cast("long"))
    val tot = weighted.agg(sum("n_docs").as("_n"), sum("w").as("_s"))
    val rates = weighted
      .crossJoin(broadcast(tot))
      .withColumn(
        "rate",
        least(
          lit(1.0),
          lit(targetFraction) * col("_n").cast("double") * col("w").cast("double") /
            (col("n_docs").cast("double") * col("_s").cast("double"))))
      .select(col(sourceCol), col("rate"))
    // null-safe join: a NULL source is a legitimate group — it already
    // contributes its n_docs to N and its weight to S in the counts
    // aggregation (groupBy keeps the NULL key), so it must also receive
    // its rate here; a plain equi-join would silently drop every
    // NULL-source doc while still deflating the realized keep rate.
    mixtureSample(
      docs.join(broadcast(rates), docs(sourceCol) <=> rates(sourceCol))
        .drop(rates(sourceCol)),
      textCol,
      col("rate"))
      .drop("rate")
  }

  /** Corpus BIGRAM LANGUAGE-MODEL score per document (a CCNet-style
    * model-based quality signal, self-trained): the model is the
    * corpus's own bigram table — `p(w2|w1) = c(w1 w2) / c(w1·)` with
    * `c(w1·)` the count of bigrams starting with `w1`, so each
    * conditional distribution sums to exactly 1 — and each document is
    * scored by its bigram probabilities. All arithmetic is EXACT scaled
    * integer math: per occurrence `p_scaled = (c2 * scale) div c1`
    * (BIGINT floor division), per document the SUM and MIN of those —
    * order-independent, so the result hash-matches any engine, unlike a
    * float log-prob sum whose value depends on shuffle order. A document
    * with a low `min_p_scaled` contains a corpus-rare transition (the
    * "most surprising bigram"); `sum/n` is the mean transition
    * probability. Documents with fewer than 2 tokens have no bigrams and
    * are omitted.
    *
    * Scale shape: bigram extraction is the codegen'd duplicates-kept
    * shingle expression; the model is one grouped count (map-side
    * partial) re-aggregated once for the `w1` marginal; scoring is two
    * shuffle equi-joins on bigram/word keys — no broadcast assumption,
    * the model may be corpus-vocabulary-sized. Overflow headroom:
    * `c2 * scale` at the default scale needs c2 < 9.2e12 — a single
    * bigram repeated ~9 trillion times — before BIGINT overflows.
    */
  def lmBigramScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scale: Long = 1000000L
  ): DataFrame =
    lmBigramScoreUnordered(docs, idCol, textCol, scale).orderBy(idCol)

  /** [[lmBigramScore]] without the presentation sort — for callers that
    * immediately re-partition (bucketing below), where an inherited
    * corpus-wide range sort would be pure waste.
    */
  private def lmBigramScoreUnordered(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scale: Long
  ): DataFrame = {
    require(scale > 0)
    val grams = docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.TextExpressions.word_shingles_all(col(textCol), 2)).as("bg"))
    val c2 = grams.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = c2
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    grams
      .join(c2, "bg")
      .join(c1, substring_index(col("bg"), " ", 1) === col("w1"))
      .select(col("doc_id"), expr(s"(c2 * ${scale}L) DIV c1").as("p"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("p")).as("sum_p_scaled"),
        min(col("p")).as("min_p_scaled"))
      .withColumnRenamed("doc_id", idCol)
  }

  /** CCNet-style PER-LANGUAGE QUALITY BUCKETS (Wenzek et al. 2020): rank
    * each language's documents by model quality — here the corpus-trained
    * bigram LM's exact mean transition probability ([[lmBigramScore]]'s
    * `sum_p_scaled DIV n_bigrams`, higher = more predictable = "head") —
    * and cut each language into `nBuckets` equal-frequency buckets
    * (CCNet's head/middle/tail at the default 3). The bucket boundary is
    * pure integer rank math, `bucket = (nBuckets·(rank−1)) DIV n + 1`
    * over the total order (mean desc, doc_id asc), so any engine
    * replaying the same order produces the identical labeling —
    * no percentile interpolation, no float cutpoints.
    *
    * Scale shape: scoring is [[lmBigramScore]]'s shuffle-equi-join plan;
    * ranking is [[Scale.globalDenseRank]] over (language, mean desc, id)
    * — a RANGE partition, never a per-language window, so one dominant
    * language (the realistic corpus shape: English is half the web) still
    * splits across partitions instead of becoming one window task.
    * Per-language sizes/offsets ride a one-row-per-language aggregate
    * (metadata-scale) broadcast back.
    */
  def lmPerplexityBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      nBuckets: Int = 3,
      scale: Long = 1000000L
  ): DataFrame = {
    require(nBuckets > 0, s"lmPerplexityBuckets: nBuckets must be positive, got $nBuckets")
    val reserved = Seq("_lpb_rank", "_lpb_n", "_lpb_off", "_lpb_lang", "mean_p_scaled", "bucket")
    require(reserved.forall(c => !docs.columns.contains(c)),
      s"lmPerplexityBuckets: reserved column already present (${reserved.mkString(", ")})")
    val scored = lmBigramScoreUnordered(docs, idCol, textCol, scale)
      .join(docs.select(col(idCol), col(langCol)), idCol)
      .withColumn("mean_p_scaled", expr("sum_p_scaled DIV n_bigrams"))
    val ranked = Scale.globalDenseRank(
      scored,
      Seq(col(langCol), col("mean_p_scaled").desc, col(idCol)),
      "_lpb_rank")
    // per-language size and starting offset, derived from the RANKED
    // output itself (rank is language-first, so a language's offset is
    // its min rank − 1): one metadata-scale aggregation over the
    // checkpointed rank walk. Deriving it from `scored` instead — the
    // r11 shape — re-evaluated the whole bigram-scoring subplan a
    // second time (the q100 fork-without-persist defect, one level up).
    val langOffsets = ranked
      .groupBy(col(langCol).as("_lpb_lang"))
      .agg(count(lit(1)).as("_lpb_n"), (min("_lpb_rank") - 1).as("_lpb_off"))
    ranked
      .join(broadcast(langOffsets), col(langCol) <=> col("_lpb_lang"))
      .drop("_lpb_lang")
      .withColumn(
        "bucket",
        expr(s"(($nBuckets * (_lpb_rank - _lpb_off - 1)) DIV _lpb_n) + 1").cast("int"))
      .select(
        col(idCol), col(langCol), col("n_bigrams"), col("mean_p_scaled"), col("bucket"))
  }

  /** REPETITION score per document (Gopher/C4-style quality signal): the
    * most frequent word n-gram's share of all n-grams. Shingles with
    * duplicates KEPT are computed row-wise by a codegen'd expression
    * (`word_shingles_all`); the rest is one explode + two aggregations.
    * Documents with fewer than `n` tokens have no n-grams and are
    * omitted (no 0/0 row).
    */
  def repetitionScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val grams = docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.TextExpressions.word_shingles_all(col(textCol), n)).as("gram"))
    grams
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("max_rep"), sum(col("c")).as("n_grams"))
      .select(
        col("doc_id").as(idCol),
        col("n_grams"),
        col("max_rep"),
        round(col("max_rep").cast("double") / col("n_grams"), 6).as("rep_ratio"))
      .orderBy(idCol)
  }

  /** TOKEN ENTROPY per document: `H = −Σ_t (c_t/n)·ln(c_t/n)` over the
    * document's own unigram distribution — the token-diversity quality
    * signal (near 0 for "spam spam spam", `ln(n)` for all-distinct
    * text) that complements [[repetitionScore]]'s single-worst-gram
    * ratio with a whole-distribution measure.
    *
    * Cross-engine determinism: counts are exact BIGINTs; `ln(c/n)` is
    * [[pseudoLn]] on the one correctly-rounded double `c/n ∈ (0, 1]`,
    * quantized per (doc, token) to `l = floor(scale·pseudoLn)`; the
    * document's entropy numerator is then the pure BIGINT sum `−Σ c·l`,
    * order-free — divide by `n·scale` for nats. Docs with no tokens are
    * omitted. Like [[domainShift]], the result is a DETERMINISTIC
    * SCORING TRANSFORM, not libm `ln`: [[pseudoLn]]'s accuracy fades
    * outside `[1/8, 8]`, and rare tokens in a diverse doc have
    * `c/n` well below 1/8 (e.g. pseudoLn(0.01) ≈ −3.76 vs
    * ln(0.01) = −4.61), so H is systematically UNDERESTIMATED for any
    * doc whose vocabulary exceeds ~8 distinct tokens. Ranking by
    * diversity is preserved in practice; absolute nats are not — treat
    * the value as a monotone quality score, not an information measure.
    *
    * Scale shape: one explode partially aggregated to (doc, token)
    * counts, one doc-level re-aggregation; per-doc totals ride the
    * grouping key the same way [[repetitionScore]]'s do — no join, no
    * window.
    */
  def tokenEntropy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scale: Long = 1000000L
  ): DataFrame = {
    require(scale > 0, s"scale must be positive: $scale")
    val counts = docs
      .select(
        col(idCol).as("doc_id"),
        explode(graft.functions.Text.tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
    val withN = counts
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        // carry the (token, count) pairs? no — re-join-free: aggregate
        // the per-token term directly in a second pass below
        collect_list(col("c")).as("_cs"))
    // the per-token quantized term depends only on (c, n): compute it
    // row-locally over the carried count list — the list is the doc's
    // DISTINCT vocabulary (bounded per doc), not the corpus
    withN
      .select(
        col("doc_id").as(idCol),
        col("n_tokens"),
        col("n_distinct"),
        (-aggregate(
          transform(
            col("_cs"),
            c =>
              c * floor(
                pseudoLn(c.cast("double") / col("n_tokens").cast("double")) *
                  lit(scale.toDouble)).cast("long")),
          lit(0L),
          (acc, x) => acc + x)).as("entropy_num_scaled"))
      .orderBy(idCol)
  }

  /** Fixed 8-term atanh (Gregory) series surrogate for `ln(x)`:
    * `2·artanh(z)` truncated at `z^15`, `z = (x-1)/(x+1)` — every step a
    * single IEEE-754 correctly-rounded double op over the previous ones,
    * so two engines evaluating this exact expression shape produce
    * bit-identical doubles (the reason [[importanceResample]] does NOT
    * call `ln`: libms round `log` differently in the last ulp, and a
    * 1-ulp flip crosses `floor` quantization boundaries). Strictly
    * increasing in x (odd polynomial, positive coefficients, z monotone
    * in x), within 0.1% of true ln for x ∈ [1/8, 8] and ~4% at x = 30 —
    * a documented, deterministic scoring transform, not a libm ln.
    */
  private[graft] def pseudoLn(x: Column): Column = {
    val z = (x - lit(1.0)) / (x + lit(1.0))
    val z2 = z * z
    (lit(2.0) * z) * (lit(1.0) + z2 * (lit(1.0 / 3.0) + z2 * (lit(1.0 / 5.0) +
      z2 * (lit(1.0 / 7.0) + z2 * (lit(1.0 / 9.0) + z2 * (lit(1.0 / 11.0) +
        z2 * (lit(1.0 / 13.0) + z2 * lit(1.0 / 15.0))))))))
  }

  /** ln(2) as the shortest-round-trip double literal — parsed to the
    * identical IEEE bits by any engine, unlike a libm `log(2)` call.
    */
  private val Ln2 = 0.6931471805599453

  /** Deterministic ln of a POSITIVE BIGINT count, accurate over the
    * full range — the range-reduced upgrade of [[pseudoLn]], whose raw
    * series degrades outside `[1/8, 8]` (the documented bias in
    * [[tokenEntropy]]/[[domainShift]]). `ln(c) = e·ln2 + ln(m)` with
    * the binary exponent `e = length(bin(c)) − 1` taken EXACTLY from
    * the integer's binary-string length (no libm `log2`, whose last-ulp
    * rounding at power-of-two boundaries could flip a `floor`
    * quantization cross-engine) and the mantissa
    * `m = c / 2^e ∈ [1, 2)` — squarely inside the series' sweet spot,
    * where 8 atanh terms are good to ~1e-9 relative. `2^e` is an exact
    * integer shift, the division one correctly-rounded IEEE op, so the
    * whole expression is engine-reproducible like [[pseudoLn]] itself,
    * but the value is a real logarithm (≤ ~1e-9 off true ln), not a
    * scoring transform. DuckDB replays it verbatim: `bin()`, `<<`, and
    * the same polynomial.
    */
  private[graft] def lnOfCount(c: Column): Column = {
    val e = (length(bin(c)) - lit(1)).cast("int")
    val m = c.cast("double") /
      call_function("shiftleft", lit(1L), e).cast("double")
    e.cast("double") * lit(Ln2) + pseudoLn(m)
  }

  /** DSIR-style IMPORTANCE RESAMPLING (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — re-derived for the
    * distributed setting, not transliterated): rank raw documents by how
    * much they resemble a TARGET distribution under a hashed-n-gram
    * bag-of-words model, and keep the top `keep`. Features are word
    * unigrams + bigrams hashed into `numBuckets` buckets; the target
    * model `p` is estimated from the docs matching `targetPred`, the raw
    * model `q` from the whole input, both add-1 smoothed; a document's
    * importance is its log-likelihood ratio
    * `Σ_occurrences log(p_b / q_b)`. The paper resamples with Gumbel
    * noise; this variant takes the deterministic top-k by
    * (score desc, id asc) — reproducible across runs and engines, which
    * a noise draw is not.
    *
    * Cross-engine determinism (the q95 recipe): bucket ids come from an
    * md5 prefix (the one hash every engine shares); bucket/total counts
    * are exact BIGINTs; the per-bucket log-ratio is [[pseudoLn]] — a
    * fixed-shape correctly-rounded double expression over those exact
    * inputs — quantized ONCE per bucket to `l_b = floor(scale ·
    * pseudoLn(p_b/q_b))`; document scores are then pure BIGINT sums
    * `Σ_b c_b · l_b`, exact and order-independent. No float ever crosses
    * an aggregation boundary.
    *
    * Scale shape: one explode over the corpus partially aggregated to
    * (doc, bucket) counts; bucket stats re-aggregated from that to
    * `numBuckets` rows (map-side partial both times); the ≤
    * `numBuckets`-row log-ratio table broadcast back; top-k via
    * TakeOrdered (never a global sort). The gram stream is recomputed
    * for the stats and scoring branches rather than cached — at corpus
    * scale the (doc, bucket) table dwarfs executor storage, and the
    * explode is scan-side work AQE pipelines into the pre-aggregation.
    * Docs whose text yields no tokens have no model evidence and are
    * omitted (same contract as [[lmBigramScore]]).
    */
  def importanceResample(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      numBuckets: Int = 256,
      keep: Int = 100,
      scale: Long = 1000000L
  ): DataFrame = {
    require(numBuckets > 0 && numBuckets <= 65536, "numBuckets must be in 1..65536")
    require(keep > 0 && scale > 0)
    val grams = docs
      .select(
        col(idCol).as("doc_id"),
        targetPred.cast("boolean").as("__is_target"),
        explode(
          concat(
            graft.functions.TextExpressions.word_shingles_all(col(textCol), 1),
            graft.functions.TextExpressions.word_shingles_all(col(textCol), 2)))
          .as("gram"))
      .select(
        col("doc_id"),
        col("__is_target"),
        // 4 hex chars = 16 bits, uniform and non-negative; % folds to
        // the bucket count (md5PrefixLong documents the engine contract)
        (graft.functions.Text.md5PrefixLong(col("gram"), 4) % numBuckets).as("bucket"))
    val perDocBucket = grams
      .groupBy("doc_id", "__is_target", "bucket")
      .agg(count(lit(1)).as("c"))
    val stats = perDocBucket
      .groupBy("bucket")
      .agg(
        sum(col("c")).as("cr"),
        sum(when(col("__is_target"), col("c")).otherwise(lit(0L))).as("ct"))
    val tot = stats.agg(sum("cr").as("_r"), sum("ct").as("_t"))
    // p_b/q_b = ((ct+1)/(T+B)) / ((cr+1)/(R+B)) regrouped as
    // (A/B)·(C/D) — the exact shape the oracle replicates
    val ratio = ((col("ct") + lit(1L)).cast("double") / (col("cr") + lit(1L)).cast("double")) *
      ((col("_r") + lit(numBuckets.toLong)).cast("double") /
        (col("_t") + lit(numBuckets.toLong)).cast("double"))
    val logRatios = stats
      .crossJoin(broadcast(tot))
      .select(
        col("bucket"),
        floor(pseudoLn(ratio) * lit(scale.toDouble)).cast("long").as("l"))
    perDocBucket
      .join(broadcast(logRatios), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("l")).as("score"), sum(col("c")).as("n_grams"))
      .withColumnRenamed("doc_id", idCol)
      .orderBy(col("score").desc, col(idCol))
      .limit(keep)
  }

  /** DOMAIN-SHIFT SCORE per group: a KL-style divergence of each
    * group's unigram distribution from the whole corpus's,
    * `KL(P_g ‖ P) = Σ_t (c_gt/N_g) · ln((c_gt/c_t)·(N/N_g))` — the
    * standard "how far does this source/domain sit from the mixture"
    * signal behind domain reweighting (cf. DoReMi-style domain
    * weighting): a source of boilerplate scores high, a source that
    * mirrors the corpus scores near zero.
    *
    * Cross-engine determinism (the q96 recipe): token counts are exact
    * BIGINTs; the per-(group, token) ratio is the fixed two-factor
    * shape `(c_gt/c_t)·(N/N_g)` (each factor one correctly-rounded
    * double division — the single-fraction form would overflow BIGINT
    * at corpus scale, c_gt·N ≈ 10²⁴ at 100 TB); its log is [[pseudoLn]]
    * quantized ONCE per (group, token) to `l = floor(scale·pseudoLn)`;
    * the group score is then the pure BIGINT sum `Σ_t c_gt·l`, exact
    * and order-free, reported raw as `kl_num_scaled` alongside
    * `n_tokens` (callers divide; emitting the quotient would reopen
    * the truncation-vs-floor divergence between engines for the
    * slightly-negative sums pseudoLn quantization can produce).
    * pseudoLn's accuracy fades for ratios far outside [1/8, 8] — a
    * documented, deterministic scoring transform, not a libm ln (the
    * DSIR contract).
    *
    * Scale shape: one explode partially aggregated to (group, token)
    * counts; corpus token counts and group totals re-aggregate FROM
    * that table (map-side partial, input bounded by |groups|×|vocab|);
    * one vocab-bounded equi-join on token; output is |groups| rows. No
    * windows, no driver-side work beyond the single totals row.
    */
  def domainShift(
      docs: DataFrame,
      textCol: String,
      groupCol: String,
      scale: Long = 1000000L
  ): DataFrame = {
    require(scale > 0, s"scale must be positive: $scale")
    val gt = docs
      .select(
        col(groupCol).as("grp"),
        explode(graft.functions.Text.tokens(col(textCol))).as("tok"))
      .groupBy("grp", "tok")
      .agg(count(lit(1)).as("c_gt"))
    val ct = gt.groupBy("tok").agg(sum(col("c_gt")).as("c_t"))
    val ng = gt.groupBy("grp").agg(sum(col("c_gt")).as("n_g"))
    val tot = ng.agg(sum(col("n_g")).as("_n"))
    val ratio = (col("c_gt").cast("double") / col("c_t").cast("double")) *
      (col("_n").cast("double") / col("n_g").cast("double"))
    gt
      .join(ct, "tok")
      .join(broadcast(ng), "grp")
      .crossJoin(broadcast(tot))
      .select(
        col("grp"),
        col("c_gt"),
        col("n_g"),
        floor(pseudoLn(ratio) * lit(scale.toDouble)).cast("long").as("l"))
      .groupBy(col("grp"), col("n_g"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("c_gt") * col("l")).as("kl_num_scaled"))
      .select(
        col("grp").as(groupCol),
        col("n_g").as("n_tokens"),
        col("n_terms"),
        col("kl_num_scaled"))
      .orderBy(groupCol)
  }

  /** PMI COLLOCATION MINING: the corpus's top-`k` adjacent-token
    * bigrams by pointwise mutual information — the phrase-mining signal
    * behind tokenizer vocabulary construction and collocation-aware
    * quality filters ("new york" is a unit; "of the" is not).
    *
    *   PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ),
    *   P(ab) = c_ab/B,  P(a) = c_a/N
    *
    * with c_ab the adjacent-bigram count, c_a/c_b full unigram counts,
    * B total bigram positions, N total tokens — all exact BIGINTs.
    *
    * Cross-engine determinism WITH real-log accuracy: the five factors
    * are combined in log space, each via [[lnOfCount]] (exact binary
    * exponent + in-range [[pseudoLn]] mantissa, ~1e-9 relative), in one
    * fixed association order mirrored textually by the oracle SQL:
    * `ln c_ab − ln c_a − ln c_b − ln B + 2·ln N`, quantized ONCE at the
    * end to `floor(scale·pmi)`. Unlike the raw-series scorers
    * ([[domainShift]], [[tokenEntropy]]) this value is a true PMI in
    * nats (to ~1e-8), because every mantissa the series sees lies in
    * [1, 2).
    *
    * Scale shape (100 TB): one explode to bigram positions partially
    * aggregated map-side to (a, b) counts; `minCount` prunes the hapax
    * tail BEFORE any join (the overwhelming majority of distinct
    * bigrams at corpus scale); two |vocab|-bounded equi-joins attach
    * unigram counts; totals ride a broadcast single row; the top-k is
    * a TakeOrdered over (pmi desc, a, b) — no global sort shuffle, no
    * window, nothing driver-side beyond k rows.
    */
  def pmiCollocations(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      k: Int = 100,
      scale: Long = 1000000L
  ): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(k > 0, s"k must be positive: $k")
    require(scale > 0, s"scale must be positive: $scale")
    // deliberately NOT persisted: the unigram and bigram passes each
    // re-tokenize (one cheap codegen'd scan apiece) rather than pinning
    // corpus-scale token arrays in executor storage
    val toks = docs
      .select(graft.functions.Text.tokens(col(textCol)).as("_toks"))
    val ct = toks
      .select(explode(col("_toks")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("c"))
    val nn = ct.agg(sum(col("c")).as("n"))
    // adjacent pairs; sequence(1, size-1) needs size >= 2 (a descending
    // sequence on shorter docs would fabricate a reversed "bigram")
    val bg = toks
      .where(size(col("_toks")) >= 2)
      .select(
        explode(
          transform(
            sequence(lit(1), size(col("_toks")) - 1),
            i =>
              struct(
                element_at(col("_toks"), i).as("tok_a"),
                element_at(col("_toks"), i + 1).as("tok_b")))).as("_bg"))
      .select(col("_bg.tok_a"), col("_bg.tok_b"))
    val bb = bg.agg(count(lit(1)).as("b"))
    val ab = bg
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val joined = ab
      .join(ct.select(col("tok").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(ct.select(col("tok").as("tok_b"), col("c").as("c_b")), "tok_b")
      .crossJoin(broadcast(nn))
      .crossJoin(broadcast(bb))
    val pmi = lnOfCount(col("c_ab")) - lnOfCount(col("c_a")) -
      lnOfCount(col("c_b")) - lnOfCount(col("b")) +
      lit(2.0) * lnOfCount(col("n"))
    val out = joined
      .select(
        col("tok_a"),
        col("tok_b"),
        col("c_ab"),
        col("c_a"),
        col("c_b"),
        floor(pmi * lit(scale.toDouble)).cast("long").as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("tok_a"), col("tok_b"))
      .limit(k)
    out
  }

  /** CONTRASTIVE NEGATIVE SAMPLING: for every anchor document, up to
    * `k` deterministic pseudo-random negatives drawn by a hash-ring
    * walk — the "random negatives, reproducibly" step of contrastive
    * embedding training. Each id gets a ring position by ranking
    * `md5(salt:id)` (an engine-reproducible pseudo-random permutation);
    * anchor i's candidates are the next `min(k, n−1)` ids around the
    * ring (wrapping; the clamp stops a k ≥ n walk from lapping the ring
    * and emitting one neg_id at several slots of the same anchor), and
    * any pair present in `excludePairs` — e.g. a
    * near-dup pair set, since positives must not leak in as negatives —
    * is anti-joined away, leaving ≤ k slots per anchor. Changing
    * `salt` redraws the whole sample.
    *
    * Scale shape: the permutation is [[Scale.globalDenseRank]]'s
    * range-partitioned rank (never a single-task global window), the
    * ring walk is one explode(1..k) plus ONE equi-join on the successor
    * position, and the positive filter is an anti-join on the pair set
    * — no all-pairs anywhere; ≤ N·k output rows. The one driver-side
    * action is the single-row ring size (the modulo needs it).
    */
  def negativeSamples(
      docs: DataFrame,
      idCol: String,
      k: Int,
      excludePairs: DataFrame,
      salt: String = "neg"
  ): DataFrame = {
    require(k > 0, s"negativeSamples: k must be positive, got $k")
    require(
      excludePairs.columns.take(2).length == 2,
      "negativeSamples: excludePairs needs (doc_a, doc_b) as its first two columns")
    val Seq(pa, pb) = excludePairs.columns.take(2).toSeq
    val ring = Scale.globalDenseRank(
      docs.select(col(idCol)).distinct()
        .withColumn("_h", md5(concat_ws(":", lit(salt), col(idCol)))),
      Seq(col("_h")), "_pos")
    val n = ring.agg(count(lit(1))).head().getLong(0)
    require(n > 1, s"negativeSamples: need at least 2 distinct ids, got $n")
    // a walk of n-1 steps visits every OTHER id exactly once; more would
    // wrap past a full revolution and emit the same neg_id at several
    // slots for one anchor, silently violating the "up to k negatives"
    // contract — so the slot count is clamped to min(k, n-1)
    val kEff = math.min(k.toLong, n - 1)
    val anchors = ring
      .select(col(idCol).as("anchor_id"), col("_pos"))
      .withColumn("slot", explode(sequence(lit(1L), lit(kEff))))
      .withColumn("_negpos", ((col("_pos") - 1 + col("slot")) % n) + 1)
    val negs = ring.select(col(idCol).as("neg_id"), col("_pos").as("_negpos"))
    val excl = excludePairs
      .select(col(pa).as("anchor_id"), col(pb).as("neg_id"))
      .union(excludePairs.select(col(pb).as("anchor_id"), col(pa).as("neg_id")))
    anchors
      .join(negs, "_negpos")
      .where(col("anchor_id") =!= col("neg_id")) // unreachable under the clamp; kept as belt-and-braces
      .join(excl, Seq("anchor_id", "neg_id"), "left_anti")
      .select(col("anchor_id"), col("slot").cast("long").as("slot"), col("neg_id"))
      .orderBy("anchor_id", "slot")
  }

  /** TOKEN-BUDGET SELECTION: keep the prefix of the `order`-sorted
    * corpus whose inclusive running `costCol` total fits `budget` — the
    * "fill a 10B-token training budget with the best documents first"
    * step after scoring (greedy by rank; no document is split). The
    * running total is [[graft.operators.Scale.globalRunningSum]], so a
    * 100 TB corpus is never funnelled through the single ordered
    * partition a bare `sum() OVER (ORDER BY ...)` window executes in;
    * costs are BIGINT (exact, order-independent sums), `order` must be
    * total, and the kept set is deterministic across engines, runs, and
    * partition counts. Appends `outCol` = the inclusive running total.
    */
  def budgetSelect(
      docs: DataFrame,
      order: Seq[Column],
      costCol: Column,
      budget: Long,
      outCol: String = "cum_cost"
  ): DataFrame = {
    require(budget >= 0, s"budget must be nonnegative: $budget")
    Scale
      .globalRunningSum(docs, order, costCol, outCol)
      .where(col(outCol) <= budget)
  }

  /** End-to-end corpus-curation MIX — the reference's lifecycle shape
    * (`driver_ingestions.py:31-64` composing readers → filtration →
    * sinks, `table_jobs/nis_policies.py:21-38`'s join-then-filter
    * template) applied to curation: every per-document signal this
    * engine computes is joined into ONE keep/drop decision, the query
    * a production training-data pipeline actually ships. The signals
    * arrive as DataFrames (each produced by its own oracled operator),
    * so the mix is pure interop — no signal is recomputed here and
    * none can drift from its standalone face.
    *
    * Policy — fixed precedence, the FIRST failing gate names the
    * reason (so a document dropped for several causes reports the
    * cheapest-to-compute one, the order a production pipeline
    * short-circuits in):
    *
    *   1. `duplicate`       not in `survivorIds` (dedup lost the
    *                        election)
    *   2. `low_quality`     quality < minQuality (rounded to 6dp
    *                        BEFORE the compare — both engines replay
    *                        the rounded value bit-for-bit, so the
    *                        threshold compare is engine-independent)
    *   3. `shallow_core`    k-core number < minCore (a document
    *                        outside every core reads 0 — boilerplate
    *                        islands and orphans)
    *   4. `weak_community`  its community's exact-integer modularity
    *                        numerator q_num ≤ 0 (no denser than
    *                        chance) or the document is unlabeled
    *   5. `untrusted`       personalized-PageRank mass from the
    *                        trusted seed set < minRankMicro (absent ⇒
    *                        0 — unreachable from every seed)
    *   6. `overexposed`     (only when `freshness` is supplied) the
    *                        document's recent-window frequency
    *                        estimate ≥ maxFreshCount — "seen k× in the
    *                        last N days", the windowed count-min gate
    *                        ([[graft.operators.Scale.countMinWindow]]):
    *                        content flooding the recent ingest window
    *                        is over-represented and excluded. The
    *                        estimate's one-sided guarantee (est ≥
    *                        true) means a PASS here is sound — a
    *                        document the sketch clears truly is under
    *                        the cap; overcounts can only drop extra
    *                        rows, never admit one. Absent row ⇒ drop
    *                        (no witness — e.g. a null fingerprint).
    *   7. `kept`            all gates passed
    *
    * Missing-signal semantics are DROP-biased by design (absent
    * survivor row ⇒ duplicate, absent core ⇒ 0, absent label ⇒ weak,
    * absent rank ⇒ 0): a curation mix must fail closed — a document
    * no signal vouches for does not enter a training corpus.
    *
    * Scale shape: five (six with freshness) left equi-joins on the
    * document key (at 100 TB
    * they co-shuffle on one key; every signal table is document-scale
    * or smaller), plus one community-scale join for q_num, broadcast
    * while the community table is provably small (one bounded count —
    * the countMinEstimate gate discipline). No window, no collect, no
    * cartesian anywhere.
    *
    * Inputs: `survivorIds` (a column named `idCol` — the kept set),
    * `quality` (idCol, quality DOUBLE), `cores` (idCol, core BIGINT),
    * `labels` (idCol, label), `modularity` (label, …, q_num),
    * `ppr` (idCol, rank_micro), optionally `freshness` (idCol,
    * fresh_cnt BIGINT — a windowed count-min estimate per document).
    * Returns (idCol, kept BOOLEAN, reason STRING), one row per `docs`
    * row.
    */
  def curationMix(
      docs: DataFrame,
      idCol: String,
      survivorIds: DataFrame,
      quality: DataFrame,
      cores: DataFrame,
      labels: DataFrame,
      modularity: DataFrame,
      ppr: DataFrame,
      minQuality: Double,
      minCore: Long,
      minRankMicro: Long,
      maxBroadcastCommunities: Long = 1000000L,
      freshness: Option[DataFrame] = None,
      maxFreshCount: Long = Long.MaxValue
  ): DataFrame = {
    (Seq(
      ("survivorIds", survivorIds, idCol), ("quality", quality, idCol),
      ("cores", cores, idCol), ("labels", labels, idCol),
      ("modularity", modularity, "label"), ("ppr", ppr, idCol)
    ) ++ freshness.map(f => ("freshness", f, idCol))).foreach { case (name, df, key) =>
      require(df.columns.contains(key),
        s"curationMix: $name must carry a '$key' column, has ${df.columns.mkString(", ")}")
    }
    freshness.foreach { f =>
      require(f.columns.contains("fresh_cnt"),
        s"curationMix: freshness must carry a 'fresh_cnt' column, has ${f.columns.mkString(", ")}")
      require(maxFreshCount < Long.MaxValue,
        "curationMix: supply maxFreshCount alongside freshness — the default never gates")
    }
    val surv = survivorIds.select(col(idCol)).distinct().withColumn("_surv", lit(true))
    val qual = quality.select(col(idCol), round(col("quality"), 6).as("_q"))
    val core = cores.select(col(idCol), col("core").cast("long").as("_core"))
    val lab = labels.select(col(idCol), col("label").as("_lab"))
    val mq = modularity.select(col("label").as("_lab"), col("q_num").as("_qnum"))
    val mqSide = if (mq.count() <= maxBroadcastCommunities) broadcast(mq) else mq
    val rank = ppr.select(col(idCol), col("rank_micro").cast("long").as("_rank"))
    val baseReason = when(coalesce(col("_surv"), lit(false)) === false, lit("duplicate"))
      .when(coalesce(col("_q"), lit(0.0)) < minQuality, lit("low_quality"))
      .when(coalesce(col("_core"), lit(0L)) < minCore, lit("shallow_core"))
      .when(coalesce(col("_qnum"), lit(0L)) <= 0L, lit("weak_community"))
      .when(coalesce(col("_rank"), lit(0L)) < minRankMicro, lit("untrusted"))
    // absent freshness row coalesces to Long.MaxValue ⇒ overexposed —
    // the fail-closed direction (no witness, no entry)
    val reason = (freshness match {
      case Some(_) => baseReason.when(
        coalesce(col("_fresh"), lit(Long.MaxValue)) >= maxFreshCount, lit("overexposed"))
      case None => baseReason
    }).otherwise(lit("kept"))
    val joined = docs.select(col(idCol))
      .join(surv, Seq(idCol), "left")
      .join(qual, Seq(idCol), "left")
      .join(core, Seq(idCol), "left")
      .join(lab, Seq(idCol), "left")
      .join(mqSide, Seq("_lab"), "left")
      .join(rank, Seq(idCol), "left")
    freshness
      .map(f => joined.join(
        f.select(col(idCol), col("fresh_cnt").cast("long").as("_fresh")),
        Seq(idCol), "left"))
      .getOrElse(joined)
      .select(col(idCol), reason.as("reason"))
      .select(col(idCol), (col("reason") === "kept").as("kept"), col("reason"))
  }
}
