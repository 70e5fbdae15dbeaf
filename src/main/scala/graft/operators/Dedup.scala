package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Deduplication operators for the LLM-data-pipeline surface: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every variant is a groupBy/join on a derived key — no
  * driver-side collection, no quadratic all-pairs stage. The all-pairs
  * comparisons only ever happen *within* a bucket (LSH band, simhash
  * bucket, shared shingle), which is the standard way these run over
  * 100 TB corpora.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct text with the surviving
    * (minimum) id and the number of copies. Single hash aggregation on a
    * 128-bit digest — the shuffle carries the digest, not the document.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** `dropDuplicates`-style survivor set (min-id per exact text). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, idCol)
  }

  /** doc → exploded distinct word-n-gram shingles (single-pass custom
    * expression; the `transform`/`slice` built-in route is ~30 µs/row of
    * interpreted lambda overhead — see graft.functions.TextOps).
    */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.TextExpressions.word_shingles(col(textCol), n)).as("shingle")
    )

  /** Exact n-gram Jaccard near-dup pairs (ground truth; the MinHash path
    * approximates this). Pairs are generated only through shared shingles
    * — an equi-join on `shingle` — then scored `|A∩B| / |A∪B|`.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    val sh = Checkpoints.cache(shingleTable(fanOut(docs), idCol, textCol, n))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val common = a
      .join(b, col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val ja = common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    ja.orderBy("doc_a", "doc_b")
  }

  /** Frequency-capped variant of [[ngramJaccardPairs]] for corpora where
    * common ("stop") shingles make the shared-shingle join quadratic:
    * shingles appearing in more than `maxDocsPerShingle` documents are
    * excluded from candidate generation only — surviving pairs are still
    * scored with exact Jaccard over the full shingle sets, so scores have
    * no error; only pairs whose entire overlap is stop-shingles can be
    * missed. This caps the per-shingle pair fan-out at
    * `maxDocsPerShingle²`, which is what keeps the join bounded at 100 TB.
    */
  def ngramJaccardPairsCapped(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocsPerShingle: Int = 100
  ): DataFrame = {
    val base = shingleSets(docs, idCol, textCol, n)
    // scores stay exact over the FULL shingle sets — the cap bounds only
    // the candidate generation
    rescoreExactJaccardSets(cappedCandidates(base, maxDocsPerShingle), base, threshold)
  }

  /** Per-doc `(doc_id, shs)` distinct-shingle sets, empty-docs dropped —
    * the shared front of the capped pair generators.
    */
  private def shingleSets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    import graft.functions.TextExpressions.word_shingles
    Checkpoints.cache(fanOut(docs)
      .select(col(idCol).as("doc_id"), word_shingles(col(textCol), n).as("shs"))
      .where(size(col("shs")) > 0))
  }

  /** Frequency-capped shared-shingle candidate pairs over a
    * [[shingleSets]] table: shingles in more than `maxDocsPerShingle`
    * docs are excluded from candidate generation (fan-out bounded at
    * cap² per shingle); output is the distinct (doc_a < doc_b) pair set.
    */
  private def cappedCandidates(base: DataFrame, maxDocsPerShingle: Int): DataFrame = {
    val sh = base.select(col("doc_id"), explode(col("shs")).as("shingle"))
    val rare = sh
      .groupBy("shingle")
      .agg(count(lit(1)).as("_df"))
      .where(col("_df") <= maxDocsPerShingle)
      .select("shingle")
    val capped = sh.join(rare, "shingle")
    val a = capped.as("a")
    val b = capped.as("b")
    a
      .join(b, col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** CONTAINMENT near-dup pairs: directed `(inner, outer)` pairs where
    * at least `threshold` of `inner`'s distinct shingles appear in
    * `outer` — `|A∩B| / |A|`, Broder's containment. Catches what
    * symmetric Jaccard structurally CANNOT: an excerpt, quote, or
    * abstract fully inside a much larger document scores
    * containment ≈ 1 while its Jaccard ≈ |A|/|B| ≈ 0 — the
    * "drop the quoted fragment, keep the host" dedup decision.
    *
    * Same scale shape as [[ngramJaccardPairsCapped]]: df-capped
    * shared-shingle candidates (bounded fan-out), then the fixed-width
    * sorted-array rescore — one merge-walk intersection per pair, both
    * directions emitted from the SAME joined row (no second join), each
    * kept independently against the threshold.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocsPerShingle: Int = 100
  ): DataFrame = {
    val base = shingleSets(docs, idCol, textCol, n)
    val scored = joinedSortedSets(cappedCandidates(base, maxDocsPerShingle), base)
      .withColumn(
        "common",
        graft.functions.TextExpressions.sorted_intersect_count(col("sa"), col("sb")))
    val ab = scored.select(
      col("doc_a").as("inner_id"), col("doc_b").as("outer_id"),
      col("common"), col("na").as("n_inner"))
    val ba = scored.select(
      col("doc_b").as("inner_id"), col("doc_a").as("outer_id"),
      col("common"), col("nb").as("n_inner"))
    ab.union(ba)
      .withColumn("containment", col("common").cast("double") / col("n_inner"))
      .where(col("containment") >= threshold)
      .select(
        col("inner_id"), col("outer_id"), col("n_inner"), col("common"),
        round(col("containment"), 6).as("containment"))
      .orderBy("inner_id", "outer_id")
  }

  /** EXACT-threshold set-similarity self-join by PREFIX FILTERING
    * (Chaudhuri et al., ICDE 2006; Bayardo et al., "Scaling Up All
    * Pairs Similarity Search", WWW 2007) — the FULL-RECALL scale path
    * to [[ngramJaccardPairs]]'s answer. The frequency cap
    * ([[ngramJaccardPairsCapped]]) bounds candidate fan-out by trading
    * recall: a pair whose entire overlap is stop-shingles is missed.
    * The prefix filter bounds fan-out with NO false negatives: order
    * every doc's shingles canonically (rarest-first by global document
    * frequency, ties by shingle text) and keep only the first
    * `|s| − ⌈t·|s|⌉ + 1` as its PREFIX; any pair with Jaccard ≥ t must
    * share a prefix shingle (if C = A∩B and |C| ≥ ⌈t|A|⌉, the
    * canonical-minimum element of C lands inside both prefixes by
    * pigeonhole — each suffix holds only ⌈t|x|⌉ − 1 elements). The
    * candidate join therefore touches ~(1−t) of each doc's shingles,
    * and those are its RAREST, so hot boilerplate shingles almost never
    * generate candidates. A length filter (J ≥ t ⟹ t·|A| ≤ |B| and
    * t·|B| ≤ |A|) prunes inside the join condition; the exact
    * sorted-set merge-walk rescore decides membership. Output is
    * value-identical to the brute-force shared-shingle join at the
    * same threshold — the oracle can be the ground-truth SQL verbatim.
    *
    * Both ceiling computations subtract a 1e-9 guard before `ceil`, so
    * floating-point noise can only LENGTHEN a prefix or RELAX the
    * length filter — never create a false negative.
    *
    * Scale: one df aggregation, one per-doc bounded aggregation
    * (collect + row-local sort + slice — per-doc state is the doc's own
    * shingle set), the prefix equi-join, then the candidates-only
    * rescore. Candidate count is output-bound on dup families (their
    * pairs ARE the answer) plus the rare-shingle collision tail.
    */
  def prefixFilterJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixFilterJaccardPairs: threshold must be in (0, 1], got $threshold")
    val base = shingleSets(docs, idCol, textCol, n)
    val sh = base.select(col("doc_id"), explode(col("shs")).as("shingle"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
    val prefixes = sh
      .join(dfreq, "shingle")
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("_df"), col("shingle")))).as("_srt"),
        count(lit(1)).as("_n"))
      .withColumn("_p",
        (col("_n") - ceil(col("_n") * threshold - lit(1e-9)) + 1).cast("int"))
      .select(col("doc_id"), col("_n"), explode(expr("slice(_srt, 1, _p)")).as("_s"))
      .select(col("doc_id"), col("_n"), col("_s.shingle").as("shingle"))
    val a = prefixes.as("a")
    val b = prefixes.as("b")
    val cand = a
      .join(
        b,
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a._n").cast("double") >= col("b._n") * threshold - 1e-9 &&
          col("b._n").cast("double") >= col("a._n") * threshold - 1e-9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    rescoreExactJaccardSets(cand, base, threshold)
  }

  /** DUPLICATED-PASSAGE spans: the maximal runs of word positions whose
    * `gramLen`-token windows each appear in at least `minDocs` distinct
    * documents — the exact-substring dedup signal of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" (ACL
    * 2022), where the unit of removal is the repeated PASSAGE (quoted
    * boilerplate, licence blocks, syndicated paragraphs), not the whole
    * document. Whole-doc dedup (exact/Jaccard/MinHash) structurally
    * misses a 200-token boilerplate footer pasted into otherwise-unique
    * documents; this operator finds exactly those spans.
    *
    * The suffix-array formulation is a single-machine algorithm; the
    * distributed shape is positional fingerprints: (a) every position's
    * `gramLen`-token window becomes a fixed-width md5 fingerprint
    * (row-local, codegen'd — the shuffle carries 32-char digests, never
    * the ~`gramLen`-word grams); (b) fingerprints seen in ≥ `minDocs`
    * DISTINCT docs survive (two partial-aggregable shuffles, both
    * bounded by the gram table); (c) each doc's surviving positions
    * merge into maximal spans by the gap-1 island rule —
    * [[Sessions.intervals]] with positions as "times", per-doc state
    * bounded by document length. Repetition INSIDE one document does
    * not make a gram "duplicated" (distinct-doc counting), matching the
    * cross-document semantics of the paper.
    *
    * Returns `(doc_id, span_seq, start_pos, end_pos, n_grams)` with
    * 1-based token positions, `end_pos` the last token of the last
    * duplicated window (`= last gram start + gramLen − 1`).
    */
  def duplicatedPassages(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(gramLen >= 2, s"duplicatedPassages: gramLen must be >= 2, got $gramLen")
    require(minDocs >= 2, s"duplicatedPassages: minDocs must be >= 2, got $minDocs")
    val toks = fanOut(docs)
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("_w"))
      .where(size(col("_w")) >= gramLen)
    val grams = Checkpoints.cache(toks
      .select(
        col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(_w) - ${gramLen - 1}), " +
            s"i -> md5(array_join(slice(_w, i, $gramLen), ' ')))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("_g")))
    val dup = grams
      .select("_g", "doc_id").distinct()
      .groupBy("_g").agg(count(lit(1)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select("_g")
    val hits = grams.join(dup, Seq("_g"), "left_semi")
    Sessions
      .intervals(hits, "doc_id", "pos", "pos", gapSeconds = 1L)
      .select(
        col("doc_id"),
        col("session_seq").cast("long").as("span_seq"),
        col("start_sec").as("start_pos"),
        (col("end_sec") + (gramLen - 1)).as("end_pos"),
        (col("end_sec") - col("start_sec") + 1).as("n_grams"))
      .orderBy("doc_id", "span_seq")
  }

  /** CPU fan-out for hash-heavy per-row stages: a small parquet file
    * arrives as ONE input split, so signature computation would run
    * single-threaded regardless of executor count. If the input has
    * fewer partitions than the cluster's parallelism, repartition first —
    * the shuffle of raw docs is cheap next to per-row hashing. At real
    * scale inputs already carry thousands of splits and this is a no-op.
    */
  private def fanOut(df: DataFrame): DataFrame = {
    // Split-count heuristic WITHOUT touching df.rdd — materializing the
    // RDD lineage forces physical planning (and, under AQE, can eagerly
    // run upstream shuffle stages) just to learn a number. For
    // file-backed inputs the scan listing is already done, so estimate
    // splits the way FilePartition packs them: bytes-weighted with the
    // per-file open cost, capped at one split per file. Derived
    // (post-shuffle / in-memory) inputs report no files; those already
    // carry the upstream operator's parallelism, so they are left alone
    // rather than forcibly re-shuffled to a possibly LOWER count.
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val conf = spark.sessionState.conf
    val maxSplit = math.max(1L, conf.filesMaxPartitionBytes)
    val openCost = math.max(1L, conf.filesOpenCostInBytes)
    // File statuses (with lengths) are already cached in each scan's
    // FileIndex — no filesystem RPCs needed to estimate split counts.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val fileRelations = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }
    if (fileRelations.isEmpty) {
      // not a V1 file scan (DSv2 / Hive / in-memory): Dataset.inputFiles
      // still knows file counts for V2 FileScans and Hive tables — fall
      // back to the count-only heuristic there; with no files at all the
      // input is derived and keeps its upstream parallelism
      val files = df.inputFiles.length
      return if (files > 0 && files < target) df.repartition(target) else df
    }
    val files = fileRelations.iterator.map(_.location.inputFiles.length.toLong).sum
    if (files == 0L) return df
    // bytes from the cached index, plus the per-file open cost FilePartition
    // packing charges — the same weighting the scheduler uses. A stats-less
    // catalog index reports defaultSizeInBytes (Long.MaxValue): treat any
    // such sentinel as "huge, leave alone" and sum saturating — an overflow
    // wrap here would force-repartition exactly the tables that must not be.
    val sizes = fileRelations.map(_.location.sizeInBytes)
    if (sizes.exists(_ >= Long.MaxValue / 2)) return df
    val rawBytes = sizes.foldLeft(0L)((a, b) => if (a > Long.MaxValue - b) Long.MaxValue else a + b)
    val pad = files * openCost
    val totalBytes = if (rawBytes > Long.MaxValue - pad) Long.MaxValue else rawBytes + pad
    // large files split at maxSplit boundaries, so splits are NOT capped
    // at one per file
    val estSplits = 1L + totalBytes / maxSplit
    if (estSplits < target) df.repartition(target) else df
  }

  /** Exact-Jaccard rescore of a candidate pair set over FIXED-WIDTH
    * rows: `candidates` is (doc_a, doc_b); `base` is the per-doc
    * `(doc_id, shs)` distinct-shingle table. Each side's sorted shingle
    * array rides the join ONCE per pair and the intersection is counted
    * row-locally by a codegen'd merge walk
    * ([[graft.functions.SortedIntersectCountExpr]]) — the rescore emits
    * |pairs| rows with no aggregation state at all. The exploded
    * alternative (join candidates to a (doc, shingle) table on both
    * sides, then groupBy-count) builds a (pairs × shingles-per-doc)
    * intermediate — ~10⁹ rows at the 100× scale check, whose
    * aggregation sort OOM'd the host. Joins are hinted shuffle-hash so
    * the per-doc set table is a partition-local build side and pair
    * rows stream past it without a wide sort-merge sort; the build side
    * is corpus-proportional and splits with the shuffle partition
    * count, so it holds at 1000 executors. Shared verification tail of
    * every candidate-generation strategy (capped shared-shingle,
    * MinHash-LSH, incremental) — candidates-only work, never all-pairs.
    *
    * The shuffle-hash shape is the 100×-safe one, but it is NOT hinted
    * unconditionally: at small scale forcing two corpus shuffles where
    * the whole set table fits an executor costs more than it saves, so
    * the shape is MEASURED (the [[graft.operators.Scale.joinSkewAware]]
    * probe-before-join move): one metadata aggregation over `base`
    * estimates the set table's broadcast build bytes, and only a table
    * under [[MaxBroadcastSetBytes]] takes the zero-shuffle double
    * broadcast. The estimate is conservative per shingle (UTF8String
    * header + ~n-gram payload) so the cutover errs toward the
    * shuffle-hash shape. The bound is set AT the measured crossover,
    * not at driver capacity: on this corpus shape the broadcast wins at
    * a ~16 MB estimated build (sf0.1: q64 2.98→2.55 s) and LOSES by
    * ~35% at ~150 MB (sf1: 7.6→10.3 s in the first r12 cut at a 256 MB
    * bound), so 64 MB keeps the win and returns the mid-scale runs to
    * the shuffle-hash plan.
    */
  private[operators] val MaxBroadcastSetBytes: Long = 64L * 1024 * 1024

  /** The INCREMENTAL batch-broadcast rescore gets its own, higher
    * crossover: its fallback is not "shuffle the corpus once" but
    * "shuffle corpus ∪ batch on EVERY ingest batch", so a batch build
    * side keeps winning as broadcast well past the symmetric bound.
    * Measured on the same corpus shape (sf1, ~150 MB estimated batch
    * build): batch-broadcast 19.7 s vs union-shuffle 42.6 s on the
    * ingest e2e — the 64 MB symmetric crossover is the wrong constant
    * here by >2×. 256 MB still bounds the executor build comfortably
    * (the estimate overshoots actual bytes ~4×), and a corpus-scale
    * batch (sf10: ≳ GB estimates) still degrades to the union shuffle.
    */
  private[operators] val MaxBroadcastBatchSetBytes: Long = 256L * 1024 * 1024

  /** Third leg of the incremental gate: the CORPUS the broadcast-batch
    * rescore streams past. The zero-shuffle shape scans the persisted
    * corpus set table end to end on every batch; that stream is the
    * cheap side only while the table stays cache-resident. Measured on
    * the ingest e2e with near-identical batch sizes at both scales:
    * ~160 MB estimated corpus → broadcast-batch wins 2× (17.6 s vs
    * 42.6 s union-shuffle at sf1); ~1.6 GB → it LOSES 2× (122 s vs
    * 67 s at sf10), the per-batch full stream having outgrown what the
    * shuffle-hash join's partitioned overlap costs. 512 MB sits at the
    * geometric midpoint of the two measurements. Because the ingest
    * corpus GROWS batch over batch, gating on the measured corpus makes
    * the shape adaptive per batch: early broadcast, late shuffle.
    */
  private[operators] val MaxStreamedCorpusSetBytes: Long = 512L * 1024 * 1024

  /** Estimated broadcast-build bytes of a `(doc_id, shs)` set table:
    * one metadata-scale aggregation (rows + total shingles), priced at
    * 64 B per shingle string and 80 B per row of struct overhead.
    */
  private def estimatedSetBytes(base: DataFrame): Long = {
    val r = base.agg(count(lit(1)), sum(size(col("shs")))).head()
    val rows = r.getLong(0)
    val shingles = if (r.isNullAt(1)) 0L else r.getLong(1)
    shingles * 64L + rows * 80L
  }

  /** Candidates joined to both per-doc sorted-set sides, with the
    * MEASURED join shape (see [[MaxBroadcastSetBytes]]): the shared
    * front of [[rescoreExactJaccardSets]] and [[containmentPairs]].
    * Output columns: candidates' ++ (na, sa, nb, sb).
    */
  private def joinedSortedSets(candidates: DataFrame, base: DataFrame): DataFrame = {
    val aSide = sortedSetsOf(base, "doc_a", "na", "sa")
    val bSide = sortedSetsOf(base, "doc_b", "nb", "sb")
    if (estimatedSetBytes(base) <= MaxBroadcastSetBytes)
      candidates
        .join(broadcast(aSide), "doc_a")
        .join(broadcast(bSide), "doc_b")
    else
      candidates
        .join(aSide.hint("shuffle_hash"), "doc_a")
        .join(bSide.hint("shuffle_hash"), "doc_b")
  }

  private def rescoreExactJaccardSets(
      candidates: DataFrame,
      base: DataFrame,
      threshold: Double
  ): DataFrame =
    scoreJoinedSets(joinedSortedSets(candidates, base), threshold)

  /** [[rescoreExactJaccardSets]] for the INCREMENTAL shape, where every
    * candidate pair is (corpus doc_a, batch doc_b) and the caller has
    * MEASURED the batch as broadcast-scale: the corpus set table is
    * never shuffled at all — it streams once past the broadcast
    * candidate pairs, and the batch's own set table rides a second
    * broadcast. Per-batch rescore cost = one corpus shingle scan, the
    * documented ingest contract. The candidate set is bounded by
    * (batch docs × their corpus matches); a batch that defeats the
    * caller's measured guard takes the shuffle shape instead.
    */
  private def rescoreExactJaccardSetsBroadcastBatch(
      candidates: DataFrame,
      corpusBase: DataFrame,
      batchBase: DataFrame,
      threshold: Double
  ): DataFrame =
    scoreJoinedSets(
      sortedSetsOf(corpusBase, "doc_a", "na", "sa")
        .join(broadcast(candidates), "doc_a")
        .join(broadcast(sortedSetsOf(batchBase, "doc_b", "nb", "sb")), "doc_b"),
      threshold)

  private def sortedSetsOf(
      base: DataFrame,
      idAs: String,
      nAs: String,
      setAs: String
  ): DataFrame =
    base.select(
      col("doc_id").as(idAs),
      size(col("shs")).as(nAs),
      sort_array(col("shs")).as(setAs))

  private def scoreJoinedSets(joined: DataFrame, threshold: Double): DataFrame =
    joined
      .withColumn(
        "common",
        graft.functions.TextExpressions.sorted_intersect_count(col("sa"), col("sb")))
      .withColumn("jaccard", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** MinHash + LSH banding with md5-derived hashes — the oracle-replicable
    * variant of [[minhashLshPairs]]: slot `k`'s minhash is the
    * lexicographic min of `md5(shingle || ':' || k)` (md5 being the one
    * hash Spark and DuckDB share bit-for-bit), and a band's bucket is the
    * md5 of its '|'-joined slots. Same scale shape as the xxhash64 path
    * (row-wise signatures, banded equi-join candidates, exact rescore);
    * md5 costs more per shingle, so the xxhash64 variant stays the
    * performance path.
    */
  def minhashLshPairsMd5(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      bands: Int = 8,
      rowsPerBand: Int = 2
  ): DataFrame = {
    import graft.functions.TextExpressions.word_shingles
    val numHashes = bands * rowsPerBand
    val base = Checkpoints.cache(fanOut(docs)
      .select(col(idCol).as("doc_id"), word_shingles(col(textCol), n).as("shs"))
      .where(size(col("shs")) > 0))

    val banded = bandedMd5(base, bands, rowsPerBand)
    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l
      .join(
        r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()

    rescoreExactJaccardSets(candidates, base, threshold)
  }

  /** md5-minhash LSH bands for a `(doc_id, shs)` shingle table: one row
    * per (doc, band) with the band's bucket hash. Per-seed signatures are
    * computed row-wise by a single codegen'd expression (map-side only,
    * no shuffle; the transform/array_min SQL equivalent evaluates
    * numHashes interpreted lambdas per row).
    */
  private def bandedMd5(base: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = base.select(
      col("doc_id"),
      graft.functions.TextExpressions
        .minhash_md5_signature(col("shs"), bands * rowsPerBand).as("sig"))
    val bandCols = (0 until bands).map { b =>
      val slots =
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(k => element_at(col("sig"), k + 1))
      struct(lit(b).as("band"), md5(concat_ws("|", slots: _*)).as("bucket"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** INCREMENTAL near-dup detection: score a (small) new batch against an
    * arbitrarily large existing corpus WITHOUT any corpus self-join — the
    * "dedup today's crawl against the lake" shape. Both sides get the
    * same md5 MinHash banding as [[minhashLshPairsMd5]]; the candidate
    * join streams the corpus's bands past the BROADCAST batch bands
    * (batch-scale, not corpus-scale), so the corpus pays one scan +
    * row-wise signature pass and never pairs with itself. Candidates
    * rescore with exact Jaccard over the two-sided shingle table — the
    * candidate set is batch-collision-bounded, so AQE broadcasts it and
    * the corpus shingle table is filtered at the scan rather than
    * shuffled. Id spaces must be disjoint (batch ids are the dup
    * candidates; a shared id would alias the two sides).
    * Output: `(doc_a = corpus id, doc_b = batch id, jaccard)` at or
    * above `threshold`.
    *
    * The broadcast is MEASURED, not assumed: the "small new batch"
    * contract is enforced by counting the batch's shingled docs (one
    * batch-scale aggregation, the same probe-before-join move as
    * [[graft.operators.Scale.joinSkewAware]]) — at or below
    * `maxBroadcastBandedRows` banded rows (docs × bands; ~80 bytes
    * each) the batch side carries an explicit broadcast hint, above it
    * the operator logs a warning and degrades to a plain shuffle
    * equi-join on (band, bucket) instead of handing a corpus-sized
    * "batch" to the driver to OOM on. The degraded plan is still
    * correct and still avoids any corpus self-join; size the bound to
    * executor memory.
    *
    * BOTH shingle tables are cached: the batch side's cache is reused
    * by the measuring count, the banding, and the rescore; the corpus
    * side's cache trades a second scan for corpus-scale spillable
    * storage. Like every pin, they live until the caller's release
    * scope closes ([[Checkpoints.scoped]]: a runner job, or the
    * streaming-ingest loop's per-batch scope).
    */
  def incrementalNearDupMd5(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      maxBroadcastBandedRows: Long = 2000000L
  ): DataFrame = {
    import graft.functions.TextExpressions.word_shingles
    require(maxBroadcastBandedRows >= 0, s"bad maxBroadcastBandedRows $maxBroadcastBandedRows")
    def baseOf(df: DataFrame) = Checkpoints.cache(fanOut(df)
      .select(col(idCol).as("doc_id"), word_shingles(col(textCol), n).as("shs"))
      .where(size(col("shs")) > 0))
    val corpusBase = baseOf(corpus)
    val batchBase = baseOf(batch)
    // measure before hinting: an oversized "batch" must not reach the
    // driver as a broadcast build side
    val bandedRows = batchBase.count() * bands
    val batchBands = bandedMd5(batchBase, bands, rowsPerBand)
    val buildSide =
      if (bandedRows <= maxBroadcastBandedRows) broadcast(batchBands)
      else {
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .warn(
            s"incrementalNearDupMd5: batch has $bandedRows banded rows " +
              s"(> $maxBroadcastBandedRows) — degrading the candidate join from " +
              "broadcast to shuffle; if this batch is really corpus-scale, " +
              "use minhashLshPairsMd5 over the union instead")
        batchBands
      }
    val candidates = bandedMd5(corpusBase, bands, rowsPerBand).as("l")
      .join(
        buildSide.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    // The broadcast rescore ships TWO things to every executor, and the
    // banded-row guard above bounds NEITHER: the candidate pair set
    // (batch docs × their corpus matches — unbounded when a batch doc
    // hits a hot corpus bucket of boilerplate near-dups) and the batch's
    // full sorted shingle arrays (far heavier per row than the ~80-byte
    // banded rows the banding bound was sized for). So the rescore shape
    // gets its OWN measurements: the candidates are materialized (cached
    // — they are reused verbatim by the rescore) and counted, and the
    // batch set table's build bytes are estimated like any other
    // rescore input — but against [[MaxBroadcastBatchSetBytes]], the
    // incremental crossover, because the fallback here re-shuffles
    // corpus ∪ batch per ingest batch rather than once. Either bound
    // tripping degrades to the measured shuffle rescore over the
    // union, which is always safe.
    if (bandedRows <= maxBroadcastBandedRows) {
      val cand = Checkpoints.cache(candidates)
      val candRows = cand.count()
      if (candRows * 96L <= MaxBroadcastSetBytes &&
          estimatedSetBytes(batchBase) <= MaxBroadcastBatchSetBytes &&
          estimatedSetBytes(corpusBase) <= MaxStreamedCorpusSetBytes)
        rescoreExactJaccardSetsBroadcastBatch(cand, corpusBase, batchBase, threshold)
      else {
        org.slf4j.LoggerFactory
          .getLogger(getClass)
          .warn(
            s"incrementalNearDupMd5: broadcast-scale batch but $candRows candidate " +
              "pairs / batch set bytes exceed the broadcast bound — taking the " +
              "measured shuffle rescore over the union instead")
        rescoreExactJaccardSets(
          cand, corpusBase.union(batchBase).select(col("doc_id"), col("shs")), threshold)
      }
    } else
      rescoreExactJaccardSets(
        candidates, corpusBase.union(batchBase).select(col("doc_id"), col("shs")), threshold)
  }

  /** NOVELTY filter: the batch docs that are neither exact nor near
    * duplicates of an existing corpus — the complete "keep what's new"
    * composition over [[incrementalNearDupMd5]], shared by the
    * streaming-ingest door ([[graft.streaming.Streams.ingestBatchDeduped]])
    * and the curation driver's incremental mode.
    *
    * The exact-digest guard runs FIRST, and that ordering is
    * load-bearing: it covers shingle-free short docs (< `n` tokens,
    * invisible to banding), and it removes any batch doc whose text
    * already exists verbatim in the corpus BEFORE the banding join —
    * so a re-executed batch already in the corpus (same id/text on both sides)
    * re-enters [[incrementalNearDupMd5]] with disjoint id spaces
    * instead of double-counting its own shingles in the rescore.
    *
    * Scale shape: the corpus pays one digest scan (semi-joined against
    * the broadcast batch digests, so the dup set is batch-bounded and
    * the anti-join broadcasts) plus the banding/rescore scans of
    * [[incrementalNearDupMd5]]; everything else is batch-scale.
    *
    * The internal caches live until the caller's release scope closes
    * (see [[incrementalNearDupMd5]]).
    */
  def noveltyFilter(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      bands: Int = 8,
      rowsPerBand: Int = 2
  ): DataFrame = {
    val batchDigests = batch.select(md5(col(textCol)).as("__h")).distinct()
    val dupDigests = corpus
      .select(md5(col(textCol)).as("__h"))
      .join(broadcast(batchDigests), Seq("__h"), "left_semi")
      .distinct()
    val fresh = batch
      .withColumn("__h", md5(col(textCol)))
      .join(dupDigests, Seq("__h"), "left_anti")
      .drop("__h")
    val pairs = incrementalNearDupMd5(
      corpus, fresh, idCol, textCol, n, threshold, bands, rowsPerBand)
    val nearIds = pairs.select(col("doc_b").as(idCol)).distinct()
    fresh.join(nearIds, Seq(idCol), "left_anti")
  }

  /** md5-derived 60-bit SimHash — the oracle-replicable variant of
    * [[simhash]]: each distinct token hashes to the first 15 hex chars of
    * its md5 (60 bits), per-bit ±1 tallies are a single grouped
    * aggregation (map-side partial combine), sign → bit. 60 bits instead
    * of 64 keeps the value in a signed BIGINT on both engines.
    */
  def simhashMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextExpressions.{simhash_md5_60, word_shingles}
    // row-wise signature: no explode, no 60-column aggregation shuffle —
    // the whole computation happens inside the scan
    fanOut(docs)
      .select(col(idCol).as("doc_id"), simhash_md5_60(word_shingles(col(textCol), 1)).as("simhash"))
  }

  /** SimHash dup groups over the md5-derived signature ([[simhashMd5]]). */
  def simhashMd5Groups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashMd5(docs, idCol, textCol)
      .groupBy("simhash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
      .where(col("n_members") >= 2)
      .orderBy("keep_id")

  /** MinHash + LSH banding candidate pairs, verified with exact Jaccard.
    *
    * bands × rowsPerBand = numHashes. A pair lands in the candidate set if
    * any band of its signature collides (hash of that band's minhashes).
    * Candidates are then re-scored with exact shingle Jaccard so the output
    * has no false positives; only LSH misses remain (tunable via
    * bands/rows). This is the 100 TB path: the only all-pairs work is
    * within LSH buckets.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      bands: Int = 8,
      rowsPerBand: Int = 4
  ): DataFrame = {
    import graft.functions.TextExpressions.{minhash_signature, word_shingles}
    val numHashes = bands * rowsPerBand

    // one row per doc: shingle set + minhash signature, computed in a
    // single scan with no shuffle
    val base = Checkpoints.cache(fanOut(docs)
      .select(col(idCol).as("doc_id"), word_shingles(col(textCol), n).as("shs"))
      .where(size(col("shs")) > 0)
      .select(
        col("doc_id"),
        col("shs"),
        size(col("shs")).as("n_sh"),
        minhash_signature(col("shs"), numHashes).as("sig")
      ))

    // band id + band hash, one row per (doc, band)
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    val banded = base
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l
      .join(
        r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id")
      )
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()

    // exact verification on the candidate set only
    rescoreExactJaccardSets(candidates, base.select(col("doc_id"), col("shs")), threshold)
  }

  /** 64-bit SimHash per document from token XXH64 hashes: per bit, sum of
    * +1/-1 over distinct tokens, sign → bit. Single row-wise expression
    * (graft.functions.SimHash64Expr) over the token array — no explode,
    * no 64-aggregate shuffle; the only shuffle left is the group-by on
    * the finished signature.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      graft.functions.TextExpressions
        .simhash64(graft.functions.TextExpressions.word_shingles(col(textCol), 1))
        .as("simhash")
    )

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`:
    * candidates must share at least one of four 16-bit signature bands
    * (pigeonhole: any pair within Hamming 3 shares a band), then are
    * verified with `bit_count(xor)`. Same blocked-join shape as the other
    * near-dup operators — no all-pairs stage.
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    // pigeonhole guarantee holds for maxHamming <= 3; beyond that the
    // band blocking is a recall/cost trade-off (documented, not an error)
    val sig = simhash(docs, idCol, textCol)
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"), shiftright(col("simhash"), b * 16).bitwiseAND(0xffffL).as("bucket"))
    }
    val banded = sig
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(
        r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id")
      )
      .select(
        col("l.doc_id").as("doc_a"),
        col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).cast("long").as("hamming")
      )
      .dropDuplicates("doc_a", "doc_b")
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over a near-duplicate pair set — the transitive
    * closure that turns pairwise matches into dedup CLUSTERS (a is a dup
    * of b, b of c ⇒ {a,b,c} keep one survivor). Iterative min-label
    * propagation: each round, every node takes the min label in its
    * neighborhood; converges in O(component diameter) rounds. Each round
    * is one distributed join + aggregate; `localCheckpoint` truncates the
    * growing lineage. Near-dup graphs are dense clique-ish clusters with
    * tiny diameters, so rounds stay in the single digits at any corpus
    * size (the classic large-diameter adversary — a long path — does not
    * occur in similarity graphs; raise `maxIter` if yours differs).
    *
    * Returns (node, label) with label = min node id of the component.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    // checkpoint lifecycle: see [[Checkpoints]] — every superseded
    // round's persisted copy is released, the live round's stays
    import Checkpoints.{checkpoint, release}

    val sym = checkpoint(
      pairs
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct())
    var prev = checkpoint(
      sym.select(col("src").as("node")).distinct().withColumn("label", col("node")))
    var labels = prev
    // label tables are vertex-scale: broadcast them under the measured
    // bound (the Graph.pageRankExact discipline — checkpointed frames
    // have no size stats, so AQE sort-merges the pair-scale sym side
    // against them every round otherwise)
    val nVerts = labels.count()
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nVerts <= maxBroadcastVertices) broadcast(df) else df
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = sym
        .join(maybeBroadcast(labels.select(col("node").as("dst"), col("label"))), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("label").as("nbr_min"))
      val updated = checkpoint( // eager: materialized before release
        labels
          .join(maybeBroadcast(nbrMin), Seq("node"), "left")
          .select(
            col("node"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("new_label"),
            col("label")))
      release(prev)
      prev = updated
      changed = updated.where(col("new_label") =!= col("label")).count()
      labels = updated.select(col("node"), col("new_label").as("label"))
      i += 1
    }
    release(sym)
    if (changed > 0)
      // surface non-convergence rather than silently returning split
      // components (downstream dedupByPairs would keep extra "survivors")
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .warn(
          s"connectedComponents: NOT converged after $maxIter rounds " +
            s"($changed labels still changing) — labels may split components; raise maxIter")
    labels.orderBy("node")
  }

  /** Apply near-dup clusters to the corpus: keep one survivor (the min
    * id) per connected component of `pairs`, pass through every document
    * that matched nothing. The "actually drop the duplicates" step after
    * any pair-generation strategy — a left anti join against the
    * non-survivor set.
    */
  def dedupByPairs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupByPairs]] with a QUALITY-PREFERRING survivor election: per
    * connected component, keep the member with the highest
    * `preference` (ties to the smallest id) instead of blindly the
    * minimum id — "of these near-duplicates, keep the longest / the
    * highest-quality-scored one", which is what a curation pipeline
    * actually wants (the min-id survivor can be the truncated copy).
    *
    * The election is a partial-aggregable `max(struct(pref, −id))` per
    * cluster label — the [[lineDedup]] pattern: every member of a hot
    * cluster collapses map-side, and no per-cluster window funnels a
    * giant component into one unsplittable task.
    */
  def dedupByPairsPreferring(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      preference: Column
  ): DataFrame =
    survivorsPreferringByLabels(docs, idCol, connectedComponents(pairs), preference)

  /** [[dedupByPairsPreferring]]'s election over an ALREADY-COMPUTED
    * `(node, label)` cluster table — for pipelines that share one
    * closure across several views (cluster report, min-id survivors,
    * best-member survivors), where re-running the transitive closure
    * per view would triple the most expensive stage.
    */
  def survivorsPreferringByLabels(
      docs: DataFrame,
      idCol: String,
      labels: DataFrame,
      preference: Column
  ): DataFrame = {
    val members = docs
      .select(col(idCol).as("node"), preference.as("_pref"))
      .join(labels, "node")
    val winners = members
      .groupBy("label")
      .agg(max(struct(col("_pref").as("p"), (-col("node")).as("ni"))).as("_w"))
      .select((-col("_w.ni")).as("_keep"))
    val losers = members
      .join(winners, members("node") === winners("_keep"), "left_anti")
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash dup groups: identical 64-bit signatures bucketed together. */
  def simhashGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash(docs, idCol, textCol)
      .groupBy("simhash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
      .where(col("n_members") >= 2)
      .orderBy("keep_id")

  /** C4-style corpus-level LINE dedup: documents are segmented into
    * fixed-`lineTokens` word windows ("lines" — this corpus has no
    * newlines, so the window IS the line unit), a line that occurs
    * anywhere else in the corpus survives only at its FIRST occurrence
    * (ordered by document id, then position), and each document is
    * reassembled from its surviving lines in order. This is the C4
    * pipeline's "discard duplicated lines across the corpus" step —
    * boilerplate (navbars, license headers, repeated intros) disappears
    * from every copy but one while the host documents survive.
    *
    * Output: one row per input document —
    * `(idCol, n_lines, n_kept, clean_md5)` with `clean_md5` the digest of
    * the space-joined surviving lines ('' when every line was dropped).
    *
    * Scale shape: the exploded line table is aggregated MAP-SIDE and
    * never join-shuffled. (1) first-occurrence election:
    * `groupBy(line).agg(min(struct(doc_id, line_no)))` — a
    * partial-aggregable min, so every copy of a hot line (boilerplate
    * repeated across a meaningful fraction of the corpus — exactly this
    * operator's target data) collapses to one row per map task BEFORE
    * the shuffle. This deliberately avoids a `row_number` window
    * partitioned by the line, which would funnel every copy of a hot
    * line into ONE unsplittable task (AQE cannot split a window
    * partition). (2) the election output IS the surviving-line set —
    * `(line, (doc_id, line_no))` — so document reassembly aggregates it
    * directly by the winning doc (input bounded by #distinct lines), no
    * join back to the exploded table at all. (3) per-doc line counts
    * come from a row-wise `size(chunks)` on the raw docs, and one
    * doc-keyed left join stitches counts to survivors — fully
    * deduplicated docs surface with `n_kept = 0, md5('')` rather than
    * disappearing.
    */
  def lineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lineTokens: Int
  ): DataFrame = {
    require(lineTokens > 0, "lineTokens must be positive")
    val lines = docs.select(
      col(idCol).as("doc_id"),
      posexplode(Text.chunks(col(textCol), lineTokens, overlap = 0))
        .as(Seq("line_no", "line")))
    // First occurrence per line = minimum (doc_id, line_no) pair, which
    // struct ordering compares lexicographically — identical to a
    // row_number election over ORDER BY doc_id, line_no, but map-side
    // combinable and therefore immune to hot-line skew.
    val firsts = lines
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("f"))
    val keptPerDoc = firsts
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        md5(
          array_join(
            transform(
              array_sort(
                collect_list(struct(col("f.line_no").as("line_no"), col("line")))),
              s => s.getField("line")),
            " ")).as("clean_md5"))
    docs
      .select(
        col(idCol).as("doc_id"),
        size(Text.chunks(col(textCol), lineTokens, overlap = 0)).cast("long").as("n_lines"))
      .where(col("n_lines") > 0)
      .join(keptPerDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id").as(idCol),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy(idCol)
  }

  /** EXACT repeated-substring scrub (the "deduplicating training data"
    * ExactSubstr pass — Lee et al. 2022 — re-expressed over word
    * k-grams): any k-token span whose exact text occurs MORE THAN ONCE
    * corpus-wide (across documents or within one) is duplicated content,
    * and every token covered by a duplicated span is scrubbed from EVERY
    * occurrence. The paper builds a suffix array — a single-node
    * construction; the k-gram formulation is the distributed equivalent
    * and covers exactly the same tokens: every token of a repeated span
    * of length >= k lies inside at least one fully-contained k-gram
    * (each such k-gram is repeated wherever the span is), and conversely
    * a repeated k-gram IS a repeated span of length k. So
    * covered-token set == tokens inside maximal repeated spans of
    * length >= k, with no boundary slop.
    *
    * Remove-ALL-copies (not keep-first) is deliberate: with overlapping
    * duplicated spans, "the first occurrence" of a span is ambiguous
    * (two overlapping repeats disagree about which copy owns the shared
    * tokens), while remove-all is order-free, idempotent, and
    * deterministic under any partitioning.
    *
    * Output: one row per input document —
    * `(idCol, n_tokens, n_dup_grams, n_removed, clean_md5)` where
    * `n_dup_grams` counts this doc's k-gram positions whose gram is
    * corpus-duplicated, `n_removed` counts scrubbed tokens, and
    * `clean_md5` digests the space-joined surviving tokens in order
    * (md5 of '' when everything was scrubbed).
    *
    * Scale shape: the gram explode is O(total tokens) rows — the same
    * cost as any tokenization pass — shuffled ONCE on the gram for the
    * corpus-wide count; the duplicate-gram set joins back by a shuffle
    * equi-join (no broadcast assumption — on a crawl corpus the dup set
    * is corpus-scale); covered positions travel as (doc, pos) pairs for
    * DUPLICATED occurrences only, aggregated per doc with per-group
    * state bounded by the doc's token count (`collect_set` of ints);
    * reassembly is pure array expressions after a doc-keyed join — no
    * global window, no driver traffic.
    */
  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, "spanDedup: k must be positive")
    val toks = docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
    // One gram per window start: slice is 1-based, posexplode's pos is
    // 0-based, so gram `pos` covers 0-based token indices
    // [pos, pos + k - 1] — the same indexing filter()'s index lambda
    // sees below.
    val grams = toks
      .where(col("n_tokens") >= k)
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(1), col("n_tokens") - (k - 1)),
            i => array_join(slice(col("toks"), i, lit(k)), " ")))
          .as(Seq("pos", "gram")))
    val dupGrams = grams
      .groupBy("gram")
      .agg(count(lit(1)).as("occ"))
      .where(col("occ") > 1)
      .select("gram")
    // Each duplicated occurrence contributes exactly one row with
    // cp == pos, so the conditional sum counts occurrences without a
    // countDistinct (which would plan an Expand over the whole group).
    val covered = grams
      .join(dupGrams, "gram")
      .select(
        col("doc_id"),
        col("pos"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cp"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("cp") === col("pos"), 1L).otherwise(0L)).as("n_dup_grams"),
        collect_set(col("cp")).as("covered"))
    val noCover = array().cast("array<int>")
    val keptToks =
      filter(
        col("toks"),
        (t, i) => !array_contains(coalesce(col("covered"), noCover), i))
    toks
      .join(covered, Seq("doc_id"), "left")
      .select(
        col("doc_id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(size(col("covered")), lit(0)).cast("long").as("n_removed"),
        md5(array_join(keptToks, " ")).as("clean_md5"))
      .orderBy(idCol)
  }
}
