package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Params.isIn
import graft.functions.Text

/** Inverted index over a document corpus: term → posting lists (doc, pos),
  * plus index-only phrase search — the retrieval face of a training-data
  * lake (decontamination lookups, boilerplate audits, "which documents
  * contain this exact phrase" forensics) without re-scanning text.
  *
  * The reference engine has no retrieval surface; this extends its
  * corpus-analytics face the same way the dedup/ANN operators do
  * (SURVEY.md §2.6 extensions). Tokenization is the corpus-wide codegen'd
  * [[graft.functions.Text.tokens]] (whitespace split, empties dropped) so
  * index positions agree with every other token-positional operator
  * (span dedup, token packing).
  *
  * Scale shape: posting lists are SHARDED by document range —
  * `block = doc_id DIV blockDocs` — so one aggregated row holds at most
  * one posting per document of one block, and a stopword's corpus-sized
  * posting list becomes many bounded rows instead of one unmergeable
  * giant (the classic index-build OOM). The build is a single explode +
  * one partial-aggregable groupBy on (term, block): no windows, no
  * skew-concentrating shuffle key — the hottest (term, block) cell is
  * capped by `blockDocs` × per-doc occurrences. Written `partitionBy`
  * term-prefix / bucketed by term, the index serves point lookups with
  * partition pruning; phrase search below needs only the phrase's terms'
  * rows (an IN-list scan filter — index seek, not scan).
  */
object Invert {

  /** Tokens with 0-based positions: (doc_id, pos, term). */
  def tokenPositions(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      posexplode(Text.tokens(col(textCol))).as(Seq("pos", "term")))

  /** Sharded posting lists: one row per (term, doc-range block) with the
    * block's postings sorted by (doc_id, pos), the block document
    * frequency and term frequency. `blockDocs` bounds the row: a term
    * occurring in every document still yields rows of at most
    * `blockDocs` distinct docs each.
    *
    * `min_doc`/`max_doc` are materialized as TOP-LEVEL columns (not just
    * inside the postings structs) so a persisted index exposes its
    * doc-id high watermark through parquet footer statistics alone —
    * [[appendToIndex]]'s monotone-ingest check reads them at metadata
    * cost, no data pages.
    */
  def postingLists(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockDocs: Long = 4096L
  ): DataFrame = {
    require(blockDocs > 0, s"postingLists: blockDocs must be positive, got $blockDocs")
    tokenPositions(docs, idCol, textCol)
      .withColumn("block", expr(s"doc_id DIV ${blockDocs}L"))
      .groupBy(col("term"), col("block"))
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        // struct sort order = field order (doc_id, pos): the canonical
        // posting order, computed inside the aggregated row
        sort_array(collect_list(struct(col("doc_id"), col("pos")))).as("postings"))
  }

  /** Index-only PHRASE search: documents containing `phrase` as
    * consecutive tokens, answered from [[postingLists]] output alone —
    * the text is never re-read.
    *
    * Start-vote construction: an occurrence of `phrase(i)` at position
    * `p` votes for candidate start `p - i`; a start with exactly
    * `phrase.length` votes has every slot satisfied (each satisfied slot
    * contributes exactly one vote — a term occupying one (doc, pos) cell
    * votes once per slot it could fill, and distinct slots map one
    * occurrence to distinct starts). Repeated words in the phrase are
    * handled by the same arithmetic, no special case.
    *
    * Scale shape: the index scan keeps only the phrase's terms (IN-list
    * pushed to the source — with the index bucketed/partitioned by term
    * this is an index seek); the explode is bounded by those terms'
    * postings; the vote count is one partial-aggregable groupBy on
    * (doc, start). The phrase itself is a tiny broadcast literal.
    * Returns (doc_id, n_matches, first_match_pos) per matching document.
    */
  def phraseSearch(index: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    val k = phrase.length
    val ss = index.sparkSession
    import ss.implicits._
    val slots = phrase.zipWithIndex.toDF("p_term", "offset")
    val occurrences = index
      .where(col("term").isin(phrase.distinct: _*))
      .select(col("term"), explode(col("postings")).as("p"))
      .select(col("term"), col("p.doc_id").as("doc_id"), col("p.pos").as("pos"))
    occurrences
      .join(broadcast(slots), col("term") === col("p_term"))
      .select(col("doc_id"), (col("pos") - col("offset")).as("start"))
      .where(col("start") >= 0)
      .groupBy(col("doc_id"), col("start"))
      .agg(count(lit(1)).as("votes"))
      .where(col("votes") === k)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("start")).cast("long").as("first_match_pos"))
      .orderBy(col("doc_id"))
  }

  /** Persist a built index RANGE-CLUSTERED on `term`, committed as a
    * whole-table rewrite through [[FileMerge]]'s protocol (every index
    * file replaced at once; [[appendToIndex]]'s replay markers stay, so a
    * replayed append id still skips): each parquet file —
    * and each row group inside it — holds a disjoint, sorted term
    * range, so a search's `term IN (…)` predicate, pushed to the scan
    * (`PushedFilters`), lets parquet's row-group statistics skip
    * everything but the query terms' neighborhoods. That makes
    * [[phraseSearch]]/[[bm25TopK]] over [[readIndex]] an index SEEK in
    * IO terms — a 3-term query against a 100 TB corpus's index touches
    * a handful of row groups, not the index — with zero custom reader
    * machinery: the pruning is entirely Spark + parquet stats.
    */
  def writeIndex(
      spark: org.apache.spark.sql.SparkSession,
      index: DataFrame,
      indexPath: String,
      files: Int = 0
  ): Unit = {
    val nFiles =
      if (files > 0) files else math.max(1, spark.sparkContext.defaultParallelism)
    FileMerge.recoverFileMerge(spark, indexPath)
    Scale.writeRangeClustered(index, FileMerge.stagingPath(indexPath), "term", nFiles)
    FileMerge.commitRewrite(spark, indexPath)
  }

  /** Open a persisted index: its snapshot, typed from a footer that the
    * driver reads ([[FileMerge.readTable]]), so opening runs no job.
    * Searches over this plan get the IN-list term predicate pushed into
    * the parquet scan (see [[writeIndex]]).
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String): DataFrame =
    FileMerge.readTable(spark, indexPath)

  /** Incrementally extend a persisted index with NEWLY INGESTED documents
    * — the maintenance half of build-once/search-many. Because posting
    * rows are keyed by (term, doc-range block), a batch whose doc ids
    * all exceed the indexed corpus's lands entirely in NEW blocks: its
    * posting rows cannot collide with any existing row, so maintenance
    * is a pure crash-safe file APPEND ([[FileMerge.appendStaged]]'s
    * staged-marker commit, idempotent under `commitId` replay) — no
    * read-modify-write of the index, ever. The appended files are
    * term-range-clustered within the batch, so seeks keep row-group
    * pruning; per-term postings simply span one more file per batch
    * (compact by rebuilding via [[writeIndex]] when batch count grows).
    *
    * The monotone-id contract is CHECKED at DOC granularity, not
    * assumed: the batch's min doc id must exceed the persisted max doc
    * id, read from parquet footers alone (`max_doc` is a top-level
    * column precisely so [[graft.sources.Lake.footerStats]] can answer
    * this at metadata cost). A violating batch fails fast before any
    * write. A batch MAY start inside the last partially-filled block:
    * the resulting duplicate (term, block) rows across files are benign
    * — their doc ranges are disjoint, and every consumer (df sums,
    * tf sums, phrase/BM25 posting explodes) aggregates across rows.
    */
  def appendToIndex(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      blockDocs: Long = 4096L,
      files: Int = 0,
      commitId: Option[String] = None
  ): Boolean = {
    FileMerge.recoverFileMerge(spark, indexPath)
    // replay probe FIRST: a replayed batch is already part of the index,
    // so the monotone check below would (correctly) reject it — but a
    // replay must be a silent no-op, not an error
    if (commitId.exists(id => FileMerge.appendCommitted(spark, indexPath, id)))
      return false
    // schema-version check BEFORE the footer read: an index persisted
    // before max_doc became a top-level column would otherwise fail the
    // footer-stats lookup with an opaque missing-column error and no
    // hint that a rebuild is the (only) migration path
    require(
      readIndex(spark, indexPath).columns.contains("max_doc"),
      s"appendToIndex: index at $indexPath predates the doc-granularity append " +
        "watermark (no top-level max_doc column) — rebuild it with writeIndex " +
        "before appending")
    val maxIndexed = graft.sources.Lake
      .footerStats(spark, indexPath, "max_doc")
      .head()
      .getLong(2) // (n_rows, min, max)
    val batchMin = newDocs.agg(min(col(idCol).cast("long"))).head()
    require(!batchMin.isNullAt(0), "appendToIndex: empty batch")
    require(batchMin.getLong(0) > maxIndexed,
      s"appendToIndex: batch doc ids start at ${batchMin.getLong(0)} but the index already " +
        s"holds doc ids up to $maxIndexed — doc ids must be strictly increasing across " +
        "batches (rebuild with writeIndex for overlapping id ranges)")
    FileMerge.appendStaged(
      spark,
      postingLists(newDocs, idCol, textCol, blockDocs),
      indexPath, "term", files, commitId)
  }

  /** Token count per document, for [[bm25TopK]]'s length normalization. */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(Text.tokens(col(textCol))).cast("long").as("doc_len"))

  /** BM25 ranked retrieval over [[postingLists]] output: top-k documents
    * for a bag-of-words query, scored
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl))` with the
    * Lucene-style idf `ln((N−df+0.5)/(df+0.5)+1)`.
    *
    * Determinism across engines (house style, cf. the bigram LM and the
    * temperature mixture): the ONLY transcendental, `ln`, is quantized
    * to a scaled BIGINT per TERM (`idf_scaled = round(idf·10⁶)`) before
    * it touches any per-document arithmetic — so a 1-ulp libm
    * divergence between engines can only flip one of |query| per-term
    * roundings, not one per (term, doc) pair. The remaining per-pair
    * score is a fixed-shape composition of correctly-rounded IEEE ops
    * over exact BIGINT inputs (bit-identical on any platform), rounded
    * once to a BIGINT BEFORE the per-doc sum, so the only cross-term
    * reduction is an exact integer sum, order-free under any shuffle. A
    * double Σ over query terms would depend on addition order. `avgdl`
    * is the exact BIGINT token total divided once, not a float `avg()`
    * whose accumulation order varies.
    *
    * Scale shape: the index scan keeps only the query's terms (IN-list
    * pushed down — index seek); `df` is the exact sum of per-block
    * distinct counts (blocks partition the doc space); `tf` comes from
    * the same postings rows; the per-doc sum is one partial-aggregable
    * groupBy and the top-k is a TakeOrdered, never a global sort. The
    * query terms are an `InSet` ([[graft.functions.Params.isIn]]), so a
    * query compiles no class that a query with other terms, or another
    * term count, already compiled. The one-row corpus stats join the
    * per-term df table, and that table, carrying `avgdl`, joins the
    * postings: both are broadcast joins, and the stats are one
    * aggregate, not one per use. Each broadcast then waits on the one
    * before it, so adaptive execution creates the query's stages, and
    * numbers their generated classes, in the same order on every call.
    */
  def bm25TopK(
      index: DataFrame,
      docLens: DataFrame,
      query: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(query.nonEmpty, "bm25TopK: empty query")
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    val terms = query.distinct
    val stats = docLens.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("doc_len")).cast("double") / count(lit(1))).as("avgdl"))
    // an InSet: one compiled plan whatever the term count
    val hits = index.where(isIn(col("term"), terms))
    val tf = hits
      .select(col("term"), explode(col("postings")).as("p"))
      .groupBy(col("term"), col("p.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfq = hits.groupBy(col("term")).agg(sum(col("df")).as("df"))
    val idf = dfq
      .crossJoin(broadcast(stats))
      .withColumn(
        "idf_scaled",
        round(
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
            lit(1000000.0)).cast("long"))
      .select(col("term"), col("idf_scaled"), col("avgdl"))
    tf
      .join(broadcast(idf), "term")
      .join(docLens, "doc_id")
      .withColumn(
        "_s",
        round(
          col("idf_scaled") *
            (col("tf") * (lit(k1) + lit(1.0))) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("doc_len") / col("avgdl")))
        ).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        sum(col("_s")).as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("doc_id"))
      .limit(k)
  }

  /** Sparse TF-IDF cosine similarity self-join — EMBEDDING-FREE near-dup
    * detection in the classic IR vector space (Salton & Buckley 1988):
    * documents are sparse tf·idf vectors over the token vocabulary,
    * pairs with cosine ≥ `minSim` are emitted. Complements the shingle
    * family ([[Dedup]]): shingles see ORDER (boilerplate, passages),
    * tf-idf cosine sees rare-TERM overlap regardless of order
    * (paraphrase-ish topical duplication) — the two catch different
    * duplicate classes.
    *
    * Determinism (the BM25/PMI discipline composed): idf is the
    * DETERMINISTIC log — `idf_milli = floor((ln N − ln df) · 1000)`
    * with both logs via [[Curation.lnOfCount]]'s exact-binary-exponent
    * range reduction (bit-identical cross-engine, no libm), weights
    * `w = tf · idf_milli` are exact BIGINTs, dot products and squared
    * norms are exact integer sums (partition-order-free), and only the
    * final `dot / (√n2_a · √n2_b)` is floating, rounded to 6.
    *
    * Scale shape: the pair space flows through a term equi-join of the
    * weighted postings with themselves — per-term fan-out is df², so
    * the df cap is the explicit 100 TB knob (same rationale as the
    * shingle cap in [[Dedup.ngramJaccardPairsCapped]]): terms with
    * df above the EFFECTIVE cap are dropped from the VECTOR SPACE
    * entirely (norms included, so cosine stays exact over the pruned
    * vocabulary — the stopword semantic: near-N df means near-zero idf
    * anyway). The effective cap is `maxDf` alone, or — when
    * `maxDfFrac` is set — `max(maxDf, floor(maxDfFrac · N))`: the
    * RELATIVE cap is the scale-following knob (a df threshold fixed in
    * rows turns into an everything-is-a-stopword cut as N grows, which
    * empties the vector space), and the absolute value demotes to a
    * small-corpus floor against df sampling noise. Zero-weight terms
    * (df = N exactly) contribute nothing to dot or norm and are pruned
    * early. Everything downstream of the join is one
    * partial-aggregable sum per pair plus two doc-scale norm joins.
    *
    * Skew: the term join keys every pair of a term's df documents to
    * ONE shuffle key — a single surviving hot term (df near the cap)
    * puts its whole df² fan-out on one reducer. `blocks` = B > 1 grid
    *-blocks the self-join: each document hashes to a block, the left
    * side replicates each posting across the B right-block cells and
    * vice versa, and the join key becomes (term, blockA, blockB) — the
    * same exact pair set (each pair matches in exactly the one cell
    * its two blocks name), B× posting replication, and a hot term's
    * work spread over B² reducers. The 100 TB default is B ≈ √(target
    * parallelism); B = 1 preserves the plain join.
    *
    * Integer headroom: `w ≤ tf · 1000·ln N` — at N = 10⁹ and tf = 10⁵
    * (a pathological single-token document) w² sums stay under 2⁶³ for
    * docs up to ~10⁴ distinct terms; honest for any real corpus.
    *
    * Returns `(doc_a, doc_b, cos_sim)`, doc_a < doc_b, ordered.
    */
  def tfidfCosinePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minSim: Double,
      maxDf: Long,
      maxDfFrac: Option[Double] = None,
      blocks: Int = 1
  ): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"tfidfCosinePairs: minSim must be in (0, 1], got $minSim")
    require(maxDf >= 2, s"tfidfCosinePairs: maxDf must be at least 2, got $maxDf")
    maxDfFrac.foreach(f => require(f > 0.0 && f <= 1.0,
      s"tfidfCosinePairs: maxDfFrac must be in (0, 1], got $f"))
    require(blocks >= 1, s"tfidfCosinePairs: blocks must be at least 1, got $blocks")
    val nDocs = docs.count() // metadata-scale scalar: one count, no data collect
    val capDf = maxDfFrac match {
      case Some(f) => math.max(maxDf, math.floor(f * nDocs).toLong)
      case None    => maxDf
    }
    val tf = docs
      .select(col(idCol).as("_d"), explode(Text.tokens(col(textCol))).as("_t"))
      .groupBy("_d", "_t")
      .agg(count(lit(1)).as("_tf"))
    // tf is distinct per (doc, term), so the doc frequency is a plain
    // count — and the cap prunes the quadratic pair fan-out at its source
    val dfT = tf
      .groupBy("_t")
      .agg(count(lit(1)).as("_df"))
      .where(col("_df") <= capDf)
    val idfMilli = floor(
      (Curation.lnOfCount(lit(nDocs)) - Curation.lnOfCount(col("_df"))) * lit(1000.0))
      .cast("long")
    val postings = tf
      .join(dfT, "_t")
      .select(col("_d"), col("_t"), (col("_tf") * idfMilli).as("_w"))
      .where(col("_w") > 0)
    val norms = postings
      .groupBy(col("_d"))
      .agg(sum(col("_w") * col("_w")).as("_n2"))
    val dots = (if (blocks <= 1) {
      postings
        .select(col("_d").as("doc_a"), col("_t"), col("_w").as("_wa"))
        .join(
          postings.select(col("_d").as("doc_b"), col("_t"), col("_w").as("_wb")),
          "_t")
    } else {
      // grid-blocked self-join: pair (a, b) matches exactly in the one
      // cell (block(a), block(b)); xxhash64 keeps the block assignment
      // partition-order-free, so the pair set is identical to B = 1
      val blk = postings.withColumn("_blk", pmod(xxhash64(col("_d")), lit(blocks.toLong)))
      blk
        .select(col("_d").as("doc_a"), col("_t"), col("_w").as("_wa"),
          col("_blk").as("_bi"),
          explode(sequence(lit(0L), lit(blocks - 1L))).as("_bj"))
        .join(
          blk.select(col("_d").as("doc_b"), col("_t"), col("_w").as("_wb"),
            explode(sequence(lit(0L), lit(blocks - 1L))).as("_bi"),
            col("_blk").as("_bj")),
          Seq("_t", "_bi", "_bj"))
    })
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("_wa") * col("_wb")).as("_dot"))
    dots
      .join(norms.select(col("_d").as("doc_a"), col("_n2").as("_na")), "doc_a")
      .join(norms.select(col("_d").as("doc_b"), col("_n2").as("_nb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        round(
          col("_dot").cast("double") /
            (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))),
          6).as("cos_sim"))
      .where(col("cos_sim") >= minSim)
      .orderBy("doc_a", "doc_b")
  }

  /** RECIPROCAL RANK FUSION (Cormack, Clarke & Büttcher 2009) of ranked
    * retrieval lists — the standard hybrid-search combiner: a
    * document's fused score is `Σ_lists 1/(rrfK + rank)` over the
    * lists it appears in, rank 1-based within each list. RRF is
    * score-scale-free (only RANKS cross the fusion boundary), which is
    * exactly why it is the production default for fusing BM25's
    * unbounded term scores with cosine's [-1, 1] — no per-leg
    * normalization to tune or drift.
    *
    * Determinism (the BM25 discipline applied to the fusion): the
    * per-rank contribution is `floor(10¹² / (rrfK + rank))` as a
    * BIGINT, so the cross-list reduction is an exact integer sum,
    * order-free under any shuffle — a double Σ of 1/(k+r) terms would
    * depend on addition order. The floor of the correctly-rounded
    * double quotient equals the exact mathematical floor: the
    * quotient's fractional part is a multiple of 1/(rrfK+rank) ≥
    * 1/2²⁰ (bounded by the require below), while a double error at
    * magnitude ≤ 10¹² is < 2⁻⁴² relative — the true value is never
    * within half an ulp of an integer unless it IS one.
    *
    * Input: `ranked` with columns `(leg STRING, doc_id, rank BIGINT)`
    * — each leg's rows must be its top list with ranks 1..n (build
    * them with [[rankedLeg]]). Returns `(doc_id, n_legs, rrf_scaled)`,
    * fused top-k by (rrf_scaled DESC, doc_id).
    *
    * Scale shape: each leg is already a top-k list (TakeOrdered on its
    * own retrieval path — index seek for BM25, IVF probe for ANN), so
    * the fusion input is legs·k rows — metadata-scale. One
    * partial-aggregable groupBy + a TakeOrdered; never a global sort.
    */
  def rrfFuse(ranked: DataFrame, k: Int, rrfK: Int = 60): DataFrame = {
    require(k > 0, s"rrfFuse: k must be positive, got $k")
    require(rrfK >= 0, s"rrfFuse: rrfK must be non-negative, got $rrfK")
    rrfContributions(ranked, rrfK)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_legs"),
        sum(col("_contrib")).as("rrf_scaled"))
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
      .limit(k)
  }

  private[graft] def rrfContributions(ranked: DataFrame, rrfK: Int): DataFrame = {
    // fractional-part gap ≥ 1/(rrfK+rank); bound both so the floor-of-
    // double argument in the scaladoc holds with 2^22 headroom
    val checked = ranked.withColumn(
      "_rk",
      when(col("rank") >= 1L && (col("rank") + rrfK) <= (1L << 20), col("rank"))
        .otherwise(raise_error(concat(
          lit(s"rrfFuse: rank out of [1, ${(1L << 20)} - rrfK]: "), col("rank").cast("string")))))
    checked.withColumn(
      "_contrib",
      floor(lit(1.0e12) / (lit(rrfK.toDouble) + col("_rk").cast("double"))).cast("long"))
  }

  /** [[rrfContributions]]'s contribution of leg rank `rank` on the
    * driver, with the same rank guard: the same double quotient and
    * floor, so the same BIGINT.
    */
  private[graft] def rrfContribution(rank: Long, rrfK: Int): Long = {
    require(rank >= 1L && rank + rrfK <= (1L << 20),
      s"rrfFuse: rank out of [1, ${(1L << 20)} - rrfK]: $rank")
    math.floor(1.0e12 / (rrfK.toDouble + rank.toDouble)).toLong
  }

  /** Tag-and-rank one retrieval leg for [[rrfFuse]]: `topList` must
    * already be the leg's FINAL top list (ordered-and-limited), and
    * `orderCols` must restate that total order — the rank is
    * recomputed here as a row_number over it rather than trusted from
    * the frame's physical order (a DataFrame does not carry order
    * through a join). The global window is safe by construction: it
    * runs over an already-LIMITed k-row list, never the corpus.
    */
  def rankedLeg(topList: DataFrame, leg: String, idCol: String, orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "rankedLeg: need at least one order column")
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderCols: _*)
    topList.select(
      lit(leg).as("leg"),
      col(idCol).as("doc_id"),
      row_number().over(w).cast("long").as("rank"))
  }

  /** HYBRID RETRIEVAL: BM25 over the inverted index fused with
    * embedding-cosine retrieval by [[rrfFuse]] — the sparse leg sees
    * exact lexical matches (rare terms, names, code), the dense leg
    * sees semantics (paraphrase); RRF unions their evidence without
    * comparing their incomparable scores. `kPerLeg` bounds each leg's
    * candidate list, `k` the fused answer.
    *
    * Returns `(doc_id, in_sparse, in_dense, rrf_scaled)` — the flags
    * say WHICH leg(s) proposed each survivor (the debuggability face a
    * retrieval mix wants), fused order by (rrf_scaled DESC, doc_id).
    *
    * Scale shape: the BM25 leg is an index seek (term IN-list pushed
    * down) + TakeOrdered; the dense leg here is brute-force
    * [[Similarity.cosineTopK]] for the oracle-exact baseline — at 10⁹
    * vectors swap in [[Similarity.ivfTopKIndexed]] for the same
    * (doc_id, rank) contract. Each leg runs as its own collect, and
    * the fusion of their 2·kPerLeg rows runs on the driver
    * ([[hybridRrfFuseLegs]]).
    */
  def hybridRrfTopK(
      index: DataFrame,
      docLens: DataFrame,
      textQuery: Seq[String],
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      kPerLeg: Int,
      rrfK: Int = 60
  ): DataFrame = {
    require(kPerLeg > 0, s"hybridRrfTopK: kPerLeg must be positive, got $kPerLeg")
    hybridRrfFuseLegs(
      bm25TopK(index, docLens, textQuery, kPerLeg),
      Similarity.cosineTopK(emb, idCol, vecCol, queryId, kPerLeg),
      idCol, k, rrfK)
  }

  /** The fusion tail of [[hybridRrfTopK]] with the legs supplied —
    * `sparseTop` must be a [[bm25TopK]] result and `denseTop` any
    * `(denseIdCol, cos_sim)` top list, which is exactly the contract
    * [[graft.operators.Similarity.cosineTopK]] and the PERSISTED-index
    * probe [[graft.operators.Similarity.ivfTopKIndexed]] share — so the
    * production composition (index seek ⊕ index probe ⊕ fusion) is the
    * same code path as the oracle-exact brute baseline.
    *
    * Scale shape: both legs are top-k lists by contract, so the fusion
    * is driver arithmetic over their 2·k rows. It collects each leg
    * (no job for a leg that is already a local relation), ranks it as
    * [[rankedLeg]] does (score DESC NULLS LAST, then id), sums the
    * [[rrfContribution]]s per id and returns the top `k` as a local
    * relation with the schema of the [[rrfFuse]] plan it replaces.
    */
  def hybridRrfFuseLegs(
      sparseTop: DataFrame,
      denseTop: DataFrame,
      denseIdCol: String,
      k: Int,
      rrfK: Int = 60
  ): DataFrame = {
    require(k > 0, s"hybridRrfFuseLegs: k must be positive, got $k")
    require(rrfK >= 0, s"hybridRrfFuseLegs: rrfK must be non-negative, got $rrfK")
    // the fused id column: the two legs' ids unioned by name (analysis
    // only), as the grouped union typed it
    val idField = sparseTop.select(col("doc_id"))
      .unionByName(denseTop.select(col(denseIdCol).as("doc_id"))).schema.head
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(idField.dataType),
      s"hybridRrfFuseLegs: integral ids required, got ${idField.dataType.sql}")
    val ranked =
      legRanks(sparseTop.select(col("doc_id").cast(idField.dataType), col("score_scaled")),
        Ordering.Long).map { case (id, rk) => (id, rk, true) } ++
      legRanks(denseTop.select(col(denseIdCol).cast(idField.dataType), col("cos_sim").cast("double")),
        SqlDoubleOrdering).map { case (id, rk) => (id, rk, false) }
    val top = ranked.groupBy(_._1).toSeq
      .map { case (id, hits) =>
        Row(id,
          if (hits.exists(_._3)) 1L else 0L,
          if (hits.exists(!_._3)) 1L else 0L,
          hits.map(h => rrfContribution(h._2, rrfK)).sum)
      }
      .sortBy(r => (r.getLong(3), r.get(0)))(Ordering.Tuple2(Ordering.Long.reverse, IdOrdering))
      .take(k)
    val schema = StructType(Seq(idField,
      StructField("in_sparse", LongType), StructField("in_dense", LongType),
      StructField("rrf_scaled", LongType)))
    sparseTop.sparkSession.createDataFrame(java.util.Arrays.asList(top: _*), schema)
  }

  /** A collected top list `(id, score)` ranked 1..n in [[rankedLeg]]'s
    * window order: score DESC NULLS LAST, then id ASC NULLS FIRST.
    */
  private def legRanks[S](top: DataFrame, order: Ordering[S]): Seq[(Any, Long)] =
    top.collect().toSeq
      .map(r => (Option(r.get(1)).map(_.asInstanceOf[S]), r.get(0)))
      .sorted(Ordering.Tuple2(Ordering.Option(order).reverse, IdOrdering))
      .zipWithIndex.map { case ((_, id), i) => (id, i + 1L) }

  /** Integral ids ascending, NULL first: Spark's ascending sort. */
  private val IdOrdering: Ordering[Any] =
    Ordering.by((id: Any) => Option(id).map(_.asInstanceOf[Number].longValue))

  /** Spark's DOUBLE order: -0.0 equals 0.0, NaN equals NaN and exceeds
    * every other value.
    */
  private val SqlDoubleOrdering: Ordering[Double] = new Ordering[Double] {
    def compare(x: Double, y: Double): Int = if (x == y) 0 else java.lang.Double.compare(x, y)
  }
}
