package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Checkpoints, Concurrently, Dedup, Multimodal, Pack, Scale, Similarity}

/** LLM-data-pipeline operator corpus (SURVEY.md §7 step 8, BASELINE.json
  * north star): dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash /
  * embedding), similarity search (brute-force + LSH ANN), text analysis.
  *
  * Oracle notes: md5 is the one hash both Spark and DuckDB implement
  * identically, so exact dedup and fingerprinting are fully
  * oracle-checked. MinHash/SimHash/LSH rely on `xxhash64` /
  * engine-specific hashing — those entries are declared without oracle
  * SQL (driver records rows-only checks) and are instead validated in
  * ScalaTest against their exact counterparts.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Shared near-dup CLUSTER labels for q62 (cluster report) and q63
    * (survivor selection): both are views of ONE pair set, so the pair
    * generation + transitive closure runs once per (session, corpus) and
    * is reused — the previous wiring paid the full pair-generation join
    * twice per corpus. Pairs come from the frequency-capped generator
    * (stop-shingle fan-out bounded at cap², exact-Jaccard rescore — the
    * candidate path that survives 100 TB, unlike the uncapped exact
    * join), and the closure's result is localCheckpoint-materialized
    * inside connectedComponents, so reuse replays no lineage. The cache
    * is keyed by session (stopped sessions are evicted on access) and
    * bounded by the number of corpora a session touches. Caveat shared
    * with every localCheckpoint intermediate: the blocks are not
    * recomputable after an executor loss, so on a lossy cluster a reused
    * entry can fail where a fresh computation would succeed — callers
    * there should recompute rather than cache across long gaps.
    */
  private val nearDupLabelCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val cappedPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Scratch paths with a registered exit-time cleanup hook (q73/q76). */
  private val q73Scratch = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Fresh per-(corpus, JVM) scratch path for queries that exercise real
    * write paths: deletes any residue of a previous run of THIS pid
    * (determinism), and registers one exit-time cleanup hook per path so
    * repeated runs don't accumulate scratch tables. The pid in the name
    * is what isolates concurrent harness runs from each other;
    * `suffixes` covers sibling dirs the operator creates next to the
    * main path (e.g. FileMerge's `_fmerge` staging).
    */
  /** q156's knobs, shared between the query closure and its oracle
    * generator so they cannot drift. Declared BEFORE the query/oracle
    * maps: the oracle generators are forced during object
    * initialization, and a constant declared below them would still
    * read as its zero default there (the classic val-order trap —
    * which is also why every generator here is a lazy val). The
    * effective df cap is `max(TfidfMaxDf, floor(TfidfMaxDfFrac · N))`
    * — the RELATIVE cap follows corpus growth (the r14 verdict's
    * de-degeneration: a row-fixed cap on this fixture's ~31-term
    * linear-df vocabulary emptied the vector space at sf ≥ 1), the
    * absolute value is the small-corpus floor that keeps the
    * sf0.001/0.01 result (all 31 terms, varied cosines) bit-identical
    * to the r14 artifact. At scale the surviving rare term (df =
    * 0.05·N < 0.06·N) drives real df² pair work; minSim applies to
    * the ROUNDED cosine on both engines.
    */
  private val TfidfMaxDf: Long = 450L
  private val TfidfMaxDfFrac: Double = 0.06
  private val TfidfMinSim: Double = 0.9

  private def freshScratch(
      s: SparkSession,
      dir: String,
      tag: String,
      suffixes: Seq[String] = Nil
  ): String = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s"${dir.replaceAll("[^A-Za-z0-9]", "_")}_${ProcessHandle.current().pid()}"
    val all = tmp +: suffixes.map(tmp + _)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    all.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    if (q73Scratch.add(tmp)) sys.addShutdownHook {
      // fresh Configuration: the session may already be stopped at exit
      try {
        val conf = new org.apache.hadoop.conf.Configuration()
        all.foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).delete(hp, true)
        }
      } catch { case _: Throwable => () }
    }
    tmp
  }

  /** The capped scored pair set (threshold 0.8, cap 5) — computed and
    * CACHED once per (session, corpus): q40 reports it, q111 excludes
    * against it, and the closure below consumes it. A pipeline running
    * several views of one pair set must not pay the generation per
    * view (the q62/q63 argument, extended to every consumer).
    */
  private def cappedPairs(s: SparkSession, dir: String): DataFrame = {
    cappedPairsCache.keySet.removeIf(_._1.sparkContext.isStopped)
    cappedPairsCache.computeIfAbsent(
      (s, dir),
      { key =>
        Checkpoints.cache(Dedup.ngramJaccardPairsCapped(
          t(key._1, key._2, "documents"), "doc_id", "text", 3, 0.8, maxDocsPerShingle = 5))
      })
  }

  /** The q157/q159 graph fixture: groups of 6 consecutive doc_ids host
    * an md5-sized clique (3–6 members), chained tail-to-head — the
    * deterministic construction whose peel rounds stay O(1) at any
    * corpus size and whose cores span the full 1–5 spectrum (the
    * co-purchase graph is quasi-random with a sharp all-or-nothing
    * core threshold, measured in r15 — peeling it at any interesting k
    * empties or keeps everything). ONE builder shared by both query
    * faces so the edge definition cannot drift between them; the
    * oracles share [[KCoreGraphCte]], the same text in SQL.
    */
  private def kcoreFixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .where(col("doc_id").isNotNull).distinct()
    val mem = ids
      .select(col("doc_id"), expr("doc_id div 6").as("_g"),
        (col("doc_id") % 6).as("_j"))
      .withColumn("_s",
        lit(3L) + Text.md5PrefixLong(
          concat(lit("kc:"), col("_g").cast("string")), 13) % 4)
      .where(col("_j") < col("_s"))
    val clique = mem.select(col("_g"), col("doc_id").as("src"))
      .join(mem.select(col("_g"), col("doc_id").as("dst")), "_g")
      .where(col("src") < col("dst"))
      .select("src", "dst")
    val chain = mem.where(col("_j") === col("_s") - 1)
      .select(col("doc_id").as("src"), ((col("_g") + 1) * 6).as("dst"))
      .join(ids.select(col("doc_id").as("dst")), "dst")
      .select("src", "dst")
    clique.unionByName(chain)
  }

  /** Scale-adaptive state-partition count for the events-stream
    * replays (q124/q127/q131/q134/q139): derived from the events
    * table's on-disk bytes, clamped to the session's shuffle
    * partitions — see [[graft.streaming.Streams.adaptiveStatePartitions]].
    */
  private def eventsStateParts(s: SparkSession, dir: String): Option[Int] =
    Some(graft.streaming.Streams.adaptiveStatePartitions(
      s, Seq(s"$dir/events.parquet")))

  /** The four signal subtrees of the composed-mix queries (q169,
    * q173), forked in this order: near-dup survivors, core numbers,
    * (LPA labels, modularity) and PPR.
    */
  private def signalSubtrees(fork: Concurrently.Forks, s: SparkSession, dir: String,
      docs: DataFrame, ids: DataFrame, edges: DataFrame, und: DataFrame) = (
    fork(docs.join(
      nearDupLabels(s, dir).where(col("node") =!= col("label"))
        .select(col("node").as("doc_id")),
      Seq("doc_id"), "left_anti").select("doc_id")),
    fork(graft.operators.Graph.coreNumbers(edges, kMax = 5)
      .select(col("node").as("doc_id"), col("core"))),
    fork {
      val labels = graft.operators.Graph.labelPropagation(edges, rounds = LpaRounds)
      (labels, graft.operators.Graph.modularityByCommunity(edges, labels))
    },
    fork(graft.operators.Graph.personalizedPageRankExact(
      und, ids, "doc_id",
      docs.where(col("doc_id") % 37 === 0), "doc_id", iterations = 5)))

  private def nearDupLabels(s: SparkSession, dir: String): DataFrame = {
    // evict entries of stopped sessions: their checkpoint blocks are gone
    // and the dead SparkSession reference would otherwise pin them (and
    // itself) for the life of the JVM
    nearDupLabelCache.keySet.removeIf(_._1.sparkContext.isStopped)
    nearDupLabelCache.computeIfAbsent(
      (s, dir),
      key => Dedup.connectedComponents(cappedPairs(key._1, key._2)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
    },
    "q24_dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
    },
    "q25_dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
    },
    // Permanently rows-only under the driver (see SparkEntry.oracleNotes:
    // raw-xxhash64 signature groups have no engine-independent oracle),
    // so the query emits its OWN invariant digest: alongside each group's
    // (keep_id, n_members), a global exactdup_split_count — the number of
    // identical-TOKEN-SET duplicate groups this signature grouping splits.
    // SimHash is a pure function of the distinct token set, so the count
    // is 0 by construction for ANY correct implementation and hash
    // family; a nonzero value in the dumped parquet is a machine-visible
    // regression even though the row shape is only rows-counted.
    "q26_dedup_simhash" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tokenSetDigest = docs.select(
        col("doc_id"),
        md5(array_join(array_sort(array_distinct(Text.tokens(col("text")))), " ")).as("tsd"))
      val violations = Dedup.simhash(docs, "doc_id", "text")
        .join(tokenSetDigest, "doc_id")
        .groupBy("tsd")
        .agg(countDistinct("simhash").as("ns"))
        .where(col("ns") > 1)
        .agg(count(lit(1)).as("exactdup_split_count"))
      Dedup.simhashGroups(docs, "doc_id", "text")
        .select("keep_id", "n_members")
        .crossJoin(broadcast(violations))
        .orderBy("keep_id")
    },
    "q27_knn_cosine" -> { (s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 20)
    },
    "q28_ann_lsh" -> { (s, dir) =>
      Similarity.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10)
    },
    "q29_text_stats" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          Text.distinctTokenCount(col("text")).as("n_distinct"),
          Text.stopwordCount(col("text")).as("n_stop"),
          round(Text.stopwordRatio(col("text")), 6).as("stop_ratio"),
          col("n_chars")
        )
        .orderBy("doc_id")
    },
    "q30_langid" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(Text.langIdHeuristic(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang_pred")
    },
    "q31_quality_score" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
    "q32_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(Text.bagFingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("keep_id")
    },
    "q33_embedding_neardup" -> { (s, dir) =>
      Similarity.blockedNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.45)
    },
    "q36_subword_count" -> { (s, dir) =>
      // BPE-ish subword pieces via an extraction regex (alnum runs |
      // single non-alnum non-space) — RE2-compatible so the oracle can
      // run the identical pattern
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]', 0)"))
            .cast("long").as("n_subwords")
        )
        .orderBy("doc_id")
    },
    // Frequency-capped Jaccard: the 100 TB-safe variant of q24 — shingles
    // seen in more than 5 docs are excluded from candidate generation
    // (bounds the shared-shingle join fan-out at cap² per shingle); pairs
    // are still scored with exact Jaccard over full shingle sets.
    "q40_dedup_jaccard_capped" -> { (s, dir) => cappedPairs(s, dir) },
    // MinHash+LSH with md5-derived hashes: the fully oracle-checked LSH
    // pipeline (signatures, banding, candidate join, exact rescore all
    // replicated in DuckDB SQL). q25 stays as the xxhash64 fast path.
    "q41_dedup_minhash_md5" -> { (s, dir) =>
      Dedup.minhashLshPairsMd5(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
    },
    // md5-derived 60-bit SimHash dup groups — oracle-checked counterpart
    // of q26's xxhash64 SimHash.
    "q42_dedup_simhash_md5" -> { (s, dir) =>
      Dedup.simhashMd5Groups(t(s, dir, "documents"), "doc_id", "text")
    },
    // Array scalar functions (§2.7): size / element_at (both ends) /
    // contains / slice / distinct-intersect / sort — all codegen'd column
    // expressions over the token array, no explode, no shuffle.
    "q43_array_funcs" -> { (s, dir) =>
      val tok = Text.tokens(col("text"))
      // try_element_at: NULL on an empty token array (plain element_at
      // throws under ANSI; the oracle's w[1] returns NULL)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(tok).cast("long").as("n"),
          try_element_at(tok, lit(1)).as("first_tok"),
          try_element_at(tok, lit(-1)).as("last_tok"),
          array_contains(tok, "the").as("has_the"),
          concat_ws("-", slice(tok, 1, 3)).as("first3"),
          size(array_intersect(tok, array(lit("the"), lit("a"), lit("of"))))
            .cast("long").as("n_stop_kinds"),
          try_element_at(array_sort(tok), lit(1)).as("min_tok")
        )
        .orderBy("doc_id")
    },
    // Map scalar functions (§2.7): construct / element_at / map_keys /
    // size over a per-doc stats map.
    "q45_map_funcs" -> { (s, dir) =>
      val tok = Text.tokens(col("text"))
      val m = map(
        lit("n"), size(tok).cast("long"),
        lit("nd"), size(array_distinct(tok)).cast("long"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          element_at(m, "n").as("m_n"),
          element_at(m, "nd").as("m_nd"),
          size(m).cast("long").as("m_size"),
          concat_ws(",", map_keys(m)).as("m_keys")
        )
        .orderBy("doc_id")
    },
    // Generator / UDTF surface (§2.9): posexplode over the token array,
    // re-aggregated into a top-50 token frequency table.
    "q44_posexplode_topk" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"), min("pos").as("min_pos"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50)
    },
    // Scalar (int8-style) embedding quantization: per-vector min/max
    // codes, summarized with integer aggregates — deterministic double
    // arithmetic, fully oracle-checked.
    "q46_quantize_embeddings" -> { (s, dir) =>
      val codes = Similarity.quantizeCodes(col("embedding"))
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          aggregate(codes, lit(0L), (acc, x) => acc + x).as("code_sum"),
          array_min(codes).as("code_min"),
          array_max(codes).as("code_max")
        )
        .orderBy("vec_id")
    },
    // Token-budget sequence packing (greedy running-sum bins): the batch
    // assembly step of a pretraining pipeline. SHARDED — the running sum
    // partitions by a shard key so no single ordered partition ever holds
    // the whole corpus (the global-window shape is spec-only and opt-in).
    "q47_token_packing" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        pmod(col("doc_id"), lit(4)).as("shard"),
        Text.tokenCount(col("text")).as("n_tokens"))
      val assigned = Pack.byTokenBudget(docs, "doc_id", "n_tokens", 2000L, Some("shard"))
      assigned
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_sum"))
        .orderBy("shard", "bin")
    },
    // Deterministic md5-bucket train/val/test split — reproducible across
    // engines/runs with no RNG state; scan-only.
    "q48_hash_split" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(Pack.hashSplit(col("text")).as("split"), col("n_chars"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_sum"))
        .orderBy("split")
    },
    // Fixed-token-window chunking with overlap (pretraining/RAG
    // windowing): chunk count, first chunk, tail-chunk token count.
    "q49_chunking" -> { (s, dir) =>
      val ch = Text.chunks(col("text"), chunkTokens = 32, overlap = 8)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(ch).cast("long").as("n_chunks"),
          element_at(ch, 1).as("first_chunk"),
          // Text.tokenCount, not raw split: split("", " ") is [""] (one
          // phantom token) for the empty chunk a zero-token doc produces,
          // where the oracle's list slice yields 0
          Text.tokenCount(element_at(ch, -1)).as("last_chunk_tokens")
        )
        .orderBy("doc_id")
    },
    // Quality filter chain (C4/RefinedWeb-style): first-matching drop
    // reason per doc, aggregated into a reason report.
    "q50_quality_filter" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(Text.filterReason(col("text")).as("reason"), col("n_chars"))
        .groupBy("reason")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_sum"))
        .orderBy("reason")
    },
    // Dedup clusters: connected components over frequency-CAPPED near-dup
    // pairs (transitive closure of q40's edges) — pairwise matches become
    // keep-one clusters. The capped generator is the 100 TB candidate
    // path (stop-shingle join fan-out bounded at cap² per shingle; exact
    // Jaccard rescore keeps every surviving score exact), and the closure
    // is computed ONCE per (session, dir) and shared with q63 — cluster
    // reporting and survivor selection are two views of one pair set, so
    // a pipeline running both must not pay the pair generation twice.
    "q62_dedup_clusters" -> { (s, dir) => nearDupLabels(s, dir) },
    // The applied dedup: corpus minus every non-survivor of the near-dup
    // clusters (one survivor per component). Reuses q62's cluster labels
    // (same capped pair generation, computed once — see nearDupLabels).
    "q63_dedup_survivors" -> { (s, dir) =>
      val losers = nearDupLabels(s, dir)
        .where(col("node") =!= col("label"))
        .select(col("node").as("doc_id"))
      t(s, dir, "documents")
        .join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    // The 100 TB dedup COMPOSITION, end-to-end: MinHash-LSH candidate
    // generation (banded equi-join, never all-pairs) → exact-Jaccard
    // rescore → connected components → survivor selection. q62/q63 prove
    // clustering over the exact pair generator; this proves the whole
    // scale path — the pipeline you'd actually run on a large corpus —
    // against a DuckDB oracle (the q41 md5-LSH CTEs feeding the q62
    // recursive-CTE closure).
    "q64_dedup_scale_path" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", 3, 0.8)
      Dedup.dedupByPairs(docs, "doc_id", pairs)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    // Benchmark decontamination: per-train-doc share of distinct word
    // trigrams that appear anywhere in the benchmark set (docs 0-19 stand
    // in for the eval benchmark). Shingle equi-join, benchmark side
    // broadcast — the pretraining decontamination pass.
    "q65_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Curation.decontaminationReport(
        docs.where(col("doc_id") >= 20),
        docs.where(col("doc_id") < 20),
        "doc_id", "text", 3, flagThreshold = 0.5)
    },
    // Domain balancing: keep at most 5 docs per source, preferring the
    // longest (ties to lowest doc_id) — per-group window, no global sort.
    "q66_domain_cap" -> { (s, dir) =>
      graft.operators.Curation
        .capPerGroup(
          t(s, dir, "documents"), "source",
          Seq(col("n_chars").desc, col("doc_id").asc), 5)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
    // Frequency-ranked vocabulary: tokens with corpus count >= 10, dense
    // ids in (count desc, token) order.
    "q67_vocab" -> { (s, dir) =>
      graft.operators.Curation.buildVocab(t(s, dir, "documents"), "text", minCount = 10L)
    },
    // Repetition scoring (Gopher/C4-style): most frequent trigram's share
    // of all trigrams per doc — duplicates-kept shingles via a codegen'd
    // expression, then one grouped aggregation.
    "q68_repetition" -> { (s, dir) =>
      graft.operators.Curation.repetitionScore(t(s, dir, "documents"), "doc_id", "text", 3)
    },
    // TF-IDF top terms per document: tf from posexplode counts, df from a
    // distinct-doc aggregate, idf broadcast back, top-3 by windowed rank.
    "q57_tfidf_topterms" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(df_, "tok")
        .crossJoin(broadcast(n))
        .withColumn(
          "score",
          round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      scored
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("tok"), col("score"))
        .orderBy("doc_id", "rnk")
    },
    // Bucketed interval join: events matched to per-user 12 h windows
    // anchored at each user's first event — candidates via (key, bucket)
    // equi-join, never a per-key cross product.
    "q58_range_join" -> { (s, dir) =>
      val ev = graft.queries.RelationalQueries.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
      val iv = ev
        .groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("interval 12 hours"))
      graft.operators.RangeJoin
        .bucketedIntervalJoin(ev, iv, "user_id", "ts", "w_start", "w_end")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_in_window"),
          sum(round(col("value") * 100).cast("long")).as("cents_in_window"))
        .orderBy("user_id")
    },
    // Key-skew diagnostics: top-10 heaviest join/agg keys with share and
    // uniform-ratio — the report that decides between AQE skew handling
    // and explicit salting before a big join ships.
    "q69_key_skew" -> { (s, dir) =>
      graft.plans.Profile.keySkewReport(
        graft.queries.RelationalQueries.events(s, dir), "user_id", topK = 10)
    },
    // Multimodal feature extraction over BINARY payloads: the byte-histogram
    // decode stub is deterministic arithmetic, so the whole path — binary
    // column construction, partition-wise mapPartitions decode, feature
    // array shape, metadata join — is oracle-checkable. Bin counts are
    // recovered from the L1-normalized features (hist = feature × n_bytes).
    // NOTE: the q38/q61 DuckDB oracles index CHARACTERS (ascii/substring),
    // which equals the Spark side's UTF-8 BYTES only for ASCII corpora —
    // verified for these fixtures (length == strlen for every document);
    // the Spark operators themselves are byte-correct for any input.
    "q38_multimodal_features" -> { (s, dir) =>
      val media = Multimodal.fromDocuments(s, t(s, dir, "documents"))
      val bins = (0 until 16).map(i =>
        round(element_at(col("features"), i + 1) * greatest(col("n_bytes"), lit(1L)))
          .cast("long").as(f"b$i%02d"))
      Multimodal
        .extractFeatures(media)
        .toDF()
        .select(Seq(col("media_id"), col("kind"), col("n_bytes")) ++ bins: _*)
        .orderBy("media_id")
    },
    // Resize: nearest-neighbor byte resampling to a fixed 64-byte payload
    // — md5 of the resized bytes is replicated positionally in DuckDB.
    "q61_multimodal_resize" -> { (s, dir) =>
      val media = Multimodal.fromDocuments(s, t(s, dir, "documents"))
      Multimodal
        .resizePayload(media, targetBytes = 64)
        .toDF()
        .select(col("media_id"), col("kind"), md5(col("payload")).as("resized_md5"))
        .orderBy("media_id")
    },
    // REAL video decode round trip: video-kind payloads are wrapped as a
    // concatenated-PNG stream (8x8 grayscale frames of the text bytes,
    // zero-padded), split back on PNG signatures, every 2nd frame decoded
    // through javax.imageio, reduced to mean pixel intensity + temporal
    // delta. Gray PNG is lossless and raster samples skip color-model
    // conversion, so the oracle recomputes each frame's mean from the
    // source bytes directly (ASCII corpus, same caveat as q61/q71).
    "q39_multimodal_frames" -> { (s, dir) =>
      import s.implicits._
      val vids = Multimodal
        .fromDocuments(s, t(s, dir, "documents"))
        .filter(_.kind == "video")
        .map(m => m.copy(payload = Multimodal.concatPngVideo(m.payload, 8, 8)))
      Multimodal
        .decodeVideoFeatures(vids, stride = 2)
        .toDF()
        .where(col("decoded"))
        .select(
          col("media_id"), col("frame_idx"),
          round(col("mean_lum"), 6).as("mean_r"),
          round(col("delta_lum"), 6).as("delta_r"))
        .orderBy("media_id", "frame_idx")
    },
    // REAL audio decode round trip: audio-kind payloads wrapped as
    // PCM16LE mono WAV, parsed back through javax.sound.sampled, features
    // (sample count / RMS / peak) computed in the SAMPLE domain. The
    // oracle reconstructs every 16-bit sample from the source bytes
    // (lo + 256*hi; ASCII corpus ⇒ high byte < 0x80, so values are
    // always positive) — the decoder's frame parsing is what's under
    // test. Same oracle ASCII caveat as q38/q61.
    "q71_audio_decode" -> { (s, dir) =>
      import s.implicits._
      val wav = Multimodal
        .fromDocuments(s, t(s, dir, "documents"))
        .filter(_.kind == "audio")
        .map(m => m.copy(payload = Multimodal.wavPcm16(m.payload)))
      Multimodal
        .decodeAudioFeatures(wav)
        .toDF()
        .where(col("decoded"))
        .select(col("media_id"), col("n_samples"), round(col("rms"), 6).as("rms"), col("peak"))
        .orderBy("media_id")
    },
    // One BPE adjacent-pair counting round (tokenizer-training core):
    // character pairs within each token occurrence, counted corpus-wide
    // and ranked into a merge table — ranking via the range-partitioned
    // two-level rank, no global window.
    "q72_bpe_pairs" -> { (s, dir) =>
      graft.operators.Curation.bpeMergePairs(t(s, dir, "documents"), "text", minCount = 50L)
    },
    // FILE-granular merge, end-to-end against the oracle: initial-load a
    // range-clustered orders slice, merge a doctored update+insert batch
    // through the footer-stats path (distributed footer scan → one-pass
    // key stab → only intersected files rewritten → manifest commit),
    // read the table back. The oracle is the same source-wins FULL OUTER
    // merge in SQL — so the whole physical machinery must reproduce the
    // declarative semantics exactly. The scratch table rebuilds per run
    // (delete + initial load) for determinism.
    "q73_filemerge_e2e" -> { (s, dir) =>
      import graft.operators.FileMerge
      val tmp = freshScratch(s, dir, "q73", Seq("_fmerge"))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      FileMerge.mergeFileGranular(
        s, orders.where(col("o_orderkey") <= 10000L), tmp, "o_orderkey", initialFiles = 8)
      val batch = orders
        .where(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderstatus", lit("X"))
      FileMerge.mergeFileGranular(s, batch, tmp, "o_orderkey")
      s.read.parquet(tmp).orderBy("o_orderkey")
    },
    // Deterministic mixture sampling (data-mixing weights): per-source
    // keep rates decided by a content hash — reproducible across engines
    // and retried tasks, scan-side only. Rates are derived formulaically
    // from the source name so the oracle can compute the identical rate.
    "q74_mixture_sample" -> { (s, dir) =>
      val rate = ((ascii(substring(col("source"), 1, 1)) % 4 + 1).cast("double") / 5.0)
      graft.operators.Curation
        .mixtureSample(t(s, dir, "documents"), "text", rate)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"))
        .orderBy("source")
    },
    // IVF ANN: vectors 0-15 serve as the deterministic coarse quantizer;
    // every vector is bucketed to its nearest centroid, the query probes
    // its 4 nearest buckets, exact cosine re-ranks inside them. The whole
    // path — assignment argmax, probe ranking, re-rank — replicates in
    // DuckDB via the q27-proven zip-unnest summation.
    "q75_ann_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        queryId = 0L, k = 10, nprobe = 4)
    },
    // IVF ANN against the PERSISTED index (q75's semantics, build-once/
    // probe-many shape): ivfBuild writes the (centroid_id, id, vector)
    // postings range-clustered on centroid_id + the centroid table, then
    // the probe ranks stored centroids, footer-selects only the probed
    // buckets' files, and exact-cosine re-ranks inside them. Same oracle
    // as q75 — the physical index round trip must not change a single
    // neighbor. The index rebuilds per run (scratch dir) for determinism.
    "q76_ann_ivf_indexed" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q76", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        tmp, files = 8)
      Similarity.ivfTopKIndexed(
        s, tmp, "vec_id", "embedding",
        emb.where(col("vec_id") === 0L).select("embedding"),
        k = 10, nprobe = 4, excludeId = Some(0L))
    },
    // One Lloyd k-means round (the step kmeansTrain iterates): cosine
    // argmax assignment to the 16 seed centroids, then per-dimension
    // MEAN of each cluster's vectors in double precision. Assignment
    // argmax is unrounded on both engines (q75's asg CTE); only the
    // reported means are rounded.
    "q77_kmeans_step" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity
        .kmeansUpdate(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 16), "vec_id", "embedding")
        .select(
          col("centroid_id"), col("n_assigned"),
          posexplode(col("centroid")).as(Seq("pos", "_m")))
        .select(
          col("centroid_id"), col("n_assigned"), col("pos"),
          round(col("_m"), 6).as("mean_r"))
        .orderBy("centroid_id", "pos")
    },
    // The index MAINTENANCE lifecycle, end to end: build on half the
    // corpus, ivfAppend the other half (assigned under the STORED
    // centroids, committed via the staged-append manifest protocol),
    // ivfCompact to restore disjoint per-file centroid ranges, then
    // probe. Must match q75/q76's oracle exactly — growing the index
    // incrementally may not change a single neighbor vs a full rebuild.
    "q78_ann_ivf_append" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q78", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuild(
        s, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        tmp, files = 8)
      Similarity.ivfAppend(
        s, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", tmp, files = 4)
      Similarity.ivfCompact(s, tmp, targetFileBytes = 4L * 1024 * 1024)
      Similarity.ivfTopKIndexed(
        s, tmp, "vec_id", "embedding",
        emb.where(col("vec_id") === 0L).select("embedding"),
        k = 10, nprobe = 4, excludeId = Some(0L))
    },
    // BATCH ANN (nearest-neighbour join): top-5 neighbours for EVERY
    // query in one pass over the persisted index — per-query probe
    // ranking against the broadcast quantizer, ONE file selection from
    // the union of probed buckets, per-query windowed top-k. The oracle
    // replicates the whole per-query pipeline (probe rank, bucket
    // candidates, rounded-cosine re-rank) for each of the 4 queries.
    "q79_ann_ivf_batch" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q79", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        tmp, files = 8)
      Similarity.ivfTopKIndexedBatch(
        s, tmp, "vec_id", "embedding",
        emb.where(col("vec_id") < 4).select("vec_id", "embedding"),
        "vec_id", "embedding",
        k = 5, nprobe = 4, excludeSelf = true)
    },
    // PII REDACTION (quarantine-exit curation): synthetic PII —
    // an email, a dashed phone number, a plain IPv4 AND a zero-padded
    // IPv4 ('010.001.002.0X' — the form zero-padded logs emit) — is
    // injected deterministically per doc (the corpus itself is clean),
    // then counted and redacted to typed placeholders. Patterns are
    // RE2-compatible so both engines find the identical match set; the
    // oracle re-injects, re-counts, and re-redacts with the same
    // patterns and compares the redacted text by md5.
    "q80_pii_redact" -> { (s, dir) =>
      val withPii = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via +1-555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-0199 at 10."), (col("doc_id") % 200).cast("string"), lit(".0.7"),
          lit(" log 010.001.002."),
          lpad((col("doc_id") % 100).cast("string"), 2, "0")
        ).as("text"))
      withPii
        .select(
          col("doc_id"),
          Text.piiCount(col("text"), Text.EmailPattern).as("n_emails"),
          Text.piiCount(col("text"), Text.PhonePattern).as("n_phones"),
          Text.piiCount(col("text"), Text.Ipv4Pattern).as("n_ips"),
          md5(Text.redactPii(col("text"))).as("redacted_md5"))
        .orderBy("doc_id")
    },
    // Corpus bigram LANGUAGE-MODEL quality score (CCNet-style,
    // self-trained): p(w2|w1) from the corpus's own bigram counts, each
    // doc scored by the SUM and MIN of its scaled-integer transition
    // probabilities — exact BIGINT math end to end, so the hash matches
    // regardless of either engine's aggregation order (a float log-prob
    // sum would not).
    "q81_lm_bigram" -> { (s, dir) =>
      graft.operators.Curation.lmBigramScore(t(s, dir, "documents"), "doc_id", "text")
    },
    // C4-style corpus LINE dedup: 5-token word windows as the line unit,
    // first occurrence corpus-wide (doc order, then position) survives,
    // docs reassembled from surviving lines. The oracle replays the
    // whole pipeline — same segmentation, same first-occurrence window,
    // same in-order reassembly — and compares the rebuilt text by md5.
    "q82_line_dedup" -> { (s, dir) =>
      Dedup.lineDedup(t(s, dir, "documents"), "doc_id", "text", lineTokens = 5)
    },
    // IVF RADIUS search against the persisted index: every neighbour
    // with cos_sim >= 0.25 in the 4 probed buckets — the "give me
    // everything this close" probe where top-k's fixed cutoff is the
    // wrong contract. Same index build as q76; same oracle pipeline but
    // a rounded-cosine threshold instead of LIMIT.
    "q83_ann_ivf_radius" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q83", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        tmp, files = 8)
      Similarity.ivfRadiusIndexed(
        s, tmp, "vec_id", "embedding",
        emb.where(col("vec_id") === 0L).select("embedding"),
        minSim = 0.25, nprobe = 4, excludeId = Some(0L))
    },
    // REAL image decode round trip (the javax.imageio image leg — the
    // q39/q71 playbook applied to decodeImageFeatures): image-kind
    // payloads are thresholded to pure black/white pixels — the two
    // FIXED POINTS of Java's gray→sRGB color management; any other gray
    // value gamma-shifts under getRGB (measured: 1→13, 63→136) and no
    // SQL oracle could follow — wrapped as a 16-wide grayscale PNG via
    // pngFrame, decoded back through the real ImageIO path, and reduced
    // to the decoded width/height plus dark/bright pixel counts
    // recovered from the L1-normalized luminance histogram (bin 0 =
    // black, bin 15 = white; the last row's zero-padding counts as
    // dark, which the oracle replicates).
    "q84_image_decode" -> { (s, dir) =>
      import s.implicits._
      val imgs = Multimodal
        .fromDocuments(s, t(s, dir, "documents"))
        .filter(_.kind == "image")
        .map { m =>
          val px = m.payload.map(b => (if ((b & 0xff) >= 64) 0xff else 0x00).toByte)
          val h = math.max(1, (px.length + 15) / 16)
          m.copy(payload = Multimodal.pngFrame(px, 16, h))
        }
      Multimodal
        .decodeImageFeatures(imgs, bins = 16)
        .toDF()
        .where(col("decoded"))
        .select(
          col("media_id"), col("width"), col("height"),
          round(element_at(col("features"), 1) * col("width") * col("height"))
            .cast("long").as("dark_px"),
          round(element_at(col("features"), 16) * col("width") * col("height"))
            .cast("long").as("bright_px"))
        .orderBy("media_id")
    },
    // BPE TRAINER, 3 merge rounds end-to-end (tokenizer build): count
    // adjacent symbol pairs corpus-wide (word-type table × counts),
    // merge the winner everywhere, repeat. The oracle replays all three
    // rounds on a space-delimited symbol-string encoding where SQL
    // replace() IS the greedy non-overlapping merge.
    "q85_bpe_train" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Curation
        .bpeTrain(t(s, dir, "documents"), "text", numMerges = 3)
        .toDF()
        .orderBy("merge_rank")
    },
    // BPE APPLY: replay the 3 trained merges over every document IN
    // TRAINING ORDER, reassemble each doc's subword stream in token
    // order, compare count + md5 of the space-joined stream. Exercises
    // the full train→segment round trip, q82's reassembly discipline.
    "q86_bpe_apply" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Curation.bpeTrain(docs, "text", numMerges = 3)
      graft.operators.Curation
        .applyBpe(docs, "doc_id", "text", merges.map(m => (m.left_sym, m.right_sym)))
        .select(
          col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("subwords"))).as("subword_md5"))
        .orderBy("doc_id")
    },
    // BATCH RADIUS search (the sweep a dedup/contamination pass runs
    // over a query SET): every neighbour with cos_sim >= 0.25 for each
    // of the 4 queries, one pass over the persisted index — q79's batch
    // machinery with q83's radius predicate instead of the top-k window.
    "q87_ann_ivf_radius_batch" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q87", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        tmp, files = 8)
      Similarity.ivfRadiusIndexedBatch(
        s, tmp, "vec_id", "embedding",
        emb.where(col("vec_id") < 4).select("vec_id", "embedding"),
        "vec_id", "embedding",
        minSim = 0.25, nprobe = 4, excludeSelf = true)
    },
    // EXACT repeated-substring scrub (Lee et al. 2022 ExactSubstr, the
    // distributed k-gram formulation): any 8-token span occurring more
    // than once corpus-wide is scrubbed from every occurrence; docs are
    // reported with token/dup/removed counts and the md5 of the
    // reassembled clean text. The oracle replays the whole pipeline —
    // same tokenization, same window indexing, same remove-all-copies
    // contract, same in-order reassembly.
    "q88_span_dedup" -> { (s, dir) =>
      Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", k = 8)
    },
    // SemDeDup (Abbas et al. 2023): cluster the embedding corpus on the
    // 16 seed centroids (the IVF family's coarse quantizer), then drop
    // every vector with a lower-id within-cluster partner at cosine
    // >= 0.45 (q33's threshold; within-cluster max on this corpus is
    // 0.493, nearest pair sits 1.6e-3 off the boundary — no ulp risk).
    // One row per vector: (vec_id, centroid_id, kept). The oracle
    // replays assignment (q75's asg CTE) and the pair election.
    "q89_semdedup" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.semDedup(
        emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        threshold = 0.45)
    },
    // Deterministic training-order shuffle: a reproducible md5-keyed
    // global permutation of the corpus (the shuffle-before-packing stage
    // of a training-data pipeline), positions assigned WITHOUT a
    // single-partition global sort. The oracle replays the identical
    // row_number over the identical md5 key order.
    "q90_training_shuffle" -> { (s, dir) =>
      Scale.trainingShuffle(
        t(s, dir, "documents").select("doc_id"),
        Seq("doc_id"), seed = "graft-r9")
        .orderBy("train_pos")
    },
    // The end-of-pipeline composition: deterministic corpus shuffle →
    // modulo-striped shards (data-parallel ranks) → greedy token-budget
    // packing in SHUFFLED order within each shard. Everything upstream
    // of the trainer, in one oracled plan.
    "q91_shuffled_packing" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"))
      val shuffled = Scale.trainingShuffle(docs, Seq("doc_id"), seed = "graft-r9")
        .withColumn("shard", pmod(col("train_pos"), lit(4)))
      Pack.byTokenBudget(shuffled, "train_pos", "n_tokens", 2000L, Some("shard"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_sum"))
        .orderBy("shard", "bin")
    },
    // Incremental dedup: the new batch (doc_id >= 400) scored against the
    // existing corpus (doc_id < 400) with NO corpus self-join — corpus
    // bands stream past the broadcast batch bands. Within-corpus and
    // within-batch near-dup pairs must NOT appear; the oracle replays
    // q41's banding with the side split in the candidate join.
    "q92_incremental_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.incrementalNearDupMd5(
        docs.where(col("doc_id") < 400),
        docs.where(col("doc_id") >= 400),
        "doc_id", "text", 3, 0.8)
    },
    // End-to-end deduped INGESTION (the streaming door-dedup's batch
    // core, Streams.ingestBatchDeduped): an empty corpus ingests two
    // batches — even doc_ids, then odd — each reduced to its novel
    // survivors (exact min-id election, within-batch near-dup closure,
    // then the cross-corpus banding + digest guards) before appending.
    // The oracle replays the whole protocol declaratively: q41's banding
    // per batch, recursive-CTE closure for the within-batch survivors,
    // q92's split candidate join plus an md5 guard for the cross step.
    // The scratch corpus rebuilds per run for determinism.
    // Temperature-scaled data mixing (alpha = 1/2): per-source keep
    // rates flatten the source distribution toward small sources while
    // targeting 40% of the corpus; sqrt weights quantized to exact
    // integers so the rate doubles are bit-identical across engines
    "q95_temperature_mixture" -> { (s, dir) =>
      graft.operators.Curation
        .temperatureMixtureSqrt(t(s, dir, "documents"), "source", "text", 0.4)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"))
        .orderBy("source")
    },
    "q93_ingest_dedup_e2e" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q93", Seq("_fmerge"))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.streaming.Streams.ingestBatchDeduped(
        s, docs.where(col("doc_id") % 2 === 0), "doc_id", "text", tmp, 0L)
      graft.streaming.Streams.ingestBatchDeduped(
        s, docs.where(col("doc_id") % 2 === 1), "doc_id", "text", tmp, 1L)
      s.read.parquet(tmp)
        .select(col("doc_id"), md5(col("text")).as("text_hash"))
        .orderBy("doc_id")
    },
    // DSIR-style importance resampling (Xie 2023): top-100 docs by
    // hashed-unigram+bigram log-likelihood ratio against the English
    // subset as the target distribution — deterministic top-k variant,
    // exact BIGINT score sums (see Curation.importanceResample)
    "q96_dsir_importance" -> { (s, dir) =>
      graft.operators.Curation.importanceResample(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en",
        numBuckets = 256, keep = 100)
    },
    // JL-style signed random projection 64d -> 16d over exact quantized
    // codes, md5-derived sign matrix (see Similarity.randomProjectSigned).
    // The raw proj array is digested to a scalar md5 plus first/last
    // component probes (q104's postings_md5 pattern) so the oracle
    // harness can sort and hash the output.
    "q97_random_projection" -> { (s, dir) =>
      graft.operators.Similarity
        .randomProjectSigned(t(s, dir, "embeddings"), "vec_id", "embedding", 64, 16)
        .select(
          col("vec_id"),
          md5(array_join(transform(col("proj"), x => x.cast("string")), ":"))
            .as("proj_md5"),
          col("proj")(0).as("proj_first"),
          col("proj")(15).as("proj_last"))
        .orderBy("vec_id")
    },
    // q27's approximate counterpart in the projected space: top-20 by
    // projected cosine at 16/64 of the per-comparison cost; exact BIGINT
    // dot/norms so the cosine is bit-identical across engines
    "q98_projected_knn" -> { (s, dir) =>
      graft.operators.Similarity.projectedCosineTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 20, 64, 16)
    },
    // exact-proportion stratified split per source (80.0% train), with
    // the skew-immune rank machinery (see Scale.stratifiedSplit)
    "q99_stratified_split" -> { (s, dir) =>
      graft.operators.Scale
        .stratifiedSplit(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", Seq("doc_id"), "s99", trainPermille = 800)
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id")
    },
    // token-budget prefix selection: longest docs first (a stand-in for
    // any score order) until 20k tokens are committed; running totals
    // via the skew-immune globalRunningSum (see Curation.budgetSelect)
    "q100_budget_select" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        col("n_chars"),
        graft.functions.Text.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Curation
        .budgetSelect(
          docs, Seq(col("n_chars").desc, col("doc_id").asc),
          col("n_tokens"), 20000L, "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    },
    // exact top-50 tokens via two-pass Misra-Gries heavy hitters:
    // per-partition bounded-memory sketch, broadcast-filtered exact
    // recount — the shuffle is candidate-bounded, never vocabulary-wide
    // (see Curation.heavyHitters)
    "q101_heavy_hitters" -> { (s, dir) =>
      graft.operators.Curation
        .heavyHitters(t(s, dir, "documents"), "text", k = 50, capacity = 4096)
        .orderBy("rank")
    },
    // fixed-length training-sequence construction from the event log:
    // per-user time-ordered event types chunked into windows of 32,
    // trailing chunks kept at >= 4 events (see Sessions.eventSequences)
    // The events array is digested to a scalar md5 (q104's pattern) so
    // the oracle harness can sort and hash the output; n_events stays as
    // the cardinality probe.
    "q102_event_sequences" -> { (s, dir) =>
      graft.queries.RelationalQueries
        .events(s, dir)
        .transform(ev => graft.operators.Sessions
          .eventSequences(ev, "user_id", "ts", "event_id", "event_type",
            seqLen = 32, minLen = 4))
        .select(
          col("user_id"), col("seq_index"),
          md5(array_join(col("events"), " ")).as("events_md5"),
          col("n_events"))
        .orderBy("user_id", "seq_index")
    },
    // metadata-only table stats: exact row count + l_orderkey bounds
    // from parquet FOOTERS alone — zero data pages read, distributed
    // footer sweep (see Lake.footerStats)
    "q103_footer_stats" -> { (s, dir) =>
      graft.sources.Lake.footerStats(s, s"$dir/lineitem.parquet", "l_orderkey")
    },
    // sharded inverted index: per (term, doc-range block) posting list,
    // block df/tf, postings digest — blocks bound the aggregated row so
    // a stopword never concentrates its corpus-sized posting list into
    // one cell (see Invert.postingLists)
    "q104_posting_lists" -> { (s, dir) =>
      graft.operators.Invert
        .postingLists(t(s, dir, "documents"), "doc_id", "text", blockDocs = 100L)
        .select(
          col("term"), col("block"), col("df"), col("tf"),
          md5(array_join(
            transform(col("postings"), p => concat_ws(":", p("doc_id"), p("pos"))),
            " ")).as("postings_md5"))
        .orderBy("term", "block")
    },
    // index-only phrase search: "table table" answered from posting
    // lists alone via start-vote counting — the text is never re-read,
    // and the repeated word exercises the duplicate-slot arithmetic
    // (see Invert.phraseSearch)
    "q105_phrase_search" -> { (s, dir) =>
      graft.operators.Invert.phraseSearch(
        graft.operators.Invert
          .postingLists(t(s, dir, "documents"), "doc_id", "text", blockDocs = 100L),
        Seq("table", "table"))
    },
    // CCNet-style per-language quality buckets: rank each language's
    // docs by the corpus bigram LM's exact mean transition probability,
    // cut into head/middle/tail thirds with pure integer rank math —
    // ranked by a range partition, never a per-language window
    // (see Curation.lmPerplexityBuckets)
    "q106_lm_buckets" -> { (s, dir) =>
      graft.operators.Curation
        .lmPerplexityBuckets(
          t(s, dir, "documents").withColumn("lang", Text.langIdHeuristic(col("text"))),
          "doc_id", "text", "lang", nBuckets = 3)
        .withColumn("bucket", col("bucket").cast("long"))
        .orderBy("doc_id")
    },
    // BM25 top-20 for a 3-term query, answered from the sharded index +
    // doc lengths: per-term scores are fixed-shape double expressions
    // quantized to scaled BIGINTs BEFORE the per-doc sum, so the only
    // cross-term reduction is exact integer math (see Invert.bm25TopK)
    "q107_bm25" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Invert.bm25TopK(
        graft.operators.Invert.postingLists(docs, "doc_id", "text", blockDocs = 100L),
        graft.operators.Invert.docLengths(docs, "doc_id", "text"),
        Seq("customer", "vector", "stream"), k = 20)
    },
    // The PERSISTED index lifecycle under the oracle (the q76 pattern
    // for the inverted index): build on the first half of the corpus,
    // writeIndex to scratch (term-range-clustered staged commit),
    // appendToIndex the second half — deliberately starting mid-block,
    // exercising the doc-level max_doc watermark — then answer q105's
    // phrase search from readIndex. Matching q105's oracle proves the
    // whole physical round trip (write → footer watermark → append →
    // term-IN pushdown seek) changes no answer.
    "q108_index_persisted" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q108", Seq("_fmerge"))
      val docs = t(s, dir, "documents")
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      graft.operators.Invert.writeIndex(
        s,
        graft.operators.Invert
          .postingLists(docs.where(col("doc_id") <= cut), "doc_id", "text", blockDocs = 100L),
        tmp, files = 8)
      graft.operators.Invert.appendToIndex(
        s, docs.where(col("doc_id") > cut), "doc_id", "text", tmp,
        blockDocs = 100L, files = 4, commitId = Some("q108_b0"))
      graft.operators.Invert
        .phraseSearch(graft.operators.Invert.readIndex(s, tmp), Seq("table", "table"))
    },
    // CCNet-style normalization (lowercase / strip diacritics / digits
    // to 0 / collapse whitespace) + normalization-aware exact grouping:
    // per doc, the normalized digest and the min doc id sharing it —
    // the first dedup pass of a CCNet pipeline (see Text.normalizeCc)
    "q109_normalize_cc" -> { (s, dir) =>
      val normed = t(s, dir, "documents").select(
        col("doc_id"),
        md5(Text.normalizeCc(col("text"))).as("norm_md5"),
        length(Text.normalizeCc(col("text"))).cast("long").as("n_chars_norm"))
      val groups = normed.groupBy("norm_md5").agg(min(col("doc_id")).as("keep_id"))
      normed
        .join(groups, "norm_md5")
        .select(col("doc_id"), col("norm_md5"), col("n_chars_norm"), col("keep_id"))
        .orderBy("doc_id")
    },
    // Per-source domain-shift score: KL-style divergence of each
    // source's unigram distribution from the corpus mixture, exact
    // BIGINT counts with the pseudoLn-quantized log ratio (q96's
    // determinism recipe) — the DoReMi-ish domain-weighting signal
    // (see Curation.domainShift)
    "q110_domain_shift" -> { (s, dir) =>
      graft.operators.Curation.domainShift(t(s, dir, "documents"), "text", "source")
    },
    // Contrastive negative sampling: 3 hash-ring negatives per anchor,
    // with q40's capped near-dup pairs excluded so no positive leaks in
    // as a negative (see Curation.negativeSamples)
    "q111_negative_samples" -> { (s, dir) =>
      graft.operators.Curation.negativeSamples(
        t(s, dir, "documents"), "doc_id", k = 3, cappedPairs(s, dir))
    },
    // Per-user sliding 10-minute window over the event stream: trailing
    // count/sum/min/max per event, values quantized to scaled BIGINTs
    // before aggregation so the sliding sum is exact integer math
    // (see TimeSeries.rollingAggregate)
    "q112_rolling_window" -> { (s, dir) =>
      graft.queries.RelationalQueries.events(s, dir)
        .transform(ev => graft.operators.TimeSeries.rollingAggregate(
          ev, "user_id", "ts", "event_id", "value", windowSeconds = 600))
        .orderBy("user_id", "event_id")
    },
    // Conversion funnel view -> click -> purchase within 4 days:
    // greedy-earliest chain per user, one min-aggregation per step —
    // no windows, no per-user event materialization
    // (see Sessions.funnel)
    "q113_funnel" -> { (s, dir) =>
      graft.queries.RelationalQueries.events(s, dir)
        .transform(ev => graft.operators.Sessions.funnel(
          ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), withinSeconds = 345600L))
    },
    // Per-doc unigram entropy: whole-distribution token diversity,
    // exact BIGINT numerator via the pseudoLn-quantized per-token term
    // (see Curation.tokenEntropy)
    "q114_token_entropy" -> { (s, dir) =>
      graft.operators.Curation.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
    },
    // Directed containment pairs |A∩B|/|A| >= 0.9: the excerpt/quote
    // detector symmetric Jaccard structurally misses
    // (see Dedup.containmentPairs)
    "q115_containment" -> { (s, dir) =>
      Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", 3, 0.9, maxDocsPerShingle = 5)
    },
    // Quality-preferring dedup: per near-dup cluster keep the LONGEST
    // member (ties to min id) instead of the min id — the survivor a
    // curation pipeline actually wants (see Dedup.dedupByPairsPreferring)
    "q117_dedup_keep_best" -> { (s, dir) =>
      // rides q62/q63's session-cached closure: three views of ONE pair
      // set must not pay the pair generation + closure three times
      Dedup.survivorsPreferringByLabels(
        t(s, dir, "documents"), "doc_id", nearDupLabels(s, dir), col("n_chars"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    // FILTERED ANN over the persisted IVF index: nearest neighbours
    // WHERE label = 1 — the label rides the postings as a top-level
    // column, so the predicate prunes the scan next to the bucket
    // pruning, and the filter runs BEFORE the top-k cut
    // (see Similarity.ivfTopKIndexedFiltered)
    "q116_ann_filtered" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q116", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        tmp, files = 8, metaCols = Seq("label"))
      Similarity.ivfTopKIndexedFiltered(
        s, tmp, "vec_id", "embedding",
        emb.where(col("vec_id") === 0L).select("embedding"),
        k = 10, nprobe = 4, predicate = col("label") === 1, excludeId = Some(0L))
    },
    // BM25 over the PERSISTED index lifecycle (q108's pattern with
    // q107's query): writeIndex on the first half, appendToIndex the
    // second half mid-block, readIndex, then the ranked retrieval.
    // Gated by q107's exact oracle SQL, so a divergence is the
    // physical lifecycle's fault by construction — this closes the one
    // persisted face q108 left spec-only (phrase search was oracled,
    // BM25 was not).
    "q118_bm25_persisted" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q118", Seq("_fmerge"))
      val docs = t(s, dir, "documents")
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      graft.operators.Invert.writeIndex(
        s,
        graft.operators.Invert
          .postingLists(docs.where(col("doc_id") <= cut), "doc_id", "text", blockDocs = 100L),
        tmp, files = 8)
      graft.operators.Invert.appendToIndex(
        s, docs.where(col("doc_id") > cut), "doc_id", "text", tmp,
        blockDocs = 100L, files = 4, commitId = Some("q118_b0"))
      graft.operators.Invert.bm25TopK(
        graft.operators.Invert.readIndex(s, tmp),
        graft.operators.Invert.docLengths(docs, "doc_id", "text"),
        Seq("customer", "vector", "stream"), k = 20)
    },
    // q119: PMI collocation mining — top-100 adjacent bigrams by
    // pointwise mutual information over exact BIGINT counts. The log is
    // Curation.lnOfCount: exact binary exponent from the integer's
    // bin() length plus the pseudoLn series on the [1,2) mantissa, so
    // the value is a REAL log (~1e-9 relative) yet every double op is
    // engine-reproducible; the oracle replays the identical expression
    // shape (bin length, integer shift, same polynomial, same
    // association order, one final floor quantization)
    "q119_pmi_collocations" -> { (s, dir) =>
      graft.operators.Curation.pmiCollocations(
        t(s, dir, "documents"), "text", minCount = 5L, k = 100)
    },
    // q120: DAILY cohort retention over the event stream — users
    // bucketed by their first active day, counted in every day they
    // return, with cohort sizes riding the grid's own offset-0 rows.
    // One corpus shuffle: partial-aggregable collect_set of each
    // user's distinct active days (see Sessions.retentionCohorts)
    "q120_retention_cohorts" -> { (s, dir) =>
      graft.queries.RelationalQueries.events(s, dir)
        .transform(ev =>
          graft.operators.Sessions.retentionCohorts(
            ev, "user_id", "ts", bucketSeconds = 86400L))
        .orderBy("cohort_bucket", "bucket_offset")
    },
    // q121: KMV distinct-count sketch — per-source distinct-TRIGRAM
    // cardinality (the dedup working-set sizing question) from each
    // source's 64 smallest md5-prefix hashes; the estimator is ONE
    // BIGINT integer division, replayed verbatim by the oracle
    // (see Scale.kmvDistinct)
    "q121_kmv_distinct" -> { (s, dir) =>
      Scale
        .kmvDistinct(
          t(s, dir, "documents")
            .select(col("source"), explode(Text.shingles(col("text"), 3)).as("sh")),
          "source", col("sh"), k = 64)
        .orderBy("source")
    },
    // q122: first-order Markov transition matrix over the event
    // stream — consecutive (from → to) event-type counts per user with
    // exact-integer micro-probabilities (see Sessions.transitionCounts)
    "q122_event_transitions" -> { (s, dir) =>
      graft.queries.RelationalQueries.events(s, dir)
        .transform(ev => graft.operators.Sessions.transitionCounts(
          ev, "user_id", "ts", "event_id", "event_type"))
        .orderBy("from_type", "to_type")
    },
    // q123: snapshot diff — the audit face of MERGE. Two versions of
    // the documents table derived deterministically in-query (drops on
    // each side + a text revision), diffed to added/removed/changed
    // rows via per-side row digests and ONE co-keyed full-outer join
    // (see Incremental.snapshotDiff)
    "q123_snapshot_diff" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val oldSnap = docs.where(col("doc_id") % 17 =!= 0)
      val newSnap = docs
        .where(col("doc_id") % 19 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      graft.operators.Incremental
        .snapshotDiff(oldSnap, newSnap, "doc_id",
          Seq("text", "lang", "source", "n_chars"))
        .orderBy("doc_id")
    },
    // q124: the STREAMING engine under the batch oracle — gap
    // sessionization via flatMapGroupsWithState (custom per-user
    // state, event-time timeouts) replayed over the events parquet as
    // a file stream, output through a parquet SINK, and gated by the
    // same islands SQL that oracles batch q35. The far-future
    // sentinel that lets the final no-data micro-batch flush every
    // open session is filtered back out inside replaySessionize
    "q124_stream_sessionize" -> { (s, dir) =>
      val ev = graft.queries.RelationalQueries.eventsStream(s, dir)
        .select(col("user_id"), col("ts").cast("long").as("sec"), col("value"))
      graft.streaming.Streams
        .replaySessionize(ev, gapSec = 21600L, sentinelSec = 32503680000L,
          statePartitions = eventsStateParts(s, dir))
        .select(
          col("user_id"), col("session_start_sec"), col("n_events"),
          col("duration_sec"), round(col("value_sum"), 2).as("value_sum"))
        .orderBy("user_id", "session_start_sec")
    },
    // q125: bounded top-k rows per group — the row_number() <= k
    // answer from TopKPairsAgg's map-side-capped buffers (see
    // Scale.topKPerGroup): shuffle carries at most k (ord, tag) pairs
    // per group per partition, no Window, no corpus sort
    "q125_topk_group" -> { (s, dir) =>
      Scale
        .topKPerGroup(
          t(s, dir, "documents"), "source",
          col("n_chars"), col("doc_id"), k = 5,
          ordName = "n_chars", tagName = "doc_id")
        .orderBy("source", "rank")
    },
    // q126: deterministic per-group uniform sample — md5-priority
    // reservoir ranked by the same bounded aggregate as q125; seed
    // change = wholesale resample, rerun = identical rows
    "q126_group_sample" -> { (s, dir) =>
      Scale
        .groupSample(
          t(s, dir, "documents"), "source",
          col("doc_id"), k = 4, seed = "s12", idName = "doc_id")
        .orderBy("source", "rank")
    },
    // q127: the WATERMARKED WINDOWED AGGREGATION face of the streaming
    // engine under the batch oracle — tumbling hourly windows flushed
    // by the q124 sentinel pattern, window starts as epoch seconds
    "q127_stream_windowed_agg" -> { (s, dir) =>
      graft.streaming.Streams
        .replayWindowedCounts(
          graft.queries.RelationalQueries.eventsStream(s, dir),
          "ts", "event_type", "value",
          windowSec = 3600L, sentinelSec = 32503680000L,
          statePartitions = eventsStateParts(s, dir))
        .orderBy("window_start_sec", "event_type")
    },
    // q128: weighted per-group sample — Duffield-Lund-Thorup priority
    // sampling with exact-integer priorities, char-count-weighted so
    // long documents surface proportionally in the QA sample
    "q128_weighted_sample" -> { (s, dir) =>
      Scale
        .weightedGroupSample(
          t(s, dir, "documents"), "source",
          col("doc_id"), "n_chars", k = 4, seed = "w12", idName = "doc_id")
        .orderBy("source", "rank")
    },
    // q129: top-k frequent tokens per source via the SpaceSaving
    // counter-map aggregate — capacity 4096 far exceeds the fixture
    // vocabulary, so counts are exact (err = 0) and the oracle is the
    // plain GROUP BY answer; the bounded map is the corpus-scale shape
    "q129_freq_terms" -> { (s, dir) =>
      Scale
        .freqItemsPerGroup(
          t(s, dir, "documents")
            .select(col("source"),
              explode(graft.functions.Text.tokens(col("text"))).as("tok")),
          "source", col("tok"), k = 5, capacity = 4096, itemName = "term")
        .orderBy("source", "rank")
    },
    // q130: the KMV sketch's MERGEABILITY under the oracle — per-shard
    // sketches (doc_id mod 8 stands in for daily batches) unioned and
    // re-cut to per-source estimates; by the union property the answer
    // is row-identical to q121's direct sketch, and q121's SQL gates it
    "q130_kmv_rollup" -> { (s, dir) =>
      val sharded = Scale.kmvSketch(
        t(s, dir, "documents")
          .select(col("source"), pmod(col("doc_id"), lit(8)).as("shard"),
            explode(Text.shingles(col("text"), 3)).as("sh")),
        Seq("source", "shard"), col("sh"), k = 64)
      Scale.kmvMerge(sharded, "source", "kmv_sketch", k = 64).orderBy("source")
    },
    // q131: the STREAM-STREAM JOIN face of the streaming engine under
    // the batch oracle — click-to-purchase attribution: purchases by
    // the same user within 2 h after a click, matched by the
    // watermarked interval join (state bounded by the time band) and
    // replayed through the parquet sink. Timestamps are quantized to
    // whole seconds BEFORE the join so both engines band identically.
    "q131_stream_join" -> { (s, dir) =>
      def side(tpe: String, p: String) =
        graft.queries.RelationalQueries.eventsStream(s, dir)
          .where(col("event_type") === tpe)
          .select(col("user_id"),
            timestamp_seconds(col("ts").cast("long")).as(s"${p}_t"),
            col("event_id").as(s"${p}_id"),
            col("value").as(s"${p}_value"))
      graft.streaming.Streams
        .replayJoinWithin(side("click", "click"), side("purchase", "purchase"),
          "user_id", "click_t", "purchase_t", withinSec = 7200L,
          statePartitions = eventsStateParts(s, dir))
        .where(col("purchase_t") >= col("click_t"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_t").cast("long").as("click_sec"),
          col("purchase_t").cast("long").as("purchase_sec"),
          col("click_value"), col("purchase_value"))
        .orderBy("click_id", "purchase_id")
    },
    // q132: interval-overlap sweep line — peak concurrent sessions:
    // gap-sessionized spans reduced to +/-1 change points (one
    // partial-aggregable shuffle bounded by distinct seconds), running
    // count via the zipWithIndex shape (no single-task global window)
    "q132_concurrency" -> { (s, dir) =>
      graft.operators.TimeSeries
        .intervalConcurrency(
          graft.operators.Sessions.intervals(
            graft.queries.RelationalQueries.events(s, dir),
            "user_id", "ts", "event_id", 21600L),
          "start_sec", "end_sec")
        .orderBy("sec")
    },
    // q134: the STREAMING DEDUP face under the batch oracle — the
    // admitted-key set of dropDuplicatesWithinWatermark equals
    // SELECT DISTINCT on a finite replay (bounded state in production:
    // keys expire with the watermark)
    "q134_stream_dedup" -> { (s, dir) =>
      graft.streaming.Streams
        .replayDedupKeys(
          graft.queries.RelationalQueries.eventsStream(s, dir),
          Seq("user_id", "event_type"), eventTimeCol = Some("ts"),
          statePartitions = eventsStateParts(s, dir))
        .orderBy("user_id", "event_type")
    },
    // q133: deterministic histogram quantiles — the oracle-replayable
    // bounded percentile sketch (fixed 256-char bins over document
    // lengths; the GK approx_percentile answer is merge-order-dependent
    // and so can never be driver-gated — this one is)
    "q133_hist_quantiles" -> { (s, dir) =>
      graft.operators.Quantiles
        .histogram(t(s, dir, "documents"), "n_chars", "source",
          binWidth = 256L, percentiles = Seq(50, 90, 99))
        .orderBy("source")
    },
    // q135: the quantile transform — per-document percentile rank of
    // its length within its source, from the broadcast histogram (the
    // corpus is never shuffled; the percent_rank window would sort it)
    "q135_cdf_rank" -> { (s, dir) =>
      graft.operators.Quantiles
        .cdfRank(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "n_chars", "source", binWidth = 256L)
        .orderBy("doc_id")
    },
    // q136: per-user 3-sigma outlier events in exact integer arithmetic
    // — (n·x−S)² > 9(nQ−S²) over cent-scaled moments, stats broadcast,
    // flag row-local; no double ever crosses an engine boundary
    "q136_zscore_outliers" -> { (s, dir) =>
      graft.operators.Outliers
        .zscoreFlags(
          graft.queries.RelationalQueries.events(s, dir),
          "user_id", "event_id", "value", k = 3, scale = 100L)
        .orderBy("event_id")
    },
    // q137: cross-source content-overlap matrix from the stored KMV
    // sketches alone — the dedup planning query: which source pairs
    // share shingle vocabulary, estimated without touching the corpus
    "q137_kmv_overlap" -> { (s, dir) =>
      val sk = Scale.kmvSketch(
        t(s, dir, "documents")
          .select(col("source"), explode(Text.shingles(col("text"), 3)).as("sh")),
        Seq("source"), col("sh"), k = 64)
      Scale.kmvOverlap(sk, "source", "kmv_sketch", k = 64)
        .orderBy("source_a", "source_b")
    },
    // q138: histogram-sketch MERGEABILITY under the oracle — per-shard
    // bin counts (doc_id mod 8 stands in for daily batches) summed and
    // re-cut to per-source quantiles; exact union ⇒ row-identical to
    // q133's direct histogram, and q133's SQL gates it
    "q138_hist_rollup" -> { (s, dir) =>
      val sk = graft.operators.Quantiles.histogramSketch(
        t(s, dir, "documents")
          .withColumn("shard", pmod(col("doc_id"), lit(8))),
        "n_chars", Seq("source", "shard"), binWidth = 256L)
      graft.operators.Quantiles
        .histogramMerge(sk, "source", binWidth = 256L, percentiles = Seq(50, 90, 99))
        .orderBy("source")
    },
    // q139: the LEFT OUTER stream-stream join face — every click, with
    // its purchases within ±2 h or nulls once the watermark proves none
    // can arrive; the sentinel flush makes the outer emission exact on
    // a finite replay
    "q139_stream_left_join" -> { (s, dir) =>
      def side(tpe: String, p: String) =
        graft.queries.RelationalQueries.eventsStream(s, dir)
          .where(col("event_type") === tpe)
          .select(col("user_id"),
            timestamp_seconds(col("ts").cast("long")).as(s"${p}_t"),
            col("event_id").as(s"${p}_id"),
            col("value").as(s"${p}_value"))
      graft.streaming.Streams
        .replayJoinWithinOuter(side("click", "click"), side("purchase", "purchase"),
          "user_id", "click_t", "purchase_t", withinSec = 7200L,
          sentinelKey = -1L, sentinelSec = 32503680000L,
          statePartitions = eventsStateParts(s, dir))
        .select(col("user_id"), col("click_id"),
          col("click_t").cast("long").as("click_sec"),
          col("purchase_id"),
          col("purchase_t").cast("long").as("purchase_sec"))
        .orderBy("click_id", "purchase_id")
    },
    // q140: INCREMENTAL sketch maintenance under the oracle — the
    // documents corpus replayed as a genuinely multi-batch stream
    // (4 files, one per micro-batch), each batch appending its own
    // per-source KMV rows to a persisted sketch table; the rolled-up
    // estimate must be row-identical to q121's direct sketch no matter
    // how the stream was batched, and q121's SQL gates it
    "q140_stream_kmv" -> { (s, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_docs_stream").toString
      val in = s"$base/in"
      t(s, dir, "documents").select("source", "text")
        .repartition(4).write.parquet(in)
      val stream = graft.streaming.Streams
        .fileStream(s, in, s.read.parquet(in).schema, maxFilesPerTrigger = 1)
        .select(col("source"), explode(Text.shingles(col("text"), 3)).as("sh"))
      graft.streaming.Streams
        .replayKmvMaintenance(stream, "source", "sh", k = 64,
          statePartitions = Some(graft.streaming.Streams
            .adaptiveStatePartitions(s, Seq(in))))
        .orderBy("source")
    },
    // q141: fuzzy record linkage over the part-name vocabulary — every
    // name pair within edit distance 2, found by the q-gram count
    // filter + levenshtein rescore, never the all-pairs product. The
    // answer is vocabulary-bounded (the name domain is fixed while the
    // corpus grows), which is what makes entity resolution feasible at
    // 100 TB where content dedup (q24/q25) is corpus-bounded
    "q141_fuzzy_linkage" -> { (s, dir) =>
      graft.operators.Linkage
        .fuzzyNamePairs(t(s, dir, "part"), "p_name", maxDist = 2)
        .orderBy("name_a", "name_b")
    },
    // q142: exact-integer PageRank over the co-purchase graph — the
    // authority signal a curation mix weights by, as an ITERATIVE
    // operator (5 Pregel-style join+agg rounds, localCheckpoint per
    // round) whose integer recurrence both engines replay identically
    "q142_pagerank" -> { (s, dir) =>
      val edges = graft.operators.Graph
        .cooccurrenceEdges(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.operators.Graph
        .pageRankExact(edges, t(s, dir, "part"), "p_partkey", iterations = 5)
        .orderBy("p_partkey")
    },
    // q143: the information-density Pareto frontier — documents no
    // other doc beats on BOTH vocabulary richness (maximize) and
    // length (minimize); the staircase formulation over per-value
    // maxima + exclusive global running max, never the quadratic
    // NOT EXISTS the oracle replays
    "q143_skyline" -> { (s, dir) =>
      val dd = t(s, dir, "documents").select(
        col("doc_id"),
        Text.distinctTokenCount(col("text")).as("n_distinct"),
        col("n_chars"))
      graft.operators.Skyline
        .skyline2D(dd, "n_distinct", "n_chars", maximize1 = true, maximize2 = false)
        .orderBy("doc_id")
    },
    // q144: per-part triangle counts in the co-purchase graph — local
    // clustering via the degree-oriented wedge join (hub fan-out capped
    // at O(sqrt(|E|)), each triangle counted once at its min-key vertex)
    "q144_triangles" -> { (s, dir) =>
      val edges = graft.operators.Graph
        .cooccurrenceEdges(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.operators.Graph
        .triangleCounts(edges, t(s, dir, "part"), "p_partkey")
        .orderBy("p_partkey")
    },
    // q145: connected components by the ALTERNATING STAR algorithm on a
    // deliberately ADVERSARIAL-diameter graph — consecutive doc_ids
    // chained, cut where an md5 bit says so (expected run length 64),
    // so component diameters dwarf the round budget min-label
    // propagation (q62's clique-ish near-dup regime) could afford.
    // Star contraction converges in O(log² n) alternating rounds
    // regardless of diameter; the oracle recomputes the closure with a
    // recursive min-reachable-label query over the identical edge set.
    "q145_cc_star" -> { (s, dir) =>
      val ids = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id").isNotNull).distinct()
      val chain = ids
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
        .join(ids.select(col("doc_id").as("dst")), "dst")
        .where(
          Text.md5PrefixLong(
            concat(lit("cut:"), col("src").cast("string")), 13) % 64 =!= 0)
        .select("src", "dst")
      graft.operators.Graph
        .connectedComponentsStar(chain, t(s, dir, "documents"), "doc_id")
        .orderBy("doc_id")
    },
    // q146: Bloom-filter novelty gate for incremental ingest — the
    // standing corpus (doc_id % 17 ≠ 3) builds a bounded word table
    // (mBits/32 rows no matter the corpus size) over each document's
    // HEAD FINGERPRINT (first 8 tokens — the cheap prefix signal
    // near-dup families share); the batch probes it with two broadcast
    // joins + a row-local bit test. bloom_hit = 0 is GUARANTEED novel
    // (no false negatives — those docs skip the exact dedup path
    // entirely); seen_exact rides alongside so the filter's
    // deterministic false positives are visible in the artifact. Every
    // bit position is exact-integer md5 arithmetic, so the oracle
    // replays the filter — false positives included — bit for bit.
    "q146_bloom_novelty" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 17 =!= 3)
        .select(headFingerprint.as("head_fp"))
      val words = graft.operators.Bloom
        .bloomWords(corpus, "head_fp", mBits = 16384, salt = "blm")
      bloomNoveltyProbe(docs, corpus, words)
    },
    // q147: duplicated-PASSAGE spans (Lee et al., ACL 2022) — maximal
    // token runs whose 8-gram windows each recur in ≥ 2 distinct docs:
    // the boilerplate/quotation signal whole-document dedup cannot see.
    // Positional md5 fingerprints (fixed-width shuffle keys), distinct-
    // doc counting, then the gap-1 island merge per document.
    "q147_dup_passages" -> { (s, dir) =>
      graft.operators.Dedup
        .duplicatedPassages(t(s, dir, "documents"), "doc_id", "text", gramLen = 8)
    },
    // q148: EXACT set-similarity self-join by prefix filtering — q24's
    // brute-force answer with full recall, but candidates only through
    // each doc's ~(1−t) RAREST shingles plus a length filter, never the
    // all-shingle equi-join (whose hot boilerplate shingles are the
    // quadratic bomb) and never the df cap's recall trade (q40)
    "q148_simjoin_prefix" -> { (s, dir) =>
      graft.operators.Dedup
        .prefixFilterJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
    },
    // q149: deterministic random walks over the co-purchase graph — the
    // DeepWalk corpus-generation step as hash-selected walks (uniform
    // over salts, reproducible on any engine). Each step is one
    // edge-to-frontier join + a partial-aggregable min per root: no
    // per-node neighbor ranking, no windows, hubs cost their edge rows.
    "q149_random_walks" -> { (s, dir) =>
      val edges = graft.operators.Graph
        .cooccurrenceEdges(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.operators.Graph
        .randomWalks(edges, t(s, dir, "part"), "p_partkey", walkLen = 4, salt = "wk",
          // cooccurrenceEdges ends in distinct() — skip walkCore's
          // defensive re-dedup (one edge-scale shuffle per query)
          edgesDistinct = true)
    },
    // q150: product quantization + ADC retrieval — the MEMORY leg of the
    // ANN family (IVF prunes what to scan; PQ compresses what each row
    // costs: m codes instead of dim floats). Codebooks are per-subspace
    // k-means with id-seeded init and round-6-quantized state between
    // rounds, so both engines share the identical canonical codebook;
    // the query scores every vector by m distance-table lookups summed
    // in fixed subspace order.
    "q150_pq_adc" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqBuild(emb, "vec_id", "embedding", m = 4, k = 8, iters = 2)
      val codes = Similarity.pqCodes(emb, "vec_id", "embedding", cb, m = 4)
      Similarity.pqAdcTopK(
        codes, "vec_id", cb,
        emb.where(col("vec_id") === 0L).select("embedding"), "embedding",
        m = 4, topK = 20)
    },
    // q151: the Bloom gate MAINTAINED INCREMENTALLY from a stream —
    // bit_or union is exact, so a filter assembled from micro-batch
    // shards is row-identical to q146's from-scratch build and q146's
    // oracle gates the whole maintenance lifecycle by construction (the
    // q140 mergeable-sketch pattern; one bounded shard append per
    // batch, the corpus never rescanned).
    "q151_stream_bloom" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Files.createTempDirectory("graft_bloomq_stream").toString
      val in = s"$base/in"
      docs.where(col("doc_id") % 17 =!= 3)
        .select(headFingerprint.as("head_fp"))
        .repartition(4).write.parquet(in)
      val stream = graft.streaming.Streams
        .fileStream(s, in, s.read.parquet(in).schema, maxFilesPerTrigger = 1)
      val words = graft.streaming.Streams
        .replayBloomMaintenance(stream, "head_fp", mBits = 16384, salt = "blm",
          statePartitions = Some(graft.streaming.Streams
            .adaptiveStatePartitions(s, Seq(in))))
      bloomNoveltyProbe(docs, s.read.parquet(in), words)
    },
    // q152: IVF × PQ — the reference ANN architecture at 10⁹ vectors
    // (FAISS IVFADC): the coarse quantizer prunes WHAT to scan (only
    // probed buckets' postings files are read, q76's footer contract),
    // PQ codes compress what each candidate COSTS (m lookups, no
    // vector reads), and only the 40-deep ADC shortlist pays an exact
    // cosine against the source-of-truth table. The ADC ranking is
    // quantized cosine over the reconstruction norm (ivfPqTopK's one
    // ranking, closing the measured L2↔cosine mis-ranking). Index
    // rebuilt per run (scratch dir); oracle = q150's training replay
    // composed with q75's coarse CTEs verbatim.
    "q152_ann_ivfpq" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q152", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        m = 4, k = 8, indexPath = tmp, files = 8)
      Similarity.ivfPqTopK(
        s, tmp, "vec_id",
        emb.where(col("vec_id") === 0L).select("embedding"),
        m = 4, topK = 10, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
    },
    // q156: sparse TF-IDF cosine similarity self-join — embedding-free
    // near-dup in the classic IR vector space: rare-TERM overlap
    // regardless of order, the duplicate class shingles (order) and
    // embeddings (dense semantics) both miss. Exact-integer weights
    // under the deterministic log (the PMI/BM25 discipline composed);
    // the df cap is the explicit 100 TB knob bounding the per-term
    // pair fan-out, applied to the vector SPACE so cosine stays exact
    // over the pruned vocabulary.
    "q156_tfidf_cosine" -> { (s, dir) =>
      graft.operators.Invert.tfidfCosinePairs(
        t(s, dir, "documents"), "doc_id", "text",
        minSim = TfidfMinSim, maxDf = TfidfMaxDf,
        maxDfFrac = Some(TfidfMaxDfFrac), blocks = 16)
    },
    // q155: the IVF-PQ index MAINTENANCE lifecycle end to end (q78's
    // contract on the composed index): build on the even half with the
    // codebook trained on the DESIGNATED full sample (trainOn — the
    // training set is a deliberate choice, not whichever half arrived
    // first), append the odd half — coarse-assigned under the STORED
    // centroids and coded under the STORED codebook, staged-append
    // manifest protocol — compact, probe. Growing the index
    // incrementally may not change a single neighbor vs a full
    // rebuild, so q152's oracle gates it verbatim.
    "q155_ann_ivfpq_append" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q155", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqBuild(
        s, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        m = 4, k = 8, indexPath = tmp, files = 8, trainOn = Some(emb))
      Similarity.ivfPqAppend(
        s, emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", tmp, files = 4)
      Similarity.ivfCompact(s, tmp, targetFileBytes = 4L * 1024 * 1024)
      Similarity.ivfPqTopK(
        s, tmp, "vec_id",
        emb.where(col("vec_id") === 0L).select("embedding"),
        m = 4, topK = 10, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
    },
    // q153: the multi-walk ENSEMBLE — DeepWalk trains on γ walks per
    // root (10–80 in the paper), not one; the walk id joins the hash
    // input so the ensemble is numWalks independent draws in ONE plan
    // whose frontier key is (root, walk). Same per-step shape as q149
    // (one edge-to-frontier join + one partial-aggregable min), and
    // the oracle unrolls the identical wid-salted recurrence.
    "q153_walk_ensemble" -> { (s, dir) =>
      val edges = graft.operators.Graph
        .cooccurrenceEdges(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.operators.Graph
        .randomWalksEnsemble(edges, t(s, dir, "part"), "p_partkey",
          walkLen = 4, numWalks = 2, salt = "wk",
          // cooccurrenceEdges output is distinct — same skip as q149
          edgesDistinct = true)
    },
    // q154: the Bloom gate PAST the broadcast regime — mBits = 2³¹
    // exceeds bloomProbe's hard broadcast bound, so the word table is
    // probed with a co-partitioned shuffle join on word_idx instead
    // (2 shuffled rows per distinct key, filter size irrelevant). The
    // filter is the same pure function of the key set at any mBits, so
    // correctness is scale-free: a small corpus against a 2³¹-bit
    // filter exercises the identical join shape a 10⁹-key filter needs,
    // and the q146 oracle re-parameterized to the same mBits replays
    // it bit for bit (false positives included — far rarer here, the
    // filter being 2¹⁷× larger than q146's).
    "q154_bloom_sharded" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 17 =!= 3)
        .select(headFingerprint.as("head_fp"))
      val words = graft.operators.Bloom
        .bloomWordsLarge(corpus, "head_fp", mBits = BloomShardedMBits, salt = "blm")
      bloomNoveltyProbe(docs, corpus, words,
        probe = graft.operators.Bloom
          .bloomProbeSharded(_, _, _, mBits = BloomShardedMBits, salt = "blm"))
    },
    // q157: k-CORE membership by iterative peel — the spam/bot-ring
    // depth signal completing the graph family (authority = q142,
    // cohesion = q144, membership = q145, embeddings = q149/q153).
    // Fixture: NOT the co-purchase graph (quasi-random ⇒ sharp core
    // threshold — the peel at any interesting k removes nothing or
    // everything; measured in r15) but a deterministic clique-chain
    // over doc_ids: groups of 6 consecutive ids host an md5-sized
    // clique (3–6 members), chained tail-to-head — peel rounds stay
    // O(1) at ANY corpus size (cascades are clique-local), the 3-core
    // keeps exactly the size-≥4 cliques plus the chain edges between
    // surviving neighbors, and in-core degrees vary (3–7). The oracle
    // unrolls 8 peel rounds over the identical edge CTEs: rounds past
    // the fixpoint are no-ops (the peel is idempotent there), so the
    // bounded unroll IS the fixpoint the Spark side converges to.
    "q157_kcore" -> { (s, dir) =>
      graft.operators.Graph.kCoreMembers(kcoreFixtureEdges(s, dir), k = 3)
        .select(col("node").as("doc_id"), col("deg_in_core"))
        .orderBy("doc_id")
    },
    // q159: the full (capped) k-core DECOMPOSITION on the same
    // clique-chain graph — core(v) = the largest k whose peel v
    // survives, computed over a monotonically shrinking edge set (the
    // (k+1)-core ⊆ the k-core, so each phase peels the previous
    // phase's survivors). The oracle chains kMax=5 unrolled peel
    // phases (6 rounds each, fixpoint measured at ≤ 4) and takes each
    // vertex's max surviving k; the fixture's md5-sized cliques give
    // the full 1–5 core spectrum at every sf.
    "q159_core_numbers" -> { (s, dir) =>
      graft.operators.Graph.coreNumbers(kcoreFixtureEdges(s, dir), kMax = 5)
        .select(col("node").as("doc_id"), col("core"))
        .orderBy("doc_id")
    },
    // q158: SemDeDup riding the persisted IVF-PQ index — the
    // 10⁹-vector composition (q89 × q152): the quadratic within-cluster
    // pair scan runs over CODES + three stored scalars (never the
    // lake), a Cauchy–Schwarz upper bound decides non-dups outright,
    // and only boundary pairs pay an exact cosine against the lake.
    // The keep set is exactly q89's, so q89's oracle gates it verbatim
    // — the index must be built with q89's centroids (vec_id < 16) for
    // the within-cluster pair spaces to coincide.
    "q158_semdedup_indexed" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q158", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        m = 4, k = 8, indexPath = tmp, files = 8)
      Similarity.semDedupIndexed(
        s, emb, "vec_id", "embedding", tmp, threshold = 0.45)
    },
    // q160: HYBRID RETRIEVAL — BM25 (q107's index seek, same terms)
    // fused with brute-force cosine (q27's leg, vec_id 0 as the query
    // embedding) by reciprocal rank fusion. Both legs and the fused
    // floor-of-double contribution are replayed verbatim by the
    // oracle, which COMPOSES the q107 and q27 oracle texts as CTEs —
    // one generator each, so a leg cannot drift from its standalone
    // query.
    "q160_hybrid_rrf" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Invert.hybridRrfTopK(
        graft.operators.Invert.postingLists(docs, "doc_id", "text", blockDocs = 100L),
        graft.operators.Invert.docLengths(docs, "doc_id", "text"),
        Seq("customer", "vector", "stream"),
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L,
        k = RrfTopK, kPerLeg = RrfKPerLeg, rrfK = RrfK)
    },
    // q161: COUNT-MIN token-frequency sketch — built as the cell-wise
    // MERGE of two half-corpus sketches (the daily-rollup shape), so
    // the merge-equals-concat property is itself under the oracle
    // (which builds ONE sketch over the whole corpus). Probing every
    // vocabulary term against the exact counts puts the one-sided
    // guarantee in the output: overcount ≥ 0 on every row, and the
    // deliberately narrow width (31 terms into 32 buckets × 4 rows)
    // forces real collisions so the estimate is not trivially exact.
    "q161_count_min" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = docs.select(
        col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      val half = (r: org.apache.spark.sql.Column) =>
        Scale.countMinBuild(toks.where(r), col("term"), CmDepth, CmWidth)
      val sketch = Scale.countMinMerge(
        half(col("doc_id") % 2 === 0), half(col("doc_id") % 2 =!= 0))
      countMinReport(toks, sketch)
    },
    // q163: the SAME count-min report with the sketch maintained
    // INCREMENTALLY from a micro-batched file stream (per-batch shards
    // rolled up cell-wise — the q140/q151 mergeable-sketch lifecycle).
    // Counters sum exactly, so the streamed sketch is identical to
    // q161's batch build no matter how the stream was batched — ONE
    // oracle gates both faces.
    "q163_stream_countmin" -> { (s, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_cm_docs").toString
      val in = s"$base/in"
      t(s, dir, "documents").select("doc_id", "text")
        .repartition(4).write.parquet(in)
      val stream = graft.streaming.Streams
        .fileStream(s, in, s.read.parquet(in).schema, maxFilesPerTrigger = 1)
        .select(explode(Text.tokens(col("text"))).as("term"))
      val sketch = graft.streaming.Streams
        .replayCountMinMaintenance(stream, "term", CmDepth, CmWidth,
          statePartitions = Some(graft.streaming.Streams
            .adaptiveStatePartitions(s, Seq(in))))
      val toks = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("term"))
      countMinReport(toks, sketch)
    },
    // q164: q160's fusion with the dense leg riding the PERSISTED IVF
    // index (the production composition — index seek for BM25, index
    // probe for ANN, rank fusion) at the exhaustive nprobe where the
    // probe provably equals brute force (IvfIndexSpec "full probe
    // equals brute force"), so q160's oracle gates the whole physical
    // path verbatim — the q76/q108 persisted-lifecycle discipline
    // applied to retrieval fusion.
    "q164_hybrid_rrf_indexed" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q164", Seq("_fmerge"))
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        tmp, files = 8)
      graft.operators.Invert.hybridRrfFuseLegs(
        graft.operators.Invert.bm25TopK(
          graft.operators.Invert.postingLists(docs, "doc_id", "text", blockDocs = 100L),
          graft.operators.Invert.docLengths(docs, "doc_id", "text"),
          Seq("customer", "vector", "stream"), RrfKPerLeg),
        Similarity.ivfTopKIndexed(
          s, tmp, "vec_id", "embedding",
          emb.where(col("vec_id") === 0L).select("embedding"),
          k = RrfKPerLeg, nprobe = 16, excludeId = Some(0L)),
        "vec_id", k = RrfTopK, rrfK = RrfK)
    },
    // q165: HYPERLOGLOG distinct-text-per-source — the register twin of
    // q121's KMV face, built as a register-wise-max ROLLUP of two
    // half-corpus shards (merge ≡ union under the oracle, the q161
    // shape), exact distinct alongside. TWO legs so BOTH estimator
    // branches execute under the sf0.01 oracle, not just in specs:
    // per-source at m = 64 (≈25 distinct per source ≤ 5m/2 with empty
    // buckets → the LINEAR-COUNTING branch, a driver-literal ln table)
    // and one whole-corpus row at m = 16 (≈500 distinct ≫ 40 → the raw
    // harmonic-mean integer division).
    "q165_hll_distinct" -> { (s, dir) =>
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val half = (r: org.apache.spark.sql.Column) =>
        Scale.hllSketch(docs.where(r), Seq("source"), col("text"), HllM)
      val sketch = Scale.hllRollup(
        half(col("doc_id") % 2 === 0).unionByName(half(col("doc_id") % 2 =!= 0)),
        Seq("source"))
      hllReport(docs, sketch)
    },
    // q166: the SAME HLL report with the per-source m = 64 sketch
    // maintained INCREMENTALLY from a micro-batched file stream
    // (register-max per-batch shards — the q163 lifecycle applied to
    // the fourth mergeable sketch). Max is idempotent, so the streamed
    // registers are identical to the batch build no matter the
    // batching — q165's oracle gates the streamed face verbatim.
    "q166_stream_hll" -> { (s, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_hll_docs").toString
      val in = s"$base/in"
      t(s, dir, "documents").select("source", "text")
        .repartition(4).write.parquet(in)
      val stream = graft.streaming.Streams
        .fileStream(s, in, s.read.parquet(in).schema, maxFilesPerTrigger = 1)
      val sketch = graft.streaming.Streams
        .replayHllMaintenance(stream, "source", "text", HllM,
          statePartitions = Some(graft.streaming.Streams
            .adaptiveStatePartitions(s, Seq(in))))
      hllReport(t(s, dir, "documents").where(col("text").isNotNull), sketch)
    },
    // q168: PERSONALIZED PageRank on q142's co-purchase graph — rank
    // flows from a deterministic seed sliver (p_partkey % 37 = 0)
    // through the link structure: the seed-expansion signal ("trusted
    // relative to what we already have", vs q142's global authority).
    // Unreachable non-seeds report exactly 0. Oracle: the q142
    // recurrence unrolled with the seed-gated teleport term, same
    // CoPurchaseGraphCte text.
    "q168_ppr" -> { (s, dir) =>
      val parts = t(s, dir, "part")
      graft.operators.Graph.personalizedPageRankExact(
        graft.operators.Graph
          .cooccurrenceEdges(t(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        parts, "p_partkey",
        parts.where(col("p_partkey") % 37 === 0), "p_partkey",
        iterations = 5)
        .orderBy("p_partkey")
    },
    // q167: Newman MODULARITY of q162's LPA communities on the same
    // clique-chain graph — exact-integer per-community numerators
    // q_num = 4·m·e_c − d_c² over the common 4m² denominator, so "are
    // these communities denser than chance" is itself under the oracle
    // (which composes q162's unrolled LPA CTEs with the edge/degree
    // counting — one label text, the labels cannot drift).
    "q167_modularity" -> { (s, dir) =>
      val edges = kcoreFixtureEdges(s, dir)
      val labels = graft.operators.Graph.labelPropagation(edges, rounds = LpaRounds)
      graft.operators.Graph.modularityByCommunity(edges, labels)
    },
    // q162: synchronous min-tie LABEL PROPAGATION on the clique-chain
    // graph (q157's fixture — cliques are the planted communities, the
    // chain edges the weak links LPA must NOT merge across, unlike CC).
    // 3 fixed rounds, unrolled verbatim by the oracle.
    "q162_label_prop" -> { (s, dir) =>
      graft.operators.Graph.labelPropagation(kcoreFixtureEdges(s, dir), rounds = LpaRounds)
        .select(col("node").as("doc_id"), col("label"))
        .orderBy("doc_id")
    },
    // q169: the CURATION MIX — every per-document signal the engine
    // computes, joined into ONE keep/drop decision with a first-match
    // reason (the reference's driver lifecycle shape applied to
    // curation; see Curation.curationMix for the policy). Pure
    // interop: each signal frame is produced by its own already-oracled
    // operator (q63 survivors, q31 quality, q159 core numbers, q162
    // labels, q167 modularity, q168's PPR recurrence on the doc graph),
    // and the oracle composes those queries' CTE texts — one generator
    // per signal, so no signal can drift from its standalone face.
    "q169_curation_mix" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val ids = docs.select(col("doc_id")).where(col("doc_id").isNotNull).distinct()
      // the fixture edge build (doc scan + md5 membership + per-group
      // self-join) feeds FOUR consumers (core numbers, LPA, modularity,
      // PPR's undirected view), each of which pins only its own
      // canonicalized copy — pin the shared upstream once so the build
      // runs once, not four times (guide §2.4: remove repeated work
      // the per-operator checkpoints cannot see)
      val edges = Checkpoints.checkpoint(kcoreFixtureEdges(s, dir))
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val quality = docs.select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
      // the four signal subtrees below are INDEPENDENT iterative
      // pipelines (near-dup CC, core peel, LPA→modularity, PPR), each a
      // chain of many small jobs whose driver round-trips serialize —
      // built side by side (overlap independent jobs). Every
      // subtree's plan — and therefore the mix result — is unchanged;
      // only the submission order is concurrent.
      val (survivors, cores, labelsMod, ppr) = Concurrently { fork =>
        val (sv, cr, lm, pr) = signalSubtrees(fork, s, dir, docs, ids, edges, und)
        (sv(), cr(), lm(), pr())
      }
      val (labels, mod) = labelsMod
      graft.operators.Curation.curationMix(
        docs, "doc_id", survivors, quality,
        cores, labels.select(col("node").as("doc_id"), col("label")), mod, ppr,
        minQuality = MixMinQuality, minCore = MixMinCore,
        minRankMicro = MixMinRankMicro)
        .orderBy("doc_id")
    },
    // q170: WINDOWED count-min — "frequency in the last 7 days", the
    // freshness gate an all-time sketch cannot answer: one sketch shard
    // per DAY (cells are plain counters, so the rollup of the window's
    // shards equals the sketch built over exactly the window's rows —
    // the q161 merge property applied to a time filter), probed with
    // every user active in the window, exact window counts alongside so
    // the one-sided guarantee lands in the output. The oracle builds
    // ONE sketch over the window directly — window ≡ concat-of-days is
    // the property under the hash gate.
    "q170_countmin_window" -> { (s, dir) =>
      val ev = RelationalQueries.events(s, dir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      val shards = Scale.countMinSharded(
        ev, col("day"), "day", col("user_id"), CmDepth, CmWindowWidth)
      val sketch = Scale.countMinWindow(shards, col("day") >= CmWindowFrom)
      countMinWindowReport(ev.where(col("day") >= CmWindowFrom), sketch)
    },
    // q171: the SAME windowed report with the day shards maintained
    // INCREMENTALLY from a micro-batched stream of the events table
    // (per-(batch, day) shards rolled up by day — the q163 lifecycle
    // with the shard key preserved). Cell sums are associative, so the
    // streamed day shards are identical to q170's batch build no matter
    // the batching — ONE oracle gates both faces.
    "q171_stream_countmin_window" -> { (s, dir) =>
      val ev = RelationalQueries.eventsStream(s, dir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      val shards = graft.streaming.Streams.replayCountMinSharded(
        ev, "day", "user_id", CmDepth, CmWindowWidth,
        statePartitions = eventsStateParts(s, dir))
      val sketch = Scale.countMinWindow(shards, col("day") >= CmWindowFrom)
      val evB = RelationalQueries.events(s, dir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      countMinWindowReport(evB.where(col("day") >= CmWindowFrom), sketch)
    },
    // q172: the iterative-graph REBUILD lifecycle end to end — the
    // ivfPqDriftReport idea applied to a cached PageRank (GraphSpec
    // pins the report's mechanics; this pins the LIFECYCLE under the
    // oracle): ranks exist for the base co-purchase graph (orders with
    // l_orderkey % 7 ≠ 0), an edge batch lands (the % 7 = 0 orders),
    // graphDriftReport measures the touched-plus-1-hop fraction
    // WITHOUT recomputing anything, and the threshold decides — rebuild
    // ⇒ recompute on the grown (set-union) graph, else serve the cached
    // ranks. Exactly ONE PageRank runs either way (the cached result's
    // vertex universe is the part table by pageRankExact's contract, so
    // the drift probe needs no rank evaluation). Every output row
    // carries the drift row, so the DECISION is under the hash gate:
    // the fixture's batch touches far more than the 2% threshold at
    // every sf, the oracle ranks the grown graph — and if the fixture
    // ever drifted below threshold, the Spark side would serve base
    // ranks and the gate would catch it loudly.
    "q172_graph_drift" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val parts = t(s, dir, "part")
      // Drift probe at ITEM scale — no edge set is ever materialized
      // for the DECISION: the r17 tagged-edge probe pinned the
      // pair-scale self-join output (239M rows at sf10) and measured
      // 416 s clean-host / OOM'd its second pass at 48g.
      // cooccurrenceDriftReport derives touched/ring from group
      // membership in item-scale joins, set-equal to graphDriftReport
      // over the tagged slices (GraphSpec pins the equality), so the
      // pair-scale build is paid exactly ONCE — inside whichever
      // PageRank branch the decision takes, the q142 shape.
      val (rep, capped) = graft.operators.Graph.cooccurrenceDriftProbe(
        li, "l_orderkey", "l_partkey", col("l_orderkey") % 7 === 0,
        parts.select("p_partkey"), "p_partkey", DriftThresholdMicro)
      val d = rep.head()
      // grown graph = cooccurrenceEdges over ALL orders: each order is
      // wholly inside one slice and the cap is per order, so this is
      // row-identical to base ∪ batch DISTINCT without paying the
      // union's extra full-edge shuffle. Either branch's edge set is
      // built from the probe's PINNED capped membership (the modulo tag
      // is total, so the grown face applies — GraphSpec pins the
      // row-equivalence to cooccurrenceEdges): the probe already paid
      // the lineitem scan, the (order, part) distinct and the sizing
      // aggregation, and re-running cooccurrenceEdges would pay all
      // three again just to reach the same self-join.
      val ranks = graft.operators.Graph.pageRankExact(
        graft.operators.Graph.edgesFromDriftProbe(
          capped, if (d.getBoolean(3)) None else Some(false)),
        parts, "p_partkey", iterations = 5)
      ranks.select(col("p_partkey"), col("rank_micro"),
        lit(d.getLong(0)).as("n_universe"), lit(d.getLong(1)).as("n_affected"),
        lit(d.getLong(2)).as("affected_micro"), lit(d.getBoolean(3)).as("rebuild"))
        .orderBy("p_partkey")
    },
    // q175: the q172 rebuild lifecycle governing a CACHED PPR result —
    // graphDriftReport is algorithm-agnostic (any cached iterative
    // output over the same graph goes stale the same way: PageRank,
    // PPR, core numbers, communities), and this puts a SECOND cached
    // algorithm under the hash gate: the same item-scale drift probe
    // (cooccurrenceDriftReport — one decision text with q172), then
    // exactly one seed-gated PPR on whichever graph the decision
    // selects. The oracle composes the SHARED DriftCtes with q168's
    // pprIterCtes — neither the lifecycle arithmetic nor the teleport
    // recurrence can drift from the queries they gate.
    "q175_ppr_drift" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val parts = t(s, dir, "part")
      val (rep, capped) = graft.operators.Graph.cooccurrenceDriftProbe(
        li, "l_orderkey", "l_partkey", col("l_orderkey") % 7 === 0,
        parts.select("p_partkey"), "p_partkey", DriftThresholdMicro)
      val d = rep.head()
      // decision edges from the probe's pinned membership — the q172
      // reuse (one corpus scan for probe AND edges, not two)
      val edges = graft.operators.Graph.edgesFromDriftProbe(
        capped, if (d.getBoolean(3)) None else Some(false))
      graft.operators.Graph.personalizedPageRankExact(
        edges, parts, "p_partkey",
        parts.where(col("p_partkey") % 37 === 0), "p_partkey", iterations = 5)
        .select(col("p_partkey"), col("rank_micro"),
          lit(d.getLong(0)).as("n_universe"), lit(d.getLong(1)).as("n_affected"),
          lit(d.getLong(2)).as("affected_micro"), lit(d.getBoolean(3)).as("rebuild"))
        .orderBy("p_partkey")
    },
    // q173: q169's curation mix EXTENDED with the sixth fail-closed
    // gate a production mix needs — "seen k× in the last N days": the
    // q170 windowed count-min lifecycle over head FINGERPRINTS (ingest
    // day = doc_id % 30, day shards rolled up to the 7-day window),
    // probed per document and joined in as the `overexposed` reason.
    // The estimate's one-sided guarantee makes a PASS sound (est ≥
    // true, so est < cap ⇒ truly under the cap); a missing fingerprint
    // has no witness and drops. The five shared gates and their oracle
    // CTEs are q169's verbatim (one generator), so the extension
    // cannot drift the base policy; the oracle builds ONE sketch over
    // exactly the window's rows, putting the shard-concat property
    // under this hash gate too.
    "q173_curation_fresh" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val ids = docs.select(col("doc_id")).where(col("doc_id").isNotNull).distinct()
      // shared-fixture pin, same rationale as q169
      val edges = Checkpoints.checkpoint(kcoreFixtureEdges(s, dir))
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val quality = docs.select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
      // same concurrent submission as q169 (guide §2.6), with the
      // freshness-sketch chain as the fifth independent subtree
      val (survivors, cores, labelsMod, ppr, fresh) = Concurrently { fork =>
        val (sv, cr, lm, pr) = signalSubtrees(fork, s, dir, docs, ids, edges, und)
        val fr = fork {
          val fp = docs.select(
            col("doc_id"), (col("doc_id") % 30).as("iday"), headFingerprint.as("fp"))
          val fpnn = fp.where(col("fp").isNotNull)
          val shards = Scale.countMinSharded(
            fpnn, col("iday"), "iday", col("fp"), CmDepth, FreshWidth)
          val sketch = Scale.countMinWindow(shards, col("iday") >= FreshFromDay)
          val est = Scale.countMinEstimate(fpnn, col("fp"), sketch, CmDepth, FreshWidth)
          fpnn
            .join(est, fpnn("fp") === est("key"))
            .select(fpnn("doc_id"), col("cm_est").as("fresh_cnt"))
        }
        (sv(), cr(), lm(), pr(), fr())
      }
      val (labels, mod) = labelsMod
      graft.operators.Curation.curationMix(
        docs, "doc_id", survivors, quality,
        cores, labels.select(col("node").as("doc_id"), col("label")), mod, ppr,
        minQuality = MixMinQuality, minCore = MixMinCore,
        minRankMicro = MixMinRankMicro,
        freshness = Some(fresh), maxFreshCount = MixMaxFresh)
        .orderBy("doc_id")
    },
    // q174: the IVF-PQ BATCH probe — q152's index swept by a query SET
    // in one pass (per-query bucket ranking, ONE footer-pruned read
    // over the probed-bucket union, distributed dot-table ADC with the
    // fixed-order sum, per-query tie-inclusive cut, one re-rank join).
    // The oracle replays the whole batch path per query — same coarse
    // CTEs as q75/q152, same PQ training chain, per-query dt/cut/top-k
    // — so the batch machinery (windows, dt join, union read) is under
    // the hash gate, not just spec-gated against the single face.
    "q174_ann_ivfpq_batch" -> { (s, dir) =>
      val tmp = freshScratch(s, dir, "q174", Seq("_fmerge"))
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqBuild(
        s, emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 16), "vec_id", "embedding",
        m = 4, k = 8, indexPath = tmp, files = 8)
      Similarity.ivfPqTopKBatch(
        s, tmp, "vec_id",
        emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding",
        m = 4, topK = 10, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding", excludeSelf = true)
    }
  )

  /** q172's rebuild threshold in micro-units (2%), shared with the
    * oracle generator (the TfidfMaxDf discipline).
    */
  private val DriftThresholdMicro: Long = 20000L

  /** q160's fusion knobs, shared between the query closure and the
    * oracle generator (the TfidfMaxDf discipline — declared with the
    * other pre-map constants so generator forcing order cannot zero
    * them). 10¹²-scaled floor contributions: see
    * [[graft.operators.Invert.rrfFuse]].
    */
  private val RrfTopK: Int = 15
  private val RrfKPerLeg: Int = 20
  private val RrfK: Int = 60

  /** q161/q163's sketch knobs (shared with the oracle generator).
    * Width 32 on a 31-term vocabulary is DELIBERATELY colliding — see
    * the q161 comment.
    */
  private val CmDepth: Int = 4
  private val CmWidth: Long = 32L

  /** q170/q171's window knobs (shared with the oracle generator): the
    * events fixture spans 2024-01-01..01-30 at every sf, so the last-7-
    * days window is a fixed literal; width 64 keeps real collisions at
    * the fixture's user cardinality (the q161 discipline).
    */
  private val CmWindowWidth: Long = 64L
  private val CmWindowFrom: String = "2024-01-24"

  /** q169's policy knobs (shared with the oracle generator — the
    * TfidfMaxDf discipline). See Curation.curationMix for the gate
    * semantics and precedence.
    */
  private val MixMinQuality: Double = 0.37 // corpus median ≈ 0.378 — the gate splits, not rubber-stamps
  private val MixMinCore: Long = 3L
  private val MixMinRankMicro: Long = 1000L

  /** q173's freshness-gate knobs (shared with the oracle generator):
    * ingest day is the deterministic doc_id % 30 fixture convention
    * (documents carry no timestamp), the window is days 23..29 ("the
    * last 7 days"), width 64 keeps real collisions at the fixture's
    * fingerprint cardinality (the q161 discipline), and the cap fires
    * on any head fingerprint seen ≥ 2× in the window — tight enough
    * that the dup families' shared heads trip it at sf0.001.
    */
  private val FreshFromDay: Long = 23L
  private val FreshWidth: Long = 64L
  private val MixMaxFresh: Long = 2L

  /** q170/q171's shared report tail: probe every user active in the
    * window against the windowed sketch, exact window counts alongside
    * (the countMinReport shape keyed by user).
    */
  private def countMinWindowReport(winEv: DataFrame, sketch: DataFrame): DataFrame = {
    val est = Scale.countMinEstimate(
      winEv, col("user_id"), sketch, CmDepth, CmWindowWidth)
    val tru = winEv.groupBy(col("user_id").cast("string").as("user_key"))
      .agg(count(lit(1)).as("true_cnt"))
    est.join(tru, est("key") === tru("user_key"))
      .select(
        col("user_key"), col("true_cnt"), col("cm_est"),
        (col("cm_est") - col("true_cnt")).as("overcount"))
      .orderBy("user_key")
  }

  /** q161/q163's shared report tail: probe every vocabulary term
    * against the sketch, exact counts alongside — `overcount ≥ 0` (the
    * one-sided CM guarantee) lands in the output.
    */
  private def countMinReport(toks: DataFrame, sketch: DataFrame): DataFrame = {
    val est = Scale.countMinEstimate(toks, col("term"), sketch, CmDepth, CmWidth)
    val tru = toks.groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
    est.join(tru, est("key") === tru("term"))
      .select(
        col("term"), col("true_cnt"), col("cm_est"),
        (col("cm_est") - col("true_cnt")).as("overcount"))
      .orderBy("term")
  }

  /** q162's fixed round count (shared with the oracle's unroll). */
  private val LpaRounds: Int = 3

  /** q165's register counts (shared with the oracle generator): m = 64
    * for the per-source leg, m = 16 for the whole-corpus leg whose
    * cardinality forces the raw harmonic branch at every sf.
    */
  private val HllM: Int = 64
  private val HllMGlobal: Int = 16

  /** q165/q166's shared report tail: per-source estimates from the
    * supplied m = 64 sketch (batch-rollup-built or stream-maintained)
    * + the whole-corpus m = 16 row whose cardinality forces the raw
    * harmonic branch; exact distincts alongside.
    */
  private def hllReport(docs: DataFrame, sketch: DataFrame): DataFrame = {
    val exact = docs.groupBy("source")
      .agg(countDistinct(col("text")).as("exact_distinct"))
    val perSource = Scale.hllEstimate(sketch, Seq("source"), HllM)
      .join(exact, "source")
      .select(
        col("source"), col("v_zero"), col("s_scaled"),
        col("est_distinct"), col("exact_distinct"))
    val tagged = docs.withColumn("_g", lit("_ALL_m16"))
    val globalRow = Scale
      .hllEstimate(Scale.hllSketch(tagged, Seq("_g"), col("text"), HllMGlobal),
        Seq("_g"), HllMGlobal)
      .crossJoin(docs.agg(countDistinct(col("text")).as("exact_distinct")))
      .select(
        col("_g").as("source"), col("v_zero"), col("s_scaled"),
        col("est_distinct"), col("exact_distinct"))
    perSource.unionByName(globalRow).orderBy("source")
  }

  /** q154's filter size: deliberately past [[graft.operators.Bloom.bloomProbe]]'s
    * 2³⁰ broadcast bound so the query can only run through the sharded
    * probe path. Shared with the oracle generator so the two cannot
    * drift.
    */
  private val BloomShardedMBits: Long = 1L << 31

  /** Head fingerprint (first 8 tokens) — the cheap prefix key the Bloom
    * novelty faces (q146/q151) share.
    */
  private def headFingerprint: org.apache.spark.sql.Column =
    array_join(slice(Text.tokens(col("text")), 1, 8), " ")

  /** Shared probe tail of q146/q151/q154: batch = doc_id % 17 = 3,
    * Bloom hit flag plus the exact digest-keyed ground truth alongside
    * (the join ships 32-char hashes, never the fingerprints). `probe`
    * abstracts the join strategy: q146/q151 broadcast the bounded word
    * table ([[graft.operators.Bloom.bloomProbe]]), q154 co-partitions
    * against a filter past the broadcast regime
    * ([[graft.operators.Bloom.bloomProbeSharded]]).
    */
  private def bloomNoveltyProbe(
      docs: DataFrame,
      corpusFps: DataFrame,
      words: DataFrame,
      probe: (DataFrame, String, DataFrame) => DataFrame =
        graft.operators.Bloom.bloomProbe(_, _, _, mBits = 16384, salt = "blm")
  ): DataFrame = {
    val batch = docs.where(col("doc_id") % 17 === 3)
      .select(col("doc_id"), headFingerprint.as("head_fp"))
    val probed = probe(batch, "head_fp", words)
    val seen = corpusFps
      .where(col("head_fp").isNotNull)
      .select(md5(col("head_fp")).as("_th")).distinct()
      .withColumn("_seen", lit(1L))
    probed
      .withColumn("_th", md5(col("head_fp")))
      .join(seen, Seq("_th"), "left")
      .select(
        col("doc_id"), col("bloom_hit"),
        coalesce(col("_seen"), lit(0L)).as("seen_exact"))
      .orderBy("doc_id")
  }

  // Tokenize exactly like Spark-side Text.tokens: trim, split on
  // whitespace RUNS, and drop empty tokens (split of an empty string
  // yields [''] on both engines otherwise — a phantom token).
  private val TokensSql =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"

  // Shared by q105 (in-memory index) and q108 (persisted lifecycle):
  // adjacent-token ground truth for the "table table" phrase.
  private lazy val PhraseSearchOracleSql =
    s"""WITH t2 AS (SELECT doc_id, $TokensSql AS toks FROM documents),
       |tp AS (SELECT doc_id, CAST(u.i AS INT) - 1 AS pos, toks[CAST(u.i AS INT)] AS term
       |       FROM t2, UNNEST(range(1, len(toks) + 1)) AS u(i)),
       |m AS (SELECT a.doc_id, a.pos AS start
       |      FROM tp a JOIN tp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |      WHERE a.term = 'table' AND b.term = 'table')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(min(start) AS BIGINT) AS first_match_pos
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // q97/q98 shared CTE bodies: q46's exact quantization, the md5("i:j")
  // parity sign matrix (64 x 16), and the relational projection
  // y_j = sum_i codes_i * s_ij — all-BIGINT, order-free.
  private val ProjCodesSql =
    """d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |       FROM embeddings),
      |s AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM d),
      |c AS (SELECT vec_id,
      |        CASE WHEN mx = mn THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |             ELSE list_transform(v,
      |                    x -> CAST(round((x - mn) / ((mx - mn) / 255.0)) AS BIGINT))
      |        END AS codes
      |      FROM s)""".stripMargin
  private val ProjSignsSql =
    """sg AS (SELECT i.i, j.j,
      |         CASE WHEN (strpos('0123456789abcdef',
      |                           substring(md5(CAST(i.i AS VARCHAR) || ':' ||
      |                                         CAST(j.j AS VARCHAR)), 1, 1)) - 1) % 2 = 0
      |              THEN 1 ELSE -1 END AS s
      |       FROM UNNEST(range(0, 64)) AS i(i), UNNEST(range(0, 16)) AS j(j))""".stripMargin
  private val ProjSql =
    """u AS (SELECT vec_id, CAST(p AS INT) - 1 AS i,
      |             2 * codes[CAST(p AS INT)] - 255 AS cv
      |      FROM c, UNNEST(range(1, len(codes) + 1)) AS t(p)),
      |yj AS (SELECT u.vec_id, sg.j, CAST(sum(u.cv * sg.s) AS BIGINT) AS y
      |       FROM u JOIN sg ON sg.i = u.i GROUP BY u.vec_id, sg.j),
      |y AS (SELECT vec_id, list(y ORDER BY j) AS proj FROM yj GROUP BY vec_id)""".stripMargin
  private val StopFilterSql =
    s"list_filter($TokensSql, x -> x IN ('the', 'a', 'and', 'of', 'to'))"

  // Shared CTE fragments for the word-trigram dedup oracles (n = 3, the
  // corpus setting): distinct shingles per doc + per-doc shingle counts.
  private val ShinglesCte =
    """tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** Frequency-capped candidate generation (cap = 5 docs per shingle):
    * ONE text shared by the q40 oracle and [[CappedClosureCte]], so the
    * cap can never drift between the scored-pairs query and the
    * cluster/survivor queries that are defined as "q40's pairs, closed".
    */
  private val CappedCandCte =
    """rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 5),
      |capped AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare r ON r.shingle = s.shingle),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM capped a JOIN capped b
      |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id)""".stripMargin

  /** Capped candidate generation (q40's semantics: shingles in > 5 docs
    * excluded from candidates, exact-Jaccard rescore over FULL shingle
    * sets) feeding the recursive transitive closure — the shared oracle
    * body of q62 (cluster labels) and q63 (survivors). Ends at `reach`;
    * append the final SELECT (and any trailing CTEs) per query.
    */
  private val CappedClosureCte =
    s"""$CappedCandCte,
      |common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
      |           FROM cand c
      |           JOIN sh a ON a.doc_id = c.doc_a
      |           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |           GROUP BY c.doc_a, c.doc_b),
      |pairs AS (SELECT m.doc_a, m.doc_b FROM common m
      |          JOIN cnt ca ON ca.doc_id = m.doc_a
      |          JOIN cnt cb ON cb.doc_id = m.doc_b
      |          WHERE CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common) >= 0.8),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |reach(node, r) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.node = e.dst
      |)""".stripMargin

  /** q63's loser set as a composable CTE chain (shingles → capped
    * closure → losers) — the caller prepends WITH RECURSIVE. ONE text
    * shared by q63 and q169's `duplicate` gate, so the survivor
    * definition cannot drift between the standalone and composed faces.
    */
  private lazy val SurvivorCtes =
    s"""$ShinglesCte,
       |$CappedClosureCte,
       |losers AS (SELECT node FROM reach GROUP BY node HAVING node <> min(r))""".stripMargin

  /** q31's quality expression — ONE text shared by q31 and q169's
    * `low_quality` gate.
    */
  private lazy val QualityExprSql =
    s"""round(0.5 * least(1.0, len($TokensSql) / 200.0)
       |      + 0.5 * (CAST(len(list_distinct($TokensSql)) AS DOUBLE) / len($TokensSql)),
       |    6)""".stripMargin

  // Exact-Jaccard rescore tail over a `cand(doc_a, doc_b)` CTE.
  private val RescoreSql =
    """common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
      |           FROM cand c
      |           JOIN sh a ON a.doc_id = c.doc_a
      |           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |           GROUP BY c.doc_a, c.doc_b)
      |SELECT m.doc_a, m.doc_b,
      |  round(CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common), 6) AS jaccard
      |FROM common m
      |JOIN cnt ca ON ca.doc_id = m.doc_a
      |JOIN cnt cb ON cb.doc_id = m.doc_b
      |WHERE CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Brute-force exact n-gram Jaccard at t = 0.8 — the ground truth
    * shared by q24 (the brute-force generator itself) and q148 (the
    * prefix-filter join, value-identical by the no-false-negative
    * theorem): one text, so the two can never drift.
    */
  private lazy val NgramJaccardGroundTruthSql =
    """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id)
      |SELECT p.doc_a, p.doc_b,
      |  round(CAST(p.common AS DOUBLE) / (ca.n + cb.n - p.common), 6) AS jaccard
      |FROM pairs p
      |JOIN cnt ca ON ca.doc_id = p.doc_a
      |JOIN cnt cb ON cb.doc_id = p.doc_b
      |WHERE CAST(p.common AS DOUBLE) / (ca.n + cb.n - p.common) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** md5 MinHash+LSH banding + exact rescore, DuckDB-side — the oracle
    * of q41, and (because the rescore leaves only banding misses as a
    * possible divergence, and the deterministic corpora have none) of
    * its xxhash64 performance twin q25 as well.
    */
  private val MinhashMd5OracleSql =
    s"""WITH $ShinglesCte,
       |mh AS (SELECT doc_id, CAST(t.k AS INT) AS k,
       |              min(md5(shingle || ':' || CAST(t.k AS VARCHAR))) AS h
       |       FROM sh, UNNEST(range(0, 16)) AS t(k) GROUP BY doc_id, t.k),
       |bands AS (SELECT doc_id, k // 2 AS band,
       |                 md5(string_agg(h, '|' ORDER BY k)) AS bucket
       |          FROM mh GROUP BY doc_id, k // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |$RescoreSql""".stripMargin

  val oracle: Map[String, String] = Map(
    "q23_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q24_dedup_ngram_jaccard" -> NgramJaccardGroundTruthSql,
    // q148: the prefix filter computes the IDENTICAL answer with no
    // false negatives by theorem, so the brute-force ground-truth SQL
    // gates it verbatim — any candidate miss is a hash mismatch by
    // construction (the q130/q108 shared-oracle pattern)
    "q148_simjoin_prefix" -> NgramJaccardGroundTruthSql,
    "q27_knn_cosine" -> knnCosineSql(20),
    // Full ANN pipeline replicated: the LCG plane coefficients are pure
    // integer arithmetic, bucket = sign bits of zip-unnest dot products
    // (the q27-proven bit-identical summation form), candidates share any
    // table's bucket with the query, exact cosine re-rank.
    "q28_ann_lsh" ->
      """WITH pl AS (
        |  SELECT t.t, p.p, d.d,
        |    (CAST(((2246822519 * t.t + 1315423911 * p.p + 2654435761 * d.d + 97531)
        |           & 4294967295) AS DOUBLE) / 4294967295.0) * 2.0 - 1.0 AS coef
        |  FROM UNNEST(range(0, 4)) AS t(t), UNNEST(range(0, 8)) AS p(p),
        |       UNNEST(range(0, 64)) AS d(d)),
        |pll AS (SELECT t, p, list(coef ORDER BY d) AS plane FROM pl GROUP BY t, p),
        |dots AS (SELECT e.vec_id, q.t, q.p,
        |    (SELECT sum(CAST(x AS DOUBLE) * y)
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(q.plane) AS y) z) AS dot
        |  FROM embeddings e, pll q),
        |buckets AS (SELECT vec_id, t,
        |    CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
        |             ELSE 0 END) AS BIGINT) AS bkt
        |  FROM dots GROUP BY vec_id, t),
        |qb AS (SELECT t, bkt FROM buckets WHERE vec_id = 0),
        |cand AS (SELECT DISTINCT b.vec_id FROM buckets b
        |         JOIN qb ON b.t = qb.t AND b.bkt = qb.bkt WHERE b.vec_id <> 0),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sc AS (SELECT e.vec_id,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x, unnest(qv.qe) AS y) z) AS dot,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
        |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(qv.qe) AS y) z) AS n2b
        | FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id, qv)
        |SELECT vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS cos_sim
        |FROM sc WHERE n2a > 0 AND n2b > 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q29_text_stats" ->
      s"""SELECT doc_id,
         |  len($TokensSql) AS n_tokens,
         |  len(list_distinct($TokensSql)) AS n_distinct,
         |  len($StopFilterSql) AS n_stop,
         |  round(CAST(len($StopFilterSql) AS DOUBLE) / len($TokensSql), 6) AS stop_ratio,
         |  n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q30_langid" ->
      s"""SELECT CASE
         |    WHEN CAST(len($StopFilterSql) AS DOUBLE) / len($TokensSql) >= 0.1 THEN 'en_like'
         |    WHEN len($TokensSql) < 5 THEN 'short'
         |    ELSE 'other' END AS lang_pred,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY lang_pred""".stripMargin,
    "q31_quality_score" ->
      s"""SELECT doc_id, $QualityExprSql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q32_fingerprint" ->
      s"""SELECT md5(array_to_string(list_sort($TokensSql), ' ')) AS fp,
         |  min(doc_id) AS keep_id, count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q33_embedding_neardup" ->
      """WITH n AS (SELECT vec_id, label, embedding,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |   FROM (SELECT unnest(embedding) AS x) z) AS n2 FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z)
        |    / (sqrt(a.n2) * sqrt(b.n2)) AS cs
        | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p
        |WHERE cs >= 0.45 ORDER BY id_a, id_b""".stripMargin,
    "q36_subword_count" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q40_dedup_jaccard_capped" ->
      s"""WITH $ShinglesCte,
         |$CappedCandCte,
         |$RescoreSql""".stripMargin,
    "q41_dedup_minhash_md5" -> MinhashMd5OracleSql,
    // q25 runs the xxhash64 PERFORMANCE banding, which DuckDB cannot
    // replicate hash-for-hash — but the exact-Jaccard rescore removes
    // every banding false positive, so the two variants can only differ
    // by a banding MISS, and on the deterministic test corpora they
    // never do (verified at sf0.001/0.01/0.1; DedupSpec proves set
    // equality on its fixtures). The md5-twin's SQL is therefore a true
    // oracle of q25's output too — a full hash-match gate instead of
    // the weaker rows-only check.
    "q25_dedup_minhash_lsh" -> MinhashMd5OracleSql,
    "q42_dedup_simhash_md5" ->
      """WITH tokd AS (SELECT DISTINCT doc_id, tok FROM (
        |        SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok
        |        FROM documents)),
        |hv AS (SELECT doc_id, tok,
        |         CAST(sum((CAST(strpos('0123456789abcdef',
        |                               substring(md5(tok), CAST(p AS INT), 1)) - 1 AS BIGINT))
        |                  << (CAST(4 * (15 - p) AS INT))) AS BIGINT) AS h
        |       FROM tokd, UNNEST(range(1, 16)) AS t(p)
        |       GROUP BY doc_id, tok),
        |bits AS (SELECT doc_id, CAST(b AS INT) AS bb,
        |           sum(((h >> CAST(b AS INT)) & 1) * 2 - 1) AS cnt
        |         FROM hv, UNNEST(range(0, 60)) AS t(b) GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << bb)
        |                        ELSE 0 END) AS BIGINT) AS simhash
        |        FROM bits GROUP BY doc_id)
        |SELECT simhash, min(doc_id) AS keep_id, count(*) AS n_members
        |FROM sig GROUP BY simhash HAVING count(*) >= 2 ORDER BY keep_id""".stripMargin,
    "q43_array_funcs" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n, w[1] AS first_tok, w[-1] AS last_tok,
        |  list_contains(w, 'the') AS has_the,
        |  array_to_string(w[1:3], '-') AS first3,
        |  CAST(len(list_filter(list_distinct(w), x -> x IN ('the', 'a', 'of'))) AS BIGINT)
        |    AS n_stop_kinds,
        |  list_sort(w)[1] AS min_tok
        |FROM tok ORDER BY doc_id""".stripMargin,
    "q63_dedup_survivors" ->
      s"""WITH RECURSIVE $SurvivorCtes
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // q117: q63's clusters with the quality-preferring election —
    // per-label argmax by (n_chars desc, node)
    "q117_dedup_keep_best" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$CappedClosureCte,
         |lab AS (SELECT node, min(r) AS label FROM reach GROUP BY node),
         |mem AS (SELECT l.node, l.label, d.n_chars FROM lab l
         |        JOIN documents d ON d.doc_id = l.node),
         |win AS (SELECT node FROM (
         |          SELECT node, row_number() OVER (
         |            PARTITION BY label ORDER BY n_chars DESC, node) AS rn
         |          FROM mem) WHERE rn = 1),
         |losers AS (SELECT node FROM mem
         |           WHERE node NOT IN (SELECT node FROM win))
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin,
    "q69_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_keys FROM c)
        |SELECT c.user_id, CAST(c.n_rows AS BIGINT) AS n_rows,
        |  round(CAST(c.n_rows AS DOUBLE) / t.total, 6) AS share,
        |  round(CAST(c.n_rows AS DOUBLE) * t.n_keys / t.total, 6) AS skew_vs_uniform
        |FROM c, t ORDER BY n_rows DESC, c.user_id LIMIT 10""".stripMargin,
    "q65_decontaminate" ->
      s"""WITH $ShinglesCte,
         |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20),
         |be AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |c AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id),
         |ov AS (SELECT t.doc_id, count(*) AS n_ov
         |       FROM tr t JOIN be b ON b.shingle = t.shingle GROUP BY t.doc_id)
         |SELECT c.doc_id, CAST(c.n AS BIGINT) AS n_sh,
         |  CAST(coalesce(o.n_ov, 0) AS BIGINT) AS n_overlap,
         |  round(CAST(coalesce(o.n_ov, 0) AS DOUBLE) / c.n, 6) AS overlap_ratio,
         |  round(CAST(coalesce(o.n_ov, 0) AS DOUBLE) / c.n, 6) >= 0.5 AS contaminated
         |FROM c LEFT JOIN ov o ON o.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "q66_domain_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY n_chars DESC, doc_id) AS rn
        |           FROM documents)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "q67_vocab" ->
      """WITH toks AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok
        |              FROM documents),
        |c AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok HAVING count(*) >= 10)
        |SELECT tok, CAST(n AS BIGINT) AS n,
        |  CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS token_id
        |FROM c ORDER BY token_id""".stripMargin,
    "q68_repetition" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents),
        |tri AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |        FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
        |g AS (SELECT doc_id, gram, count(*) AS c FROM tri GROUP BY doc_id, gram)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, CAST(max(c) AS BIGINT) AS max_rep,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS rep_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q64_dedup_scale_path" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |mh AS (SELECT doc_id, CAST(t.k AS INT) AS k,
         |              min(md5(shingle || ':' || CAST(t.k AS VARCHAR))) AS h
         |       FROM sh, UNNEST(range(0, 16)) AS t(k) GROUP BY doc_id, t.k),
         |bands AS (SELECT doc_id, k // 2 AS band,
         |                 md5(string_agg(h, '|' ORDER BY k)) AS bucket
         |          FROM mh GROUP BY doc_id, k // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |           FROM cand c
         |           JOIN sh a ON a.doc_id = c.doc_a
         |           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |           GROUP BY c.doc_a, c.doc_b),
         |pairs AS (SELECT m.doc_a, m.doc_b FROM common m
         |          JOIN cnt ca ON ca.doc_id = m.doc_a
         |          JOIN cnt cb ON cb.doc_id = m.doc_b
         |          WHERE CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, r) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.node = e.dst
         |),
         |losers AS (SELECT node FROM reach GROUP BY node HAVING node <> min(r))
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin,
    "q62_dedup_clusters" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$CappedClosureCte
         |SELECT node, min(r) AS label FROM reach GROUP BY node ORDER BY node""".stripMargin,
    "q57_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT t.doc_id, t.tok,
        |    round(t.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)), 6) AS score
        |  FROM tf t JOIN dfreq d ON d.tok = t.tok, n),
        |r AS (SELECT doc_id, tok, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, score FROM r
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q58_range_join" ->
      """WITH iv AS (SELECT user_id, date_trunc('hour', min(ts)) AS w_start,
        |              date_trunc('hour', min(ts)) + INTERVAL 12 HOUR AS w_end
        |            FROM events GROUP BY user_id)
        |SELECT e.user_id, count(*) AS n_in_window,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents_in_window
        |FROM events e
        |JOIN iv ON iv.user_id = e.user_id AND e.ts >= iv.w_start AND e.ts <= iv.w_end
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,
    "q49_chunking" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |        GREATEST(1, CAST(CEIL((len(w) - 8) / 24.0) AS BIGINT)) AS n_chunks
        |      FROM tok)
        |SELECT doc_id, n_chunks,
        |  array_to_string(w[1:32], ' ') AS first_chunk,
        |  CAST(len(w[CAST((n_chunks - 1) * 24 + 1 AS INT):CAST((n_chunks - 1) * 24 + 32 AS INT)])
        |       AS BIGINT) AS last_chunk_tokens
        |FROM c ORDER BY doc_id""".stripMargin,
    "q50_quality_filter" ->
      """WITH t AS (SELECT doc_id, n_chars, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w, text
        |           FROM documents),
        |m AS (SELECT doc_id, n_chars, len(w) AS n,
        |        CAST(len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
        |          / len(w) AS stop_r,
        |        CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |          / length(text) AS punct_r,
        |        CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dist_r
        |      FROM t)
        |SELECT CASE WHEN n < 20 THEN 'too_short'
        |            WHEN stop_r > 0.12 THEN 'too_stoppy'
        |            WHEN punct_r > 0.2 THEN 'too_punct'
        |            WHEN dist_r < 0.35 THEN 'too_repetitive'
        |            ELSE 'keep' END AS reason,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM m GROUP BY 1 ORDER BY reason""".stripMargin,
    "q46_quantize_embeddings" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |s AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM d),
        |c AS (SELECT vec_id, v,
        |        CASE WHEN mx = mn THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |             ELSE list_transform(v,
        |                    x -> CAST(round((x - mn) / ((mx - mn) / 255.0)) AS BIGINT))
        |        END AS codes
        |      FROM s)
        |SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  CAST(list_min(codes) AS BIGINT) AS code_min,
        |  CAST(list_max(codes) AS BIGINT) AS code_max
        |FROM c ORDER BY vec_id""".stripMargin,
    "q47_token_packing" ->
      """WITH tk AS (SELECT doc_id, doc_id % 4 AS shard,
        |              CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |            FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM tk)
        |SELECT shard, CAST(FLOOR((cum - n_tokens) / 2000.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens_sum
        |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin,
    "q48_hash_split" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |  ( CAST(strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1 AS BIGINT) * 4096
        |  + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substring(md5(text), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substring(md5(text), 4, 1)) - 1)) % 100 AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
    "q45_map_funcs" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents),
        |m AS (SELECT doc_id,
        |        map(['n', 'nd'],
        |            [CAST(len(w) AS BIGINT), CAST(len(list_distinct(w)) AS BIGINT)]) AS mm
        |      FROM tok)
        |SELECT doc_id, mm['n'][1] AS m_n, mm['nd'][1] AS m_nd,
        |  CAST(cardinality(mm) AS BIGINT) AS m_size,
        |  array_to_string(map_keys(mm), ',') AS m_keys
        |FROM m ORDER BY doc_id""".stripMargin,
    "q44_posexplode_topk" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents),
        |x AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[CAST(i AS INT)] AS tok
        |      FROM tok, UNNEST(range(1, len(w) + 1)) AS t(i))
        |SELECT tok, count(*) AS n, min(doc_id) AS keep_id, min(pos) AS min_pos
        |FROM x GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin,
    "q38_multimodal_features" -> {
      val histAggs =
        (0 until 16).map(b => f"count(*) FILTER (WHERE bin = $b) AS c$b%02d").mkString(", ")
      val histCols =
        (0 until 16).map(b => f"CAST(coalesce(h.c$b%02d, 0) AS BIGINT) AS b$b%02d").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id AS media_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |         ELSE 'video' END AS kind,
         |    CAST(strlen(text) AS BIGINT) AS n_bytes, text
         |  FROM documents),
         |bytes AS (
         |  SELECT media_id, ascii(substring(text, CAST(i AS INT), 1)) // 16 AS bin
         |  FROM base, UNNEST(range(1, n_bytes + 1)) AS t(i)),
         |hist AS (SELECT media_id, $histAggs FROM bytes GROUP BY media_id)
         |SELECT b.media_id, b.kind, b.n_bytes, $histCols
         |FROM base b LEFT JOIN hist h ON h.media_id = b.media_id
         |ORDER BY b.media_id""".stripMargin
    },
    "q61_multimodal_resize" ->
      """WITH base AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    text, CAST(strlen(text) AS BIGINT) AS n
        |  FROM documents)
        |SELECT media_id, kind,
        |  md5(string_agg(substring(text, CAST((i * n) // 64 + 1 AS INT), 1), '' ORDER BY i))
        |    AS resized_md5
        |FROM base, UNNEST(range(0, 64)) AS t(i)
        |GROUP BY media_id, kind
        |ORDER BY media_id""".stripMargin,
    // Each 8x8 frame holds 64 source bytes zero-padded; gray-PNG round
    // trip is lossless, so frame mean = (sum of the slice's ASCII
    // bytes)/64 — a dyadic rational with ≤6 decimals, making round(_,6)
    // the identity on both engines. Deltas compare consecutive EMITTED
    // (stride-2) frames via lag; first frame's delta is 0 by definition.
    "q39_multimodal_frames" ->
      """WITH v AS (SELECT doc_id AS media_id, text, strlen(text) AS n,
        |             CAST(CEIL(strlen(text) / 64.0) AS BIGINT) AS nf
        |           FROM documents WHERE doc_id % 3 = 2 AND strlen(text) > 0),
        |f AS (SELECT media_id, CAST(t.f AS INT) AS frame_idx,
        |        sum(CASE WHEN 64 * t.f + u.i <= n
        |                 THEN ascii(substring(text, CAST(64 * t.f + u.i AS INT), 1))
        |                 ELSE 0 END) / 64.0 AS mean_lum
        |      FROM v, UNNEST(range(0, nf, 2)) AS t(f), UNNEST(range(1, 65)) AS u(i)
        |      GROUP BY media_id, t.f),
        |d AS (SELECT media_id, frame_idx, mean_lum,
        |        mean_lum - lag(mean_lum, 1, mean_lum)
        |          OVER (PARTITION BY media_id ORDER BY frame_idx) AS delta
        |      FROM f)
        |SELECT media_id, frame_idx, round(mean_lum, 6) AS mean_r,
        |       round(delta, 6) AS delta_r
        |FROM d ORDER BY media_id, frame_idx""".stripMargin,
    // Every PCM16LE sample is lo + 256*hi over consecutive text bytes
    // (ASCII corpus ⇒ hi < 0x80, always positive); sum-of-squares stays
    // exact in BIGINT, the sqrt/round happens once on each engine.
    "q71_audio_decode" ->
      """WITH a AS (SELECT doc_id, text, CAST(length(text) // 2 AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT a.doc_id,
        |        CAST(ascii(substring(a.text, CAST(2 * t.i + 1 AS INT), 1))
        |             + 256 * ascii(substring(a.text, CAST(2 * t.i + 2 AS INT), 1)) AS BIGINT)
        |          AS smp
        |      FROM a, UNNEST(range(0, a.n)) AS t(i)),
        |g AS (SELECT doc_id, CAST(sum(smp * smp) AS BIGINT) AS ss, max(smp) AS peak
        |      FROM s GROUP BY doc_id)
        |SELECT a.doc_id AS media_id, a.n AS n_samples,
        |  CASE WHEN a.n = 0 THEN 0.0 ELSE round(sqrt(CAST(g.ss AS DOUBLE) / a.n), 6) END AS rms,
        |  CAST(coalesce(g.peak, 0) AS BIGINT) AS peak
        |FROM a LEFT JOIN g ON g.doc_id = a.doc_id
        |ORDER BY media_id""".stripMargin,
    "q72_bpe_pairs" ->
      """WITH toks AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok
        |              FROM documents),
        |p AS (SELECT substring(tok, CAST(t.i AS INT), 2) AS pair
        |      FROM toks, UNNEST(range(1, length(tok))) AS t(i)
        |      WHERE length(tok) >= 2),
        |c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair HAVING count(*) >= 50)
        |SELECT pair, CAST(n AS BIGINT) AS n,
        |  CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS merge_rank
        |FROM c ORDER BY merge_rank""".stripMargin,
    // source-wins merge: a matched key takes the source row WHOLESALE
    "q73_filemerge_e2e" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |           WHERE o_orderkey <= 10000),
        |s AS (SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus FROM orders
        |      WHERE o_orderkey % 97 = 0)
        |SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END
        |    AS o_custkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END
        |    AS o_orderstatus
        |FROM t FULL OUTER JOIN s ON s.o_orderkey = t.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    // hash fraction = first 8 md5 hex chars as a 32-bit int / 2^32 (the
    // q42 hex→int idiom); rate = (ascii(source[0]) % 4 + 1) / 5 on both
    // engines, so the kept set is bit-identical
    "q74_mixture_sample" ->
      """WITH h AS (SELECT doc_id, source, md5(text) AS m FROM documents),
        |f AS (SELECT doc_id, source,
        |        CAST(sum((CAST(strpos('0123456789abcdef',
        |                              substring(m, CAST(p AS INT), 1)) - 1 AS BIGINT))
        |                 << (CAST(4 * (8 - p) AS INT))) AS BIGINT) AS hv
        |      FROM h, UNNEST(range(1, 9)) AS t(p) GROUP BY doc_id, source),
        |k AS (SELECT doc_id, source FROM f
        |      WHERE CAST(hv AS DOUBLE) / 4294967296.0
        |            < CAST(ascii(substring(source, 1, 1)) % 4 + 1 AS DOUBLE) / 5.0)
        |SELECT source, count(*) AS n_kept, CAST(min(doc_id) AS BIGINT) AS first_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // assignment argmax and probe ranking use UNROUNDED similarities on
    // both engines (bit-identical doubles); only the reported cos_sim is
    // rounded, like q27. Shared by q75 (inline index) and q76 (persisted
    // index) — the physical round trip must reproduce identical rows.
    "q75_ann_ivf" -> IvfAnnOracleSql,
    "q76_ann_ivf_indexed" -> IvfAnnOracleSql,
    "q116_ann_filtered" -> IvfAnnFilteredOracleSql,
    // q78 probes the incrementally-grown index; an append under the
    // stored centroids is observationally a full build, so the oracle is
    // q75/q76's verbatim
    "q78_ann_ivf_append" -> IvfAnnOracleSql,
    // q79: the sim/cs/asg CTEs are IvfAnnOracleSql's verbatim; probe
    // generalizes from one query's LIMIT 4 to a per-query rank ≤ 4 over
    // the same corpus-vs-centroid cosines (queries ARE corpus rows), and
    // the re-rank ranks by the ROUNDED cosine then id, exactly like the
    // Spark window.
    "q79_ann_ivf_batch" -> IvfBatchOracleSql,
    // q87: IvfBatchOracleSql's pipeline with the final per-query rank
    // filter swapped for the rounded-cosine radius predicate (q83's)
    "q87_ann_ivf_radius_batch" -> IvfBatchRadiusOracleSql,
    // q77: the asg CTE is q75's assignment argmax verbatim; means are
    // per-(centroid, dimension) averages over DOUBLE-cast floats,
    // rounded at 6 (sum-order noise ~1e-13 for ~1e2 unit-scale values).
    // DuckDB has no UNNEST WITH ORDINALITY — positions come from
    // range() + 1-based list indexing, minus 1 to match posexplode.
    "q77_kmeans_step" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |sim AS (SELECT e.vec_id, c.cid,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x, unnest(c.cvec) AS y) z) AS dot,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
        |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(c.cvec) AS y) z) AS n2b
        | FROM embeddings e, c),
        |cs AS (SELECT vec_id, cid, dot / (sqrt(n2a) * sqrt(n2b)) AS cs
        |       FROM sim WHERE n2a > 0 AND n2b > 0),
        |asg AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |         FROM cs) WHERE rn = 1)
        |SELECT a.cid AS centroid_id,
        |       count(*) AS n_assigned,
        |       CAST(t.i - 1 AS INT) AS pos,
        |       round(avg(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)), 6) AS mean_r
        |FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id,
        |     UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
        |GROUP BY a.cid, t.i
        |ORDER BY centroid_id, pos""".stripMargin,
    // q80: same injection (incl. the zero-padded '010.001.002.0X' IP),
    // same RE2-safe patterns — the octet alternation carries the 0\d{1,2}
    // leading-zero form, mirrored verbatim from Text.Ipv4Octet — same
    // replace order (emails → phones → IPs); DuckDB needs the explicit
    // 'g' flag where Spark's regexp_replace is global by default
    "q80_pii_redact" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via +1-555-' ||
        |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199 at 10.' ||
        |  CAST(doc_id % 200 AS VARCHAR) || '.0.7' ||
        |  ' log 010.001.002.' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+\d{1,3}-\d{3}-\d{3,4}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '\b(25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)){3}\b')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+\d{1,3}-\d{3}-\d{3,4}-\d{4}', '<PHONE>', 'g'),
        |      '\b(25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)){3}\b', '<IP>', 'g')) AS redacted_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    // q81: bigrams with duplicates KEPT (range over 1..len-1, 1-based
    // list indexing); c1 is the count of bigrams STARTING with w1 so
    // each conditional sums to 1; all integer math — `//` here, DIV in
    // Spark — so aggregation order cannot perturb the hash
    "q81_lm_bigram" ->
      """WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ts
        |              FROM documents),
        |g AS (SELECT doc_id, ts[CAST(t.i AS INT)] || ' ' || ts[CAST(t.i + 1 AS INT)] AS bg
        |      FROM toks, UNNEST(range(1, len(ts))) AS t(i)),
        |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM g GROUP BY bg),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |s AS (SELECT g.doc_id, (c2.c2 * 1000000) // c1.c1 AS p
        |      FROM g JOIN c2 USING (bg) JOIN c1 ON c1.w1 = split_part(g.bg, ' ', 1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(p) AS BIGINT) AS sum_p_scaled, CAST(min(p) AS BIGINT) AS min_p_scaled
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q82: identical segmentation (ceil(len/5) windows, the empty doc
    // yields one empty line — GREATEST(1, ...) matches Text.chunks),
    // identical first-occurrence election, identical reassembly order
    "q82_line_dedup" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM documents),
        |c AS (SELECT doc_id, w, GREATEST(1, CAST(CEIL(len(w)/5.0) AS BIGINT)) AS n FROM tok),
        |l AS (SELECT doc_id, t.i AS line_no,
        |        array_to_string(w[CAST(t.i*5+1 AS INT):CAST(t.i*5+5 AS INT)], ' ') AS line
        |      FROM c, UNNEST(range(0, n)) AS t(i)),
        |r AS (SELECT doc_id, line_no, line,
        |        row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn FROM l)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(line, ' ' ORDER BY line_no) FILTER (rn = 1), '')) AS clean_md5
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q83_ann_ivf_radius" -> IvfRadiusOracleSql,
    // q84: every payload byte >= 64 becomes a white pixel (255 → hist
    // bin 15), everything else black (0 → bin 0); the 16-wide frame's
    // zero-padded tail is black. ascii() indexes CHARACTERS — equal to
    // the Spark side's UTF-8 bytes for this ASCII corpus (q38 caveat).
    "q84_image_decode" ->
      """WITH base AS (SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n
        |              FROM documents WHERE doc_id % 3 = 0),
        |br AS (SELECT media_id,
        |         CAST(count(*) FILTER (WHERE ascii(substring(text, CAST(i AS INT), 1)) >= 64) AS BIGINT) AS bright
        |       FROM base, UNNEST(range(1, n + 1)) AS t(i)
        |       GROUP BY media_id),
        |d AS (SELECT b.media_id, CAST(16 AS INT) AS width,
        |        CAST(GREATEST(1, CAST(CEIL(b.n / 16.0) AS BIGINT)) AS INT) AS height,
        |        coalesce(br.bright, 0) AS bright
        |      FROM base b LEFT JOIN br ON br.media_id = b.media_id)
        |SELECT media_id, width, height,
        |  CAST(CAST(width AS BIGINT) * height - bright AS BIGINT) AS dark_px,
        |  CAST(bright AS BIGINT) AS bright_px
        |FROM d ORDER BY media_id""".stripMargin,
    "q85_bpe_train" ->
      s"""$BpeRoundsCte
         |SELECT CAST(1 AS INT) AS merge_rank, l AS left_sym, r AS right_sym, n FROM m1
         |UNION ALL SELECT 2, l, r, n FROM m2
         |UNION ALL SELECT 3, l, r, n FROM m3
         |ORDER BY merge_rank""".stripMargin,
    // q86: per-doc token stream in order, each token swapped for its
    // trained segmentation, n_subwords + md5 over the space-joined stream
    "q86_bpe_apply" ->
      s"""$BpeRoundsCte,
         |dt AS (SELECT doc_id, ts, len(ts) AS n
         |       FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ts
         |             FROM documents)
         |       WHERE len(ts) > 0),
         |pos AS (SELECT doc_id, CAST(t.i AS INT) AS pos, ts[CAST(t.i AS INT)] AS tok
         |        FROM dt, UNNEST(range(1, n + 1)) AS t(i)),
         |seg AS (SELECT tok, trim(s) AS subs,
         |          len(list_filter(string_split(trim(s), ' '), x -> x <> '')) AS nsub
         |        FROM s3)
         |SELECT p.doc_id,
         |  CAST(sum(seg.nsub) AS BIGINT) AS n_subwords,
         |  md5(string_agg(seg.subs, ' ' ORDER BY p.pos)) AS subword_md5
         |FROM pos p JOIN seg ON seg.tok = p.tok
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // q88: same window indexing as spanDedup — gram `pos` (0-based)
    // covers 0-based token indices [pos, pos+7]; range(1, n-6) yields
    // the n-7 = n-k+1 window starts; remove-all-copies, so `covered`
    // is pure membership (no first-occurrence election); reassembly
    // string_aggs surviving tokens in position order (DuckDB list
    // indexing is 1-based, hence the i-1 in list_contains).
    "q88_span_dedup" ->
      """WITH t2 AS (SELECT doc_id, toks, len(toks) AS n FROM (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)),
        |g AS (SELECT doc_id, CAST(u.i AS INT) - 1 AS pos,
        |        array_to_string(toks[CAST(u.i AS INT):CAST(u.i AS INT) + 7], ' ') AS gram
        |      FROM t2, UNNEST(range(1, n - 6)) AS u(i) WHERE n >= 8),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |occ AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
        |          list_distinct(flatten(list(range(pos, pos + 8)))) AS covered
        |        FROM occ GROUP BY doc_id),
        |tp AS (SELECT doc_id, CAST(u.i AS INT) AS i, toks[CAST(u.i AS INT)] AS tok
        |       FROM t2, UNNEST(range(1, n + 1)) AS u(i)),
        |kept AS (SELECT tp.doc_id,
        |           string_agg(tp.tok, ' ' ORDER BY tp.i)
        |             FILTER (WHERE c.covered IS NULL OR NOT list_contains(c.covered, tp.i - 1)) AS clean
        |         FROM tp LEFT JOIN cov c USING (doc_id)
        |         GROUP BY tp.doc_id)
        |SELECT t2.doc_id, CAST(t2.n AS BIGINT) AS n_tokens,
        |  CAST(coalesce(c.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |  CAST(coalesce(len(c.covered), 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(k.clean, '')) AS clean_md5
        |FROM t2 LEFT JOIN cov c USING (doc_id) LEFT JOIN kept k USING (doc_id)
        |ORDER BY t2.doc_id""".stripMargin,
    // q89: the c/sim/cs/asg CTEs are IvfAnnOracleSql's assignment
    // verbatim; the pair election compares UNROUNDED cosines at the
    // threshold on both engines (array-order summation — bit-identical
    // doubles, and the corpus's nearest pair is 1.6e-3 off 0.45); a
    // vector is kept iff it never appears as the HIGHER id of a
    // within-cluster pair at or above threshold.
    "q89_semdedup" -> SemDedupOracleSql,
    // q90: the same md5(seed|id) key order, ranked by a plain window —
    // the oracle NEEDS no distributed-rank decomposition, only the order.
    "q90_training_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(concat('graft-r9', '|', doc_id)), doc_id) AS BIGINT)
        |    AS train_pos
        |FROM documents ORDER BY train_pos""".stripMargin,
    // q91: q90's md5 permutation feeding q47's cumulative-sum packing,
    // striped into shards by train_pos % 4
    "q91_shuffled_packing" ->
      """WITH pos AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY md5(concat('graft-r9', '|', doc_id)), doc_id) AS BIGINT)
        |      AS train_pos FROM documents),
        |tk AS (SELECT p.train_pos, p.train_pos % 4 AS shard,
        |    CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\s+'), x -> x <> '')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents d JOIN pos p USING (doc_id)),
        |c AS (SELECT shard, train_pos, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY train_pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM tk)
        |SELECT shard, CAST(FLOOR((cum - n_tokens) / 2000.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens_sum
        |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin,
    // q92: q41's banding verbatim, with the candidate join split into
    // corpus (< 400) × batch (>= 400) sides instead of a self-join
    "q92_incremental_dedup" ->
      s"""WITH $ShinglesCte,
         |mh AS (SELECT doc_id, CAST(t.k AS INT) AS k,
         |              min(md5(shingle || ':' || CAST(t.k AS VARCHAR))) AS h
         |       FROM sh, UNNEST(range(0, 16)) AS t(k) GROUP BY doc_id, t.k),
         |bands AS (SELECT doc_id, k // 2 AS band,
         |                 md5(string_agg(h, '|' ORDER BY k)) AS bucket
         |          FROM mh GROUP BY doc_id, k // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bucket = b.bucket
         |          AND a.doc_id < 400 AND b.doc_id >= 400),
         |$RescoreSql""".stripMargin,
    // q95: rates recomputed declaratively with the identical fixed-shape
    // double expression over exact integer inputs (w = floor(1e6*sqrt(n)),
    // BIGINT sums); keep decision = q74's hex-decoded md5 prefix. The
    // DOUBLE casts on the literals matter: DuckDB parses 0.4 as DECIMAL.
    "q95_temperature_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs,
        |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
        |      FROM c),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS s FROM w),
        |r AS (SELECT source,
        |        least(CAST(1.0 AS DOUBLE),
        |              CAST(0.4 AS DOUBLE) * CAST(t.n AS DOUBLE) * CAST(w.w AS DOUBLE)
        |                / (CAST(w.n_docs AS DOUBLE) * CAST(t.s AS DOUBLE))) AS rate
        |      FROM w, t),
        |h AS (SELECT doc_id, source, md5(text) AS m FROM documents),
        |f AS (SELECT doc_id, source,
        |        CAST(sum((CAST(strpos('0123456789abcdef',
        |                              substring(m, CAST(p AS INT), 1)) - 1 AS BIGINT))
        |                 << (CAST(4 * (8 - p) AS INT))) AS BIGINT) AS hv
        |      FROM h, UNNEST(range(1, 9)) AS t(p) GROUP BY doc_id, source),
        |k AS (SELECT f.doc_id, f.source FROM f JOIN r ON r.source = f.source
        |      WHERE CAST(hv AS DOUBLE) / 4294967296.0 < r.rate)
        |SELECT source, count(*) AS n_kept, CAST(min(doc_id) AS BIGINT) AS first_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // q96: DSIR importance scores replayed declaratively. Every double
    // in the per-bucket log-ratio is the SAME expression shape as
    // Curation.pseudoLn over the same exact BIGINT inputs (each op
    // IEEE-correctly-rounded => bit-identical), quantized by floor to a
    // BIGINT BEFORE any aggregation, so the score sums are exact — the
    // q95 determinism recipe. Buckets are the 4-hex-char md5 prefix
    // mod 256, matching Text.md5PrefixLong(gram, 4) % 256.
    "q96_dsir_importance" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_t, $TokensSql AS w FROM documents),
         |g AS (SELECT doc_id, is_t, unnest(w) AS gram FROM tok
         |      UNION ALL
         |      SELECT doc_id, is_t, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS gram
         |      FROM tok, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
         |hb AS (SELECT doc_id, is_t,
         |         ((strpos('0123456789abcdef', substring(md5(gram), 1, 1)) - 1) * 4096
         |        + (strpos('0123456789abcdef', substring(md5(gram), 2, 1)) - 1) * 256
         |        + (strpos('0123456789abcdef', substring(md5(gram), 3, 1)) - 1) * 16
         |        + (strpos('0123456789abcdef', substring(md5(gram), 4, 1)) - 1)) % 256 AS bucket
         |       FROM g),
         |db AS (SELECT doc_id, is_t, bucket, count(*) AS c FROM hb GROUP BY doc_id, is_t, bucket),
         |st AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cr,
         |              CAST(sum(CASE WHEN is_t THEN c ELSE 0 END) AS BIGINT) AS ct
         |       FROM db GROUP BY bucket),
         |tt AS (SELECT CAST(sum(cr) AS BIGINT) AS r, CAST(sum(ct) AS BIGINT) AS t FROM st),
         |xr AS (SELECT bucket,
         |         (CAST(ct + 1 AS DOUBLE) / CAST(cr + 1 AS DOUBLE))
         |           * (CAST(tt.r + 256 AS DOUBLE) / CAST(tt.t + 256 AS DOUBLE)) AS x
         |       FROM st, tt),
         |zz AS (SELECT bucket,
         |         (x - CAST(1.0 AS DOUBLE)) / (x + CAST(1.0 AS DOUBLE)) AS z
         |       FROM xr),
         |z2 AS (SELECT bucket, z, z * z AS q FROM zz),
         |lr AS (SELECT bucket,
         |         CAST(floor(((CAST(2.0 AS DOUBLE) * z) * (CAST(1.0 AS DOUBLE)
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(5.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(7.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(9.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(11.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(13.0 AS DOUBLE))
         |           + q * (CAST(1.0 AS DOUBLE) / CAST(15.0 AS DOUBLE))))))))))
         |           * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS l
         |       FROM z2)
         |SELECT db.doc_id, CAST(sum(db.c * lr.l) AS BIGINT) AS score,
         |       CAST(sum(db.c) AS BIGINT) AS n_grams
         |FROM db JOIN lr ON lr.bucket = db.bucket
         |GROUP BY db.doc_id ORDER BY score DESC, db.doc_id LIMIT 100""".stripMargin,
    // q97/q98: the sign matrix is rebuilt relationally from the same
    // md5("i:j") strings Similarity.md5Signs hashes; codes are q46's
    // exact quantization, so projections are exact BIGINT sums and the
    // q98 cosine is a fixed-shape double over exact integers.
    "q97_random_projection" ->
      s"""WITH $ProjCodesSql,
         |$ProjSignsSql,
         |$ProjSql
         |SELECT vec_id,
         |  md5(array_to_string(list_transform(proj, x -> CAST(x AS VARCHAR)), ':')) AS proj_md5,
         |  proj[1] AS proj_first, proj[16] AS proj_last
         |FROM y ORDER BY vec_id""".stripMargin,
    "q98_projected_knn" ->
      s"""WITH $ProjCodesSql,
         |$ProjSignsSql,
         |$ProjSql,
         |qp AS (SELECT proj AS q_proj FROM y WHERE vec_id = 0),
         |sc AS (SELECT y.vec_id,
         |  (SELECT CAST(sum(a * b) AS BIGINT)
         |   FROM (SELECT unnest(y.proj) AS a, unnest(qp.q_proj) AS b) z) AS dot,
         |  (SELECT CAST(sum(a * a) AS BIGINT)
         |   FROM (SELECT unnest(y.proj) AS a) z) AS n2a,
         |  (SELECT CAST(sum(b * b) AS BIGINT)
         |   FROM (SELECT unnest(qp.q_proj) AS b) z) AS n2b
         | FROM y, qp WHERE y.vec_id <> 0)
         |SELECT vec_id,
         |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))), 6) AS cos_sim
         |FROM sc WHERE n2a <> 0 AND n2b <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin,
    // q99: the within-stratum order is the same md5('s99'|doc_id) key;
    // the train threshold is exact BIGINT math ((n*800) DIV 1000), so
    // the assignment is engine-independent. The oracle may use the
    // straightforward per-stratum window — Spark-side that shape would
    // funnel a hot stratum into one task, hence stratifiedSplit's
    // rank-and-offset formulation; results are identical.
    "q99_stratified_split" ->
      """WITH r AS (SELECT doc_id, source,
        |             md5('s99' || '|' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |p AS (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id) - 1 AS BIGINT) AS rp,
        |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |      FROM r)
        |SELECT doc_id, source,
        |  CASE WHEN rp < (n * 800) // 1000 THEN 'train' ELSE 'val' END AS split
        |FROM p ORDER BY doc_id""".stripMargin,
    // q100: the oracle may use the bare global running-sum window —
    // Spark-side that shape runs in ONE task, hence globalRunningSum's
    // rank-and-offset formulation; BIGINT sums make them value-equal.
    "q100_budget_select" ->
      s"""WITH tk AS (SELECT doc_id, n_chars,
         |              CAST(len($TokensSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM tk)
         |SELECT doc_id, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin,
    // q93: the full two-batch ingest protocol, declaratively. Per batch:
    // exact min-id election per md5(text), banded candidates among the
    // elected, exact-Jaccard rescore, recursive min-label closure →
    // within-batch survivors; batch 2 additionally drops docs banded+
    // rescored against the batch-1 corpus (q92's split join) or sharing
    // an md5 digest with it (the shingle-free short-doc guard).
    "q93_ingest_dedup_e2e" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |mh AS (SELECT doc_id, CAST(t.k AS INT) AS k,
         |              min(md5(shingle || ':' || CAST(t.k AS VARCHAR))) AS h
         |       FROM sh, UNNEST(range(0, 16)) AS t(k) GROUP BY doc_id, t.k),
         |bands AS (SELECT doc_id, k // 2 AS band,
         |                 md5(string_agg(h, '|' ORDER BY k)) AS bucket
         |          FROM mh GROUP BY doc_id, k // 2),
         |b1 AS (SELECT min(doc_id) AS doc_id FROM documents
         |       WHERE doc_id % 2 = 0 GROUP BY md5(text)),
         |cand1 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN b1 xa ON xa.doc_id = a.doc_id
         |          JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |          JOIN b1 xb ON xb.doc_id = b.doc_id
         |          WHERE a.doc_id < b.doc_id),
         |common1 AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |            FROM cand1 c JOIN sh a ON a.doc_id = c.doc_a
         |            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |            GROUP BY c.doc_a, c.doc_b),
         |pairs1 AS (SELECT m.doc_a, m.doc_b FROM common1 m
         |           JOIN cnt ca ON ca.doc_id = m.doc_a
         |           JOIN cnt cb ON cb.doc_id = m.doc_b
         |           WHERE CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common) >= 0.8),
         |edges1 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs1
         |           UNION ALL SELECT doc_b, doc_a FROM pairs1),
         |nodes1 AS (SELECT DISTINCT src AS node FROM edges1),
         |reach1(node, r) AS (
         |  SELECT node, node FROM nodes1
         |  UNION
         |  SELECT e.src, r.r FROM edges1 e JOIN reach1 r ON r.node = e.dst),
         |losers1 AS (SELECT node FROM reach1 GROUP BY node HAVING min(r) <> node),
         |corpus1 AS (SELECT doc_id FROM b1
         |            WHERE doc_id NOT IN (SELECT node FROM losers1)),
         |b2 AS (SELECT min(doc_id) AS doc_id FROM documents
         |       WHERE doc_id % 2 = 1 GROUP BY md5(text)),
         |cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN b2 xa ON xa.doc_id = a.doc_id
         |          JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |          JOIN b2 xb ON xb.doc_id = b.doc_id
         |          WHERE a.doc_id < b.doc_id),
         |common2 AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |            FROM cand2 c JOIN sh a ON a.doc_id = c.doc_a
         |            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |            GROUP BY c.doc_a, c.doc_b),
         |pairs2 AS (SELECT m.doc_a, m.doc_b FROM common2 m
         |           JOIN cnt ca ON ca.doc_id = m.doc_a
         |           JOIN cnt cb ON cb.doc_id = m.doc_b
         |           WHERE CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common) >= 0.8),
         |edges2 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs2
         |           UNION ALL SELECT doc_b, doc_a FROM pairs2),
         |nodes2 AS (SELECT DISTINCT src AS node FROM edges2),
         |reach2(node, r) AS (
         |  SELECT node, node FROM nodes2
         |  UNION
         |  SELECT e.src, r.r FROM edges2 e JOIN reach2 r ON r.node = e.dst),
         |losers2 AS (SELECT node FROM reach2 GROUP BY node HAVING min(r) <> node),
         |inner2 AS (SELECT doc_id FROM b2
         |           WHERE doc_id NOT IN (SELECT node FROM losers2)),
         |candx AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN corpus1 xa ON xa.doc_id = a.doc_id
         |          JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |          JOIN inner2 xb ON xb.doc_id = b.doc_id),
         |commonx AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |            FROM candx c JOIN sh a ON a.doc_id = c.doc_a
         |            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |            GROUP BY c.doc_a, c.doc_b),
         |nearx AS (SELECT m.doc_b FROM commonx m
         |          JOIN cnt ca ON ca.doc_id = m.doc_a
         |          JOIN cnt cb ON cb.doc_id = m.doc_b
         |          WHERE CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common) >= 0.8),
         |dupx AS (SELECT i.doc_id FROM inner2 i
         |         JOIN documents di ON di.doc_id = i.doc_id
         |         WHERE md5(di.text) IN (SELECT md5(dc.text) FROM corpus1 c
         |                                JOIN documents dc ON dc.doc_id = c.doc_id)),
         |final AS (SELECT doc_id FROM corpus1
         |          UNION ALL
         |          SELECT doc_id FROM inner2
         |          WHERE doc_id NOT IN (SELECT doc_b FROM nearx)
         |            AND doc_id NOT IN (SELECT doc_id FROM dupx))
         |SELECT f.doc_id, md5(d.text) AS text_hash
         |FROM final f JOIN documents d ON d.doc_id = f.doc_id
         |ORDER BY f.doc_id""".stripMargin,
    // q101: the sketch is an exactness-preserving optimization — the
    // declarative answer is simply the full frequency ranking's head
    "q101_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($TokensSql) AS tok FROM documents),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok),
         |r AS (SELECT tok, n,
         |        CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank
         |      FROM c)
         |SELECT tok, n, rank FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,
    // q102: per-user (floored-second, event_id)-ordered event types,
    // chunked into non-overlapping windows of 32; DuckDB list slicing
    // truncates at the end exactly like Spark's slice()
    "q102_event_sequences" ->
      """WITH o AS (SELECT user_id,
        |             list(event_type ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS evs
        |           FROM events GROUP BY user_id),
        |ch AS (SELECT user_id, CAST(t.i AS BIGINT) AS seq_index,
        |              evs[(CAST(t.i AS INT) * 32 + 1):(CAST(t.i AS INT) * 32 + 32)] AS events
        |       FROM o, UNNEST(range(0, CAST(ceil(len(evs) / 32.0) AS BIGINT))) AS t(i))
        |SELECT user_id, seq_index,
        |       md5(array_to_string(events, ' ')) AS events_md5,
        |       CAST(len(events) AS BIGINT) AS n_events
        |FROM ch WHERE len(events) >= 4 ORDER BY user_id, seq_index""".stripMargin,
    // q103: the footer sweep must agree with the full-scan aggregates —
    // that agreement IS the check that metadata-only answers are exact
    "q103_footer_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_l_orderkey,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_l_orderkey
        |FROM lineitem""".stripMargin,
    // q104: declarative twin of the sharded index build — token
    // positions via the q88 list-ordinality pattern, grouped by
    // (term, doc-range block), postings digested in (doc_id, pos) order
    "q104_posting_lists" ->
      s"""WITH t2 AS (SELECT doc_id, $TokensSql AS toks FROM documents),
         |tp AS (SELECT doc_id, doc_id // 100 AS block,
         |         CAST(u.i AS INT) - 1 AS pos, toks[CAST(u.i AS INT)] AS term
         |       FROM t2, UNNEST(range(1, len(toks) + 1)) AS u(i))
         |SELECT term, block, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |  CAST(count(*) AS BIGINT) AS tf,
         |  md5(string_agg(doc_id || ':' || pos, ' ' ORDER BY doc_id, pos)) AS postings_md5
         |FROM tp GROUP BY term, block ORDER BY term, block""".stripMargin,
    // q105: ground truth for the index-seek phrase search — adjacent
    // token positions joined directly
    "q105_phrase_search" -> PhraseSearchOracleSql,
    // q108: the persisted-index round trip must give exactly q105's
    // answer — SAME oracle text, so any divergence is the physical
    // lifecycle's fault by construction
    "q108_index_persisted" -> PhraseSearchOracleSql,
    // q109: the normalization chain replayed with DuckDB's string
    // functions — strip_accents/lower/digit-fold/whitespace-collapse
    // agree with the JVM single-pass on the corpus's Latin text
    // (TextSpec pins the JVM behavior on accented fixtures)
    "q109_normalize_cc" ->
      """WITH nm AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(strip_accents(text)),
        |          '[0-9]', '0', 'g'), '\s+', ' ', 'g')) AS norm
        |      FROM documents),
        |d AS (SELECT doc_id, md5(norm) AS norm_md5,
        |        CAST(length(norm) AS BIGINT) AS n_chars_norm FROM nm),
        |g AS (SELECT norm_md5, min(doc_id) AS keep_id FROM d GROUP BY 1)
        |SELECT d.doc_id, d.norm_md5, d.n_chars_norm, g.keep_id
        |FROM d JOIN g USING (norm_md5) ORDER BY d.doc_id""".stripMargin,
    // q110: per-source KL-style shift — exact BIGINT unigram counts,
    // the two-factor ratio shape, and the q96 pseudoLn polynomial
    // quantized per (source, token) before the integer sum
    "q110_domain_shift" ->
      s"""WITH tok AS (SELECT source, unnest($TokensSql) AS tok FROM documents),
         |gt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_gt FROM tok GROUP BY 1, 2),
         |ct AS (SELECT tok, CAST(sum(c_gt) AS BIGINT) AS c_t FROM gt GROUP BY 1),
         |ng AS (SELECT source, CAST(sum(c_gt) AS BIGINT) AS n_g FROM gt GROUP BY 1),
         |nn AS (SELECT CAST(sum(c_gt) AS BIGINT) AS n FROM gt),
         |xr AS (SELECT gt.source, gt.c_gt, ng.n_g,
         |         (CAST(gt.c_gt AS DOUBLE) / CAST(ct.c_t AS DOUBLE))
         |           * (CAST(nn.n AS DOUBLE) / CAST(ng.n_g AS DOUBLE)) AS x
         |       FROM gt JOIN ct USING (tok) JOIN ng USING (source), nn),
         |zz AS (SELECT source, c_gt, n_g,
         |         (x - CAST(1.0 AS DOUBLE)) / (x + CAST(1.0 AS DOUBLE)) AS z FROM xr),
         |z2 AS (SELECT source, c_gt, n_g, z, z * z AS q FROM zz),
         |lr AS (SELECT source, c_gt, n_g,
         |         CAST(floor(((CAST(2.0 AS DOUBLE) * z) * (CAST(1.0 AS DOUBLE)
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(5.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(7.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(9.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(11.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(13.0 AS DOUBLE))
         |           + q * (CAST(1.0 AS DOUBLE) / CAST(15.0 AS DOUBLE))))))))))
         |           * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS l
         |       FROM z2)
         |SELECT source, n_g AS n_tokens, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(c_gt * l) AS BIGINT) AS kl_num_scaled
         |FROM lr GROUP BY source, n_g ORDER BY source""".stripMargin,
    // q111: the hash-ring permutation replayed with row_number over the
    // same md5('neg:'||id) key, the same wrapping successor join, and
    // q40's capped pair set (SAME shared CTEs) as the positive filter
    "q111_negative_samples" ->
      s"""WITH $ShinglesCte,
         |$CappedCandCte,
         |common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |           FROM cand c
         |           JOIN sh a ON a.doc_id = c.doc_a
         |           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |           GROUP BY c.doc_a, c.doc_b),
         |pairs AS (SELECT m.doc_a, m.doc_b FROM common m
         |          JOIN cnt ca ON ca.doc_id = m.doc_a
         |          JOIN cnt cb ON cb.doc_id = m.doc_b
         |          WHERE CAST(m.common AS DOUBLE) / (ca.n + cb.n - m.common) >= 0.8),
         |rk AS (SELECT doc_id,
         |         CAST(row_number() OVER (
         |           ORDER BY md5('neg:' || CAST(doc_id AS VARCHAR))) AS BIGINT) AS pos
         |       FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
         |aa AS (SELECT rk.doc_id AS anchor_id, rk.pos, CAST(s.i AS BIGINT) AS slot
         |       FROM rk CROSS JOIN nn, UNNEST(range(1, least(4, nn.n))) AS s(i)),
         |jj AS (SELECT aa.anchor_id, aa.slot, g.doc_id AS neg_id
         |       FROM aa CROSS JOIN nn
         |       JOIN rk g ON g.pos = ((aa.pos - 1 + aa.slot) % nn.n) + 1
         |       WHERE aa.anchor_id <> g.doc_id),
         |ex AS (SELECT doc_a AS anchor_id, doc_b AS neg_id FROM pairs
         |       UNION ALL SELECT doc_b, doc_a FROM pairs)
         |SELECT anchor_id, slot, neg_id FROM jj
         |ANTI JOIN ex USING (anchor_id, neg_id)
         |ORDER BY anchor_id, slot""".stripMargin,
    // q112: the same RANGE-framed window over whole-second epochs and
    // pre-quantized BIGINT values — the sliding sum is exact integer
    // arithmetic, immune to Spark-vs-DuckDB window accumulation order
    "q112_rolling_window" ->
      """SELECT user_id, event_id,
        |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  CAST(sum(v) OVER w AS BIGINT) AS sum_scaled,
        |  CAST(min(v) OVER w AS BIGINT) AS min_scaled,
        |  CAST(max(v) OVER w AS BIGINT) AS max_scaled
        |FROM (SELECT user_id, event_id, ts,
        |        CAST(round(value * 1000000.0) AS BIGINT) AS v FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // q113: the stepwise min-chain replayed as nested aggregates —
    // identical greedy-earliest semantics at second granularity
    "q113_funnel" ->
      """WITH e AS (SELECT user_id AS k, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
        |             event_type AS t FROM events),
        |s1 AS (SELECT k, min(s) AS t1 FROM e WHERE t = 'view' GROUP BY k),
        |s2 AS (SELECT e.k, s1.t1, min(e.s) AS t2 FROM e JOIN s1 ON s1.k = e.k
        |       WHERE e.t = 'click' AND e.s >= s1.t1 GROUP BY e.k, s1.t1),
        |s3 AS (SELECT e.k, s2.t1, s2.t2, min(e.s) AS t3 FROM e JOIN s2 ON s2.k = e.k
        |       WHERE e.t = 'purchase' AND e.s >= s2.t2 GROUP BY e.k, s2.t1, s2.t2)
        |SELECT k AS user_id, t1, t2, t3 FROM s3
        |WHERE t3 - t1 <= 345600 ORDER BY user_id""".stripMargin,
    // q114: the entropy numerator replayed — same c/n double, same
    // pseudoLn polynomial, same floor quantization, exact integer sum
    "q114_token_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($TokensSql) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(count(*) AS BIGINT) AS n_distinct FROM c GROUP BY 1),
         |xr AS (SELECT c.doc_id, c.c, n.n_tokens, n.n_distinct,
         |         CAST(c.c AS DOUBLE) / CAST(n.n_tokens AS DOUBLE) AS x
         |       FROM c JOIN n USING (doc_id)),
         |zz AS (SELECT doc_id, c, n_tokens, n_distinct,
         |         (x - CAST(1.0 AS DOUBLE)) / (x + CAST(1.0 AS DOUBLE)) AS z FROM xr),
         |z2 AS (SELECT doc_id, c, n_tokens, n_distinct, z, z * z AS q FROM zz),
         |lr AS (SELECT doc_id, c, n_tokens, n_distinct,
         |         CAST(floor(((CAST(2.0 AS DOUBLE) * z) * (CAST(1.0 AS DOUBLE)
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(5.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(7.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(9.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(11.0 AS DOUBLE))
         |           + q * ((CAST(1.0 AS DOUBLE) / CAST(13.0 AS DOUBLE))
         |           + q * (CAST(1.0 AS DOUBLE) / CAST(15.0 AS DOUBLE))))))))))
         |           * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS l
         |       FROM z2)
         |SELECT doc_id, n_tokens, n_distinct,
         |  CAST(-sum(c * l) AS BIGINT) AS entropy_num_scaled
         |FROM lr GROUP BY doc_id, n_tokens, n_distinct ORDER BY doc_id""".stripMargin,
    // q115: q40's capped candidates, then BOTH directed containments
    // from the shared common count — same double division and rounding
    "q115_containment" ->
      s"""WITH $ShinglesCte,
         |$CappedCandCte,
         |common AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS common
         |           FROM cand c
         |           JOIN sh a ON a.doc_id = c.doc_a
         |           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |           GROUP BY c.doc_a, c.doc_b),
         |dir AS (SELECT m.doc_a AS inner_id, m.doc_b AS outer_id, m.common,
         |               CAST(ca.n AS BIGINT) AS n_inner
         |        FROM common m JOIN cnt ca ON ca.doc_id = m.doc_a
         |        UNION ALL
         |        SELECT m.doc_b, m.doc_a, m.common, CAST(cb.n AS BIGINT)
         |        FROM common m JOIN cnt cb ON cb.doc_id = m.doc_b)
         |SELECT inner_id, outer_id, n_inner, common,
         |  round(CAST(common AS DOUBLE) / n_inner, 6) AS containment
         |FROM dir
         |WHERE CAST(common AS DOUBLE) / n_inner >= 0.9
         |ORDER BY inner_id, outer_id""".stripMargin,
    // q106: q81's exact bigram scores + q30's language heuristic, then
    // the same integer rank→bucket math replayed with window functions —
    // bucket = (3·(rank−1)) DIV n + 1 over (mean desc, doc_id)
    "q106_lm_buckets" ->
      s"""WITH toks AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |g AS (SELECT doc_id, ts[CAST(t.i AS INT)] || ' ' || ts[CAST(t.i + 1 AS INT)] AS bg
         |      FROM toks, UNNEST(range(1, len(ts))) AS t(i)),
         |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM g GROUP BY bg),
         |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
         |       FROM c2 GROUP BY 1),
         |s AS (SELECT g.doc_id, (c2.c2 * 1000000) // c1.c1 AS p
         |      FROM g JOIN c2 USING (bg) JOIN c1 ON c1.w1 = split_part(g.bg, ' ', 1)),
         |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |        CAST(sum(p) AS BIGINT) AS sum_p FROM s GROUP BY doc_id),
         |lang AS (SELECT doc_id, CASE
         |    WHEN CAST(len($StopFilterSql) AS DOUBLE) / len($TokensSql) >= 0.1 THEN 'en_like'
         |    WHEN len($TokensSql) < 5 THEN 'short'
         |    ELSE 'other' END AS lang
         |  FROM documents),
         |j AS (SELECT d.doc_id, lang.lang, d.n_bigrams,
         |        d.sum_p // d.n_bigrams AS mean_p_scaled
         |      FROM d JOIN lang USING (doc_id)),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY lang ORDER BY mean_p_scaled DESC, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM j)
         |SELECT doc_id, lang, n_bigrams, mean_p_scaled,
         |  CAST((3 * (rn - 1)) // n + 1 AS BIGINT) AS bucket
         |FROM r ORDER BY doc_id""".stripMargin,
    // q107: BM25 replayed declaratively — the score expression is
    // written with the IDENTICAL association and literal shapes as the
    // Spark column expression (left-assoc chain, (1.2 + 1.0), exact
    // BIGINT tf/df/len inputs, one double division for avgdl). The only
    // transcendental, ln, is quantized to a per-TERM BIGINT before any
    // per-document arithmetic (mirroring Invert.bm25TopK), so a libm
    // 1-ulp divergence can flip at most |query| roundings — the
    // per-(term,doc) stage is pure correctly-rounded IEEE arithmetic
    "q107_bm25" -> Bm25OracleSql,
    // q118: the persisted-index BM25 must give exactly q107's answer —
    // SAME oracle text, so any divergence is the write/append/read
    // lifecycle's fault by construction (the q108 gating pattern)
    "q118_bm25_persisted" -> Bm25OracleSql,
    // q119: PMI collocations — exact BIGINT counts; each log replayed
    // as Curation.lnOfCount's exact shape: binary exponent from
    // length(bin(x)) - 1 (integer-exact in both engines, no libm log2),
    // mantissa x / (1 << e) as one correctly-rounded IEEE division, the
    // same 8-term atanh polynomial, same association order, ONE final
    // floor quantization. All numeric literals CAST AS DOUBLE (DuckDB
    // parses bare decimals as DECIMAL, whose arithmetic is not IEEE).
    "q119_pmi_collocations" -> PmiOracleSql,
    // q120: day buckets are absolute epoch-second DIV 86400 indexes
    // (pure integer arithmetic on the whole-second floor — no calendar
    // semantics), counts are exact; count(*) over the distinct
    // (user, day) rows IS distinct users by construction
    "q120_retention_cohorts" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_bucket FROM w GROUP BY user_id),
        |g AS (SELECT c.cohort_bucket, w.wk - c.cohort_bucket AS bucket_offset,
        |        CAST(count(*) AS BIGINT) AS n_users
        |      FROM w JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT g.cohort_bucket, g.bucket_offset, g.n_users, s.n_users AS cohort_size
        |FROM g JOIN g s ON s.cohort_bucket = g.cohort_bucket AND s.bucket_offset = 0
        |ORDER BY g.cohort_bucket, g.bucket_offset""".stripMargin,
    // q121: the KMV estimator replayed exact-integer — hash = first 13
    // hex digits of md5 as a 52-bit BIGINT (lowercase hex on both
    // engines; lexicographic = numeric order), k-th smallest via a
    // row_number cut, estimate = (k−1)·2^52 // kth_hash with BIGINT
    // integer division (no doubles anywhere in the query). Values are
    // the per-doc DISTINCT word trigrams (ShinglesCte's construction);
    // the sketch's own (source, hash) distinct collapses cross-doc
    // repeats identically on both engines
    "q121_kmv_distinct" -> KmvBySourceSql,
    // q122: consecutive pairs replayed as a lead() over the same
    // engine-portable total order (whole-second floor, event_id ties);
    // probability = exact BIGINT micro-units, one integer division
    "q122_event_transitions" ->
      """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
        |             event_id, event_type FROM events),
        |p AS (SELECT user_id, event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY s, event_id)
        |          AS to_type FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.row_total,
        |  CAST((c.n * 1000000) // t.row_total AS BIGINT) AS p_micro
        |FROM c JOIN t USING (from_type) ORDER BY 1, 2""".stripMargin,
    // q123: the same two derived snapshots, the same 0x01-joined /
    // 0x00-null-sentinel md5 row digest, one FULL OUTER JOIN — rows
    // where either side is absent or digests differ
    "q123_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(concat_ws(chr(1), text, lang, source,
        |             CAST(n_chars AS VARCHAR))) AS d
        |           FROM documents WHERE doc_id % 17 <> 0),
        |n AS (SELECT doc_id, md5(concat_ws(chr(1),
        |        CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END,
        |        lang, source, CAST(n_chars AS VARCHAR))) AS d
        |      FROM documents WHERE doc_id % 19 <> 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.d AS od, n.d AS nd
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN od IS NULL THEN 'added'
        |       WHEN nd IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change_type
        |FROM j WHERE od IS NULL OR nd IS NULL OR od <> nd
        |ORDER BY doc_id""".stripMargin,
    // q124: q35's islands SQL with the session keyed by its start
    // second instead of a per-user ordinal (the streaming operator
    // emits sessions as they close, so an ordinal would impose a
    // global per-user order the stream never materializes). Window
    // tie order uses (sec, value) — island MEMBERSHIP only depends on
    // the floored-second deltas, so any within-second order yields
    // the same sessions, and every emitted aggregate is
    // order-independent (min/max/count/rounded sum)
    "q124_stream_sessionize" ->
      """WITH e AS (SELECT user_id, value,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
        |f AS (SELECT *, CASE WHEN lag(sec) OVER w IS NULL
        |                       OR sec - lag(sec) OVER w > 21600 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, value)),
        |g AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY sec, value
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |      FROM f)
        |SELECT user_id, min(sec) AS session_start_sec, count(*) AS n_events,
        |  max(sec) - min(sec) AS duration_sec, round(sum(value), 2) AS value_sum
        |FROM g GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start_sec""".stripMargin,
    // q125: the window formulation the aggregate replaces — DuckDB can
    // afford it at oracle scale; doc_id is the unique tie-break that
    // makes both formulations deterministic
    "q125_topk_group" ->
      """WITH r AS (SELECT source, n_chars, doc_id,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY n_chars DESC, doc_id) AS rank
        |FROM documents)
        |SELECT source, CAST(rank AS BIGINT) AS rank, n_chars, doc_id
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // q126: the identical 52-bit md5-prefix priority (kmvDistinct's
    // exact-integer hash idiom), ranked by the window formulation the
    // bounded aggregate replaces
    "q126_group_sample" ->
      """WITH p AS (SELECT source, doc_id,
        |  CAST('0x' || substr(md5('s12:' || CAST(doc_id AS VARCHAR)), 1, 13)
        |       AS BIGINT) AS priority
        |FROM documents),
        |r AS (SELECT source, priority, doc_id,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY priority DESC, doc_id) AS rank
        |FROM p)
        |SELECT source, CAST(rank AS BIGINT) AS rank, priority, doc_id
        |FROM r WHERE rank <= 4 ORDER BY source, rank""".stripMargin,
    // q127: tumbling-window floor on the whole-second epoch — identical
    // hour assignment to Spark's window() for any sub-second precision
    "q127_stream_windowed_agg" ->
      """WITH e AS (SELECT event_type, value,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events)
        |SELECT (sec // 3600) * 3600 AS window_start_sec, event_type,
        |       count(*) AS n, round(sum(value), 2) AS value_sum
        |FROM e GROUP BY 1, 2
        |ORDER BY window_start_sec, event_type""".stripMargin,
    // q128: the identical exact-integer priority-sampling arithmetic —
    // 52-bit md5 prefix cut to 31 uniform bits, BIGINT floor division
    // (DuckDB // == Spark DIV for non-negative operands)
    "q128_weighted_sample" ->
      """WITH p AS (SELECT source, doc_id, n_chars,
        |  CAST('0x' || substr(md5('w12:' || CAST(doc_id AS VARCHAR)), 1, 13)
        |       AS BIGINT) AS h
        |FROM documents WHERE n_chars > 0),
        |q AS (SELECT source, doc_id,
        |  (CAST(n_chars AS BIGINT) * 2147483648) // ((h // 2097152) + 1) AS priority
        |FROM p),
        |r AS (SELECT source, priority, doc_id,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY priority DESC, doc_id) AS rank
        |FROM q)
        |SELECT source, CAST(rank AS BIGINT) AS rank, priority, doc_id
        |FROM r WHERE rank <= 4 ORDER BY source, rank""".stripMargin,
    // q129: q57's tokenization, exact counts, the row_number cut the
    // bounded sketch replaces; err is identically 0 in the exact regime
    "q129_freq_terms" ->
      """WITH toks AS (SELECT source,
        |  unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                     x -> x <> '')) AS term
        |FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |r AS (SELECT source, term, cnt,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY cnt DESC, term) AS rank
        |FROM c)
        |SELECT source, CAST(rank AS BIGINT) AS rank, term, cnt,
        |       CAST(0 AS BIGINT) AS err
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // q130: q121's exact SQL — the union property makes the rollup's
    // answer identical to the direct sketch
    "q130_kmv_rollup" -> KmvBySourceSql,
    // q140: q121's exact SQL again — the streaming-maintained sketch
    // table must answer identically regardless of micro-batching
    "q140_stream_kmv" -> KmvBySourceSql,
    // q131: the batch interval join the streaming engine must agree
    // with — whole-second epochs band identically on both engines
    "q131_stream_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS click_sec,
        |             value AS click_value
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, event_id AS purchase_id,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS purchase_sec,
        |             value AS purchase_value
        |           FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id, click_sec, purchase_sec,
        |       click_value, purchase_value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND purchase_sec >= click_sec AND purchase_sec <= click_sec + 7200
        |ORDER BY click_id, purchase_id""".stripMargin,
    // q132: q35's islands CTE reduced to session spans, then the sweep
    // line as a window running sum over per-second net deltas
    "q132_concurrency" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
        |f AS (SELECT *, CASE WHEN lag(sec) OVER w IS NULL
        |                       OR sec - lag(sec) OVER w > 21600 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |      FROM f),
        |s AS (SELECT user_id, session_seq, min(sec) AS start_sec, max(sec) AS end_sec
        |      FROM g GROUP BY user_id, session_seq),
        |d AS (SELECT start_sec AS sec, 1 AS dd FROM s
        |      UNION ALL SELECT end_sec + 1 AS sec, -1 AS dd FROM s),
        |n AS (SELECT sec, CAST(sum(dd) AS BIGINT) AS net FROM d GROUP BY sec)
        |SELECT sec, net,
        |  CAST(sum(net) OVER (ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
        |FROM n ORDER BY sec""".stripMargin,
    // q133: identical integer arithmetic — bin = v // width, rank =
    // ceil(p*n/100) as (p*n + 99) // 100, quantile = first bin whose
    // cumulative count reaches the rank, reported as bin * width
    "q133_hist_quantiles" -> HistBySourceSql,
    // q138: q133's exact SQL — histogram union is plain bin-count
    // addition, so the sharded rollup's answer is identical to the
    // direct histogram and one oracle gates both (the q130 pattern)
    "q138_hist_rollup" -> HistBySourceSql,
    // q134: the admitted-key set is the distinct-key set by the finite-
    // replay argument (watermarks advance only between micro-batches)
    "q134_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // q135: q133's bin table joined back per row — rank = percent of
    // values in strictly lower bins, identical integer arithmetic
    "q135_cdf_rank" ->
      """WITH c AS (SELECT source, n_chars // 256 AS bin, count(*) AS cnt
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT source, bin, cnt,
        |        sum(cnt) OVER (PARTITION BY source ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY source) AS n
        |      FROM c)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  CAST(((m.cum - m.cnt) * 100) // m.n AS BIGINT) AS pct_lo
        |FROM documents d JOIN m ON d.source = m.source AND d.n_chars // 256 = m.bin
        |WHERE d.n_chars IS NOT NULL
        |ORDER BY d.doc_id""".stripMargin,
    // q136: the identical cleared-denominator inequality over BIGINT
    // moments (DuckDB's HUGEINT sums hold the same exact values)
    "q136_zscore_outliers" ->
      """WITH v AS (SELECT user_id, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS BIGINT) AS sm,
        |        CAST(sum(cents * cents) AS BIGINT) AS q
        |      FROM v GROUP BY user_id)
        |SELECT v.user_id, event_id, cents
        |FROM v JOIN s USING (user_id)
        |WHERE (n * cents - sm) * (n * cents - sm) > 9 * (n * q - sm * sm)
        |ORDER BY event_id""".stripMargin,
    // q137: the same sketch algebra replayed from scratch — per-source
    // k-smallest hash sets, pairwise combined, re-cut to k, counted;
    // 4503599627370496 = 2^52, 63 = k-1
    "q137_kmv_overlap" ->
      s"""WITH $ShinglesCte,
         |ssrc AS (SELECT d.source, sh.shingle
         |         FROM sh JOIN documents d USING (doc_id)),
         |dd AS (SELECT DISTINCT source,
         |        CAST('0x' || substring(md5(shingle), 1, 13) AS BIGINT) AS h FROM ssrc),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM dd),
         |sk AS (SELECT source, h FROM r WHERE rn <= 64),
         |srcs AS (SELECT DISTINCT source FROM sk),
         |pr AS (SELECT a.source AS sa, b.source AS sb
         |       FROM srcs a JOIN srcs b ON a.source < b.source),
         |uh AS (SELECT pr.sa, pr.sb, k.h,
         |         max(CASE WHEN k.source = pr.sa THEN 1 ELSE 0 END) AS ia,
         |         max(CASE WHEN k.source = pr.sb THEN 1 ELSE 0 END) AS ib
         |       FROM pr JOIN sk k ON k.source IN (pr.sa, pr.sb)
         |       GROUP BY pr.sa, pr.sb, k.h),
         |ur AS (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
         |       FROM uh),
         |t AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS m, max(h) AS kth,
         |        CAST(sum(ia * ib) AS BIGINT) AS c
         |      FROM ur WHERE rn <= 64 GROUP BY sa, sb),
         |e AS (SELECT sa, sb, c, m,
         |        CASE WHEN m < 64 THEN m
         |             ELSE (63 * 4503599627370496) // kth END AS union_est
         |      FROM t)
         |SELECT sa AS source_a, sb AS source_b, c AS n_common,
         |       CAST(union_est AS BIGINT) AS union_est,
         |       CAST(c * (union_est // m) AS BIGINT) AS inter_est,
         |       CAST(c * 1000000 // m AS BIGINT) AS jaccard_micro
         |FROM e ORDER BY source_a, source_b""".stripMargin,
    // q139: the batch LEFT JOIN the streaming outer emission must agree
    // with; a click has either matches or exactly one null row, so null
    // ordering never decides a tie
    "q139_stream_left_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS click_sec
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, event_id AS purchase_id,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS purchase_sec
        |           FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, click_sec, purchase_id, purchase_sec
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.purchase_sec >= c.click_sec - 7200
        |  AND p.purchase_sec <= c.click_sec + 7200
        |ORDER BY click_id, purchase_id""".stripMargin,
    // q141: the oracle brute-forces the vocabulary cross product — the
    // filtered join must produce the IDENTICAL pair set, so any count-
    // filter false negative is a hash mismatch by construction
    "q141_fuzzy_linkage" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part
        |           WHERE p_name IS NOT NULL)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 2
        |ORDER BY name_a, name_b""".stripMargin,
    // q142: the identical integer recurrence, unrolled — see PageRankSql
    "q142_pagerank" -> PageRankSql,
    // q143: the textbook quadratic NOT EXISTS — the engine's staircase
    // must select the identical frontier
    "q143_skyline" ->
      s"""WITH dd AS (SELECT doc_id,
         |              len(list_distinct($TokensSql)) AS n_distinct,
         |              n_chars
         |            FROM documents
         |            WHERE text IS NOT NULL AND n_chars IS NOT NULL)
         |SELECT doc_id, n_distinct, n_chars FROM dd a
         |WHERE NOT EXISTS (SELECT 1 FROM dd b
         |  WHERE b.n_distinct >= a.n_distinct AND b.n_chars <= a.n_chars
         |    AND (b.n_distinct > a.n_distinct OR b.n_chars < a.n_chars))
         |ORDER BY doc_id""".stripMargin,
    // q144: id-ordered 3-way join (a<b<c) enumerates each triangle
    // once; the engine's degree orientation must credit identically
    "q144_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |            FROM lineitem
        |            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT g FROM li GROUP BY g HAVING count(*) <= 1000),
        |ic AS (SELECT li.g, li.i FROM li JOIN sized USING (g)),
        |e AS (SELECT DISTINCT a.i AS s, b.i AS t
        |      FROM ic a JOIN ic b ON a.g = b.g AND a.i < b.i),
        |tr AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |       FROM e e1 JOIN e e2 ON e2.s = e1.t
        |                 JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |vt AS (SELECT a AS v FROM tr UNION ALL SELECT b FROM tr
        |       UNION ALL SELECT c FROM tr),
        |cnt AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM vt GROUP BY v)
        |SELECT p_partkey, COALESCE(n, CAST(0 AS BIGINT)) AS n_triangles
        |FROM (SELECT DISTINCT p_partkey FROM part WHERE p_partkey IS NOT NULL)
        |LEFT JOIN cnt ON v = p_partkey
        |ORDER BY p_partkey""".stripMargin,
    // q145: the oracle rebuilds the identical md5-cut chain and closes
    // it with a recursive min-reachable-label walk — the star
    // contraction must land on the same (node, min id) labeling
    "q145_cc_star" ->
      """WITH RECURSIVE
        |ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
        |ch AS (SELECT a.doc_id AS src, a.doc_id + 1 AS dst
        |       FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
        |       WHERE CAST('0x' || substring(md5('cut:' || CAST(a.doc_id AS VARCHAR)), 1, 13)
        |               AS BIGINT) % 64 <> 0),
        |e AS (SELECT src, dst FROM ch UNION ALL SELECT dst, src FROM ch),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM ids
        |  UNION
        |  SELECT e.src, r.r FROM e JOIN reach r ON r.node = e.dst
        |)
        |SELECT node AS doc_id, min(r) AS component
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    // q146: the oracle rebuilds the identical Bloom filter (same md5
    // positions, same 32-bit word packing) and must reproduce every
    // probe answer INCLUDING the deterministic false positives
    "q146_bloom_novelty" -> BloomNoveltyOracleSql,
    // q147: the oracle replays the identical positional-fingerprint
    // pipeline — same tokenization, same md5-of-8-gram windows, same
    // distinct-doc cut, same gap-1 island merge
    "q147_dup_passages" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS w FROM documents),
         |g AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
         |        md5(array_to_string(w[CAST(t.i AS INT):CAST(t.i + 7 AS INT)], ' ')) AS gram
         |      FROM tok, UNNEST(range(1, len(w) - 6)) AS t(i)),
         |dup AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
         |        GROUP BY gram HAVING count(*) >= 2),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM p),
         |sp AS (SELECT doc_id, min(pos) AS start_pos, max(pos) AS e
         |       FROM isl GROUP BY doc_id, grp)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_pos) AS BIGINT) AS span_seq,
         |  start_pos, e + 7 AS end_pos, e - start_pos + 1 AS n_grams
         |FROM sp ORDER BY doc_id, span_seq""".stripMargin,
    // q149: the identical hash-argmin recurrence, unrolled — see
    // RandomWalkSql
    "q149_random_walks" -> RandomWalkSql,
    // q153: the wid-keyed ensemble recurrence — see RandomWalkEnsembleSql
    "q153_walk_ensemble" -> RandomWalkEnsembleSql,
    // q150: the full PQ pipeline replayed — same seeds, same tie-breaks,
    // same round-6 codebook state per round, same fixed-order ADC sum —
    // see PqAdcSql
    "q150_pq_adc" -> PqAdcSql,
    // q152: the q150 training replay composed with q75's coarse CTEs —
    // see IvfPqOracleSql
    "q152_ann_ivfpq" -> IvfPqOracleSql,
    // q155: incremental growth may not change a single neighbor vs the
    // full rebuild — q152's oracle verbatim (the q78 discipline)
    "q155_ann_ivfpq_append" -> IvfPqOracleSql,
    // q156: the deterministic-log tf·idf replay — see TfidfCosineOracleSql
    "q156_tfidf_cosine" -> TfidfCosineOracleSql,
    // q151: the incrementally-maintained filter must answer exactly like
    // q146's from-scratch build (bit_or union is exact), so one oracle
    // gates both — any divergence is the maintenance lifecycle's fault
    "q151_stream_bloom" -> BloomNoveltyOracleSql,
    // q154: the identical generator at the sharded-probe mBits — the
    // filter is a pure function of (key set, mBits), so the broadcast
    // and co-partitioned probes must agree with the same replay
    "q154_bloom_sharded" -> bloomNoveltySql(BloomShardedMBits),
    // q157: the peel unrolled 8 rounds over the identical clique-chain
    // CTEs — rounds past the fixpoint are no-ops, so the bounded
    // unroll equals the fixpoint the Spark loop converges to
    "q157_kcore" -> KCoreSql,
    // q158: the indexed semantic dedup must return q89's exact keep
    // set — one oracle gates both (the q152/q155 discipline)
    "q158_semdedup_indexed" -> SemDedupOracleSql,
    // q159: kMax chained peel phases, each vertex's max surviving k —
    // see CoreNumbersSql
    "q159_core_numbers" -> CoreNumbersSql,
    "q160_hybrid_rrf" -> HybridRrfSql,
    "q161_count_min" -> CountMinSql,
    "q162_label_prop" -> LabelPropSql,
    // q163/q164 are physical-path variants of q161/q160: the streamed
    // sketch is cell-wise identical to the batch build, and the
    // exhaustive-nprobe index probe equals the brute dense leg — one
    // oracle text each, the q108/q118 persisted-lifecycle discipline
    "q163_stream_countmin" -> CountMinSql,
    "q164_hybrid_rrf_indexed" -> HybridRrfSql,
    "q165_hll_distinct" -> HllSql,
    // q166 is q165's physical-path variant (register-max streamed
    // maintenance ≡ the batch sketch), the q163 treatment
    "q166_stream_hll" -> HllSql,
    "q167_modularity" -> ModularitySql,
    "q168_ppr" -> PersonalizedPageRankSql,
    "q169_curation_mix" -> CurationMixSql,
    "q170_countmin_window" -> CountMinWindowSql,
    // q171 is q170's physical-path variant (day shards maintained from
    // a stream; cell sums are associative) — one oracle gates both.
    "q171_stream_countmin_window" -> CountMinWindowSql,
    // q172: drift row + grown-graph PageRank — see GraphDriftSql
    "q172_graph_drift" -> GraphDriftSql,
    // q173: the six-gate mix — see CurationFreshSql
    "q173_curation_fresh" -> CurationFreshSql,
    // q174: the batch probe replayed per query — see IvfPqBatchOracleSql
    "q174_ann_ivfpq_batch" -> IvfPqBatchOracleSql,
    // q175: the shared DriftCtes lifecycle over q168's PPR recurrence
    "q175_ppr_drift" -> PprDriftSql
  )

  // Shared by q133 (direct histogram quantiles) and q138 (per-shard
  // sketches merged by bin-count addition): the histogram union is
  // exact, so the rollup's answer is IDENTICAL to the direct
  // computation and any divergence is the merge's fault by construction.
  private lazy val HistBySourceSql =
    """WITH c AS (SELECT source, n_chars // 256 AS bin, count(*) AS cnt
      |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT source, bin, cnt,
      |        sum(cnt) OVER (PARTITION BY source ORDER BY bin
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        sum(cnt) OVER (PARTITION BY source) AS n
      |      FROM c)
      |SELECT source, CAST(max(n) AS BIGINT) AS n,
      |  CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) * 256 AS BIGINT) AS p50_lo,
      |  CAST(min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END) * 256 AS BIGINT) AS p90_lo,
      |  CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) * 256 AS BIGINT) AS p99_lo
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  // Shared by q121 (direct per-source sketch) and q130 (per-shard
  // sketches merged by union + re-cut): the KMV union property makes
  // the two-level rollup's answer IDENTICAL to the direct sketch, so
  // one oracle gates both — any divergence is the merge's fault by
  // construction.
  private lazy val KmvBySourceSql =
    s"""WITH $ShinglesCte,
       |ssrc AS (SELECT d.source, sh.shingle
       |         FROM sh JOIN documents d USING (doc_id)),
       |dd AS (SELECT DISTINCT source,
       |        CAST('0x' || substring(md5(shingle), 1, 13) AS BIGINT) AS h FROM ssrc),
       |r AS (SELECT source, h,
       |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM dd),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |        max(h) AS kth_hash FROM r WHERE rn <= 64 GROUP BY source)
       |SELECT source, n_kept, kth_hash,
       |  CASE WHEN n_kept < 64 THEN n_kept
       |       ELSE (CAST(63 AS BIGINT) << 52) // kth_hash END AS est_distinct
       |FROM s ORDER BY source""".stripMargin

  // The q142 recurrence unrolled: each iteration is the same exact-
  // integer step (base 150000, damping 85//100, messages pr//deg), so
  // the SQL is generated by the same loop the Spark side runs — any
  // divergence is the distributed execution's fault by construction
  /** The mirrored, group-size-capped co-purchase graph over lineitem —
    * ONE text shared by the q142 (PageRank) and q149 (random walks)
    * oracles so the edge definition can never drift between them.
    */
  /** The capped item-per-order prefix (li/sized/ic) + part vertex set
    * (v) — shared by [[CoPurchaseGraphCte]] and q172's split-graph
    * oracle so the group cap and null discipline can never drift
    * between the whole-corpus and base/batch edge definitions.
    */
  private lazy val CoPurchasePrefixCte =
    """li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
      |            FROM lineitem
      |            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |sized AS (SELECT g FROM li GROUP BY g HAVING count(*) <= 1000),
      |ic AS (SELECT li.g, li.i FROM li JOIN sized USING (g)),
      |v AS (SELECT DISTINCT p_partkey AS vx FROM part
      |      WHERE p_partkey IS NOT NULL)""".stripMargin

  private lazy val CoPurchaseGraphCte =
    s"""$CoPurchasePrefixCte,
       |e AS (SELECT DISTINCT a.i AS src, b.i AS dst
       |      FROM ic a JOIN ic b ON a.g = b.g AND a.i <> b.i)""".stripMargin

  /** The q142 integer-PageRank recurrence unrolled over CTEs `e`
    * (edges), `v` (vertices), `d` (degrees), `p0` (start) — shared by
    * [[PageRankSql]] and q172's grown-graph replay so the recurrence
    * text cannot drift between them.
    */
  private def pageRankIterCtes(n: Int): String =
    (1 to n).map { k =>
      s"""p$k AS (SELECT v.vx,
         |  CAST(150000 + (85 * COALESCE(m.msg, 0)) // 100 AS BIGINT) AS pr
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS vx, SUM(p${k - 1}.pr // d.deg) AS msg
         |    FROM e JOIN p${k - 1} ON e.src = p${k - 1}.vx
         |           JOIN d ON d.src = e.src
         |    GROUP BY e.dst) m ON m.vx = v.vx)""".stripMargin
    }.mkString(",\n")

  private lazy val PageRankSql =
    s"""WITH $CoPurchaseGraphCte,
       |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT vx, CAST(1000000 AS BIGINT) AS pr FROM v),
       |${pageRankIterCtes(5)}
       |SELECT vx AS p_partkey, pr AS rank_micro
       |FROM p5 ORDER BY p_partkey""".stripMargin

  /** The drift-lifecycle CTE block SHARED by q172 (cached PageRank)
    * and q175 (cached PPR): base/batch edge split over the shared
    * capped prefix, grown SET-union graph `e`, and the drift row `dr`
    * replaying `Graph.graphDriftReport` / `cooccurrenceDriftReport`
    * exactly (touched endpoints ∪ their 1-hop ring in the grown graph,
    * intersected with the vertex universe, micro-fraction by integer
    * division). ONE text, so the lifecycle arithmetic cannot drift
    * between the cached-result queries it governs.
    */
  private lazy val DriftCtes =
    s"""eb AS (SELECT DISTINCT a.i AS src, b.i AS dst
       |       FROM ic a JOIN ic b ON a.g = b.g AND a.i <> b.i WHERE a.g % 7 <> 0),
       |en AS (SELECT DISTINCT a.i AS src, b.i AS dst
       |       FROM ic a JOIN ic b ON a.g = b.g AND a.i <> b.i WHERE a.g % 7 = 0),
       |e AS (SELECT src, dst FROM eb UNION SELECT src, dst FROM en),
       |touched AS (SELECT src AS vv FROM en UNION SELECT dst FROM en),
       |grown AS (SELECT src, dst FROM eb UNION ALL SELECT src, dst FROM en),
       |ring AS (SELECT g2.dst AS vv FROM grown g2 JOIN touched t ON t.vv = g2.src
       |         UNION
       |         SELECT g2.src FROM grown g2 JOIN touched t ON t.vv = g2.dst),
       |affected AS (SELECT vv FROM touched UNION SELECT vv FROM ring),
       |uni AS (SELECT vx AS vv FROM v UNION SELECT vv FROM touched),
       |dr AS (SELECT CAST(nu AS BIGINT) AS n_universe, CAST(na AS BIGINT) AS n_affected,
       |         CAST(1000000 * na // nu AS BIGINT) AS affected_micro
       |       FROM (SELECT (SELECT count(*) FROM uni) AS nu,
       |               (SELECT count(*) FROM (SELECT vv FROM affected INTERSECT SELECT vv FROM uni)) AS na))""".stripMargin

  /** q172's oracle: [[DriftCtes]] (base/batch split, grown graph, the
    * exact drift row) with the q142 recurrence replayed over the grown
    * SET-union graph — named `e` so [[pageRankIterCtes]] applies
    * verbatim. The rebuild flag is part of the hashed output: if the
    * fixture ever dropped under the threshold, the Spark side would
    * serve base-graph ranks and mismatch loudly.
    */
  private lazy val GraphDriftSql =
    s"""WITH $CoPurchasePrefixCte,
       |$DriftCtes,
       |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT vx, CAST(1000000 AS BIGINT) AS pr FROM v),
       |${pageRankIterCtes(5)}
       |SELECT vx AS p_partkey, pr AS rank_micro,
       |  n_universe, n_affected, affected_micro,
       |  (affected_micro >= $DriftThresholdMicro) AS rebuild
       |FROM p5, dr ORDER BY p_partkey""".stripMargin

  /** q175's oracle: the SAME [[DriftCtes]] lifecycle with the q168
    * seed-gated teleport recurrence ([[pprIterCtes]] — one text with
    * q168, so the recurrence cannot drift) over the grown graph. The
    * drift row rides every output row exactly as in q172.
    */
  private lazy val PprDriftSql =
    s"""WITH $CoPurchasePrefixCte,
       |$DriftCtes,
       |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT vx, CAST(1000000 * (CASE WHEN vx % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pr FROM v),
       |${pprIterCtes(5)}
       |SELECT vx AS p_partkey, pr AS rank_micro,
       |  n_universe, n_affected, affected_micro,
       |  (affected_micro >= $DriftThresholdMicro) AS rebuild
       |FROM p5, dr ORDER BY p_partkey""".stripMargin

  /** The q149 recurrence unrolled: each step scores the frontier's
    * out-neighbors with the identical md5-prefix hash and takes the
    * (hash, id)-minimum — generated by the same loop shape the Spark
    * side runs, so any divergence is the distributed execution's fault
    * by construction (the q142 oracle discipline).
    */
  private lazy val RandomWalkSql = {
    val steps = (1 to 4).map { t =>
      s"""s$t AS (SELECT w${t - 1}.root, e.dst,
         |  CAST('0x' || substring(md5('wk:' || CAST(w${t - 1}.root AS VARCHAR) || ':$t:' || CAST(e.dst AS VARCHAR)), 1, 13) AS BIGINT) AS h
         |  FROM w${t - 1} JOIN e ON e.src = w${t - 1}.cur),
         |m$t AS (SELECT root, min(h) AS mh FROM s$t GROUP BY root),
         |w$t AS (SELECT s$t.root, min(s$t.dst) AS cur FROM s$t
         |        JOIN m$t ON m$t.root = s$t.root AND s$t.h = m$t.mh
         |        GROUP BY s$t.root)""".stripMargin
    }.mkString(",\n")
    val sel = (0 to 4)
      .map(t => s"SELECT root, CAST($t AS BIGINT) AS step, cur AS node FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""WITH $CoPurchaseGraphCte,
       |w0 AS (SELECT vx AS root, vx AS cur FROM v),
       |$steps
       |SELECT root AS p_partkey, step, node FROM (
       |  $sel
       |) ORDER BY p_partkey, step""".stripMargin
  }

  /** q156's oracle: tf·idf cosine with the DETERMINISTIC log replayed
    * textually — the same staged exact-binary-exponent range reduction
    * + atanh series as [[PmiOracleSql]] (e from the binary-string
    * length, mantissa poly in pure doubles, every literal CAST), for
    * the two counts the idf needs (per-term df and the corpus N).
    * Integer weights, integer dots and norms, one rounded float at the
    * end — the Spark side's exact shape.
    */
  private lazy val TfidfCosineOracleSql: String = {
    def d(s: String) = s"CAST($s AS DOUBLE)"
    val xs = Seq("df" -> "df", "n" -> "nn")
    val keep = "d, term, tf"
    val mm = xs.map { case (x, t) =>
      s"length(bin($x)) - 1 AS e_$t, " +
        s"${d(x)} / ${d(s"(CAST(1 AS BIGINT) << (length(bin($x)) - 1))")} AS m_$t"
    }.mkString(", ")
    val es = xs.map { case (_, t) => s"e_$t" }.mkString(", ")
    val zz = xs.map { case (_, t) =>
      s"(m_$t - ${d("1.0")}) / (m_$t + ${d("1.0")}) AS z_$t"
    }.mkString(", ")
    val zs = xs.map { case (_, t) => s"z_$t" }.mkString(", ")
    val qq = xs.map { case (_, t) => s"z_$t * z_$t AS q_$t" }.mkString(", ")
    def poly(t: String) =
      s"(${d("2.0")} * z_$t) * (${d("1.0")} + q_$t * ((${d("1.0")} / ${d("3.0")}) " +
        s"+ q_$t * ((${d("1.0")} / ${d("5.0")}) + q_$t * ((${d("1.0")} / ${d("7.0")}) " +
        s"+ q_$t * ((${d("1.0")} / ${d("9.0")}) + q_$t * ((${d("1.0")} / ${d("11.0")}) " +
        s"+ q_$t * ((${d("1.0")} / ${d("13.0")}) + q_$t * (${d("1.0")} / ${d("15.0")}))))))))"
    val ll = xs.map { case (_, t) =>
      s"${d(s"e_$t")} * ${d("0.6931471805599453")} + ${poly(t)} AS l_$t"
    }.mkString(", ")
    s"""WITH t2 AS (SELECT doc_id, $TokensSql AS toks FROM documents),
       |tp AS (SELECT doc_id AS d, unnest(toks) AS term FROM t2),
       |tf AS (SELECT d, term, CAST(count(*) AS BIGINT) AS tf FROM tp GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
       |        GROUP BY 1 HAVING count(*) <= greatest(
       |          CAST($TfidfMaxDf AS BIGINT),
       |          CAST(floor($TfidfMaxDfFrac * (SELECT count(*) FROM documents)) AS BIGINT))),
       |cn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |j AS (SELECT tf.d, tf.term, tf.tf, dfq.df, cn.n
       |      FROM tf JOIN dfq USING (term), cn),
       |mm AS (SELECT $keep, $mm FROM j),
       |zz AS (SELECT $keep, $es, $zz FROM mm),
       |qz AS (SELECT $keep, $es, $zs, $qq FROM zz),
       |ll AS (SELECT $keep, $ll FROM qz),
       |w AS (SELECT d, term,
       |        tf * CAST(floor((l_nn - l_df) * ${d("1000.0")}) AS BIGINT) AS w
       |      FROM ll),
       |wp AS (SELECT d, term, w FROM w WHERE w > 0),
       |nm AS (SELECT d, CAST(sum(w * w) AS BIGINT) AS n2 FROM wp GROUP BY d),
       |dots AS (SELECT a.d AS doc_a, b.d AS doc_b,
       |           CAST(sum(a.w * b.w) AS BIGINT) AS dot
       |         FROM wp a JOIN wp b ON a.term = b.term AND a.d < b.d
       |         GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT dots.doc_a, dots.doc_b,
       |    round(${d("dot")} / (sqrt(${d("na.n2")}) * sqrt(${d("nb.n2")})), 6) AS cos_sim
       |  FROM dots JOIN nm na ON na.d = dots.doc_a JOIN nm nb ON nb.d = dots.doc_b)
       |WHERE cos_sim >= $TfidfMinSim
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The q153 ensemble recurrence unrolled: [[RandomWalkSql]]'s loop
    * with the walk id as an extra frontier key and an extra `:`-joined
    * hash component — generated by the same loop shape the Spark side
    * runs, sharing [[CoPurchaseGraphCte]] so the edge definition
    * cannot drift from q142/q149.
    */
  private lazy val RandomWalkEnsembleSql = {
    val (walks, len) = (2, 4)
    val steps = (1 to len).map { t =>
      s"""s$t AS (SELECT w${t - 1}.wid, w${t - 1}.root, e.dst,
         |  CAST('0x' || substring(md5('wk:' || CAST(w${t - 1}.wid AS VARCHAR) || ':' || CAST(w${t - 1}.root AS VARCHAR) || ':$t:' || CAST(e.dst AS VARCHAR)), 1, 13) AS BIGINT) AS h
         |  FROM w${t - 1} JOIN e ON e.src = w${t - 1}.cur),
         |m$t AS (SELECT wid, root, min(h) AS mh FROM s$t GROUP BY wid, root),
         |w$t AS (SELECT s$t.wid, s$t.root, min(s$t.dst) AS cur FROM s$t
         |        JOIN m$t ON m$t.wid = s$t.wid AND m$t.root = s$t.root AND s$t.h = m$t.mh
         |        GROUP BY s$t.wid, s$t.root)""".stripMargin
    }.mkString(",\n")
    val sel = (0 to len)
      .map(t => s"SELECT wid, root, CAST($t AS BIGINT) AS step, cur AS node FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""WITH $CoPurchaseGraphCte,
       |wd AS (SELECT CAST(u.w AS BIGINT) AS wid FROM UNNEST(range(0, $walks)) AS u(w)),
       |w0 AS (SELECT wd.wid, vx AS root, vx AS cur FROM v, wd),
       |$steps
       |SELECT root AS p_partkey, wid AS walk, step, node FROM (
       |  $sel
       |) ORDER BY p_partkey, walk, step""".stripMargin
  }

  /** q89's oracle — ALSO gates q158 (the IVF-PQ-indexed semantic
    * dedup): the indexed path must produce the IDENTICAL keep set, so
    * one SQL text gates both and any divergence is the index
    * composition's fault by construction (the q152/q155 discipline).
    */
  private lazy val SemDedupOracleSql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |sim AS (SELECT e.vec_id, c.cid,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x, unnest(c.cvec) AS y) z) AS dot,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
        |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(c.cvec) AS y) z) AS n2b
        | FROM embeddings e, c),
        |cs AS (SELECT vec_id, cid, dot / (sqrt(n2a) * sqrt(n2b)) AS cs
        |       FROM sim WHERE n2a > 0 AND n2b > 0),
        |asg AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |         FROM cs) WHERE rn = 1),
        |v AS (SELECT e.vec_id, a.cid, e.embedding,
        |        sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |              FROM (SELECT unnest(e.embedding) AS x) z)) AS nrm
        |      FROM embeddings e JOIN asg a USING (vec_id)),
        |p AS (SELECT b.vec_id AS id_b
        |      FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |      WHERE a.nrm * b.nrm > 0
        |        AND (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |             FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z)
        |            / (a.nrm * b.nrm) >= 0.45)
        |SELECT v.vec_id, CAST(v.cid AS BIGINT) AS centroid_id,
        |       (v.vec_id NOT IN (SELECT id_b FROM p)) AS kept
        |FROM v ORDER BY v.vec_id""".stripMargin

  /** The q157/q159 clique-chain graph as SQL — ONE text shared by both
    * oracles (the CoPurchaseGraphCte discipline), ending in the
    * canonical edge CTE `e0`.
    */
  private lazy val KCoreGraphCte =
    """ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
      |ms AS (SELECT doc_id, doc_id // 6 AS g, doc_id % 6 AS j FROM ids),
      |mm AS (SELECT doc_id, g, j,
      |         3 + (CAST('0x' || substring(md5('kc:' || CAST(g AS VARCHAR)), 1, 13) AS BIGINT) % 4) AS s
      |       FROM ms),
      |m AS (SELECT doc_id, g, j, s FROM mm WHERE j < s),
      |ce AS (SELECT x.doc_id AS a, y.doc_id AS b
      |       FROM m x JOIN m y ON x.g = y.g AND x.doc_id < y.doc_id),
      |ch AS (SELECT m.doc_id AS a, (m.g + 1) * 6 AS b
      |       FROM m JOIN ids i ON i.doc_id = (m.g + 1) * 6
      |       WHERE m.j = m.s - 1),
      |e0 AS MATERIALIZED (SELECT DISTINCT a, b
      |       FROM (SELECT a, b FROM ce UNION ALL SELECT a, b FROM ch))""".stripMargin

  /** One unrolled peel phase at degree `k`: `rounds` rounds of "drop
    * endpoints with degree < k, keep edges between survivors" from
    * input CTE `$p e0` to output `$p e$rounds` (all names prefixed by
    * `p`, so phases compose for the decomposition oracle). The round
    * CTEs are `AS MATERIALIZED`: each round references its predecessor
    * three times (twice in the degree union, once in the filter), so
    * DuckDB's default CTE inlining would copy the base self-join 3^r
    * times — materialization makes the unroll linear (measured 0.05 s
    * vs not terminating in minutes).
    */
  private def kcorePeelCtes(p: String, k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      s"""${p}d$r AS MATERIALIZED (SELECT x AS v, CAST(count(*) AS BIGINT) AS d FROM
         |  (SELECT a AS x FROM ${p}e${r - 1} UNION ALL SELECT b AS x FROM ${p}e${r - 1})
         |  GROUP BY 1),
         |${p}e$r AS MATERIALIZED (SELECT a, b FROM ${p}e${r - 1}
         |        WHERE a IN (SELECT v FROM ${p}d$r WHERE d >= $k)
         |          AND b IN (SELECT v FROM ${p}d$r WHERE d >= $k))""".stripMargin
    }.mkString(",\n")

  /** The q157 peel unrolled: the clique-chain graph rebuilt from the
    * identical md5 clique-size draw, then 8 rounds of the k = 3 peel —
    * generated by the same loop shape the Spark side runs. The peel is
    * idempotent at its fixpoint, so rounds 5–8 are no-ops on this
    * bounded-cascade construction (fixpoint measured at round ≤ 4 on
    * every sf) and the unrolled text equals the converged answer.
    */
  private lazy val KCoreSql = {
    val (k, rounds) = (3, 8)
    s"""WITH $KCoreGraphCte,
       |${kcorePeelCtes("", k, rounds)},
       |fd AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS d FROM
       |  (SELECT a AS x FROM e$rounds UNION ALL SELECT b AS x FROM e$rounds)
       |  GROUP BY 1)
       |SELECT v AS doc_id, d AS deg_in_core FROM fd ORDER BY doc_id""".stripMargin
  }

  /** The q159 decomposition unrolled: kMax = 5 peel phases chained
    * over a monotonically shrinking edge set (phase k starts from
    * phase k−1's fixpoint — the (k+1)-core is a subgraph of the
    * k-core, exactly the Spark loop's shape), 6 rounds each (fixpoint
    * measured at ≤ 4), then each vertex's core = the max k whose
    * phase it survived.
    */
  /** The core-number phases over `e0`, ending in the per-vertex CTE
    * `coren` — split out so q169 composes the decomposition with the
    * other doc-graph signals (the [[LpaRoundCtes]] discipline).
    */
  private lazy val CoreNumberPhaseCtes = {
    val (kMax, rounds) = (5, 6)
    val phases = (1 to kMax).map { k =>
      val prev = if (k == 1) "e0" else s"p${k - 1}e$rounds"
      s"""p${k}e0 AS MATERIALIZED (SELECT a, b FROM $prev),
         |${kcorePeelCtes(s"p$k", k, rounds)}""".stripMargin
    }.mkString(",\n")
    val surv = (1 to kMax).map { k =>
      s"""SELECT x AS v, $k AS k FROM
         |  (SELECT a AS x FROM p${k}e$rounds UNION ALL SELECT b AS x FROM p${k}e$rounds)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$phases,
       |coren AS (SELECT v AS doc_id, CAST(max(k) AS BIGINT) AS core FROM (
       |  $surv
       |) GROUP BY 1)""".stripMargin
  }

  private lazy val CoreNumbersSql =
    s"""WITH $KCoreGraphCte,
       |$CoreNumberPhaseCtes
       |SELECT doc_id, core FROM coren ORDER BY doc_id""".stripMargin

  /** q27's oracle, parameterized so q160 can embed the identical dense
    * leg at its own k (the bm25TopSql discipline).
    */
  private def knnCosineSql(k: Int): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |sc AS (SELECT e.vec_id,
       |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |   FROM (SELECT unnest(e.embedding) AS x, unnest(q.qe) AS y) z) AS dot,
       |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
       |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
       |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
       |   FROM (SELECT unnest(q.qe) AS y) z) AS n2b
       | FROM embeddings e, q WHERE e.vec_id <> 0)
       |SELECT vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS cos_sim
       |FROM sc WHERE n2a > 0 AND n2b > 0
       |ORDER BY cos_sim DESC, vec_id LIMIT $k""".stripMargin

  /** q160's oracle: the q107 and q27 oracle TEXTS embedded as the two
    * leg CTEs (one generator each — a leg cannot drift from its
    * standalone query), ranked by row_number over each leg's total
    * order, fused by the identical floor-of-double 10¹²-scaled
    * contribution, summed as exact BIGINTs.
    */
  private lazy val HybridRrfSql = {
    def contrib(rankCol: String) =
      s"CAST(floor(1000000000000.0 / ($RrfK.0 + CAST($rankCol AS DOUBLE))) AS BIGINT)"
    s"""WITH bm AS (${bm25TopSql(RrfKPerLeg)}),
       |bmr AS (SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
       |  FROM bm),
       |dn AS (${knnCosineSql(RrfKPerLeg)}),
       |dnr AS (SELECT vec_id AS doc_id,
       |  CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
       |  FROM dn),
       |u AS (SELECT doc_id, 1 AS sp, 0 AS de, ${contrib("rank")} AS c FROM bmr
       |      UNION ALL
       |      SELECT doc_id, 0 AS sp, 1 AS de, ${contrib("rank")} AS c FROM dnr)
       |SELECT doc_id,
       |  CAST(max(sp) AS BIGINT) AS in_sparse,
       |  CAST(max(de) AS BIGINT) AS in_dense,
       |  CAST(sum(c) AS BIGINT) AS rrf_scaled
       |FROM u GROUP BY doc_id
       |ORDER BY rrf_scaled DESC, doc_id LIMIT $RrfTopK""".stripMargin
  }

  /** q161's oracle: ONE count-min sketch over the whole token stream
    * (the Spark side builds it as a two-half MERGE — cell-wise BIGINT
    * sums are associative, so equality here proves merge = concat),
    * the identical salted-md5 rows, probes = the vocabulary, exact
    * counts alongside.
    */
  private lazy val CountMinSql = {
    def cell(i: String, term: String) =
      s"CAST('0x' || substring(md5('cm' || $i || ':' || $term), 1, 13) AS BIGINT) % $CmWidth"
    s"""WITH t2 AS (SELECT $TokensSql AS toks FROM documents),
       |tp AS (SELECT unnest(toks) AS term FROM t2),
       |cells AS (SELECT r.i AS row_idx, ${cell("CAST(r.i AS VARCHAR)", "term")} AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM tp, UNNEST(range(0, $CmDepth)) AS r(i) GROUP BY 1, 2),
       |tru AS (SELECT term, CAST(count(*) AS BIGINT) AS true_cnt FROM tp GROUP BY 1),
       |pc AS (SELECT term, r.i AS row_idx, ${cell("CAST(r.i AS VARCHAR)", "term")} AS bucket
       |  FROM (SELECT DISTINCT term FROM tp), UNNEST(range(0, $CmDepth)) AS r(i)),
       |est AS (SELECT pc.term, min(COALESCE(c.cnt, 0)) AS cm_est
       |  FROM pc LEFT JOIN cells c USING (row_idx, bucket) GROUP BY 1)
       |SELECT e.term, t.true_cnt, e.cm_est, e.cm_est - t.true_cnt AS overcount
       |FROM est e JOIN tru t USING (term) ORDER BY term""".stripMargin
  }

  /** q165's oracle: registers from the identical md5 split
    * (bucket = h mod m, rank = zeroRank − length(bin(suffix)) — `bin`
    * is the shared bit-length primitive), the exact-integer harmonic
    * denominator in 2^−zeroRank units, the scaled-α integer division,
    * and the linear-counting branch as a CASE table generated by the
    * SAME driver loop that builds the Spark map literal — no engine
    * evaluates a transcendental.
    */
  /** One HLL leg's CTE chain, prefixed so the two legs (different m,
    * different grouping) compose in one WITH — generated by the same
    * loop that builds the Spark map literal.
    */
  private def hllLegCtes(p: String, m: Int, grpExpr: String): String = {
    val zeroRank = 53 - Integer.numberOfTrailingZeros(m)
    val numer = Scale.hllAlphaM2(m) * (1L << zeroRank)
    val caseTable = (1 until m).map { v =>
      s"WHEN $v THEN CAST(${math.round(m.toDouble * math.log(m.toDouble / v))} AS BIGINT)"
    }.mkString(" ")
    s"""${p}vals AS (SELECT $grpExpr AS g, text FROM documents WHERE text IS NOT NULL),
       |${p}hh AS (SELECT g, CAST('0x' || substring(md5('hll:' || text), 1, 13) AS BIGINT) AS h FROM ${p}vals),
       |${p}rb AS (SELECT g, h % $m AS bucket, h // $m AS w FROM ${p}hh),
       |${p}rk AS (SELECT g, bucket,
       |         CASE WHEN w = 0 THEN $zeroRank ELSE $zeroRank - length(bin(w)) END AS rank FROM ${p}rb),
       |${p}reg AS (SELECT g, bucket, max(rank) AS register FROM ${p}rk GROUP BY 1, 2),
       |${p}ag AS (SELECT g, CAST(count(*) AS BIGINT) AS present,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST($zeroRank - register AS INT)) AS BIGINT) AS sp
       |       FROM ${p}reg GROUP BY 1),
       |${p}st AS (SELECT g, $m - present AS v_zero,
       |         sp + ($m - present) * (CAST(1 AS BIGINT) << $zeroRank) AS s_scaled FROM ${p}ag),
       |${p}es AS (SELECT g, v_zero, s_scaled,
       |         CASE WHEN ($numer // s_scaled) <= ${5L * m / 2} AND v_zero > 0
       |              THEN (CASE v_zero $caseTable ELSE NULL END)
       |              ELSE $numer // s_scaled END AS est_distinct
       |       FROM ${p}st),
       |${p}ex AS (SELECT g, CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct FROM ${p}vals GROUP BY 1),
       |${p}out AS (SELECT ${p}es.g AS source, v_zero, s_scaled, est_distinct, exact_distinct
       |       FROM ${p}es JOIN ${p}ex USING (g))""".stripMargin
  }

  private lazy val HllSql =
    s"""WITH ${hllLegCtes("a", HllM, "source")},
       |${hllLegCtes("b", HllMGlobal, "'_ALL_m16'")}
       |SELECT * FROM (SELECT * FROM aout UNION ALL SELECT * FROM bout)
       |ORDER BY source""".stripMargin

  /** q162's recurrence unrolled (the q142/q157 discipline): the
    * clique-chain graph rebuilt from [[KCoreGraphCte]], symmetrized,
    * then [[LpaRounds]] rounds of "adopt the neighbor-majority label,
    * ties to the smallest" — each round MATERIALIZED (referenced twice
    * downstream; see the kcorePeelCtes note on DuckDB CTE inlining).
    */
  /** The LPA rounds WITHOUT the graph prefix (und over a caller-supplied
    * `e0`) — split out so q169 can compose LPA with the other doc-graph
    * signal chains over ONE copy of [[KCoreGraphCte]].
    */
  private lazy val LpaRoundCtes = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""c$r AS MATERIALIZED (SELECT u.b AS v, l.lab, CAST(count(*) AS BIGINT) AS c
         |  FROM und u JOIN lab${r - 1} l ON l.v = u.a GROUP BY 1, 2),
         |lab$r AS MATERIALIZED (SELECT v, lab FROM (
         |  SELECT v, lab, row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
         |  FROM c$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""und AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       |lab0 AS (SELECT DISTINCT a AS v, a AS lab FROM und),
       |$rounds""".stripMargin
  }

  private lazy val LpaCtesText =
    s"""$KCoreGraphCte,
       |$LpaRoundCtes""".stripMargin

  private lazy val LabelPropSql =
    s"""WITH $LpaCtesText
       |SELECT v AS doc_id, lab AS label FROM lab$LpaRounds ORDER BY doc_id""".stripMargin

  /** q168's oracle: the q142 recurrence unrolled with the teleport
    * term gated to the seed set (`vx % 37 = 0`) — base 150 000 and
    * start mass 1 000 000 multiply the seed flag, everything else is
    * the identical integer-DIV text over [[CoPurchaseGraphCte]].
    */
  /** The q168 SEED-GATED teleport recurrence unrolled over CTEs `e`,
    * `v`, `d`, `p0` — shared by [[PersonalizedPageRankSql]] and q175's
    * grown-graph replay, the [[pageRankIterCtes]] discipline.
    */
  private def pprIterCtes(n: Int): String =
    (1 to n).map { k =>
      s"""p$k AS (SELECT v.vx,
         |  CAST(150000 * (CASE WHEN v.vx % 37 = 0 THEN 1 ELSE 0 END)
         |    + (85 * COALESCE(m.msg, 0)) // 100 AS BIGINT) AS pr
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS vx, SUM(p${k - 1}.pr // d.deg) AS msg
         |    FROM e JOIN p${k - 1} ON e.src = p${k - 1}.vx
         |           JOIN d ON d.src = e.src
         |    GROUP BY e.dst) m ON m.vx = v.vx)""".stripMargin
    }.mkString(",\n")

  private lazy val PersonalizedPageRankSql =
    s"""WITH $CoPurchaseGraphCte,
       |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT vx, CAST(1000000 * (CASE WHEN vx % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pr FROM v),
       |${pprIterCtes(5)}
       |SELECT vx AS p_partkey, pr AS rank_micro
       |FROM p5 ORDER BY p_partkey""".stripMargin

  /** q167's oracle: q162's unrolled LPA CTEs (one label text — the
    * labels cannot drift between the two queries) composed with
    * exact-integer edge/degree counting over the same canonical e0:
    * per community `q_num = 4·m·e_c − d_c²` over the common 4m²
    * denominator.
    */
  /** The modularity tail over `e0` + `lab$LpaRounds`, ending in the
    * per-community CTE `modq` — split out so q169 composes it (the
    * [[LpaRoundCtes]] discipline).
    */
  private lazy val ModularityTailCtes =
    s"""mm2 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
       |deg AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS d FROM
       |  (SELECT a AS x FROM e0 UNION ALL SELECT b AS x FROM e0) GROUP BY 1),
       |ei AS (SELECT la.lab AS label, CAST(count(*) AS BIGINT) AS e_internal
       |  FROM e0
       |  JOIN lab$LpaRounds la ON la.v = e0.a
       |  JOIN lab$LpaRounds lb ON lb.v = e0.b
       |  WHERE la.lab = lb.lab GROUP BY 1),
       |pc AS (SELECT l.lab AS label, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(sum(COALESCE(deg.d, 0)) AS BIGINT) AS d_total
       |       FROM lab$LpaRounds l LEFT JOIN deg ON deg.v = l.v GROUP BY 1),
       |modq AS (SELECT pc.label, pc.n_members,
       |  CAST(COALESCE(ei.e_internal, 0) AS BIGINT) AS e_internal, pc.d_total,
       |  CAST(4 * mm2.m * COALESCE(ei.e_internal, 0) - pc.d_total * pc.d_total AS BIGINT) AS q_num
       |FROM pc LEFT JOIN ei USING (label), mm2)""".stripMargin

  private lazy val ModularitySql =
    s"""WITH $LpaCtesText,
       |$ModularityTailCtes
       |SELECT label, n_members, e_internal, d_total, q_num FROM modq ORDER BY label""".stripMargin

  /** q169's PPR leg: the q168 teleport recurrence replayed over the
    * symmetrized doc graph (`und` — the SAME CTE the LPA rounds vote
    * over) with vertex universe `ids` and seed set `doc_id % 37 = 0`,
    * names prefixed `pr` so the fragment composes with the peel/LPA
    * chains. Ends at `prp5`.
    */
  private lazy val DocPprCtes = {
    val iters = (1 to 5).map { k =>
      s"""prp$k AS MATERIALIZED (SELECT i.doc_id AS vx,
         |  CAST(150000 * (CASE WHEN i.doc_id % 37 = 0 THEN 1 ELSE 0 END)
         |    + (85 * COALESCE(m2.msg, 0)) // 100 AS BIGINT) AS pr
         |  FROM ids i LEFT JOIN (
         |    SELECT u.b AS vx, SUM(prp${k - 1}.pr // prd.deg) AS msg
         |    FROM und u JOIN prp${k - 1} ON u.a = prp${k - 1}.vx
         |           JOIN prd ON prd.vx = u.a
         |    GROUP BY u.b) m2 ON m2.vx = i.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""prd AS (SELECT a AS vx, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       |prp0 AS (SELECT doc_id AS vx,
       |  CAST(1000000 * (CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pr FROM ids),
       |$iters""".stripMargin
  }

  /** q169's oracle: every signal's EXISTING oracle text composed as CTE
    * chains over ONE copy of the shared graph ([[SurvivorCtes]] for the
    * duplicate gate, [[QualityExprSql]], [[CoreNumberPhaseCtes]],
    * [[LpaRoundCtes]] + [[ModularityTailCtes]], [[DocPprCtes]]), then
    * the verbatim gate CASE of `Curation.curationMix` — first failing
    * gate names the reason, missing signals read as failing.
    */
  private lazy val CurationMixSql = curationMixSqlGen(withFresh = false)

  /** q173's oracle: [[CurationMixSql]] extended the same CTE-sharing
    * way with the WINDOWED count-min freshness signal (the q170 cell
    * recipe over head fingerprints, ingest day = doc_id % 30, window =
    * the last $FreshWindowDays days) and the sixth `overexposed` gate.
    * The oracle builds ONE sketch over exactly the window's rows while
    * the Spark side rolls up day shards — the concat property is under
    * the hash gate here too. Generated with [[curationMixSqlGen]] so
    * the five shared gates cannot drift from q169's.
    */
  private lazy val CurationFreshSql = curationMixSqlGen(withFresh = true)

  /** ONE generator for the q169 (five-gate) and q173 (six-gate) mixes:
    * every shared CTE and the CASE precedence are the same text, so the
    * freshness extension cannot drift the base policy.
    */
  private def curationMixSqlGen(withFresh: Boolean): String = {
    def cell(i: String, term: String) =
      s"CAST('0x' || substring(md5('cm' || $i || ':' || $term), 1, 13) AS BIGINT) % $FreshWidth"
    val freshCtes =
      if (!withFresh) ""
      else
        s"""fpd AS (SELECT doc_id, doc_id % 30 AS iday,
           |    array_to_string(($TokensSql)[1:8], ' ') AS fp FROM documents),
           |winfp AS (SELECT fp FROM fpd WHERE iday >= $FreshFromDay AND fp IS NOT NULL),
           |fcells AS (SELECT r.i AS row_idx, ${cell("CAST(r.i AS VARCHAR)", "fp")} AS bucket,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM winfp, UNNEST(range(0, $CmDepth)) AS r(i) GROUP BY 1, 2),
           |fpc AS (SELECT fp, r.i AS row_idx, ${cell("CAST(r.i AS VARCHAR)", "fp")} AS bucket
           |  FROM (SELECT DISTINCT fp FROM fpd WHERE fp IS NOT NULL),
           |       UNNEST(range(0, $CmDepth)) AS r(i)),
           |fest AS (SELECT fp, min(COALESCE(c.cnt, 0)) AS cm_est
           |  FROM fpc LEFT JOIN fcells c USING (row_idx, bucket) GROUP BY 1),
           |fr AS (SELECT d.doc_id, f.cm_est FROM fpd d JOIN fest f ON f.fp = d.fp),
           |""".stripMargin
    val freshSig =
      if (withFresh) ",\n    COALESCE(fh.cm_est, 9223372036854775807) AS fresh" else ""
    val freshJoin =
      if (withFresh) "\n  LEFT JOIN fr fh ON fh.doc_id = i.doc_id" else ""
    val freshGate =
      if (withFresh) s"\n       WHEN fresh >= $MixMaxFresh THEN 'overexposed'" else ""
    s"""WITH RECURSIVE $SurvivorCtes,
       |$KCoreGraphCte,
       |$CoreNumberPhaseCtes,
       |$LpaRoundCtes,
       |$ModularityTailCtes,
       |$DocPprCtes,
       |${freshCtes}qual AS (SELECT doc_id, $QualityExprSql AS q FROM documents),
       |sig AS (SELECT i.doc_id,
       |    (i.doc_id NOT IN (SELECT node FROM losers)) AS surv,
       |    COALESCE(qu.q, 0.0) AS q,
       |    COALESCE(cn.core, 0) AS core,
       |    COALESCE(mo.q_num, 0) AS qnum,
       |    COALESCE(pp.pr, 0) AS rnk$freshSig
       |  FROM ids i
       |  LEFT JOIN qual qu ON qu.doc_id = i.doc_id
       |  LEFT JOIN coren cn ON cn.doc_id = i.doc_id
       |  LEFT JOIN lab$LpaRounds lb ON lb.v = i.doc_id
       |  LEFT JOIN modq mo ON mo.label = lb.lab
       |  LEFT JOIN prp5 pp ON pp.vx = i.doc_id$freshJoin),
       |dec AS (SELECT doc_id,
       |  CASE WHEN NOT surv THEN 'duplicate'
       |       WHEN q < $MixMinQuality THEN 'low_quality'
       |       WHEN core < $MixMinCore THEN 'shallow_core'
       |       WHEN qnum <= 0 THEN 'weak_community'
       |       WHEN rnk < $MixMinRankMicro THEN 'untrusted'$freshGate
       |       ELSE 'kept' END AS reason
       |  FROM sig)
       |SELECT doc_id, (reason = 'kept') AS kept, reason FROM dec ORDER BY doc_id""".stripMargin
  }

  /** q170/q171's oracle: ONE count-min sketch built over exactly the
    * window's event rows (the Spark side builds per-DAY shards and
    * rolls up the window — cell sums are associative, so equality here
    * proves window ≡ concat-of-days), identical salted-md5 cells,
    * probes = every user active in the window, exact counts alongside.
    */
  private lazy val CountMinWindowSql = {
    def cell(i: String, term: String) =
      s"CAST('0x' || substring(md5('cm' || $i || ':' || $term), 1, 13) AS BIGINT) % $CmWindowWidth"
    s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS term,
       |    strftime(ts, '%Y-%m-%d') AS day FROM events),
       |win AS (SELECT term FROM ev WHERE day >= '$CmWindowFrom'),
       |cells AS (SELECT r.i AS row_idx, ${cell("CAST(r.i AS VARCHAR)", "term")} AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM win, UNNEST(range(0, $CmDepth)) AS r(i) GROUP BY 1, 2),
       |tru AS (SELECT term, CAST(count(*) AS BIGINT) AS true_cnt FROM win GROUP BY 1),
       |pc AS (SELECT term, r.i AS row_idx, ${cell("CAST(r.i AS VARCHAR)", "term")} AS bucket
       |  FROM (SELECT DISTINCT term FROM win), UNNEST(range(0, $CmDepth)) AS r(i)),
       |est AS (SELECT pc.term, min(COALESCE(c.cnt, 0)) AS cm_est
       |  FROM pc LEFT JOIN cells c USING (row_idx, bucket) GROUP BY 1)
       |SELECT e.term AS user_key, t.true_cnt, e.cm_est, e.cm_est - t.true_cnt AS overcount
       |FROM est e JOIN tru t USING (term) ORDER BY user_key""".stripMargin
  }

  /** Shared by q146 (from-scratch Bloom build), q151 (the filter
    * maintained incrementally from a stream) and q154 (the sharded
    * probe at an mBits past the broadcast regime): bit_or union is
    * exact and the filter is a pure function of (key set, mBits), so
    * ONE generator parameterized by mBits gates all three — same md5
    * positions, same 32-bit word packing, false positives included.
    */
  private def bloomNoveltySql(mBits: Long): String =
    s"""WITH fpd AS (SELECT doc_id,
       |    array_to_string(($TokensSql)[1:8], ' ') AS fp FROM documents),
       |corpus AS (SELECT fp FROM fpd WHERE doc_id % 17 <> 3),
       |cd AS (SELECT DISTINCT fp FROM corpus WHERE fp IS NOT NULL),
       |pos AS (SELECT CAST('0x' || substring(md5('blm1:' || fp), 1, 13) AS BIGINT) % $mBits AS p FROM corpus WHERE fp IS NOT NULL
       |        UNION ALL
       |        SELECT CAST('0x' || substring(md5('blm2:' || fp), 1, 13) AS BIGINT) % $mBits FROM corpus WHERE fp IS NOT NULL),
       |w AS (SELECT p // 32 AS widx,
       |        bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
       |      FROM pos GROUP BY 1),
       |batch AS (SELECT doc_id, fp,
       |    CAST('0x' || substring(md5('blm1:' || fp), 1, 13) AS BIGINT) % $mBits AS p1,
       |    CAST('0x' || substring(md5('blm2:' || fp), 1, 13) AS BIGINT) % $mBits AS p2
       |  FROM fpd WHERE doc_id % 17 = 3)
       |SELECT b.doc_id,
       |  CASE WHEN w1.word IS NOT NULL AND w2.word IS NOT NULL
       |        AND (w1.word & (CAST(1 AS BIGINT) << CAST(b.p1 % 32 AS INT))) <> 0
       |        AND (w2.word & (CAST(1 AS BIGINT) << CAST(b.p2 % 32 AS INT))) <> 0
       |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bloom_hit,
       |  CASE WHEN EXISTS (SELECT 1 FROM cd WHERE cd.fp = b.fp)
       |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS seen_exact
       |FROM batch b
       |LEFT JOIN w w1 ON w1.widx = b.p1 // 32
       |LEFT JOIN w w2 ON w2.widx = b.p2 // 32
       |ORDER BY doc_id""".stripMargin

  private lazy val BloomNoveltyOracleSql = bloomNoveltySql(16384)

  /** q150's oracle: the whole PQ pipeline — subspace decomposition,
    * id-seeded codebooks, two Lloyd rounds with round-6-quantized
    * state, final assignment, distance table, fixed-order ADC sum —
    * generated by the same loop shape the Spark side runs (the
    * q142/q149 discipline). m = 4 subspaces of 16 dims, k = 8, query
    * vec_id = 0, top 20 by (adc, vec_id).
    */
  /** The PQ pipeline CTE chain shared by q150 and q152 — subspace
    * decomposition through codes (`cd`) and the query distance table
    * (`dt`) — plus the per-subspace dt joins and the left-associated
    * ADC sum, returned separately so each query composes its own tail.
    * ONE generator, so the training/coding replay cannot drift between
    * the standalone-PQ and IVF-PQ oracles. `dtMetric` picks the dt
    * CTE's per-subspace score: "l2" (q150's symmetric-distance face)
    * or "dot" (q152/q155's quantized-cosine face).
    */
  private def pqChainParts(
      m: Int, k: Int, d: Int, dtMetric: String = "l2"): (String, String, String) = {
    def l2(a: String, b: String) =
      s"(SELECT sum((z.a - z.b) * (z.a - z.b)) FROM (SELECT unnest($a) AS a, unnest($b) AS b) z)"
    def dotp(a: String, b: String) =
      s"(SELECT sum(z.a * z.b) FROM (SELECT unnest($a) AS a, unnest($b) AS b) z)"
    def assignStage(r: Int, cPrev: String) =
      s"""d$r AS (SELECT sub.sub, sub.vec_id, c.cid,
         |  ${l2("sub.sv", "c.cv")} AS l2
         |  FROM sub JOIN $cPrev c ON c.sub = sub.sub),
         |a$r AS (SELECT sub, vec_id, cid FROM (
         |  SELECT sub, vec_id, cid,
         |    row_number() OVER (PARTITION BY sub, vec_id ORDER BY l2, cid) AS rn
         |  FROM d$r) WHERE rn = 1)""".stripMargin
    def updateStage(r: Int) =
      s"""c$r AS (SELECT u.sub, u.cid, list(u.mn ORDER BY u.pos) AS cv FROM (
         |  SELECT a.sub, a.cid, CAST(t.i AS INT) AS pos,
         |    round(avg(sub.sv[CAST(t.i AS INT)]), 6) AS mn
         |  FROM a$r a JOIN sub ON sub.sub = a.sub AND sub.vec_id = a.vec_id,
         |       UNNEST(range(1, ${d + 1})) AS t(i)
         |  GROUP BY a.sub, a.cid, t.i) u GROUP BY u.sub, u.cid)""".stripMargin
    val rounds = (1 to 2).map(r => assignStage(r, s"c${r - 1}") + ",\n" + updateStage(r))
      .mkString(",\n")
    val codeCols = (0 until m)
      .map(s => s"max(CASE WHEN sub = $s THEN cid END) AS k$s").mkString(", ")
    val dtJoins = (0 until m)
      .map(s => s"JOIN dt t$s ON t$s.sub = $s AND t$s.cid = cd.k$s").mkString("\n")
    val adcSum = (0 until m).map(s => s"t$s.d").reduce((a, b) => s"($a + $b)")
    val chain =
      s"""sub AS (SELECT vec_id, CAST(s.s AS INT) AS sub,
         |    list_transform(embedding[CAST(s.s * $d + 1 AS INT):CAST(s.s * $d + $d AS INT)],
         |                   x -> CAST(x AS DOUBLE)) AS sv
         |  FROM embeddings, UNNEST(range(0, $m)) AS s(s)
         |  WHERE embedding IS NOT NULL AND len(embedding) = ${m * d}),
         |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
         |          FROM (SELECT DISTINCT vec_id FROM sub ORDER BY vec_id LIMIT $k)),
         |c0 AS (SELECT sub.sub, seeds.cid, sub.sv AS cv FROM seeds JOIN sub USING (vec_id)),
         |$rounds,
         |${assignStage(3, "c2")},
         |q AS (SELECT sub, sv FROM sub WHERE vec_id = 0),
         |dt AS (SELECT c2.sub, c2.cid,
         |       ${if (dtMetric == "dot") dotp("q.sv", "c2.cv") else l2("q.sv", "c2.cv")} AS d
         |       FROM c2 JOIN q ON q.sub = c2.sub),
         |cd AS (SELECT vec_id, $codeCols FROM a3 GROUP BY vec_id)""".stripMargin
    (chain, dtJoins, adcSum)
  }

  private lazy val PqAdcSql = {
    val (chain, dtJoins, adcSum) = pqChainParts(4, 8, 16)
    s"""WITH $chain
       |SELECT cd.vec_id, round($adcSum, 6) AS adc
       |FROM cd
       |$dtJoins
       |ORDER BY adc, vec_id LIMIT 20""".stripMargin
  }

  /** q152's oracle — IVF × PQ composed from the two proven replays:
    * [[pqChainParts]] trains/codes exactly as q150's oracle does, and
    * the coarse assignment + probe CTEs are spliced from
    * [[IvfAnnOracleSql]] VERBATIM (the q116/q83 anchor discipline), so
    * neither leg can drift from its standalone twin. The composed tail
    * is the probe contract itself: candidates = probed buckets minus
    * the query, DOT-face ADC over candidate codes (quantized cosine —
    * per-subspace dot sums over exact norms, `Similarity.ivfPqTopK`'s
    * default metric since RECALL_r16 measured the L2 ranking
    * mis-ordering a cosine answer), TIE-INCLUSIVE shortlist cut at the
    * 40th LARGEST adc (every candidate at or above the cut survives —
    * RANK-style top-N, the recall semantics since RECALL_r15 measured
    * the row-count cut collapsing on clustered corpora), exact cosine
    * re-rank of the shortlist only, top 10.
    */
  private lazy val IvfPqOracleSql: String = {
    // the DOT-face probe (Similarity.ivfPqTopK's default metric since
    // r17): the dt CTE carries per-subspace DOT products, cq the
    // per-subspace centroid norms², the candidate score is
    // Σ dots / (|q| · √Σ‖c_s‖²) — the quantized cosine cos(q, q(v)),
    // a pure function of the codes — the shortlist cut compares the
    // RAW doubles (code ties are bit-equal in both engines; 6dp
    // rounding happens only in the output column), keeping the 40th
    // LARGEST and everything tied at or above it; only the shortlist
    // pays the exact cosine re-rank
    val (chain, dtJoins, adcSum) = pqChainParts(4, 8, 16, dtMetric = "dot")
    val cqJoins = (0 until 4)
      .map(s => s"JOIN cq u$s ON u$s.sub = $s AND u$s.cid = cd.k$s").mkString("\n")
    val rec2 = (0 until 4).map(s => s"u$s.c2n").reduce((a, b) => s"($a + $b)")
    val marker = "probe AS (SELECT cid FROM cs WHERE vec_id = 0 ORDER BY cs DESC, cid LIMIT 4),"
    require(IvfAnnOracleSql.contains(marker),
      "IvfAnnOracleSql probe anchor changed; update q152's derivation")
    val coarse = IvfAnnOracleSql
      .stripPrefix("WITH ")
      .split(java.util.regex.Pattern.quote(marker))(0) + marker
    s"""WITH $chain,
       |$coarse
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qn AS (SELECT sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
       |        FROM (SELECT unnest(qv.qe) AS y) z)) AS qn FROM qv),
       |cq AS (SELECT c2.sub, c2.cid,
       |  (SELECT sum(z.a * z.a) FROM (SELECT unnest(c2.cv) AS a) z) AS c2n
       |  FROM c2),
       |cand AS (SELECT a.vec_id FROM asg a JOIN probe p ON p.cid = a.cid
       |         WHERE a.vec_id <> 0),
       |adcs AS (SELECT cd.vec_id, $adcSum / (qn.qn * sqrt($rec2)) AS adcr
       |         FROM cd JOIN cand ON cand.vec_id = cd.vec_id
       |         $dtJoins
       |         $cqJoins, qn
       |         WHERE $rec2 > 0),
       |cut AS (SELECT min(adcr) AS cut
       |        FROM (SELECT adcr FROM adcs ORDER BY adcr DESC, vec_id LIMIT 40)),
       |short AS (SELECT vec_id, round(adcr, 6) AS adc FROM adcs, cut
       |          WHERE adcs.adcr >= cut.cut),
       |sc AS (SELECT e.vec_id,
       |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |   FROM (SELECT unnest(e.embedding) AS x, unnest(qv.qe) AS y) z) AS dot,
       |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
       |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
       |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
       |   FROM (SELECT unnest(qv.qe) AS y) z) AS n2b
       | FROM embeddings e, qv
       | WHERE e.vec_id IN (SELECT vec_id FROM short))
       |SELECT sc.vec_id, short.adc, round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS cos_sim
       |FROM sc JOIN short ON short.vec_id = sc.vec_id
       |WHERE n2a > 0 AND n2b > 0
       |ORDER BY cos_sim DESC, sc.vec_id LIMIT 10""".stripMargin
  }

  /** q174's oracle — the BATCH probe replayed per query: the SAME PQ
    * training chain and coarse CTEs as q152's oracle (spliced at the
    * identical anchor), then per-query probe sets (rank window over
    * `cs`), a query-keyed dot table, the fixed-order ADC sum joined per
    * (query, candidate), the per-query tie-inclusive 40-cut, and the
    * per-query exact-cosine top 10. The chain's single-query q/dt CTEs
    * go unused here (CTEs are lazy); the batch tail defines its own
    * query-keyed twins.
    */
  private lazy val IvfPqBatchOracleSql: String = {
    val (chain, _, _) = pqChainParts(4, 8, 16, dtMetric = "dot")
    val marker = "probe AS (SELECT cid FROM cs WHERE vec_id = 0 ORDER BY cs DESC, cid LIMIT 4),"
    require(IvfAnnOracleSql.contains(marker),
      "IvfAnnOracleSql probe anchor changed; update q174's derivation")
    val coarse = IvfAnnOracleSql
      .stripPrefix("WITH ")
      .split(java.util.regex.Pattern.quote(marker))(0)
    val adcSum = "(((t0.d + t1.d) + t2.d) + t3.d)"
    val rec2b = "(((u0.c2n + u1.c2n) + u2.c2n) + u3.c2n)"
    s"""WITH $chain,
       |$coarse
       |probeb AS (SELECT qid, cid FROM (
       |    SELECT vec_id AS qid, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
       |    FROM cs WHERE vec_id IN (0, 1, 2)) WHERE rn <= 4),
       |qvb AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |        WHERE vec_id IN (0, 1, 2)),
       |qnb AS (SELECT qid, sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
       |         FROM (SELECT unnest(qe) AS y) z)) AS qn FROM qvb),
       |cqb AS (SELECT c2.sub, c2.cid,
       |  (SELECT sum(z.a * z.a) FROM (SELECT unnest(c2.cv) AS a) z) AS c2n
       |  FROM c2),
       |qb AS (SELECT vec_id AS qid, sub, sv FROM sub WHERE vec_id IN (0, 1, 2)),
       |dtb AS (SELECT qb.qid, c2.sub, c2.cid,
       |        (SELECT sum(z.a * z.b)
       |         FROM (SELECT unnest(qb.sv) AS a, unnest(c2.cv) AS b) z) AS d
       |        FROM c2 JOIN qb ON qb.sub = c2.sub),
       |candb AS (SELECT p.qid, a.vec_id FROM asg a JOIN probeb p ON p.cid = a.cid
       |          WHERE a.vec_id <> p.qid),
       |adcsb AS (SELECT cb.qid, cb.vec_id,
       |    $adcSum / (qnb.qn * sqrt($rec2b)) AS adcr
       |  FROM (SELECT c.qid, c.vec_id, cd.k0, cd.k1, cd.k2, cd.k3
       |        FROM candb c JOIN cd ON cd.vec_id = c.vec_id) cb
       |  JOIN qnb ON qnb.qid = cb.qid
       |  JOIN dtb t0 ON t0.qid = cb.qid AND t0.sub = 0 AND t0.cid = cb.k0
       |  JOIN dtb t1 ON t1.qid = cb.qid AND t1.sub = 1 AND t1.cid = cb.k1
       |  JOIN dtb t2 ON t2.qid = cb.qid AND t2.sub = 2 AND t2.cid = cb.k2
       |  JOIN dtb t3 ON t3.qid = cb.qid AND t3.sub = 3 AND t3.cid = cb.k3
       |  JOIN cqb u0 ON u0.sub = 0 AND u0.cid = cb.k0
       |  JOIN cqb u1 ON u1.sub = 1 AND u1.cid = cb.k1
       |  JOIN cqb u2 ON u2.sub = 2 AND u2.cid = cb.k2
       |  JOIN cqb u3 ON u3.sub = 3 AND u3.cid = cb.k3
       |  WHERE $rec2b > 0),
       |cutb AS (SELECT qid, min(adcr) AS cut FROM (
       |    SELECT qid, adcr,
       |      row_number() OVER (PARTITION BY qid ORDER BY adcr DESC, vec_id) AS rn
       |    FROM adcsb) WHERE rn <= 40 GROUP BY qid),
       |shortb AS (SELECT a.qid, a.vec_id, round(a.adcr, 6) AS adc
       |           FROM adcsb a JOIN cutb c ON c.qid = a.qid AND a.adcr >= c.cut),
       |scb AS (SELECT s.qid, s.vec_id, s.adc,
       |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |   FROM (SELECT unnest(e.embedding) AS x, unnest(qv.qe) AS y) z) AS dot,
       |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
       |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
       |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
       |   FROM (SELECT unnest(qv.qe) AS y) z) AS n2b
       | FROM shortb s JOIN embeddings e ON e.vec_id = s.vec_id
       |      JOIN qvb qv ON qv.qid = s.qid)
       |SELECT qid AS query_id, vec_id, adc, cos_sim FROM (
       |  SELECT qid, vec_id, adc,
       |    round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 6) DESC, vec_id) AS rn
       |  FROM scb WHERE n2a > 0 AND n2b > 0)
       |WHERE rn <= 10
       |ORDER BY query_id, cos_sim DESC, vec_id""".stripMargin
  }

  // Shared by q107 (in-memory index) and q118 (persisted lifecycle):
  // the BM25 ranked-retrieval ground truth with per-term idf
  // quantization (mirrors Invert.bm25TopK's determinism recipe).
  private lazy val Bm25OracleSql = bm25TopSql(20)

  /** Parameterized so q160 can embed the identical leg at its own k —
    * ONE generator, the q107/q118 text and the RRF sparse leg cannot
    * drift.
    */
  private def bm25TopSql(k: Int): String =
      s"""WITH t2 AS (SELECT doc_id, $TokensSql AS toks FROM documents),
         |tp AS (SELECT doc_id, toks[CAST(u.i AS INT)] AS term
         |       FROM t2, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |len AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_len FROM t2),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |            CAST(sum(doc_len) AS DOUBLE) / count(*) AS avgdl FROM len),
         |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tp
         |       WHERE term IN ('customer', 'vector', 'stream') GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tp
         |        WHERE term IN ('customer', 'vector', 'stream') GROUP BY 1),
         |idf AS (SELECT term,
         |          CAST(round(
         |            ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         |              * 1000000.0) AS BIGINT) AS idf_scaled
         |        FROM dfq, stats),
         |sc AS (SELECT tf.doc_id,
         |         CAST(round(
         |           idf.idf_scaled
         |             * (tf.tf * (1.2 + 1.0))
         |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * len.doc_len / stats.avgdl))
         |           ) AS BIGINT) AS s
         |       FROM tf JOIN idf USING (term) JOIN len USING (doc_id), stats)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
         |  CAST(sum(s) AS BIGINT) AS score_scaled
         |FROM sc GROUP BY doc_id
         |ORDER BY score_scaled DESC, doc_id LIMIT $k""".stripMargin

  /** q119's oracle: generated rather than handwritten because the
    * range-reduced log replay repeats the same five-stage shape for
    * five counts (c_ab, c_a, c_b, B, N). Mirrors
    * `Curation.lnOfCount`/`pseudoLn` TEXTUALLY: same mantissa
    * construction, same polynomial, same association order.
    */
  private lazy val PmiOracleSql: String = {
    // (SQL count column, short tag) — tags name the staged e/m/z/q/l cols
    val xs = Seq("c_ab" -> "ab", "c_a" -> "ca", "c_b" -> "cb", "b" -> "bb", "n" -> "nn")
    def d(s: String) = s"CAST($s AS DOUBLE)"
    val keep = "tok_a, tok_b, c_ab, c_a, c_b"
    val mm = xs.map { case (x, t) =>
      s"length(bin($x)) - 1 AS e_$t, " +
        s"${d(x)} / ${d(s"(CAST(1 AS BIGINT) << (length(bin($x)) - 1))")} AS m_$t"
    }.mkString(", ")
    val es = xs.map { case (_, t) => s"e_$t" }.mkString(", ")
    val zz = xs.map { case (_, t) =>
      s"(m_$t - ${d("1.0")}) / (m_$t + ${d("1.0")}) AS z_$t"
    }.mkString(", ")
    val zs = xs.map { case (_, t) => s"z_$t" }.mkString(", ")
    val qq = xs.map { case (_, t) => s"z_$t * z_$t AS q_$t" }.mkString(", ")
    def poly(t: String) =
      s"(${d("2.0")} * z_$t) * (${d("1.0")} + q_$t * ((${d("1.0")} / ${d("3.0")}) " +
        s"+ q_$t * ((${d("1.0")} / ${d("5.0")}) + q_$t * ((${d("1.0")} / ${d("7.0")}) " +
        s"+ q_$t * ((${d("1.0")} / ${d("9.0")}) + q_$t * ((${d("1.0")} / ${d("11.0")}) " +
        s"+ q_$t * ((${d("1.0")} / ${d("13.0")}) + q_$t * (${d("1.0")} / ${d("15.0")}))))))))"
    val ll = xs.map { case (_, t) =>
      s"${d(s"e_$t")} * ${d("0.6931471805599453")} + ${poly(t)} AS l_$t"
    }.mkString(", ")
    s"""WITH t AS (SELECT $TokensSql AS toks FROM documents),
       |tk AS (SELECT unnest(toks) AS tok FROM t),
       |ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
       |cn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
       |bg AS (SELECT toks[CAST(u.i AS INT)] AS tok_a,
       |              toks[CAST(u.i AS INT) + 1] AS tok_b
       |       FROM t, UNNEST(range(1, len(toks))) AS u(i)),
       |cbb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bg),
       |ab AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS c_ab FROM bg
       |       GROUP BY 1, 2 HAVING count(*) >= 5),
       |j AS (SELECT ab.tok_a, ab.tok_b, ab.c_ab, ca.c AS c_a, cb.c AS c_b,
       |             cn.n, cbb.b
       |      FROM ab JOIN ct ca ON ca.tok = ab.tok_a
       |      JOIN ct cb ON cb.tok = ab.tok_b, cn, cbb),
       |mm AS (SELECT $keep, $mm FROM j),
       |zz AS (SELECT $keep, $es, $zz FROM mm),
       |qz AS (SELECT $keep, $es, $zs, $qq FROM zz),
       |ll AS (SELECT $keep, $ll FROM qz)
       |SELECT $keep,
       |  CAST(floor((l_ab - l_ca - l_cb - l_bb + ${d("2.0")} * l_nn)
       |    * ${d("1000000.0")}) AS BIGINT) AS pmi_scaled
       |FROM ll ORDER BY pmi_scaled DESC, tok_a, tok_b LIMIT 100""".stripMargin
  }

  /** Shared BPE-trainer CTE chain (q85/q86): word types × counts, the
    * symbol sequence encoded as a space-delimited string (' a b c '),
    * then 3 unrolled rounds of (pair count → top-1 by (n desc, l, r) →
    * merge). replace(' l r ', ' lr ') IS greedy non-overlapping
    * left-to-right merging — exactly Curation.mergeOnce's fold — because
    * replace scans left to right and never rescans replaced output, and
    * consecutive overlapping pairs share the middle delimiter space.
    * s3 keeps the tok column so q86 can map token → segmentation.
    */
  private lazy val BpeRoundsCte: String = {
    def round(i: Int): String =
      s"""p$i AS (SELECT l, r, CAST(sum(wc) AS BIGINT) AS n FROM (
         |  SELECT wc, syms[CAST(t.i AS INT)] AS l, syms[CAST(t.i + 1 AS INT)] AS r
         |  FROM (SELECT wc, list_filter(string_split(s, ' '), x -> x <> '') AS syms FROM s${i - 1}),
         |       UNNEST(range(1, len(syms))) AS t(i))
         |  GROUP BY l, r),
         |m$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |s$i AS (SELECT v.tok, v.wc, replace(v.s, ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS s
         |        FROM s${i - 1} v, m$i m)""".stripMargin
    s"""WITH w AS (SELECT tok, CAST(count(*) AS BIGINT) AS wc
       |           FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tok
       |                 FROM documents)
       |           GROUP BY tok),
       |s0 AS (SELECT tok, wc, ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS s FROM w),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  /** ANN-over-IVF oracle (q75/q76): coarse assignment by cosine argmax,
    * probe the query's 4 nearest of the 16 seed centroids, exact cosine
    * re-rank inside the probed buckets, top 10.
    */
  private lazy val IvfAnnOracleSql =
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |sim AS (SELECT e.vec_id, c.cid,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x, unnest(c.cvec) AS y) z) AS dot,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
        |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(c.cvec) AS y) z) AS n2b
        | FROM embeddings e, c),
        |cs AS (SELECT vec_id, cid, dot / (sqrt(n2a) * sqrt(n2b)) AS cs
        |       FROM sim WHERE n2a > 0 AND n2b > 0),
        |asg AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |         FROM cs) WHERE rn = 1),
        |probe AS (SELECT cid FROM cs WHERE vec_id = 0 ORDER BY cs DESC, cid LIMIT 4),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sc AS (SELECT e.vec_id,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x, unnest(q.qe) AS y) z) AS dot,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
        |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(q.qe) AS y) z) AS n2b
        | FROM embeddings e, q
        | WHERE e.vec_id <> 0
        |   AND e.vec_id IN (SELECT a.vec_id FROM asg a JOIN probe p ON p.cid = a.cid))
        |SELECT vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS cos_sim
        |FROM sc WHERE n2a > 0 AND n2b > 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** Filtered variant of [[IvfAnnOracleSql]] (q116): the probe pipeline
    * is byte-identical — the one difference is the label predicate on
    * the candidate set, spliced into the re-rank's WHERE so the CTE
    * bodies can never drift from the unfiltered oracle.
    */
  private lazy val IvfAnnFilteredOracleSql: String = {
    val spliced = IvfAnnOracleSql.replace(
      " WHERE e.vec_id <> 0",
      " WHERE e.vec_id <> 0 AND e.label = 1")
    require(spliced != IvfAnnOracleSql, "q116 oracle splice anchor not found")
    spliced
  }

  /** Radius variant of [[IvfAnnOracleSql]] (q83): the probe pipeline is
    * IDENTICAL — same assignment, same probed buckets, same exact-cosine
    * re-rank — only the final predicate differs (rounded cosine >= 0.25
    * instead of LIMIT 10), exactly mirroring how `ivfRadiusIndexed`
    * shares `ivfTopKIndexed`'s candidate path in Scala.
    */
  private lazy val IvfRadiusOracleSql: String = {
    val marker = "ORDER BY cos_sim DESC, vec_id LIMIT 10"
    require(IvfAnnOracleSql.endsWith(marker), "IvfAnnOracleSql tail changed; update q83's derivation")
    IvfAnnOracleSql.stripSuffix(marker) +
      "  AND round(dot / (sqrt(n2a) * sqrt(n2b)), 6) >= 0.25\nORDER BY cos_sim DESC, vec_id"
  }

  /** Batch-ANN oracle (q79): the sim/cs/asg CTEs are IvfAnnOracleSql's
    * verbatim; probe generalizes from one query's LIMIT 4 to a per-query
    * rank ≤ 4 over the same corpus-vs-centroid cosines (queries ARE
    * corpus rows), and the re-rank ranks by the ROUNDED cosine then id,
    * exactly like the Spark window.
    */
  private lazy val IvfBatchOracleSql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
      |sim AS (SELECT e.vec_id, c.cid,
      |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |   FROM (SELECT unnest(e.embedding) AS x, unnest(c.cvec) AS y) z) AS dot,
      |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
      |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
      |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
      |   FROM (SELECT unnest(c.cvec) AS y) z) AS n2b
      | FROM embeddings e, c),
      |cs AS (SELECT vec_id, cid, dot / (sqrt(n2a) * sqrt(n2b)) AS cs
      |       FROM sim WHERE n2a > 0 AND n2b > 0),
      |asg AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      |         FROM cs) WHERE rn = 1),
      |probe AS (SELECT vec_id AS qid, cid FROM (
      |           SELECT vec_id, cid,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      |           FROM cs WHERE vec_id < 4) WHERE rn <= 4),
      |cand AS (SELECT DISTINCT p.qid, a.vec_id
      |         FROM probe p JOIN asg a ON a.cid = p.cid
      |         WHERE a.vec_id <> p.qid),
      |sc AS (SELECT cnd.qid, e.vec_id,
      |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |   FROM (SELECT unnest(e.embedding) AS x, unnest(qe.embedding) AS y) z) AS dot,
      |  (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
      |   FROM (SELECT unnest(e.embedding) AS x) z) AS n2a,
      |  (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
      |   FROM (SELECT unnest(qe.embedding) AS y) z) AS n2b
      | FROM cand cnd
      | JOIN embeddings e ON e.vec_id = cnd.vec_id
      | JOIN embeddings qe ON qe.vec_id = cnd.qid),
      |ranked AS (SELECT qid, vec_id,
      |            round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS cos_sim,
      |            row_number() OVER (PARTITION BY qid
      |              ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 6) DESC, vec_id) AS rk
      |           FROM sc WHERE n2a > 0 AND n2b > 0)
      |SELECT qid AS query_id, vec_id, cos_sim
      |FROM ranked WHERE rk <= 5
      |ORDER BY query_id, cos_sim DESC, vec_id""".stripMargin

  private lazy val IvfBatchRadiusOracleSql: String = {
    val marker = "FROM ranked WHERE rk <= 5\nORDER BY query_id, cos_sim DESC, vec_id"
    require(IvfBatchOracleSql.endsWith(marker),
      "IvfBatchOracleSql tail changed; update q87's derivation")
    IvfBatchOracleSql.stripSuffix(marker) +
      "FROM ranked WHERE cos_sim >= 0.25\nORDER BY query_id, cos_sim DESC, vec_id"
  }
}
