package graft.operators

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class DedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("exact dedup: groups have min-id survivor; survivor set unique on text") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val total = groups.agg(org.apache.spark.sql.functions.sum("n_copies")).head().getLong(0)
    assert(total == docs.count()) // partition of the corpus
    val surv = Dedup.exactDedup(docs, "doc_id", "text")
    assert(surv.count() == groups.count())
    assert(surv.select("text").distinct().count() == surv.count())
  }

  test("minhash LSH pairs ⊆ exact ngram-jaccard pairs, with high recall") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("xxhash64 and md5 LSH pipelines agree post-rescore (q25 ≡ q41 transitive chain)") {
    // The xxhash64 fast path (q25) has no DuckDB oracle; the md5 variant
    // (q41) is fully oracle-checked. Equality of their post-rescore pair
    // sets on the fixture corpus gives q25 a transitive correctness chain
    // to the oracle: candidate generation differs (hash family, band
    // settings), but exact-Jaccard rescoring makes both converge to the
    // recalled subset of the ground-truth pairs — identical here.
    val fast = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val md5v = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fast.keySet == md5v.keySet,
      s"pair sets diverge: only-fast=${fast.keySet -- md5v.keySet} only-md5=${md5v.keySet -- fast.keySet}")
    fast.foreach { case (k, v) => assert(md5v(k) == v, s"jaccard differs for $k") }
  }

  test("incremental near-dup equals the self-join pipeline restricted to cross-side pairs") {
    val corpus = docs.where(col("doc_id") < 400)
    val batch = docs.where(col("doc_id") >= 400)
    val got = Dedup.incrementalNearDupMd5(corpus, batch, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the corpus-self-join pipeline over the union, restricted to pairs
    // that straddle the split, must agree exactly: same banding, same
    // rescore, only the candidate-join shape differs
    val want = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", 3, 0.8)
      .where(col("doc_a") < 400 && col("doc_b") >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.nonEmpty)
    assert(got == want)
    // no within-corpus or within-batch pair can appear by construction
    got.foreach { case (a, b, _) => assert(a < 400 && b >= 400) }
  }

  test("incremental near-dup: oversized batch degrades broadcast hint to shuffle, same answer") {
    val corpus = docs.where(col("doc_id") < 400)
    val batch = docs.where(col("doc_id") >= 400)
    // the measured guard must drop the explicit broadcast hint from the
    // BANDING candidate join (AQE may still pick BHJ at runtime for a
    // side it MEASURES as small — the contract is no unconditional
    // driver-side collect of an unbounded batch). The rescore's own
    // measured broadcast hints (keyed on doc_a/doc_b, never band) are
    // legitimate in both paths, so the assertion targets the join that
    // carries the (band, bucket) condition. Two print forms: an uncached
    // plan carries the logical rightHint=(strategy=broadcast) on the
    // join line; the measured-broadcast path caches the candidate pairs,
    // so the banding join appears as the already-finalized
    // BroadcastHashJoin inside the InMemoryRelation's stored plan.
    def bandJoinHinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.linesIterator.exists(l =>
        (l.contains("strategy=broadcast") && l.contains("band")) ||
          l.contains("BroadcastHashJoin [band"))
    // one release scope per run: CacheManager matches plans with hints
    // canonicalized away, so without the release the degraded query
    // would silently reuse the HINTED run's cached candidates and the
    // plan inspection would see the wrong shape
    val a = Checkpoints.scoped {
      val hinted = Dedup.incrementalNearDupMd5(corpus, batch, "doc_id", "text", 3, 0.8)
      assert(bandJoinHinted(hinted), "default path lost its banding broadcast hint")
      hinted.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // bound of 0 banded rows: every non-empty batch exceeds it
    val b = Checkpoints.scoped {
      val degraded = Dedup.incrementalNearDupMd5(
        corpus, batch, "doc_id", "text", 3, 0.8, maxBroadcastBandedRows = 0L)
      assert(!bandJoinHinted(degraded), "degraded path still hints the banding broadcast")
      degraded.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    assert(a.nonEmpty && a == b)
  }

  test("incremental ≡ restricted self-join on seeded random corpora (property)") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    (1 to 3).foreach { trial =>
      val rnd = new scala.util.Random(20260813L + trial)
      val base = (0 until 60).map { i =>
        val len = 6 + rnd.nextInt(8)
        i.toLong -> Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" ")
      }.toMap
      // plant cross-parity dups: every 10th even doc copied to the next
      // odd id (exact → always banded), every 10th odd gets a last-word
      // twin of the preceding even (near → banded when long enough)
      val planted = base.map { case (i, t) =>
        if (i % 10 == 0) i -> base(i)
        else if (i % 10 == 1) i -> base(i - 1)
        else if (i % 10 == 3) i -> (base(i - 1).split(' ').dropRight(1) :+ "omega").mkString(" ")
        else i -> t
      }
      val docs = planted.toSeq.sortBy(_._1).toDF("doc_id", "text")
      val got = Dedup
        .incrementalNearDupMd5(
          docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text", 3, 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // oracle: the corpus-wide self-join pipeline, restricted to pairs
      // straddling the parity split and re-oriented (corpus id first)
      val want = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", 3, 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (a, b, _) => a % 2 != b % 2 }
        .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }
        .toSet
      assert(got.nonEmpty, s"trial $trial produced no cross pairs")
      assert(got == want, s"trial $trial mismatch")
    }
  }

  test("simhash: identical texts share signatures; groups bucket them") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines and shuffles")
    ).toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val groups = Dedup.simhashGroups(df, "doc_id", "text").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("keep_id") == 1L
      && groups.head.getAs[Long]("n_members") == 2L)
  }

  test("capped ngram pairs: scores identical to exact, recall subset") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text", 3, 0.8, maxDocsPerShingle = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped.keySet.subsetOf(exact.keySet))
    capped.foreach { case (k, v) => assert(exact(k) == v) } // scores exact
    // a generous cap loses nothing on this corpus
    val wide = Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text", 3, 0.8, maxDocsPerShingle = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == exact.keySet)
  }

  test("rescore shape is measured: a small set table broadcasts, no forced shuffle-hash") {
    // the fixture corpus's set table is a few MB — far under the
    // broadcast bound — so the exact-Jaccard rescore must take the
    // zero-shuffle double-broadcast shape, not the unconditional
    // shuffle-hash hint r11 shipped (the 100×-scale shape is still
    // exercised: estimatedSetBytes grows past the bound with the corpus)
    val out = Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text", 3, 0.8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("ShuffledHashJoin"), plan.take(1500))
  }

  test("q26 closure: simhash group invariants that hold across hash families") {
    // q26's closure decision (recorded in SparkEntry.oracleNotes): the
    // xxhash64 SimHash stays rows-only under the DuckDB oracle
    // PERMANENTLY. The q25 → q41 transitive-chain route was tried in
    // r11 and empirically FAILS on this corpus: near-dup documents
    // (different token sets) collide to one signature under one hash
    // family but not the other (e.g. md5 merges pairs xxhash64 keeps
    // apart) — which is SimHash working as designed, locality-sensitive
    // in a family-specific way, and exactly why no engine-independent
    // oracle can exist for the raw-signature grouping. What IS
    // hash-family-independent, pinned here for both families: both
    // signatures are functions of the distinct TOKEN SET, so documents
    // with identical token sets MUST share a signature (the partition
    // refines token-set-dup groups), and the group rows satisfy the
    // structural contract (keep_id = min member, n_members = size >= 2).
    def partition(sig: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
      sig.collect().map(r => r.getLong(1) -> r.getLong(0)).groupBy(_._1)
        .values.map(_.map(_._2).toSeq.sorted).filter(_.length >= 2).toSet
    val exactDupGroups = docs.select("doc_id", "text").collect()
      .map(r => r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        .distinct.sorted.mkString(" ") -> r.getLong(0))
      .groupBy(_._1)
      .values.map(_.map(_._2).toSeq.sorted).filter(_.length >= 2).toSet
    assert(exactDupGroups.nonEmpty)
    for ((name, sig, groups) <- Seq(
        ("xxhash64", Dedup.simhash(docs, "doc_id", "text"),
          Dedup.simhashGroups(docs, "doc_id", "text")),
        ("md5", Dedup.simhashMd5(docs, "doc_id", "text"),
          Dedup.simhashMd5Groups(docs, "doc_id", "text")))) {
      val part = partition(sig)
      exactDupGroups.foreach { g =>
        assert(part.exists(p => g.forall(p.contains)),
          s"$name: exact-dup group $g split across signatures")
      }
      val rows = groups.collect()
      val bySize = part.toSeq.map(p => (p.min, p.length.toLong)).sortBy(_._1)
      val gotRows = rows.map(r =>
        (r.getAs[Long]("keep_id"), r.getAs[Long]("n_members"))).sorted.toSeq
      assert(gotRows == bySize, s"$name: group rows $gotRows != partition $bySize")
    }
  }

  test("dedupByPairsPreferring: keeps the best member, not the min id; no window") {
    val textA = (1 to 30).map("w" + _).mkString(" ")
    val df = Seq(
      (1L, textA, 10L),            // min id but SHORT
      (2L, textA + " extra", 50L), // the longest member — must survive
      (3L, textA, 10L),
      (9L, "unrelated totally different content here", 7L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val best = Dedup.dedupByPairsPreferring(df, "doc_id", pairs, col("n_chars"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(best == Set(2L, 9L)) // 2 wins its cluster; 9 untouched
    val minId = Dedup.dedupByPairs(df, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 9L)) // the min-id policy keeps the short copy
    // tie on preference -> smallest id
    val tied = Dedup.dedupByPairsPreferring(
      df.withColumn("n_chars", lit(5L)), "doc_id", pairs, col("n_chars"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tied == Set(1L, 9L))
    // the election is an aggregation, never a per-cluster window
    val plan = Dedup.dedupByPairsPreferring(df, "doc_id", pairs, col("n_chars"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("containmentPairs: excerpt inside a host scores ~1 where Jaccard misses it") {
    val host = (1 to 60).map("w" + _).mkString(" ")       // 58 trigrams
    val excerpt = (20 to 30).map("w" + _).mkString(" ")   // 9 trigrams, all in host
    val other = (100 to 140).map("z" + _).mkString(" ")
    val df = Seq((1L, host), (2L, excerpt), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.9, maxDocsPerShingle = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // the excerpt (2) is fully contained in the host (1)...
    assert(cont.keySet == Set((2L, 1L)))
    assert(cont((2L, 1L)) == 1.0)
    // ...while symmetric Jaccard (9/58) is nowhere near any threshold
    val jac = Dedup.ngramJaccardPairsCapped(df, "doc_id", "text", 3, 0.8, 10)
    assert(jac.isEmpty)
  }

  test("simhash near-dup: catches small token edits, orders pairs") {
    val base = (1 to 40).map("tok" + _).mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("tok7", "tok7x")),                       // one-token edit → small hamming
      (3L, (100 to 140).map("z" + _).mkString(" "))              // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, _) => a == 1L && b == 2L })
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
    // identical docs → hamming 0
    val same = Dedup.simhashNearDupPairs(
      Seq((1L, base), (2L, base)).toDF("doc_id", "text"), "doc_id", "text", maxHamming = 0)
      .collect()
    assert(same.length == 1 && same.head.getLong(2) == 0L)
  }

  test("native md5 minhash signature equals the SQL transform/array_min composition") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextExpressions.{minhash_md5_signature, word_shingles}
    val n = 8
    val sample = docs.limit(50)
    val viaExpr = sample
      .select(col("doc_id"), minhash_md5_signature(word_shingles(col("text"), 3), n).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    val slots = (0 until n).map(k =>
      array_min(transform(word_shingles(col("text"), 3), s => md5(concat(s, lit(":" + k))))))
    val viaSql = sample
      .select(col("doc_id"), array(slots: _*).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    assert(viaExpr == viaSql)
  }

  test("native md5 simhash equals an independent reimplementation") {
    import org.apache.spark.sql.functions.col
    val sample = docs.limit(20)
    val got = Dedup.simhashMd5(sample, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val texts = sample.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, text) =>
      val toks = text.trim.split("\\s+").distinct
      val counts = new Array[Int](60)
      toks.foreach { t =>
        md.reset()
        val hex = md.digest(t.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
        val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
        (0 until 60).foreach(b => if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1)
      }
      val want = (0 until 60).map(b => if (counts(b) > 0) 1L << b else 0L).sum
      assert(got(id) == want, s"doc $id")
    }
  }

  test("connected components merge chained pairs into one cluster") {
    // path 1-2-3-4 (diameter 3 forces multiple propagation rounds) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L))
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels.size == 6)
  }

  test("shingles: correct count and content") {
    val sh = Dedup.shingleTable(Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("shingle").as[String].collect().sorted
    assert(sh.toSeq == Seq("a b c", "b c d"))
    // shorter than n → no shingles, no crash
    val none = Dedup.shingleTable(Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 3)
    assert(none.count() == 0)
  }

  test("lineDedup: first occurrence survives, docs reassembled in order") {
    import org.apache.spark.sql.functions.md5
    val corpus = Seq(
      (1L, "a b c d x y"),   // lines: "a b", "c d", "x y"
      (2L, "c d q r"),       //        "c d" (dup of doc1), "q r"
      (3L, "a b c d")        //        "a b" (dup), "c d" (dup) → nothing left
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(corpus, "doc_id", "text", lineTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def h(s: String) = spark.range(1).select(md5(org.apache.spark.sql.functions.lit(s)))
      .head().getString(0)
    assert(out(1L) == ((3L, 3L, h("a b c d x y"))))
    assert(out(2L) == ((2L, 1L, h("q r"))))
    assert(out(3L) == ((2L, 0L, h("")))) // fully deduplicated doc still reported
  }

  test("lineDedup: within-doc repeated line keeps only its first position") {
    val corpus = Seq((7L, "p q p q z")).toDF("doc_id", "text")
    val r = Dedup.lineDedup(corpus, "doc_id", "text", lineTokens = 2).head()
    // lines "p q", "p q", "z" → second "p q" dropped
    assert((r.getLong(1), r.getLong(2)) == ((3L, 2L)))
  }

  test("lineDedup: hot boilerplate line — correct result, no window in the plan") {
    // A navbar-style line repeated in EVERY document — the workload this
    // C4-style operator exists for. The first-occurrence election must be
    // a partial-aggregable min, never a row_number window partitioned by
    // the line: a window funnels all copies of the hot line into one
    // unsplittable task (AQE cannot split a window partition).
    val hot = (1L to 200L).map(i => (i, s"hot nav line$i body"))
    val corpus = hot.toDF("doc_id", "text")
    val out = Dedup.lineDedup(corpus, "doc_id", "text", lineTokens = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"hot-line election must not use a window:\n$plan")
    val rows = out.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1 keeps both its lines ("hot nav" first occurrence + its unique tail);
    // every later doc loses the shared "hot nav" line but keeps its unique tail.
    assert(rows(1L) == ((2L, 2L)))
    assert((2L to 200L).forall(i => rows(i) == ((2L, 1L))))
  }

  test("spanDedup: corpus-duplicated k-grams scrubbed from EVERY occurrence") {
    import org.apache.spark.sql.functions.{lit, md5}
    val corpus = Seq(
      (1L, "a b c d e x"),      // shares the 5-token span "a b c d e" with doc 2
      (2L, "z a b c d e"),
      (3L, "m n"),              // shorter than k — untouched
      (4L, "p q r s p q r s"),  // intra-doc repeat: every token covered
      (5L, "   ")               // whitespace-only: zero tokens, md5('')
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    def h(s: String) = spark.range(1).select(md5(lit(s))).head().getString(0)
    // doc1 grams "a b c","b c d","c d e" each recur in doc2 → covered 0..4, "x" survives
    assert(out(1L) == ((6L, 3L, 5L, h("x"))))
    // remove-all-copies: doc2's copy is scrubbed too (covered 1..5), "z" survives
    assert(out(2L) == ((6L, 3L, 5L, h("z"))))
    assert(out(3L) == ((2L, 0L, 0L, h("m n"))))
    // "p q r"@{0,4} and "q r s"@{1,5} → covered 0..7 = all 8 tokens
    assert(out(4L) == ((8L, 4L, 8L, h(""))))
    assert(out(5L) == ((0L, 0L, 0L, h(""))))
  }

  test("spanDedup: duplicate-free corpus is reported intact") {
    import org.apache.spark.sql.functions.{lit, md5}
    val corpus = Seq((9L, "u v w x y z")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(corpus, "doc_id", "text", k = 3).head()
    val expect = spark.range(1)
      .select(md5(lit("u v w x y z"))).head().getString(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)) ==
      ((6L, 0L, 0L, expect)))
  }

  test("duplicatedPassages: shared runs found at their offsets and merged") {
    val shared = (1 to 12).map(i => s"c$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$shared u1 u2 u3"), // shared at tokens 1..12
      (2L, s"v1 v2 $shared w1"), // shared at tokens 3..14
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9") // unique — grams, none shared
    ).toDF("id", "text")
    val got = Dedup.duplicatedPassages(corpus, "id", "text", gramLen = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // 12-token run ⊃ 5 8-gram windows: starts 1..5 in doc 1, 3..7 in doc 2
    assert(got == Set((1L, 1L, 1L, 12L, 5L), (2L, 1L, 3L, 14L, 5L)))
  }

  test("duplicatedPassages: multiple spans per doc; within-doc repetition excluded") {
    val s1 = (1 to 8).map(i => s"a$i").mkString(" ")
    val s2 = (1 to 8).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$s1 z1 z2 z3 $s2"), // both runs: tokens 1..8 and 12..19
      (2L, s"$s1 q1 q2"),
      (3L, s"p1 $s2"),
      (4L, s"$s1 $s1".replace("a", "r")), // self-repetition only: 1 distinct doc
      (5L, "too short")
    ).toDF("id", "text")
    val got = Dedup.duplicatedPassages(corpus, "id", "text", gramLen = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 1L, 8L, 1L), (1L, 2L, 12L, 19L, 1L),
      (2L, 1L, 1L, 8L, 1L), (3L, 1L, 2L, 9L, 1L)))
    // minDocs above the family size: nothing survives
    assert(Dedup.duplicatedPassages(corpus, "id", "text", gramLen = 8, minDocs = 3)
      .count() == 0L)
    intercept[IllegalArgumentException](
      Dedup.duplicatedPassages(corpus, "id", "text", gramLen = 1))
    intercept[IllegalArgumentException](
      Dedup.duplicatedPassages(corpus, "id", "text", minDocs = 1))
  }

  test("prefixFilterJaccardPairs: equals brute force on random corpora (full recall)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 8) {
      val vocab = (1 to 12).map(i => s"w$i")
      val corpus = (1L to 20L).map { id =>
        val len = 5 + rnd.nextInt(15)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("id", "text")
      for (t <- Seq(0.3, 0.5, 0.8)) {
        val brute = Dedup.ngramJaccardPairs(corpus, "id", "text", 3, t)
          .as[(Long, Long, Double)].collect().toSet
        val fast = Dedup.prefixFilterJaccardPairs(corpus, "id", "text", 3, t)
          .as[(Long, Long, Double)].collect().toSet
        assert(fast == brute, s"trial=$trial t=$t")
      }
    }
  }

  test("prefixFilterJaccardPairs: finds the all-frequent-overlap pair the df cap misses") {
    // a 7-copy exact-dup family: every shared shingle appears in 7 docs,
    // so a df cap of 5 excludes them all from candidate generation —
    // the cap's documented recall trade. The prefix filter has no cap.
    val famText = (1 to 10).map(i => s"f$i").mkString(" ")
    val corpus = ((1L to 7L).map(id => (id, famText)) ++
      Seq((8L, "solo a b c d e f g"), (9L, "other h i j k l m n"))).toDF("id", "text")
    val capped = Dedup.ngramJaccardPairsCapped(corpus, "id", "text", 3, 0.8,
      maxDocsPerShingle = 5).count()
    assert(capped == 0L)
    val fast = Dedup.prefixFilterJaccardPairs(corpus, "id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val want = (for (x <- 1L to 7L; y <- (x + 1) to 7L) yield (x, y, 1.0)).toSet
    assert(fast == want)
    intercept[IllegalArgumentException](
      Dedup.prefixFilterJaccardPairs(corpus, "id", "text", 3, 0.0))
  }
}
