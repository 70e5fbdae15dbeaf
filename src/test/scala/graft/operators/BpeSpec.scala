package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** BPE trainer + apply (Curation.bpeTrain / Curation.applyBpe). */
class BpeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  // the Sennrich BPE-paper style fixture: vocab {low:5, lower:2,
  // newest:6, widest:3}, no end-of-word marker
  private def paperCorpus = docs(
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))

  test("bpeTrain recovers the hand-computed merge sequence with deterministic ties") {
    val merges = Curation.bpeTrain(paperCorpus, "text", numMerges = 3)
    // round 1: es=9 ties st=9 → left asc picks (e,s); round 2: (es,t)=9;
    // round 3: lo=7 ties ow=7 → (l,o)
    assert(merges.map(m => (m.merge_rank, m.left_sym, m.right_sym, m.n)) == Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "l", "o", 7L)))
  }

  test("bpeTrain releases every words round it checkpointed") {
    val pins = new PinMark
    assert(Curation.bpeTrain(paperCorpus, "text", numMerges = 5).size == 5)
    assert(pins.left == ((0, Set.empty[Int])))
  }

  test("merge application is greedy left-to-right over non-overlapping pairs") {
    // word type 'aaa' (wc=2) has TWO overlapping (a,a) pairs → n=4; the
    // apply pass must produce ["aa","a"], never ["aa","aa"] or ["a","aa"]
    val d = docs("aaa aaa")
    val merges = Curation.bpeTrain(d, "text", numMerges = 1)
    assert(merges.map(m => (m.left_sym, m.right_sym, m.n)) == Seq(("a", "a", 4L)))
    val segs = Curation.applyBpe(d, "doc_id", "text", merges.map(m => (m.left_sym, m.right_sym)))
      .select("subwords").head().getSeq[String](0)
    assert(segs == Seq("aa", "a", "aa", "a"))
  }

  test("applyBpe replays merges in training order and keeps token order") {
    val d = docs("newest low", "lower")
    val segs = Curation
      .applyBpe(d, "doc_id", "text", Seq(("e", "s"), ("es", "t"), ("l", "o")))
      .orderBy("doc_id")
      .select("subwords")
      .collect()
      .map(_.getSeq[String](0))
    // (es,t) only fires because (e,s) created 'es' first — order matters
    assert(segs(0) == Seq("n", "e", "w", "est", "lo", "w"))
    assert(segs(1) == Seq("lo", "w", "e", "r"))
  }

  test("training stops early when no pairs remain or the best pair misses minCount") {
    // single-character words: nothing to merge
    assert(Curation.bpeTrain(docs("a b a b c"), "text", numMerges = 5).isEmpty)
    // best pair 'aa' occurs twice; minCount=3 rejects it
    assert(Curation.bpeTrain(docs("aa aa"), "text", numMerges = 5, minCount = 3L).isEmpty)
    val some = Curation.bpeTrain(docs("aa aa"), "text", numMerges = 5, minCount = 2L)
    assert(some.map(m => (m.left_sym, m.right_sym, m.n)) == Seq(("a", "a", 2L)))
  }

  test("documents with no tokens are omitted from applyBpe output") {
    val d = docs("ab ab", "   ")
    val out = Curation.applyBpe(d, "doc_id", "text", Seq(("a", "b")))
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(0L))
    assert(out.select("subwords").head().getSeq[String](0) == Seq("ab", "ab"))
  }
}
