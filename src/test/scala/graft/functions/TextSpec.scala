package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class TextSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("text")

  test("token counting collapses whitespace and trims") {
    val df = one("  the quick   brown\tfox ")
    assert(df.select(Text.tokenCount(col("text"))).head().getLong(0) == 4)
    assert(df.select(Text.distinctTokenCount(col("text"))).head().getLong(0) == 4)
  }

  test("stopword stats and langid heuristic") {
    val en = one("the cat and the dog of the house")
    assert(en.select(Text.stopwordCount(col("text"))).head().getLong(0) == 5)
    assert(en.select(Text.langIdHeuristic(col("text"))).head().getString(0) == "en_like")
    assert(one("uno dos").select(Text.langIdHeuristic(col("text"))).head().getString(0) == "short")
    assert(one("uno dos tres quatro cinco seis").select(Text.langIdHeuristic(col("text")))
      .head().getString(0) == "other")
  }

  test("quality score is in [0,1] and favors diverse text") {
    val diverse = one((1 to 100).map("w" + _).mkString(" "))
      .select(Text.qualityScore(col("text"))).head().getDouble(0)
    val repetitive = one(Seq.fill(100)("w").mkString(" "))
      .select(Text.qualityScore(col("text"))).head().getDouble(0)
    assert(diverse > repetitive && diverse <= 1.0 && repetitive >= 0.0)
  }

  test("bag fingerprint is order-invariant, distinct for different bags") {
    val fp = (s: String) => one(s).select(Text.bagFingerprint(col("text"))).head().getString(0)
    assert(fp("a b c") == fp("c b a"))
    assert(fp("a b c") != fp("a b d"))
  }

  test("punct ratio") {
    val r = one("ab,c!").select(Text.punctRatio(col("text"))).head().getDouble(0)
    assert(math.abs(r - 0.4) < 1e-9)
  }

  test("chunks: stride windows with overlap, short docs get one chunk") {
    val df = one((1 to 10).map(i => s"t$i").mkString(" "))
    val ch = df.select(Text.chunks(col("text"), 4, 1).as("c")).head().getSeq[String](0)
    // stride 3: starts at 0,3,6 cover all 10 tokens
    assert(ch.head == "t1 t2 t3 t4")
    assert(ch(1) == "t4 t5 t6 t7")
    assert(ch.last == "t7 t8 t9 t10")
    assert(ch.size == 3)
    val short = one("a b").select(Text.chunks(col("text"), 4, 1).as("c")).head().getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("chunks of an empty doc: one empty chunk whose tokenCount is 0 (q49 guard)") {
    // raw split(chunk, ' ') would report 1 phantom token here — the q49
    // corpus query must count the tail chunk with Text.tokenCount instead
    val row = one("   ")
      .select(
        Text.chunks(col("text"), 4, 1).as("c"),
        Text.tokenCount(org.apache.spark.sql.functions.element_at(
          Text.chunks(col("text"), 4, 1), -1)).as("last_tokens"))
      .head()
    assert(row.getSeq[String](0) == Seq(""))
    assert(row.getLong(1) == 0L)
  }

  test("redactPii: all occurrences replaced, clean text untouched, idempotent") {
    val dirty = "mail a@b.com and c.d+x@e.org call +44-123-456-7890 host 10.0.0.1 and 192.168.1.255 done"
    val out = one(dirty).select(Text.redactPii(col("text"))).head().getString(0)
    assert(out == "mail <EMAIL> and <EMAIL> call <PHONE> host <IP> and <IP> done")
    // placeholders contain no @, digits, or dots — a second pass is a no-op
    val twice = one(out).select(Text.redactPii(col("text"))).head().getString(0)
    assert(twice == out)
    val clean = "alpha beta gamma delta"
    assert(one(clean).select(Text.redactPii(col("text"))).head().getString(0) == clean)
  }

  test("redactPii: zero-padded IPv4 octets are redacted; over-255 still rejected") {
    // zero-padded logs write '10.0.0.01' / '010.001.002.003' — an
    // under-redacting PII pass is the bad direction to fail (ADVICE r8)
    val padded = "a 10.0.0.01 b 010.001.002.003 c 007.8.9.10 d"
    assert(one(padded).select(Text.redactPii(col("text"))).head().getString(0)
      == "a <IP> b <IP> c <IP> d")
    // 256-999 octets and over-long zero-padded octets ('0255') never match
    val junk = "v 1.999.3.4 w 0255.1.2.3 x 999.999.999.999 y"
    assert(one(junk).select(Text.redactPii(col("text"))).head().getString(0) == junk)
  }

  test("piiCount counts every match of each pattern") {
    val dirty = "a@b.com x@y.net +1-555-012-0199 10.0.0.1"
    val row = one(dirty).select(
      Text.piiCount(col("text"), Text.EmailPattern),
      Text.piiCount(col("text"), Text.PhonePattern),
      Text.piiCount(col("text"), Text.Ipv4Pattern)).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((2L, 1L, 1L)))
  }

  test("filterReason: first matching reason wins, keep otherwise") {
    def reason(t: String): String =
      one(t).select(Text.filterReason(col("text"), minTokens = 3, maxStopRatio = 0.5,
        maxPunctRatio = 0.4, minDistinctRatio = 0.5)).head().getString(0)
    assert(reason("one two") == "too_short")
    assert(reason("the the the the of") == "too_stoppy") // short-circuits before repetitive
    assert(reason("x!! y!! z!!") == "too_punct") // 6 punct / 11 chars > 0.4
    assert(reason("x x x x y") == "too_repetitive")
    assert(reason("alpha beta gamma delta") == "keep")
  }

  test("normalizeCc: lowercase, accent strip, digit fold, whitespace collapse") {
    def norm(t: String): String =
      one(t).select(Text.normalizeCc(col("text"))).head().getString(0)
    assert(norm("Héllo  Wörld") == "hello world")
    assert(norm("  A\tB\nC  ") == "a b c")
    assert(norm("Piñata café №") == "pinata cafe №") // unmapped symbols survive
    assert(norm("v1.2 beta3") == "v0.0 beta0")
    assert(norm("") == "")
    assert(norm("   ") == "")
    // idempotent: normalizing a normalized string is a no-op
    val s = "Crème BRÛLÉE 42, s'il vous plaît!"
    assert(norm(norm(s)) == norm(s))
    // case/accent/digit variants of one text share a digest — the
    // normalization-aware dedup premise (q109)
    assert(norm("PRICE: 100 Dollars") == norm("price: 999 dollars"))
  }

  test("sortedIntersectCount: merge walk over sorted distinct arrays") {
    import org.apache.spark.sql.functions.{array_intersect, size => asize, sort_array, split}
    def cnt(a: String, b: String): Long =
      Seq((a, b)).toDF("a", "b")
        .select(TextExpressions.sorted_intersect_count(
          sort_array(split(col("a"), ",")), sort_array(split(col("b"), ",")))).head().getLong(0)
    assert(cnt("a,b,c", "b,c,d") == 2L)
    assert(cnt("a,b,c", "x,y") == 0L)
    assert(cnt("a,b,c", "a,b,c") == 3L)
    // property vs the built-in on random token sets (distinct inputs)
    val rnd = new scala.util.Random(7)
    (1 to 30).foreach { _ =>
      val xs = (1 to rnd.nextInt(20)).map(_ => "t" + rnd.nextInt(25)).distinct
      val ys = (1 to rnd.nextInt(20)).map(_ => "t" + rnd.nextInt(25)).distinct
      if (xs.nonEmpty && ys.nonEmpty) {
        val got = cnt(xs.mkString(","), ys.mkString(","))
        val want = Seq((xs, ys)).toDF("a", "b")
          .select(asize(array_intersect(col("a"), col("b")))).head().getInt(0).toLong
        assert(got == want, s"xs=$xs ys=$ys")
      }
    }
  }
}
