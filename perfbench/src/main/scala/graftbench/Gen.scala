package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. One seed fixes every input of a run: the
  * relational and event tables, the CDC batches (recent-key skew,
  * inserts above the watermark), the document corpus (Zipf vocabulary
  * with exact and near duplicates, low-quality and PII documents), the
  * planted benchmark set, the link graph, the embeddings and the
  * retrieval queries. The engine only ever sees the
  * generated frames and files.
  */
object Gen {

  // ------------------------------------------------------------ relational

  /** The eight source tables at `orders` = `n` rows (lineitem 4n), with
    * their row counts.
    */
  def relational(spark: SparkSession, seed: Long, n: Long): Seq[(String, DataFrame, Long)] = {
    def hv(salt: String, mod: Long): Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(mod))
    def pick(salt: String, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (hv(salt, xs.size.toLong) + 1).cast("int"))
    def money(salt: String, cents: Long): Column = (hv(salt, cents) / 100.0).cast("double")
    def ts(salt: String): Column = timestamp_seconds(lit(694224000L) + hv(salt, 7L * 365 * 86400))
    val nCust = customers(n)
    val nSupp = math.max(10L, n / 150)
    val nPart = math.max(10L, n * 2 / 15)
    val nEvents = n * 2 / 3
    def rng(k: Long) = spark.range(0, k, 1, 4)
    val rows = Map("region" -> 5L, "nation" -> 25L, "customer" -> nCust, "supplier" -> nSupp,
      "part" -> nPart, "orders" -> n, "lineitem" -> 4 * n, "events" -> nEvents)
    Seq(
      "region" -> rng(5).select(col("id").cast("int").as("r_regionkey"),
        pick("rn", "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").as("r_name")),
      "nation" -> rng(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> rng(nCust).select((col("id") + 1).as("c_custkey"),
        format_string("Customer#%09d", col("id") + 1).as("c_name"),
        hv("cn", 25).cast("int").as("c_nationkey"), money("cb", 1000000L).as("c_acctbal"),
        pick("cm", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")),
      "supplier" -> rng(nSupp).select((col("id") + 1).as("s_suppkey"),
        format_string("Supplier#%09d", col("id") + 1).as("s_name"),
        hv("sn", 25).cast("int").as("s_nationkey"), money("sb", 1000000L).as("s_acctbal")),
      "part" -> rng(nPart).select((col("id") + 1).as("p_partkey"),
        concat_ws(" ", pick("p1", "almond", "azure", "blush", "coral", "khaki"),
          pick("p2", "lace", "linen", "metal", "navy", "plum")).as("p_name"),
        format_string("Brand#%d", hv("pb", 55) + 11).as("p_brand"),
        pick("pt", "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
        (hv("ps", 50) + 1).cast("int").as("p_size"), money("pr", 200000L).as("p_retailprice")),
      "orders" -> rng(n).select((col("id") + 1).as("o_orderkey"),
        (hv("oc", nCust) + 1).as("o_custkey"), pick("os", "O", "F", "P").as("o_orderstatus"),
        money("op", 50000000L).as("o_totalprice"), ts("od").as("o_orderdate"),
        pick("opr", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")),
      "lineitem" -> rng(4 * n).select((col("id") / 4 + 1).cast("long").as("l_orderkey"),
        (hv("lp", nPart) + 1).as("l_partkey"), (hv("ls", nSupp) + 1).as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (hv("lq", 50) + 1).cast("double").as("l_quantity"),
        money("le", 10000000L).as("l_extendedprice"), (hv("ld", 11) / 100.0).as("l_discount"),
        (hv("lt", 9) / 100.0).as("l_tax"), pick("lr", "A", "N", "R").as("l_returnflag"),
        pick("ll", "F", "O").as("l_linestatus"), ts("lsd").as("l_shipdate")),
      "events" -> rng(nEvents).select((col("id") + 1).as("event_id"), ts("et").as("ts"),
        (hv("eu", 5000) + 1).as("user_id"),
        pick("ety", "click", "view", "purchase", "search").as("event_type"),
        money("ev", 100000L).as("value"),
        to_json(struct(pick("epd", "web", "ios", "android").as("device"),
          hv("eps", 100).as("session"))).as("props"))
    ).map { case (t, df) => (t, df, rows(t)) }
  }

  /** Customers in the tables generated at `orders` = `n`. */
  def customers(n: Long): Long = math.max(10L, n / 10)

  /** Derived layer-1 tables: (name, source table, filter SQL). */
  val Derived: Seq[(String, String, String)] = Seq(
    ("open_orders", "orders", "SELECT * FROM open_orders WHERE o_orderstatus = 'O'"),
    ("purchase_events", "events", "SELECT * FROM purchase_events WHERE event_type = 'purchase'"))

  // ------------------------------------------------------------------ CDC

  /** A seeded day of CDC on `orders`: each batch is `batchRows` rows,
    * 80% updates of distinct keys drawn from the newest 10% of the keys
    * live at that point, 20% inserts above the high watermark.
    */
  final class Cdc(startMaxKey: Long, batchRows: Int, nCust: Long) {
    private var maxKey = startMaxKey
    private val statuses = Array("O", "F", "P")
    private val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    def next(seed: Long, batchNo: Int): Seq[Row] = {
      val r = new Random(seed * 1000003L + batchNo)
      val nIns = batchRows / 5
      val lo = maxKey - maxKey / 10
      val upd = mutable.LinkedHashSet[Long]()
      while (upd.size < batchRows - nIns) upd += lo + 1 + (r.nextDouble() * (maxKey - lo)).toLong
      val ins = (1 to nIns).map(i => maxKey + i)
      maxKey += nIns
      (upd.toSeq ++ ins).map { k =>
        Row(k, 1L + r.nextInt(nCust.toInt), statuses(r.nextInt(3)),
          r.nextInt(50000000) / 100.0,
          new java.sql.Timestamp((694224000L + r.nextInt(7 * 365 * 86400)) * 1000L),
          prios(r.nextInt(5)))
      }
    }
  }

  // ------------------------------------------------------------ documents

  private val Syllables =
    Array("ka", "lo", "mi", "nu", "pe", "ri", "so", "ta", "ve", "zu", "ba", "de", "fi", "go", "hu", "ja")
  val Stopwords: Array[String] = Array("the", "a", "and", "of", "to")

  /** Word of vocabulary rank `r` (distinct for distinct ranks). */
  def word(r: Int): String = {
    val b = new StringBuilder
    var x = r + Syllables.length
    while (x > 0) { b ++= Syllables(x % Syllables.length); x /= Syllables.length }
    b.result()
  }

  /** Vocabulary size of the document corpus. */
  private val Vocab = 4000

  /** Vector dimension of the embeddings. */
  private val Dim = 64

  /** Zipf(1.05) sampler over the vocabulary. */
  private object Zipf {
    private val cdf = {
      val w = (1 to Vocab).map(k => 1.0 / math.pow(k, 1.05))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    def draw(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(Vocab - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def freshText(r: Random): String = {
    val n = 30 + r.nextInt(90)
    Seq.fill(n)(if (r.nextDouble() < 0.08) Stopwords(r.nextInt(5)) else word(Zipf.draw(r))).mkString(" ")
  }

  /** `n` documents with ids from 0: 6% exact and 6% near
    * duplicates of earlier documents, 3% too short or repetitive, 2%
    * carrying an email address, the rest fresh Zipf text.
    */
  def documents(seed: Long, n: Int): Seq[(Long, String)] = {
    val r = new Random(seed * 7919L)
    val out = mutable.ArrayBuffer[(Long, String)]()
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      val text =
        if (out.size > 10 && u < 0.06) out(r.nextInt(out.size))._2
        else if (out.size > 10 && u < 0.12) {
          val toks = out(r.nextInt(out.size))._2.split(' ')
          toks(r.nextInt(toks.length)) = word(Zipf.draw(r))
          toks.mkString(" ")
        } else if (u < 0.135) Seq.fill(3)(word(Zipf.draw(r))).mkString(" ")
        else if (u < 0.15) Seq.fill(40)(word(r.nextInt(3))).mkString(" ")
        else if (u < 0.17) freshText(r) + s" contact user${r.nextInt(1000)}@example.com"
        else freshText(r)
      out += ((i.toLong, text))
    }
    out.toSeq
  }

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text").repartition(4)

  /** Planted benchmark set: verbatim copies of ~1% of the corpus, with
    * ids offset past it. Returns (bench docs, corpus ids copied).
    */
  def planted(seed: Long, docs: Seq[(Long, String)]): (Seq[(Long, String)], Seq[Long]) = {
    val r = new Random(seed * 31L + 1)
    val pick = docs.filter(_._2.split(' ').length >= 30)
      .filter(_ => r.nextDouble() < 0.01).take(math.max(3, docs.size / 100))
    (pick.map { case (id, t) => (id + 1000000000L, t) }, pick.map(_._1))
  }

  /** Clique-chain link graph over `ids`: cliques of 3 to 6 consecutive
    * ids, each bridged to the next clique's first member.
    */
  def links(seed: Long, ids: Seq[Long]): Seq[(Long, Long)] = {
    val r = new Random(seed * 17L + 5)
    val groups = mutable.ArrayBuffer[Seq[Long]]()
    var rest = ids.sorted
    while (rest.nonEmpty) {
      val k = 3 + r.nextInt(4)
      groups += rest.take(k)
      rest = rest.drop(k)
    }
    val within = groups.flatMap(g => for (a <- g; b <- g if a < b) yield (a, b))
    val bridges = groups.indices.drop(1).map(k => (groups(k - 1).last, groups(k).head))
    (within ++ bridges).toSeq
  }

  // ----------------------------------------------------------- embeddings

  /** `n` clustered 64-d vectors (ids from 0): 16 seeded centres plus
    * Gaussian noise; `label` is the centre.
    */
  def embeddings(seed: Long, n: Int): Seq[(Long, Array[Float], Int)] = {
    val r = new Random(seed * 257L + 3)
    val centres = Array.fill(16)(Array.fill(Dim)(r.nextGaussian()))
    (0 until n).map { i =>
      val c = r.nextInt(16)
      (i.toLong, Array.tabulate(Dim)(d => (centres(c)(d) + 0.6 * r.nextGaussian()).toFloat), c)
    }
  }

  def embFrame(spark: SparkSession, e: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(e).toDF("vec_id", "embedding", "label").repartition(4)

  /** Query terms drawn across document-frequency bands: each query has
    * one high-df (>=5% of docs), one mid-df and one rare term, so both
    * long and short posting lists are read.
    */
  def queryTerms(seed: Long, docs: Seq[(Long, String)], n: Int): Seq[Seq[String]] = {
    val df = mutable.HashMap[String, Int]()
    docs.foreach { case (_, t) => t.split(' ').distinct.foreach(w => df(w) = df.getOrElse(w, 0) + 1) }
    val words = df.toSeq.filterNot(w => Stopwords.contains(w._1)).sortBy(_._1)
    val d = docs.size.toDouble
    val bands = Seq(
      words.filter(_._2 >= 0.05 * d), words.filter(w => w._2 < 0.05 * d && w._2 >= 0.005 * d),
      words.filter(_._2 < 0.005 * d)).map(_.map(_._1)).filter(_.nonEmpty)
    val r = new Random(seed * 97L + 11)
    Seq.fill(n)(bands.map(b => b(r.nextInt(b.size))))
  }
}
