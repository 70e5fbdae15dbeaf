package graft.operators

import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class GraphSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Reference implementation: the same exact-integer recurrence, run
    * sequentially on the driver.
    */
  private def refRank(
      verts: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    var pr = verts.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val msg = edges
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
        }
      pr = verts.map(v => v -> (150000L + 85L * msg.getOrElse(v, 0L) / 100L)).toMap
    }
    pr
  }

  test("pageRankExact: matches the sequential recurrence, isolated vertex keeps base") {
    // triangle + pendant + isolated vertex, undirected (mirrored)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val got = Graph.pageRankExact(edges, verts, "id", iterations = 5)
      .as[(Long, Long)].collect().toMap
    val want = refRank(Seq(1L, 2L, 3L, 4L, 9L), und ++ und.map(_.swap), 5)
    assert(got == want)
    assert(got(9L) == 150000L) // isolated: base rank only
    assert(got(3L) > got(1L)) // the hub outranks triangle members
    assert(got.values.forall(_ >= 150000L))
  }

  test("pageRankExact: partition-order independent (exact integers)") {
    val und = (1L to 40L).map(i => (i, i % 7 + 100L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val verts = (und.flatMap(e => Seq(e._1, e._2))).distinct.toDF("id")
    val a = Graph.pageRankExact(edges, verts, "id", 4).as[(Long, Long)].collect().toMap
    val b = Graph.pageRankExact(edges.repartition(13), verts.repartition(3), "id", 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRankExact: releases its loop invariants; only the result stays persisted") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val pins = new PinMark
    val got = Graph.pageRankExact(edges, verts, "id", iterations = 3)
    val own = got.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    assert(own.size == 1)
    assert(pins.left == ((0, own)))
    assert(got.count() == 5L)
  }

  test("triangleCounts: matches brute force, zero rows kept, input form irrelevant") {
    // K4 on 1-4 (every vertex in 3 triangles) + a pendant (5) + isolated (9)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val vs = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val tris = for {
        a <- vs; b <- vs if a < b; c <- vs if b < c
        if es((a, b)) && es((b, c)) && es((a, c))
      } yield (a, b, c)
      tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
    }
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val want = (1L to 5L).map(v => v -> brute(und).getOrElse(v, 0L)).toMap + (9L -> 0L)
    // mirrored input (the cooccurrenceEdges form) and canonical input
    // must agree; duplicates and a self-loop must be ignored
    val mirrored = (und ++ und.map(_.swap) ++ Seq((1L, 2L), (3L, 3L))).toDF("src", "dst")
    val got = Graph.triangleCounts(mirrored, verts, "id")
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got(1L) == 3L && got(5L) == 0L && got(9L) == 0L)
    val canon = und.toDF("src", "dst")
    assert(Graph.triangleCounts(canon, verts, "id")
      .as[(Long, Long)].collect().toMap == want)
  }

  test("cooccurrenceEdges: mirrored, distinct, hot groups dropped at the cap") {
    val items = Seq(
      (10L, 1L), (10L, 2L), (10L, 2L), // dup item in group collapses
      (20L, 2L), (20L, 3L), (20L, 4L),
      (30L, 5L) // singleton: no pairs
    ).toDF("g", "item")
    val got = Graph.cooccurrenceEdges(items, "g", "item")
      .as[(Long, Long)].collect().toSet
    val want = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (2L, 4L),
      (4L, 2L), (3L, 4L), (4L, 3L))
    assert(got == want)
    // cap: the size-3 group 20 is dropped at maxGroupSize=2, group 10
    // (2 distinct items) survives
    val capped = Graph.cooccurrenceEdges(items, "g", "item", maxGroupSize = 2)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L), (2L, 1L)))
    intercept[IllegalArgumentException](
      Graph.cooccurrenceEdges(items, "g", "item", maxGroupSize = 1))
  }

  test("cooccurrenceEdges: string-id fallback path matches the integral path") {
    // the bounded-set one-exchange path only serves integral item ids;
    // string ids (and integral ids with a cap past the bounded-set
    // bound) take the count-filter + membership-join fallback — pin
    // that both shapes emit the same edge set on equivalent data
    val longItems = Seq(
      (10L, 1L), (10L, 2L), (10L, 2L),
      (20L, 2L), (20L, 3L), (20L, 4L),
      (30L, 5L)
    ).toDF("g", "item")
    val strItems = longItems
      .select($"g", org.apache.spark.sql.functions.format_string("i%d", $"item").as("item"))
    for (cap <- Seq(2, 1000)) {
      val viaLong = Graph.cooccurrenceEdges(longItems, "g", "item", cap)
        .as[(Long, Long)].collect().toSet
        .map((p: (Long, Long)) => (s"i${p._1}", s"i${p._2}"))
      val viaStr = Graph.cooccurrenceEdges(strItems, "g", "item", cap)
        .as[(String, String)].collect().toSet
      assert(viaStr == viaLong, s"fallback diverged at cap=$cap")
      // an integral cap past the bounded-set bound routes to the same
      // fallback instead of surfacing bounded_set's require
      val viaBigCap = Graph
        .cooccurrenceEdges(longItems, "g", "item", maxGroupSize = 16777217)
        .as[(Long, Long)].collect().toSet
      assert(viaBigCap == Graph.cooccurrenceEdges(longItems, "g", "item")
        .as[(Long, Long)].collect().toSet)
    }
  }

  test("cooccurrenceEdgesTagged: each tag slice equals the per-slice build (one pass)") {
    // groups split by a group-level predicate; a pair co-purchased in
    // BOTH slices (2,3) must appear once per tag, exactly as two
    // separate builds would emit it
    val items = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 2L), (20L, 3L),
      (21L, 2L), (21L, 3L), (21L, 4L),
      (35L, 5L)
    ).toDF("g", "item")
    val pred = org.apache.spark.sql.functions.col("g") % 2 === 1
    val tagged = Graph.cooccurrenceEdgesTagged(items, "g", "item", pred)
      .as[(Long, Long, Boolean)].collect().toSet
    val odd = Graph.cooccurrenceEdges(items.where(pred), "g", "item")
      .as[(Long, Long)].collect().toSet
    val even = Graph.cooccurrenceEdges(items.where(!pred), "g", "item")
      .as[(Long, Long)].collect().toSet
    assert(tagged == odd.map { case (a, b) => (a, b, true) } ++
      even.map { case (a, b) => (a, b, false) })
    // the cap applies identically (group 21 has 3 items)
    val cappedTagged = Graph
      .cooccurrenceEdgesTagged(items, "g", "item", pred, maxGroupSize = 2)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(cappedTagged ==
      Graph.cooccurrenceEdges(items.where(pred), "g", "item", maxGroupSize = 2)
        .as[(Long, Long)].collect().toSet.map((p: (Long, Long)) => (p._1, p._2, true)) ++
      Graph.cooccurrenceEdges(items.where(!pred), "g", "item", maxGroupSize = 2)
        .as[(Long, Long)].collect().toSet.map((p: (Long, Long)) => (p._1, p._2, false)))
  }

  /** Reference: driver-side union-find with min-id component labels. */
  private def refComponents(
      verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var c = v
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    verts.map(v => v -> find(v)).toMap
  }

  test("connectedComponentsStar: long path converges in log rounds, not diameter") {
    // a 200-node path has diameter 199 — min-label propagation would
    // need 199 rounds; the alternating star algorithm must finish well
    // inside maxIter = 16 (~2·log2)
    val path = (1L until 200L).map(i => (i, i + 1))
    val verts = (1L to 200L).toDF("id")
    val got = Graph
      .connectedComponentsStar(path.toDF("src", "dst"), verts, "id", maxIter = 16)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 200L).map(_ -> 1L).toMap)
  }

  test("connectedComponentsStar: matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val n = 2 + rnd.nextInt(60)
      val verts = (1L to n.toLong) ++ Seq(900L, 901L) // two isolates
      val edges = Seq.fill(rnd.nextInt(2 * n))(
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
      val got = Graph
        .connectedComponentsStar(edges.toDF("src", "dst"), verts.toDF("id"), "id")
        .as[(Long, Long)].collect().toMap
      assert(got == refComponents(verts, edges), s"n=$n edges=$edges")
    }
  }

  test("connectedComponentsStar: cycles, self-loops, mirrored dups, empty edges") {
    val verts = (1L to 8L).toDF("id")
    // 5-cycle + self loop + mirrored duplicate edge; 6,7,8 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L),
      (3L, 3L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.connectedComponentsStar(edges, verts, "id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 7L, 8L -> 8L))
    val none = Graph.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("src", "dst"), verts, "id")
      .as[(Long, Long)].collect().toMap
    assert(none == (1L to 8L).map(v => v -> v).toMap)
  }

  test("connectedComponentsStar: partition-order independent; loud non-convergence") {
    val edges = (1L until 64L).map(i => (i, i + 1))
    val verts = (1L to 64L).toDF("id")
    val a = Graph.connectedComponentsStar(
      edges.toDF("src", "dst"), verts, "id").as[(Long, Long)].collect().toMap
    val b = Graph.connectedComponentsStar(
      edges.toDF("src", "dst").repartition(13), verts.repartition(3), "id")
      .as[(Long, Long)].collect().toMap
    assert(a == b && a.values.forall(_ == 1L))
    intercept[IllegalArgumentException](
      Graph.connectedComponentsStar(
        edges.toDF("src", "dst"), verts, "id", maxIter = 1))
  }

  /** Driver-side md5-prefix hash, bit-identical to Text.md5PrefixLong. */
  private def md5Prefix52(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString.take(13), 16)
  }

  /** Reference walks: sequential replay of the hash-argmin recurrence. */
  private def refWalks(
      verts: Seq[Long], edges: Seq[(Long, Long)], walkLen: Int, salt: String
  ): Set[(Long, Long, Long)] = {
    val adj = edges.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    for (r <- verts) {
      var cur = r
      var alive = true
      out += ((r, 0L, r))
      for (t <- 1 to walkLen if alive) {
        adj.get(cur) match {
          case Some(ns) if ns.nonEmpty =>
            val nxt = ns.map(n => (md5Prefix52(s"$salt:$r:$t:$n"), n)).min._2
            out += ((r, t.toLong, nxt))
            cur = nxt
          case _ => alive = false
        }
      }
    }
    out.toSet
  }

  test("randomWalks: matches the sequential hash-argmin replay") {
    val rnd = new scala.util.Random(3)
    for (trial <- 1 to 6) {
      val n = 3 + rnd.nextInt(20)
      val verts = (1L to n.toLong) :+ 500L // 500 is isolated: walk stops at step 0
      val edges = Seq.fill(3 * n)((1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter(e => e._1 != e._2)
      val got = Graph.randomWalks(
        edges.toDF("src", "dst"), verts.toDF("id"), "id", walkLen = 5)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == refWalks(verts, edges, 5, "walk"), s"trial=$trial edges=$edges")
    }
  }

  test("randomWalks: full length on a connected mirror, early stop at dead ends") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val mirrored = (und ++ und.map(_.swap)).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val walks = Graph.randomWalks(mirrored, verts, "id", walkLen = 4)
      .as[(Long, Long, Long)].collect()
    assert(walks.length == 3 * 5) // every walk runs all 4 steps + step 0
    // directed chain: 1 -> 2 -> 3 (3 is a dead end)
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.randomWalks(chain, verts, "id", walkLen = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L),
      (2L, 0L, 2L), (2L, 1L, 3L),
      (3L, 0L, 3L)))
  }

  test("randomWalksEnsemble: matches the sequential wid-salted replay") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 3 + rnd.nextInt(15)
      val verts = (1L to n.toLong) :+ 900L // isolated root: stops at step 0
      val edges = Seq.fill(3 * n)((1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter(e => e._1 != e._2)
      val got = Graph.randomWalksEnsemble(
        edges.toDF("src", "dst"), verts.toDF("id"), "id", walkLen = 4, numWalks = 3)
        .as[(Long, Long, Long, Long)].collect().toSet
      // reference: the single-walk recurrence with the wid inside the hash
      val adj = edges.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
      val want = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
      for (r <- verts; w <- 0L to 2L) {
        var cur = r
        var alive = true
        want += ((r, w, 0L, r))
        for (t <- 1 to 4 if alive) {
          adj.get(cur) match {
            case Some(ns) if ns.nonEmpty =>
              val nxt = ns.map(x => (md5Prefix52(s"walk:$w:$r:$t:$x"), x)).min._2
              want += ((r, w, t.toLong, nxt))
              cur = nxt
            case _ => alive = false
          }
        }
      }
      assert(got == want.toSet, s"trial=$trial edges=$edges")
    }
  }

  test("randomWalksEnsemble: walks are independent draws; guards") {
    // a dense-enough graph that three draws cannot all coincide
    val und = (1L to 40L).flatMap(i => (1L to 40L).collect {
      case j if i != j && (i + j) % 3 != 0 => (i, j)
    })
    val verts = (1L to 40L).toDF("id")
    val byWalk = Graph.randomWalksEnsemble(und.toDF("src", "dst"), verts, "id", 4, 3)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._2).map { case (w, rows) => w -> rows.map(r => (r._1, r._3, r._4)).toSet }
    assert(byWalk.keySet == Set(0L, 1L, 2L))
    assert(byWalk(0L) != byWalk(1L) || byWalk(1L) != byWalk(2L))
    intercept[IllegalArgumentException](
      Graph.randomWalksEnsemble(und.toDF("src", "dst"), verts, "id", 4, numWalks = 0))
  }

  test("hashFamily=xxhash64: identical walk STRUCTURE, cheaper hash; bad family rejected") {
    val rnd = new scala.util.Random(7)
    val n = 25
    val verts = (1L to n.toLong) :+ 700L
    val edges = Seq.fill(4 * n)((1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
      .filter(e => e._1 != e._2)
    val md = Graph.randomWalks(
      edges.toDF("src", "dst"), verts.toDF("id"), "id", walkLen = 5)
      .as[(Long, Long, Long)].collect()
    val xx = Graph.randomWalks(
      edges.toDF("src", "dst"), verts.toDF("id"), "id", walkLen = 5,
      hashFamily = "xxhash64")
      .as[(Long, Long, Long)].collect()
    // STRUCTURE pinned for BOTH families: a walk is a contiguous path
    // of real edges from its root, ending early ONLY at a true dead
    // end. (Which neighbor is taken — and hence where a directed walk
    // lands and how long it runs — is legitimately family-specific.)
    val adj = edges.toSet
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    for ((fam, rows) <- Seq(("md5", md), ("xx", xx))) {
      val byRoot = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      assert(byRoot.keySet == verts.toSet, s"$fam: missing roots")
      byRoot.foreach { case (root, stepsRows) =>
        val path = stepsRows.map(_._3)
        assert(path.head == root, s"$fam: walk must start at its root")
        // contiguous prefix: step values are exactly 0..len-1 — a walk
        // missing an intermediate step must fail here
        assert(stepsRows.map(_._2).toSeq == (0L until stepsRows.length.toLong),
          s"$fam: walk from $root has non-contiguous steps ${stepsRows.map(_._2).mkString(",")}")
        path.toSeq.sliding(2).foreach {
          case Seq(a, b) => assert(adj.contains((a, b)), s"$fam: phantom edge $a->$b")
          case _ => ()
        }
        if (path.length < 6)
          assert(outDeg.getOrElse(path.last, 0) == 0,
            s"$fam: walk from $root stopped at ${path.last}, which has out-neighbors")
      }
    }
    // on a dead-end-free graph both families run every walk full length
    val mirrored = (edges ++ edges.map(_.swap)).distinct
    for (fam <- Seq("md5", "xxhash64")) {
      val full = Graph.randomWalks(
        mirrored.toDF("src", "dst"), (1L to n.toLong).toDF("id"), "id",
        walkLen = 5, hashFamily = fam)
        .as[(Long, Long, Long)].collect()
      assert(full.length == n * 6, s"$fam: expected every walk at full length")
    }
    // partition-order independence holds for the xx family too
    val xx2 = Graph.randomWalks(
      edges.toDF("src", "dst").repartition(9), verts.toDF("id").repartition(3),
      "id", walkLen = 5, hashFamily = "xxhash64")
      .as[(Long, Long, Long)].collect()
    assert(xx.toSet == xx2.toSet)
    intercept[IllegalArgumentException](
      Graph.randomWalks(edges.toDF("src", "dst"), verts.toDF("id"), "id", 2,
        hashFamily = "sha1"))
  }

  test("randomWalks: salt redraws; partition-order independent; guards") {
    val und = (1L to 30L).flatMap(i => Seq((i, i % 30 + 1), (i % 30 + 1, i)))
    val verts = (1L to 30L).toDF("id")
    val a = Graph.randomWalks(und.toDF("src", "dst"), verts, "id", 3)
      .as[(Long, Long, Long)].collect().toSet
    val b = Graph.randomWalks(und.toDF("src", "dst").repartition(11),
      verts.repartition(5), "id", 3).as[(Long, Long, Long)].collect().toSet
    assert(a == b)
    val c = Graph.randomWalks(und.toDF("src", "dst"), verts, "id", 3, salt = "other")
      .as[(Long, Long, Long)].collect().toSet
    assert(a != c)
    // edgesDistinct = true (the q149/q153 shuffle skip) is result-
    // identical on a distinct edge list, AND on a duplicated one — the
    // hash-argmin is invariant to duplicate candidates, the flag only
    // trades the defensive dedup for per-step join fan-out
    val dup = (und ++ und).toDF("src", "dst")
    assert(Graph.randomWalks(und.toDF("src", "dst"), verts, "id", 3,
      edgesDistinct = true).as[(Long, Long, Long)].collect().toSet == a)
    assert(Graph.randomWalks(dup, verts, "id", 3,
      edgesDistinct = true).as[(Long, Long, Long)].collect().toSet == a)
    intercept[IllegalArgumentException](
      Graph.randomWalks(und.toDF("src", "dst"), verts, "id", walkLen = 0))
  }

  /** Sequential reference peel: drop vertices with degree < k over the
    * canonical undirected edge set until stable.
    */
  private def refPeel(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    var stable = false
    while (!stable) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (v, xs) => v -> xs.size.toLong }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      stable = next.size == es.size
      es = next
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, xs) => v -> xs.size.toLong }
  }

  test("kCoreMembers: matches the sequential peel; cascades; form-insensitive") {
    // K5 (core 4) — bridge — K3 (core 2) — pendant chain (core 1);
    // plus self-loops, duplicate and mirrored edges to normalize away
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val k3 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val chain = Seq((12L, 20L), (20L, 21L), (21L, 22L))
    val bridge = Seq((5L, 10L))
    val und = k5 ++ k3 ++ chain ++ bridge
    val noisy = (und ++ und.map(_.swap) ++ Seq((7L, 7L), (1L, 2L))).toDF("src", "dst")
    for (k <- 1 to 5) {
      val got = Graph.kCoreMembers(noisy, k).as[(Long, Long)].collect().toMap
      assert(got == refPeel(und, k), s"k=$k diverged from the sequential peel")
    }
    // the 3-core is exactly K5 (the K3 + bridge cascade away)
    val core3 = Graph.kCoreMembers(noisy, 3).as[(Long, Long)].collect().toMap
    assert(core3.keySet == (1L to 5L).toSet)
    assert(core3.values.forall(_ == 4L))
    // chain cascade: peeling at k=2 must strip the pendant chain one
    // vertex at a time but keep both cliques
    val core2 = Graph.kCoreMembers(noisy, 2).as[(Long, Long)].collect().toMap
    assert(core2.keySet == ((1L to 5L) ++ Seq(10L, 11L, 12L)).toSet)
    // empty core fails nothing: k above the max degree yields zero rows
    assert(Graph.kCoreMembers(noisy, 40).count() == 0L)
    // partition-order independence
    val a = Graph.kCoreMembers(noisy.repartition(7), 2).as[(Long, Long)].collect().toSet
    assert(a == core2.toSet)
    intercept[IllegalArgumentException](Graph.kCoreMembers(noisy, 0))
    // loud non-convergence: the k=2 peel of a long path removes one
    // endpoint pair per round — a 1-round budget must fail, not return
    val path = (1L to 12L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.kCoreMembers(path, 2, maxIter = 1).count())
  }

  test("coreNumbers: max k survived, capped; matches per-k peels") {
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val k3 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val chain = Seq((12L, 20L), (20L, 21L), (21L, 22L))
    val und = (k5 ++ k3 ++ chain ++ Seq((5L, 10L))).toDF("src", "dst")
    val got = Graph.coreNumbers(und, kMax = 4).as[(Long, Long)].collect().toMap
    // core(K5) = 4, core(K3) = 2, core(chain) = 1
    assert((1L to 5L).forall(v => got(v) == 4L))
    assert(Seq(10L, 11L, 12L).forall(v => got(v) == 2L))
    assert(Seq(20L, 21L, 22L).forall(v => got(v) == 1L))
    // the cap truncates: kMax = 3 reports the K5 at 3
    val capped = Graph.coreNumbers(und, kMax = 3).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(v => capped(v) == 3L))
    assert(capped(10L) == 2L && capped(20L) == 1L)
    // the merged single-loop peel (one shared degree table per round)
    // matches kMax INDEPENDENT per-k kCoreMembers peels of the original
    // graph — the k-core nesting that makes the shared loop legal
    val perK = (1 to 4).flatMap { k =>
      Graph.kCoreMembers(und, k).select($"node").as[Long].collect()
        .map(_ -> k.toLong)
    }.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).max }
    assert(got == perK)
    intercept[IllegalArgumentException](Graph.coreNumbers(und, kMax = 0))
  }

  /** Reference implementation of synchronous min-tie LPA, run
    * sequentially on the driver over the symmetrized edge set.
    */
  private def refLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
    val nbrs = und.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
    var lab = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = nbrs.map { case (v, ns) =>
        val cnt = ns.map(lab).groupBy(identity).map { case (l, xs) => (l, xs.size) }
        // (count DESC, label ASC) argmax
        v -> cnt.toSeq.map { case (l, c) => (-c, l) }.min._2
      }
    }
    lab
  }

  test("labelPropagation: cliques keep labels against a bridge; matches sequential replay") {
    // two triangles joined by one bridge edge — CC would merge them,
    // LPA must not (density beats reachability)
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
      .toDF("src", "dst")
    val got = Graph.labelPropagation(e, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == refLpa(Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L)), 3))
    // traced by hand: triangle A converges to 0, triangle B to 2 —
    // exactly two communities, split at the bridge
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 2L, 4L -> 2L, 5L -> 2L))
  }

  test("labelPropagation: direction/duplicate-insensitive; self-loops dropped; guards") {
    val base = Seq((10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L))
    val a = base.toDF("src", "dst")
    // reversed directions, duplicates, a self-loop: same voting graph
    val b = (base.map(_.swap) ++ base ++ Seq((11L, 11L))).toDF("src", "dst")
    val la = Graph.labelPropagation(a, rounds = 4).as[(Long, Long)].collect().toMap
    val lb = Graph.labelPropagation(b, rounds = 4).as[(Long, Long)].collect().toMap
    assert(la == lb)
    assert(la == refLpa(base, 4))
    intercept[IllegalArgumentException](Graph.labelPropagation(a, rounds = 0))
  }

  /** Sequential replay of the seed-gated recurrence. */
  private def refPpr(
      verts: Seq[Long], seeds: Set[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    var pr = verts.map(v => v -> (if (seeds(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val msg = edges
        .groupBy(_._2)
        .map { case (dst, es) => dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum }
      pr = verts.map(v =>
        v -> ((if (seeds(v)) 150000L else 0L) + 85L * msg.getOrElse(v, 0L) / 100L)).toMap
    }
    pr
  }

  test("personalizedPageRank: seed-gated teleport, unreachable non-seeds exactly 0") {
    // mirrored triangle 1-2-3 + pendant 4 off 3 + isolated non-seed 5 +
    // isolated seed 6; seeds {1, 6}
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val mirrored = (und ++ und.map(_.swap)).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("vx")
    val seeds = Seq(1L, 6L).toDF("vx")
    val got = Graph.personalizedPageRankExact(
      mirrored, verts, "vx", seeds, "vx", iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == refPpr(Seq(1L, 2L, 3L, 4L, 5L, 6L), Set(1L, 6L), und ++ und.map(_.swap), 5))
    // unreachable non-seed: EXACTLY zero (the membership-gate property
    // global PageRank lacks); isolated seed keeps only its base
    assert(got(5L) == 0L)
    assert(got(6L) == 150000L)
    // rank flows outward: the seed outranks its triangle, which
    // outranks the pendant two hops out
    assert(got(1L) > got(2L) && got(2L) > got(4L) && got(4L) > 0L)
    intercept[IllegalArgumentException](
      Graph.personalizedPageRankExact(mirrored, verts, "vx", seeds, "vx", iterations = 0))
    // seeds disjoint from the vertex universe fail loudly
    intercept[IllegalArgumentException](
      Graph.personalizedPageRankExact(
        mirrored, verts, "vx", Seq(99L).toDF("vx"), "vx"))
  }

  test("modularityByCommunity: hand-computed two-triangle split; one community scores 0") {
    // two triangles + bridge (m = 7), LPA's own split {0,1,2}|{3,4,5}
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
      .toDF("src", "dst")
    val labels = Graph.labelPropagation(e, rounds = 3)
    val got = Graph.modularityByCommunity(e, labels)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // per community: 3 members, 3 internal edges, degree sum 7
    // (bridge endpoint has degree 3) → q_num = 4·7·3 − 7² = 35
    assert(got == Seq((0L, 3L, 3L, 7L, 35L), (2L, 3L, 3L, 7L, 35L)))
    // global Q = Σ q_num / 4m² = 70/196 ≈ 0.357 — positive, as a real
    // community split must be
    assert(got.map(_._5).sum == 70L)
    // the everything-in-one-community assignment scores EXACTLY zero
    // (e_c = m and d_c = 2m ⇒ 4m·m − 4m² = 0), the known Q invariant
    val one = labels.select($"node", lit(9L).as("label"))
    val q0 = Graph.modularityByCommunity(e, one)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(q0 == Seq((9L, 6L, 7L, 14L, 0L)))
    // unlabeled endpoints fail loudly, never silently deflate Q — now a
    // LAZY row guard fused into the e_internal pass (the Scale
    // discipline), so the raise_error surfaces wrapped in the job
    // failure: walk the cause chain
    def causeMsgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString("\n")
    val missing = labels.where($"node" =!= 5L)
    val err = intercept[Exception](
      Graph.modularityByCommunity(e, missing).collect())
    assert(causeMsgs(err).contains("missing from labels"), err.getMessage)
    intercept[IllegalArgumentException](
      Graph.modularityByCommunity(e.where(lit(false)), labels))
    // a node with TWO label rows (non-function assignment) fails loudly
    // instead of fanning out the joins and inflating q_num (ADVICE r15)
    val dup = labels.unionByName(Seq((2L, 7L)).toDF("node", "label"))
    val dupErr = intercept[IllegalArgumentException](
      Graph.modularityByCommunity(e, dup))
    assert(dupErr.getMessage.contains("distinct nodes"), dupErr.getMessage)
  }

  test("graphDriftReport: tail append stays below the threshold, hub append crosses it") {
    // chain 0–1–…–11: appending (11, 12) touches {11, 12}, 1-hop ring
    // adds 10 → 3 affected of a 13-vertex universe (12 stored + the new
    // vertex) = 230769 micro — a cached PageRank can wait
    val chain = (0 until 11).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val stored = (0 to 11).map(_.toLong).toDF("node")
    val small = Graph.graphDriftReport(
      stored, "node", chain, Seq((11L, 12L)).toDF("src", "dst"),
      thresholdMicro = 500000L)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(small == Seq((13L, 3L, 230769L, false)))
    // star around 0: appending (12, 0) touches the hub, whose 1-hop
    // ring is EVERY vertex → 13/13 affected, rebuild
    val star = (1 to 11).map(i => (0L, i.toLong)).toDF("src", "dst")
    val hub = Graph.graphDriftReport(
      stored, "node", star, Seq((12L, 0L)).toDF("src", "dst"),
      thresholdMicro = 500000L)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(hub == Seq((13L, 13L, 1000000L, true)))
    // the forced shuffle path (broadcast gate off) is value-identical
    val hubShuffle = Graph.graphDriftReport(
      stored, "node", star, Seq((12L, 0L)).toDF("src", "dst"),
      thresholdMicro = 500000L, maxBroadcastVertices = 0L)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(hubShuffle == hub)
    intercept[IllegalArgumentException](Graph.graphDriftReport(
      stored, "node", chain, chain, thresholdMicro = 2000000L))
  }

  test("cooccurrenceDriftReport: equals graphDriftReport over the tagged slices") {
    // groups across both slices, a shared cross-slice item (3), a
    // singleton group (no edges), and an over-cap group under the
    // capped variant — every structural case the set-equivalence proof
    // leans on
    val items = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),          // base (g even)
      (12L, 7L), (12L, 8L),                     // base, untouched by batch
      (20L, 9L),                                // base singleton: no edges
      (11L, 3L), (11L, 4L),                     // batch (g odd)
      (13L, 5L), (13L, 5L), (13L, 6L),          // batch (dup row collapses)
      (15L, 9L)                                 // batch singleton: NOT touched
    ).toDF("g", "item")
    val pred = col("g") % 2 === 1
    val stored = (1L to 9L).toDF("node")
    for (cap <- Seq(1000, 2)) {
      val base = Graph.cooccurrenceEdges(items.where(!pred), "g", "item", cap)
      val batch = Graph.cooccurrenceEdges(items.where(pred), "g", "item", cap)
      val want = Graph.graphDriftReport(
        stored, "node", base, batch, thresholdMicro = 300000L)
        .as[(Long, Long, Long, Boolean)].collect().toSeq
      val got = Graph.cooccurrenceDriftReport(
        items, "g", "item", pred, stored, "node",
        thresholdMicro = 300000L, maxGroupSize = cap)
        .as[(Long, Long, Long, Boolean)].collect().toSeq
      assert(got == want, s"cap=$cap")
      // forced-shuffle path (broadcast gate off) is value-identical
      val gotShuffle = Graph.cooccurrenceDriftReport(
        items, "g", "item", pred, stored, "node",
        thresholdMicro = 300000L, maxGroupSize = cap,
        maxBroadcastVertices = 0L)
        .as[(Long, Long, Long, Boolean)].collect().toSeq
      assert(gotShuffle == want, s"cap=$cap shuffle")
    }
    // at cap 1000: batch edges touch {3,4,5,6}; ring adds {1,2} via
    // group 10 (contains touched 3); 9 is NOT affected (its groups are
    // singletons) — pin the absolute numbers too, not just equality
    val full = Graph.cooccurrenceDriftReport(
      items, "g", "item", pred, stored, "node", thresholdMicro = 300000L)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(full == Seq((9L, 6L, 666666L, true)))
    intercept[IllegalArgumentException](Graph.cooccurrenceDriftReport(
      items, "g", "item", pred, stored, "node", thresholdMicro = -1L))
    intercept[IllegalArgumentException](Graph.cooccurrenceDriftReport(
      items, "g", "item", pred, stored, "node",
      thresholdMicro = 0L, maxGroupSize = 1))
  }

  test("edgesFromDriftProbe: slice and grown edges equal cooccurrenceEdges rebuilds") {
    // same fixture as the drift-equivalence test: cross-slice item,
    // singletons, dup rows, and an over-cap group under cap=2 — the
    // structural cases of the q172/q175 edge-reuse proof
    val items = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (12L, 7L), (12L, 8L),
      (20L, 9L),
      (11L, 3L), (11L, 4L),
      (13L, 5L), (13L, 5L), (13L, 6L),
      (15L, 9L)
    ).toDF("g", "item")
    val pred = col("g") % 2 === 1
    val stored = (1L to 9L).toDF("node")
    for (cap <- Seq(1000, 2)) {
      val (_, capped) = Graph.cooccurrenceDriftProbe(
        items, "g", "item", pred, stored, "node",
        thresholdMicro = 300000L, maxGroupSize = cap)
      def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.as[(Long, Long)].collect().toSet
      // base slice ≡ direct build over the base rows
      assert(
        edges(Graph.edgesFromDriftProbe(capped, Some(false))) ==
          edges(Graph.cooccurrenceEdges(items.where(!pred), "g", "item", cap)),
        s"base cap=$cap")
      // batch slice ≡ direct build over the batch rows
      assert(
        edges(Graph.edgesFromDriftProbe(capped, Some(true))) ==
          edges(Graph.cooccurrenceEdges(items.where(pred), "g", "item", cap)),
        s"batch cap=$cap")
      // grown union ≡ direct build over ALL rows (the tag is total)
      assert(
        edges(Graph.edgesFromDriftProbe(capped, None)) ==
          edges(Graph.cooccurrenceEdges(items, "g", "item", cap)),
        s"grown cap=$cap")
    }
  }

  test("tagged builds: a row-level tag raises instead of silently emitting cross-tag pairs") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val items = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("g", "item")
    // tag depends on the ITEM, not the group — the contract violation
    val rowTag = col("item") % 2 === 0
    val e1 = intercept[Exception](
      Graph.cooccurrenceEdgesTagged(items, "g", "item", rowTag).collect())
    assert(messages(e1).exists(_.contains("more than one tag value")), e1.toString)
    val e2 = intercept[Exception](
      Graph.cooccurrenceDriftReport(
        items, "g", "item", rowTag, Seq(1L).toDF("node"), "node",
        thresholdMicro = 0L).collect())
    assert(messages(e2).exists(_.contains("more than one batchTag value")), e2.toString)
    // null mixed with a value inside one group is ALSO two tag states
    val nullTag = when(col("item") === 1L, lit(null).cast("boolean")).otherwise(lit(true))
    val e3 = intercept[Exception](
      Graph.cooccurrenceEdgesTagged(items, "g", "item", nullTag).collect())
    assert(messages(e3).exists(_.contains("more than one tag value")), e3.toString)
    // a legal group-level tag still works with nulls ABSENT
    val ok = Graph.cooccurrenceEdgesTagged(items, "g", "item", col("g") % 2 === 0)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(ok.nonEmpty && ok.forall(_._3))
  }
}
