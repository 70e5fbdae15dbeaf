package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph authority scoring in EXACT INTEGER arithmetic.
  *
  * PageRank (Page et al., 1999) is the standard authority signal a
  * curation pipeline mixes into quality scores (link-graph centrality is
  * how web-corpus filters weight domains). The textbook formulation is
  * double arithmetic accumulated across a shuffle — summation order
  * leaks into the low bits, so no SQL engine can replay it
  * bit-for-bit. Scaling ranks to integer micro-units and replacing both
  * divisions with floor division makes every iteration exact:
  *
  *   pr₀(v)    = 1 000 000
  *   msgₜ(v)   = Σ_{u ∈ N(v)} (prₜ(u) div deg(u))
  *   prₜ₊₁(v)  = 150 000 + (85 · msgₜ(v)) div 100
  *
  * Every quantity is a BIGINT and every operation is
  * partition-order-independent (integer sums), so a fixed iteration
  * count yields the identical table on any engine — the
  * [[Outliers]] / [[TimeSeries]] scaled-integer discipline applied to an
  * ITERATIVE operator. Convergence semantics are unchanged: the div
  * floor loses < 1 micro-unit per edge message, a relative error of
  * ~1e-6 against the double formulation.
  *
  * Scale shape: one iteration = one equi-join of edges to the rank
  * table on `src` plus one aggregation shuffle on `dst` — the Pregel
  * message pattern in plain DataFrame ops, which AQE re-plans per
  * iteration. The rank table is vertex-scale; edges are the big side
  * and stream through. Each iteration ends in `localCheckpoint` so the
  * plan stays one-iteration deep instead of growing a 5-join lineage
  * (the [[Similarity]] k-means trainer's loop discipline).
  */
object Graph {

  /** Undirected co-occurrence edges: items sharing a `groupCol` value
    * (parts co-purchased in an order, entities co-mentioned in a doc),
    * emitted in BOTH directions as `(src, dst)`, distinct. Per-group
    * fan-out is quadratic in group size, so the group-size cap that
    * bounds it at 100 TB is explicit: groups larger than
    * `maxGroupSize` are DROPPED (a 10 000-item order is a bot, not a
    * signal — same rationale as [[Dedup]]'s stop-shingle cap), and the
    * cap must be replayed by any oracle.
    */
  def cooccurrenceEdges(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      maxGroupSize: Int = 1000
  ): DataFrame = {
    require(maxGroupSize >= 2,
      s"cooccurrenceEdges: maxGroupSize must be at least 2, got $maxGroupSize")
    val itemType = items.schema(itemCol).dataType
    // caps beyond bounded_set's buffer bound (2²⁴) take the count-filter
    // shape below rather than surfacing bounded_set's own require — the
    // operator accepts any cap, as it did before the one-exchange path
    if (longCastable(itemType) && maxGroupSize <= BoundedSetMaxCap) {
      // ONE aggregation exchange builds the capped per-group item sets
      // (the saturating [[graft.functions.BoundedSetAgg]]: map-side
      // partial collect, memory bounded at cap + 1 values even for a
      // bot-scale group) — the former shape paid the (group, item)
      // DISTINCT exchange, the sizing aggregation AND the membership
      // join before the pair fan-out, three data-scale exchanges for
      // the same sets
      val sets = items
        .select(col(groupCol).as("_g"), col(itemCol).cast("long").as("_i"))
        .where(col("_g").isNotNull && col("_i").isNotNull)
        .groupBy("_g")
        .agg(graft.functions.SketchExpressions
          .bounded_set(col("_i"), maxGroupSize).as("_is"))
        .where(size(col("_is")).between(2, maxGroupSize))
      mirroredPairsFromSets(sets, Nil)
        .select(col("src").cast(itemType).as("src"),
          col("dst").cast(itemType).as("dst"))
    } else {
      // non-integral item ids: the original count-filter + membership
      // join shape (no memory-bounded set collect exists for arbitrary
      // types); no corpus query takes this path
      val pairs = items
        .select(col(groupCol).as("_g"), col(itemCol).as("_i"))
        .where(col("_g").isNotNull && col("_i").isNotNull)
        .distinct()
      val sized = pairs
        .groupBy("_g").agg(count(lit(1)).as("_n"))
        .where(col("_n") <= maxGroupSize)
        .select("_g")
      val inCap = pairs.join(sized, "_g")
      val a = inCap.select(col("_g"), col("_i").as("src"))
      val b = inCap.select(col("_g"), col("_i").as("dst"))
      a.join(b, Seq("_g"))
        .where(col("src") =!= col("dst"))
        .select("src", "dst")
        .distinct()
    }
  }

  /** [[graft.functions.BoundedSetAgg]]'s buffer bound: group-size caps
    * above it fall back to the count-filter + membership-join shape so
    * the operator keeps accepting any cap.
    */
  private val BoundedSetMaxCap: Int = 16777216

  /** Integral types cast losslessly through LONG — the gate for the
    * one-exchange [[graft.functions.BoundedSetAgg]] path.
    */
  private def longCastable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t == LongType || t == IntegerType || t == ShortType || t == ByteType
  }

  /** All distinct co-occurrence pairs from per-group item-set rows
    * `(carry…, _is)`: two generators fan each set out to its ordered
    * pairs, the DISTINCT dedups only the canonical `src < dst` half —
    * HALF the dedup exchange's bytes — and the mirror is a narrow
    * union of the deduped half with itself swapped (the halves are
    * disjoint, so the union stays distinct; the swapped side re-reads
    * the deduped aggregate through the reused exchange, never the
    * fan-out). Sets carry no duplicates, so within one group the pairs
    * are already unique — the DISTINCT pays only for cross-group
    * repetition, exactly what the former self-join shape deduped.
    */
  private def mirroredPairsFromSets(sets: DataFrame, carry: Seq[String]): DataFrame = {
    val cs = carry.map(col)
    val half = sets
      .select(cs :+ col("_is") :+ explode(col("_is")).as("src"): _*)
      .select(cs :+ col("src") :+ explode(col("_is")).as("dst"): _*)
      .where(col("src") < col("dst"))
      .select(col("src") +: col("dst") +: cs: _*)
      .distinct()
    half.unionByName(
      half.select(col("dst").as("src") +: col("src").as("dst") +: cs: _*))
  }

  /** [[cooccurrenceEdges]] with a per-GROUP tag carried through the
    * pair join — the q172 base/batch lifecycle shape: ONE corpus scan
    * and ONE self-join produce the edge set of every slice of a
    * group-level split (tag must be a function of `groupCol`, e.g.
    * "is this order in the new batch" — ENFORCED by a lazy per-group
    * guard in the sizing pass; a row-level tag raises instead of
    * silently emitting cross-tag pairs), where building per slice pays
    * a full scan + self-join EACH. Returns `(src, dst, tag)` DISTINCT
    * per tag: because every group is wholly inside one slice,
    * `where(tag = t).select(src, dst)` is row-identical to
    * [[cooccurrenceEdges]] over the slice's rows (GraphSpec pins it) —
    * a pair co-purchased in both slices appears once per tag, exactly
    * as the two separate builds would emit it. Same group-size cap,
    * same scale shape, one pass.
    */
  def cooccurrenceEdgesTagged(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      tagCol: Column,
      maxGroupSize: Int = 1000
  ): DataFrame = {
    require(maxGroupSize >= 2,
      s"cooccurrenceEdgesTagged: maxGroupSize must be at least 2, got $maxGroupSize")
    val itemType = items.schema(itemCol).dataType
    // ENFORCE the documented contract, not just state it: a row-level
    // tag would silently shift the maxGroupSize cap and emit cross-tag
    // pair combinations, breaking the slice-equivalence to per-slice
    // [[cooccurrenceEdges]]. The check rides the set-building agg's own
    // pass (three extra accumulators, no extra scan) and is LAZY per
    // group (the Scale row-guard discipline): min ≠ max catches two
    // tag values, count(tag) ∉ {0, _n} catches null-mixed-with-value
    // (over raw rows here — flagged iff some rows carry a tag and some
    // don't, the same verdict the former distinct-triple counts gave).
    if (longCastable(itemType) && maxGroupSize <= BoundedSetMaxCap) {
      // same one-exchange bounded-set shape as [[cooccurrenceEdges]];
      // the per-group tag (guard-certified constant) rides as min(tag)
      val sets = items
        .select(col(groupCol).as("_g"), col(itemCol).cast("long").as("_i"),
          tagCol.as("tag"))
        .where(col("_g").isNotNull && col("_i").isNotNull)
        .groupBy("_g")
        .agg(graft.functions.SketchExpressions
            .bounded_set(col("_i"), maxGroupSize).as("_is"),
          count(lit(1)).as("_n"), count(col("tag")).as("_nt"),
          min(col("tag")).as("_t0"), max(col("tag")).as("_t1"))
        .where(
          when(not(col("_t0") <=> col("_t1")) ||
              (col("_nt") =!= lit(0L) && col("_nt") =!= col("_n")),
            raise_error(concat(
              lit("cooccurrenceEdgesTagged: group "), col("_g").cast("string"),
              lit(s" carries more than one tag value — tag must be a function " +
                s"of $groupCol, or the slice-equivalence contract breaks")))
              .cast("boolean"))
            .otherwise(size(col("_is")).between(2, maxGroupSize)))
        .select(col("_is"), col("_t0").as("tag"))
      return mirroredPairsFromSets(sets, Seq("tag"))
        .select(col("src").cast(itemType).as("src"),
          col("dst").cast(itemType).as("dst"), col("tag"))
    }
    val pairs = items
      .select(col(groupCol).as("_g"), col(itemCol).as("_i"), tagCol.as("tag"))
      .where(col("_g").isNotNull && col("_i").isNotNull)
      .distinct()
    val sized = pairs
      .groupBy("_g").agg(count(lit(1)).as("_n"), count(col("tag")).as("_nt"),
        min(col("tag")).as("_t0"), max(col("tag")).as("_t1"))
      .where(
        when(not(col("_t0") <=> col("_t1")) ||
            (col("_nt") =!= lit(0L) && col("_nt") =!= col("_n")),
          raise_error(concat(
            lit("cooccurrenceEdgesTagged: group "), col("_g").cast("string"),
            lit(s" carries more than one tag value — tag must be a function " +
              s"of $groupCol, or the slice-equivalence contract breaks")))
            .cast("boolean"))
          .otherwise(col("_n") <= maxGroupSize))
      .select("_g")
    val inCap = pairs.join(sized, "_g")
    val a = inCap.select(col("_g"), col("tag"), col("_i").as("src"))
    val b = inCap.select(col("_g"), col("_i").as("dst"))
    a.join(b, Seq("_g"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst", "tag")
      .distinct()
  }

  /** Exact-integer PageRank over a directed edge list (run it on
    * [[cooccurrenceEdges]] output for the undirected case). `vertices`
    * fixes the vertex universe so isolated nodes keep the base rank
    * instead of vanishing. Returns `(vertex, rank_micro)`.
    *
    * Ranks are micro-units of the damped random surfer: base
    * 150 000 = 0.15, damping 85/100, start 1 000 000 = 1.0. The
    * comparison-scale invariant `rank ≥ 150 000` holds for every
    * vertex; totals are NOT renormalized per iteration (the classic
    * formulation without dangling-mass redistribution — dangling
    * vertices absorb rank, which is the standard behavior when the
    * graph is an undirected mirror where none exist).
    */
  def pageRankExact(
      edges: DataFrame,
      vertices: DataFrame,
      vertexCol: String,
      iterations: Int = 5,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(iterations >= 1,
      s"pageRankExact: iterations must be at least 1, got $iterations")
    import Checkpoints.{checkpoint, release}
    val verts = checkpoint(vertices
      .select(col(vertexCol).as("_v"))
      .where(col("_v").isNotNull)
      .distinct())
    // the edge list and degrees are loop-INVARIANT but referenced every
    // iteration — pin them once instead of re-deriving the (for a
    // co-occurrence graph, corpus-self-join-sized) upstream per round
    val e = checkpoint(edges.select(col("src").as("_src"), col("dst").as("_dst")))
    val deg = checkpoint(e.groupBy(col("_src").as("_v")).agg(count(lit(1)).as("_deg")))
    // checkpointed frames lose their size stats, so AQE will NOT pick a
    // broadcast join on its own and every iteration would sort-merge
    // the full edge list against a vertex-scale table — TWICE. The
    // per-vertex contribution table is |V| rows; broadcast it under a
    // measured bound (sf10 co-purchase, 200k vertices x 239M edges:
    // 204 -> 91 s isolated). Past the bound (billion-vertex graphs)
    // the shuffle shape is the correct one and AQE keys both sides.
    val nVerts = verts.count()
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nVerts <= maxBroadcastVertices) broadcast(df) else df
    var pr = verts.withColumn("_pr", lit(1000000L))
    for (_ <- 1 to iterations) {
      // fold rank and degree FIRST (vertex-scale join), so the edge
      // list is joined once per iteration, not twice. EVERY vertex-scale
      // side of the iteration is broadcast under the same measured
      // bound — deg into the contrib fold, contrib into the edge join,
      // msgs into the rank update — so one iteration pays exactly ONE
      // shuffle (the message aggregation, which is the Pregel combine
      // and irreducible); checkpointed frames have no size stats, so
      // without the explicit hints AQE sort-merges pr⋈deg and
      // verts⋈msgs every round (guide §2.4/§3.1). Past the bound the
      // un-hinted shuffle shape is the correct one.
      //
      // The iterations CHAIN IN ONE PLAN: pr_t is consumed exactly once
      // (by iteration t+1), the loop count is fixed (no convergence
      // read), and every loop-INVARIANT (verts/e/deg) is a pinned
      // checkpoint — so materializing each round bought nothing but a
      // driver round-trip and a vertex-scale storage copy per
      // iteration. One action now runs all rounds as consecutive
      // stages of a single job; the deg broadcast is built once and
      // reused across iterations (identical exchange subtree).
      val contrib = pr
        .join(maybeBroadcast(deg), Seq("_v"))
        .select(col("_v").as("_src"), expr("_pr div _deg").as("_c"))
      val msgs = e
        .join(maybeBroadcast(contrib), Seq("_src"))
        .groupBy(col("_dst").as("_v"))
        .agg(sum(col("_c")).as("_msg"))
      pr = verts
        .join(maybeBroadcast(msgs), Seq("_v"), "left")
        .select(col("_v"),
          (lit(150000L) + expr("85 * coalesce(_msg, 0L) div 100")).as("_pr"))
    }
    // EAGER materialization of the final ranks (one job runs the whole
    // chain). Returning the lazy chain instead would let a caller's
    // count() ELIMINATE the rank joins outright — the aggregated msgs
    // side has provably-unique keys, so Catalyst prunes every
    // iteration and counts the vertex table (guide §1.4's count
    // caveat) — i.e. the work would silently not run. The former
    // per-iteration checkpoints were eager for the same reason; one
    // final checkpoint keeps that contract at a fifth of the
    // materializations. Once it has materialized, nothing reads the
    // loop invariants any more: release them.
    val result = checkpoint(pr.select(col("_v").as(vertexCol), col("_pr").as("rank_micro")))
    release(e); release(deg); release(verts)
    result
  }

  /** PERSONALIZED PageRank (Haveliwala 2002's topic-sensitive variant,
    * exact-integer): [[pageRankExact]]'s damped recurrence with the
    * teleport mass restricted to a SEED set — rank flows outward from
    * trusted anchors through the link structure, so the score ranks
    * every vertex by proximity-weighted reachability FROM the seeds.
    * This is the seed-expansion signal a curation pipeline uses to
    * grow a small trusted corpus (seed domains/documents) into a
    * larger one: global PageRank answers "authoritative overall",
    * PPR answers "authoritative RELATIVE TO what we already trust".
    *
    * Recurrence, micro-units, same integer discipline as
    * [[pageRankExact]] (`DIV` both engines, order-free sums):
    * `pr₀(v) = 1 000 000·[v ∈ S]`;
    * `pr_{t+1}(v) = 150 000·[v ∈ S] + (85·Σ_{u→v} pr_t(u) DIV deg(u))
    * DIV 100`. Per-seed units (NOT normalized by |S| — the ranking is
    * scale-invariant and integer exactness beats a 1/|S| float).
    * Unreachable non-seed vertices report EXACTLY 0 — the property
    * that makes PPR a membership gate, where global PR gives
    * everything ≥ 150 000.
    *
    * Scale shape identical to [[pageRankExact]] (one edge-scale join +
    * one partial-aggregable sum per iteration, vertex tables broadcast
    * under the measured bound); per-iteration checkpoints are tracked
    * and released (the [[Checkpoints]] discipline).
    */
  def personalizedPageRankExact(
      edges: DataFrame,
      vertices: DataFrame,
      vertexCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 5,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(iterations >= 1,
      s"personalizedPageRankExact: iterations must be at least 1, got $iterations")
    import Checkpoints.{checkpoint, release}
    val verts =
      vertices.select(col(vertexCol).as("_v")).where(col("_v").isNotNull).distinct()
    val seedSet = seeds.select(col(seedCol).as("_v")).where(col("_v").isNotNull).distinct()
    // seed flag folded into the vertex table once — loop-invariant. The
    // flagged table subsumes the plain vertex set, so only IT is
    // checkpointed (the former separate verts checkpoint materialized
    // the same distinct twice: one extra job + one extra pinned copy).
    val flagged = checkpoint(
      verts.join(seedSet.withColumn("_s", lit(1L)), Seq("_v"), "left")
        .select(col("_v"), coalesce(col("_s"), lit(0L)).as("_seed")))
    // one cached-scan job for both loop constants instead of two
    val stats = flagged.agg(
      count(lit(1)).as("_n"), sum(col("_seed")).as("_ns")).head()
    val nVerts = stats.getLong(0)
    val nSeeds = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    require(nSeeds > 0, "personalizedPageRankExact: no seed vertex is in the vertex universe")
    val e = checkpoint(edges.select(col("src").as("_src"), col("dst").as("_dst")))
    val deg = checkpoint(e.groupBy(col("_src").as("_v")).agg(count(lit(1)).as("_deg")))
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nVerts <= maxBroadcastVertices) broadcast(df) else df
    var pr = flagged.select(col("_v"), (col("_seed") * 1000000L).as("_pr"))
    for (_ <- 1 to iterations) {
      // same one-shuffle-per-iteration shape as [[pageRankExact]]: deg,
      // contrib and msgs are all vertex-scale and broadcast under the
      // measured bound, so only the message aggregation shuffles. Like
      // pageRankExact, the fixed-count iterations CHAIN IN ONE PLAN
      // (pr_t has exactly one consumer; loop-invariants are pinned),
      // so the per-iteration checkpoint materialization round-trips
      // are gone — one final materialization runs every round as
      // consecutive stages of a single job.
      val contrib = pr
        .join(maybeBroadcast(deg), Seq("_v"))
        .select(col("_v").as("_src"), expr("_pr div _deg").as("_c"))
      val msgs = e
        .join(maybeBroadcast(contrib), Seq("_src"))
        .groupBy(col("_dst").as("_v"))
        .agg(sum(col("_c")).as("_msg"))
      pr = flagged
        .join(maybeBroadcast(msgs), Seq("_v"), "left")
        .select(col("_v"), col("_seed"),
          (col("_seed") * 150000L + expr("85 * coalesce(_msg, 0L) div 100")).as("_pr"))
        .select(col("_v"), col("_pr"))
    }
    // materialize once (the whole chain), then release every pin this
    // call made — the result checkpoint is the only storage that
    // outlives the call (the [[Checkpoints]] discipline)
    val result = checkpoint(pr.select(col("_v").as(vertexCol), col("_pr").as("rank_micro")))
    release(e); release(deg); release(flagged)
    result
  }

  /** Per-vertex TRIANGLE counts — the local clustering signal (how
    * clique-like a node's neighborhood is; spam and boilerplate rings
    * are dense, organic co-occurrence is sparse).
    *
    * The naive wedge join explodes on hubs: a degree-d vertex
    * contributes d² wedge candidates. Orienting every edge from its
    * lower-(degree, id) endpoint to the higher one caps the oriented
    * out-degree at O(√|E|) — the "forward" algorithm (Schank & Wagner,
    * 2005; the MapReduce formulation is Suri & Vassilvitskii, WWW
    * 2011) — so the wedge join's per-vertex fan-out is bounded by the
    * graph's arboricity, not by its hottest hub. Three equi-joins, no
    * iteration: wedges at each triangle's minimum-key vertex, closed by
    * the oriented edge between the two others, count each triangle
    * exactly once.
    *
    * `edges` may be mirrored ([[cooccurrenceEdges]] output) or already
    * canonical; self-loops and duplicates are normalized away.
    * `vertices` fixes the universe — triangle-free vertices report 0.
    */
  def triangleCounts(
      edges: DataFrame,
      vertices: DataFrame,
      vertexCol: String,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    // referenced by the degree count AND both keyed joins — pin once so
    // the upstream edge derivation runs once, not three times
    val canon = Checkpoints.checkpoint(edges
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(
        least(col("src"), col("dst")).as("_a"),
        greatest(col("src"), col("dst")).as("_b"))
      .where(col("_a") =!= col("_b"))
      .distinct())
    // the degree table is VERTEX-scale — pin it (it feeds two joins)
    // and broadcast it under the measured bound so the edge-scale canon
    // side is never shuffled for the orientation (two sort-merge
    // exchanges of the full edge list otherwise; guide §3.1)
    val deg = Checkpoints.checkpoint(canon.select(col("_a").as("_v"))
      .unionByName(canon.select(col("_b").as("_v")))
      .groupBy("_v").agg(count(lit(1)).as("_d")))
    val degSide =
      if (deg.count() <= maxBroadcastVertices) broadcast(deg) else deg
    // orient low (deg, id) -> high (deg, id); ties broken by id, so the
    // orientation is total and deterministic
    val keyed = canon
      .join(degSide.select(col("_v").as("_a"), col("_d").as("_da")), Seq("_a"))
      .join(degSide.select(col("_v").as("_b"), col("_d").as("_db")), Seq("_b"))
      .withColumn("_fwd", struct(col("_da"), col("_a")) < struct(col("_db"), col("_b")))
    // the oriented list feeds both wedge sides and the closing-edge
    // probe — pin it so orientation runs once
    val o = Checkpoints.checkpoint(keyed.select(
      when(col("_fwd"), col("_a")).otherwise(col("_b")).as("_u"),
      when(col("_fwd"), col("_b")).otherwise(col("_a")).as("_w"),
      when(col("_fwd"), struct(col("_db").as("d"), col("_b").as("v")))
        .otherwise(struct(col("_da").as("d"), col("_a").as("v"))).as("_kw")))
    val e1 = o.select(col("_u"), col("_w").as("_w1"), col("_kw").as("_k1"))
    val e2 = o.select(col("_u"), col("_w").as("_w2"), col("_kw").as("_k2"))
    val wedges = e1.join(e2, Seq("_u")).where(col("_k1") < col("_k2"))
    val closing = o.select(col("_u").as("_w1"), col("_w").as("_w2"))
    val tri = wedges.join(closing, Seq("_w1", "_w2"))
    val credited = tri.select(col("_u").as("_v"))
      .unionByName(tri.select(col("_w1").as("_v")))
      .unionByName(tri.select(col("_w2").as("_v")))
      .groupBy("_v").agg(count(lit(1)).as("_n"))
    vertices
      .select(col(vertexCol).as("_v"))
      .where(col("_v").isNotNull)
      .distinct()
      .join(credited, Seq("_v"), "left")
      .select(col("_v").as(vertexCol),
        coalesce(col("_n"), lit(0L)).as("n_triangles"))
  }

  /** Deterministic RANDOM WALKS — one walk of `walkLen` steps from every
    * vertex, the corpus-generation step of random-walk graph embeddings
    * (DeepWalk, Perozzi et al., KDD 2014; node2vec with p = q = 1).
    * True RNG walks are irreproducible across engines and retries, so
    * each step is HASH-SELECTED: among the current node's out-neighbors,
    * take the one minimizing the 52-bit md5 prefix of
    * `salt:root:step:neighbor` (ties — only possible as 52-bit
    * collisions — break on the smaller neighbor id). Every neighbor is
    * equally likely over salts, walks are independent across roots and
    * steps (the root and step are inside the hash), and `salt` redraws
    * the whole ensemble — reproducible sampling exactly like the
    * [[graft.operators.Scale]] samplers. A dead-end node simply ends
    * its walk early.
    *
    * Scale shape: each step is ONE equi-join of the edge list to the
    * vertex-scale frontier (broadcast under the measured bound, the
    * [[pageRankExact]] move) and ONE partial-aggregable min per root —
    * the hash argmin needs no per-node neighbor ranking, so there are
    * no per-node windows and a hub costs its edge rows and nothing
    * more. Steps end in `localCheckpoint` so the plan stays one step
    * deep. Returns `(vertexCol, step, node)`: step 0 is the root
    * itself.
    */
  def randomWalks(
      edges: DataFrame,
      vertices: DataFrame,
      vertexCol: String,
      walkLen: Int,
      salt: String = "walk",
      maxBroadcastVertices: Long = 2000000L,
      hashFamily: String = "md5",
      edgesDistinct: Boolean = false
  ): DataFrame = {
    require(walkLen >= 1, s"randomWalks: walkLen must be at least 1, got $walkLen")
    walkCore(
      edges, walkVertices(vertices, vertexCol), Seq("_root"), walkLen,
      t => stepHash(hashFamily,
        concat_ws(":", lit(salt), col("_root").cast("string"),
          lit(t.toString), col("_nxt").cast("string"))),
      maxBroadcastVertices, edgesDistinct)
      .select(col("_root").as(vertexCol), col("step"), col("node"))
      .orderBy(vertexCol, "step")
  }

  /** Multi-walk ENSEMBLE — `numWalks` independent walks from every
    * vertex, the corpus DeepWalk actually trains on (the paper's γ is
    * 10–80 walks per root; one walk per root under-samples every
    * neighborhood). The walk id joins the root and step INSIDE the
    * hash, so walks are mutually independent draws of the same
    * reproducible ensemble — exactly what re-salting [[randomWalks]]
    * `numWalks` times would sample, but as ONE plan whose frontier
    * carries a `(root, walk)` key: each step stays one edge-to-frontier
    * equi-join + one partial-aggregable min per (root, walk), with the
    * frontier `numWalks`× the vertex count (still vertex-scale — the
    * broadcast bound is applied to the multiplied count).
    *
    * Returns `(vertexCol, walk, step, node)`, walk ∈ [0, numWalks).
    */
  def randomWalksEnsemble(
      edges: DataFrame,
      vertices: DataFrame,
      vertexCol: String,
      walkLen: Int,
      numWalks: Int,
      salt: String = "walk",
      maxBroadcastVertices: Long = 2000000L,
      hashFamily: String = "md5",
      edgesDistinct: Boolean = false
  ): DataFrame = {
    require(walkLen >= 1,
      s"randomWalksEnsemble: walkLen must be at least 1, got $walkLen")
    require(numWalks >= 1,
      s"randomWalksEnsemble: numWalks must be at least 1, got $numWalks")
    val frontier0 = walkVertices(vertices, vertexCol)
      .select(col("_root"),
        explode(sequence(lit(0L), lit(numWalks - 1L))).as("_wid"),
        col("_cur"))
    walkCore(
      edges, frontier0, Seq("_root", "_wid"), walkLen,
      t => stepHash(hashFamily,
        concat_ws(":", lit(salt), col("_wid").cast("string"),
          col("_root").cast("string"), lit(t.toString), col("_nxt").cast("string"))),
      maxBroadcastVertices, edgesDistinct)
      .select(col("_root").as(vertexCol), col("_wid").as("walk"), col("step"), col("node"))
      .orderBy(vertexCol, "walk", "step")
  }

  /** The walk step's scoring hash. `md5` is the oracle-replayable
    * family every query face uses; `xxhash64` is the production
    * fast path (one 64-bit mix per candidate instead of a full MD5
    * digest — the [[Dedup]] MinHash twin-pair discipline): identical
    * walk STRUCTURE and uniformity, ~an order of magnitude less
    * per-edge hash arithmetic, but no cross-engine replay.
    */
  private def stepHash(
      family: String, s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    family match {
      case "md5"      => graft.functions.Text.md5PrefixLong(s, 13)
      case "xxhash64" => xxhash64(s)
      case other => throw new IllegalArgumentException(
        s"randomWalks: hashFamily must be 'md5' or 'xxhash64', got '$other'")
    }

  private def walkVertices(vertices: DataFrame, vertexCol: String): DataFrame =
    vertices.select(col(vertexCol).as("_root"))
      .where(col("_root").isNotNull).distinct()
      .withColumn("_cur", col("_root"))

  /** Shared walk loop of [[randomWalks]] / [[randomWalksEnsemble]]:
    * each step joins the (pinned, deduped) edge list to the frontier —
    * broadcast while the frontier stays under `maxBroadcastVertices`
    * rows, the [[pageRankExact]] measured bound — scores each
    * out-neighbor with `hashFor(step)` and keeps the per-key
    * (hash, id)-min. `localCheckpoint` keeps the plan one step deep.
    * Returns `(keyCols…, step, node)`; step 0 is the root itself.
    *
    * Checkpoint lifecycle: every intermediate this call pins — the
    * deduped EDGE LIST (data-scale!) and each step's frontier — is
    * tracked via [[Checkpoints.checkpoint]] and released once the final
    * union is materialized into its own checkpoint, so repeated
    * invocations (an ensemble's γ walks, a hash-family twin run) retain
    * exactly one result-scale RDD each instead of edges + walkLen
    * frontiers for the life of the session.
    */
  private def walkCore(
      edges: DataFrame,
      frontier0: DataFrame,
      keyCols: Seq[String],
      walkLen: Int,
      hashFor: Int => org.apache.spark.sql.Column,
      maxBroadcastVertices: Long,
      edgesDistinct: Boolean = false
  ): DataFrame = {
    import Checkpoints.{checkpoint, release}
    // the walk result is invariant to duplicate (src, dst) rows — the
    // per-step hash-argmin takes the min over candidates, and a
    // duplicated candidate contributes an identical struct — but each
    // step's join would fan out per duplicate, so multi-edge inputs are
    // deduped once here. `edgesDistinct = true` skips that shuffle when
    // the caller's edge list is distinct by construction
    // (cooccurrenceEdges ends in distinct(): q149/q153 save a full
    // edge-scale exchange per query, 239M rows at sf10).
    val eBase = edges.select(col("src").as("_cur"), col("dst").as("_nxt"))
      .where(col("_cur").isNotNull && col("_nxt").isNotNull)
    val e = checkpoint(if (edgesDistinct) eBase else eBase.distinct())
    val frontierInit = checkpoint(frontier0)
    var frontier = frontierInit
    val nFrontier = frontier.count()
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nFrontier <= maxBroadcastVertices) broadcast(df) else df
    val keys = keyCols.map(col)
    val steps = scala.collection.mutable.ArrayBuffer(
      frontier.select(keys :+ lit(0L).as("step") :+ col("_cur").as("node"): _*))
    for (t <- 1 to walkLen) {
      // Fixed step count ⇒ the steps CHAIN IN ONE PLAN (the
      // pageRankExact move). Each step's frontier has TWO consumers —
      // its own output row in the union and the next step's join — but
      // both live in the SAME final plan, so the step's aggregation
      // exchange is planned once and REUSED (Spark's exchange reuse /
      // AQE stage cache); only the cheap vertex-scale final-agg reruns
      // per consumer. The former per-step localCheckpoint paid a
      // materialization round-trip and a pinned vertex-scale copy per
      // step for the same sharing.
      val scored = e.join(maybeBroadcast(frontier), Seq("_cur"))
        .select(keys :+ struct(hashFor(t).as("h"), col("_nxt").as("v")).as("_sc"): _*)
      frontier = scored
        .groupBy(keys: _*)
        .agg(min(col("_sc")).as("_m"))
        .select(keys :+ col("_m.v").as("_cur"): _*)
      steps += frontier.select(keys :+ lit(t.toLong).as("step") :+ col("_cur").as("node"): _*)
    }
    // materialize the result (eager checkpoint), then drop everything
    // else this call pinned — the frontiers' truncated-lineage RDDs are
    // only safe to unpersist once nothing can re-read them
    val result = checkpoint(steps.reduce(_ unionByName _))
    release(e); release(frontierInit)
    result
  }

  /** Connected components by the ALTERNATING STAR algorithm (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * the general-graph complement to [[Dedup.connectedComponents]]'s
    * min-label propagation. Min-label needs O(component diameter)
    * rounds, which is the right trade for clique-ish near-dup graphs
    * but an adversary on chain-shaped graphs (provenance chains, event
    * successor graphs, long paths), where the diameter is the component
    * SIZE. Alternating large-star/small-star contracts every component
    * to a star pointing at its minimum id in O(log² n) rounds
    * regardless of diameter:
    *
    *   large-star(u): every neighbor v > u re-points to
    *                  m = min(N(u) ∪ {u})
    *   small-star(u): every smaller neighbor (and u itself) re-points
    *                  to the min of u's smaller neighborhood
    *
    * Both phases are one groupBy-min plus one equi-join on the edge
    * list — NO per-node neighbor lists are ever collected, so a hub of
    * any degree costs its edge rows and nothing more (the same reason
    * [[triangleCounts]] orients by degree). Each round ends in a
    * tracked `localCheckpoint` (the [[Dedup.connectedComponents]]
    * lifecycle discipline: checkpoint RDDs are unpersisted as their
    * round is superseded, so iteration does not leak executor storage).
    *
    * Convergence: small-star output is compared to its input (both are
    * canonical larger→smaller distinct pair sets, so equal counts plus
    * an empty one-sided EXCEPT prove set equality); a non-converged
    * exit after `maxIter` rounds fails loudly rather than returning
    * split components. Returns `(node, component)` over the `vertices`
    * universe with component = min node id; isolated vertices map to
    * themselves.
    */
  def connectedComponentsStar(
      edges: DataFrame,
      vertices: DataFrame,
      vertexCol: String,
      maxIter: Int = 50,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(maxIter >= 1,
      s"connectedComponentsStar: maxIter must be at least 1, got $maxIter")
    // checkpoint lifecycle: see [[Checkpoints]] — superseded rounds are
    // released, the live round's copy stays persisted
    import Checkpoints.{checkpoint, release}

    // canonical form: distinct (hi, lo) pairs, self-loops dropped
    var canon = checkpoint(
      edges
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .select(
          greatest(col("src"), col("dst")).as("_hi"),
          least(col("src"), col("dst")).as("_lo"))
        .distinct())
    var prevCount = canon.count()
    var converged = prevCount == 0L
    // per-node min tables (lsMin/ssMin) are VERTEX-scale; under the
    // measured broadcast bound, hinting them broadcast keeps the
    // edge-scale sym/ls sides unshuffled — without the hint every round
    // sort-merges the full edge list against a vertex table TWICE (the
    // [[pageRankExact]] rationale; checkpointed frames carry no size
    // stats for AQE). The vertex universe only shrinks as stars
    // contract, so one upfront count gates every round.
    val nVerts =
      if (prevCount == 0L) 0L
      else canon.select(col("_hi").as("_v"))
        .unionByName(canon.select(col("_lo").as("_v"))).distinct().count()
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nVerts <= maxBroadcastVertices) broadcast(df) else df
    // one alternating round, LAZY: large-star then small-star over the
    // canonical hi→lo pair set.
    // large-star over the SYMMETRIC view: node u's neighborhood min
    // m = min(N(u) ∪ {u}); every neighbor v > u re-points to m. Each
    // input edge (u < v) survives as (v, min(m_u)) with m_u ≤ u < v,
    // so the output is canonical hi→lo by construction.
    // lsMin is NOT deduped: every consumer is duplicate-insensitive —
    // ssMin is a min, and the round's final distinct below collapses
    // whatever survives the small-star rewrite — so a distinct there
    // would pay a full edge-scale exchange per round purely to shrink
    // the broadcast-join probe side (guide §2.4).
    // small-star over the oriented list: u's smaller neighbors (and u)
    // re-point to the min of the smaller neighborhood. All output
    // pairs stay hi→lo: _lo > m for the re-pointed neighbors (m is
    // their min), _hi > m for u's own link.
    def oneRound(in: DataFrame): DataFrame = {
      val sym = in.select(col("_hi").as("_u"), col("_lo").as("_v"))
        .unionByName(in.select(col("_lo").as("_u"), col("_hi").as("_v")))
      val lsMin = sym.groupBy("_u").agg(min(col("_v")).as("_mn"))
      val ls = sym
        .join(maybeBroadcast(lsMin), "_u")
        .where(col("_v") > col("_u"))
        .select(col("_v").as("_hi"), least(col("_u"), col("_mn")).as("_lo"))
      val ssMin = ls.groupBy("_hi").agg(min(col("_lo")).as("_mn"))
      val withMin = ls.join(maybeBroadcast(ssMin), "_hi")
      withMin
        .where(col("_lo") =!= col("_mn"))
        .select(col("_lo").as("_hi"), col("_mn").as("_lo"))
        .unionByName(ssMin.select(col("_hi"), col("_mn").as("_lo")))
        .distinct()
    }
    var i = 0
    while (!converged && i < maxIter) {
      // ONE round per materialization. Chaining two rounds per
      // checkpoint (the pageRankExact move) was MEASURED SLOWER here:
      // a round's input feeds its symmetric union twice and `ls` feeds
      // two consumers, so an unmaterialized previous round re-runs its
      // post-exchange distinct per consumer branch — the recompute
      // outweighs the saved driver round-trip (q145 warm 6.5 → 8.6 s).
      val next = checkpoint(oneRound(canon))
      val nextCount = next.count()
      // canonical distinct sets: |A| = |B| ∧ A \ B = ∅ ⟹ A = B
      converged = nextCount == prevCount &&
        next.except(canon).limit(1).count() == 0L
      release(canon)
      canon = next
      prevCount = nextCount
      i += 1
    }
    require(converged,
      s"connectedComponentsStar: NOT converged after $maxIter alternating rounds " +
        s"($prevCount edges still moving) — raise maxIter")
    // at convergence the edge set is a star forest: every non-root node
    // appears exactly once as _hi with _lo = its component's min id.
    // The final round's checkpoint stays persisted — the returned plan
    // reads it lazily, and a truncated-lineage RDD cannot be recomputed
    // after unpersist (same lifecycle as [[Dedup.connectedComponents]]'s
    // last labels round).
    val labels = canon.select(col("_hi").as("_v"), col("_lo").as("_c"))
    vertices
      .select(col(vertexCol).as("_v"))
      .where(col("_v").isNotNull)
      .distinct()
      .join(labels, Seq("_v"), "left")
      .select(col("_v").as(vertexCol), coalesce(col("_c"), col("_v")).as("component"))
  }

  /** k-CORE membership by iterative peel — the standard spam/bot
    * subgraph signal the graph family was missing (PageRank ranks
    * authority, triangles measure local cohesion, CC gives membership;
    * the k-core is the maximal subgraph where EVERY vertex keeps at
    * least k neighbors — link farms and botnets live in
    * anomalously-deep cores, organic long-tail pages in shallow ones;
    * Seidman 1983, "Network structure and minimum degree").
    *
    * The peel is the textbook fixpoint: drop every vertex whose degree
    * in the CURRENT subgraph is below k, remove its edges, repeat until
    * stable. Each round is one degree aggregation (union of both
    * endpoint columns, groupBy-count) plus two anti-joins of the edge
    * list against the REMOVED set — the removed set is the small side
    * (broadcast under `maxBroadcastVertices`), and in the common tail
    * rounds it is tiny. The edge set only shrinks, so round-count
    * equality alone proves the fixpoint (no except() needed — the
    * monotone-set argument, one count per round). A non-converged exit
    * after `maxIter` rounds fails loudly: the peel is inherently
    * sequential on chain-cascade graphs (each round can remove one
    * vertex of a path), so the budget is a real contract, not a
    * formality.
    *
    * Checkpoint lifecycle: per-round tracked `localCheckpoint`,
    * superseded rounds released ([[Checkpoints]] — the
    * [[connectedComponentsStar]] discipline).
    *
    * Returns `(node, deg_in_core)` — the surviving vertices with their
    * degree INSIDE the core (≥ k by construction; the per-vertex depth
    * signal a curation mix thresholds on). Isolated vertices and
    * vertices outside every k-dense region simply don't appear.
    */
  def kCoreMembers(
      edges: DataFrame,
      k: Int,
      maxIter: Int = 50,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(k >= 1, s"kCoreMembers: k must be at least 1, got $k")
    require(maxIter >= 1, s"kCoreMembers: maxIter must be at least 1, got $maxIter")
    import Checkpoints.{checkpoint, release}
    var canon = checkpoint(
      edges
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .select(
          least(col("src"), col("dst")).as("_a"),
          greatest(col("src"), col("dst")).as("_b"))
        .distinct())
    def degrees(e: DataFrame): DataFrame =
      e.select(col("_a").as("_v"))
        .unionByName(e.select(col("_b").as("_v")))
        .groupBy("_v").agg(count(lit(1)).as("_d"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // materialize the removed set ONCE per round: the count and the
      // two anti-join probes below all read the checkpointed copy, so
      // the degree aggregation's shuffle is paid once per round — the
      // former lazy `removed` recomputed the whole degree pass inside
      // the anti-join after the count had already paid it
      val removed = checkpoint(degrees(canon).where(col("_d") < k).select("_v"))
      val nRemoved = removed.count()
      if (nRemoved == 0L) { converged = true; release(removed) }
      else {
        val r =
          if (nRemoved <= maxBroadcastVertices) broadcast(removed) else removed
        val next = checkpoint(
          canon
            .join(r.select(col("_v").as("_a")), Seq("_a"), "left_anti")
            .join(r.select(col("_v").as("_b")), Seq("_b"), "left_anti")
            .select("_a", "_b"))
        release(canon)
        release(removed)
        canon = next
        i += 1
      }
    }
    require(converged,
      s"kCoreMembers: peel NOT at fixpoint after $maxIter rounds — " +
        "chain-cascade graph or budget too small; raise maxIter")
    // at the fixpoint every remaining endpoint has degree ≥ k; the
    // result is materialized (vertex-scale) so the final edge-set
    // checkpoint (edge-scale) can be released immediately
    val result = checkpoint(
      degrees(canon).select(col("_v").as("node"), col("_d").as("deg_in_core")))
    release(canon)
    result
  }

  /** Full k-core DECOMPOSITION, capped: the core number of every vertex
    * that survives at least the 1-peel, computed by running
    * [[kCoreMembers]]' peel at k = 1, 2, …, `kMax` over a
    * monotonically shrinking edge set (the (k+1)-core is a subgraph of
    * the k-core, so each phase peels the PREVIOUS phase's survivors,
    * never the original graph). core(v) = the largest k whose peel v
    * survived, capped at `kMax` (a corpus-curation mix thresholds at
    * small k; the cap keeps the phase count — and the oracle's
    * unrolled text — bounded). Returns `(node, core)`, core ∈
    * [1, kMax]; vertices with no edges don't appear (core 0).
    */
  def coreNumbers(
      edges: DataFrame,
      kMax: Int,
      maxIter: Int = 50,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(kMax >= 1, s"coreNumbers: kMax must be at least 1, got $kMax")
    import Checkpoints.{checkpoint, release}
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // ONE merged peel loop instead of kMax independent kCoreMembers
    // phases: the old per-phase structure recomputed the degree table
    // at least three times per round-equivalent (the in-round check,
    // the phase-result emission, and the next phase's first check all
    // re-aggregated the same edge set). Here the checkpointed degree
    // table of the CURRENT k-core candidate edge set is the single
    // source for (a) the sub-k removal set, (b) the phase's member
    // emission when the peel is at fixpoint (survivor degrees ARE the
    // member rows), and (c) the next k's first check — each edge-set
    // change pays exactly one degree aggregation. The peel semantics
    // are unchanged (same removals in the same order), so the output
    // is identical; GraphSpec pins it against per-k kCoreMembers peels.
    var canon = checkpoint(
      edges
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .select(
          least(col("src"), col("dst")).as("_a"),
          greatest(col("src"), col("dst")).as("_b"))
        .distinct())
    pins += canon
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("_a").as("_v"))
        .unionByName(e.select(col("_b").as("_v")))
        .groupBy("_v").agg(count(lit(1)).as("_d"))
    var degs = checkpoint(degreesOf(canon))
    pins += degs
    var out: Option[DataFrame] = None
    var k = 1
    var rounds = 0
    while (k <= kMax) {
      // removal set read off the CACHED degree table — no shuffle
      val removed = degs.where(col("_d") < k).select("_v")
      val nRemoved = removed.count()
      if (nRemoved == 0L) {
        // fixpoint at k: survivors (with their in-core degrees) are
        // exactly the cached degree rows — emit and advance the phase,
        // reusing the same degree table for the (k+1)-check. No
        // checkpoint: `degs` is already pinned, so the member rows are
        // a free projection of it — materializing that projection per
        // phase paid a job for nothing
        val members = degs.select(col("_v").as("node"), lit(k).as("core"))
        out = Some(out match {
          case None => members
          case Some(p) =>
            // later phases overwrite: survivors of the k-peel get core ≥ k
            p.join(members.select("node"), Seq("node"), "left_anti")
              .unionByName(members)
        })
        k += 1
        rounds = 0
      } else {
        require(rounds < maxIter,
          s"coreNumbers: peel NOT at fixpoint after $maxIter rounds at k=$k — " +
            "chain-cascade graph or budget too small; raise maxIter")
        val r =
          if (nRemoved <= maxBroadcastVertices) broadcast(removed) else removed
        // LAZY checkpoint for the shrunken edge set. Under AQE the call
        // itself runs the adaptive plan's query stages (the anti-join
        // shuffles and any broadcast), so those jobs run at this line;
        // only the final stage's blocks are filled later, by the eager
        // degree checkpoint's job right below
        canon = checkpoint(
          canon
            .join(r.select(col("_v").as("_a")), Seq("_a"), "left_anti")
            .join(r.select(col("_v").as("_b")), Seq("_b"), "left_anti")
            .select("_a", "_b"),
          eager = false)
        pins += canon
        degs = checkpoint(degreesOf(canon))
        pins += degs
        rounds += 1
      }
    }
    val result = checkpoint(out.get.select(col("node"), col("core")))
    pins.foreach(release)
    result
  }

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007's LPA,
    * re-derived deterministic): every vertex starts labeled with its
    * own id; each round, every vertex simultaneously adopts the most
    * frequent label among its neighbors, ties broken by the SMALLEST
    * label — the async/random-order update of the original paper is
    * replaced by the synchronous minimum-tie rule so the result is a
    * pure function of (edge set, rounds), replayable by an unrolled
    * SQL oracle (the [[pageRankExact]] discipline). Communities =
    * label-sharing vertex sets after `rounds` rounds; on
    * boilerplate/spam co-occurrence graphs this is the cheap
    * modularity-ish signal a curation mix buckets by, without
    * PageRank's per-vertex float mass or CC's everything-connected
    * blindness (LPA respects DENSITY, not mere reachability: a clique
    * keeps its label against a weak chain edge that would CC-merge it).
    *
    * Determinism: the whole recurrence is exact-integer — neighbor
    * label counts are BIGINTs, the argmax is the lexicographic
    * (count DESC, label ASC) minimum, no floats anywhere, so any
    * engine replaying the same rounds gets bit-identical labels
    * (synchronous LPA can 2-cycle on bipartite-ish structure, which is
    * why `rounds` is a FIXED count rather than a convergence test —
    * the oracle's unroll and the Spark loop agree at every t by
    * construction).
    *
    * Scale shape: edges are symmetrized + canonicalized ONCE and
    * pinned ([[Checkpoints]]); each round is one equi-join of the edge
    * list against the |V|-row label table (broadcast under
    * `maxBroadcastVertices`, the measured [[pageRankExact]] bound —
    * checkpointed frames lose size stats, so AQE would sort-merge
    * otherwise) followed by two partial-aggregable groupBys — per
    * round cost is one edge-scale shuffle at worst, vertex-scale when
    * the label side broadcasts. Superseded label rounds are released;
    * live storage is one |V| table + the pinned edge list.
    *
    * Returns `(node, label)` over the edge-incident vertex universe
    * (an isolated vertex has no neighbors to vote, hence no row —
    * callers wanting them keep-own can left-join the universe).
    */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds must be at least 1, got $rounds")
    import Checkpoints.{checkpoint, release}
    // undirected voting view: both directions of every edge, self-loops
    // and nulls dropped, deduped — loop-invariant, pinned once
    val canon = edges
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .select(col("src").as("_a"), col("dst").as("_b"))
    val und = checkpoint(
      canon.unionByName(canon.select(col("_b").as("_a"), col("_a").as("_b")))
        .distinct())
    // materialize the initial label table FIRST, then read the vertex
    // count off the checkpointed copy — the former separate
    // `distinct().count()` paid the same vertex-dedup shuffle twice
    val labels0 = checkpoint(
      und.select(col("_a").as("_v")).distinct().withColumn("_lab", col("_v")))
    val nVerts = labels0.count()
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nVerts <= maxBroadcastVertices) broadcast(df) else df
    var labels = labels0
    for (_ <- 1 to rounds) {
      val votes = und
        .join(maybeBroadcast(labels), und("_a") === labels("_v"))
        .groupBy(col("_b").as("_v2"), col("_lab"))
        .agg(count(lit(1)).as("_c"))
      // argmax by (count DESC, label ASC) as ONE exact-integer struct
      // minimum — no window, partial-aggregable on both sides. Fixed
      // round count + one consumer per round's label table ⇒ the
      // rounds CHAIN IN ONE PLAN (the [[pageRankExact]] move): no
      // per-round checkpoint materialization, one final job runs all
      // rounds as consecutive stages.
      labels = votes
        .groupBy(col("_v2").as("_v"))
        .agg(min(struct((-col("_c")).as("nc"), col("_lab").as("lab"))).as("_m"))
        .select(col("_v"), col("_m.lab").as("_lab"))
    }
    val out = labels.select(col("_v").as("node"), col("_lab").as("label"))
    val result = checkpoint(out)
    release(labels0)
    release(und)
    result
  }

  /** NEWMAN MODULARITY of a community assignment, EXACT-INTEGER
    * (Newman & Girvan 2004): for communities c over an undirected
    * graph with m edges, `Q = Σ_c [e_c/m − (d_c/2m)²]` where e_c is
    * the count of edges internal to c and d_c the sum of member
    * degrees — the standard "are these communities denser than
    * chance" score a curation mix uses to decide whether
    * [[labelPropagation]]'s labels carry signal before thresholding
    * on them. Reported per community as the exact BIGINT NUMERATOR
    * contribution `q_num = 4·m·e_c − d_c²` over the common
    * denominator 4m² (global Q = Σ q_num / 4m²) — no float division
    * in-engine, so the oracle replays it exactly and cross-community
    * aggregation is an order-free integer sum. Overflow honest-bound:
    * `4·m·e_c < 2⁶³` needs m·e_c < 2⁶¹ — safe through ~2³⁰ edges even
    * if ONE community holds every edge; require'd.
    *
    * Edges are canonicalized (undirected distinct, self-loops
    * dropped) the same way [[labelPropagation]] votes, so the two
    * compose without re-reading the raw graph differently. A vertex
    * missing from `labels` fails loudly (an inner join would silently
    * deflate e_c/d_c and misreport Q as low).
    *
    * Scale shape: m and the degree table are one pass over the edge
    * list; e_c is one edges-to-labels equi-join (labels broadcast
    * under `maxBroadcastVertices`) + a partial-aggregable count; d_c
    * one vertex-scale groupBy. Returns
    * `(label, n_members, e_internal, d_total, q_num)` ordered by label.
    */
  def modularityByCommunity(
      edges: DataFrame,
      labels: DataFrame,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(labels.columns.toSeq.contains("node") && labels.columns.toSeq.contains("label"),
      "modularityByCommunity: labels must have (node, label) columns")
    import Checkpoints.{checkpoint, release}
    val canon = checkpoint(
      edges
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .select(
          least(col("src"), col("dst")).as("_a"),
          greatest(col("src"), col("dst")).as("_b"))
        .distinct())
    val m = canon.count()
    require(m > 0, "modularityByCommunity: empty graph")
    // 4·m·e_c ≤ 4·m·m must stay under 2^63 even if one community owns
    // every edge — honest for any graph this engine peels or labels
    require(m < (1L << 30),
      s"modularityByCommunity: m = $m edges overflows the exact 4·m·e_c numerator bound (2^30)")
    // fail loudly on a non-function assignment: a node with two label
    // rows would fan out BOTH equi-joins below, silently inflating
    // n_members/d_total and multiplying e_internal — the duplicate twin
    // of the unlabeled-endpoint check. Row count and distinct-node
    // count ride ONE aggregation job (partial-aggregable on both).
    val labStats = labels.agg(
      count(lit(1)).as("_n"), count_distinct(col("node")).as("_nd")).head()
    val nLabeled = labStats.getLong(0)
    val nDistinctNodes = labStats.getLong(1)
    require(nDistinctNodes == nLabeled,
      s"modularityByCommunity: labels has $nLabeled rows over $nDistinctNodes " +
        "distinct nodes — a node with multiple labels would fan out the " +
        "joins and misreport q_num")
    val lab = if (nLabeled <= maxBroadcastVertices) broadcast(labels) else labels
    val withA = canon
      .join(lab.select(col("node").as("_a"), col("label").as("_la")), Seq("_a"), "left")
    val withBoth = withA
      .join(lab.select(col("node").as("_b"), col("label").as("_lb")), Seq("_b"), "left")
    // fail loudly on unlabeled endpoints — as a LAZY row guard fused
    // into the e_internal filter's own evaluation (the
    // [[Scale.countMinEstimate]] row-guard discipline): every edge row
    // passes through this predicate exactly once, so a missing label
    // raises on the same pass that counts internal edges, and the
    // former dedicated edge-scale validation pass (a full second
    // evaluation of the canon⋈labels join) is gone. An inner join
    // would silently deflate e_c/d_c and misreport Q; the guard keeps
    // the failure loud at half the cost.
    val eInternal = withBoth
      .where(
        when(col("_la").isNull || col("_lb").isNull,
          raise_error(concat(
            lit("modularityByCommunity: edge endpoint missing from labels ("),
            col("_a").cast("string"), lit(", "), col("_b").cast("string"),
            lit(") — an inner join would silently deflate e_c/d_c and misreport Q")))
            .cast("boolean"))
          .otherwise(col("_la") === col("_lb")))
      .groupBy(col("_la").as("label"))
      .agg(count(lit(1)).as("e_internal"))
    val degrees = canon.select(col("_a").as("_v"))
      .unionByName(canon.select(col("_b").as("_v")))
      .groupBy("_v").agg(count(lit(1)).as("_d"))
    val perCommunity = lab
      .join(degrees, lab("node") === degrees("_v"), "left")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(coalesce(col("_d"), lit(0L))).as("d_total"))
    val result = checkpoint(
      perCommunity
        .join(eInternal, Seq("label"), "left")
        .select(
          col("label"),
          col("n_members"),
          coalesce(col("e_internal"), lit(0L)).as("e_internal"),
          col("d_total"),
          (lit(4L * m) * coalesce(col("e_internal"), lit(0L)) -
            col("d_total") * col("d_total")).as("q_num"))
        .orderBy("label"))
    release(canon)
    result
  }

  /** STALENESS report for a stored iterative-graph result — the
    * [[graft.operators.Similarity.ivfPqDriftReport]] idea applied to
    * PageRank/PPR/core-number/LPA outputs: those are full recomputes
    * per run, and at 100 TB the operative question is whether an
    * edge-append batch invalidates the CACHED result or can wait for
    * the next scheduled rebuild. The report measures the AFFECTED
    * fraction without recomputing anything: a vertex is affected if it
    * is an endpoint of a new edge or a 1-hop neighbour of one in the
    * grown graph (the first ring any of the iterative updates would
    * touch — degrees, votes, teleport mass all change there first;
    * farther rings change only through damped propagation).
    *
    * One bounded join: new-edge endpoints (batch-scale, broadcast
    * under `maxBroadcastVertices`) probe the grown edge set once.
    * Exact integers end to end — the fraction is reported in
    * micro-units (`affected_micro = 10⁶·n_affected DIV n_universe`,
    * the PageRank integer discipline), `rebuild` compares it to
    * `thresholdMicro`. Universe = stored result's vertices ∪ new
    * endpoints (a brand-new vertex is affected by definition).
    * Returns ONE row `(n_universe, n_affected, affected_micro,
    * rebuild)`.
    */
  def graphDriftReport(
      storedVertices: DataFrame,
      vertexCol: String,
      edges: DataFrame,
      newEdges: DataFrame,
      thresholdMicro: Long,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame = {
    require(thresholdMicro >= 0 && thresholdMicro <= 1000000L,
      s"graphDriftReport: thresholdMicro must be in [0, 1000000], got $thresholdMicro")
    def ends(e: DataFrame): DataFrame =
      e.select(col("src").as("_v"))
        .unionByName(e.select(col("dst").as("_v")))
        .where(col("_v").isNotNull)
        .distinct()
    val touched = ends(newEdges)
    val nTouched = touched.count()
    val touchedSide =
      if (nTouched <= maxBroadcastVertices) broadcast(touched) else touched
    val grown = edges.select(col("src"), col("dst"))
      .unionByName(newEdges.select(col("src"), col("dst")))
    // 1-hop ring: either endpoint of any grown edge whose OTHER
    // endpoint is touched — two semi-join probes, batch-bounded
    val ring = grown
      .join(touchedSide.withColumnRenamed("_v", "src"), Seq("src"), "left_semi")
      .select(col("dst").as("_v"))
      .unionByName(grown
        .join(touchedSide.withColumnRenamed("_v", "dst"), Seq("dst"), "left_semi")
        .select(col("src").as("_v")))
      .where(col("_v").isNotNull)
    val affected = touched.unionByName(ring).distinct()
    val universe = storedVertices
      .select(col(vertexCol).as("_v")).where(col("_v").isNotNull).distinct()
      .unionByName(touched).distinct()
    // |universe| and |affected ∩ universe| in ONE job: affected is
    // distinct, so the left join cannot fan out and count(_hit) is
    // exactly the semi-join count the two former separate jobs computed
    val uStats = universe
      .join(affected.withColumn("_hit", lit(1L)), Seq("_v"), "left")
      .agg(count(lit(1)).as("_n"), count(col("_hit")).as("_na")).head()
    val nUniverse = uStats.getLong(0)
    require(nUniverse > 0, "graphDriftReport: empty vertex universe")
    val nAffected = uStats.getLong(1)
    val spark = storedVertices.sparkSession
    import spark.implicits._
    Seq((nUniverse, nAffected, 1000000L * nAffected / nUniverse))
      .toDF("n_universe", "n_affected", "affected_micro")
      .withColumn("rebuild", col("affected_micro") >= thresholdMicro)
  }

  /** [[graphDriftReport]] for CO-OCCURRENCE graphs, computed at
    * item-table scale — WITHOUT materializing a single edge. The edge
    * list of a co-occurrence graph is the corpus self-join (239M rows
    * at sf10 for the co-purchase corpus, ~10 GB pinned); building it
    * just to count drift is the bottleneck the r17 q172 measurement
    * exposed (416 s / 48g-OOM at sf10 with the tagged-edge probe).
    * Every set in the report is derivable from GROUP MEMBERSHIP
    * directly, in item-scale joins:
    *
    *   touched  = endpoints of batch edges
    *            = items of batch groups with 2 ≤ |group| ≤ cap
    *              (an edge needs two distinct items; the cap is
    *              [[cooccurrenceEdges]]' own);
    *   ring     = grown-graph neighbours of touched
    *            = items of capped groups (either slice) containing a
    *              touched item (every co-member v of touched w has
    *              edge (v, w); w itself is already in touched, so the
    *              union is unchanged);
    *   affected = touched ∪ ring;  universe = stored ∪ touched;
    *   affected_micro = 10⁶·|affected ∩ universe| DIV |universe|.
    *
    * Set-for-set equal to `graphDriftReport(stored, edges(base),
    * edges(batch))` over [[cooccurrenceEdgesTagged]]'s slices
    * (GraphSpec pins the equality), at the cost of two item-scale
    * passes instead of a pair-scale build — the probe a 100 TB
    * lifecycle can afford to run on EVERY batch. `batchTag` must be a
    * boolean function of `groupCol` (same contract and same lazy
    * per-group guard as the tagged edge build).
    *
    * RESTRICTION: `itemCol` must be an integral type (the one-exchange
    * bounded-set path is the probe's whole point — the former
    * distinct+join shape would re-admit the pair-scale pass the probe
    * exists to avoid); non-integral item ids are rejected at call time.
    */
  def cooccurrenceDriftReport(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      batchTag: Column,
      storedVertices: DataFrame,
      vertexCol: String,
      thresholdMicro: Long,
      maxGroupSize: Int = 1000,
      maxBroadcastVertices: Long = 2000000L
  ): DataFrame =
    cooccurrenceDriftProbe(items, groupCol, itemCol, batchTag, storedVertices,
      vertexCol, thresholdMicro, maxGroupSize, maxBroadcastVertices)._1

  /** [[cooccurrenceDriftReport]] that ALSO returns the pinned capped
    * per-group SETS `(_g, _is, _tag)` the probe derived — the lifecycle
    * caller's edge-reuse face: the probe has already paid the corpus
    * scan and the capped set-building aggregation, so the decision's
    * edge slice fans straight out of the pinned sets via
    * [[edgesFromDriftProbe]] — no corpus re-scan through
    * [[cooccurrenceEdges]] and no re-aggregation of the membership. At
    * sf10 the avoided work is a 60M-row scan + item-scale aggregation
    * per lifecycle query.
    */
  def cooccurrenceDriftProbe(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      batchTag: Column,
      storedVertices: DataFrame,
      vertexCol: String,
      thresholdMicro: Long,
      maxGroupSize: Int = 1000,
      maxBroadcastVertices: Long = 2000000L
  ): (DataFrame, DataFrame) = {
    require(thresholdMicro >= 0 && thresholdMicro <= 1000000L,
      s"cooccurrenceDriftReport: thresholdMicro must be in [0, 1000000], got $thresholdMicro")
    require(maxGroupSize >= 2,
      s"cooccurrenceDriftReport: maxGroupSize must be at least 2, got $maxGroupSize")
    // groups that EMIT edges under the cap: 2 ≤ distinct items ≤ cap
    // (same lazy tag-constancy guard as cooccurrenceEdgesTagged — a
    // row-level tag would silently misclassify groups across slices).
    // One bounded-set aggregation exchange replaces the former
    // (group, item, tag) DISTINCT + sizing agg + membership join —
    // the [[cooccurrenceEdges]] rewrite; the SET rows themselves are
    // what gets checkpointed, the item-scale membership derives lazily.
    // Non-integral item ids would need the former distinct+join shape;
    // the probe's callers (q172/q175) probe BIGINT part keys.
    val itemType = items.schema(itemCol).dataType
    require(longCastable(itemType),
      s"cooccurrenceDriftReport: item column $itemCol must be an integral " +
        s"type (got $itemType)")
    val sets = items
      .select(col(groupCol).as("_g"), col(itemCol).cast("long").as("_i"),
        batchTag.as("_t"))
      .where(col("_g").isNotNull && col("_i").isNotNull)
      .groupBy("_g")
      .agg(graft.functions.SketchExpressions
          .bounded_set(col("_i"), maxGroupSize).as("_is"),
        count(lit(1)).as("_n"), count(col("_t")).as("_nt"),
        min(col("_t")).as("_t0"), max(col("_t")).as("_t1"))
      .where(
        when(not(col("_t0") <=> col("_t1")) ||
            (col("_nt") =!= lit(0L) && col("_nt") =!= col("_n")),
          raise_error(concat(
            lit("cooccurrenceDriftReport: group "), col("_g").cast("string"),
            lit(s" carries more than one batchTag value — batchTag must be " +
              s"a function of $groupCol")))
            .cast("boolean"))
          .otherwise(size(col("_is")).between(2, maxGroupSize)))
      .select(col("_g"), col("_t0").as("_tag"), col("_is"))
    // an all-NULL-tag group belongs to NEITHER slice (`where(pred)` and
    // `where(!pred)` both drop it), so it must not contribute ring
    // members either; a null MIXED with a value is caught by the guard.
    // The PINNED frame is the per-group SET rows — one row per group
    // instead of one per (group, item) — so the materialization is
    // group-scale and [[edgesFromDriftProbe]] can fan pairs straight
    // out of the sets with NO re-aggregation exchange (the former
    // exploded pin made it re-collect the very sets this aggregation
    // just built — an item-scale groupBy per lifecycle query, 60M rows
    // at sf10). The item-scale membership the drift joins need derives
    // lazily below: a narrow explode over the pinned RDD.
    val setsPinned = Checkpoints.checkpoint(sets
      .where(col("_tag").isNotNull)
      .select(col("_g"),
        transform(col("_is"), x => x.cast(itemType)).as("_is"), col("_tag")))
    val capped = setsPinned
      .select(col("_g"), explode(col("_is")).as("_i"), col("_tag"))
    val touched =
      Checkpoints.checkpoint(capped.where(col("_tag")).select(col("_i").as("_v")).distinct())
    val nTouched = touched.count()
    val touchedSide =
      if (nTouched <= maxBroadcastVertices) broadcast(touched) else touched
    // capped groups containing ≥ 1 touched item — their members are
    // exactly the grown-graph 1-hop ring (∪ touched itself)
    val hitGroups = capped
      .join(touchedSide.withColumnRenamed("_v", "_i"), Seq("_i"), "left_semi")
      .select("_g").distinct()
    val ring = capped
      .join(hitGroups, Seq("_g"), "left_semi")
      .select(col("_i").as("_v"))
    val affected = touched.unionByName(ring).distinct()
    val universe = storedVertices
      .select(col(vertexCol).as("_v")).where(col("_v").isNotNull).distinct()
      .unionByName(touched).distinct()
    // one job for both counts — the graphDriftReport fusion
    val uStats = universe
      .join(affected.withColumn("_hit", lit(1L)), Seq("_v"), "left")
      .agg(count(lit(1)).as("_n"), count(col("_hit")).as("_na")).head()
    val nUniverse = uStats.getLong(0)
    require(nUniverse > 0, "cooccurrenceDriftReport: empty vertex universe")
    val nAffected = uStats.getLong(1)
    val spark = storedVertices.sparkSession
    import spark.implicits._
    val report = Seq((nUniverse, nAffected, 1000000L * nAffected / nUniverse))
      .toDF("n_universe", "n_affected", "affected_micro")
      .withColumn("rebuild", col("affected_micro") >= thresholdMicro)
    (report, setsPinned)
  }

  /** Edge set of one slice — or the grown union — from a
    * [[cooccurrenceDriftProbe]]'s pinned capped per-group sets:
    * `slice = Some(t)` builds the tag-t slice, `None` the grown graph
    * (all capped groups). Row-identical to [[cooccurrenceEdges]] over
    * the same slice's item rows, because every group is wholly inside
    * one slice (the probe's lazy guard enforces tag-is-function-of-
    * group), group sizes are therefore slice-independent, and the
    * probe's `2 ≤ n` lower bound only excludes groups that emit no
    * pairs anyway. The `None` face additionally requires the probe's
    * `batchTag` to be TOTAL (never null on kept rows) — an all-null-tag
    * group belongs to neither slice and is absent from the probe's
    * membership, while a direct [[cooccurrenceEdges]] over all rows
    * would include it (q172/q175's modulo tags are total; GraphSpec
    * pins the equivalence).
    */
  def edgesFromDriftProbe(
      capped: DataFrame,
      slice: Option[Boolean]
  ): DataFrame = {
    val rows = slice match {
      case Some(tag) => capped.where(col("_tag") === tag)
      case None      => capped
    }
    // the probe pins per-group SET rows, so the pair fan-out starts
    // straight from them — no aggregation exchange at all (the former
    // exploded pin forced a collect_set here to rebuild the sets the
    // probe's own aggregation had just produced)
    mirroredPairsFromSets(rows.select("_g", "_is"), Nil)
  }
}
