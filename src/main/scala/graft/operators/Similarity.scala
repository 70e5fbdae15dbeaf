package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.column
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, MapType, StructField, StructType}

import scala.collection.mutable

import graft.functions.Params.{isIn, param}
import graft.functions.VectorFunctions.vec_cosine_to

/** Similarity search over an `ARRAY<FLOAT>` embedding column.
  *
  * All math is `zip_with` + `aggregate` column expressions in double
  * precision — codegen'd, deterministic left-to-right summation (matches
  * the DuckDB oracle bit-for-bit), no UDF.
  *
  * Scale paths:
  *  - brute-force top-k: broadcast the query vector; one scan, one top-k.
  *  - LSH-bucketed (random-hyperplane sign bits): candidate generation is
  *    an equi-join on bucket id, so the all-pairs work is per-bucket only.
  */
object Similarity {

  /** Deterministic left-fold dot product of two (equal-length) float
    * arrays, accumulated in double. Backed by the custom codegen'd
    * Catalyst expression (graft.functions.DotProductExpr) — Spark's
    * `zip_with`+`aggregate` route evaluates interpreted lambdas per row,
    * too slow for the inner loop of a corpus-scale similarity scan.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_dot(a, b)

  def norm2(a: Column): Column = graft.functions.VectorFunctions.vec_norm2(a)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_cosine(a, b)

  /** Brute-force exact top-k cosine neighbors of the row with id
    * `queryId`. The 1-row query side is broadcast; the scan side never
    * shuffles — only the global top-k (a TakeOrdered, partial per
    * partition) moves data.
    */
  def cosineTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int
  ): DataFrame = {
    // the id is bound as a reference, so every query shares one compiled
    // plan; the query row is selected through an InSet, which a parquet
    // scan still prunes on (an InSet is not coerced, hence the cast, a
    // no-op on a BIGINT id)
    val q = emb.where(isIn(col(idCol).cast("long"), Seq(queryId))).select(col(vecCol).as("q_vec"))
    emb
      .where(col(idCol) =!= param(queryId))
      .crossJoin(broadcast(q))
      .select(
        col(idCol),
        round(cosine(col(vecCol), col("q_vec")), 6).as("cos_sim")
      )
      // a zero-norm (corrupt/padded) vector yields NULL (see
      // vec_cosine) — it must not occupy a top-k slot
      .where(col("cos_sim").isNotNull)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Per-vector scalar quantization to integer codes in [0, levels-1]
    * (int8-style at levels=256): `code = round((x - min) / scale)` with
    * `scale = (max - min) / (levels - 1)`. The classic memory-reduction
    * step before ANN — codes are 4× smaller than float32 and reconstruct
    * within scale/2 per dimension. Constant vectors map to code 0.
    * Evaluated by one codegen'd single-pass expression
    * ([[graft.functions.QuantizeCodesExpr]]) with double math in the
    * same shape and rounding as the equivalent Column formulation, so
    * the DuckDB oracle still replicates it bit-for-bit — the Column
    * spelling's per-element lambda captured `array_min`/`array_max`
    * over the whole array, which Catalyst inlines into the lambda body:
    * O(dim²) interpreted work per row on the hot path.
    */
  def quantizeCodes(vec: Column, levels: Int = 256): Column =
    graft.functions.VectorFunctions.quantize_codes(vec, levels)

  /** Deterministic ±1 sign matrix (flattened row-major `outDim x inDim`)
    * for [[randomProjectSigned]]: entry (i, j) is the parity of the
    * first md5 hex digit of `"i:j"` — md5 being the one hash every
    * engine shares, an oracle can rebuild the identical matrix from the
    * same strings instead of trusting an RNG stream.
    */
  def md5Signs(inDim: Int, outDim: Int): Array[Int] = {
    require(inDim > 0 && outDim > 0)
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim * inDim) { k =>
      val j = k / inDim
      val i = k % inDim
      md.reset()
      val d = md.digest(s"$i:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first hex char of the digest = high nibble of byte 0
      if ((((d(0) >> 4) & 0xf) & 1) == 0) 1 else -1
    }
  }

  /** JL-style SIGNED RANDOM PROJECTION for embedding-dimension reduction
    * (Achlioptas 2003's ±1 database-friendly projections — re-derived,
    * signs from md5 instead of an RNG): each float vector is first
    * scalar-quantized to exact integer codes ([[quantizeCodes]]), the
    * codes are midrange-CENTERED (`2·c_i − (levels−1)`, still exact
    * integers — raw codes are all-nonnegative, and their shared DC
    * component along the all-ones direction would swamp the geometry;
    * centering restores approximate proportionality to the original
    * vector, and cosine is scale-invariant), then projected to `outDim`
    * components `y_j = Σ_i (2·c_i − (levels−1)) · s_ij`, `s_ij = ±1`.
    * Inner products are preserved in expectation up to the matrix scale
    * (E[y·y'] = outDim · Σ ĉ_i ĉ'_i), so projected cosine ranks
    * approximate full-space ranks at `outDim/inDim` of the
    * per-comparison cost — the classic cheap pre-filter in front of an
    * exact re-rank at 100 TB. A constant input vector quantizes to
    * all-zero codes, which center to a fixed all-(−(levels−1)) vector:
    * every degenerate vector projects to the same point.
    *
    * Determinism: codes are exact BIGINTs, the sign matrix is md5-derived
    * ([[md5Signs]]), and the projection is pure integer multiply-add —
    * order-independent and bit-identical on any engine (q97's DuckDB
    * oracle rebuilds it relationally). Row-wise work is one codegen'd
    * expression ([[graft.functions.SignedProjectExpr]] — `zip_with` +
    * `aggregate` HOFs evaluate interpreted lambdas per row, and the
    * centering affine rides inside the same loop); scan-side, no
    * shuffle at all.
    */
  def randomProjectSigned(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      inDim: Int,
      outDim: Int,
      levels: Int = 256
  ): DataFrame =
    emb.select(
      col(idCol),
      graft.functions.VectorFunctions
        .signed_project(
          quantizeCodes(col(vecCol), levels),
          md5Signs(inDim, outDim),
          inDim,
          scale = 2L,
          shift = -(levels - 1).toLong)
        .as("proj"))

  /** Brute-force top-k by PROJECTED-space cosine — [[cosineTopK]]'s
    * approximate counterpart over [[randomProjectSigned]] outputs, at
    * `outDim/inDim` of the per-comparison cost. dot and norms are EXACT
    * BIGINTs (integer vectors), so the cosine double is a fixed-shape
    * correctly-rounded function of exact inputs — bit-identical across
    * engines regardless of summation order, which even q27's
    * double-accumulation cosine cannot claim. A zero-norm projection
    * (possible only if every component's signed sum cancels exactly —
    * centering maps even constant inputs to a nonzero point) yields
    * NULL and is excluded, mirroring cosineTopK's contract.
    */
  def projectedCosineTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      inDim: Int,
      outDim: Int
  ): DataFrame = {
    val proj = randomProjectSigned(emb, idCol, vecCol, inDim, outDim)
    val q = proj.where(col(idCol) === queryId).select(col("proj").as("q_proj"))
    // ONE reference to `proj` per row: CollapseProject inlines a
    // computed column's defining expression into EVERY reference, so a
    // dot/n2a/n2b three-expression spelling would re-quantize and
    // re-project the vector ~5x per row (measured 36x slower than the
    // full-space q27 scan it is supposed to undercut)
    proj
      .where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(
        col(idCol),
        round(
          graft.functions.VectorFunctions.vec_cosine_long(col("proj"), col("q_proj")),
          6).as("cos_sim"))
      .where(col("cos_sim").isNotNull)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Random-hyperplane LSH bucket id: sign bits of the dot products with
    * `planes`. One custom expression carrying the plane matrix as a
    * codegen reference object — not a per-coefficient literal tree. With
    * b planes → 2^b buckets of cosine-similar vectors.
    */
  def hyperplaneBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    graft.functions.VectorFunctions.hyperplane_bucket(vec, planes)

  /** Deterministic pseudo-random unit-free hyperplanes (xorshift-ish LCG
    * seeded by plane+dim index) — reproducible across runs and engines
    * without RNG state.
    */
  def deterministicPlanes(numPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until numPlanes).map { p =>
      Array.tabulate(dim) { d =>
        val x = (p * 1315423911L + d * 2654435761L + 97531L) & 0xffffffffL
        (x.toDouble / 0xffffffffL.toDouble) * 2.0 - 1.0
      }
    }

  /** ANN top-k via hyperplane LSH: candidates share the query's bucket in
    * any of `tables` independent hashings; exact cosine re-rank on the
    * candidate set. Returns (id, cos_sim); approximate — may miss
    * neighbors whose buckets never collide.
    *
    * Knob sizing, measured (`RECALL_r15.json`, ProfileRecall, dim 64):
    * each plane halves a bucket's angular width, each table is an
    * independent recall union — so on CLUSTERED (real-embedding)
    * corpora the q28 defaults (planes 8, tables 4) read 0.97–0.99
    * recall@10 at 50k–500k, while on UNIFORM-ish corpora (no cluster
    * structure — near-neighbours are barely nearer than everyone else)
    * they read ~0.20: there, LOWER planes and MORE tables is the
    * productive direction (planes 6 / tables 8 doubled uniform recall
    * to 0.42–0.50 at ~the same probe cost; planes 12 HALVED it), and
    * past that the honest answer is brute force ([[cosineTopK]]) or
    * IVF at high nprobe — see [[ivfTopKIndexed]]'s note.
    */
  def annTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      numPlanes: Int = 8,
      tables: Int = 4,
      dim: Int = 64
  ): DataFrame = {
    val bucketCols = (0 until tables).map { t =>
      struct(lit(t).as("t"), hyperplaneBucket(col(vecCol), planesFor(t, numPlanes, dim)).as("bkt"))
    }
    val banded = emb
      .select(col(idCol), col(vecCol), explode(array(bucketCols: _*)).as("tb"))
      .select(col(idCol), col(vecCol), col("tb.t").as("t"), col("tb.bkt").as("bkt"))

    val qb = banded.where(col(idCol) === queryId).select(
      col("t").as("qt"),
      col("bkt").as("qbkt"),
      col(vecCol).as("q_vec")
    )
    banded
      .join(broadcast(qb), col("t") === col("qt") && col("bkt") === col("qbkt"))
      .where(col(idCol) =!= queryId)
      .select(col(idCol), round(cosine(col(vecCol), col("q_vec")), 6).as("cos_sim"))
      .where(col("cos_sim").isNotNull) // zero-norm vectors must not occupy slots
      .distinct()
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  private def planesFor(table: Int, numPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until numPlanes).map { p =>
      Array.tabulate(dim) { d =>
        val x = (table * 2246822519L + p * 1315423911L + d * 2654435761L + 97531L) & 0xffffffffL
        (x.toDouble / 0xffffffffL.toDouble) * 2.0 - 1.0
      }
    }

  /** IVF (inverted-file) INDEX BUILD: every vector is assigned to its
    * nearest centroid by cosine (ties to the lowest centroid id) — the
    * coarse-quantization step of IVF ANN. The centroid set is broadcast
    * (coarse quantizers are tiny by construction), so assignment is one
    * scan plus a grouped argmax with map-side partial aggregation; the
    * shuffle carries (id, similarity, centroid) triples, never vectors.
    * Zero-norm vectors (NULL cosine) get no assignment and are therefore
    * unreachable by probes — the same exclusion every other similarity
    * path applies. Returns (idCol, centroid_id).
    */
  def ivfAssign(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centIdCol: String,
      centVecCol: String
  ): DataFrame = {
    // the argmax tie-break negates the centroid id; a non-numeric id
    // would throw under ANSI (or silently invert the documented
    // lowest-id tie-break with ANSI off) — fail fast instead
    require(
      centroids.schema(centIdCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"ivfAssign: centroid id '$centIdCol' must be numeric, got " +
        centroids.schema(centIdCol).dataType.sql)
    val c = broadcast(centroids.select(col(centIdCol).as("_cid"), col(centVecCol).as("_cvec")))
    emb
      .select(col(idCol), col(vecCol))
      .crossJoin(c)
      .select(col(idCol), col("_cid"), cosine(col(vecCol), col("_cvec")).as("_cs"))
      .where(col("_cs").isNotNull)
      .groupBy(col(idCol))
      // argmax by (similarity desc, centroid id asc): the negated id in
      // the struct makes the lexicographic max break ties to the LOWEST id
      .agg(max(struct(col("_cs"), (-col("_cid")).as("_ncid"), col("_cid"))).as("_b"))
      .select(col(idCol), col("_b._cid").as("centroid_id"))
  }

  /** IVF ANN top-k: rank the centroids against the query, probe only the
    * `nprobe` nearest buckets, exact-cosine re-rank inside them. The
    * probed list is centroid-count-sized and broadcast; candidates come
    * from one join on the assignment table, recomputed inline — the
    * one-shot form. For build-once/probe-many (the shape that matters at
    * scale) use [[ivfBuild]] + [[ivfTopKIndexed]], which persist the
    * assignment range-clustered on `centroid_id` and probe only the
    * intersecting files. Recall is tunable: nprobe = centroid count
    * makes it exact.
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centIdCol: String,
      centVecCol: String,
      queryId: Long,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    require(k > 0 && nprobe > 0)
    val q = emb.where(col(idCol) === queryId).select(col(vecCol).as("_qvec"))
    val probed = centroids
      .select(col(centIdCol).as("centroid_id"), col(centVecCol).as("_cvec"))
      .crossJoin(broadcast(q))
      .select(col("centroid_id"), cosine(col("_cvec"), col("_qvec")).as("_cs"))
      .where(col("_cs").isNotNull)
      .orderBy(col("_cs").desc, col("centroid_id"))
      .limit(nprobe)
      .select("centroid_id")
    val assign = ivfAssign(emb, idCol, vecCol, centroids, centIdCol, centVecCol)
    emb
      .select(col(idCol), col(vecCol))
      .join(assign.join(broadcast(probed), "centroid_id"), Seq(idCol))
      .where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col(vecCol), col("_qvec")), 6).as("cos_sim"))
      .where(col("cos_sim").isNotNull)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // Persisted IVF index: build once, probe many.
  //
  // [[ivfTopK]] recomputes the full corpus assignment inside every call —
  // fine for a one-shot query, wrong at scale, where the entire point of
  // IVF is that the coarse quantization is paid ONCE. The persisted form
  // is a plain-parquet layout under one index directory:
  //
  //   <indexPath>/postings/   (centroid_id BIGINT, <id>, <vec>)
  //       range-clustered on centroid_id ([[Scale.writeRangeClustered]]),
  //       so each file's parquet footer min/max describes a narrow
  //       centroid interval — a probe selects only the files whose
  //       interval intersects its probed buckets (the same footer-stats
  //       pruning [[FileMerge]] uses for merges);
  //   <indexPath>/centroids/  (centroid_id BIGINT, centroid ARRAY<FLOAT>)
  //       the coarse quantizer itself, tiny by construction, stored
  //       alongside so the index is self-contained.
  //
  // A build commits both tables in one [[FileMerge]] commit of the index
  // directory; appends and compactions commit into the postings table.
  // Writers run [[FileMerge.recoverFileMerge]] first. Probes never repair:
  // each reads one [[FileMerge.snapshot]] of the index root, and the
  // snapshot of the postings it resolves, so a crashed rebuild, append or
  // compaction reads as its last published commit. Every sub-table is
  // read through [[FileMerge.readTable]], typed from a footer the driver
  // reads, so no read runs a schema-inference job.
  // ---------------------------------------------------------------------

  private def postingsPath(indexPath: String): String = s"$indexPath/postings"
  private def centroidsPath(indexPath: String): String = s"$indexPath/centroids"

  /** The snapshot of the postings table that the index snapshot `index`
    * resolves: a torn build's staged postings, or the live ones with
    * their own appends and compactions resolved.
    */
  private def postingsOf(spark: SparkSession, index: FileMerge.Snapshot): FileMerge.Snapshot =
    FileMerge.snapshot(spark, index.pathOf("postings"))

  /** The sub-table `name` (centroids, codebook) that the index
    * snapshot `index` resolves, typed from its footer.
    */
  private def subTable(spark: SparkSession, index: FileMerge.Snapshot, name: String): DataFrame =
    FileMerge.readTable(spark, index.pathOf(name))

  /** What a probe of `buckets` scans: the postings files whose footer
    * centroid range covers a probed bucket (stats-less files always),
    * read under their footers' merged schema, or the schema-stable empty
    * frame when no file does.
    */
  private def probedPostings(
      spark: SparkSession, post: FileMerge.Snapshot, buckets: Array[Long]): DataFrame =
    probedPostings(spark, post, FileMerge.footerRanges(spark, post, "centroid_id"), buckets)

  /** [[probedPostings]] over the postings' `centroid_id` footer `ranges`. */
  private def probedPostings(spark: SparkSession, post: FileMerge.Snapshot,
      ranges: Seq[FileMerge.FileRange], buckets: Array[Long]): DataFrame = {
    val selected = ranges.filter(r => !r.known || buckets.exists(c => c >= r.lo && c <= r.hi))
    if (selected.isEmpty) FileMerge.readTable(spark, post).where(lit(false))
    else FileMerge.readFiles(spark, selected)
  }

  /** Build (or rebuild) the persisted IVF index at `indexPath`: one
    * corpus scan assigns every vector to its nearest centroid
    * ([[ivfAssign]]), and the (centroid_id, id, vector) postings land
    * range-clustered on `centroid_id` across `files` files (0 = the
    * cluster's default parallelism). Crash-safe as a UNIT: postings and
    * centroids are both staged at `<indexPath>_fmerge` and replace their
    * live namesakes in ONE [[FileMerge]] commit (a whole-table rewrite
    * of the index directory) — two separate commits would open a
    * window where new postings (bucketed against new centroids) pair
    * with old centroid vectors, a torn state no recovery could detect
    * because each half looks individually healthy.
    */
  def ivfBuild(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centIdCol: String,
      centVecCol: String,
      indexPath: String,
      files: Int = 0,
      metaCols: Seq[String] = Nil
  ): Unit = {
    val nFiles =
      if (files > 0) files else math.max(1, spark.sparkContext.defaultParallelism)
    // metaCols ride the postings as TOP-LEVEL columns so a filtered
    // probe's predicate reaches the parquet scan (PushedFilters +
    // row-group stats) — the filter prunes IO, it does not post-filter
    // a wider read (see ivfTopKIndexedFiltered)
    val postings = emb
      .select((idCol +: vecCol +: metaCols).map(col): _*)
      .join(ivfAssign(emb, idCol, vecCol, centroids, centIdCol, centVecCol), idCol)
      .select(
        (col("centroid_id").cast("long").as("centroid_id") +: col(idCol) +: col(vecCol) +:
          metaCols.map(col)): _*)
    FileMerge.recoverFileMerge(spark, indexPath)
    val staging = FileMerge.stagingPath(indexPath)
    // the two staged tables are independent jobs — write them
    // concurrently so the tiny centroid write rides the postings
    // write's tail (guide §2.6); the commit still happens only after BOTH
    Concurrently { fork =>
      val cents = fork(centroids
        .select(col(centIdCol).cast("long").as("centroid_id"), col(centVecCol).as("centroid"))
        .write
        .mode("overwrite")
        .parquet(centroidsPath(staging)))
      Scale.writeRangeClustered(postings, postingsPath(staging), "centroid_id", nFiles)
      cents()
    }
    FileMerge.commitRewrite(spark, indexPath)
  }

  /** Incrementally extend the persisted IVF index with a batch of NEW
    * vectors — the maintenance half of build-once/probe-many: a daily
    * ingest must not pay [[ivfBuild]]'s full corpus rewrite. The batch
    * is assigned against the PERSISTED coarse quantizer (so its bucket
    * ids agree with every existing posting) and appended crash-safely
    * via [[FileMerge.appendStaged]]: appended files are range-clustered
    * on `centroid_id` WITHIN the batch, so probes keep footer pruning
    * per file; batch ranges interleave with the initial layout's, which
    * widens a probe's file set but never its results. Run
    * [[ivfCompact]] periodically to restore disjoint per-file ranges.
    *
    * Caller contract (as any lake append): the batch's ids are new to
    * the index. Re-assigning under the STORED centroids — not a batch-
    * local quantizer — is what keeps probe recall stable as the index
    * grows; retrain + [[ivfBuild]] when drift accumulates.
    *
    * Pass `commitId` (a stable per-batch id) to make retries safe: a
    * crashed append rolls forward on the next index operation, and a
    * replay of an already-committed id returns false having written
    * nothing ([[FileMerge.appendStaged]]'s replay marker).
    *
    * @return true if the batch was appended, false if `commitId` was
    *         already committed
    */
  def ivfAppend(
      spark: SparkSession,
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      files: Int = 0,
      commitId: Option[String] = None
  ): Boolean = {
    // a crashed rebuild first (appendStaged runs the postings recovery
    // itself) — the order in which a snapshot resolves the index
    FileMerge.recoverFileMerge(spark, indexPath)
    val index = FileMerge.snapshot(spark, indexPath)
    val cents = subTable(spark, index, "centroids")
    // the persisted postings schema is the contract: an index built
    // with metaCols (filtered probes) must keep receiving those
    // columns, or appended vectors would carry NULL metadata and
    // silently vanish from every filtered probe. Footer-only read.
    val metaCols = FileMerge.readTable(spark, postingsOf(spark, index))
      .schema.fieldNames.toSeq
      .filterNot(Set("centroid_id", idCol, vecCol))
    val missing = metaCols.filterNot(newEmb.columns.contains)
    require(missing.isEmpty,
      s"ivfAppend: index stores metadata columns [${metaCols.mkString(", ")}] " +
        s"but the batch lacks [${missing.mkString(", ")}]")
    // pin the batch: it feeds BOTH sides of the assignment join and the
    // clustered write's range-sampling pass — an unpinned
    // nondeterministic source (sample/limit/changing input) could
    // re-roll between scans and silently drop vectors from the index,
    // the same failure class mergeFileGranular pins its batch against
    Checkpoints.scoped {
      val batch = Checkpoints.cache(newEmb.select((idCol +: vecCol +: metaCols).map(col): _*))
      val postings = batch
        .join(ivfAssign(batch, idCol, vecCol, cents, "centroid_id", "centroid"), idCol)
        .select(
          (col("centroid_id").cast("long").as("centroid_id") +: col(idCol) +: col(vecCol) +:
            metaCols.map(col)): _*)
      FileMerge.appendStaged(
        spark, postings, postingsPath(indexPath), "centroid_id", files, commitId)
    }
  }

  /** Re-cluster the postings table after a run of [[ivfAppend]] batches:
    * appended files' centroid ranges interleave with the initial
    * layout's, so probes read more files than the probed buckets strictly
    * need. A clustered compaction ([[graft.sources.Lake.compact]], a
    * whole-table rewrite of the postings table that keeps its append
    * replay markers) restores disjoint per-file ranges — and probe IO
    * proportional to the probed buckets. Returns the new file count.
    */
  def ivfCompact(
      spark: SparkSession,
      indexPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): Int = {
    FileMerge.recoverFileMerge(spark, indexPath)
    graft.sources.Lake.compact(
      spark, postingsPath(indexPath), targetFileBytes, clusterBy = Some("centroid_id"))
  }

  /** IVF ANN top-k against the PERSISTED index — build-once/probe-many,
    * the shape [[ivfTopK]]'s docstring promises. `query` must be a
    * one-row DataFrame whose single column is the query vector
    * (`ARRAY<FLOAT>`); `excludeId` drops the query row itself when the
    * query vector came from the indexed corpus.
    *
    * Probe IO is proportional to the probed buckets, not the corpus:
    *   1. rank the stored centroids against the query, keep the `nprobe`
    *      nearest bucket ids (an nprobe-bounded collect — metadata-scale,
    *      like [[FileMerge]]'s touched-file list);
    *   2. footer-stats file selection ([[FileMerge.fileRanges]]): only
    *      postings files whose centroid interval intersects a probed
    *      bucket are read at all (stats-less files are conservatively
    *      included);
    *   3. inside the selected files, `centroid_id IN (probed)` prunes
    *      remaining row groups, then exact cosine re-ranks candidates.
    *
    * nprobe sizing, measured (`RECALL_r15.json`): on CLUSTERED corpora
    * recall@10 is 1.0 at nprobe 1 (50k and 500k — the coarse quantizer
    * aligns with the true clusters, the regime IVF is built for); on
    * UNIFORM-ish corpora recall tracks the nprobe/nlist theory line
    * (0.26–0.33 at nprobe 4/nlist 64, 0.9 at 32, 1.0 at 64) because
    * with no cluster structure a true neighbour's bucket is nearly
    * uniform over all buckets. If a corpus profile shows weak
    * clustering, budget nprobe ≈ recall·nlist — at which point the
    * probe reads most of the corpus and brute force ([[cosineTopK]])
    * is the honest plan.
    */
  def ivfTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      k: Int,
      nprobe: Int,
      excludeId: Option[Long] = None
  ): DataFrame = {
    require(k > 0, "ivfTopKIndexed: k must be positive")
    indexedProbeCandidates(
      spark, indexPath, idCol, vecCol, query, nprobe, excludeId, "ivfTopKIndexed")
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** FILTERED ANN against the persisted index — "nearest neighbours
    * WHERE label = x", the hybrid vector-plus-metadata query every
    * production vector store serves. `predicate` references metadata
    * columns stored in the postings at [[ivfBuild]] time (`metaCols`),
    * so it is applied ON the candidate scan — pushed to parquet
    * (PushedFilters + row-group stats) alongside the centroid-bucket
    * pruning, pruning IO rather than post-filtering a wider read. The
    * filter runs BEFORE the top-k cut, so matching neighbours are never
    * crowded out of k by filtered-out ones; recall stays bounded by
    * `nprobe` exactly as in [[ivfTopKIndexed]].
    */
  def ivfTopKIndexedFiltered(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      k: Int,
      nprobe: Int,
      predicate: Column,
      excludeId: Option[Long] = None
  ): DataFrame = {
    require(k > 0, "ivfTopKIndexedFiltered: k must be positive")
    indexedProbeCandidates(
      spark, indexPath, idCol, vecCol, query, nprobe, excludeId,
      "ivfTopKIndexedFiltered", Some(predicate))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF RADIUS search against the persisted index: every indexed
    * neighbour with `cos_sim >= minSim` among the probed buckets — the
    * "give me everything this close" probe (near-dup candidate pull,
    * contamination sweep around a benchmark embedding) where top-k's
    * fixed cutoff is the wrong contract: k too small silently drops true
    * matches, k too large pads with noise.
    *
    * Same probe physics as [[ivfTopKIndexed]] (snapshot, centroid
    * ranking, footer-stats file selection, row-group pruning) — only the
    * final predicate differs: a `cos_sim >= minSim` filter that Spark
    * pushes into the candidate scan, instead of a global sort+limit. At
    * 100 TB this shape matters twice over: the result needs no
    * TakeOrdered over anything, and the output size is driven by the
    * data's true neighbourhood density, not a guessed k. Like every IVF
    * probe, recall is bounded by `nprobe` — a true neighbour whose
    * bucket was not probed is not returned.
    */
  def ivfRadiusIndexed(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      minSim: Double,
      nprobe: Int,
      excludeId: Option[Long] = None
  ): DataFrame = {
    require(minSim >= -1.0 && minSim <= 1.0, "ivfRadiusIndexed: minSim must be in [-1, 1]")
    indexedProbeCandidates(
      spark, indexPath, idCol, vecCol, query, nprobe, excludeId, "ivfRadiusIndexed")
      .where(col("cos_sim") >= minSim)
      .orderBy(col("cos_sim").desc, col(idCol))
  }

  /** Shared single-query probe path of [[ivfTopKIndexed]] /
    * [[ivfRadiusIndexed]]: snapshot the index, validate the one-row
    * ARRAY<FLOAT> query contract, rank stored centroids, footer-select
    * only the probed buckets' postings files, and return every candidate
    * exact-cosine-scored as `(idCol, cos_sim)` — unsorted, uncapped; the
    * callers apply their own final predicate.
    */
  private def indexedProbeCandidates(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      nprobe: Int,
      excludeId: Option[Long],
      caller: String,
      metaFilter: Option[Column] = None
  ): DataFrame = {
    require(nprobe > 0, s"$caller: nprobe must be positive")
    require(query.columns.length == 1, s"$caller: query must be a one-row, one-column DataFrame")
    query.schema.fields(0).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => ()
      case other =>
        throw new IllegalArgumentException(
          s"$caller: query column must be ARRAY<FLOAT>, got ${other.simpleString}")
    }
    val index = FileMerge.snapshot(spark, indexPath)
    val post = postingsOf(spark, index)
    // enforce the ONE-row contract: a multi-row query would silently
    // pair every candidate with every query vector and return a result
    // of mixed similarities (possibly the same id twice)
    val qRows = query.limit(2).collect()
    require(qRows.length == 1,
      s"$caller: query must have exactly one row, got ${qRows.length}")
    if (qRows.head.isNullAt(0))
      // a NULL query vector has no defined neighbours: schema-stable
      // empty result, matching the cosine-NULL-filter behaviour of the
      // non-indexed paths
      return FileMerge.readTable(spark, post)
        .where(lit(false))
        .select(col(idCol), lit(null).cast("double").as("cos_sim"))
    val qArr = qRows.head.getSeq[Float](0).toArray
    val probed = subTable(spark, index, "centroids")
      .select(col("centroid_id"), vec_cosine_to(col("centroid"), qArr).as("_cs"))
      .where(col("_cs").isNotNull)
      .orderBy(col("_cs").desc, col("centroid_id"))
      .limit(nprobe)
      .select("centroid_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    val cand = probedPostings(spark, post, probed)
    val excluded = excludeId match {
      case Some(id) => cand.where(col(idCol) =!= param(id))
      case None     => cand
    }
    // metadata predicate directly on the scanned postings columns —
    // pushed to parquet next to the bucket predicate
    val filtered = metaFilter.fold(excluded)(excluded.where)
    filtered
      .where(isIn(col("centroid_id"), probed))
      .select(col(idCol), round(vec_cosine_to(col(vecCol), qArr), 6).as("cos_sim"))
      .where(col("cos_sim").isNotNull)
  }

  /** BATCH ANN against the persisted index: top-k neighbours for EVERY
    * query row in one pass — the nearest-neighbour JOIN a training
    * pipeline actually runs (corpus dedup, retrieval eval, hard-negative
    * mining), not Q sequential [[ivfTopKIndexed]] probes. Output:
    * (query_id, <idCol>, cos_sim), up to k rows per query.
    *
    * Shape at scale:
    *   1. per-query probe ranking: queries × the (tiny, broadcast)
    *      centroid table, top-`nprobe` buckets per query via a windowed
    *      rank — a narrow (query_id, centroid_id) probe table, no driver
    *      loop over queries;
    *   2. file selection: the UNION of probed bucket ids (bounded by the
    *      centroid count, collected once) footer-selects postings files
    *      — IO stays proportional to the probed buckets, shared across
    *      the whole query batch;
    *   3. candidates: selected postings equi-join the probe table on
    *      centroid_id (each query meets only its own buckets' vectors),
    *      join back the query vector on query id, exact cosine, then a
    *      per-query rank-≤-k window (WindowGroupLimit pushes the limit
    *      into the per-partition sort).
    *
    * The projected query set is `localCheckpoint`ed: it feeds BOTH the
    * bucket-union collect and the candidate join, and a re-rolling
    * nondeterministic source could otherwise probe buckets whose files
    * were never selected — silently missing neighbours.
    */
  def ivfTopKIndexedBatch(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      nprobe: Int,
      excludeSelf: Boolean = false
  ): DataFrame = {
    require(k > 0, "ivfTopKIndexedBatch: k must be positive")
    val kept = indexedBatchCandidates(
      spark, indexPath, idCol, vecCol, queries, qIdCol, qVecCol, nprobe, excludeSelf)
    val topk = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col(idCol))
    kept
      .withColumn("_rk", row_number().over(topk))
      .where(col("_rk") <= k)
      .drop("_rk")
      .orderBy(col("query_id"), col("cos_sim").desc, col(idCol))
  }

  /** BATCH RADIUS search against the persisted index: every indexed
    * neighbour with `cos_sim >= minSim` for EVERY query row in one pass —
    * the radius analogue of [[ivfTopKIndexedBatch]], and the shape a
    * dedup or contamination sweep actually runs (a query SET swept
    * against the corpus, "everything this close", not a fixed k). Same
    * three-stage batch probe machinery (windowed per-query bucket
    * ranking, one bucket-union file selection shared across the batch,
    * candidate equi-join on centroid_id); the final predicate is a plain
    * `cos_sim >= minSim` filter Spark pushes into the candidate scan —
    * no per-query window at all, so output size is driven by true
    * neighbourhood density. Like every IVF probe, recall is bounded by
    * `nprobe`. Output: (query_id, <idCol>, cos_sim).
    */
  def ivfRadiusIndexedBatch(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      minSim: Double,
      nprobe: Int,
      excludeSelf: Boolean = false
  ): DataFrame = {
    require(minSim >= -1.0 && minSim <= 1.0,
      "ivfRadiusIndexedBatch: minSim must be in [-1, 1]")
    indexedBatchCandidates(
      spark, indexPath, idCol, vecCol, queries, qIdCol, qVecCol, nprobe, excludeSelf)
      .where(col("cos_sim") >= minSim)
      .orderBy(col("query_id"), col("cos_sim").desc, col(idCol))
  }

  /** Shared batch probe path of [[ivfTopKIndexedBatch]] /
    * [[ivfRadiusIndexedBatch]]: snapshot the index, rank buckets per query,
    * footer-select the batch's probed-bucket union, equi-join candidates
    * to their queries, exact cosine — unsorted, uncapped; the callers
    * apply their own final predicate (top-k window vs radius filter).
    */
  private def indexedBatchCandidates(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      nprobe: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    require(nprobe > 0, "indexed batch probe: nprobe must be positive")
    val index = FileMerge.snapshot(spark, indexPath)
    val post = postingsOf(spark, index)
    val q = Checkpoints.checkpoint(
      queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("_qvec")))
    val cents = broadcast(subTable(spark, index, "centroids"))
    val probeRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("_pcs").desc, col("centroid_id"))
    val probeTable = q
      .crossJoin(cents)
      .select(
        col("query_id"), col("centroid_id"),
        cosine(col("_qvec"), col("centroid")).as("_pcs"))
      .where(col("_pcs").isNotNull)
      .withColumn("_pr", row_number().over(probeRank))
      .where(col("_pr") <= nprobe)
      .select("query_id", "centroid_id")
    // bounded collect: one row per PROBED BUCKET (≤ centroid count),
    // never per query or per row
    val probedIds = probeTable
      .select("centroid_id").distinct().collect().map(_.getLong(0)).sorted
    val scored = probedPostings(spark, post, probedIds)
      .join(probeTable, "centroid_id")
      .join(q, "query_id")
      .select(
        col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("_qvec")), 6).as("cos_sim"))
      .where(col("cos_sim").isNotNull)
    if (excludeSelf) scored.where(col(idCol) =!= col("query_id")) else scored
  }

  // ---------------------------------------------------------------------
  // k-means centroid training (Lloyd's algorithm, cosine assignment) —
  // trains the coarse quantizer [[ivfBuild]] consumes instead of taking
  // centroids as a fixture input.
  // ---------------------------------------------------------------------

  /** One Lloyd update round as a pure DataFrame (no driver collection):
    * assign every vector to its nearest centroid by cosine
    * ([[ivfAssign]] semantics), then recompute each centroid as the
    * element-wise MEAN of its assigned vectors, in double precision.
    * Returns (centroid_id, n_assigned, centroid ARRAY<DOUBLE>) — empty
    * clusters simply emit no row. The per-dimension shuffle rows are
    * (cid, pos, x) triples, the same volume as shuffling the vectors
    * themselves; the final assembly sorts each centroid's dimension
    * means back into an array with a size-`dim` in-group sort.
    */
  def kmeansUpdate(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centIdCol: String,
      centVecCol: String
  ): DataFrame = {
    val assign = ivfAssign(emb, idCol, vecCol, centroids, centIdCol, centVecCol)
    emb
      .select(col(idCol), col(vecCol))
      .join(assign, idCol)
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "_x")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(avg(col("_x").cast("double")).as("_m"), count(lit(1)).as("_n"))
      .groupBy(col("centroid_id"))
      .agg(
        max(col("_n")).as("n_assigned"),
        transform(
          array_sort(collect_list(struct(col("pos"), col("_m")))),
          s => s.getField("_m")
        ).as("centroid"))
  }

  final case class KMeansResult(centroids: DataFrame, iterations: Int, converged: Boolean)

  /** Strictly-positive uniform in (0, 1) derived from a CONTENT hash of
    * the vector plus a round number — the deterministic stand-in for the
    * RNG draw in k-means++ sampling. Content-keyed (not id- or
    * partition-keyed) so it is identical across engines, runs, and
    * RETRIED TASKS — an rand()-based draw re-rolls under partial stage
    * recompute, the same trap [[Curation.mixtureSample]] documents.
    */
  private def hashUniform(vec: Column, round: Int): Column =
    (shiftrightunsigned(xxhash64(vec, lit(round)), 11).cast("double") + 1.0) / 9007199254740993.0

  /** Deterministic k-means++-style SEEDING, k-means||-shaped for scale
    * (Bahmani et al.: O(rounds) passes, not k sequential draws — exact
    * sequential k-means++ would be k tiny jobs, untenable at k=1024):
    *
    *  1. seed 0 = the minimum-content-hash non-degenerate vector — a
    *     deterministic uniform draw that, unlike the previous
    *     lowest-`id` rule, cannot correlate with ingestion order;
    *  2. `rounds` passes, each drawing `2k` new candidates with
    *     probability ∝ D²(x) (cosine distance to the nearest candidate
    *     so far) via an EXPONENTIAL RACE — key = -ln(u)/D²(x) with the
    *     content-hash uniform `u`: the winner distribution is exactly
    *     the weighted draw, yet fully deterministic and retry-safe.
    *     D² is maintained INCREMENTALLY per vector against only each
    *     round's new candidates (localCheckpoint-truncated, the
    *     [[Dedup.connectedComponents]] discipline) — never recomputed
    *     against the whole candidate set;
    *  3. the ≤ 1+2k·rounds candidates (driver-sized by construction)
    *     are weighted by how many corpus vectors each attracts (one
    *     [[ivfAssign]] pass) and reduced to k seeds by driver-local
    *     WEIGHTED k-means++, hash-raced the same way.
    *
    * Duplicate vectors of an already-chosen candidate carry D² = 0 and
    * can never be drawn again. May return fewer than k seeds when the
    * data has fewer than k distinct non-degenerate directions.
    */
  def kmeansppSeeds(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 5
  ): Array[Array[Float]] = {
    require(k > 0 && rounds > 0)
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb
      .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
      .where(norm2(col("_v")) > 0)
    val first = vecs
      .orderBy(xxhash64(col("_v")).asc, col("_id").asc)
      .limit(1)
      .select("_v")
      .as[Array[Float]]
      .collect()
    if (first.isEmpty) return Array.empty
    val candidates = scala.collection.mutable.ArrayBuffer[Array[Float]](first(0))
    var state = Checkpoints.checkpoint(vecs
      .withColumn("_minD", greatest(lit(0.0), lit(1.0) - cosine(col("_v"), typedLit(first(0))))))
    for (r <- 1 to rounds) {
      val drawn = state
        .where(col("_minD") > 0)
        .orderBy(
          (-log(hashUniform(col("_v"), r)) / pow(col("_minD"), 2)).asc,
          col("_id").asc)
        .limit(2 * k)
        .select("_v")
        .as[Array[Float]]
        .collect()
      if (drawn.nonEmpty) {
        candidates ++= drawn
        val newC = broadcast(
          spark.createDataset(drawn.toIndexedSeq).toDF("_cv"))
        // one pass against only this round's candidates: D² never
        // degrades into an O(|C|) rescan per round
        val best = state
          .select(col("_id"), col("_v"))
          .crossJoin(newC)
          .groupBy(col("_id"))
          .agg(max(cosine(col("_v"), col("_cv"))).as("_bestNew"))
        state = Checkpoints.checkpoint(state
          .join(best, "_id")
          .select(
            col("_id"),
            col("_v"),
            greatest(lit(0.0), least(col("_minD"), lit(1.0) - col("_bestNew"))).as("_minD")))
      }
    }
    // weight candidates by attracted corpus mass, then reduce on the
    // driver — the candidate set is bounded by 1+2k·rounds regardless of
    // corpus size
    val candDf = spark
      .createDataset(candidates.toIndexedSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("_cid", "_cvec")
    val weights = ivfAssign(state.select("_id", "_v"), "_id", "_v", candDf, "_cid", "_cvec")
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("w"))
      .as[(Long, Long)]
      .collect()
      .toMap
    localWeightedKmeanspp(
      candidates.toArray.zipWithIndex.map { case (v, i) => (v, weights.getOrElse(i.toLong, 0L)) },
      k)
  }

  /** Driver-local weighted k-means++ over the k-means|| candidate set
    * (≤ 1+2k·rounds vectors — never data-sized). Deterministic via the
    * same content-hash exponential race as the distributed pass, with
    * MurmurHash3 (stable across JVMs) as the hash.
    */
  private def localWeightedKmeanspp(
      cands: Array[(Array[Float], Long)],
      k: Int
  ): Array[Array[Float]] = {
    val live = cands
    if (live.length <= k) return live.map(_._1)
    def u(v: Array[Float], round: Int): Double = {
      val bits = v.map(java.lang.Float.floatToIntBits)
      val h = scala.util.hashing.MurmurHash3.arrayHash(bits, round)
      val x = (h & 0x7fffffff).toDouble / Int.MaxValue.toDouble
      math.min(math.max(x, 1e-12), 1.0 - 1e-12)
    }
    def w(c: (Array[Float], Long)): Double = math.max(c._2.toDouble, 1e-9)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val minD = Array.fill(live.length)(1.0)
    var pick = live.indices.minBy(i => -math.log(u(live(i)._1, 0)) / w(live(i)))
    chosen += live(pick)._1
    for (r <- 1 until k) {
      live.indices.foreach { i =>
        minD(i) = math.min(minD(i), math.max(0.0, 1.0 - localCosine(live(i)._1, chosen.last)))
      }
      val open = live.indices.filter(i => minD(i) > 0)
      if (open.nonEmpty) {
        pick = open.minBy(i => -math.log(u(live(i)._1, r)) / (w(live(i)) * minD(i) * minD(i)))
        chosen += live(pick)._1
      }
    }
    chosen.toArray
  }

  /** Lloyd's k-means over an embedding column: deterministic
    * k-means++-style initialization by default ([[kmeansppSeeds]] —
    * content-hash-raced distance sampling; `init = "lowest-id"` keeps
    * the legacy k-lowest-id seeding, which degrades whenever ids
    * correlate with content, e.g. ingestion order), then up to `maxIter`
    * rounds of assign + mean-update, stopping when no centroid moves by
    * more than `tol` in cosine distance.
    *
    * Each round is ONE distributed job ([[kmeansUpdate]]); the centroids
    * themselves are k×dim — driver-sized by definition — so they are
    * collected and re-broadcast as literals every round, which also
    * resets the plan lineage for free (no checkpoint discipline needed,
    * unlike [[Dedup.connectedComponents]] whose per-round state is
    * data-sized). This is the same structure MLlib's KMeans uses.
    * Returns the trained centroids as (centroid_id BIGINT, centroid
    * ARRAY<FLOAT>) — directly consumable by [[ivfBuild]] / [[ivfTopK]].
    */
  def kmeansTrain(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxIter: Int = 20,
      tol: Double = 1e-4,
      init: String = "kmeans++"
  ): KMeansResult = {
    require(k > 0 && maxIter > 0)
    require(init == "kmeans++" || init == "lowest-id",
      s"kmeansTrain: unknown init '$init' (expected kmeans++ or lowest-id)")
    val spark = emb.sparkSession
    import spark.implicits._
    var current: Array[(Long, Array[Float])] =
      if (init == "kmeans++")
        kmeansppSeeds(emb, idCol, vecCol, k).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      else
        emb
          .select(col(idCol).cast("long"), col(vecCol))
          .where(norm2(col(vecCol)) > 0) // a zero vector can never attract assignments
          .orderBy(col(idCol).cast("long"))
          .limit(k)
          .as[(Long, Array[Float])]
          .collect()
          .zipWithIndex
          .map { case ((_, v), i) => (i.toLong, v) }
    require(current.nonEmpty, "kmeansTrain: no non-degenerate vectors to initialize from")
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val centDf = spark.createDataset(current.toIndexedSeq).toDF("centroid_id", "centroid")
      val updated = kmeansUpdate(emb, idCol, vecCol, centDf, "centroid_id", "centroid")
        .select(col("centroid_id"), col("centroid"))
        .as[(Long, Array[Double])]
        .collect()
        .map { case (cid, v) => cid -> v.map(_.toFloat) }
        .toMap
      val next = current.map { case (cid, oldV) =>
        (cid, updated.getOrElse(cid, oldV)) // empty cluster keeps its centroid
      }
      val shift = current
        .zip(next)
        .map { case ((_, a), (_, b)) => 1.0 - localCosine(a, b) }
        .max
      current = next
      iter += 1
      converged = shift <= tol
    }
    val centroids =
      spark.createDataset(current.toIndexedSeq).toDF("centroid_id", "centroid")
    KMeansResult(centroids, iter, converged)
  }

  /** Driver-side cosine for the k×k convergence check (k centroids, not
    * data — never used on a distributed path).
    */
  private def localCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Embedding-cosine near-duplicate pairs within coarse partitions
    * (IVF-style): pairs are only compared when they share `blockCol` (e.g.
    * a cluster/label id), making the pair space linear-ish in corpus size.
    * Norms are precomputed once per vector before the self-join — the
    * per-pair work is a single dot product.
    *
    * TRIANGLE-JOIN DECOMPOSITION (`subBlocks` = S): a plain self-join on
    * `blockCol` concentrates each block's ENTIRE quadratic pair space in
    * whichever single task owns that join key — with a handful of large
    * blocks, a 1000-core cluster runs on #blocks cores. Instead, each row
    * is hashed into one of S sub-blocks (content-addressed `xxhash64(id)`,
    * so retry-safe), the left side is replicated to sub-block pairs
    * `(own, v) : v ≥ own` and the right side to `(u, own) : u ≤ own`, and
    * the join key becomes `(blk, u, v)` — every unordered pair meets in
    * EXACTLY ONE of the S(S+1)/2 grid cells (once for u < v by
    * construction of the replication ranges; the u = v diagonal filters
    * `a.id < b.id` as the plain join would). Input volume grows by
    * (S+1)/2 per side — LINEAR in the corpus — while the quadratic work
    * fans out over S(S+1)/2 tasks per block. `subBlocks = 1` degenerates
    * to the plain blocked self-join. Pair ids are normalized with
    * least/greatest (a pair's left/right roles now depend on sub-block
    * ids), so output is identical for every S: (id_a < id_b, cos_sim).
    */
  def blockedNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      subBlocks: Int = 8
  ): DataFrame = {
    require(subBlocks >= 1, "blockedNearDupPairs: subBlocks must be >= 1")
    val n = emb.select(
      col(idCol).as("id"),
      col(blockCol).as("blk"),
      col(vecCol).as("vec"),
      sqrt(norm2(col(vecCol))).as("nrm"),
      pmod(xxhash64(col(idCol)), lit(subBlocks)).cast("int").as("_sb")
    )
    val a = n.withColumn("_v", explode(sequence(col("_sb"), lit(subBlocks - 1)))).as("a")
    val b = n.withColumn("_u", explode(sequence(lit(0), col("_sb")))).as("b")
    a.join(b,
        col("a.blk") === col("b.blk") &&
          col("a._sb") === col("b._u") && col("a._v") === col("b._sb") &&
          // key equality already gives a._sb ≤ b._sb; only the diagonal
          // (equal sub-blocks, where both orientations meet) needs the
          // id tie-break
          (col("a._sb") < col("b._sb") || col("a.id") < col("b.id")))
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        // zero-norm vectors → NULL (ANSI would throw on the division);
        // the threshold filter below then drops them
        when(col("a.nrm") * col("b.nrm") === 0, lit(null).cast("double"))
          .otherwise(dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .as("cs")
      )
      .where(col("cs") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cs"), 6).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-duplicate pairs at `threshold`, LSH-blocked:
    * pairs are only compared when they share a bucket in at least one
    * table, then exact-cosine verified. Linear-ish in corpus size vs the
    * quadratic naive cross join.
    */
  def embeddingNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 8,
      tables: Int = 4,
      dim: Int = 64
  ): DataFrame = {
    val bucketCols = (0 until tables).map { t =>
      struct(lit(t).as("t"), hyperplaneBucket(col(vecCol), planesFor(t, numPlanes, dim)).as("bkt"))
    }
    val banded = emb
      .select(col(idCol), col(vecCol), explode(array(bucketCols: _*)).as("tb"))
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))

    val l = banded.as("l")
    val r = banded.as("r")
    // cosine is computed INSIDE the join stage (at most `tables` times
    // per colliding pair) and the threshold filter runs BEFORE the
    // pair-dedup shuffle: the dedup exchange then carries 24 bytes per
    // above-threshold pair instead of 2×dim float vectors per candidate
    // pair — at corpus scale the exchange, not the dot product, is the
    // bottleneck. cos_sim is deterministic per (id_a,id_b), so deduping
    // after the filter selects the same pairs and values as before.
    l.join(r, col("l.t") === col("r.t") && col("l.bkt") === col("r.bkt") && col("l.id") < col("r.id"))
      .select(
        col("l.id").as("id_a"),
        col("r.id").as("id_b"),
        round(cosine(col("l.vec"), col("r.vec")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup (Abbas et al. 2023): SEMANTIC dedup of an embedding corpus
    * by clustering first and pruning near-identical pairs WITHIN clusters
    * only — the observation that semantic duplicates land in the same
    * cluster, so the quadratic pair space shrinks from corpus² to
    * Σ cluster². Composition of the existing primitives: [[ivfAssign]]
    * (broadcast-centroid argmax, a pure scan-side pass) blocks the
    * corpus, [[blockedNearDupPairs]] finds within-cluster pairs at
    * `threshold`, and the keep election drops every vector with a
    * LOWER-id partner at or above threshold (the deterministic stand-in
    * for the paper's keep-one-per-ε-ball — order-free, retry-safe, no
    * iterative closure needed because dropping b for pair (a,b) with
    * a < b always leaves each ball's minimum id standing).
    *
    * Output: one row per vector — `(idCol, centroid_id, kept)`.
    *
    * Scale shape: centroids are k×dim and broadcast; assignment touches
    * each vector once; the self-join is per-cluster (size k so clusters
    * fit an executor — the paper's own knob); the drop set re-joins by a
    * shuffle equi-join on the id. No driver-side data traffic.
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centIdCol: String,
      centVecCol: String,
      threshold: Double
  ): DataFrame = {
    val asg = ivfAssign(emb, idCol, vecCol, centroids, centIdCol, centVecCol)
    val withBlk = emb
      .join(asg, idCol)
      .select(col(idCol), col(vecCol), col("centroid_id"))
    val dropped = blockedNearDupPairs(withBlk, idCol, vecCol, "centroid_id", threshold)
      .select(col("id_b").as("_dropId"))
      .distinct()
    withBlk
      .join(dropped, col(idCol) === col("_dropId"), "left")
      .select(
        col(idCol),
        col("centroid_id").cast("long").as("centroid_id"),
        col("_dropId").isNull.as("kept"))
      .orderBy(idCol)
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid, "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011) — the memory leg of the
  // ANN family: vectors compressed to m byte-ish codes, distances
  // estimated from m table lookups (ADC). IVF ([[ivfBuild]]) prunes WHAT
  // to scan; PQ compresses what each scanned row COSTS — at 10⁹ vectors
  // a float corpus is TBs while PQ codes are GBs, which is what lets the
  // candidate scan stay in memory on a 1000-executor cluster.
  // ---------------------------------------------------------------------

  /** Squared L2 between two double arrays — deterministic left-fold, the
    * [[dot]] discipline (PQ's native metric is L2, unlike the cosine
    * faces).
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, v) => acc + v)

  /** Dot product / squared norm over ARRAY<DOUBLE> columns (codebook
    * vectors). [[dot]]/[[norm2]] are float-typed codegen expressions
    * (`getFloat` element reads — garbage on a double array), so the
    * DOUBLE-array sites must use the HOF fold instead; they only ever
    * run on codebook-scale data, where interpreted lambdas cost
    * nothing.
    */
  private[graft] def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private[graft] def norm2D(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  /** Per-subspace codebooks: split every vector into `m` contiguous
    * subvectors and run `iters` Lloyd rounds of k-means (squared-L2
    * assignment, mean update) in EACH subspace — all subspaces train in
    * the same jobs with `sub` as a grouping key, so the pass count does
    * not grow with `m`. Determinism: seeds are the subvectors of the
    * `k` smallest ids (engine-replayable, no RNG), assignment breaks
    * ties on the lower centroid id, and the centroid STATE is quantized
    * to 6 decimals between rounds — the rounded table is the canonical
    * state both engines share, so iteration does not compound
    * floating-point drift (the integer-PageRank move, applied to
    * doubles). Empty clusters emit no row, the standard Lloyd behavior.
    *
    * Returns `(sub, cid, cvec ARRAY<DOUBLE>)`. Scale shape per round:
    * one broadcast of the m·k codebook, one partial-aggregable argmin,
    * one (sub, cid, pos)-grouped mean — never a per-vector window, and
    * `localCheckpoint` keeps the loop one round deep.
    */
  def pqBuild(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int = 2
  ): DataFrame = {
    require(m >= 1, s"pqBuild: m must be at least 1, got $m")
    require(k >= 2, s"pqBuild: k must be at least 2, got $k")
    require(iters >= 1, s"pqBuild: iters must be at least 1, got $iters")
    val spark = emb.sparkSession
    val dim = pqDim(emb, idCol, vecCol, "pqBuild")
    require(dim % m == 0, s"pqBuild: dim $dim not divisible into $m subspaces")
    val d = dim / m
    val subs = Checkpoints.checkpoint(subspaces(emb, idCol, vecCol, m, d))
    // seeds: the k smallest ids (driver-side: k values, metadata scale)
    import spark.implicits._
    val seedIds = subs.select(col("_vid")).distinct()
      .orderBy("_vid").limit(k).as[Long].collect()
    val seedMap = seedIds.sorted.zipWithIndex
      .map { case (id, i) => (id, i.toLong) }.toSeq.toDF("_vid", "cid")
    // The codebook is m·k rows — metadata scale BY CONTRACT (every ADC
    // probe already collects it). Like [[kmeansTrain]] (the MLlib
    // structure), each round's centroids are collected and re-broadcast
    // as a LOCAL relation: one aggregation job per round instead of a
    // join + checkpoint materialization, and the RETURNED codebook is
    // driver-local — downstream consumers (codebook writes, probe
    // distance-table collects, code-assign broadcasts) re-read it for
    // free instead of re-running the training aggregation per consumer.
    // Values are unchanged: the same distributed aggregation computes
    // each round; only where the m·k result lives differs.
    var cents = localized(subs
      .join(broadcast(seedMap), "_vid")
      .select(col("sub"), col("cid"), col("subvec").as("cvec")))
    for (_ <- 1 to iters) {
      val asg = pqAssign(subs, cents)
      cents = localized(subs
        .join(asg, Seq("sub", "_vid"))
        .select(col("sub"), col("cid"), posexplode(col("subvec")).as(Seq("pos", "_x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(round(avg(col("_x")), 6).as("_mn"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("_mn")))),
          s => s.getField("_mn")).as("cvec")))
    }
    cents
  }

  /** Collect a METADATA-SCALE frame (codebooks: m·k rows by contract)
    * into a driver-local relation with the identical schema: consumers
    * scan the local rows instead of re-running the producing plan, and
    * `collect()`/`head()` on it are job-free (LocalTableScan). An
    * aggregate over it still runs a job, so facts about the rows (a
    * stored codebook's `m`) come from the rows ([[StoredCodebook]]).
    */
  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** A persisted PQ codebook `(sub, cid, cvec)`, collected once: its
    * rows, the same rows as a driver-local relation ([[localized]]), its
    * subspace count `m` = max(sub)+1 and its code span `kMax` =
    * max(cid)+1, both taken from the rows without a job.
    */
  private final class StoredCodebook(val rows: IndexedSeq[Row], val local: DataFrame) {
    val m: Int = rows.map(_.getAs[Int]("sub")).max + 1
    val kMax: Long = rows.map(_.getAs[Long]("cid")).max + 1
  }

  /** The codebook that the index snapshot `index` resolves. */
  private def storedCodebook(spark: SparkSession, index: FileMerge.Snapshot): StoredCodebook = {
    val local = localized(subTable(spark, index, "codebook"))
    // job-free: a local relation
    val rows = scala.collection.immutable.ArraySeq.unsafeWrapArray(local.collect())
    require(rows.nonEmpty, s"empty PQ codebook in the index at ${index.path}")
    new StoredCodebook(rows, local)
  }

  /** PQ codes: each vector's per-subspace nearest-centroid ids under a
    * [[pqBuild]] codebook — `(idCol, sub, code)`, the compressed form a
    * PQ index persists (m small ints per vector instead of `dim`
    * floats).
    */
  def pqCodes(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: DataFrame,
      m: Int
  ): DataFrame = {
    val dim = pqDim(emb, idCol, vecCol, "pqCodes")
    require(dim % m == 0, s"pqCodes: dim $dim not divisible into $m subspaces")
    pqAssign(subspaces(emb, idCol, vecCol, m, dim / m), codebook)
      .select(col("_vid").as(idCol), col("sub"), col("cid").as("code"))
  }

  /** ADC top-k (asymmetric distance computation): the query stays a full
    * vector; every corpus vector is scored as the SUM of its m
    * subspace-centroid distances to the query — m lookups in an m·k
    * distance table instead of a `dim`-float scan. The table is
    * metadata-scale by construction, so it is computed once, collected,
    * and baked into a row-local CASE expression evaluated over each
    * row's code array in fixed subspace order — summation order is
    * engine-independent, no join at query time beyond the code scan.
    * Returns the `topK` (adc asc, id asc) rows as `(idCol, adc)`.
    */
  def pqAdcTopK(
      codes: DataFrame,
      idCol: String,
      codebook: DataFrame,
      query: DataFrame,
      queryVecCol: String,
      m: Int,
      topK: Int
  ): DataFrame = {
    require(topK >= 1, s"pqAdcTopK: topK must be at least 1, got $topK")
    // enforce the ONE-row query contract (the indexedProbeCandidates
    // move): a multi-row query would collapse under one _qid and the
    // distance-table map would keep an arbitrary row's distances
    val qRows = query.limit(2).collect()
    require(qRows.length == 1,
      s"pqAdcTopK: query must have exactly one row, got ${qRows.length}")
    val dim = query.select(size(col(queryVecCol))).head().getInt(0)
    require(dim % m == 0, s"pqAdcTopK: query dim $dim not divisible into $m subspaces")
    val dt = adcDistanceTable(codebook, query, queryVecCol, m, dim / m)
    // per-id code array ordered by sub, then a fixed-order row-local sum
    codeArrays(codes, idCol, m)
      .select(col(idCol), round(adcLookupSum(dt, m, col("_codes")), 6).as("adc"))
      .where(col("adc").isNotNull)
      .orderBy(col("adc"), col(idCol))
      .limit(topK)
  }

  /** The m·k (dot, ‖c_s‖²) PAIR table [[ivfPqTopK]] consumes — the ADC
    * DOT table (`dot(q_s, c_s)`, exact per subspace because PQ subspaces
    * are disjoint coordinate blocks, the FAISS IVFADC inner-product
    * variant's [[adcDistanceTable]] analogue) and the centroid NORM²
    * table (‖q(v)‖² = Σ_s ‖c_s‖² exactly), folded on the driver from the
    * codebook rows and the query vector `q` of dimension m·d. Each value
    * is [[dotD]]'s or [[norm2D]]'s left-to-right double fold over the
    * same float→double subvector [[subspaces]] slices (a codebook row
    * joins the query subvector of its `sub`), so it is bit-identical to
    * the Spark fold.
    */
  private[graft] def adcDotNorm2Table(
      codebook: Seq[Row], q: Array[Float], m: Int, d: Int): Map[(Int, Long), (Double, Double)] =
    codebook.filter(r => r.getAs[Int]("sub") >= 0 && r.getAs[Int]("sub") < m).map { r =>
      val (s, cid) = (r.getAs[Int]("sub"), r.getAs[Long]("cid"))
      val c = r.getSeq[Double](r.fieldIndex("cvec"))
      val qs = q.slice(s * d, s * d + d).map(_.toDouble)
      require(c.length == d,
        s"ivfPqTopK: codebook vector ($s, $cid) has ${c.length} dimensions, query subvectors $d")
      val dot = c.indices.foldLeft(0.0)((acc, i) => acc + c(i) * qs(i))
      (s, cid) -> ((dot, c.foldLeft(0.0)((acc, x) => acc + x * x)))
    }.toMap

  /** The m·k² symmetric (SDC) table [[semDedupCandidates]] consumes:
    * `dot(c_{s,x}, c_{s,y})` for every centroid pair (x, y) of each
    * subspace s, folded on the driver from the codebook rows with
    * [[dotD]]'s left-to-right double fold, so it is bit-identical to the
    * Spark fold over the codebook's self-join on `sub`.
    */
  private[graft] def sdcDotTable(codebook: Seq[Row]): Map[(Int, Long, Long), Double] =
    codebook.groupBy(_.getAs[Int]("sub")).toSeq.flatMap { case (s, rows) =>
      val vecs = rows.map(r => r.getAs[Long]("cid") -> r.getSeq[Double](r.fieldIndex("cvec")))
      for ((x, a) <- vecs; (y, b) <- vecs) yield {
        require(a.length == b.length,
          s"semDedupCandidates: codebook vectors ($s, $x) and ($s, $y) differ in dimension")
        (s, x, y) -> a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      }
    }.toMap

  /** Bounded collect of the m·k ADC distance table (the probedIds move):
    * squared L2 from each codebook centroid to the query's matching
    * subvector, keyed by (sub, cid).
    */
  private def adcDistanceTable(
      codebook: DataFrame,
      query: DataFrame,
      queryVecCol: String,
      m: Int,
      d: Int
  ): Map[(Int, Long), Double] = {
    val qsubs = subspaces(query.select(lit(0L).as("_qid"), col(queryVecCol)),
      "_qid", queryVecCol, m, d)
    codebook
      .join(broadcast(qsubs.select(col("sub"), col("subvec").as("_qv"))), "sub")
      .select(col("sub"), col("cid"), l2sq(col("cvec"), col("_qv")).as("_d"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
  }

  /** One-pass codes + per-vector QUANTIZATION STATS for the IVF-PQ
    * postings: the same per-subspace argmin [[pqCodes]] runs (identical
    * `(distance, cid)` tie-break — the extra struct field is a function
    * of cid and never consulted), but the pass also accumulates what
    * the pairwise semantic-dedup bound needs per vector:
    *
    *   codes  the sub-ordered code array ([[codeArrays]] semantics,
    *          complete rows only);
    *   nrm    ‖v‖ — the EXACT vector norm (same expression as
    *          [[blockedNearDupPairs]], so the indexed dedup's rescore
    *          divides by bit-identical denominators);
    *   qn     ‖q(v)‖ = √Σₛ‖c_s‖² — the reconstruction's norm
    *          (subspaces are disjoint coordinate blocks, so the square
    *          decomposes exactly);
    *   r      ‖v − q(v)‖ = √Σₛ l2sq(v_s, c_s) — the quantization
    *          residual, the per-vector error radius every
    *          Cauchy–Schwarz bound in [[semDedupCandidates]] leans on.
    *
    * Three 8-byte scalars per row — the postings stay codes-sized; no
    * vector is ever stored in the index.
    */
  private def codesWithStats(
      emb: DataFrame, idCol: String, vecCol: String, cb: DataFrame, m: Int): DataFrame = {
    val dim = pqDim(emb, idCol, vecCol, "codesWithStats")
    require(dim % m == 0, s"codesWithStats: dim $dim not divisible into $m subspaces")
    val cbn = cb.select(col("sub"), col("cid"), col("cvec"), norm2D(col("cvec")).as("_cn2"))
    val best = subspaces(emb, idCol, vecCol, m, dim / m)
      .join(broadcast(cbn), "sub")
      .select(col("sub"), col("_vid"),
        struct(l2sq(col("subvec"), col("cvec")).as("_d"), col("cid"),
          col("_cn2")).as("_s"))
      .where(col("_s._d").isNotNull)
      .groupBy(col("sub"), col("_vid"))
      .agg(min(col("_s")).as("_b"))
      .groupBy(col("_vid"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("sub"), col("_b.cid").as("code")))),
          s => s.getField("code")).as("codes"),
        sum(col("_b._d")).as("_r2"),
        sum(col("_b._cn2")).as("_qn2"))
      .where(size(col("codes")) === m)
    emb
      .select(col(idCol).cast("long").as("_vid"), sqrt(norm2(col(vecCol))).as("nrm"))
      .join(best, "_vid")
      .select(col("_vid").as(idCol), col("codes"), col("nrm"),
        sqrt(col("_qn2")).as("qn"), sqrt(col("_r2")).as("r"))
  }

  /** Per-id code ARRAY ordered by sub, complete rows only: a row whose
    * code count ≠ m (a codebook filtered to fewer subspaces, a vector
    * missing a subspace row) would silently shift codes onto the WRONG
    * subspace's distances under positional lookup — it is dropped
    * instead.
    */
  private def codeArrays(codes: DataFrame, idCol: String, m: Int): DataFrame =
    codes
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("_codes"))
      .where(size(col("_codes")) === m)

  /** O(1)-per-row lookup column over a per-subspace (cid → value)
    * table. The map-literal form (`element_at` on a map literal =
    * Catalyst `GetMapValue`) walks the key array LINEARLY — O(k) per
    * lookup, measured 13–14 s/query at (m16, k64) on the clustered
    * 500k corpus where (m8, k16) took 2.5 s. Codes are DENSE 0..k−1 by
    * [[pqBuild]]'s seeding, so positional indexing into an ARRAY
    * literal is an O(1) drop-in: `get` is 0-based and returns NULL for
    * a null/out-of-range index, and holes materialize as null
    * elements — exactly the map form's missing-key semantics, so the
    * downstream sentinel coalesce is unchanged. The explicit range
    * guard keeps a corrupted code (negative, or past Int range, which
    * ANSI `cast` would otherwise throw on) on the null path too.
    * Values, fold order, and null surface are identical, so every 6dp
    * adc is bit-identical to the map form's. Falls back to the map
    * literal when the stored cids are NOT dense (a hand-filtered
    * codebook) or the span exceeds [[DenseLookupMaxK]] — correctness
    * never depends on density; only the O(1) fast path does.
    *
    * `cell` is the Catalyst type of a table value ([[DistCell]] or
    * [[PairCell]]). The literal is built for that type directly, so no
    * probe pays `typedLit`'s runtime-reflection type inference; value
    * and type are what `typedLit` gives.
    */
  private[graft] def denseLookup(table: Map[Long, Any], cell: DataType, codeCol: Column): Column = {
    def literal(v: Any, t: DataType) =
      column(Literal(CatalystTypeConverters.createToCatalystConverter(t)(v), t))
    val kMax = table.keys.max
    if (table.keys.min >= 0L && kMax < DenseLookupMaxK &&
        kMax + 1 <= 2L * table.size) {
      val arr = (0L to kMax).map(table.get)
      when(codeCol >= 0L && codeCol <= kMax,
        get(literal(arr, ArrayType(cell, containsNull = true)), codeCol.cast("int")))
    } else {
      // a tuple value may be null, a primitive one never (typedLit's rule)
      element_at(literal(table,
        MapType(LongType, cell, valueContainsNull = cell.isInstanceOf[StructType])), codeCol)
    }
  }

  /** The [[denseLookup]] cell types: a `Double`, and a `(Double, Double)`
    * pair, typed as `typedLit` types them.
    */
  private[graft] val DistCell: DataType = DoubleType
  private[graft] val PairCell: DataType = StructType(Seq(
    StructField("_1", DoubleType, nullable = false), StructField("_2", DoubleType, nullable = false)))

  /** Densest-allowed lookup-array span: covers every codebook regime
    * the SDC face admits (m·k² ≤ 262144 ⇒ per-subspace pair-key span
    * ≤ 2¹⁸) and any sane per-subspace k; a sparser/larger table falls
    * back to the map literal.
    */
  private val DenseLookupMaxK = 1L << 18

  /** The row-local ADC sum: per subspace an O(1) dense-array lookup
    * (code → distance; missing code → NULL — see [[denseLookup]]),
    * summed left-associated in fixed subspace order —
    * engine-independent by construction.
    */
  private def adcLookupSum(
      dt: Map[(Int, Long), Double], m: Int, codesCol: Column): Column =
    (0 until m).map { s =>
      val sub = dt.collect { case ((`s`, cid), dist) => cid -> dist }
      if (sub.isEmpty) lit(null).cast("double")
      else denseLookup(sub, DistCell, codesCol.getItem(s))
    }.reduce(_ + _)

  // ---------------------------------------------------------------------
  // IVF × PQ — the reference architecture at 10⁹ vectors (FAISS's
  // IVFADC; Jégou et al. TPAMI 2011 §V): IVF prunes WHAT to scan (only
  // the probed buckets' postings files are read — the q76 footer
  // discipline), PQ compresses what each scanned candidate COSTS (m
  // small codes instead of dim floats — the postings table shrinks from
  // TBs to GBs, which is what keeps the candidate scan in memory on a
  // 1000-executor cluster). The probe is three stages, each bounded:
  // bucket ranking (centroid-table-scale), ADC over the probed buckets'
  // CODES (m map lookups per candidate, no vectors read), and an exact
  // cosine re-rank of only the ADC shortlist against the source-of-truth
  // vector table (shortlist-scale, the only stage that touches floats).
  // ---------------------------------------------------------------------

  private def codebookPath(indexPath: String): String = s"$indexPath/codebook"

  /** Build the persisted IVF-PQ index at `indexPath`:
    *
    *   postings/  (centroid_id, <id>, codes ARRAY<BIGINT>,
    *              nrm, qn, r)  — coarse bucket + PQ codes per vector,
    *              range-clustered on centroid_id ([[ivfBuild]]'s
    *              footer-pruning layout), plus the three
    *              [[codesWithStats]] scalars (exact norm,
    *              reconstruction norm, quantization residual) that let
    *              [[semDedupCandidates]] run the pairwise scan without
    *              touching the lake;
    *   centroids/ the coarse quantizer ([[ivfBuild]]'s table);
    *   codebook/  the PQ codebook ([[pqBuild]] output, m·k rows).
    *
    * All three are staged at `<indexPath>_fmerge` and replace their live
    * namesakes in ONE [[FileMerge]] commit — codes are only meaningful
    * against the codebook that trained them, so a torn state where new
    * codes pair with an old codebook must be unrepresentable (the
    * [[ivfBuild]] whole-index argument, now with three tables).
    *
    * `trainOn` decouples the codebook's TRAINING SAMPLE from the coded
    * corpus (default: the corpus itself). At 10⁹ vectors nobody runs
    * Lloyd rounds over everything — the codebook trains on a designated
    * sample and the corpus is merely CODED under it, which is also what
    * makes an incremental index well-defined: [[ivfPqAppend]] codes
    * later batches under this stored codebook, so the training set must
    * be a deliberate choice, not an accident of which half arrived
    * first.
    */
  def ivfPqBuild(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centIdCol: String,
      centVecCol: String,
      m: Int,
      k: Int,
      indexPath: String,
      iters: Int = 2,
      files: Int = 0,
      trainOn: Option[DataFrame] = None
  ): Unit = {
    val nFiles =
      if (files > 0) files else math.max(1, spark.sparkContext.defaultParallelism)
    val cb = pqBuild(trainOn.getOrElse(emb), idCol, vecCol, m, k, iters)
    val codeArr = codesWithStats(emb, idCol, vecCol, cb, m)
    val postings = ivfAssign(emb, idCol, vecCol, centroids, centIdCol, centVecCol)
      .join(codeArr, idCol)
      .select(col("centroid_id").cast("long").as("centroid_id"), col(idCol),
        col("codes"), col("nrm"), col("qn"), col("r"))
    FileMerge.recoverFileMerge(spark, indexPath)
    val staging = FileMerge.stagingPath(indexPath)
    // three independent staged tables, three concurrent writes (the
    // ivfBuild move): the metadata-scale centroid/codebook writes ride
    // the postings write's tail instead of serializing after it
    Concurrently { fork =>
      val cents = fork(centroids
        .select(col(centIdCol).cast("long").as("centroid_id"), col(centVecCol).as("centroid"))
        .write.mode("overwrite").parquet(centroidsPath(staging)))
      val codebook = fork(cb.write.mode("overwrite").parquet(codebookPath(staging)))
      Scale.writeRangeClustered(postings, postingsPath(staging), "centroid_id", nFiles)
      cents()
      codebook()
    }
    FileMerge.commitRewrite(spark, indexPath)
  }

  /** Incrementally extend the persisted IVF-PQ index with a batch of
    * NEW vectors — [[ivfAppend]]'s maintenance contract for the
    * composed index: the batch is coarse-assigned under the STORED
    * centroids and coded under the STORED codebook (codes are only
    * meaningful against the codebook that trained them, so an append
    * NEVER retrains — rebuild via [[ivfPqBuild]] when drift
    * accumulates), then appended crash-safely via
    * [[FileMerge.appendStaged]] (range-clustered on centroid_id within
    * the batch; run [[ivfCompact]] between probe epochs to restore
    * disjoint per-file ranges). Caller contract: the batch's ids are
    * new to the index. Pass `commitId` for exactly-once retries — a
    * replayed id hits its marker and writes nothing.
    *
    * @return true if the batch was appended, false if `commitId` was
    *         already committed
    */
  def ivfPqAppend(
      spark: SparkSession,
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      files: Int = 0,
      commitId: Option[String] = None
  ): Boolean = {
    FileMerge.recoverFileMerge(spark, indexPath)
    val index = FileMerge.snapshot(spark, indexPath)
    val cents = subTable(spark, index, "centroids")
    // m·k metadata scale: collected once, so m costs no job and the
    // coding join broadcasts local rows
    val cb = storedCodebook(spark, index)
    // pin the batch: it feeds the coding AND assignment joins and the
    // clustered write's range sampling (the ivfAppend argument)
    Checkpoints.scoped {
      val batch = Checkpoints.cache(newEmb.select(col(idCol), col(vecCol)))
      val codeArr = codesWithStats(batch, idCol, vecCol, cb.local, cb.m)
      val postings = ivfAssign(batch, idCol, vecCol, cents, "centroid_id", "centroid")
        .join(codeArr, idCol)
        .select(col("centroid_id").cast("long").as("centroid_id"), col(idCol),
          col("codes"), col("nrm"), col("qn"), col("r"))
      FileMerge.appendStaged(
        spark, postings, postingsPath(indexPath), "centroid_id", files, commitId)
    }
  }

  /** ANN against the persisted IVF-PQ index: rank the stored coarse
    * centroids against the query, footer-select only the `nprobe`
    * probed buckets' postings files ([[ivfTopKIndexed]]'s IO bound),
    * ADC-score every candidate's CODE ARRAY (m map-literal lookups, no
    * vector reads), keep the `shortlist` best, and exact-cosine
    * re-rank ONLY the shortlist against `rerank` — the source-of-truth
    * `(idCol, rerankVecCol)` table (the lake, not the index: full
    * vectors stay out of the postings entirely). Returns `topK` rows
    * `(idCol, adc, cos_sim)` by (cos_sim desc, id).
    *
    * The ADC ranking is QUANTIZED COSINE, the answer's own metric: the
    * candidate score is `cos(q, q(v)) = dot(q, q(v)) / (‖q‖·‖q(v)‖)`
    * where `dot(q, q(v)) = Σ_s dot(q_s, c_s)` and `‖q(v)‖² = Σ_s
    * ‖c_s‖²` are BOTH exact over the reconstruction (subspaces are
    * disjoint coordinate blocks) and both pure functions of the CODES.
    * Ranking quantized L2 (the classic FAISS IVFADC score) while the
    * answer is cosine over unnormalized vectors mis-orders candidates
    * whose norms differ: on norm-concentrated corpora the two
    * orderings coincide, on a norm-varying corpus L2 caps recall below
    * 0.9 even re-ranking the whole probed population (RECALL_r17.json).
    * The denominator choice is measured-load-bearing: dividing by the
    * exact stored ‖v‖ instead collapses clustered small-shortlist
    * recall to ~topK/cell-size (0.04–0.05) — within a code cell the
    * numerator is constant, so 1/‖v‖, pure norm noise, does the
    * ranking; ‖q(v)‖ is cell-constant, keeping whole cells tied for
    * the rank cut. Shortlist keeps the LARGEST scores.
    *
    * Recall is bounded twice, both knobs explicit: by `nprobe` (a true
    * neighbour in an unprobed bucket is never seen — the IVF contract)
    * and by `shortlist` (a true neighbour ADC-ranked past the shortlist
    * is never re-ranked — the PQ contract; grow it until ADC's
    * quantization error stops mattering, typically a few × topK).
    *
    * The shortlist cut is TIE-INCLUSIVE (RANK-style top-N): the cut
    * value is the `shortlist`-th best adc and EVERY candidate at or
    * past it survives to the exact re-rank. PQ maps each vector to one
    * of k^m cells and the score is a pure function of the codes, so a
    * tight natural cluster collapses to ONE adc value shared by the
    * whole cell — a row-count cut by (adc, id) there keeps the
    * `shortlist` smallest IDS of the cell, an arbitrary subset, and
    * recall@10 measured on a clustered 500k corpus was 0.13 even at
    * shortlist 200 (RECALL_r15.json). Under the rank cut, `shortlist`
    * bounds CODE-RESOLUTION positions — candidates the codes genuinely
    * distinguish — and the re-ranker always sees whole
    * code-equivalence classes (same corpus and knobs: 0.13 → 0.52,
    * RECALL_r16.json). Cost is still bounded: the re-rank set is
    * `shortlist` plus the boundary class, worst case one whole probed
    * bucket (≈ nprobe·n/nlist rows of exact cosine — the
    * IVF-without-PQ probe cost, the correct degenerate fallback when
    * quantization distinguishes nothing).
    *
    * The cut takes ONE pass over the probed postings ([[topNTies]]):
    * each partition keeps its rows at or past its own `shortlist`-th
    * best adc, never above the global cut, and the driver cuts their
    * union. The re-rank then reads only the shortlisted ids from
    * `rerank` and joins their adc as a local relation. A partition
    * whose rows would pass its share of [[MaxBroadcastShortlist]] sends
    * the probe down the distributed path: one TakeOrdered finds the
    * cut, and the re-rank join broadcasts the shortlist only while one
    * count proves it small and shuffle-joins past that, so correctness
    * never depends on a tie class fitting in the driver. Both paths
    * return the same rows.
    *
    * Jobs, one path: the query collect and the centroid rank run
    * beside the codebook collect and the postings footer scan (neither
    * needs the query), then the one-pass shortlist and the re-rank.
    *
    * Size the shortlist with [[ivfPqShortlistFor]], not a constant:
    * any quantized score loses resolution inside a dense bucket, so a
    * fixed cut caps recall as the corpus grows, while the
    * population-scaled cut restores IVF-level recall (0.92 at 0.25×
    * bucket population, 1.00 at 1× — RECALL_r16/RECALL_r17).
    * On uniform-ish corpora recall is nprobe-bound exactly as IVF's
    * is; see [[ivfTopKIndexed]]'s sizing note.
    */
  def ivfPqTopK(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      query: DataFrame,
      m: Int,
      topK: Int,
      nprobe: Int,
      shortlist: Int,
      rerank: DataFrame,
      rerankVecCol: String,
      excludeId: Option[Long] = None
  ): DataFrame = ivfPqProbe(spark, indexPath, idCol, query, m, topK, nprobe, shortlist,
    rerank, rerankVecCol, excludeId, MaxBroadcastShortlist)

  /** [[ivfPqTopK]] with the driver bound of its one-pass shortlist as a
    * parameter: the probe takes the distributed path when a partition's
    * shortlist rows would pass `driverBound` divided by the partition
    * count.
    */
  private[graft] def ivfPqProbe(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      query: DataFrame,
      m: Int,
      topK: Int,
      nprobe: Int,
      shortlist: Int,
      rerank: DataFrame,
      rerankVecCol: String,
      excludeId: Option[Long],
      driverBound: Long
  ): DataFrame = {
    require(topK >= 1, s"ivfPqTopK: topK must be at least 1, got $topK")
    require(shortlist >= topK,
      s"ivfPqTopK: shortlist ($shortlist) must be at least topK ($topK)")
    require(nprobe >= 1, s"ivfPqTopK: nprobe must be at least 1, got $nprobe")
    require(query.columns.length == 1,
      "ivfPqTopK: query must be a one-row, one-column DataFrame")
    query.schema.fields(0).dataType match {
      case ArrayType(FloatType, _) => ()
      case other => throw new IllegalArgumentException(
        s"ivfPqTopK: query column must be ARRAY<FLOAT>, got ${other.simpleString}")
    }
    val index = FileMerge.snapshot(spark, indexPath)
    val post = postingsOf(spark, index)
    def empty = FileMerge.readTable(spark, post)
      .where(lit(false))
      .select(col(idCol),
        lit(null).cast("double").as("adc"), lit(null).cast("double").as("cos_sim"))
    // jobs: the query collect and the centroid rank (1.) run beside the
    // codebook collect and the postings footer scan (2.), which need no
    // query value; then the one-pass shortlist (3.) and the re-rank
    // (4.); the rest is driver arithmetic. A NULL query returns the
    // empty frame without waiting on the side jobs.
    val probe = Concurrently { fork =>
      val cb = fork(storedCodebook(spark, index))
      val footers = fork(FileMerge.footerRanges(spark, post, "centroid_id"))
      val qRows = query.limit(2).collect()
      require(qRows.length == 1,
        s"ivfPqTopK: query must have exactly one row, got ${qRows.length}")
      Option.unless(qRows.head.isNullAt(0)) {
        require(!qRows.head.getSeq[Any](0).contains(null),
          "ivfPqTopK: the query vector has NULL elements")
        val q = qRows.head.getSeq[Float](0).toArray
        require(q.length % m == 0,
          s"ivfPqTopK: query dim ${q.length} not divisible into $m subspaces")
        // 1. bucket ranking against the stored coarse quantizer
        val probed = subTable(spark, index, "centroids")
          .select(col("centroid_id"), vec_cosine_to(col("centroid"), q).as("_cs"))
          .where(col("_cs").isNotNull)
          .orderBy(col("_cs").desc, col("centroid_id"))
          .limit(nprobe)
          .select("centroid_id")
          .collect()
          .map(_.getLong(0))
          .sorted
        (q, probed, cb(), footers())
      }
    }
    if (probe.isEmpty) return empty
    val (qArr, probed, storedCb, ranges) = probe.get
    val dim = qArr.length
    // Guard the caller's m against the STORED codebook (the advisor's
    // silent-empty trap): a wrong m that still divides dim would fail
    // every size(codes)===m filter and return an empty frame instead of
    // erroring. The stored subspace count is max(sub)+1, exactly how
    // ivfPqAppend infers it.
    require(m == storedCb.m,
      s"ivfPqTopK: caller m=$m does not match the stored codebook's " +
        s"subspace count ${storedCb.m} at $indexPath — a mismatched m would " +
        "silently filter every candidate")
    // 2. footer-stats file selection: only the probed buckets' files
    val cand = probedPostings(spark, post, ranges, probed)
    val excluded = excludeId match {
      case Some(id) => cand.where(col(idCol) =!= param(id))
      case None     => cand
    }
    // 3. ADC over codes (bounded m·k table folded on the driver), then
    // the tie-inclusive shortlist cut ([[topNTies]]): the shortlist-th
    // best adc is the cut, and every candidate at or past it survives.
    // The cut compares RAW doubles: code-tied candidates are bit-equal
    // anyway (identical codes → identical fixed-order folds of shared literals, in every engine), while
    // rounding to 6dp BEFORE the cut merged near-misses across cells
    // into spurious tie classes — measured 2.2× probe cost at 500k on
    // the cosine-scale scores (values concentrate near 1.0) with
    // zero recall change. Only the OUTPUT adc is 6dp-rounded (the
    // cross-engine hash grain).
    val inProbed = excluded
      .where(isIn(col("centroid_id"), probed))
      .where(size(col("codes")) === m)
    // quantized cosine cos(q, q(v)) = dot(q, q(v)) / (|q|·‖q(v)‖):
    // BOTH factors are pure functions of the CODES (per-subspace dot
    // and centroid-norm² map literals, summed in fixed subspace order),
    // so code-tied candidates score IDENTICALLY and the tie-inclusive
    // cut hands the re-ranker whole code cells, with cosine-consistent
    // ordering ACROSS cells. Dividing by the exact stored ‖v‖ instead
    // was measured to DESTROY small-shortlist recall (0.045 at
    // shortlist 10 on clustered 50k ≈ 10/cell-size, i.e.
    // random-within-cell): within a code cell the numerator is
    // constant, so 1/‖v‖ — pure norm noise, uncorrelated with cosine —
    // did the ranking. ‖q(v)‖ is cell-constant, so the quantized
    // signal, not the noise, ranks. |q| is driver-computed with the
    // same left-to-right fold as the oracle's sum, and so are both
    // per-(sub,cid) factors, from the collected codebook rows
    val dtn2 = adcDotNorm2Table(storedCb.rows, qArr, m, dim / m)
    val qNorm = math.sqrt(qArr.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
    require(qNorm > 0.0, "ivfPqTopK: needs a non-zero query vector")
    // ONE map lookup per subspace (cid → (dot, cn2) pair), not two:
    // the measured cost of a second element_at chain was ~2.5× per
    // probe at 500k for zero recall gain. The two sums still fold
    // left-associated in subspace order over the SAME per-(sub,cid)
    // values, so the 6dp adc is bit-identical to the two-chain form
    // (and to the oracle's (((t0+t1)+t2)+t3 replay). The two-stage
    // select keeps each lookup evaluated once — Catalyst leaves
    // multi-referenced non-trivial aliases uncollapsed.
    // SENTINEL instead of a WHERE on the score: a filter predicate over
    // the lookup chain re-evaluates the whole chain per conjunct
    // (isNotNull + isnan tripled the per-row work — a measured ~2.5× on
    // the whole probe at 500k). nanvl∘coalesce wraps ONE evaluation;
    // invalid rows (a code missing from the stored codebook → null; 0/0
    // on an all-zero cell → NaN) become −2, which sorts below every
    // real quantized cosine (|cos| ≤ 1 by Cauchy–Schwarz, exactly), so
    // they reach the cut only when the probe is starved below
    // `shortlist` — and the post-cut strip (shortlist-scale rows)
    // removes them always.
    val pairCols = (0 until m).map { s =>
      val subPairs = dtn2.collect { case ((`s`, cid), dn) => cid -> dn }
      if (subPairs.isEmpty) lit(null).cast("struct<_1:double,_2:double>")
      else denseLookup(subPairs, PairCell, col("codes").getItem(s))
    }
    val withPairs = inProbed.select(
      col(idCol) +: pairCols.zipWithIndex.map { case (c, s) => c.as(s"_p$s") }: _*)
    val qdot = (0 until m).map(s => col(s"_p$s").getField("_1")).reduce(_ + _)
    val rec2 = (0 until m).map(s => col(s"_p$s").getField("_2")).reduce(_ + _)
    val scored = withPairs.select(col(idCol),
      nanvl(coalesce(qdot / (param(qNorm) * sqrt(rec2)), lit(-2.0)), lit(-2.0)).as("_adcr"))
    // 4. exact re-rank of the tie-inclusive shortlist against the
    // source-of-truth vector table
    val rerankVecs = rerank.select(col(idCol), col(rerankVecCol).as("_rv"))
    def reranked(joined: DataFrame): DataFrame = joined
      .select(col(idCol), round(col("_adcr"), 6).as("adc"),
        round(vec_cosine_to(col("_rv"), qArr), 6).as("cos_sim"))
      .where(col("cos_sim").isNotNull)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
    topNTies(scored, shortlist, driverBound) match {
      case Some(kept) =>
        // one pass: the shortlist is on the driver, so the re-rank reads
        // only its ids and joins their scores as a local relation
        if (kept.isEmpty) return empty
        val short = kept.filter(r => !r.isNullAt(0) && r.getDouble(1) >= -1.5)
        val ids = short.map(_.get(0).asInstanceOf[Number].longValue)
        val local = spark.createDataFrame(java.util.Arrays.asList(short: _*), scored.schema)
        reranked(broadcast(local).join(
          rerankVecs.where(isIn(col(idCol).cast("long"), ids)), idCol))
      case None =>
        // a partition passed its share of the driver bound: one
        // distributed TakeOrdered finds the cut (a single scalar
        // collected), and the re-rank join broadcasts the shortlist
        // while one bounded count proves it small and shuffle-joins
        // past it (a maximal tie class is a whole probed bucket;
        // correctness must not depend on it fitting in the driver)
        val cutRow = scored.orderBy(col("_adcr").desc, col(idCol)).limit(shortlist)
          .agg(min(col("_adcr"))).head()
        if (cutRow.isNullAt(0)) return empty
        val short =
          scored.where(col("_adcr") >= param(cutRow.getDouble(0)) && col("_adcr") >= lit(-1.5))
        reranked(
          if (short.count() <= MaxBroadcastShortlist) broadcast(short).join(rerankVecs, idCol)
          else short.join(rerankVecs, idCol))
    }
  }

  /** The tie-inclusive top `n` of `scored`, an (id, score) frame whose
    * scores are never null or NaN, in one job, as driver rows: every row
    * whose score is at or past the `n`-th best (all rows when there are
    * fewer). Each partition keeps its rows at or past its own `n`-th
    * best, which is never above the global `n`-th best, so the kept
    * rows hold every row of the answer, and the driver cuts them. None
    * when a partition's rows pass `bound` divided by the partition
    * count: the rows held on the driver never pass `bound`. The job runs
    * as a SQL execution of `scored`, as a Dataset action does, so query
    * listeners see its scan.
    */
  private[graft] def topNTies(scored: DataFrame, n: Int, bound: Long): Option[Seq[Row]] = {
    val qe = scored.queryExecution
    val idType = scored.schema.head.dataType
    val parts = SQLExecution.withNewExecutionId(qe, Some("topNTies")) {
      val rdd = qe.toRdd
      val cap = bound / math.max(1, rdd.getNumPartitions)
      rdd
        .mapPartitions(rows =>
          Iterator(partitionTopN(rows.map(r => (r.get(0, idType), r.getDouble(1))), n, cap)))
        .collect()
    }
    if (parts.exists(_.isEmpty)) None
    else {
      val kept = parts.toSeq.flatMap(_.get)
      val cut = kept.map(_._2).sorted(Ordering.Double.TotalOrdering.reverse).take(n).lastOption
      Some(kept.filter(r => cut.forall(r._2 >= _)).map { case (id, s) => Row(id, s) })
    }
  }

  /** One partition's rows at or past its `n`-th best score, or None once
    * they pass `cap`. The rows are kept in score classes (−0.0 with
    * 0.0, as `>=` compares them); the lowest class is dropped while the
    * rows above it still number `n`.
    */
  private def partitionTopN(
      rows: Iterator[(Any, Double)], n: Int, cap: Long): Option[Seq[(Any, Double)]] = {
    val classes = mutable.TreeMap.empty[Double, mutable.ArrayBuffer[(Any, Double)]](
      Ordering.Double.TotalOrdering)
    var kept = 0L
    while (kept <= cap && rows.hasNext) {
      val row = rows.next()
      val key = if (row._2 == 0.0) 0.0 else row._2
      if (kept < n || key >= classes.firstKey) {
        classes.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += row
        kept += 1
        while (kept - classes.head._2.size >= n) kept -= classes.remove(classes.firstKey).get.size
      }
    }
    Option.when(kept <= cap)(classes.valuesIterator.flatten.toSeq)
  }

  /** Row bound on the tie-inclusive shortlist [[ivfPqTopK]] holds on
    * the driver (two 8-byte scalars per row ⇒ ≈ 16 MB at the bound):
    * the one-pass cut keeps at most this many rows over all partitions,
    * and the distributed path's re-rank join broadcasts the shortlist
    * under it and shuffles past it — the countMinEstimate
    * broadcast-gate discipline.
    */
  private val MaxBroadcastShortlist = 1000000L

  /** The measured SHORTLIST SIZING RULE as an executable helper
    * (RECALL_r16.json): a fixed shortlist does not survive corpus
    * growth — at n = 500k/nlist 64 the 200-row cut capped clustered
    * recall@10 at 0.52–0.76 because ADC (a quantized score re-ranked
    * by cosine) cannot order the inside of a dense bucket,
    * while a shortlist scaled to the probed population restores
    * IVF-level recall (1.0 at 1× bucket population, where the probe
    * exact-re-ranks every probed candidate and PQ's remaining job is
    * slashing candidate BYTES, the FAISS IVFADC deployment shape).
    *
    *   shortlist = max(minFactor·topK,
    *                   ceil(frac · nprobe · nPostings / nCentroids))
    *
    * `frac` 0.25 is the measured knee on clustered corpora; pass 1.0
    * to buy the exhaustive-probe guarantee. Both counts are footer row
    * counts of the persisted postings and centroids, from one footer
    * scan — call once per (index, nprobe), not per query.
    */
  def ivfPqShortlistFor(
      spark: SparkSession,
      indexPath: String,
      topK: Int,
      nprobe: Int,
      frac: Double = 0.25,
      minFactor: Int = 4
  ): Int = {
    require(topK >= 1 && nprobe >= 1 && minFactor >= 1 && frac > 0.0,
      s"ivfPqShortlistFor: need topK/nprobe/minFactor >= 1 and frac > 0, " +
        s"got topK=$topK nprobe=$nprobe minFactor=$minFactor frac=$frac")
    val index = FileMerge.snapshot(spark, indexPath)
    def files(t: FileMerge.Snapshot) = t.dataFiles.map(_.getPath.toString)
    val postFiles = files(postingsOf(spark, index))
    val centFiles = files(FileMerge.snapshot(spark, index.pathOf("centroids")))
    val rows =
      if (postFiles.isEmpty && centFiles.isEmpty) Map.empty[String, Long]
      else FileMerge.footers(spark, postFiles ++ centFiles, None, strict = false)
        .collect().map(r => r.file -> r.rows).toMap
    val nPost = postFiles.map(rows).sum
    val nCent = centFiles.map(rows).sum
    require(nCent > 0, s"ivfPqShortlistFor: empty centroid table at $indexPath")
    val perBucket = math.ceil(nPost.toDouble / nCent)
    math.min(
      Int.MaxValue.toLong,
      math.max(minFactor.toLong * topK, math.ceil(frac * nprobe * perBucket).toLong)).toInt
  }

  /** BATCH probe of the persisted IVF-PQ index — [[ivfPqTopK]]'s dot
    * face for a query SET in ONE pass ([[ivfTopKIndexedBatch]]'s
    * machinery composed with PQ, the shape a dedup/contamination sweep
    * runs at 10⁹ vectors): per-query bucket ranking over the broadcast
    * centroid table, ONE footer-pruned postings read over the batch's
    * probed-bucket union, ADC by a DISTRIBUTED (query, sub, cid)
    * dot-table join — the single-query map literals cannot scale past
    * one query; the table is nq·m·k rows, broadcast while provably
    * small — with the per-candidate sum reassembled in FIXED subspace
    * order (sort-then-fold, bit-identical to [[adcLookupSum]]'s
    * left-association, so the batch face and the single-query face
    * round to the same 6dp adc), a per-query TIE-INCLUSIVE shortlist
    * cut via one rank window partitioned by query, and one exact-cosine
    * re-rank join of the union shortlist against the vector lake.
    * Returns (query_id, idCol, adc, cos_sim): topK rows per query by
    * (cos_sim desc, id).
    *
    * Scale shape: no per-query job, no driver loop — the only collects
    * are the probed-bucket union (≤ centroid count) and the m·k
    * codebook, whose rows give the stored-m guard and the dt broadcast
    * gate; windows partition by query_id (batch-parallel); the re-rank
    * join broadcasts only under [[MaxBroadcastShortlist]].
    */
  def ivfPqTopKBatch(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      m: Int,
      topK: Int,
      nprobe: Int,
      shortlist: Int,
      rerank: DataFrame,
      rerankVecCol: String,
      excludeSelf: Boolean = false,
      maxBroadcastDtRows: Long = 1L << 22
  ): DataFrame = {
    require(topK >= 1, s"ivfPqTopKBatch: topK must be at least 1, got $topK")
    require(shortlist >= topK,
      s"ivfPqTopKBatch: shortlist ($shortlist) must be at least topK ($topK)")
    require(nprobe >= 1, s"ivfPqTopKBatch: nprobe must be at least 1, got $nprobe")
    val index = FileMerge.snapshot(spark, indexPath)
    val post = postingsOf(spark, index)
    val storedCb = storedCodebook(spark, index)
    require(m == storedCb.m,
      s"ivfPqTopKBatch: caller m=$m does not match the stored codebook's " +
        s"subspace count ${storedCb.m} at $indexPath — a mismatched m would " +
        "silently filter every candidate")
    val q = Checkpoints.checkpoint(
      queries.select(col(qIdCol).cast("long").as("query_id"), col(qVecCol).as("_qvec")))
    val dim = pqDim(q, "query_id", "_qvec", "ivfPqTopKBatch")
    require(dim % m == 0,
      s"ivfPqTopKBatch: query dim $dim not divisible into $m subspaces")
    // loud on EVERY degenerate batch row, not just mixed-dim: a null
    // id, null vector, wrong-length vector, or zero-norm vector would
    // each silently VANISH from the output (null/zero-norm rows score
    // the -2 sentinel everywhere and are stripped at the cut; the
    // single-query face requires qNorm > 0 and types its null-query
    // empty frame for the same reason) while the other queries return
    // rows — and a dedup/contamination sweep would read the missing
    // query as "no neighbors". One metadata-scale agg on the pinned
    // batch; its count also feeds the dt broadcast gate.
    val qStats = q.agg(
      count(lit(1)).as("_nq"),
      sum(when(col("query_id").isNull, 1L).otherwise(0L)).as("_nid"),
      sum(when(col("_qvec").isNull, 1L).otherwise(0L)).as("_nvec"),
      sum(when(col("_qvec").isNotNull && size(col("_qvec")) =!= dim, 1L)
        .otherwise(0L)).as("_ndim"),
      sum(when(col("_qvec").isNotNull && size(col("_qvec")) === dim &&
          norm2(col("_qvec")) <= 0.0, 1L)
        .otherwise(0L)).as("_nzero")).head()
    val nQueries = qStats.getLong(0)
    require(qStats.getLong(1) == 0L,
      s"ivfPqTopKBatch: ${qStats.getLong(1)} query rows have a null $qIdCol — " +
        "their results would be unattributable")
    require(qStats.getLong(2) == 0L,
      s"ivfPqTopKBatch: ${qStats.getLong(2)} query rows have a null $qVecCol — " +
        "those query ids would silently vanish from the batch answer")
    require(qStats.getLong(3) == 0L,
      s"ivfPqTopKBatch: ${qStats.getLong(3)} query rows have a vector length != $dim — " +
        "a mixed-dim batch would return results for the conforming subset only")
    require(qStats.getLong(4) == 0L,
      s"ivfPqTopKBatch: ${qStats.getLong(4)} query rows have a zero-norm vector — " +
        "the quantized cosine is undefined for them and those query ids would " +
        "silently vanish from the batch answer")
    // 1. per-query bucket ranking (the indexedBatchCandidates shape)
    val cents = broadcast(subTable(spark, index, "centroids"))
    val probeRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("_pcs").desc, col("centroid_id"))
    val probeTable = q
      .crossJoin(cents)
      .select(
        col("query_id"), col("centroid_id"),
        cosine(col("_qvec"), col("centroid")).as("_pcs"))
      .where(col("_pcs").isNotNull)
      .withColumn("_pr", row_number().over(probeRank))
      .where(col("_pr") <= nprobe)
      .select("query_id", "centroid_id")
    // 2. one footer selection over the batch's probed-bucket union
    // (bounded collect: ≤ centroid count rows)
    val probedIds = probeTable
      .select("centroid_id").distinct().collect().map(_.getLong(0)).sorted
    val probedCand = probedPostings(spark, post, probedIds)
      .join(probeTable, "centroid_id")
      .where(size(col("codes")) === m)
    val excluded =
      if (excludeSelf) probedCand.where(col(idCol) =!= col("query_id")) else probedCand
    // 3. distributed ADC dot table (query_id, sub, cid, _dt, _cn2):
    // per-(query, sub, cid) dot plus the query-independent centroid
    // norm² riding the same row — one join serves both folds
    val dt = subspaces(q, "query_id", "_qvec", m, dim / m)
      .join(broadcast(storedCb.local.select(col("sub"), col("cid"), col("cvec"))), "sub")
      .select(col("_vid").as("query_id"), col("sub"), col("cid"),
        dotD(col("subvec"), col("cvec")).as("_dt"),
        norm2D(col("cvec")).as("_cn2"))
    val nDtRows = nQueries * storedCb.rows.length
    val dtSide = if (nDtRows <= maxBroadcastDtRows) broadcast(dt) else dt
    val qNorms = broadcast(q.select(col("query_id"), sqrt(norm2(col("_qvec"))).as("_qn")))
    // 4. per-candidate sums in FIXED subspace order (sort-then-fold —
    // a bare SUM over shuffled doubles would be association-order
    // nondeterministic at the 6dp rounding boundary): the dot
    // numerator and the reconstruction norm² take the SAME fold, so
    // the quantized cosine is bit-identical to the single-query face's
    val scored = excluded
      .select(col("query_id"), col(idCol),
        posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(dtSide, Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col(idCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("sub"), col("_dt")))),
          s => s.getField("_dt")).as("_ds"),
        transform(
          array_sort(collect_list(struct(col("sub"), col("_cn2")))),
          s => s.getField("_cn2")).as("_ns"))
      .where(size(col("_ds")) === m)
      .join(qNorms, "query_id")
      .select(col("query_id"), col(idCol),
        nanvl(coalesce(
          expr("aggregate(_ds, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)") /
            (col("_qn") *
              sqrt(expr("aggregate(_ns, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))),
          lit(-2.0)), lit(-2.0)).as("_adcr"))
    // 5. per-query tie-inclusive cut on RAW doubles (the ivfPqTopK cut
    // discipline — pre-cut rounding merged near-misses into spurious
    // tie classes): one rank window, batch-parallel
    val cutW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("_adcr").desc, col(idCol))
    val cuts = scored
      .withColumn("_rn", row_number().over(cutW))
      .where(col("_rn") <= shortlist)
      .groupBy("query_id").agg(min(col("_adcr")).as("_cut"))
    val short = scored
      .join(cuts, "query_id")
      .where(col("_adcr") >= col("_cut") && col("_adcr") >= lit(-1.5))
      .select(col("query_id"), col(idCol), col("_adcr"))
    // 6. one exact re-rank of the union shortlist (broadcast only while
    // provably small — the ivfPqTopK gate)
    val shortCount = short.count()
    val rv = rerank.select(col(idCol), col(rerankVecCol).as("_rv"))
    val joined =
      if (shortCount <= MaxBroadcastShortlist) broadcast(short).join(rv, idCol)
      else short.join(rv, idCol)
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col(idCol))
    joined
      .join(broadcast(q.select(col("query_id"), col("_qvec"))), "query_id")
      .select(col("query_id"), col(idCol), round(col("_adcr"), 6).as("adc"),
        round(cosine(col("_rv"), col("_qvec")), 6).as("cos_sim"))
      .where(col("cos_sim").isNotNull)
      .withColumn("_rn", row_number().over(topW))
      .where(col("_rn") <= topK)
      .select(col("query_id"), col(idCol), col("adc"), col("cos_sim"))
      .orderBy(col("query_id"), col("cos_sim").desc, col(idCol))
  }

  /** SemDeDup candidate pairs from the PERSISTED IVF-PQ index ALONE —
    * the quadratic phase of [[semDedupIndexed]], reading postings +
    * codebook and NOTHING else (assert it with `inputFiles`, the q76
    * pattern): at 10⁹ vectors the within-cluster pair scan must ride
    * codes, not floats — [[semDedup]]'s raw-vector self-join carries
    * 2·dim floats per candidate where this carries m codes + three
    * scalars.
    *
    * Soundness (why the exact keep set survives the approximation):
    * with q(v) the PQ reconstruction, a = q(a) + e_a, ‖e_a‖ = r_a, and
    * Cauchy–Schwarz on every cross term,
    *
    *   dot(a,b) ≤ dot(q(a),q(b)) + ‖q(a)‖·r_b + r_a·‖q(b)‖ + r_a·r_b
    *
    * so `ub = (qdot + qn_a·r_b + r_a·qn_b + r_a·r_b) / (nrm_a·nrm_b)`
    * is a TRUE upper bound on cos(a,b): a pair whose ub falls below
    * the threshold (minus `boundSlack`, which absorbs the ~1e-15
    * floating noise of evaluating the bound itself) can be discarded
    * without ever reading its vectors. qdot comes from the SDC table —
    * per-subspace centroid-pair dot products, m·k² values computed
    * once from the codebook and baked into map literals (the
    * [[adcLookupSum]] move, symmetric variant), m O(1) lookups per
    * candidate.
    *
    * The self-join reuses [[blockedNearDupPairs]]' sub-block grid so a
    * hot cluster's pair work spreads across `subBlocks`² reducers.
    * Returns `(id_a, id_b)` with id_a < id_b — the boundary pairs only
    * an exact rescore can decide.
    */
  def semDedupCandidates(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      threshold: Double,
      boundSlack: Double = 1e-9,
      subBlocks: Int = 8
  ): DataFrame = {
    val index = FileMerge.snapshot(spark, indexPath)
    semDedupCandidates(
      spark, index, postingsOf(spark, index), idCol, threshold, boundSlack, subBlocks)
  }

  private def semDedupCandidates(spark: SparkSession, index: FileMerge.Snapshot,
      postings: FileMerge.Snapshot, idCol: String,
      threshold: Double, boundSlack: Double, subBlocks: Int): DataFrame = {
    require(threshold > 0.0,
      s"semDedupCandidates: threshold must be positive (the ub prune " +
        s"keeps every pair otherwise), got $threshold")
    require(subBlocks >= 1, "semDedupCandidates: subBlocks must be >= 1")
    val stored = storedCodebook(spark, index)
    val (m, kMax) = (stored.m, stored.kMax)
    require(m.toLong * kMax * kMax <= 262144L,
      s"semDedupCandidates: SDC table m*k^2 = ${m.toLong * kMax * kMax} exceeds the " +
        "map-literal budget (262144) — this face covers the practical PQ regimes " +
        "(k <= 256 with m <= 4, k <= 64 at any m); larger codebooks need a " +
        "broadcast-join SDC variant")
    val sdc = sdcDotTable(stored.rows)
    def qdot(ca: Column, cbc: Column): Column =
      (0 until m).map { s =>
        val sub = sdc.collect { case ((`s`, x, y), d) => (x * kMax + y) -> d }
        if (sub.isEmpty) lit(null).cast("double")
        else denseLookup(sub, DistCell, ca.getItem(s) * kMax + cbc.getItem(s))
      }.reduce(_ + _)
    val post = FileMerge.readTable(spark, postings)
      .where(size(col("codes")) === m && col("nrm") > 0)
      .select(col(idCol).as("id"), col("centroid_id").as("blk"),
        col("codes"), col("nrm"), col("qn"), col("r"),
        pmod(xxhash64(col(idCol)), lit(subBlocks)).cast("int").as("_sb"))
    val a = post.withColumn("_v", explode(sequence(col("_sb"), lit(subBlocks - 1)))).as("a")
    val b = post.withColumn("_u", explode(sequence(lit(0), col("_sb")))).as("b")
    a.join(b,
        col("a.blk") === col("b.blk") &&
          col("a._sb") === col("b._u") && col("a._v") === col("b._sb") &&
          (col("a._sb") < col("b._sb") || col("a.id") < col("b.id")))
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        ((qdot(col("a.codes"), col("b.codes")) +
          col("a.qn") * col("b.r") + col("a.r") * col("b.qn") +
          col("a.r") * col("b.r")) /
          (col("a.nrm") * col("b.nrm"))).as("_ub"))
      .where(col("_ub") + boundSlack >= threshold)
      .select("id_a", "id_b")
  }

  /** [[semDedup]] riding the persisted IVF-PQ index — the 10⁹-vector
    * shape of semantic dedup: [[semDedupCandidates]] prunes the
    * quadratic within-cluster pair space from codes alone, and ONLY
    * the surviving boundary pairs pay an exact cosine against `emb`
    * (the source-of-truth lake). The keep set is IDENTICAL to
    * [[semDedup]] run with the index's centroids and this threshold:
    * the candidate bound is sound (see [[semDedupCandidates]]), and
    * the rescore reproduces [[blockedNearDupPairs]]' float arithmetic
    * term for term (same dot fold, same √norm2 factors, same
    * unrounded-threshold compare — and cos is orientation-independent
    * because IEEE multiplication commutes exactly).
    *
    * Output: `(idCol, centroid_id, kept)` over the CODED corpus — the
    * postings' row set, which is the lake minus rows that cannot be
    * coded (null/wrong-length vectors; [[semDedup]] would carry those
    * as trivially-kept rows).
    */
  def semDedupIndexed(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      threshold: Double,
      boundSlack: Double = 1e-9,
      subBlocks: Int = 8
  ): DataFrame = {
    val index = FileMerge.snapshot(spark, indexPath)
    val post = postingsOf(spark, index)
    val cand = semDedupCandidates(spark, index, post, idCol, threshold, boundSlack, subBlocks)
    val vecs = emb.select(
      col(idCol), col(vecCol).as("_v"), sqrt(norm2(col(vecCol))).as("_n"))
    val dropped = cand
      .join(vecs.select(col(idCol).as("id_a"), col("_v").as("_va"), col("_n").as("_na")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("_v").as("_vb"), col("_n").as("_nb")), "id_b")
      .select(col("id_b"),
        when(col("_na") * col("_nb") === 0, lit(null).cast("double"))
          .otherwise(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
          .as("_cs"))
      .where(col("_cs") >= threshold)
      .select(col("id_b").as("_dropId"))
      .distinct()
    FileMerge.readTable(spark, post)
      .select(col(idCol), col("centroid_id"))
      .join(dropped, col(idCol) === col("_dropId"), "left")
      .select(
        col(idCol),
        col("centroid_id").cast("long").as("centroid_id"),
        col("_dropId").isNull.as("kept"))
      .orderBy(idCol)
  }

  /** Measured REBUILD TRIGGER for the IVF-PQ maintenance lifecycle:
    * "rebuild when drift accumulates" becomes one bounded aggregation.
    * The batch is coded under the STORED codebook ([[codesWithStats]],
    * exactly what [[ivfPqAppend]] would persist) and its quantization
    * residuals are compared against the index's existing postings
    * (where r and nrm are already stored): a batch drawn from the
    * distribution the codebook trained on lands near drift_ratio 1.0;
    * a drifted batch's residuals grow and the ratio crosses the
    * caller's rebuild threshold.
    *
    * Two complementary statistics, because each has a blind spot:
    * drift_ratio compares mean RAW residuals (‖v − q(v)‖ — catches
    * scale drift and gross distribution shifts; a relative metric
    * saturates near 1 for far-out vectors and would miss them), while
    * frac_above counts batch vectors whose RELATIVE error r/‖v‖
    * exceeds `relErrBound` (scale-free — catches directional drift on
    * same-norm corpora that raw means understate).
    *
    * Returns ONE row:
    *   (n_batch, batch_mean_err, index_mean_err,
    *    drift_ratio = batch/index raw-residual means,
    *    frac_above = fraction of batch vectors with r/‖v‖ > bound).
    *
    * Zero-norm vectors are excluded from both sides (no relative error
    * exists). Everything is metadata-scale except the two linear
    * aggregations — no pair work, no collect beyond the 1-row result.
    */
  def ivfPqDriftReport(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      relErrBound: Double = 0.5
  ): DataFrame = {
    val index = FileMerge.snapshot(spark, indexPath)
    val cb = storedCodebook(spark, index)
    val batchStats = codesWithStats(
      batch.select(col(idCol), col(vecCol)), idCol, vecCol, cb.local, cb.m)
      .where(col("nrm") > 0)
      .agg(count(lit(1)).as("n_batch"), avg(col("r")).as("batch_mean_err"),
        avg(when(col("r") / col("nrm") > relErrBound, 1.0).otherwise(0.0))
          .as("frac_above"))
    val indexStats = FileMerge.readTable(spark, postingsOf(spark, index))
      .where(col("nrm") > 0)
      .agg(avg(col("r")).as("index_mean_err"))
    batchStats.crossJoin(indexStats)
      .select(col("n_batch"), col("batch_mean_err"), col("index_mean_err"),
        (col("batch_mean_err") / col("index_mean_err")).as("drift_ratio"),
        col("frac_above"))
  }

  /** Deterministic dim inference for the PQ faces: the vector length of
    * the MINIMUM-id non-null row (one partial-aggregable min over a
    * (id, size) struct — no global sort). A bare `.head()` on an
    * unordered frame would make both the inferred dim and which
    * wrong-length rows [[subspaces]] silently drops nondeterministic
    * across runs on a mixed-length corpus.
    */
  private def pqDim(
      emb: DataFrame, idCol: String, vecCol: String, caller: String): Int = {
    val r = emb
      .where(col(vecCol).isNotNull)
      .agg(min(struct(
        col(idCol).cast("long").as("_id"), size(col(vecCol)).as("_d"))).as("_m"))
      .head()
    require(!r.isNullAt(0), s"$caller: no non-null vectors to infer dim from")
    r.getStruct(0).getInt(1)
  }

  /** Shared subspace decomposition: `(_vid, sub, subvec ARRAY<DOUBLE>)`,
    * rows with a wrong-length vector dropped (they cannot be coded).
    */
  private[graft] def subspaces(
      emb: DataFrame, idCol: String, vecCol: String, m: Int, d: Int): DataFrame =
    emb
      .where(col(vecCol).isNotNull && size(col(vecCol)) === m * d)
      .select(
        col(idCol).cast("long").as("_vid"),
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), " +
            s"s -> transform(slice($vecCol, s * $d + 1, $d), x -> CAST(x AS DOUBLE)))"))
          .as(Seq("sub", "subvec")))

  /** Squared-L2 argmin assignment per (sub, vector): ties break to the
    * lower centroid id via the lexicographic min struct.
    */
  private def pqAssign(subs: DataFrame, codebook: DataFrame): DataFrame =
    subs
      .join(broadcast(codebook.select(col("sub"), col("cid"), col("cvec"))), "sub")
      .select(col("sub"), col("_vid"),
        struct(l2sq(col("subvec"), col("cvec")).as("_d"), col("cid")).as("_s"))
      .where(col("_s._d").isNotNull)
      .groupBy(col("sub"), col("_vid"))
      .agg(min(col("_s")).as("_b"))
      .select(col("sub"), col("_vid"), col("_b.cid").as("cid"))
}
