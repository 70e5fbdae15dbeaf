package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out primitives the reference never needed at Glue-job size but a
  * 100 TB lake does: partitioned/bucketed table layout and salted joins
  * for skewed keys.
  */
object Scale {

  /** Hive-style partitioned lake write: files under
    * `path/col=value/...`, enabling partition pruning on the read side
    * (a filter on a partition column prunes directories before any IO).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: String = "overwrite"
  ): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table: co-locates join keys so equi-joins
    * between tables bucketed on the same key by the same count skip the
    * shuffle entirely (both sides already hash-distributed).
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      numBuckets: Int,
      mode: String = "overwrite"
  ): Unit =
    df.write
      .mode(mode)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(tableName)

  /** Per-row salt in [0, factor) from a hash of the row's content:
    * varies across a hot key's rows (they differ in their other columns),
    * so pre-clustered hot keys still fan out — unlike a partition-id- or
    * key-only-derived salt, which collapses to one value per partition in
    * that case. Content-derived also keeps the salt DETERMINISTIC under
    * partial stage recomputation (a `monotonically_increasing_id` salt
    * re-rolls on retried map tasks, duplicating/losing join rows).
    *
    * MapType columns can't feed `hash()` directly and are hashed through
    * their JSON form. Caveat: byte-identical rows share a salt — a
    * key-only projection of a hot key, or massive exact-duplicate rows,
    * will NOT fan out; carry a distinguishing column (or pre-aggregate
    * the duplicates) before salting.
    */
  def saltColumn(df: DataFrame, factor: Int): Column = {
    require(
      df.columns.map(_.toLowerCase).distinct.length == df.columns.length,
      "saltColumn requires unique column names (disambiguate join outputs first)")
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val basis = df.schema.fields.map { f =>
      if (hashable(f.dataType)) col(f.name) else to_json(col(f.name))
    }
    pmod(hash(basis.toIndexedSeq :+ lit(0x9e3779b9): _*), lit(factor)).cast("int")
  }

  /** Salted join for skewed probe keys: the skewed (large) side gets a
    * per-row salt in [0, factor); the small side is exploded `factor`
    * times so every salted key finds its match. Breaks a hot key's rows
    * across `factor` tasks instead of one straggler.
    *
    * Inner and left joins only: for right/full outer, every unmatched row
    * of the exploded side would surface `factor` times (one null-padded
    * row per salt replica).
    *
    * AQE's skew-join handles moderate skew automatically; explicit
    * salting is for the pathological keys AQE splits can't fix (e.g. one
    * key = 30% of the table).
    */
  def saltedEquiJoin(
      skewed: DataFrame,
      other: DataFrame,
      skewedKey: String,
      otherKey: String,
      factor: Int = 8,
      joinType: String = "inner"
  ): DataFrame = {
    require(factor > 0)
    val jt = joinType.toLowerCase.replace("_", "")
    require(
      Set("inner", "left", "leftouter").contains(jt),
      s"saltedEquiJoin supports inner/left joins only (got '$joinType'): outer variants " +
        "would emit one null-padded row per salt replica of the exploded side")
    val salted = skewed.withColumn("_salt", saltColumn(skewed, factor))
    val exploded = other.withColumn("_salt", explode(array((0 until factor).map(lit): _*)))
    salted
      .join(exploded, salted(skewedKey) === exploded(otherKey) && salted("_salt") === exploded("_salt"), joinType)
      .drop("_salt")
  }

  /** Range-repartition + sort-within-partitions writer: produces globally
    * range-clustered files so min/max parquet statistics prune row
    * groups for range predicates on `col` (poor man's Z-order for one
    * dimension).
    */
  def writeRangeClustered(
      df: DataFrame,
      path: String,
      clusterCol: String,
      partitions: Int
  ): Unit =
    df.repartitionByRange(partitions, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write
      .mode("overwrite")
      .parquet(path)

  /** Range-partition `df` by `order`, sort within partitions, and
    * materialize the result with an EAGER `localCheckpoint` — the shared
    * front half of [[globalDenseRank]] / [[globalRunningSum]]. The
    * checkpoint is what makes the fan-out cheap: both primitives need the
    * partitioned data twice (once for metadata-scale per-partition totals,
    * once for the row-level prefix walk), and WITHOUT materialization the
    * two consumers each re-evaluate the entire upstream plan plus the
    * range shuffle — ReuseExchange does NOT save them, because column
    * pruning narrows the totals branch's projection under its exchange,
    * so the two exchanges no longer canonicalize equal (measured: two
    * independent ShuffleQueryStages, each rescanning the source). The
    * checkpointed blocks distribute across executors (MEMORY_AND_DISK)
    * and are released with the caller's scope ([[Checkpoints]]), or
    * reclaimed by the ContextCleaner once the plan is GC'd.
    */
  private def rangeSortedCheckpoint(
      df: DataFrame,
      order: Seq[Column],
      parts: Int
  ): DataFrame =
    Checkpoints.checkpoint(df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*))

  /** Per-partition (rowCount, non-null value count, value sum) of the
    * checkpointed partitions, collected to the driver — ONE ROW PER
    * PARTITION, bounded by the cluster's parallelism, never by the data.
    * With no `valueCol` the value stats are zero (rank only needs counts).
    */
  private def partitionTotals(ranged: DataFrame, valueCol: Option[String], parts: Int)
      : Array[(Long, Long, Long)] = {
    val vc = valueCol.map(col).getOrElse(lit(null).cast("long"))
    val rows = ranged
      .groupBy(spark_partition_id().as("_pt_pid"))
      .agg(
        count(lit(1)).as("_pt_rows"),
        count(vc).as("_pt_vals"),
        sum(vc).as("_pt_sum"))
      .collect()
    val out = Array.fill(parts)((0L, 0L, 0L))
    rows.foreach { r =>
      out(r.getInt(0)) = (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3))
    }
    out
  }

  /** Global 1-based dense rank in `order` WITHOUT funnelling the data
    * through a single ordered partition (the `row_number().over(
    * Window.orderBy(...))` shape every executor-bottleneck audit flags).
    * This is Spark's own `RDD.zipWithIndex` construction lifted to
    * DataFrames:
    *
    *   1. range-repartition on the sort keys and sort within partitions —
    *      partitions hold disjoint, partition-id-ordered key ranges
    *      (RangePartitioning respects the sort directions, so partition 0
    *      holds the first rows of the requested order) — then
    *      `localCheckpoint` ONCE ([[rangeSortedCheckpoint]]: upstream and
    *      the shuffle are evaluated exactly once);
    *   2. collect per-partition ROW COUNTS to the driver — metadata-scale,
    *      one row per partition — and prefix-sum them into starting
    *      offsets;
    *   3. one `mapPartitions` walk over the sorted blocks assigns
    *      `offset + local position`. No window, and crucially NO second
    *      corpus shuffle: a `Window.partitionBy(spark_partition_id())`
    *      would re-shuffle everything on the pid (Catalyst cannot know the
    *      data is already pid-clustered), which is exactly the exchange
    *      this shape deletes. The per-partition prefix walk is the one
    *      computation Catalyst genuinely cannot express without that
    *      shuffle — the documented `mapPartitions` justification.
    *
    * `order` must be a TOTAL order for the rank to be deterministic.
    * Appends `outCol` (BIGINT, 1-based).
    */
  def globalDenseRank(
      df: DataFrame,
      order: Seq[Column],
      outCol: String,
      partitions: Int = 0
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(order.nonEmpty, "globalDenseRank: empty sort order")
    require(!df.columns.contains(outCol),
      s"globalDenseRank: output column $outCol already exists in the input")
    val parts =
      if (partitions > 0) partitions
      else math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val ranged = rangeSortedCheckpoint(df, order, parts)
    val totals = partitionTotals(ranged, None, parts)
    val offsets = totals.scanLeft(0L)(_ + _._1).init
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField(
          outCol, org.apache.spark.sql.types.LongType, nullable = false))
    ranged.mapPartitions { it =>
      var pos = offsets(org.apache.spark.TaskContext.getPartitionId())
      it.map { r =>
        pos += 1L
        Row.fromSeq(r.toSeq :+ pos)
      }
    }(Encoders.row(schema))
  }

  /** Global RUNNING SUM over a total order without ever funnelling the
    * data through one ordered partition — [[globalDenseRank]]'s
    * zipWithIndex construction applied to a SUM: range-partition +
    * partition-sort by `order`, checkpoint once, collect per-partition
    * value totals (metadata-scale: one row per partition), prefix-sum
    * them on the driver, then one `mapPartitions` walk accumulates
    * `earlier partitions' total + local running sum`. One upstream
    * evaluation, one shuffle, no window (and no window-by-partition-id
    * re-shuffle — see [[globalDenseRank]]). The classic use is prefix
    * selection under a budget ([[graft.operators.Curation.budgetSelect]]):
    * `sum(x) OVER (ORDER BY ...)` with no PARTITION BY is exactly the
    * window shape Spark executes in a single task. `order` must be a
    * total order for the result to be deterministic; the summed column
    * should be integral (BIGINT sums are exact and order-independent —
    * a double running sum would depend on partition boundaries). NULL
    * values add nothing, and — matching ANSI window-SUM semantics — the
    * running total is NULL until the first non-null value in the global
    * order. Appends `outCol` = inclusive running total (BIGINT).
    */
  def globalRunningSum(
      df: DataFrame,
      order: Seq[Column],
      valueCol: Column,
      outCol: String,
      partitions: Int = 0
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(order.nonEmpty, "globalRunningSum: empty sort order")
    val reserved = Seq("_grs_v")
    require(reserved.forall(c => !df.columns.contains(c)),
      s"globalRunningSum: reserved working column already exists (${reserved.mkString(", ")})")
    require(!df.columns.contains(outCol),
      s"globalRunningSum: output column $outCol already exists in the input")
    val parts =
      if (partitions > 0) partitions
      else math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val ranged = rangeSortedCheckpoint(
      df.withColumn("_grs_v", valueCol.cast("long")), order, parts)
    val vIdx = ranged.columns.length - 1
    val totals = partitionTotals(ranged, Some("_grs_v"), parts)
    val offsets = totals.scanLeft(0L)(_ + _._3).init
    val seenBefore = totals.scanLeft(0L)(_ + _._2).init.map(_ > 0L)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields.patch(vIdx, Nil, 1) :+
        org.apache.spark.sql.types.StructField(
          outCol, org.apache.spark.sql.types.LongType, nullable = true))
    ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = offsets(pid)
      var seen = seenBefore(pid)
      it.map { r =>
        if (!r.isNullAt(vIdx)) { acc += r.getLong(vIdx); seen = true }
        val run: Any = if (seen) java.lang.Long.valueOf(acc) else null
        val cells = r.toSeq
        Row.fromSeq(cells.patch(vIdx, Nil, 1) :+ run)
      }
    }(Encoders.row(schema))
  }

  /** Global RUNNING MAX over a total order — [[globalRunningSum]]'s
    * skeleton with a max accumulator: range-partition + partition-sort,
    * checkpoint once, collect per-partition maxima (metadata-scale),
    * prefix-max them on the driver, one `mapPartitions` walk. With
    * `exclusive` the emitted value covers strict PREDECESSORS only
    * (NULL for the first valued row) — the "best seen so far, not
    * counting me" shape dominance tests need ([[Skyline]]); inclusive
    * matches ANSI `max(x) OVER (ORDER BY …)`. NULL values never update
    * the accumulator. Appends `outCol` (BIGINT, nullable).
    */
  def globalRunningMax(
      df: DataFrame,
      order: Seq[Column],
      valueCol: Column,
      outCol: String,
      exclusive: Boolean = false,
      partitions: Int = 0
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(order.nonEmpty, "globalRunningMax: empty sort order")
    require(!df.columns.contains("_grm_v"),
      "globalRunningMax: reserved working column already exists (_grm_v)")
    require(!df.columns.contains(outCol),
      s"globalRunningMax: output column $outCol already exists in the input")
    val parts =
      if (partitions > 0) partitions
      else math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val ranged = rangeSortedCheckpoint(
      df.withColumn("_grm_v", valueCol.cast("long")), order, parts)
    val vIdx = ranged.columns.length - 1
    val stats = ranged
      .groupBy(spark_partition_id().as("_pm_pid"))
      .agg(count(col("_grm_v")).as("_pm_vals"), max(col("_grm_v")).as("_pm_max"))
      .collect()
    val pmax = Array.fill[Option[Long]](parts)(None)
    stats.foreach { r =>
      if (r.getLong(1) > 0L) pmax(r.getInt(0)) = Some(r.getLong(2))
    }
    val before = pmax
      .scanLeft(Option.empty[Long]) {
        case (Some(a), Some(b)) => Some(math.max(a, b))
        case (a, None) => a
        case (None, b) => b
      }
      .init
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields.patch(vIdx, Nil, 1) :+
        org.apache.spark.sql.types.StructField(
          outCol, org.apache.spark.sql.types.LongType, nullable = true))
    ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = before(pid)
      it.map { r =>
        val cur = if (r.isNullAt(vIdx)) None else Some(r.getLong(vIdx))
        val folded = (acc, cur) match {
          case (Some(a), Some(c)) => Some(math.max(a, c))
          case (a, None) => a
          case (None, c) => c
        }
        val emit = if (exclusive) acc else folded
        acc = folded
        val out: Any = emit.map(java.lang.Long.valueOf).orNull
        Row.fromSeq(r.toSeq.patch(vIdx, Nil, 1) :+ out)
      }
    }(Encoders.row(schema))
  }

  /** Deterministic TRAINING-ORDER SHUFFLE: a reproducible pseudo-random
    * total order over a corpus — the "shuffle before sequence-packing"
    * stage of an LLM training-data pipeline — computed without ever
    * funnelling rows through one ordered partition.
    *
    * Each row's sort key is `md5(seed | id…)`: content-addressed, so the
    * permutation is identical across runs, engines, cluster sizes, and
    * RETRIED TASKS (a `rand()`-keyed shuffle re-rolls under partial stage
    * recompute — the trap [[graft.operators.Curation.mixtureSample]]
    * documents), while a different `seed` yields an unrelated
    * permutation. Positions come from [[globalDenseRank]] over
    * `(key, id…)`: range-partition, rank locally, offset by
    * metadata-scale partition counts — and because any range partitioning
    * of the same total order assigns the same global positions, the
    * result is also INVARIANT to the partition count. `idCols` must
    * uniquely identify rows for the order to be total. Appends `outCol`
    * (BIGINT, 1-based training position).
    */
  def trainingShuffle(
      df: DataFrame,
      idCols: Seq[String],
      seed: String,
      outCol: String = "train_pos",
      partitions: Int = 0
  ): DataFrame = {
    require(idCols.nonEmpty, "trainingShuffle: need at least one id column")
    require(!df.columns.contains("_ts_key"),
      "trainingShuffle: reserved working column _ts_key already exists in the input")
    val key = md5(concat_ws("|", lit(seed) +: idCols.map(col): _*))
    globalDenseRank(
      df.withColumn("_ts_key", key),
      col("_ts_key").asc +: idCols.map(col(_).asc),
      outCol,
      partitions
    ).drop("_ts_key")
  }

  /** Deterministic STRATIFIED train/val SPLIT with EXACT per-stratum
    * proportions: within every stratum, rows are ordered by
    * `md5(seed | id…)` and the first `floor(n · trainPermille / 1000)`
    * become `train`, the rest `val`. [[Pack.hashSplit]]'s independent
    * per-row draw only hits the proportions in expectation — a small or
    * unlucky stratum can land far off; this operator hits them exactly,
    * the standard requirement for held-out eval slices per source or
    * language.
    *
    * Skew shape: the obvious `row_number().over(partitionBy(stratum))`
    * puts every row of a hot stratum into ONE window task — the exact
    * scale-killer [[graft.operators.Dedup.lineDedup]] was re-shaped to
    * avoid. Instead, positions come from [[globalDenseRank]] over
    * `(stratum, key, id…)` (range-partitioned, per-partition ranks +
    * metadata-scale offsets — a hot stratum spans MANY range partitions),
    * and the per-stratum position is recovered as `pos − min(pos)` via a
    * partial-aggregable groupBy joined back (build side 1 row/stratum, so
    * AQE can split a skewed probe). Like [[trainingShuffle]], the
    * assignment is content-addressed: identical across runs, engines,
    * partition counts, and retried tasks, and a different `seed` yields
    * an unrelated split. `idCols` must uniquely identify rows.
    *
    * The integer threshold `(n · trainPermille) DIV 1000` is exact BIGINT
    * math — no float boundary for an oracle to disagree on.
    */
  def stratifiedSplit(
      df: DataFrame,
      stratumCol: String,
      idCols: Seq[String],
      seed: String,
      trainPermille: Int = 800,
      outCol: String = "split",
      partitions: Int = 0
  ): DataFrame = {
    require(idCols.nonEmpty, "stratifiedSplit: need at least one id column")
    require(trainPermille >= 0 && trainPermille <= 1000,
      s"trainPermille must be in 0..1000: $trainPermille")
    val reserved = Seq("_ss_key", "_ss_pos", "_ss_s", "_ss_min", "_ss_n")
    require(reserved.forall(c => !df.columns.contains(c)),
      s"stratifiedSplit: reserved working column already exists (${reserved.mkString(", ")})")
    val key = md5(concat_ws("|", lit(seed) +: idCols.map(col): _*))
    val ranked = globalDenseRank(
      df.withColumn("_ss_key", key),
      col(stratumCol).asc +: col("_ss_key").asc +: idCols.map(col(_).asc),
      "_ss_pos",
      partitions)
    val strata = ranked
      .groupBy(col(stratumCol).as("_ss_s"))
      .agg(min("_ss_pos").as("_ss_min"), count(lit(1)).as("_ss_n"))
    // null-safe: a NULL stratum is a legitimate group (same contract as
    // Curation.temperatureMixtureSqrt's rate join)
    ranked
      .join(strata, col(stratumCol) <=> col("_ss_s"))
      .withColumn(
        outCol,
        when(
          col("_ss_pos") - col("_ss_min") <
            expr(s"(_ss_n * ${trainPermille}L) DIV 1000L"),
          lit("train")).otherwise(lit("val")))
      .drop("_ss_key", "_ss_pos", "_ss_s", "_ss_min", "_ss_n")
  }

  /** Bloom-filter SEMI-JOIN REDUCTION: filter the huge probe side down to
    * rows whose key MIGHT match the (small) build side before the join's
    * shuffle ever runs — the classic way to avoid shuffling 100 TB when
    * only a sliver survives the join. The filter is built driver-side
    * from the build keys (one aggregation; the build side is small by
    * contract), broadcast implicitly as a task binary, and applied as a
    * scan-side predicate.
    *
    * Guarantees NO false negatives (every matching row passes); false
    * positives at rate `fpp` pass through and are eliminated by the real
    * join afterwards — results are exact, only the shuffled volume is
    * probabilistic. AQE's runtime bloom filters do this automatically for
    * eligible shapes; this explicit operator covers the shapes it misses
    * (pre-aggregated builds, reuse across several joins, non-equi tails).
    *
    * Contract limits:
    *   - INNER / (LEFT-)SEMI joins of the filtered probe only. If the
    *     probe is the PRESERVED side of an outer join, prefiltering drops
    *     rows that should surface null-padded.
    *   - Key columns must share one data type (enforced): the hashes are
    *     computed pre-coercion, so an int-vs-long pair would silently
    *     hash differently and break the no-false-negative guarantee.
    *   - The serialized filter rides the plan as a binary literal
    *     (~1.2 MB/million keys at 1%): explain output and event logs
    *     carry it, so size `expectedBuildKeys` to the real build side.
    */
  def bloomPrefilter(
      probe: DataFrame,
      build: DataFrame,
      probeKey: String,
      buildKey: String,
      expectedBuildKeys: Long = 1000000L,
      fpp: Double = 0.01
  ): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    require(expectedBuildKeys > 0)
    // the hashes are computed PRE-coercion: differently-typed keys the
    // join would happily coerce (int 5 == bigint 5) hash to different
    // values and would silently drop every genuine match
    val pt = probe.schema(probeKey).dataType
    val bt = build.schema(buildKey).dataType
    require(pt == bt,
      s"bloomPrefilter: key types must match exactly (probe $probeKey: ${pt.sql}, " +
        s"build $buildKey: ${bt.sql}) — cast one side first, or the bloom silently " +
        "rejects genuine matches")
    // Spark's OWN bloom expressions (what AQE's runtime filter injects) —
    // native eval, no UDF: build with BloomFilterAggregate over xxhash64
    // of the key, probe with BloomFilterMightContain on a serialized-
    // filter literal.
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // the same sizing function BloomFilterAggregate uses internally
    val numBits = math.max(
      64L,
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedBuildKeys, fpp))
    // BloomFilterAggregate silently CLAMPS items/bits to these confs; a
    // clamped filter saturates (effective fpp → 1) and the "avoid the
    // shuffle" purpose silently dies — fail loudly instead
    val conf = build.sparkSession.conf
    val maxItems = conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedBuildKeys <= maxItems && numBits <= maxBits,
      s"bloomPrefilter: $expectedBuildKeys keys need $numBits bits at fpp=$fpp, beyond " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems/maxNumBits=$maxBits " +
        "(the aggregate would silently clamp and saturate) — raise the confs or the fpp")
    val buildHash = XxHash64(Seq(ColumnBridge.expression(col(buildKey))), 42L)
    val agg = new BloomFilterAggregate(
      buildHash, Literal(expectedBuildKeys), Literal(numBits))
    val bloomBytes = build
      .select(ColumnBridge.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (bloomBytes == null) return probe.where(lit(false)) // empty build side
    val probeHash = XxHash64(Seq(ColumnBridge.expression(col(probeKey))), 42L)
    val might = ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, org.apache.spark.sql.types.BinaryType), probeHash))
    // NULL probe keys can never equi-match; drop them like the join would
    probe.where(col(probeKey).isNotNull && might)
  }

  /** TWO-dimension clustered write (Z-order): rows sort by the Morton
    * interleave of both columns, so every output file covers a small
    * rectangle of the (a, b) space and parquet min/max statistics prune
    * row groups for range predicates on EITHER column — the property a
    * 1-D range-cluster gives only its one column (filters on the other
    * dimension hit every file). This is what table formats call
    * `OPTIMIZE ZORDER BY (a, b)`, as a plain-parquet writer.
    *
    * Both columns must be non-negative and fit in 31 bits (bucketize or
    * offset wider domains first — the interleave masks higher bits, which
    * would silently fold distant values together, so this is enforced).
    */
  /** Range-checked BIGINT dimension for the Z-order writers:
    * NULL/negative/overflow values fail loudly — the interleave masks
    * higher bits, which would silently fold distant values together.
    */
  private def checkedDim(opName: String, c: String, bits: Int): Column = {
    val maxV = (1L << bits) - 1
    val v = col(c).cast("long")
    when(v.isNull || v < 0 || v > maxV,
      raise_error(concat(
        lit(s"$opName: $c out of [0, 2^$bits) range: "), v.cast("string"))))
      .otherwise(v)
  }

  /** Shared tail of the Z-order writers: attach the sort key,
    * range-cluster on it, drop it, write.
    */
  private def zClusteredWrite(df: DataFrame, path: String, z: Column, partitions: Int): Unit = {
    require(!df.columns.contains("_z"),
      "z-ordered write: reserved working column '_z' already exists in the input")
    df.withColumn("_z", z)
      .repartitionByRange(partitions, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write
      .mode("overwrite")
      .parquet(path)
  }

  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      partitions: Int
  ): Unit = {
    val z = graft.functions.ScaleExpressions.zorder2(
      checkedDim("writeZOrdered", colA, 31), checkedDim("writeZOrdered", colB, 31))
    zClusteredWrite(df, path, z, partitions)
  }

  /** N-dimension clustered write (k-way Z-order, 2 ≤ k ≤ 8): rows sort
    * by the k-way Morton interleave with `62 / k` bits per column, so
    * every output file covers a small k-dimensional box and parquet
    * min/max statistics prune row groups for range predicates on ANY of
    * the k columns. Each column must be non-negative and fit in `62 / k`
    * bits (enforced — the interleave masks higher bits, which would
    * silently fold distant values together); bucketize wider domains
    * first. More dimensions = fewer bits each = coarser per-dimension
    * clustering: the usual Z-order trade-off.
    */
  def writeZOrderedN(
      df: DataFrame,
      path: String,
      cols: Seq[String],
      partitions: Int
  ): Unit = {
    require(cols.size >= 2 && cols.size <= 8,
      s"writeZOrderedN: 2 to 8 cluster columns required, got ${cols.size}")
    val bits = 62 / cols.size
    val z = graft.functions.ScaleExpressions.zorderN(
      cols.map(c => checkedDim("writeZOrderedN", c, bits)))
    zClusteredWrite(df, path, z, partitions)
  }

  /** MEASURED skew-aware equi-join: probe the skewed side's key
    * distribution ([[graft.plans.Profile.keySkewReport]]) and pick the
    * strategy from the numbers instead of asking the caller to know
    * their skew —
    *
    *   - top key's share < `saltThreshold`: plain equi-join. Moderate
    *     imbalance is AQE's job (runtime skew-split needs no replica
    *     explosion of the other side);
    *   - at/above: [[saltedEquiJoin]], with the factor sized from the
    *     measurement — about `share × parallelism`, so the hot key
    *     splits into roughly task-sized slices — capped at `maxFactor`
    *     (each unit of factor replicates the other side once).
    *
    * The probe is one count-aggregation over the skewed side: map-side
    * partial combine means the shuffle carries one row per (partition,
    * distinct key), metadata-scale next to the join it is sizing. On a
    * table too hot to probe exactly, pass a `.sample(...)` of the
    * skewed side as your own probe via `probeOverride`.
    */
  def joinSkewAware(
      skewed: DataFrame,
      other: DataFrame,
      skewedKey: String,
      otherKey: String,
      joinType: String = "inner",
      saltThreshold: Double = 0.2,
      maxFactor: Int = 32,
      probeOverride: Option[DataFrame] = None
  ): DataFrame = {
    require(saltThreshold > 0 && saltThreshold <= 1, s"bad saltThreshold $saltThreshold")
    require(maxFactor >= 2, s"maxFactor must allow at least one split, got $maxFactor")
    // fail fast on join types the salted branch cannot serve — otherwise
    // an outer join works for as long as the data stays uniform and
    // crashes the first day the measured share crosses the threshold
    val jt = joinType.toLowerCase.replace("_", "")
    require(
      Set("inner", "left", "leftouter").contains(jt),
      s"joinSkewAware supports inner/left joins only (got '$joinType'): " +
        "salting explodes the other side, which would null-pad outer variants per replica")
    // For an INNER join, NULL keys never match and Spark drops them
    // before the shuffle — measuring them would engage salting for
    // nothing. A LEFT join keeps (and shuffles) its null-key rows, so
    // there they are a genuine skew source and stay in the probe.
    val base = probeOverride.getOrElse(skewed)
    val probe = if (jt == "inner") base.where(col(skewedKey).isNotNull) else base
    val top = graft.plans.Profile
      .keySkewReport(probe, skewedKey, topK = 1)
      .select("share")
      .collect()
    val share = if (top.isEmpty) 0.0 else top.head.getDouble(0)
    if (share < saltThreshold)
      skewed.join(other, skewed(skewedKey) === other(otherKey), joinType)
    else {
      val parallelism = skewed.sparkSession.sparkContext.defaultParallelism
      val factor =
        math.min(maxFactor, math.max(2, math.ceil(share * parallelism).toInt))
      saltedEquiJoin(skewed, other, skewedKey, otherKey, factor, joinType)
    }
  }

  /** K-MINIMUM-VALUES distinct-count sketch per group: the mergeable
    * cardinality primitive ("how many distinct tokens / users / URLs
    * per domain?") for inputs whose per-group value sets are far too
    * large to count exactly at 100 TB. Keeps each group's `k` smallest
    * value hashes; with `R` = the k-th smallest hash on a `[0, 2^52)`
    * scale, the standard KMV estimator is `(k−1) · 2^52 / R`
    * (Bar-Yossef et al., "Counting distinct elements in a data
    * stream"). Groups with fewer than `k` distinct hashes report their
    * EXACT count — the estimator's own below-k rule.
    *
    * Every arithmetic step is exact-integer so a SQL oracle can replay
    * it bit-for-bit: the hash is the first 13 hex digits of `md5`
    * (52 bits — lexicographic hex order IS numeric order, and both
    * engines print lowercase), and the estimate is one BIGINT integer
    * division `(k−1)·2^52 DIV kth_hash` — no doubles anywhere.
    *
    * Scale shape: the hash projection is row-local, and the k-smallest
    * DISTINCT cut is [[graft.functions.KmvSketchAgg]] — a custom
    * Catalyst `TypedImperativeAggregate` whose bounded buffer reduces
    * every map-side partition to at most `k` longs per group BEFORE the
    * one exchange, then merges buffers on the reduce side (the
    * associative sketch union). The shuffle therefore carries
    * `|groups| × k` longs per partition — never the corpus's distinct
    * value set, which a `distinct().groupBy()` formulation would drag
    * through the wire in full just to keep `k` rows of it. Output rows
    * are one per group: metadata-scale. The kept hash array IS the
    * mergeable KMV summary — union two sketches and re-cut to `k` to
    * merge (what a multi-day incremental rollup would do).
    */
  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      valueCol: Column,
      k: Int
  ): DataFrame = {
    require(k > 1 && k <= 2048, s"kmvDistinct: k must be in [2, 2048], got $k")
    val reserved = Seq("_h", "_kept", "n_kept", "kth_hash", "est_distinct")
    require(reserved.forall(c => !df.columns.contains(c)),
      s"kmvDistinct: reserved working column already exists (${reserved.mkString(", ")})")
    require(!reserved.contains(groupCol),
      s"kmvDistinct: group column $groupCol collides with an output column")
    kmvEstimate(
      df.select(col(groupCol), kmvHash(valueCol).as("_h"))
        .where(col("_h").isNotNull) // null values carry no identity — skip
        .groupBy(col(groupCol))
        .agg(graft.functions.SketchExpressions.kmv_sketch(col("_h"), k).as("_kept")),
      groupCol, k)
  }

  /** The 52-bit md5-prefix hash shared by every KMV face —
    * [[graft.functions.Md5Prefix52Expr]], value-identical to the
    * `conv(substring(md5(…), 1, 13), 16, 10)` SQL the oracles replay
    * but computed digest-to-long (the sketch queries are
    * hash-throughput bound, so the hex round-trip was the cost model).
    */
  private def kmvHash(valueCol: Column): Column =
    graft.functions.ScaleExpressions.md5Prefix52(valueCol.cast("string"))

  /** The KMV estimator tail over `(groupCol, _kept ARRAY<LONG>)`. */
  private def kmvEstimate(sketched: DataFrame, groupCol: String, k: Int): DataFrame = {
    val numerator = (k - 1).toLong << 52 // k ≤ 2048 keeps this < 2^63
    sketched
      .select(
        col(groupCol),
        size(col("_kept")).cast("long").as("n_kept"),
        element_at(col("_kept"), size(col("_kept"))).as("kth_hash"))
      .select(
        col(groupCol),
        col("n_kept"),
        col("kth_hash"),
        // below k distinct → exact; kth_hash = 0 is unreachable there
        // (distinct hashes, k ≥ 2 ⇒ the max of ≥ 2 values exceeds 0)
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"${numerator}L DIV kth_hash"))
          .as("est_distinct"))
  }

  /** Per-group KMV sketch ARRAYS — the persistable mergeable summary a
    * multi-shard/multi-day rollup stores per `(group…, shard)` row:
    * the `k` smallest distinct 52-bit value hashes, ascending. Feed
    * the stored arrays to [[kmvMerge]] to roll shards up to per-group
    * estimates without revisiting the data — the shape that turns a
    * 100 TB "distinct per domain, updated daily" job into one
    * sketch-build per new day plus a metadata-scale merge.
    */
  def kmvSketch(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      k: Int
  ): DataFrame = {
    require(k > 1 && k <= 2048, s"kmvSketch: k must be in [2, 2048], got $k")
    require(groupCols.nonEmpty, "kmvSketch: need at least one group column")
    val reserved = Seq("_h", "kmv_sketch")
    require(reserved.forall(c => !df.columns.contains(c) && !groupCols.contains(c)),
      s"kmvSketch: reserved working column already exists (${reserved.mkString(", ")})")
    df.select(groupCols.map(col) :+ kmvHash(valueCol).as("_h"): _*)
      .where(col("_h").isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.SketchExpressions.kmv_sketch(col("_h"), k).as("kmv_sketch"))
  }

  /** MERGE per-shard KMV sketches up to per-group estimates: union the
    * kept hashes and re-cut to the `k` smallest distinct — by the KMV
    * union property this equals sketching the union of the raw data
    * directly (any hash among the global k smallest is necessarily
    * among its own shard's k smallest), so the output is IDENTICAL to
    * [[kmvDistinct]] over the combined input, row for row. Input cost
    * is `|sketch rows| × k` longs — metadata-scale — regardless of the
    * corpus the sketches summarize; the same `kmv_sketch` aggregate
    * performs the re-cut with map-side-bounded buffers. `k` must be
    * the k the sketches were built with (a larger k would under-fill
    * from summaries that already discarded hashes and silently
    * misreport exactness).
    */
  def kmvMerge(
      sketches: DataFrame,
      groupCol: String,
      sketchCol: String,
      k: Int
  ): DataFrame = {
    require(k > 1 && k <= 2048, s"kmvMerge: k must be in [2, 2048], got $k")
    val reserved = Seq("_h", "_kept", "n_kept", "kth_hash", "est_distinct")
    require(reserved.forall(c => !sketches.columns.contains(c)),
      s"kmvMerge: reserved working column already exists (${reserved.mkString(", ")})")
    require(!reserved.contains(groupCol),
      s"kmvMerge: group column $groupCol collides with an output column")
    kmvEstimate(
      sketches.select(col(groupCol), explode(col(sketchCol)).as("_h"))
        .groupBy(col(groupCol))
        .agg(graft.functions.SketchExpressions.kmv_sketch(col("_h"), k).as("_kept")),
      groupCol, k)
  }

  /** PAIRWISE SET-OVERLAP estimates from stored KMV sketches — which
    * group pairs share content, without revisiting the data (Beyer et
    * al., SIGMOD 2007: the k smallest hashes of A ∪ B are computable
    * from the two sketches alone, the fraction of them present in BOTH
    * sketches estimates the Jaccard similarity, and intersection size
    * follows as `jaccard × |A ∪ B|`). This is the cross-corpus dedup
    * PLANNING query: at 100 TB the sketch table is metadata-scale
    * (|groups| × k longs), so ranking source pairs by shared shingle
    * volume costs a broadcast self-join over sketches instead of a
    * corpus-scale pair join.
    *
    * For each pair (a < b): `n_common` = kept hashes of the combined
    * sketch present in both sides, `union_est` = the KMV estimate of
    * |A ∪ B| (exact below k, like [[kmvDistinct]]), `inter_est` =
    * `n_common · (union_est DIV m)` and `jaccard_micro` =
    * `n_common · 10⁶ DIV m` with `m = min(k, |combined|)` — all
    * exact-integer, engine-replayable arithmetic. Estimates carry KMV's
    * usual ~1/√k relative error; below-k pairs are exact by the same
    * argument as [[kmvDistinct]].
    */
  def kmvOverlap(
      sketches: DataFrame,
      groupCol: String,
      sketchCol: String,
      k: Int
  ): DataFrame = {
    require(k > 1 && k <= 2048, s"kmvOverlap: k must be in [2, 2048], got $k")
    val out = Seq(s"${groupCol}_a", s"${groupCol}_b",
      "n_common", "union_est", "inter_est", "jaccard_micro")
    require(!out.contains(groupCol),
      s"kmvOverlap: group column $groupCol collides with an output column")
    val numerator = (k - 1).toLong << 52
    val a = sketches.select(
      col(groupCol).as(s"${groupCol}_a"), col(sketchCol).as("_ov_a"))
    val b = sketches.select(
      col(groupCol).as(s"${groupCol}_b"), col(sketchCol).as("_ov_b"))
    a.join(broadcast(b), col(s"${groupCol}_a") < col(s"${groupCol}_b"))
      .withColumn("_ov_u",
        slice(array_sort(array_union(col("_ov_a"), col("_ov_b"))), 1, k))
      .withColumn("_ov_m", size(col("_ov_u")).cast("long"))
      .withColumn("_ov_c",
        size(filter(col("_ov_u"),
          h => array_contains(col("_ov_a"), h) && array_contains(col("_ov_b"), h)))
          .cast("long"))
      .withColumn("union_est",
        when(col("_ov_m") < k, col("_ov_m"))
          .otherwise(expr(s"${numerator}L DIV element_at(_ov_u, CAST(_ov_m AS INT))")))
      .select(
        col(s"${groupCol}_a"),
        col(s"${groupCol}_b"),
        col("_ov_c").as("n_common"),
        col("union_est"),
        (col("_ov_c") * expr("union_est DIV _ov_m")).as("inter_est"),
        expr("_ov_c * 1000000L DIV _ov_m").as("jaccard_micro"))
  }

  /** TOP-K ROWS PER GROUP without a window: the
    * `row_number() OVER (PARTITION BY group ORDER BY ord DESC, tag)
    * <= k` answer computed by [[graft.functions.TopKPairsAgg]] — a
    * bounded-buffer Catalyst aggregate whose map side reduces every
    * partition to at most `k` `(ord, tag)` pairs per group BEFORE the
    * exchange (shuffle volume `|groups| × k × 16` bytes per partition,
    * never the corpus), then `posexplode`s the best-first array back
    * to rows with an explicit 1-based `rank`. The window formulation
    * shuffles and sorts EVERY corpus row into its group's partition
    * just to discard all but `k`, and serializes each hot group on one
    * task — this shape's per-group cost is flat by construction, the
    * third member of the window-skew audit family (capPerGroup's
    * two-phase cut, globalDenseRank's range walk) and the one to
    * prefer when k is small and both sort key and tie-break fit in a
    * LONG. `tagCol` must be unique per row (the same precondition
    * that makes `row_number` deterministic); both columns are cast to
    * LONG by the caller's expressions.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCol: String,
      ordCol: Column,
      tagCol: Column,
      k: Int,
      ordName: String = "ord",
      tagName: String = "tag"
  ): DataFrame = {
    require(k >= 1 && k <= 65536, s"topKPerGroup: k must be in [1, 65536], got $k")
    val outCols = Seq("rank", ordName, tagName)
    require(outCols.distinct.size == outCols.size && !outCols.contains(groupCol),
      s"topKPerGroup: output columns must be distinct from each other and from " +
        s"$groupCol (got ${outCols.mkString(", ")})")
    require(!df.columns.contains("_tk") && groupCol != "_tk",
      "topKPerGroup: reserved working column _tk already exists")
    // the LONG casts must be lossless: a fractional/string ord or tag
    // would cast to null (or truncate) and the aggregate SKIPS nulls —
    // silent row loss, not an error — so reject non-integral inputs here
    Seq(("ord", ordCol), ("tag", tagCol)).foreach { case (role, c) =>
      val dt = df.select(c).schema.head.dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"topKPerGroup: $role column must be an integral type, got ${dt.typeName}")
    }
    df.groupBy(col(groupCol))
      .agg(graft.functions.SketchExpressions
        .topk_pairs(ordCol.cast("long"), tagCol.cast("long"), k).as("_tk"))
      .select(col(groupCol), posexplode(col("_tk")))
      .select(
        col(groupCol),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.ord").as(ordName),
        col("col.tag").as(tagName))
  }

  /** DETERMINISTIC per-group uniform sample of `k` rows — the "pull a
    * fixed-size eyeball sample of every domain / source / shard" stage
    * of corpus QA, where `sample(fraction)` is useless (hot groups
    * drown cold ones; fractions can't promise "k per group") and any
    * RNG-based pick is irreproducible across reruns and engines.
    * Each row's priority is the 52-bit md5 prefix of `"seed:id"` — a
    * uniform but fully deterministic permutation of the group, reseeded
    * wholesale by changing `seed` — and the sample is the `k`
    * highest-priority rows, ranked. Exact-integer end to end (the
    * [[kmvDistinct]] hash idiom), so a SQL oracle replays it
    * bit-for-bit.
    *
    * Scale shape: the priority is row-local codegen'd md5; the cut is
    * [[topKPerGroup]]'s bounded aggregate, so every map-side partition
    * forwards at most `k` `(priority, id)` pairs per group into the one
    * exchange — per-group cost is flat regardless of group size, the
    * reservoir-sampling distributed shape (priority sampling; the
    * `row_number` formulation would shuffle and sort every corpus row
    * into its group just to keep `k`). `idCol` must be unique per row:
    * it is both the sampling unit and the tie-break, and duplicate ids
    * would collapse into one kept pair.
    */
  def groupSample(
      df: DataFrame,
      groupCol: String,
      idCol: Column,
      k: Int,
      seed: String,
      idName: String = "id"
  ): DataFrame = {
    require(!df.columns.contains("_pri") && groupCol != "_pri",
      "groupSample: reserved working column _pri already exists")
    topKPerGroup(
      df.withColumn("_pri",
        graft.functions.ScaleExpressions.md5Prefix52(
          concat_ws(":", lit(seed), idCol.cast("string")))),
      groupCol, col("_pri"), idCol, k,
      ordName = "priority", tagName = idName)
  }

  /** Deterministic WEIGHTED per-group sample of `k` rows by PRIORITY
    * SAMPLING (Duffield, Lund & Thorup, "Priority sampling for
    * estimation of arbitrary subset sums", JACM 2007): each row gets
    * priority `q = w / u` for a uniform `u ∈ (0, 1]`, and the sample is
    * the `k` highest-priority rows — heavier rows surface more often,
    * lighter rows still can, and the scheme supports unbiased
    * subset-sum estimation from the kept priorities. The "pull an
    * eyeball sample weighted by token count / quality score" stage of
    * corpus QA.
    *
    * Determinism and cross-engine replay: `u` is derived from the
    * 52-bit md5 prefix of `"seed:id"` ([[groupSample]]'s idiom) cut to
    * 31 bits — `u = (⌊h/2^21⌋ + 1) / 2^31` — and the priority is the
    * exact BIGINT `⌊(w · 2^31) / (⌊h/2^21⌋ + 1)⌋`: integer arithmetic
    * end to end, so a SQL oracle replays it bit-for-bit (the floor
    * costs nothing statistically; 31 uniform bits is far beyond what a
    * k-of-group sample can distinguish). Rows with non-positive weight
    * are excluded (zero weight must never be sampled; the division
    * would also lose them to priority 0 ties). `weightCol` must stay
    * below 2^31 so the shifted product cannot overflow a BIGINT.
    *
    * Scale shape: priority is row-local codegen'd md5 + two integer
    * ops; the cut is [[topKPerGroup]]'s bounded aggregate — at most `k`
    * `(priority, id)` pairs per group leave each map-side partition,
    * flat per-group cost however hot the group.
    */
  def weightedGroupSample(
      df: DataFrame,
      groupCol: String,
      idCol: Column,
      weightCol: String,
      k: Int,
      seed: String,
      idName: String = "id"
  ): DataFrame = {
    val reserved = Seq("_h", "_pri")
    require(reserved.forall(c => !df.columns.contains(c) && groupCol != c),
      s"weightedGroupSample: reserved working column already exists (${reserved.mkString(", ")})")
    require(df.columns.contains(weightCol),
      s"weightedGroupSample: weight column $weightCol not found")
    topKPerGroup(
      df.where(col(weightCol) > 0)
        .withColumn("_h",
          graft.functions.ScaleExpressions.md5Prefix52(
            concat_ws(":", lit(seed), idCol.cast("string"))))
        .withColumn("_pri", expr(
          // weights at or above 2^31 would overflow the shifted product
          // SILENTLY (negative priorities) — fail loudly instead
          s"""CASE WHEN CAST($weightCol AS BIGINT) >= 2147483648
             |THEN CAST(raise_error(concat(
             |  'weightedGroupSample: weight must be below 2^31, got ',
             |  CAST($weightCol AS STRING))) AS BIGINT)
             |ELSE shiftleft(CAST($weightCol AS BIGINT), 31)
             |     DIV (shiftright(_h, 21) + 1) END""".stripMargin)),
      groupCol, col("_pri"), idCol, k,
      ordName = "priority", tagName = idName)
  }

  /** TOP-K FREQUENT ITEMS per group — "most common tokens / URLs /
    * error codes per domain" — by the SpaceSaving sketch
    * ([[graft.functions.FreqItemsAgg]]): one bounded counter map per
    * group inside the map-side aggregate, so each partition forwards at
    * most `capacity` counters per group into the one exchange instead
    * of shuffling the full `(group, item)` pair corpus that the
    * `groupBy(group, item).count()` formulation drags through the wire
    * (that shape's shuffle is corpus-vocabulary-sized, and the second
    * top-k cut costs another exchange). Counts are EXACT with `err` = 0
    * while each group's distinct-item count fits `capacity`; beyond it
    * they become SpaceSaving estimates (`cnt − err ≤ true ≤ cnt`) and
    * tail membership turns arrival-order dependent — size `capacity`
    * to the expected per-group vocabulary when exactness matters.
    * Output: `(group, rank, item, cnt, err)`, rank 1-based in
    * `cnt` DESC / `item` ASC order.
    */
  def freqItemsPerGroup(
      df: DataFrame,
      groupCol: String,
      itemCol: Column,
      k: Int,
      capacity: Int,
      itemName: String = "item"
  ): DataFrame = {
    require(k >= 1 && k <= capacity,
      s"freqItemsPerGroup: need 1 <= k <= capacity, got k=$k capacity=$capacity")
    val outCols = Seq("rank", itemName, "cnt", "err")
    require(outCols.distinct.size == outCols.size && !outCols.contains(groupCol),
      s"freqItemsPerGroup: output columns must be distinct from each other and from " +
        s"$groupCol (got ${outCols.mkString(", ")})")
    require(!df.columns.contains("_fi") && groupCol != "_fi",
      "freqItemsPerGroup: reserved working column _fi already exists")
    df.groupBy(col(groupCol))
      .agg(graft.functions.SketchExpressions.freq_items(itemCol, capacity).as("_fi"))
      .select(col(groupCol), posexplode(slice(col("_fi"), 1, k)))
      .select(
        col(groupCol),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as(itemName),
        col("col.cnt").as("cnt"),
        col("col.err").as("err"))
  }

  /** COUNT-MIN SKETCH build (Cormode & Muthukrishnan 2005, re-derived
    * with the repo's oracle-replicable md5 hash rows): `depth`
    * independent hash rows of `width` buckets each; every occurrence
    * of a key increments one cell per row. Stored SPARSE as
    * `(row_idx, bucket, cnt)` — absent cells are zero, so the sketch
    * table is at most `depth · width` rows no matter how many
    * occurrences it summarizes (the fixed-size-summary property that
    * lets a 100 TB token-frequency profile live in a broadcastable
    * table). Point estimates ([[countMinEstimate]]) carry the classic
    * one-sided guarantee: `true ≤ est ≤ true + ε·N` with
    * ε = e/width at failure probability e^-depth — estimates NEVER
    * undercount, so a "frequency ≥ τ" curation filter built on the
    * sketch has no false negatives.
    *
    * Determinism: row `i`'s hash is the 52-bit md5 prefix of
    * `"<salt><i>:<key>"` mod `width` ([[graft.functions.Text.md5PrefixLong]],
    * the KMV/Bloom idiom) — exact integers end to end, every engine
    * replays the identical cells. Width is bounded by the same 2⁴²
    * uniformity argument as [[graft.operators.Bloom]]: past that the
    * mod eats too much of the 52-bit range.
    *
    * Scale shape: one partial-aggregable groupBy over (row, bucket) —
    * map-side combine collapses each partition to ≤ depth·width cells
    * before the shuffle, so the reduce stage is sketch-sized, not
    * data-sized. Sketches over shards/days SUM cell-wise
    * ([[countMinMerge]]): the merged sketch equals the sketch of the
    * concatenated data exactly, the property that makes the daily
    * rollup a metadata-scale job.
    */
  def countMinBuild(
      df: DataFrame,
      keyCol: Column,
      depth: Int,
      width: Long,
      salt: String = "cm"
  ): DataFrame = {
    require(depth >= 1 && depth <= 16,
      s"countMinBuild: depth must be in [1, 16], got $depth")
    require(width >= 2 && width <= (1L << 42),
      s"countMinBuild: width must be in [2, 2^42] (52-bit-hash uniformity bound), got $width")
    val keyed = df.select(keyCol.cast("string").as("_k")).where(col("_k").isNotNull)
    val cells = (0 until depth).map { i =>
      struct(
        lit(i).as("row_idx"),
        (graft.functions.Text
          .md5PrefixLong(concat(lit(s"$salt$i:"), col("_k")), 13) % width).as("bucket"))
    }
    keyed
      .select(explode(array(cells: _*)).as("_c"))
      .groupBy(col("_c.row_idx").as("row_idx"), col("_c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise SUM of two count-min sketches built with the same
    * (depth, width, salt) — exactly the sketch of the concatenated
    * inputs (each cell is a plain counter). Metadata-scale: the join
    * space is ≤ depth·width cells regardless of summarized volume.
    */
  def countMinMerge(a: DataFrame, b: DataFrame): DataFrame =
    countMinRollup(a.unionByName(b))

  /** N-ary [[countMinMerge]]: roll any number of stacked sketch shards
    * (e.g. the per-batch rows a streamed maintenance appends) up to one
    * sketch — the same cell-wise sum, one partial-aggregable groupBy
    * over ≤ shards·depth·width rows.
    */
  def countMinRollup(shards: DataFrame): DataFrame =
    shards
      .groupBy(col("row_idx"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** [[countMinRollup]] that PRESERVES shard key columns (e.g. the day
    * column of [[countMinSharded]]): cell-wise sums within each shard
    * group, so per-(batch, day) stream appends collapse to one sketch
    * row set per day. Same partial-aggregable shape, ≤ groups·depth·
    * width rows out.
    */
  def countMinRollupBy(shards: DataFrame, groupCols: Seq[String]): DataFrame =
    shards
      .groupBy((groupCols :+ "row_idx" :+ "bucket").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** TIME-SHARDED count-min build — the all-time sketch answers
    * "frequency ever", a training-data freshness gate needs "frequency
    * in the last N days": one [[countMinBuild]]-identical sketch per
    * value of `shardCol` (a day string, an hour bucket, an ingest
    * batch), returned stacked as `(shardName, row_idx, bucket, cnt)`.
    * Because cells are plain counters, the rollup of any shard SUBSET
    * ([[countMinWindow]]) equals the sketch built over exactly those
    * shards' rows — the [[countMinMerge]] concat property applied to a
    * time filter — so a sliding window is a metadata-scale rollup over
    * ≤ days·depth·width rows, never a re-scan of the corpus, and a new
    * day appends one shard while old days age out by predicate.
    *
    * Scale shape: identical to [[countMinBuild]] with the shard key in
    * the groupBy — one partial-aggregable pass, map-side combine
    * collapses each partition to ≤ shards·depth·width cells.
    */
  def countMinSharded(
      df: DataFrame,
      shardCol: Column,
      shardName: String,
      keyCol: Column,
      depth: Int,
      width: Long,
      salt: String = "cm"
  ): DataFrame = {
    require(depth >= 1 && depth <= 16,
      s"countMinSharded: depth must be in [1, 16], got $depth")
    require(width >= 2 && width <= (1L << 42),
      s"countMinSharded: width must be in [2, 2^42], got $width")
    val reserved = Seq("_k", "row_idx", "bucket", "cnt")
    require(!reserved.contains(shardName),
      s"countMinSharded: shardName '$shardName' collides with a reserved " +
        s"working column (${reserved.mkString(", ")})")
    require(reserved.forall(c => !df.columns.contains(c)),
      s"countMinSharded: input already has a reserved working column " +
        s"(${reserved.mkString(", ")})")
    val keyed = df
      .select(shardCol.as(shardName), keyCol.cast("string").as("_k"))
      .where(col("_k").isNotNull && col(shardName).isNotNull)
    val cells = (0 until depth).map { i =>
      struct(
        lit(i).as("row_idx"),
        (graft.functions.Text
          .md5PrefixLong(concat(lit(s"$salt$i:"), col("_k")), 13) % width).as("bucket"))
    }
    keyed
      .select(col(shardName), explode(array(cells: _*)).as("_c"))
      .groupBy(col(shardName), col("_c.row_idx").as("row_idx"), col("_c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Window face over [[countMinSharded]] shards: the rolled-up sketch
    * of every shard matching `shardPred` — exactly the sketch of the
    * window's rows (cell sums are associative/commutative), probe-able
    * by [[countMinEstimate]] with the build's (depth, width, salt).
    */
  def countMinWindow(shards: DataFrame, shardPred: Column): DataFrame =
    countMinRollup(shards.where(shardPred).select("row_idx", "bucket", "cnt"))

  /** HYPERLOGLOG register sketch (Flajolet et al. 2007, re-derived
    * oracle-replicable): the 52-bit md5 value hash splits into a
    * bucket (`h mod m`) and a 52−log₂m-bit suffix `w`; the register is
    * the max over the bucket's values of `rank = (leading zeros of w)
    * + 1`, computed EXACTLY as `zeroRank − length(bin(w))` (`bin` —
    * binary-without-leading-zeros — is the one bit-length primitive
    * Spark and DuckDB share, so the oracle replays registers
    * bit-for-bit; `w = 0` ⇒ the all-zeros suffix ⇒ rank = zeroRank).
    * Stored SPARSE as `(group…, bucket, register)` — absent buckets
    * are register 0 — so a group's summary is ≤ m rows no matter the
    * data, and shards MERGE by register-wise max ([[hllRollup]]),
    * which equals sketching the union exactly (max is idempotent,
    * commutative, associative): the fourth mergeable sketch after
    * KMV/Bloom/count-min, with the classic trade: KMV pays k longs for
    * ±1/√k relative error, HLL pays m REGISTERS (bytes, not longs)
    * for ±1.04/√m — the memory-optimal choice when millions of groups
    * each carry a sketch.
    *
    * Complements [[kmvDistinct]] rather than replacing it: KMV also
    * supports set-OVERLAP estimates ([[kmvOverlap]]) which registers
    * cannot, HLL wins on summary bytes per group.
    */
  def hllSketch(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      m: Int = 64,
      salt: String = "hll"
  ): DataFrame = {
    val logM = hllCheckM("hllSketch", m)
    require(groupCols.nonEmpty, "hllSketch: need at least one group column")
    val reserved = Seq("_h", "_w", "bucket", "register")
    require(reserved.forall(c => !df.columns.contains(c) && !groupCols.contains(c)),
      s"hllSketch: reserved working column already exists (${reserved.mkString(", ")})")
    val zeroRank = 53 - logM // suffix bits (52 - logM) + 1
    df.select(groupCols.map(col) :+
        graft.functions.Text
          .md5PrefixLong(concat(lit(s"$salt:"), valueCol.cast("string")), 13).as("_h"): _*)
      .where(col("_h").isNotNull)
      .select(groupCols.map(col) :+
        (col("_h") % m).as("bucket") :+ expr(s"_h DIV $m").as("_w"): _*)
      .select(groupCols.map(col) :+ col("bucket") :+
        when(col("_w") === 0L, lit(zeroRank.toLong))
          .otherwise(lit(zeroRank.toLong) - length(bin(col("_w"))))
          .as("register"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("register")).as("register"))
  }

  /** Register-wise MAX of stacked HLL shards — exactly the sketch of
    * the union (the n-ary merge; metadata-scale like [[countMinRollup]]).
    */
  def hllRollup(shards: DataFrame, groupCols: Seq[String]): DataFrame =
    shards
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("register")).as("register"))

  /** Distinct-count estimates from [[hllSketch]] rows — EXACT-INTEGER
    * in-engine (the KMV `DIV` discipline, no float reduction anywhere):
    * the harmonic-mean denominator is computed in units of
    * 2^−zeroRank, so each register contributes the BIGINT
    * `2^(zeroRank − M)` and absent buckets contribute `2^zeroRank`
    * (register 0) — a sum of exact powers of two, order-free — and the
    * raw estimate is `round(α_m·m²)·2^zeroRank DIV S` (one integer
    * division; rounding α into the scaled constant costs ≪ the
    * sketch's own 1.04/√m error). The small-range branch (raw ≤ 5m/2
    * with empty buckets) is Flajolet's linear counting `m·ln(m/V)` —
    * and since V ∈ [1, m−1] with m a KNOB, the whole branch is a
    * DRIVER-COMPUTED literal table `V → round(m·ln(m/V))` looked up by
    * `element_at` (the ADC map-literal idiom): no engine evaluates a
    * transcendental, so any engine replaying the recipe agrees
    * bit-for-bit. The 2^32 large-range correction of the paper is
    * moot: 52-bit hashes collide at ~2^26 DISTINCT per bucket, far
    * past any per-group cardinality this sketch is sized for.
    *
    * Returns `(group…, v_zero, s_scaled, est_distinct)` — the two
    * intermediates are kept in the output so a stored estimate is
    * auditable against its own registers.
    */
  def hllEstimate(sketch: DataFrame, groupCols: Seq[String], m: Int): DataFrame = {
    val logM = hllCheckM("hllEstimate", m)
    require(groupCols.nonEmpty, "hllEstimate: need at least one group column")
    val zeroRank = 53 - logM
    // Guard the caller's m against the SKETCH (the ivfPqTopK stored-m
    // discipline): estimates are only meaningful under the m the
    // registers were built with, and a mismatch returns silently-wrong
    // numbers, not an error. The guard is LAZY — a per-row raise_error
    // fused into the estimate's own aggregation pass, so the sketch
    // lineage is evaluated exactly once (the eager-agg variant was a
    // second full evaluation of an unmaterialized build — a measured
    // ~3× on q165 at 100× scale). Coverage is unchanged and one-sided:
    // every LARGER-m build is caught (its buckets exceed the claimed m,
    // or its registers exceed the claimed suffix rank), while a
    // smaller-m build fits the larger bounds and passes — which is why
    // m must be persisted alongside any stored sketch (the
    // countMinEstimate knob discipline).
    val guarded = sketch.select(groupCols.map(col) :+
      when(
        col("bucket") >= m || col("bucket") < 0 ||
          col("register") > zeroRank || col("register") < 1,
        raise_error(format_string(
          s"hllEstimate: sketch cell (bucket=%s, register=%s) is outside the " +
            s"m=$m bounds (bucket in [0, ${m - 1}], register in [1, $zeroRank]) " +
            "— the sketch was built with a different m",
          col("bucket"), col("register"))))
        .otherwise(col("register")).as("register"): _*)
    val numer = hllAlphaM2(m) * (1L << zeroRank) // ≤ 2^62.6 at m = 1024
    val linear: Column = {
      val entries = (1 until m).flatMap { v =>
        Seq(lit(v), lit(math.round(m.toDouble * math.log(m.toDouble / v))))
      }
      element_at(map(entries: _*), col("v_zero").cast("int"))
    }
    guarded
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($zeroRank - register AS INT))")).as("_sp"))
      .select(groupCols.map(col) :+
        (lit(m.toLong) - col("_present")).as("v_zero") :+
        (col("_sp") + (lit(m.toLong) - col("_present")) * lit(1L << zeroRank)).as("s_scaled"): _*)
      .withColumn("_raw", expr(s"${numer}L DIV s_scaled"))
      .withColumn(
        "est_distinct",
        when(col("_raw") <= lit(5L * m / 2) && col("v_zero") > 0L, linear)
          .otherwise(col("_raw")))
      .drop("_raw")
  }

  /** α_m·m² rounded to a BIGINT (Flajolet's bias constants). */
  private[graft] def hllAlphaM2(m: Int): Long = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    math.round(alpha * m.toDouble * m.toDouble)
  }

  private def hllCheckM(caller: String, m: Int): Int = {
    require(m >= 16 && m <= 1024 && Integer.bitCount(m) == 1,
      s"$caller: m must be a power of two in [16, 1024], got $m " +
        "(16 keeps the bias constants valid; 1024 keeps the scaled " +
        "numerator under 2^63)")
    Integer.numberOfTrailingZeros(m)
  }

  /** Point-frequency estimates from a [[countMinBuild]] sketch: for
    * each distinct probe key, `est = min over rows of cell(row,
    * h_row(key))`, absent cells read as 0 (the sparse encoding). The
    * probe keys' cells are computed with the identical salted md5
    * rows, the sketch side joins broadcast while its populated cell
    * count stays under `maxBroadcastCells` (a high-depth, high-width
    * sketch can exceed the broadcast/driver budget — [[countMinBuild]]
    * permits width up to 2⁴²) and falls back to a plain shuffle join
    * past it, and the min is one partial-aggregable groupBy per key.
    * Returns `(key, cm_est)`.
    *
    * The (depth, width, salt) triple must be the BUILD's — a mismatch
    * probes the wrong cells. Knob drift is caught by a LAZY per-row
    * guard fused into the sketch side of the probe join: any cell
    * whose `row_idx` or `bucket` falls outside the claimed bounds
    * raises at execution, in the SAME single evaluation of the sketch
    * lineage that feeds the join — no separate validation agg, no
    * second pass (the eager-agg variant re-evaluated q161's two-half
    * merged build and cost a measured 4× at 100× scale). The check
    * stays one-sided, and the asymmetry matters: a sketch built at a
    * SMALLER depth than claimed passes the guard (its cells all fit
    * the larger bounds) and the absent rows read as 0, so the min
    * UNDERCOUNTS — claiming depth 8 over a depth-4 build returns 0
    * for every key, silently voiding the `est ≥ true` guarantee, not
    * just weakening it. Larger-than-claimed builds are caught (their
    * `row_idx` ≥ claimed depth trips the guard); width/salt drift has
    * no in-sketch witness at all (every bucket of a narrow build is a
    * legal bucket of a wide one, and salts leave no residue). This is
    * exactly why the knobs MUST be persisted alongside any stored
    * sketch — the guard is a tripwire for one drift direction, not a
    * substitute for carrying (depth, width, salt) with the data.
    *
    * The broadcast gate is static: populated cells ≤ depth·width by
    * construction, so `depth·width ≤ maxBroadcastCells` decides the
    * join strategy with NO extra action on the sketch. Conservative
    * for a sparsely-populated ultra-wide sketch (it takes the shuffle
    * path even if few cells are live), but free — and the sketch
    * lineage is evaluated exactly once either way.
    */
  def countMinEstimate(
      probes: DataFrame,
      keyCol: Column,
      sketch: DataFrame,
      depth: Int,
      width: Long,
      salt: String = "cm",
      maxBroadcastCells: Long = 1L << 22
  ): DataFrame = {
    require(depth >= 1 && depth <= 16,
      s"countMinEstimate: depth must be in [1, 16], got $depth")
    require(width >= 2 && width <= (1L << 42),
      s"countMinEstimate: width must be in [2, 2^42], got $width")
    // Lazy knob guard: evaluated per sketch row inside the join's own
    // pass — the sketch lineage runs exactly once (see scaladoc).
    val guarded = sketch.select(
      col("row_idx"), col("bucket"),
      when(
        col("row_idx") >= depth || col("row_idx") < 0 ||
          col("bucket") >= width || col("bucket") < 0,
        raise_error(format_string(
          s"countMinEstimate: sketch cell (row_idx=%s, bucket=%s) is outside " +
            s"the claimed depth=$depth, width=$width — the sketch was built " +
            "with different knobs",
          col("row_idx"), col("bucket"))))
        .otherwise(col("cnt")).as("cnt"))
    val keyed = probes.select(keyCol.cast("string").as("key")).where(col("key").isNotNull).distinct()
    val cells = (0 until depth).map { i =>
      struct(
        lit(i).as("row_idx"),
        (graft.functions.Text
          .md5PrefixLong(concat(lit(s"$salt$i:"), col("key")), 13) % width).as("bucket"))
    }
    val sketchSide =
      if (depth.toLong * width <= maxBroadcastCells) broadcast(guarded) else guarded
    keyed
      .select(col("key"), explode(array(cells: _*)).as("_c"))
      .select(col("key"), col("_c.row_idx").as("row_idx"), col("_c.bucket").as("bucket"))
      .join(sketchSide, Seq("row_idx", "bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
  }
}
