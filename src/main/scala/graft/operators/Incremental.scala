package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental load semantics of the reference (`utils.py:212-246`), minus
  * its bugs: monotonic-PK high-watermark scan avoidance, append, and
  * PK-keyed upsert (MERGE).
  *
  * The reference merges via Delta Lake (`utils.py:222-230`). No Delta jar
  * ships in this environment, so `merge` is the documented Spark-native
  * fallback: full-outer join on the key with source-wins column coalescing —
  * the same observable semantics as `whenMatchedUpdateAll /
  * whenNotMatchedInsertAll` for a unique-keyed source. It is a single
  * shuffle-on-key join (no driver-side loops), so it scales with the data.
  *
  * Every writer here commits through [[FileMerge]]'s one protocol: stage
  * beside the table at `<table>_fmerge`, publish the manifest, roll
  * forward. A whole-table rewrite ([[ingestIncremental]]) hides every
  * live data entry; [[mergePartitionPruned]] stages only the touched
  * `p=v` directories, each replacing its live namesake. Both run
  * [[FileMerge.recoverFileMerge]] before reading, so a torn commit of
  * any writer heals before it could be baked into a rewrite.
  */
object Incremental {

  /** A1 — global max of the primary key (`utils.py:219`). None on empty. */
  def highWatermark(existing: DataFrame, pk: String): Option[Long] = {
    val row = existing.agg(max(col(pk)).cast("long")).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** P5 — rows strictly above the lake's high watermark (`utils.py:220`). */
  def newRowsAboveWatermark(
      source: DataFrame,
      existing: DataFrame,
      pk: String
  ): DataFrame =
    highWatermark(existing, pk) match {
      case Some(w) => source.where(col(pk) > lit(w))
      case None    => source
    }

  /** K3 — incremental append: watermark-filter then append
    * (`utils.py:233-235`). Returns the appended slice for inspection.
    */
  def appendIncrement(
      source: DataFrame,
      existing: DataFrame,
      pk: String,
      writePath: String
  ): DataFrame = {
    val fresh = newRowsAboveWatermark(source, existing, pk)
    fresh.write.mode("append").parquet(writePath)
    fresh
  }

  /** K4 — PK-keyed upsert with source-wins semantics (`utils.py:222-230`).
    *
    * Requires `source` unique on `pk` (the reference's Delta MERGE throws on
    * duplicate matches; we keep last-write-wins deterministic by reducing the
    * source to one row per key first — max-struct pick, shuffle-free beyond
    * the one aggregation).
    *
    * Matched rows take the source's values WHOLESALE — including explicit
    * NULLs — via a matched-row flag, matching Delta's
    * `whenMatchedUpdateAll` (a per-column coalesce would silently keep the
    * target value wherever the source carries NULL).
    *
    * Output column order/types follow `target`; columns only present on one
    * side are preserved (nulls on the other).
    */
  def merge(target: DataFrame, source: DataFrame, pk: String): DataFrame =
    mergeUnique(target, dedupByKey(source, pk), pk)

  /** [[merge]] for a source ALREADY unique on `pk` — skips the dedup
    * aggregation (callers that just produced a one-row-per-key set, like
    * [[mergeWithDeletes]] and [[FileMerge]], must not pay it twice).
    */
  private[operators] def mergeUnique(target: DataFrame, sourceUnique: DataFrame, pk: String): DataFrame = {
    val srcCols = sourceUnique.columns.toSet
    val tgtCols = target.columns.toSet
    require(srcCols.contains(pk) && tgtCols.contains(pk), s"merge key $pk missing")

    val t = target.alias("t")
    // non-nullable marker: NULL after the full-outer join ⇔ no source row.
    // The marker name must not shadow real data — fail fast on collision
    // rather than silently overwriting a user column with `true`.
    val marker = "__graft_matched"
    require(!srcCols.contains(marker) && !tgtCols.contains(marker),
      s"merge: reserved marker column '$marker' already exists in the input")
    val s = sourceUnique.withColumn(marker, lit(true)).alias("s")
    val joined = t.join(s, col(s"t.$pk") === col(s"s.$pk"), "full_outer")

    val takeSource = col(s"s.$marker") // NULL → otherwise-branch (target row kept)
    val outCols = (target.columns ++ sourceUnique.columns.filterNot(tgtCols)).map {
      case c if srcCols.contains(c) && tgtCols.contains(c) =>
        when(takeSource, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
      case c if srcCols.contains(c) => col(s"s.$c").as(c)
      case c                        => col(s"t.$c").as(c)
    }
    joined.select(outCols.toIndexedSeq: _*)
  }

  /** K4 extension — CDC merge with DELETES (`whenMatchedDelete` parity,
    * the third leg of a full MERGE alongside update/insert): source rows
    * whose `deleteFlagCol` is true remove the matching target key; the
    * rest upsert with [[merge]]'s source-wins semantics. The flag column
    * itself never lands in the output. Requires the source unique per
    * key after [[dedupByKey]] (a key both deleted and re-inserted in ONE
    * batch is ambiguous without an ordering column — split such batches
    * upstream).
    *
    * Same scale shape as [[merge]]: one shuffle-on-key join plus a
    * left-anti join against the (typically tiny) delete set.
    */
  def mergeWithDeletes(
      target: DataFrame,
      source: DataFrame,
      pk: String,
      deleteFlagCol: String
  ): DataFrame = {
    require(source.columns.contains(deleteFlagCol),
      s"mergeWithDeletes: flag column '$deleteFlagCol' missing from source")
    val oneRowPerKey = dedupByKey(source, pk)
    val flagged = coalesce(col(deleteFlagCol).cast("boolean"), lit(false))
    val deletes = oneRowPerKey.where(flagged).select(col(pk))
    val upserts = oneRowPerKey.where(!flagged).drop(deleteFlagCol)
    // upserts are already unique per key — skip merge()'s re-dedup pass
    mergeUnique(target, upserts, pk).join(deletes, Seq(pk), "left_anti")
  }

  /** Schema-merging read of a possibly schema-EVOLVED table: a
    * file-granular or partition-scoped merge that introduced a column
    * rewrites only the files it touched, leaving the table's footers
    * heterogeneous — and a plain `spark.read.parquet` infers the schema
    * from ONE footer, silently dropping the new column whenever it picks
    * an old file (the round-3 heterogeneous-footer trap). `mergeSchema`
    * unions all footers (a distributed metadata-scale job) so evolved
    * columns always surface, with NULLs for rows from pre-evolution
    * files. Evolution is ADDITIVE only: a column present with two
    * incompatible types fails the read, by design.
    */
  def readEvolved(spark: org.apache.spark.sql.SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** E4 — the reference's whole incremental entry point
    * (`utils.py:212-246`): read the existing lake table, keep only source
    * rows above its PK high watermark, then either append them or
    * PK-merge the full source batch (`updates = true` ⇒ merge path,
    * matching the reference's flag), and overwrite-write the result.
    * Callers that want the new lake state read it themselves.
    */
  def ingestIncremental(
      spark: org.apache.spark.sql.SparkSession,
      source: DataFrame,
      lakePath: String,
      pk: String,
      updates: Boolean
  ): Unit = {
    FileMerge.recoverFileMerge(spark, lakePath)
    val exists = FileMerge.snapshot(spark, lakePath).entries.nonEmpty
    if (!exists) {
      dedupByKey(source, pk).write.mode("overwrite").parquet(lakePath)
    } else if (updates) {
      // schema-merging reads throughout: the table may be heterogeneous
      // after an evolved file-granular/partition-scoped merge, and the
      // batch itself may add columns (mergeUnique unions them)
      val merged = merge(readEvolved(spark, lakePath), source, pk)
      merged.write.mode("overwrite").parquet(FileMerge.stagingPath(lakePath))
      FileMerge.commitRewrite(spark, lakePath)
    } else {
      appendIncrement(source, readEvolved(spark, lakePath), pk, lakePath)
    }
  }

  /** K4 at 100 TB — partition-pruned MERGE into a Hive-partitioned lake
    * (`utils.py:222-230`; what Delta's MERGE with a partition predicate
    * does at file granularity, here at partition granularity). The plain
    * [[ingestIncremental]] merge path reads and rewrites the WHOLE table
    * per batch — correct, but a 1 GB batch against a 100 TB table does
    * 100 TB of IO. This variant:
    *
    *   1. derives the touched-partition set from the source batch
    *      (driver-side DISTINCT of partition values — metadata-scale,
    *      bounded by the batch, never by the table),
    *   2. reads ONLY those partitions (partition pruning: the scan lists
    *      just the matching `col=value` directories),
    *   3. merges the batch into them (same [[merge]] semantics as q20),
    *   4. stages the merged partitions at `<table>_fmerge` and commits
    *      them in one [[FileMerge]] commit: each staged `p=v` directory
    *      replaces its live namesake.
    *
    * IO per batch is proportional to the touched partitions, not the
    * table. The batch commits as a unit: a crash before the manifest
    * leaves every partition old (the caller replays the batch), a crash
    * after it rolls every touched partition forward. Callers that want
    * the table read it themselves, pinning the partition column's type
    * as this merge does.
    *
    * REQUIREMENT: `partitionCol` must be stable per `pk` (a key never
    * moves between partitions). That is the standard contract for
    * partition-pruned merges — Delta users encode the same assumption
    * when they add a partition predicate to the merge condition. A moved
    * key would insert into its new partition and leave the stale row in
    * the old one.
    */
  def mergePartitionPruned(
      spark: org.apache.spark.sql.SparkSession,
      source: DataFrame,
      lakePath: String,
      pk: String,
      partitionCol: String
  ): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileMerge.recoverFileMerge(spark, lakePath)

    // The NULL guard runs BEFORE any branch: a null partition value
    // admitted at initial load would land in __HIVE_DEFAULT_PARTITION__
    // and (by the stable-partition contract) be un-upsertable forever.
    val touched = source.select(col(partitionCol)).distinct().collect().map(_.get(0))
    require(
      touched.forall(_ != null),
      s"mergePartitionPruned: NULL $partitionCol values in the batch (Hive layout cannot " +
        "address a null partition safely; route nulls to a sentinel value first)")

    // Spark's partition discovery ignores '_'/'.'-prefixed paths, so a
    // partition column producing such directory names can never be read
    // back — reject it up front rather than misclassify its data below.
    require(!partitionCol.startsWith("_") && !partitionCol.startsWith("."),
      s"mergePartitionPruned: partition column '$partitionCol' would produce " +
        "directories Spark's partition discovery ignores")

    // "Table exists" = has at least one partition directory (`col=value`).
    // A bare _SUCCESS marker (what a
    // zero-row partitioned write leaves — dynamic partitioning emits one
    // file per partition VALUE, so zero rows emit zero data files) must
    // not count: reading it back throws, and treating it as a live table
    // would wedge every later batch.
    def hasData: Boolean = FileMerge.snapshot(spark, lakePath).entries.exists { st =>
      st.isDirectory && st.getPath.getName.contains("=") && !st.getPath.getName.startsWith("_")
    }
    // the ONLY directory state that may be silently cleared before an
    // initial load: writer residue invisible to Spark reads — '_'/'.'
    // prefixed entries, files OR directories (_SUCCESS markers, and the
    // _temporary dir a crashed initial write leaves; replaying that crash
    // must recover, not wedge). Anything Spark could actually read must
    // surface an error, never be deleted.
    def bareMarkerOnly: Boolean =
      fs.exists(live) && fs.listStatus(live).forall { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }

    // empty batch: nothing to merge, and an initial load must NOT create
    // the unreadable zero-data-file directory described above
    if (touched.isEmpty) return
    if (!hasData) {
      if (fs.exists(live)) {
        // the only state cleared silently is marker files alone; anything
        // else unrecognized is surfaced, never deleted
        require(bareMarkerOnly,
          s"mergePartitionPruned: $lakePath exists but contains no 'col=value' partition " +
            "directories and is not a bare marker dir — refusing to overwrite it")
        fs.delete(live, true)
      }
      dedupByKey(source, pk).write.mode("overwrite").partitionBy(partitionCol).parquet(lakePath)
      return
    }

    // the scan prunes to the touched `col=value` directories — the only
    // table DATA IO this batch pays. ONE schema inference per batch, and
    // it must MERGE footers: partitions rewritten by earlier batches can
    // carry evolved columns, and a single arbitrary footer could miss one
    // — the subsequent pinned read would then silently drop that column
    // from the partitions this batch rewrites. (Footer reads are
    // distributed and tiny; the data scan below stays pruned.)
    val inferred = spark.read.option("mergeSchema", "true").parquet(lakePath).schema
    // the partition column PINNED to the source's type: bare partition-
    // type inference corrupts non-canonical string values ('01' infers
    // as int 1, and the rewrite would emit a NEW p=1 directory alongside
    // the replaced p=01); pinning makes the dir string cast to the
    // declared type instead
    val pinned = org.apache.spark.sql.types.StructType(
      inferred.fields.filterNot(_.name == partitionCol) :+
        inferred.fields.find(_.name == partitionCol).getOrElse(source.schema(partitionCol))
          .copy(dataType = source.schema(partitionCol).dataType))
    val existingTouched = spark.read.schema(pinned).parquet(lakePath)
      .where(col(partitionCol).isin(touched.toIndexedSeq: _*))
    val merged = merge(existingTouched, source, pk)

    // staged dir names come from the writer, so Hive value escaping is
    // already done; the commit's `_old_` asides are invisible to
    // partition discovery (same convention as _SUCCESS/_temporary)
    merged.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(FileMerge.stagingPath(lakePath))
    FileMerge.commit(spark, lakePath, Nil)
  }

  /** One row per key, deterministically (greatest full-row struct wins). */
  def dedupByKey(df: DataFrame, pk: String): DataFrame = {
    val others = df.columns.filterNot(_ == pk)
    if (others.isEmpty) df.distinct()
    else {
      val packed = df
        .groupBy(col(pk))
        .agg(max(struct(others.map(col).toIndexedSeq: _*)).as("_row"))
      packed.select(col(pk) +: others.toIndexedSeq.map(c => col(s"_row.$c").as(c)): _*)
    }
  }

  /** SNAPSHOT DIFF: the audit face of [[merge]] — which unique-keyed
    * rows were `added`, `removed`, or `changed` between two versions of
    * a table ("what did last night's MERGE actually do?" /
    * "reconcile the lake copy against the source extract"). Unchanged
    * rows are dropped: the output is the delta, metadata-scale when the
    * change rate is.
    *
    * Change detection is an md5 digest of the compared columns
    * (joined on the 0x01 control byte, nulls as a 0x00 sentinel —
    * bytes that never occur in printable column text, so adjacent
    * columns cannot collude to fake a match; values cast to string the
    * way both engines print them) — so the full-outer join carries
    * ONE 32-char digest per side instead of every compared column
    * twice, and the comparison is row-local.
    *
    * Scale shape: digest projection is row-local; the full-outer join
    * shuffles both sides on the key ONCE (co-partitioned, AQE-sized) —
    * the same plan [[merge]] uses, so a lake that bucketed its tables
    * for merging diffs shuffle-free too. Keys must be unique per side
    * (the merge precondition); duplicate keys make "changed" ambiguous.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      keyCol: String,
      compareCols: Seq[String]
  ): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff: no columns to compare")
    require(!compareCols.contains(keyCol),
      s"snapshotDiff: key column $keyCol cannot also be compared")
    val reserved = Seq("_od", "_nd", "change_type")
    require(reserved.forall(c => !oldDf.columns.contains(c) && !newDf.columns.contains(c)),
      s"snapshotDiff: reserved working column already exists (${reserved.mkString(", ")})")
    def digest(df: DataFrame, as: String): DataFrame =
      df.select(
        col(keyCol),
        md5(concat_ws("\u0001",
          compareCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)).as(as))
    digest(oldDf, "_od")
      .join(digest(newDf, "_nd"), Seq(keyCol), "full_outer")
      .where(col("_od").isNull || col("_nd").isNull || col("_od") =!= col("_nd"))
      .select(
        col(keyCol),
        when(col("_od").isNull, "added")
          .when(col("_nd").isNull, "removed")
          .otherwise("changed")
          .as("change_type"))
  }
}
