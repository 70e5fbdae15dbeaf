package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** FILE-granular MERGE on a plain-parquet, PK-range-clustered table —
  * the granularity Delta Lake's MERGE gives the reference's flagship
  * incremental op (`utils.py:222-230`: only files whose key range
  * intersects the batch are rewritten), recreated without a table
  * format:
  *
  *   - the table's files are kept PK-range-clustered
  *     ([[Scale.writeRangeClustered]] layout), so each parquet footer's
  *     min/max statistics describe a narrow PK interval;
  *   - a merge batch reads ONLY footers (distributed, metadata-sized) to
  *     learn per-file key ranges, then range-joins its keys against the
  *     broadcast range table to find the files it intersects;
  *   - intersecting files are read, merged ([[Incremental.merge]]
  *     source-wins semantics), and rewritten range-clustered; every
  *     other file is NEVER read, copied, or rewritten — byte-identical
  *     after the batch;
  *   - batch keys inside no file's range are pure inserts and land in
  *     the rewritten output (ranges may then interleave with untouched
  *     files' ranges, which weakens pruning but never correctness — a
  *     key can only live in a file whose range covers it, and that file
  *     is always in the touched set).
  *
  * IO per batch is proportional to intersected-files + batch, not the
  * table: the [[Incremental.ingestIncremental]] merge path rewrites
  * 100 TB to apply a 1 GB batch; [[Incremental.mergePartitionPruned]]
  * cuts that to the touched partitions; this cuts it to the touched
  * FILES of an unpartitioned (or single-partition) table. Degradation
  * is graceful: on a table that is not range-clustered the file ranges
  * overlap, more files intersect, and the merge approaches a full
  * rewrite — correct, just no longer file-granular. Files whose footer
  * lacks usable PK statistics are conservatively treated as touched.
  *
  * Crash contract (single writer; like [[Incremental.swapInStaging]],
  * concurrent readers may observe a torn listing during the commit
  * window itself): replacement files are fully written to a staging
  * directory first, then a manifest naming every file to be replaced is
  * atomically renamed into place, and only then do live files move
  * aside. A manifest present means staging is complete, so recovery
  * ([[recoverFileMerge]]) always rolls FORWARD; no manifest means the
  * batch never started committing, so staging is discarded and the
  * caller's replay recomputes it. Both the commit and its recovery are
  * idempotent, and a replayed batch re-merges the same data (source-wins
  * merge is idempotent), so every crash point converges to a consistent
  * table.
  */
object FileMerge {

  /** Per-file PK interval from the parquet footer. `known = false` means
    * the footer carried no usable statistics for `pk` — the file must be
    * treated as intersecting every batch.
    */
  final case class FileRange(file: String, lo: Long, hi: Long, known: Boolean)

  private def dataFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Nil
    else
      fs.listStatus(dir).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }

  /** Distributed footer scan: one task per slice of the file list, each
    * reading only footers (a few KB per file) — the same metadata-scale
    * pass a table format does against its transaction log. Returns one
    * [[FileRange]] per data file.
    */
  def fileRanges(spark: SparkSession, lakePath: String, pk: String): Seq[FileRange] = {
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = dataFiles(fs, live).map(_.getPath.toString)
    if (files.isEmpty) return Nil
    val confBc = org.apache.spark.sql.graftbridge.ConfBridge.broadcast(spark.sparkContext)
    val slices = math.min(files.size, math.max(1, spark.sparkContext.defaultParallelism))
    spark.sparkContext
      .parallelize(files, slices)
      .map { f =>
        val p = new Path(f)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            p, org.apache.spark.sql.graftbridge.ConfBridge.value(confBc)))
        try {
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var known = true
          reader.getFooter.getBlocks.asScala.foreach { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == pk) match {
              case Some(c) =>
                val st = c.getStatistics
                if (st == null || !st.hasNonNullValue) {
                  // all-null or stats-less chunk: no key bound derivable
                  known = known && b.getRowCount == 0
                } else
                  (st.genericGetMin, st.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      lo = math.min(lo, mn.longValue)
                      hi = math.max(hi, mx.longValue)
                    case _ => known = false
                  }
              case None => known = false
            }
          }
          // a file with zero rows keeps lo > hi: intersects nothing
          FileRange(p.getName, lo, hi, known)
        } finally reader.close()
      }
      .collect()
      .toSeq
  }

  /** The merge itself. `source` may carry duplicate keys (last-write-wins
    * reduction, as [[Incremental.merge]]); `pk` must be an integral
    * column (the footer-statistics comparison is done in BIGINT).
    * `initialFiles` sizes the range-clustered INITIAL load (0 = the
    * cluster's default parallelism); later batches rewrite about as many
    * files as they touch. Returns the post-merge table.
    */
  def mergeFileGranular(
      spark: SparkSession,
      source: DataFrame,
      lakePath: String,
      pk: String,
      initialFiles: Int = 0
  ): DataFrame = {
    val pkType = source.schema(pk).dataType
    require(
      Seq(LongType, IntegerType, ShortType, ByteType).contains(pkType),
      s"mergeFileGranular: integral PK required for footer min/max pruning, got ${pkType.sql}")
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ALL writers' recoveries, swap FIRST: a crashed whole-table swap
    // (compaction) leaves the live dir absent, and rolling a torn file
    // merge forward into a nonexistent directory would wedge — the
    // ordering inside recoverAll restores the live dir before the
    // file-scoped repair renames into it.
    Incremental.recoverAll(spark, lakePath)
    require(
      !fs.exists(live) || !fs.listStatus(live).exists(st =>
        st.isDirectory && st.getPath.getName.contains("=")),
      s"mergeFileGranular: $lakePath has a Hive-partitioned layout — use mergePartitionPruned")

    // The batch is evaluated by THREE actions (emptiness probe, touched-
    // file probe, merged write): pin it so a nondeterministic source
    // (sample/limit/changing input) cannot yield a touched set that
    // disagrees with the rows actually written — an unpinned re-roll
    // could write a key into the output while its old row survives in an
    // untouched file, breaking the one-file-per-key invariant. (Delta
    // materializes nondeterministic MERGE sources for the same reason.)
    Checkpoints.scoped {
      val batch = Checkpoints.cache(Incremental.dedupByKey(source, pk))
      mergePinned(spark, batch, lakePath, pk, initialFiles, fs, live)
    }
  }

  private def mergePinned(
      spark: SparkSession,
      batch: DataFrame,
      lakePath: String,
      pk: String,
      initialFiles: Int,
      fs: FileSystem,
      live: Path
  ): DataFrame = {
    if (dataFiles(fs, live).isEmpty) {
      // initial load (or bare-marker dir): lay the table out range-
      // clustered so every later batch can prune on footer stats
      val files =
        if (initialFiles > 0) initialFiles
        else math.max(1, spark.sparkContext.defaultParallelism)
      Scale.writeRangeClustered(batch, lakePath, pk, files)
      return spark.read.parquet(lakePath)
    }
    if (batch.isEmpty) return Incremental.readEvolved(spark, lakePath)

    val ranges = fileRanges(spark, lakePath, pk)
    val statless = ranges.filter(!_.known).map(_.file)
    val rangeDf = spark.createDataFrame(ranges.filter(_.known))
    // bounded collect: one row per INTERSECTED FILE, never per key/row
    val hit = batch
      .select(col(pk).cast("long").as("_k"))
      .where(col("_k").isNotNull)
      .join(broadcast(rangeDf), col("_k") >= col("lo") && col("_k") <= col("hi"))
      .select("file")
      .distinct()
      .collect()
      .map(_.getString(0))
    val touched = (hit ++ statless).distinct.sorted

    val merged =
      if (touched.isEmpty) batch // pure insert: no live file intersects
      else
        // schema-merging read: the touched set can mix pre- and
        // post-evolution footers, and the batch may add columns —
        // mergeUnique unions both sides (additive evolution; old rows
        // surface the new column as NULL)
        Incremental.mergeUnique(
          Incremental.readEvolved(spark, touched.map(f => s"$lakePath/$f"): _*),
          batch,
          pk)

    val staging = new Path(lakePath + "_fmerge")
    clearStaging(fs, staging, "mergeFileGranular")
    merged
      .repartitionByRange(math.max(1, touched.size), col(pk))
      .sortWithinPartitions(pk)
      .write
      .mode("overwrite")
      .parquet(staging.toString)

    publishManifest(fs, staging, touched, "mergeFileGranular")
    commitStaged(fs, live, staging)
    // evolved batches leave untouched files on the old schema — the
    // read-back must merge footers or it may drop the new column
    Incremental.readEvolved(spark, lakePath)
  }

  /** Crash-safe APPEND to a range-clustered plain-parquet table via the
    * same staging+manifest commit as [[mergeFileGranular]]: an append is
    * a merge whose touched set is EMPTY — the batch is fully written to
    * the staging directory range-clustered on `clusterCol` (so its files
    * carry footer min/max stats and probes/merges keep per-file
    * pruning), an empty manifest then certifies staging complete, and
    * the commit publishes the staged files into the live directory
    * without moving any existing file aside. Every crash point is
    * covered by [[recoverFileMerge]]: staging without a manifest is
    * discarded (the caller replays the batch), staging with one rolls
    * forward. Appended file ranges may interleave with existing files'
    * ranges — that widens later probes'/merges' touched sets but never
    * their correctness; a clustered compaction
    * ([[graft.sources.Lake.compact]] with `clusterBy`) restores
    * disjoint ranges.
    *
    * REPLAY safety: unlike [[mergeFileGranular]] (source-wins merge —
    * re-running a batch is idempotent), re-running an append duplicates
    * its rows, and after a crash the caller cannot know whether the
    * batch committed. Pass `commitId` (any stable per-batch id): a
    * committed append records a `_append_committed_<id>` marker in the
    * live directory AS PART OF the commit's roll-forward — before the
    * staging dir disappears — and a replay of an already-committed id
    * returns false having written nothing. Markers are `_`-prefixed
    * (invisible to reads/merges) and survive file-granular merges, but a
    * whole-table rewrite (compaction) drops them — retries must not
    * straddle a compaction (same documented degradation as the streaming
    * `_commits` ledger, except an undetected append replay DUPLICATES,
    * so schedule compaction only when no append is in flight).
    *
    * The CALLER owns key uniqueness: appended rows' keys must be new.
    * Verifying that here would cost a full-table anti-join — at lake
    * scale exactly the scan this path exists to avoid; use
    * [[mergeFileGranular]] when the batch may update existing keys.
    *
    * @return true if the batch was appended, false if `commitId` was
    *         already committed (nothing written)
    */
  private def appendMarkerName(id: String): String = s"_append_committed_$id"

  /** Whether `commitId` has already been durably appended to `lakePath` —
    * the marker probe callers use to make replay checks precede their own
    * batch validation (a replayed batch may legitimately fail validation
    * that compares it against a table it is already part of).
    */
  def appendCommitted(spark: SparkSession, lakePath: String, commitId: String): Boolean = {
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(live, appendMarkerName(commitId)))
  }

  def appendStaged(
      spark: SparkSession,
      batch: DataFrame,
      lakePath: String,
      clusterCol: String,
      files: Int = 0,
      commitId: Option[String] = None
  ): Boolean = {
    commitId.foreach(id =>
      require(id.matches("[A-Za-z0-9._-]+"),
        s"appendStaged: commitId must match [A-Za-z0-9._-]+, got '$id'"))
    Incremental.recoverAll(spark, lakePath)
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(live),
      s"appendStaged: $lakePath does not exist — lay out the initial table first")
    // same guard as mergeFileGranular: flat staged files published into a
    // Hive-partitioned root would break partition discovery for EVERY
    // reader, and the bad commit would already be durable
    require(
      !fs.listStatus(live).exists(st => st.isDirectory && st.getPath.getName.contains("=")),
      s"appendStaged: $lakePath has a Hive-partitioned layout — append into the partition directories instead")
    val marker = commitId.map(appendMarkerName)
    if (marker.exists(m => fs.exists(new Path(live, m)))) return false
    val staging = new Path(lakePath + "_fmerge")
    clearStaging(fs, staging, "appendStaged")
    val n = if (files > 0) files else math.max(1, spark.sparkContext.defaultParallelism)
    Scale.writeRangeClustered(batch, staging.toString, clusterCol, n)
    // staged names are job-UUID-unique, but a collision with a live file
    // would make the publish rename fail mid-commit — fail BEFORE the
    // manifest, while recovery still discards the staging cleanly
    val liveNames = dataFiles(fs, live).map(_.getPath.getName).toSet
    val clash = dataFiles(fs, staging).map(_.getPath.getName).filter(liveNames)
    if (clash.nonEmpty)
      throw new java.io.IOException(
        s"appendStaged: staged file name(s) already live: ${clash.mkString(",")}")
    // the replay marker rides INSIDE staging, before the manifest: the
    // manifest certifies staging complete, and commitStaged makes the
    // marker durable in the live dir before staging disappears — so every
    // crash point either discards the batch (no manifest) or rolls both
    // the data AND the marker forward together
    marker.foreach { m =>
      val out = fs.create(new Path(staging, AppendIdFile), true)
      try out.write((m + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    publishManifest(fs, staging, Nil, "appendStaged")
    commitStaged(fs, live, staging)
    true
  }

  private val AppendIdFile = "_append_id"

  private def clearStaging(fs: FileSystem, staging: Path, op: String): Unit =
    if (fs.exists(staging) && !fs.delete(staging, true))
      throw new java.io.IOException(s"$op: could not clear stale staging $staging")

  /** Manifest LAST, atomically: its presence certifies staging complete. */
  private def publishManifest(fs: FileSystem, staging: Path, touched: Seq[String], op: String): Unit = {
    val tmp = new Path(staging, "_touched.tmp")
    val out = fs.create(tmp, true)
    try out.write(touched.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(staging, "_touched")))
      throw new java.io.IOException(s"$op: could not publish manifest in $staging")
  }

  /** Phases A (hide touched) / B (publish staged) / C (clean) of the
    * commit; idempotent, also the recovery roll-forward. Caller
    * guarantees the manifest exists.
    */
  private def commitStaged(fs: FileSystem, live: Path, staging: Path): Unit = {
    val manifest = new Path(staging, "_touched")
    val touched = {
      val in = fs.open(manifest)
      try new String(in.readAllBytes(), "UTF-8").split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
    touched.foreach { name =>
      val liveF = new Path(live, name)
      if (fs.exists(liveF) && !fs.rename(liveF, new Path(live, "_old_" + name)))
        throw new java.io.IOException(s"FileMerge.commitStaged: could not move $liveF aside")
    }
    dataFiles(fs, staging).foreach { st =>
      if (!fs.rename(st.getPath, new Path(live, st.getPath.getName)))
        throw new java.io.IOException(s"FileMerge.commitStaged: could not publish ${st.getPath}")
    }
    // an append's replay marker becomes durable BEFORE staging (and its
    // manifest) disappears: a crash right after this line re-runs the
    // whole commit (idempotent), a crash right before it still leaves
    // the manifest to roll forward from — no window where the data is
    // live but a replay would go undetected
    val idFile = new Path(staging, AppendIdFile)
    if (fs.exists(idFile)) {
      val in = fs.open(idFile)
      val m = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      if (m.nonEmpty) fs.create(new Path(live, m), true).close()
    }
    fs.listStatus(live)
      .filter(st => st.isFile && st.getPath.getName.startsWith("_old_"))
      .foreach(st => fs.delete(st.getPath, false))
    fs.delete(staging, true)
  }

  /** Repair an interrupted [[mergeFileGranular]] commit. A staging
    * directory WITH a manifest is a complete replacement — roll the
    * commit forward (hide any still-live touched files, publish the
    * remaining staged files, clean up). A staging directory WITHOUT a
    * manifest never started committing — discard it (the caller replays
    * the batch). Leftover `_old_` asides with no staging directory are a
    * finished commit's debris — delete them. Returns true if anything
    * was repaired.
    */
  def recoverFileMerge(spark: SparkSession, lakePath: String): Boolean = {
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(lakePath + "_fmerge")
    var acted = false
    if (fs.exists(staging)) {
      if (fs.exists(new Path(staging, "_touched"))) commitStaged(fs, live, staging)
      else fs.delete(staging, true)
      acted = true
    }
    if (fs.exists(live)) {
      val asides =
        fs.listStatus(live).filter(st => st.isFile && st.getPath.getName.startsWith("_old_"))
      asides.foreach(st => fs.delete(st.getPath, false))
      acted ||= asides.nonEmpty
    }
    acted
  }
}
