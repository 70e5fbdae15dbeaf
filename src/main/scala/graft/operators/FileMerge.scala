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
  * Crash contract. This is the ONE commit protocol of every lake writer
  * (merges, appends, compactions, index builds, the streaming ledgers),
  * and [[recoverFileMerge]] is the one recovery. Single writer per
  * table; a concurrent reader may observe a torn listing during the
  * commit window itself:
  *
  *   1. the writer fully writes `<table>_fmerge`: data files, whole
  *      `p=v`/sub-table directories, `_`-prefixed bookkeeping files;
  *   2. the `_touched` manifest is published LAST (atomic rename); its
  *      presence is the commit point. It names the live entries to hide
  *      that no staged entry replaces;
  *   3. the commit hides those entries as `_old_<name>`, then publishes
  *      every staged entry; a staged entry whose name is already live
  *      (a partition directory, an index's sub-table, `_commits`) moves
  *      the live one to `_old_<name>` first;
  *   4. the asides and the staging directory are deleted.
  *
  * Recovery rolls FORWARD when the manifest exists and discards the
  * staging directory when it does not (the caller's replay recomputes
  * the batch). A replacement is decided by the staged copy still being
  * in staging, so a roll-forward after a partial publish never hides the
  * new copy. Both the commit and its recovery are idempotent, so every
  * crash point converges to either the old table or the new one.
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
    // every writer of this table commits through the same staging, so
    // this one repair covers a torn merge, append or compaction
    recoverFileMerge(spark, lakePath)
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

    merged
      .repartitionByRange(math.max(1, touched.size), col(pk))
      .sortWithinPartitions(pk)
      .write
      .mode("overwrite")
      .parquet(stagingPath(lakePath))
    commit(spark, lakePath, touched)
    // evolved batches leave untouched files on the old schema — the
    // read-back must merge footers or it may drop the new column
    Incremental.readEvolved(spark, lakePath)
  }

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

  /** Crash-safe APPEND to a range-clustered plain-parquet table via the
    * same staging+manifest commit as [[mergeFileGranular]]: an append is
    * a merge whose touched set is EMPTY — the batch is fully written to
    * the staging directory range-clustered on `clusterCol` (so its files
    * carry footer min/max stats and probes/merges keep per-file
    * pruning), an empty manifest then certifies staging complete, and
    * the commit publishes the staged files into the live directory
    * without moving any existing file aside. Appended file ranges may
    * interleave with existing files' ranges — that widens later
    * probes'/merges' touched sets but never their correctness; a
    * clustered compaction ([[graft.sources.Lake.compact]] with
    * `clusterBy`) restores disjoint ranges.
    *
    * REPLAY safety: unlike [[mergeFileGranular]] (source-wins merge —
    * re-running a batch is idempotent), re-running an append duplicates
    * its rows, and after a crash the caller cannot know whether the
    * batch committed. Pass `commitId` (any stable per-batch id): the
    * `_append_committed_<id>` marker is staged beside the data, so the
    * commit publishes both or neither, and a replay of an
    * already-committed id returns false having written nothing. Markers
    * are `_`-prefixed (invisible to reads) and every writer's commit
    * keeps them, compactions included.
    *
    * The CALLER owns key uniqueness: appended rows' keys must be new.
    * Verifying that here would cost a full-table anti-join — at lake
    * scale exactly the scan this path exists to avoid; use
    * [[mergeFileGranular]] when the batch may update existing keys.
    *
    * @return true if the batch was appended, false if `commitId` was
    *         already committed (nothing written)
    */
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
    recoverFileMerge(spark, lakePath)
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
    val staging = new Path(stagingPath(lakePath))
    val n = if (files > 0) files else math.max(1, spark.sparkContext.defaultParallelism)
    Scale.writeRangeClustered(batch, staging.toString, clusterCol, n)
    // staged names are job-UUID-unique, but a collision with a live file
    // would make the commit REPLACE that file — fail BEFORE the manifest,
    // while recovery still discards the staging cleanly
    val liveNames = dataFiles(fs, live).map(_.getPath.getName).toSet
    val clash = dataFiles(fs, staging).map(_.getPath.getName).filter(liveNames)
    if (clash.nonEmpty)
      throw new java.io.IOException(
        s"appendStaged: staged file name(s) already live: ${clash.mkString(",")}")
    marker.foreach(stageFile(spark, lakePath, _, ""))
    commit(spark, lakePath, Nil)
    true
  }

  /** `<lakePath>_fmerge`, the staging directory every writer of
    * `lakePath` fills before [[commit]]. [[recoverFileMerge]], which
    * every writer runs first, leaves it absent.
    */
  private[graft] def stagingPath(lakePath: String): String = lakePath + "_fmerge"

  private val Manifest = "_touched"

  /** Write a small bookkeeping file (a ledger, a marker) into staging;
    * the commit publishes it with the data, replacing a live namesake.
    */
  private[graft] def stageFile(spark: SparkSession, lakePath: String, name: String, text: String): Unit = {
    val p = new Path(stagingPath(lakePath), name)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  /** Prefix every staged data file's name — before the commit, so a
    * crash here only leaves staging for recovery to discard.
    */
  private[graft] def prefixStaged(spark: SparkSession, lakePath: String, prefix: String): Unit = {
    val staging = new Path(stagingPath(lakePath))
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dataFiles(fs, staging).foreach { st =>
      val dest = new Path(staging, prefix + st.getPath.getName)
      if (!fs.rename(st.getPath, dest))
        throw new java.io.IOException(s"FileMerge.prefixStaged: could not rename ${st.getPath}")
    }
  }

  /** Commit the fully written staging of `lakePath`: publish the
    * manifest naming the live entries in `hide` that no staged entry
    * replaces, then roll the commit forward ([[commitStaged]]).
    */
  private[graft] def commit(spark: SparkSession, lakePath: String, hide: Seq[String]): Unit = {
    val staging = new Path(stagingPath(lakePath))
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = stagedEntries(fs, staging).map(_.getPath.getName).toSet
    val tmp = new Path(staging, Manifest + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(hide.filterNot(staged).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(staging, Manifest)))
      throw new java.io.IOException(s"FileMerge.commit: could not publish manifest in $staging")
    commitStaged(fs, new Path(lakePath), staging)
  }

  /** [[commit]] of a whole-table rewrite: every live entry that is not
    * `_`- or `.`-prefixed is replaced or hidden; bookkeeping files
    * (ledgers, markers, floors) stay unless staging replaces them.
    */
  private[graft] def commitRewrite(spark: SparkSession, lakePath: String): Unit = {
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      if (!fs.exists(live)) Nil
      else fs.listStatus(live).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    commit(spark, lakePath, entries)
  }

  /** Every top-level staged entry the commit publishes: files and
    * directories, `_`-files included; not the manifest, `_SUCCESS` or
    * `.`-files.
    */
  private def stagedEntries(fs: FileSystem, staging: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(staging).toSeq.filter { st =>
      val n = st.getPath.getName
      n != Manifest && n != "_SUCCESS" && !n.startsWith(".")
    }

  /** Hide the manifest's entries, publish the staged ones, clean up.
    * Idempotent: it is both the commit and the recovery roll-forward.
    * Caller guarantees the manifest exists.
    */
  private def commitStaged(fs: FileSystem, live: Path, staging: Path): Unit = {
    val hidden = {
      val in = fs.open(new Path(staging, Manifest))
      try new String(in.readAllBytes(), "UTF-8").split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
    def moveAside(name: String): Unit = {
      val liveF = new Path(live, name)
      if (fs.exists(liveF) && !fs.rename(liveF, new Path(live, "_old_" + name)))
        throw new java.io.IOException(s"FileMerge.commitStaged: could not move $liveF aside")
    }
    fs.mkdirs(live)
    hidden.foreach(moveAside)
    // an entry still in staging is unpublished: a live namesake is the
    // OLD copy. One already published has left staging, so a replayed
    // roll-forward never hides the new copy.
    stagedEntries(fs, staging).foreach { st =>
      val name = st.getPath.getName
      moveAside(name)
      if (!fs.rename(st.getPath, new Path(live, name)))
        throw new java.io.IOException(s"FileMerge.commitStaged: could not publish ${st.getPath}")
    }
    deleteAsides(fs, live)
    fs.delete(staging, true)
  }

  /** Delete a commit's `_old_` asides, files and directories. */
  private def deleteAsides(fs: FileSystem, live: Path): Boolean = {
    val asides = fs.listStatus(live).filter(_.getPath.getName.startsWith("_old_"))
    asides.foreach(st => fs.delete(st.getPath, true))
    asides.nonEmpty
  }

  /** Repair an interrupted commit of ANY writer of `lakePath`. A staging
    * directory WITH a manifest is a complete replacement — roll the
    * commit forward. A staging directory WITHOUT a manifest never
    * started committing — discard it (the caller replays the batch).
    * Leftover `_old_` asides with no staging directory are a finished
    * commit's debris — delete them. Every writer and every reader that
    * lists files runs this first. Returns true if anything was repaired.
    */
  def recoverFileMerge(spark: SparkSession, lakePath: String): Boolean = {
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(stagingPath(lakePath))
    var acted = false
    if (fs.exists(staging)) {
      if (fs.exists(new Path(staging, Manifest))) commitStaged(fs, live, staging)
      else fs.delete(staging, true)
      acted = true
    }
    if (fs.exists(live)) acted |= deleteAsides(fs, live)
    acted
  }
}
