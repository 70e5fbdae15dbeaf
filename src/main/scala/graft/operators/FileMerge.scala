package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ConfBridge, SchemaBridge}
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
  *   - a merge batch reads ONLY footers (distributed, metadata-sized)
  *     to learn each file's key range and schema, then stabs every batch
  *     key against the ranges in one pass that also counts the batch;
  *   - intersecting files are read under their footers' merged schema
  *     (no inference job), merged ([[Incremental.merge]] source-wins
  *     semantics), and rewritten range-clustered; every other file is
  *     NEVER read, copied, or rewritten — byte-identical after the
  *     batch;
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
  * table:
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
  * Writers recover: each runs [[recoverFileMerge]] before it writes,
  * which rolls a published commit FORWARD and discards a staging
  * directory without a manifest (the caller's replay recomputes the
  * batch). A replacement is decided by the staged copy still being in
  * staging, so a roll-forward after a partial publish never hides the
  * new copy. Both the commit and its recovery are idempotent, so every
  * crash point converges to either the old table or the new one.
  *
  * Readers resolve: [[snapshot]] applies the same rule to the listings
  * and moves nothing, so a read sees the last published commit and
  * never changes the table; staging without a manifest may belong to a
  * write still running, and only a writer discards it. A reader inside
  * the commit window may still observe a torn listing. [[readTable]]
  * reads a snapshot typed from a footer the driver reads, so opening a
  * table runs no schema-inference job.
  */
object FileMerge {

  /** One file's footer: its row count, the [lo, hi] interval of an
    * integral column's non-null values, and its schema as
    * [[SchemaBridge.footerSchema]] gives it, unparsed until a merge reads
    * the file. `known = false` means the footer carried no usable
    * statistics for the column, or the scan bounded no column — the file
    * must be treated as intersecting every batch. A file with zero rows
    * keeps lo > hi: it intersects nothing.
    */
  final case class FileRange(file: String, rows: Long, lo: Long, hi: Long, known: Boolean, schema: String)

  /** A data file: a top-level file that is not `_`- or `.`-prefixed. */
  private def isData(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Distributed footer scan: one task per slice of `files` (at least
    * one file), each reading only footers (a few KB per file) — the same
    * metadata-scale pass a table format does against its transaction
    * log. Yields one [[FileRange]] per file, named by its full path, when
    * the caller collects it. A `strict` scan fails on a footer that
    * cannot bound `column` instead of marking it unknown, and lets an
    * all-null chunk bound nothing. Without a `column` the scan reads row
    * counts and schemas only, and every range is unknown.
    */
  private[graft] def footers(
      spark: SparkSession, files: Seq[String], column: Option[String], strict: Boolean): RDD[FileRange] = {
    val confBc = ConfBridge.broadcast(spark.sparkContext)
    val slices = math.min(files.size, math.max(1, spark.sparkContext.defaultParallelism))
    spark.sparkContext
      .parallelize(files, slices)
      .map { f =>
        withFooter(new Path(f), ConfBridge.value(confBc)) { footer =>
          var rows = 0L
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var known = column.isDefined
          def unusable(why: String): Unit =
            if (strict) throw new IllegalArgumentException(s"footerStats: $why") else known = false
          footer.getBlocks.asScala.filter(_.getRowCount > 0).foreach { b =>
            rows += b.getRowCount
            for (name <- column) b.getColumns.asScala.find(_.getPath.toDotString == name) match {
              case None => unusable(s"column $name absent from $f")
              case Some(c) =>
                val st: Statistics[_] = c.getStatistics
                if (st == null)
                  unusable(s"$f carries no statistics for $name — " +
                    "metadata-only bounds would be a guess, not an answer")
                else if (!st.hasNonNullValue) {
                  // an all-null chunk bounds nothing; a merge must still
                  // treat its file as touched
                  if (!strict) known = false
                } else
                  (st.genericGetMin, st.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      lo = math.min(lo, mn.longValue)
                      hi = math.max(hi, mx.longValue)
                    case other => unusable(s"non-integral statistics for $name in $f: $other")
                  }
            }
          }
          FileRange(f, rows, lo, hi, known, SchemaBridge.footerSchema(footer.getFileMetaData))
        }
      }
  }

  private def withFooter[T](file: Path, conf: Configuration)(f: ParquetMetadata => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try f(reader.getFooter)
    finally reader.close()
  }

  /** The lenient [[footers]] of `table`'s data files: one job, none for
    * a table without data files.
    */
  private[graft] def footerRanges(
      spark: SparkSession, table: Snapshot, column: String): Seq[FileRange] = {
    val files = table.dataFiles.map(_.getPath.toString)
    if (files.isEmpty) Nil else footers(spark, files, Some(column), strict = false).collect().toSeq
  }

  /** [[footerRanges]] of the table at `lakePath`, each file named by its
    * file name.
    */
  private[graft] def fileRanges(spark: SparkSession, lakePath: String, pk: String): Seq[FileRange] =
    footerRanges(spark, snapshot(spark, lakePath), pk)
      .map(r => r.copy(file = new Path(r.file).getName))

  /** Read `table` as `spark.read.parquet(table.paths)` reads it, typed
    * from one footer that the driver reads: the footer of its first data
    * file by path, the one Spark's inference without `mergeSchema` reads
    * too, but in a job. A table without data files, or with data
    * directories (partitions, sub-tables), is read with inference,
    * exactly as before.
    */
  private[graft] def readTable(spark: SparkSession, table: Snapshot): DataFrame =
    table.dataFiles.map(_.getPath).sortBy(_.toString).headOption match {
      case Some(first) if table.flat =>
        val footer = withFooter(first, spark.sparkContext.hadoopConfiguration)(
          m => SchemaBridge.footerSchema(m.getFileMetaData))
        spark.read.schema(SchemaBridge.merge(spark, Seq(footer))).parquet(table.paths: _*)
      case _ => spark.read.parquet(table.paths: _*)
    }

  /** [[readTable]] of the [[snapshot]] of `lakePath`. */
  private[graft] def readTable(spark: SparkSession, lakePath: String): DataFrame =
    readTable(spark, snapshot(spark, lakePath))

  /** Read the `files` of a footer scan under their footers' merged
    * schema (what a `mergeSchema` read infers, without its job).
    */
  private[graft] def readFiles(spark: SparkSession, files: Seq[FileRange]): DataFrame =
    spark.read.schema(SchemaBridge.merge(spark, files.map(_.schema))).parquet(files.map(_.file): _*)

  /** The merge itself. `source` may carry duplicate keys (last-write-wins
    * reduction, as [[Incremental.merge]]); `pk` must be an integral
    * column (the footer-statistics comparison is done in BIGINT).
    * `initialFiles` sizes the range-clustered INITIAL load (0 = the
    * cluster's default parallelism); later batches rewrite about as many
    * files as they touch. The merge is one commit; callers that want the
    * table read it themselves.
    */
  def mergeFileGranular(
      spark: SparkSession,
      source: DataFrame,
      lakePath: String,
      pk: String,
      initialFiles: Int = 0
  ): Unit = {
    // every writer of this table commits through the same staging, so
    // this one repair covers a torn merge, append or compaction
    recoverFileMerge(spark, lakePath)
    stageFileGranular(spark, source, lakePath, pk, initialFiles).foreach(commit(spark, lakePath, _))
  }

  /** [[mergeFileGranular]] up to its commit: stage the merged files and
    * return the names of the live files the commit must hide, or None
    * for an empty batch on an existing table (nothing staged). The
    * caller has run [[recoverFileMerge]], and may stage bookkeeping
    * beside the data before it commits, so both ride one manifest.
    */
  private[graft] def stageFileGranular(
      spark: SparkSession,
      source: DataFrame,
      lakePath: String,
      pk: String,
      initialFiles: Int = 0
  ): Option[Seq[String]] = {
    val pkType = source.schema(pk).dataType
    require(
      Seq(LongType, IntegerType, ShortType, ByteType).contains(pkType),
      s"mergeFileGranular: integral PK required for footer min/max pruning, got ${pkType.sql}")
    val table = snapshot(spark, lakePath)
    require(!table.hivePartitioned,
      s"mergeFileGranular: $lakePath has a Hive-partitioned layout — use mergePartitionPruned")

    // The batch is evaluated by TWO actions (touched-set pass, merged
    // write): pin it so a nondeterministic source (sample/limit/changing
    // input) cannot yield a touched set that disagrees with the rows
    // actually written — an unpinned re-roll could write a key into the
    // output while its old row survives in an untouched file, breaking
    // the one-file-per-key invariant. (Delta materializes
    // nondeterministic MERGE sources for the same reason.)
    Checkpoints.scoped {
      val batch = Checkpoints.cache(Incremental.dedupByKey(source, pk))
      stagePinned(spark, batch, table, pk, initialFiles)
    }
  }

  private def stagePinned(
      spark: SparkSession,
      batch: DataFrame,
      table: Snapshot,
      pk: String,
      initialFiles: Int
  ): Option[Seq[String]] = {
    val staging = stagingPath(table.path)
    if (table.dataFiles.isEmpty) {
      // initial load (or bare-marker dir): lay the table out range-
      // clustered so every later batch can prune on footer stats
      val files =
        if (initialFiles > 0) initialFiles
        else math.max(1, spark.sparkContext.defaultParallelism)
      Scale.writeRangeClustered(batch, staging, pk, files)
      return Some(Nil)
    }
    val (rows, touched) = touchedBy(batch, pk, footerRanges(spark, table, pk))
    if (rows == 0) return None

    val merged =
      if (touched.isEmpty) batch // pure insert: no live file intersects
      else
        // the touched set can mix pre- and post-evolution footers: read
        // it under their merged schema (what a mergeSchema read infers,
        // without its inference job); mergeUnique unions the batch's
        // columns in (additive evolution; old rows surface a new column
        // as NULL)
        Incremental.mergeUnique(readFiles(spark, touched), batch, pk)

    merged
      .repartitionByRange(math.max(1, touched.size), col(pk))
      .sortWithinPartitions(pk)
      .write
      .mode("overwrite")
      .parquet(staging)
    Some(touched.map(r => new Path(r.file).getName))
  }

  /** The batch's row count and the files its keys touch, sorted by
    * name, in one pass over the batch: each non-null key is stabbed
    * against the known ranges sorted by `lo`, walking down from the last
    * range with `lo <= key` while the prefix maximum of `hi` still
    * reaches the key, so overlapping ranges stay correct (disjoint ones
    * cost a binary search per key). Files without usable statistics are
    * always touched.
    */
  private def touchedBy(batch: DataFrame, pk: String, ranges: Seq[FileRange]): (Long, Seq[FileRange]) = {
    val known = ranges.filter(r => r.known && r.lo <= r.hi).sortBy(_.lo).toArray
    val lo = known.map(_.lo)
    val hi = known.map(_.hi)
    val reach = hi.scanLeft(Long.MinValue)(math.max).tail
    val parts = batch.select(col(pk).cast("long")).rdd.mapPartitions { keys =>
      val hit = new java.util.BitSet(lo.length)
      var n = 0L
      keys.foreach { r =>
        n += 1
        if (!r.isNullAt(0)) {
          val k = r.getLong(0)
          var a = 0
          var b = lo.length
          while (a < b) {
            val m = (a + b) >>> 1
            if (lo(m) <= k) a = m + 1 else b = m
          }
          var i = a - 1
          while (i >= 0 && reach(i) >= k) {
            if (hi(i) >= k) hit.set(i)
            i -= 1
          }
        }
      }
      Iterator((n, hit))
    }.collect()
    val hit = new java.util.BitSet(lo.length)
    parts.foreach(p => hit.or(p._2))
    val touched = known.indices.filter(hit.get).map(known) ++ ranges.filterNot(_.known)
    (parts.map(_._1).sum, touched.sortBy(r => new Path(r.file).getName))
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
    val table = snapshot(spark, lakePath)
    require(!table.hivePartitioned,
      s"appendStaged: $lakePath has a Hive-partitioned layout — append into the partition directories instead")
    if (commitId.exists(appendCommitted(spark, lakePath, _))) return false
    val staging = new Path(stagingPath(lakePath))
    val n = if (files > 0) files else math.max(1, spark.sparkContext.defaultParallelism)
    Scale.writeRangeClustered(batch, staging.toString, clusterCol, n)
    // staged names are job-UUID-unique, but a collision with a live file
    // would make the commit REPLACE that file — fail BEFORE the manifest,
    // while recovery still discards the staging cleanly
    val liveNames = table.dataFiles.map(_.getPath.getName).toSet
    val clash = stagedEntries(fs, staging).filter(isData).map(_.getPath.getName).filter(liveNames)
    if (clash.nonEmpty)
      throw new java.io.IOException(
        s"appendStaged: staged file name(s) already live: ${clash.mkString(",")}")
    commitId.map(appendMarkerName).foreach(stageFile(spark, lakePath, _, ""))
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
    stagedEntries(fs, staging).filter(isData).foreach { st =>
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
  private[graft] def commitRewrite(spark: SparkSession, lakePath: String): Unit =
    commit(spark, lakePath,
      snapshot(spark, lakePath).entries.map(_.getPath.getName).filterNot(_.startsWith("_")))

  /** Every top-level staged entry the commit publishes: files and
    * directories, `_`-files included; not the manifest, `_SUCCESS` or
    * `.`-files.
    */
  private def stagedEntries(fs: FileSystem, staging: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(staging).toSeq.filter { st =>
      val n = st.getPath.getName
      n != Manifest && n != "_SUCCESS" && !n.startsWith(".")
    }

  /** The live entries the manifest in `staging` names to hide. */
  private def readManifest(fs: FileSystem, staging: Path): Set[String] = {
    val in = fs.open(new Path(staging, Manifest))
    try new String(in.readAllBytes(), "UTF-8").split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** Hide the manifest's entries, publish the staged ones, clean up.
    * Idempotent: it is both the commit and the recovery roll-forward.
    * Caller guarantees the manifest exists.
    */
  private def commitStaged(fs: FileSystem, live: Path, staging: Path): Unit = {
    def moveAside(name: String): Unit = {
      val liveF = new Path(live, name)
      if (fs.exists(liveF) && !fs.rename(liveF, new Path(live, "_old_" + name)))
        throw new java.io.IOException(s"FileMerge.commitStaged: could not move $liveF aside")
    }
    fs.mkdirs(live)
    readManifest(fs, staging).foreach(moveAside)
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
    * commit's debris — delete them. Every writer runs this before it
    * writes; readers never do (they resolve a [[snapshot]]). Returns
    * true if anything was repaired.
    */
  private[graft] def recoverFileMerge(spark: SparkSession, lakePath: String): Boolean = {
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

  /** A table's committed top-level entries, live or still staged, as
    * [[snapshot]] resolves them. `torn` is true while a published
    * commit has not finished its moves. [[readTable]] reads it, typed
    * from its first data file's footer.
    */
  private[graft] final case class Snapshot(path: String, entries: Seq[FileStatus], torn: Boolean) {

    /** The resolved location of entry `name` (a sub-table, a
      * bookkeeping file), or its live location when there is none.
      */
    def pathOf(name: String): String =
      entries.find(_.getPath.getName == name).fold(s"$path/$name")(_.getPath.toString)

    def dataFiles: Seq[FileStatus] = entries.filter(isData)

    def hivePartitioned: Boolean =
      entries.exists(st => st.isDirectory && st.getPath.getName.contains("="))

    /** No data directory (a partition, a sub-table) beside the files. */
    def flat: Boolean = !entries.exists(st => st.isDirectory && !st.getPath.getName.startsWith("_"))

    /** What a read of a flat table plans: its directory while no commit
      * is torn, the resolved data files otherwise (Spark lists more than
      * 32 explicit paths with a job, so a clean read keeps the directory).
      */
    def paths: Seq[String] = if (torn) dataFiles.map(_.getPath.toString) else Seq(path)
  }

  /** Resolve `lakePath` from listings alone, with [[commitStaged]]'s
    * rule and none of its moves. With no manifest the table is its live
    * entries: data files, sub-table directories and `_`-bookkeeping, but
    * not `_old_` asides, `_SUCCESS` or `.`-files. With a manifest it is
    * the live entries minus the ones the manifest names and the asides,
    * with every staged entry taking the place of a live namesake. A
    * sub-table resolved here has its own snapshot. Never renames,
    * deletes or creates anything.
    */
  private[graft] def snapshot(spark: SparkSession, lakePath: String): Snapshot = {
    val live = new Path(lakePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(stagingPath(lakePath))
    val liveEntries =
      if (!fs.exists(live)) Nil
      else fs.listStatus(live).toSeq.filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_old_") || n == "_SUCCESS" || n.startsWith(".")
      }
    if (!fs.exists(new Path(staging, Manifest))) Snapshot(lakePath, liveEntries, torn = false)
    else {
      val staged = stagedEntries(fs, staging)
      val replaced = readManifest(fs, staging) ++ staged.map(_.getPath.getName)
      Snapshot(lakePath, liveEntries.filterNot(st => replaced(st.getPath.getName)) ++ staged,
        torn = true)
    }
  }
}
