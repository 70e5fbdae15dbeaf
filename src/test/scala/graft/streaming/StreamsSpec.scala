package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class StreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** The file source orders batches by modification time; same-millisecond
    * writes would tie and replay in arbitrary (path) order, making
    * later-batch events late against the advanced watermark. Pin each
    * batch's files to a strictly increasing mtime.
    */
  private def pinBatchOrder(dir: String, batch: Int): Unit = {
    val d = new java.io.File(dir)
    d.listFiles().filter(f => f.isFile && f.lastModified() > batch * 60000L)
      .foreach(_.setLastModified(batch * 60000L))
  }

  test("streaming upsert: two micro-batches merge into the target by PK") {
    val base = Files.createTempDirectory("stream").toString
    val in = s"$base/in"
    val target = s"$base/target"
    val ckpt = s"$base/ckpt"

    // batch files land one at a time (maxFilesPerTrigger=1)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    Seq((2L, "b2"), (3L, "c")).toDF("id", "v").coalesce(1).write.mode("append").parquet(in)

    val schema = spark.read.parquet(in).schema
    val stream = Streams.fileStream(spark, in, schema)
    val q = Streams.upsertStream(spark, stream, "id", target, ckpt)
    q.awaitTermination(60000)

    val out = spark.read.parquet(target).as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out.find(_._1 == 3L).map(_._2).contains("c"))
    // id=2 resolved to exactly one of its two versions (file order is not
    // guaranteed; PK-uniqueness is the invariant)
    assert(Set("b", "b2").contains(out.find(_._1 == 2L).get._2))
  }

  test("partitioned streaming upsert merges by PK and leaves untouched partitions alone") {
    val base = Files.createTempDirectory("streamp").toString
    val in = s"$base/in"
    val target = s"$base/target"

    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p")
      .coalesce(1).write.mode("append").parquet(in)
    Seq((2L, "b2", 1), (3L, "c", 1)).toDF("id", "v", "p")
      .coalesce(1).write.mode("append").parquet(in)

    val schema = spark.read.parquet(in).schema
    val q = Streams.upsertStreamPartitioned(
      spark, Streams.fileStream(spark, in, schema), "id", "p", target, s"$base/ckpt")
    q.awaitTermination(60000)

    val out = spark.read.parquet(target).as[(Long, String, Int)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out.find(_._1 == 3L).map(_._2).contains("c"))
    assert(Set("b", "b2").contains(out.find(_._1 == 2L).get._2))
    // Hive layout with no residue
    val names = new java.io.File(target).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("p=0")) && names.exists(_.startsWith("p=1")))
    assert(!names.exists(n => n.startsWith("_old_") || n.contains("pstaging")))
  }

  test("streaming dedup drops repeated keys across micro-batches") {
    val base = Files.createTempDirectory("streamdd").toString
    val in = s"$base/in"
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:11:00"), "b"))
      .toDF("id", "ts", "v").coalesce(1).write.mode("append").parquet(in)
    pinBatchOrder(in, 1)
    Seq((2L, java.sql.Timestamp.valueOf("2024-01-01 00:12:00"), "b2"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:13:00"), "c"))
      .toDF("id", "ts", "v").coalesce(1).write.mode("append").parquet(in)
    pinBatchOrder(in, 2)

    val schema = spark.read.parquet(in).schema
    val dd = Streams.dedupStream(
      Streams.fileStream(spark, in, schema), Seq("id"), eventTimeCol = Some("ts"))
    val q = dd.writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.sql("SELECT id FROM dd_out").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // id=2 emitted exactly once
  }

  test("stateful sessionization (flatMapGroupsWithState) matches the batch operator") {
    val base = Files.createTempDirectory("stream3").toString
    val in = s"$base/in"
    // two real sessions per user (gap 3600 s), replayed one file per batch;
    // a far-future sentinel event advances the watermark so the second
    // session's event-time timeout fires before the stream drains
    // (secs start at 100: an event AT the initial watermark (epoch 0)
    // would be dropped as late)
    Seq((1L, 100L, 1.0), (1L, 110L, 2.0), (2L, 105L, 5.0))
      .toDF("user_id", "sec", "value").coalesce(1).write.mode("append").parquet(in)
    pinBatchOrder(in, 1)
    Seq((1L, 5100L, 1.0), (1L, 5110L, 3.0), (2L, 6100L, 7.0))
      .toDF("user_id", "sec", "value").coalesce(1).write.mode("append").parquet(in)
    pinBatchOrder(in, 2)
    Seq((1L, 10000000L, 0.0), (2L, 10000000L, 0.0))
      .toDF("user_id", "sec", "value").coalesce(1).write.mode("append").parquet(in)
    pinBatchOrder(in, 3)

    val schema = spark.read.parquet(in).schema
    val sessions = Streams.sessionizeStream(
      Streams.fileStream(spark, in, schema).as[(Long, Long, Double)]
        .map { case (u, s, v) => Streams.SessionEvent(u, s, v) },
      gapSec = 3600L)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT user_id, n_events, duration_sec, value_sum FROM sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // batch ground truth over the four real sessions (sentinels excluded:
    // their sessions are still open when the stream drains)
    val batch = Set((1L, 2L, 10L, 3.0), (1L, 2L, 10L, 4.0), (2L, 1L, 0L, 5.0), (2L, 1L, 0L, 7.0))
    assert(streamed == batch)
  }

  test("replaySessionize: finite replay emits EVERY session and drops the sentinel") {
    val base = Files.createTempDirectory("stream_rs").toString
    val in = s"$base/in"
    // user 1: two sessions (gap 3600); user 2: one session — the LAST
    // session per user is exactly what the sentinel must flush (a bare
    // stream would leave it open forever)
    Seq((1L, 100L, 1.0), (1L, 110L, 2.0), (2L, 105L, 5.0),
      (1L, 5100L, 1.0), (1L, 5110L, 3.0))
      .toDF("user_id", "sec", "value").coalesce(1).write.parquet(in)

    val schema = spark.read.parquet(in).schema
    val got = Streams.replaySessionize(
      Streams.fileStream(spark, in, schema), gapSec = 3600L,
      sentinelSec = 1000000L)
      .select("user_id", "session_start_sec", "n_events", "duration_sec", "value_sum")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, 100L, 2L, 10L, 3.0),
      (1L, 5100L, 2L, 10L, 4.0),
      (2L, 105L, 1L, 0L, 5.0)))

    // the batch engine agrees on the session partition (q35 semantics)
    val batch = graft.operators.Sessions.byGap(
      spark.read.parquet(in).withColumn("ts", col("sec").cast("timestamp")),
      "user_id", "ts", "value", "value", 3600L)
      .select("n_events", "duration_sec", "value_sum")
      .as[(Long, Long, Double)].collect().toSet
    assert(batch == got.map(t => (t._3, t._4, t._5)))

    // a non-streaming input is a contract violation, not a silent batch run
    val e = intercept[IllegalArgumentException] {
      Streams.replaySessionize(spark.read.parquet(in), 3600L, 1000000L)
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("replayWindowedCounts: every window flushes, sentinel excluded") {
    val base = Files.createTempDirectory("stream_rw").toString
    val in = s"$base/in"
    // two keys across two hourly windows; the LAST window is what the
    // sentinel must flush (append mode would otherwise hold it open)
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.25),
      (java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), "view", 4.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:05:00"), "view", 3.0))
      .toDF("ts", "event_type", "value").coalesce(1).write.parquet(in)

    val schema = spark.read.parquet(in).schema
    val got = Streams.replayWindowedCounts(
      Streams.fileStream(spark, in, schema),
      "ts", "event_type", "value", windowSec = 3600L,
      sentinelSec = java.sql.Timestamp.valueOf("2030-01-01 00:00:00").getTime / 1000L)
      .as[(Long, String, Long, Double)].collect().toSet
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    assert(got == Set(
      (h0, "click", 2L, 3.25),
      (h0, "view", 1L, 4.0),
      (h0 + 3600L, "view", 1L, 3.0)))
    val e = intercept[IllegalArgumentException] {
      Streams.replayWindowedCounts(spark.read.parquet(in), "ts", "event_type",
        "value", 3600L, 0L)
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("stream-stream join matches rows within the time bound only") {
    val base = Files.createTempDirectory("streamj").toString
    val (inL, inR) = (s"$base/l", s"$base/r")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "click1"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "click2"))
      .toDF("user_id", "l_ts", "l_tag").write.parquet(inL)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "buy_near"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), "buy_far"), // outside ±1h
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "other_user"))
      .toDF("user_id", "r_ts", "r_tag").write.parquet(inR)

    val joined = Streams.joinStreamsWithin(
      Streams.fileStream(spark, inL, spark.read.parquet(inL).schema),
      Streams.fileStream(spark, inR, spark.read.parquet(inR).schema),
      "user_id", "l_ts", "r_ts", within = "1 hour")
      .select($"l_tag", $"r_tag")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT l_tag, r_tag FROM ssj_out")
      .as[(String, String)].collect().toSet
    assert(rows == Set(("click1", "buy_near")))
  }

  test("replayJoinWithin drains the interval join through the parquet sink") {
    val base = Files.createTempDirectory("streamjr").toString
    val (inL, inR) = (s"$base/l", s"$base/r")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "c1"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "c2"))
      .toDF("user_id", "l_ts", "l_tag").write.parquet(inL)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "p_near"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 16:00:00"), "p_far"))
      .toDF("user_id", "r_ts", "r_tag").write.parquet(inR)
    val got = Streams.replayJoinWithin(
      Streams.fileStream(spark, inL, spark.read.parquet(inL).schema),
      Streams.fileStream(spark, inR, spark.read.parquet(inR).schema),
      "user_id", "l_ts", "r_ts", withinSec = 3600L)
    assert(got.columns.toSeq ==
      Seq("user_id", "l_ts", "l_tag", "r_ts", "r_tag"))
    assert(got.select($"l_tag", $"r_tag").as[(String, String)].collect().toSet ==
      Set(("c1", "p_near")))
    val eBatch = intercept[IllegalArgumentException] {
      Streams.replayJoinWithin(spark.read.parquet(inL),
        Streams.fileStream(spark, inR, spark.read.parquet(inR).schema),
        "user_id", "l_ts", "r_ts", withinSec = 3600L)
    }
    assert(eBatch.getMessage.contains("streaming"), eBatch.getMessage)
    val eOverlap = intercept[IllegalArgumentException] {
      Streams.replayJoinWithin(
        Streams.fileStream(spark, inL, spark.read.parquet(inL).schema)
          .withColumnRenamed("l_tag", "tag"),
        Streams.fileStream(spark, inR, spark.read.parquet(inR).schema)
          .withColumnRenamed("r_tag", "tag"),
        "user_id", "l_ts", "r_ts", withinSec = 3600L)
    }
    assert(eOverlap.getMessage.contains("disjoint"), eOverlap.getMessage)
  }

  test("replayJoinWithinOuter flushes unmatched lefts with nulls via the sentinel") {
    val base = Files.createTempDirectory("streamoj").toString
    val (inL, inR) = (s"$base/l", s"$base/r")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "c_matched"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "c_lonely"))
      .toDF("user_id", "l_ts", "l_tag").write.parquet(inL)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "p_near"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), "p_far")) // outside ±1h
      .toDF("user_id", "r_ts", "r_tag").write.parquet(inR)
    val got = Streams.replayJoinWithinOuter(
      Streams.fileStream(spark, inL, spark.read.parquet(inL).schema),
      Streams.fileStream(spark, inR, spark.read.parquet(inR).schema),
      "user_id", "l_ts", "r_ts", withinSec = 3600L,
      sentinelKey = -1L, sentinelSec = 4102444800L)
    val rows = got.select($"l_tag", $"r_tag").as[(String, Option[String])]
      .collect().toSet
    assert(rows == Set(("c_matched", Some("p_near")), ("c_lonely", None)))
    val e = intercept[IllegalArgumentException] {
      Streams.replayJoinWithinOuter(spark.read.parquet(inL),
        Streams.fileStream(spark, inR, spark.read.parquet(inR).schema),
        "user_id", "l_ts", "r_ts", 3600L, -1L, 4102444800L)
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("replayKmvMaintenance: batched sketch rollup equals the direct sketch") {
    val base = Files.createTempDirectory("streamkmv").toString
    val in = s"$base/in"
    // two files → two micro-batches, values interleaved across them so
    // per-batch sketches genuinely differ from the global one
    (0 until 300).map(i => ("g" + (i % 2), s"v$i"))
      .toDF("g", "v").repartition(2).write.parquet(in)
    val got = Streams.replayKmvMaintenance(
      Streams.fileStream(spark, in, spark.read.parquet(in).schema,
        maxFilesPerTrigger = 1),
      "g", "v", k = 16)
    val direct = graft.operators.Scale.kmvDistinct(
      spark.read.parquet(in), "g", $"v", k = 16)
    assert(got.orderBy("g").collect().map(_.toSeq).toSeq ==
      direct.orderBy("g").collect().map(_.toSeq).toSeq)
    val e = intercept[IllegalArgumentException] {
      Streams.replayKmvMaintenance(spark.read.parquet(in), "g", "v", 16)
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("replayCountMinMaintenance: streamed shard rollup equals the batch sketch") {
    val base = Files.createTempDirectory("streamcm").toString
    val in = s"$base/in"
    // three files → three micro-batches, keys interleaved so per-batch
    // cell tables genuinely differ from the global one
    (0 until 300).map(i => s"k${i % 7}").toDF("term")
      .repartition(3).write.parquet(in)
    val got = Streams.replayCountMinMaintenance(
      Streams.fileStream(spark, in, spark.read.parquet(in).schema,
        maxFilesPerTrigger = 1),
      "term", depth = 3, width = 16L)
    val direct = graft.operators.Scale.countMinBuild(
      spark.read.parquet(in), $"term", depth = 3, width = 16L)
    assert(got.as[(Int, Long, Long)].collect().toSet ==
      direct.as[(Int, Long, Long)].collect().toSet)
    val e = intercept[IllegalArgumentException] {
      Streams.replayCountMinMaintenance(spark.read.parquet(in), "term", 3, 16L)
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("replayCountMinSharded: streamed day shards equal the batch sharded build; windows agree") {
    val base = Files.createTempDirectory("streamcmshard").toString
    val in = s"$base/in"
    // three files → three micro-batches, each batch spanning SEVERAL
    // days, so per-(batch, day) shard rows genuinely need the by-day
    // rollup to reconstitute the per-day sketches
    (0 until 300).map(i => (s"d${i % 5}", s"k${i % 11}")).toDF("day", "k")
      .repartition(3).write.parquet(in)
    val got = Streams.replayCountMinSharded(
      Streams.fileStream(spark, in, spark.read.parquet(in).schema,
        maxFilesPerTrigger = 1),
      "day", "k", depth = 3, width = 16L)
    val direct = graft.operators.Scale.countMinSharded(
      spark.read.parquet(in), $"day", "day", $"k", depth = 3, width = 16L)
    assert(got.as[(String, Int, Long, Long)].collect().toSet ==
      direct.as[(String, Int, Long, Long)].collect().toSet)
    // the window face over the streamed shards equals the batch window
    val winGot = graft.operators.Scale.countMinWindow(got, $"day" >= "d3")
    val winDirect = graft.operators.Scale.countMinWindow(direct, $"day" >= "d3")
    assert(winGot.as[(Int, Long, Long)].collect().toSet ==
      winDirect.as[(Int, Long, Long)].collect().toSet)
    val e = intercept[IllegalArgumentException] {
      Streams.replayCountMinSharded(spark.read.parquet(in), "day", "k", 3, 16L)
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("replayHllMaintenance: streamed register rollup equals the batch sketch") {
    val base = Files.createTempDirectory("streamhll").toString
    val in = s"$base/in"
    (0 until 300).map(i => ("g" + (i % 2), s"v${i % 83}")).toDF("g", "v")
      .repartition(3).write.parquet(in)
    val got = Streams.replayHllMaintenance(
      Streams.fileStream(spark, in, spark.read.parquet(in).schema,
        maxFilesPerTrigger = 1),
      "g", "v", m = 64)
    val direct = graft.operators.Scale.hllSketch(
      spark.read.parquet(in), Seq("g"), $"v", m = 64)
    assert(got.as[(String, Long, Long)].collect().toSet ==
      direct.as[(String, Long, Long)].collect().toSet)
    val e = intercept[IllegalArgumentException] {
      Streams.replayHllMaintenance(spark.read.parquet(in), "g", "v", 64)
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("replay maintenance on an EMPTY stream returns the empty sketch; scratch dirs are cleaned") {
    // an empty stream never fires foreachBatch, so the shard dir is
    // never created — the old tail's blind read.parquet threw
    // path-not-found (ADVICE r15); and every replay used to leak its
    // temp base. Count the scratch dirs before/after to pin both.
    val base = Files.createTempDirectory("streamempty").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def scratches(prefix: String): Int =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
        .map(_.count(_.getName.startsWith(prefix))).getOrElse(0)
    val beforeCm = scratches("graft_cm_stream")
    val cm = Streams.replayCountMinMaintenance(
      Streams.fileStream(spark, in, schema), "v", depth = 3, width = 16L)
    assert(cm.columns.toSeq == Seq("row_idx", "bucket", "cnt"))
    assert(cm.count() == 0L)
    assert(scratches("graft_cm_stream") == beforeCm, "count-min replay leaked its scratch dir")
    val beforeHll = scratches("graft_hll_stream")
    val hll = Streams.replayHllMaintenance(
      Streams.fileStream(spark, in, schema), "g", "v", m = 64)
    assert(hll.columns.toSeq == Seq("g", "bucket", "register"))
    assert(hll.count() == 0L)
    assert(scratches("graft_hll_stream") == beforeHll, "hll replay leaked its scratch dir")
    // the non-empty path cleans up too (and the materialized rollup
    // survives its scratch's deletion)
    (0 until 40).map(i => ("g" + (i % 2), s"v$i")).toDF("g", "v").write.parquet(s"$base/in2")
    val beforeKmv = scratches("graft_kmv_stream")
    val kmv = Streams.replayKmvMaintenance(
      Streams.fileStream(spark, s"$base/in2", spark.read.parquet(s"$base/in2").schema),
      "g", "v", k = 16)
    assert(kmv.count() > 0L)
    assert(scratches("graft_kmv_stream") == beforeKmv, "kmv replay leaked its scratch dir")
  }

  test("replayDedupKeys admits each key once and returns only key columns") {
    val base = Files.createTempDirectory("streamdd").toString
    val in = s"$base/in"
    Seq(
      (1L, "a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, "a", java.sql.Timestamp.valueOf("2024-01-01 10:05:00")), // dup key
      (1L, "b", java.sql.Timestamp.valueOf("2024-01-01 10:06:00")),
      (2L, "a", java.sql.Timestamp.valueOf("2024-01-01 10:07:00"))
    ).toDF("uid", "kind", "ts").write.parquet(in)
    val got = Streams.replayDedupKeys(
      Streams.fileStream(spark, in, spark.read.parquet(in).schema),
      Seq("uid", "kind"), eventTimeCol = Some("ts"))
    assert(got.columns.toSeq == Seq("uid", "kind"))
    assert(got.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (1L, "b"), (2L, "a")))
    val e = intercept[IllegalArgumentException] {
      Streams.replayDedupKeys(spark.read.parquet(in), Seq("uid"))
    }
    assert(e.getMessage.contains("streaming"), e.getMessage)
  }

  test("watermarked windowed aggregate over a replayed stream") {
    val base = Files.createTempDirectory("stream2").toString
    val in = s"$base/in"
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:05:00"), "view", 3.0)
    ).toDF("ts", "event_type", "value").write.parquet(in)

    val schema = spark.read.parquet(in).schema
    val agg = Streams.windowedCounts(
      Streams.fileStream(spark, in, schema), "ts", "event_type", "value")
    val q = agg.writeStream
      .format("memory")
      .queryName("win_out")
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT event_type, n, value_sum FROM win_out ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }

  test("file-granular streaming upsert merges by PK and leaves non-intersecting files alone") {
    val base = Files.createTempDirectory("fgstream").toString
    val in = s"$base/in"
    val target = s"$base/t"
    // initial range-clustered table: keys 0..99 in 4 files
    graft.operators.FileMerge.mergeFileGranular(
      spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      target, "id", initialFiles = 4)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val before = files()

    // two micro-batches: an update inside one file's range, then an insert
    Seq((10L, "u10")).toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    Seq((500L, "new")).toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    val q = Streams.upsertStreamFileGranular(
      spark, Streams.fileStream(spark, in, spark.read.parquet(in).schema), "id", target, s"$base/ck")
    q.awaitTermination(60000)

    val out = spark.read.parquet(target).as[(Long, String)].collect().toMap
    assert(out.size == 101 && out(10L) == "u10" && out(500L) == "new")
    // at least half the original files were never rewritten by either batch
    val surviving = before.count { case (n, m) => files().get(n).contains(m) }
    assert(surviving >= 2, s"only $surviving of ${before.size} files survived")
  }

  /** Every file under `dir` (data + `_`-prefixed), name → (len, mtime):
    * identical maps ⇔ the operation wrote NOTHING.
    */
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else
      fs.listStatus(p)
        .filter(_.isFile)
        .map(st => st.getPath.getName -> ((st.getLen, st.getModificationTime)))
        .toMap
  }

  test("streaming IVF append: index matches a full build and survives a LOST checkpoint exactly-once") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val base = Files.createTempDirectory("streamivf").toString
    val in = s"$base/in"
    val idx = s"$base/ivf"
    val ckpt = s"$base/ckpt"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")

    // initial build on the even half; the odd half arrives as two
    // micro-batch files
    Similarity.ivfBuild(
      spark, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", idx, files = 4)
    emb.where(col("vec_id") % 4 === 1).coalesce(1).write.mode("append").parquet(in)
    emb.where(col("vec_id") % 4 === 3).coalesce(1).write.mode("append").parquet(in)

    val schema = spark.read.parquet(in).schema
    def runStream(): Unit =
      Streams.appendStreamIvf(
        spark, Streams.fileStream(spark, in, schema), "vec_id", "embedding",
        idx, ckpt, filesPerBatch = 2)
        .awaitTermination(120000): Unit
    def probe(path: String) = Similarity
      .ivfTopKIndexed(spark, path, "vec_id", "embedding",
        emb.where(col("vec_id") === 0L).select("embedding"),
        k = 10, nprobe = 4, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    runStream()
    val streamed = probe(idx)
    val full = s"$base/full"
    Similarity.ivfBuild(spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding", full, files = 4)
    assert(streamed == probe(full), "streamed index must probe like a full build")

    // LOSE the checkpoint: recreating the stream on the same path
    // replays every micro-batch — each must be detected by its replay
    // marker (checkpoint-derived prefix + batch id) and write NOTHING
    val post = new org.apache.hadoop.fs.Path(s"$idx/postings")
    val fs = post.getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val filesBefore = fs.listStatus(post).map(_.getPath.getName).toSet
    runStream()
    assert(fs.listStatus(post).map(_.getPath.getName).toSet == filesBefore,
      "a fully replayed stream must write no postings files")
    assert(probe(idx) == streamed)
  }

  test("streaming IVF-PQ append: probes like a full build; a LOST checkpoint replays to nothing") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val base = Files.createTempDirectory("streamivfpq").toString
    val in = s"$base/in"
    val idx = s"$base/ivfpq"
    val ckpt = s"$base/ckpt"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")

    // initial build on the even half (codebook trained on the full
    // designated sample, so streamed batches code identically to a
    // full rebuild); the odd half arrives as two micro-batch files
    Similarity.ivfPqBuild(
      spark, emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = idx, files = 4, trainOn = Some(emb))
    emb.where(col("vec_id") % 4 === 1).coalesce(1).write.mode("append").parquet(in)
    emb.where(col("vec_id") % 4 === 3).coalesce(1).write.mode("append").parquet(in)

    val schema = spark.read.parquet(in).schema
    def runStream(): Unit =
      Streams.appendStreamIvfPq(
        spark, Streams.fileStream(spark, in, schema), "vec_id", "embedding",
        idx, ckpt, filesPerBatch = 2)
        .awaitTermination(120000): Unit
    def probe(path: String) = Similarity
      .ivfPqTopK(spark, path, "vec_id",
        emb.where(col("vec_id") === 0L).select("embedding"),
        m = 4, topK = 10, nprobe = 4, shortlist = 40,
        rerank = emb, rerankVecCol = "embedding", excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq

    runStream()
    val streamed = probe(idx)
    val full = s"$base/full"
    Similarity.ivfPqBuild(spark, emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 16), "vec_id", "embedding",
      m = 4, k = 8, indexPath = full, files = 4)
    assert(streamed == probe(full), "streamed IVF-PQ index must probe like a full build")

    // LOSE the checkpoint: every micro-batch replays, hits its marker,
    // writes nothing
    val post = new org.apache.hadoop.fs.Path(s"$idx/postings")
    val fs = post.getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val filesBefore = fs.listStatus(post).map(_.getPath.getName).toSet
    runStream()
    assert(fs.listStatus(post).map(_.getPath.getName).toSet == filesBefore,
      "a fully replayed stream must write no postings files")
    assert(probe(idx) == streamed)
  }

  test("streaming index append: seeks match a full build; a LOST checkpoint replays to nothing") {
    import graft.operators.Invert
    val base = Files.createTempDirectory("streamidx").toString
    val in = s"$base/in"
    val idx = s"$base/index"
    val ckpt = s"$base/ckpt"
    val first = (0L until 150L).map(i => (i, "alpha beta")).toDF("doc_id", "text")
    val b1 = (300L until 360L).map(i => (i, "beta gamma")).toDF("doc_id", "text")
    val b2 = (400L until 460L).map(i => (i, "gamma delta alpha")).toDF("doc_id", "text")
    Invert.writeIndex(spark, Invert.postingLists(first, "doc_id", "text", 100L), idx, files = 2)
    // two sequential stream runs on one checkpoint: the ingest contract
    // is monotone doc ids, so batch order must be deterministic
    b1.coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runStream(): Unit =
      Streams.appendStreamIndex(
        spark, Streams.fileStream(spark, in, schema), "doc_id", "text",
        idx, ckpt, blockDocs = 100L, filesPerBatch = 2)
        .awaitTermination(120000): Unit
    runStream()
    b2.coalesce(1).write.mode("append").parquet(in)
    runStream()

    val all = first.union(b1).union(b2)
    val lens = Invert.docLengths(all, "doc_id", "text")
    def search(index: org.apache.spark.sql.DataFrame) =
      Invert.bm25TopK(index, lens, Seq("alpha", "gamma"), k = 10).collect().toSeq
    val streamed = search(Invert.readIndex(spark, idx))
    assert(streamed == search(Invert.postingLists(all, "doc_id", "text", 100L)),
      "maintained index must search like a from-scratch build")

    // LOSE the checkpoint: the full stream replays; every micro-batch
    // must hit its replay marker and write NOTHING
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val before = fileState(idx)
    runStream()
    assert(fileState(idx) == before, "a fully replayed stream must write no index files")
    assert(search(Invert.readIndex(spark, idx)) == streamed)
  }

  test("redelivered micro-batch is skipped with ZERO file writes (exactly-once ledger)") {
    val target = Files.createTempDirectory("replay").toString + "/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Streams.upsertBatch(spark, b0, "id", target, batchId = 0L))
    val once = spark.read.parquet(target).as[(Long, String)].collect().toSet
    val state = fileState(target)
    // foreachBatch delivers at-least-once: after a crash between the
    // merge and the checkpoint commit, the SAME batch id is redelivered —
    // the _commits ledger must skip it without touching a single file
    assert(!Streams.upsertBatch(spark, b0, "id", target, batchId = 0L))
    assert(fileState(target) == state, "redelivery wrote files")
    assert(spark.read.parquet(target).as[(Long, String)].collect().toSet == once)
    // the stream continues correctly after the replay
    assert(Streams.upsertBatch(spark, Seq((2L, "b2")).toDF("id", "v"), "id", target, batchId = 1L))
    assert(spark.read.parquet(target).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2")))
    // a lost ledger (e.g. a compaction rebuilt the dir) degrades to the
    // idempotent re-merge: re-executed, but the table is unchanged
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(target, "_commits"), false)
    assert(Streams.upsertBatch(spark, Seq((2L, "b2")).toDF("id", "v"), "id", target, batchId = 1L))
    assert(spark.read.parquet(target).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2")))
  }

  test("ledger compacts contiguous batch ids into a floor (O(1) file on a long stream)") {
    val target = Files.createTempDirectory("ledger").toString + "/t"
    (0L until 12L).foreach { b =>
      assert(Streams.upsertBatch(spark, Seq((b, s"v$b")).toDF("id", "v"), "id", target, b))
    }
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(target, "_commits"))
    val lines =
      try new String(in.readAllBytes(), "UTF-8").split("\n").filter(_.nonEmpty).toSeq
      finally in.close()
    assert(lines == Seq("floor:11"), s"ledger not compacted: $lines")
    // floor-covered ids still skip with zero writes
    assert(!Streams.upsertBatch(spark, Seq((0L, "x")).toDF("id", "v"), "id", target, 0L))
    assert(!Streams.upsertBatch(spark, Seq((5L, "x")).toDF("id", "v"), "id", target, 5L))
    // the floor never advances across a GAP: id 40 commits explicitly
    assert(Streams.upsertBatch(spark, Seq((40L, "g")).toDF("id", "v"), "id", target, 40L))
    assert(!Streams.upsertBatch(spark, Seq((40L, "g")).toDF("id", "v"), "id", target, 40L))
    assert(Streams.upsertBatch(spark, Seq((13L, "h")).toDF("id", "v"), "id", target, 13L))
  }

  test("roll-forward after a partial publish keeps the new ledger") {
    val target = Files.createTempDirectory("ledgerpartial").toString + "/t"
    assert(Streams.upsertBatch(spark, Seq((1L, "a")).toDF("id", "v"), "id", target, 0L))
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    val live = fs.listStatus(hp(target)).map(_.getPath.getName).filterNot(_.startsWith("_"))
    // batch 1's commit crashed mid-publish: the staged ledger already
    // replaced the live one (old copy still aside), the data not yet
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(target + "_fmerge")
    Files.writeString(java.nio.file.Paths.get(target + "_fmerge", "_commits"), "floor:1\n")
    Files.writeString(java.nio.file.Paths.get(target + "_fmerge", "_touched"),
      live.mkString("", "\n", "\n"))
    assert(fs.rename(hp(s"$target/_commits"), hp(s"$target/_old__commits")))
    assert(fs.rename(hp(s"${target}_fmerge/_commits"), hp(s"$target/_commits")))
    // the replay rolls forward and finds batch 1 committed
    assert(!Streams.upsertBatch(spark, Seq((2L, "b")).toDF("id", "v"), "id", target, 1L))
    assert(spark.read.parquet(target).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    val in = fs.open(hp(s"$target/_commits"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "floor:1\n") finally in.close()
  }

  test("upsertBatch preserves a column evolved by an earlier file-granular merge") {
    val target = Files.createTempDirectory("evostream").toString + "/t"
    assert(Streams.upsertBatch(spark, (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"),
      "id", target, batchId = 0L))
    // another writer evolves the table: file-granular merge adds column w,
    // rewriting only the files it touches (heterogeneous footers remain)
    graft.operators.FileMerge.mergeFileGranular(
      spark, Seq((1L, "v1x", "w1")).toDF("id", "v", "w"), target, "id")
    // the next micro-batch rewrites the WHOLE table — the evolved column
    // must survive the read-merge-swap round trip
    assert(Streams.upsertBatch(spark, Seq((2L, "v2y")).toDF("id", "v"), "id", target, batchId = 1L))
    val got = spark.read.option("mergeSchema", "true").parquet(target)
    assert(got.columns.contains("w"), "evolved column dropped by streaming upsert")
    val rows = got.select("id", "v", "w").as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == (("v1x", Some("w1"))) && rows(2L) == (("v2y", None)))
  }

  test("file-granular redelivery is skipped with zero file writes; ledger survives merges") {
    val target = Files.createTempDirectory("replayfg").toString + "/t"
    val b0 = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    assert(Streams.upsertBatchFileGranular(spark, b0, "id", target, batchId = 0L))
    val state = fileState(target)
    assert(!Streams.upsertBatchFileGranular(spark, b0, "id", target, batchId = 0L))
    assert(fileState(target) == state, "redelivery wrote files")
    // a NEW batch merges file-granularly and the ledger keeps both ids
    assert(Streams.upsertBatchFileGranular(
      spark, Seq((1L, "v1x")).toDF("id", "v"), "id", target, batchId = 1L))
    assert(!Streams.upsertBatchFileGranular(
      spark, Seq((1L, "v1x")).toDF("id", "v"), "id", target, batchId = 1L))
    assert(!Streams.upsertBatchFileGranular(spark, b0, "id", target, batchId = 0L))
    val got = spark.read.parquet(target).as[(Long, String)].collect().toMap
    assert(got(1L) == "v1x" && got(2L) == "v2" && got.size == 50)
  }

  test("file-granular batch: a crash after its one manifest rolls forward with the id committed") {
    val target = Files.createTempDirectory("crashfg").toString + "/t"
    assert(Streams.upsertBatchFileGranular(
      spark, (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), "id", target, batchId = 0L))
    val b1 = Seq((3L, "v3x"), (100L, "new")).toDF("id", "v")
    // batch 1 crashed inside its commit: merge and ledger staged, the one
    // manifest published, none of its moves run
    val hide = graft.operators.FileMerge.stageFileGranular(spark, b1, target, "id").get
    assert(hide.nonEmpty)
    graft.operators.FileMerge.stageFile(spark, target, "_commits", "floor:1\n")
    Files.writeString(java.nio.file.Paths.get(target + "_fmerge", "_touched"),
      hide.mkString("", "\n", "\n"))
    // the redelivery rolls the commit forward and finds batch 1 committed
    assert(!Streams.upsertBatchFileGranular(spark, b1, "id", target, batchId = 1L))
    assert(!Files.exists(java.nio.file.Paths.get(target + "_fmerge")))
    val got = spark.read.parquet(target).as[(Long, String)].collect().toMap
    assert(got.size == 51 && got(3L) == "v3x" && got(100L) == "new" && got(4L) == "v4")
    val state = fileState(target)
    assert(!Streams.upsertBatchFileGranular(spark, b1, "id", target, batchId = 1L))
    assert(fileState(target) == state, "redelivery wrote files")
  }

  // --- deduped corpus ingestion ---------------------------------------

  // 12-token sentences; near-dup twins change ONLY the final token, so
  // exactly 1 of 10 trigram shingles differs: jaccard 9/11 = 0.818 >= 0.8
  private val DocA = "the quick brown fox jumps over the lazy dog near the river"
  private val DocANear = "the quick brown fox jumps over the lazy dog near the creek"
  private val DocC = "pack my box with five dozen liquor jugs before the long trip"
  private val DocCNear = "pack my box with five dozen liquor jugs before the long ride"
  private val DocD = "sphinx of black quartz judge my vow in the quiet dark night"
  private val DocDNear = "sphinx of black quartz judge my vow in the quiet dark cave"

  test("streaming deduped ingestion: only novel documents reach the corpus") {
    val base = Files.createTempDirectory("streamingest").toString
    val in = s"$base/in"
    val target = s"$base/corpus"

    // batch 1: two distinct docs, an exact in-batch dup, a short doc
    Seq((1L, DocA), (2L, DocC), (3L, DocA), (4L, "hi there"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    pinBatchOrder(in, 1)
    // batch 2: exact corpus dup, near corpus dup, novel doc, its
    // within-batch near-dup, a short exact corpus dup, a short novel doc
    Seq((10L, DocA), (11L, DocCNear), (12L, DocD), (13L, DocDNear),
      (14L, "hi there"), (15L, "bye"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    pinBatchOrder(in, 2)

    val schema = spark.read.parquet(in).schema
    val q = Streams.ingestStreamDeduped(
      spark, Streams.fileStream(spark, in, schema), "doc_id", "text", target, s"$base/ckpt")
    q.awaitTermination(120000)

    val got = spark.read.parquet(target).as[(Long, String)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 4L, 12L, 15L), s"unexpected corpus ids: ${got.keySet}")
    assert(got(12L) == DocD && got(15L) == "bye")
  }

  test("ingest near-dup guard also fires across batches for the first corpus doc") {
    val target = Files.createTempDirectory("ingestnear").toString + "/corpus"
    assert(Streams.ingestBatchDeduped(
      spark, Seq((1L, DocA)).toDF("doc_id", "text"), "doc_id", "text", target, 0L))
    // a NEAR dup of corpus content (not exact) must be rejected
    assert(Streams.ingestBatchDeduped(
      spark, Seq((2L, DocANear), (3L, DocD)).toDF("doc_id", "text"),
      "doc_id", "text", target, 1L))
    val ids = spark.read.parquet(target).as[(Long, String)].collect().map(_._1).toSet
    assert(ids == Set(1L, 3L), s"near-dup not rejected: $ids")
  }

  test("ingest crash mid-move heals on replay: lost docs re-append, kept docs don't duplicate") {
    val target = Files.createTempDirectory("ingestcrash").toString + "/corpus"
    assert(Streams.ingestBatchDeduped(
      spark, Seq((1L, DocA)).toDF("doc_id", "text"), "doc_id", "text", target, 0L))
    val batch1 = Seq((2L, DocC), (3L, DocD)).toDF("doc_id", "text")
    assert(Streams.ingestBatchDeduped(spark, batch1, "doc_id", "text", target, 1L))
    val tp = new org.apache.hadoop.fs.Path(target)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reconstruct the exact mid-move crash state: batch 1's ledger entry
    // never committed, and one of its moved files never made it
    val out = fs.create(new org.apache.hadoop.fs.Path(target, "_commits"), true)
    try out.write("floor:0\n".getBytes("UTF-8")) finally out.close()
    val victim = fs.listStatus(tp)
      .filter(_.getPath.getName.startsWith("ingest_1_"))
      .find(f => spark.read.parquet(f.getPath.toString)
        .where(col("doc_id") === 3L).count() > 0)
      .getOrElse(fail("no batch-1 file contains doc 3"))
    assert(fs.delete(victim.getPath, false))
    assert(!spark.read.parquet(target).as[(Long, String)].collect().map(_._1).contains(3L))
    // the replay recomputes deterministically: docs already in the corpus
    // are dropped by the guards, the lost doc re-appends
    assert(Streams.ingestBatchDeduped(spark, batch1, "doc_id", "text", target, 1L))
    val healed = spark.read.parquet(target).as[(Long, String)].collect()
    assert(healed.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L), s"healed: ${healed.toSeq}")
  }

  test("ingest crash replay keeps a novel doc that band-collides with an already-moved doc") {
    // The adversarial replay case: doc X moved into the corpus by a
    // crashed attempt, doc B lost by the crash, and X/B BAND-COLLIDE at
    // sub-threshold true Jaccard (trigrams: 9 shared tokens of 12 →
    // j = 7/13 ≈ 0.538 < 0.8; collision verified below, md5 banding is
    // deterministic). If the replay fed X to both sides of the
    // incremental banding join, X's shingles would be double-counted in
    // the rescore (2c/(na+nb-2c) = 7/3 ≥ 0.8) and novel B would be
    // dropped — permanently lost. The digest anti-join must therefore
    // run BEFORE the banding join.
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val docX = s"$shared xray yankee zulu"
    val docB = s"$shared nova orbit pulse"
    // precondition: the pair IS an LSH candidate and IS sub-threshold
    val probe = graft.operators.Dedup
      .incrementalNearDupMd5(
        Seq((100L, docX)).toDF("doc_id", "text"),
        Seq((3L, docB)).toDF("doc_id", "text"),
        "doc_id", "text", n = 3, threshold = 0.3)
      .collect()
    assert(probe.length == 1 && probe(0).getDouble(2) < 0.8,
      s"fixture must band-collide below threshold, got: ${probe.toSeq}")

    val target = Files.createTempDirectory("ingestcollide").toString + "/corpus"
    assert(Streams.ingestBatchDeduped(
      spark, Seq((1L, DocA)).toDF("doc_id", "text"), "doc_id", "text", target, 0L))
    val batch1 = Seq((2L, docX), (3L, docB)).toDF("doc_id", "text")
    assert(Streams.ingestBatchDeduped(spark, batch1, "doc_id", "text", target, 1L))
    val tp = new org.apache.hadoop.fs.Path(target)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reconstruct the mid-move crash: ledger never committed batch 1,
    // X's file made it in, B's file did not
    val out = fs.create(new org.apache.hadoop.fs.Path(target, "_commits"), true)
    try out.write("floor:0\n".getBytes("UTF-8")) finally out.close()
    val victim = fs.listStatus(tp)
      .filter(_.getPath.getName.startsWith("ingest_1_"))
      .find { f =>
        val ids = spark.read.parquet(f.getPath.toString)
          .select("doc_id").as[Long].collect().toSet
        ids.contains(3L) && !ids.contains(2L)
      }
      .getOrElse(fail("no batch-1 file contains doc 3 without doc 2"))
    assert(fs.delete(victim.getPath, false))
    assert(spark.read.parquet(target).select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // replay: X is corpus now and must be digest-dropped BEFORE banding;
    // B is novel (j = 0.538 < 0.8 vs X) and must re-append
    assert(Streams.ingestBatchDeduped(spark, batch1, "doc_id", "text", target, 1L))
    val healed = spark.read.parquet(target).as[(Long, String)].collect()
    assert(healed.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L),
      s"novel band-colliding doc lost on replay: ${healed.toSeq.sortBy(_._1)}")
  }

  test("corpusAsOf: each snapshot shows exactly the batches committed up to it") {
    val target = Files.createTempDirectory("ingestasof").toString + "/corpus"
    assert(Streams.ingestBatchDeduped(
      spark, Seq((1L, DocA), (2L, DocC)).toDF("doc_id", "text"), "doc_id", "text", target, 0L))
    assert(Streams.ingestBatchDeduped(
      spark, Seq((3L, DocD)).toDF("doc_id", "text"), "doc_id", "text", target, 1L))
    def ids(asOf: Long) =
      Streams.corpusAsOf(spark, target, asOf).as[(Long, String)].collect().map(_._1).toSet
    assert(ids(-1L).isEmpty)
    assert(ids(0L) == Set(1L, 2L))
    assert(ids(1L) == Set(1L, 2L, 3L))
    assert(ids(Long.MaxValue) == Set(1L, 2L, 3L))
    // the latest snapshot is the plain table read
    assert(ids(Long.MaxValue) ==
      spark.read.parquet(target).as[(Long, String)].collect().map(_._1).toSet)
    // the empty snapshot is schema-stable
    assert(Streams.corpusAsOf(spark, target, -1L).columns.toSeq == Seq("doc_id", "text"))
  }

  test("compactIngestCorpus: snapshots at/above the floor survive, below are refused, ledger rides") {
    val target = Files.createTempDirectory("ingestcompact").toString + "/corpus"
    val batch2 = Seq((3L, DocD)).toDF("doc_id", "text")
    assert(Streams.ingestBatchDeduped(
      spark, Seq((1L, DocA)).toDF("doc_id", "text"), "doc_id", "text", target, 0L))
    assert(Streams.ingestBatchDeduped(
      spark, Seq((2L, DocC)).toDF("doc_id", "text"), "doc_id", "text", target, 1L))
    assert(Streams.ingestBatchDeduped(spark, batch2, "doc_id", "text", target, 2L))
    val full = spark.read.parquet(target).as[(Long, String)].collect().toSet
    def ids(asOf: Long) =
      Streams.corpusAsOf(spark, target, asOf).as[(Long, String)].collect().map(_._1).toSet

    // squash batches 0..1 into a tagged base; batch 2 keeps its own files,
    // untouched: same names, sizes and mtimes
    val kept = fileState(target).filter(_._1.startsWith("ingest_2_"))
    assert(kept.nonEmpty)
    assert(Streams.compactIngestCorpus(spark, target, upToBatchId = 1L) >= 1)
    assert(fileState(target).filter(_._1.startsWith("ingest_2_")) == kept)
    assert(spark.read.parquet(target).as[(Long, String)].collect().toSet == full,
      "full corpus content must survive compaction")
    assert(ids(1L) == Set(1L, 2L), "the squash-point snapshot must be intact")
    assert(ids(2L) == Set(1L, 2L, 3L))
    assert(ids(Long.MaxValue) == Set(1L, 2L, 3L))
    // history below the squash point is DECLARED gone, not silently wrong
    val ex = intercept[IllegalArgumentException](Streams.corpusAsOf(spark, target, 0L))
    assert(ex.getMessage.contains("squashed"))
    // per-batch files of squashed history are gone; batch 2's remain
    val tp = new org.apache.hadoop.fs.Path(target)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(tp).map(_.getPath.getName).filter(!_.startsWith("_"))
    assert(!names.exists(_.startsWith("ingest_0_")), names.mkString(","))
    assert(names.exists(_.startsWith("ingest_2_")), names.mkString(","))
    // the exactly-once ledger rode along: a redelivered batch still skips
    assert(!Streams.ingestBatchDeduped(spark, batch2, "doc_id", "text", target, 2L))
    // and new batches keep committing on the compacted corpus
    assert(Streams.ingestBatchDeduped(
      spark, Seq((4L, "completely novel content for batch three")).toDF("doc_id", "text"),
      "doc_id", "text", target, 3L))
    assert(ids(3L) == Set(1L, 2L, 3L, 4L))

    // the name-blind whole-table compaction must refuse this corpus
    // rather than strip its tags (every snapshot would become the full
    // corpus) — it names the batch-aware alternative
    val refuse = intercept[IllegalArgumentException](
      graft.sources.Lake.compact(spark, target))
    assert(refuse.getMessage.contains("compactIngestCorpus"))
  }

  test("corpusAsOf over a torn compactIngestCorpus refuses below the staged floor, changes nothing") {
    import graft.operators.FileMerge
    import org.apache.hadoop.fs.Path
    val target = Files.createTempDirectory("ingesttorn").toString + "/corpus"
    assert(Streams.ingestBatchDeduped(
      spark, Seq((1L, DocA)).toDF("doc_id", "text"), "doc_id", "text", target, 0L))
    assert(Streams.ingestBatchDeduped(
      spark, Seq((2L, DocC)).toDF("doc_id", "text"), "doc_id", "text", target, 1L))
    assert(Streams.ingestBatchDeduped(
      spark, Seq((3L, DocD)).toDF("doc_id", "text"), "doc_id", "text", target, 2L))
    // compactIngestCorpus(upToBatchId = 1) crashed after its manifest:
    // the squashed base and the new floor are staged, batch 0's files
    // are moved aside, batch 1's are still live, nothing is published
    val tp = new Path(target)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val squash = fs.listStatus(tp).map(_.getPath.getName)
      .filter(n => n.startsWith("ingest_0_") || n.startsWith("ingest_1_"))
    spark.read.parquet(squash.map(n => s"$target/$n").toIndexedSeq: _*)
      .write.parquet(FileMerge.stagingPath(target))
    FileMerge.prefixStaged(spark, target, "ingest_1_")
    FileMerge.stageFile(spark, target, "_asof_floor", "1\n")
    FileMerge.stageFile(spark, target, "_touched", squash.mkString("", "\n", "\n"))
    squash.filter(_.startsWith("ingest_0_"))
      .foreach(n => assert(fs.rename(new Path(tp, n), new Path(tp, "_old_" + n))))
    val torn = tree(target, FileMerge.stagingPath(target))
    def ids(asOf: Long) =
      Streams.corpusAsOf(spark, target, asOf).as[(Long, String)].collect().map(_._1).toSet
    val ex = intercept[IllegalArgumentException](Streams.corpusAsOf(spark, target, 0L))
    assert(ex.getMessage.contains("squashed"))
    assert(ids(1L) == Set(1L, 2L))
    assert(ids(2L) == Set(1L, 2L, 3L))
    assert(tree(target, FileMerge.stagingPath(target)) == torn,
      "the read changed the corpus or its staging")
  }

  test("replayed ingest batch skips; a lost ledger degrades to a zero-row re-ingest") {
    val target = Files.createTempDirectory("ingestreplay").toString + "/corpus"
    val b = Seq((1L, DocA), (2L, DocC), (3L, "hi there")).toDF("doc_id", "text")
    assert(Streams.ingestBatchDeduped(spark, b, "doc_id", "text", target, 0L))
    val state = fileState(target)
    val once = spark.read.parquet(target).as[(Long, String)].collect().toSet
    // redelivered id: ledger skip, zero file writes
    assert(!Streams.ingestBatchDeduped(spark, b, "doc_id", "text", target, 0L))
    assert(fileState(target) == state, "redelivery wrote files")
    // lost ledger (the crash-mid-move shape): the batch re-executes, but
    // every doc — including the shingle-free short one — is corpus now,
    // so the digest/banding guards append NOTHING
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(target, "_commits"), false)
    assert(Streams.ingestBatchDeduped(spark, b, "doc_id", "text", target, 0L))
    assert(spark.read.parquet(target).as[(Long, String)].collect().toSet == once)
  }
}
