package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State shared by a workload's set-up, timed loop and checks. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val root: String) {
  val samples = new Samples
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  val setup = mutable.LinkedHashMap[String, Double]()

  def attemptedOps: Long = synchronized(attempted)
  def failedOps: Long = synchronized(failed)
  def failureLog: Seq[String] = synchronized(failures.toSeq)

  private def fail(what: String): Unit = synchronized {
    failed += 1
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** One attempted operation; an exception counts it failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch { case e: Throwable => fail(s"$name: $e"); None }
  }

  /** One correctness check; a false or throwing check is a failed op. */
  def check(name: String)(ok: => Boolean): Unit =
    op(name)(ok) match {
      case Some(true) => ()
      case Some(false) => fail(s"check $name")
      case None => ()
    }

  /** Timed operation: seconds into `series` (only when it succeeded). */
  def timed[T](series: String, span: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = op(span)(tracer.span(span, newTrace = true)(body))
    if (r.isDefined) samples.add(series, (System.nanoTime() - t0) / 1e9)
    r
  }

  def path(rel: String): String = s"$root/$rel"
}

/** A benchmark workload: set-up (inputs and warm-up, reported in
  * `setup_s`), a traced preparation phase of operations timed once
  * each, a timed loop that runs until the deadline, and checks.
  */
trait Workload {
  def setup(c: Ctx): Unit
  def prepare(c: Ctx): Unit = ()
  def run(c: Ctx, deadlineNs: Long): Unit
  def check(c: Ctx): Unit
  /** Span names of the timed window's unit operations. */
  def opSpans: Seq[String]
  /** Span names of the one-shot loads timed before the window. */
  def loadSpans: Seq[String]
  /** Per-workload values of the shared end-to-end metrics besides
    * `setup_s`: `throughput_per_s`, `op_s_p50`, `bytes_ratio`.
    */
  def endToEnd(c: Ctx): Map[String, Double]
  /** This workload's per-layer metrics (the others report 0). */
  def layers(c: Ctx): Map[String, Double]
  /** Sample counts behind the timings, for the host evidence line. */
  def sampleCounts(c: Ctx): Map[String, Int]
}

object Main {
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  /** CPU seconds stolen by the hypervisor from all CPUs so far (the
    * `steal` column of /proc/stat, in USER_HZ = 1/100 s); -1 if absent.
    */
  private def stealS(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .trim.split("\\s+")(8).toDouble / 100
    catch { case _: Throwable => -1.0 }

  private def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Halt if the launching process goes away: a killed runner must not
    * leave this JVM behind.
    */
  private def watchParent(): Unit =
    ProcessHandle.current().parent().ifPresent { parent =>
      val t = new Thread(() => {
        while (parent.isAlive) Thread.sleep(500)
        Runtime.getRuntime.halt(3)
      })
      t.setDaemon(true)
      t.start()
    }

  def main(args: Array[String]): Unit = {
    watchParent()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val root = opts("root")
    // local[2] on a 4-core host: Spark's task threads, the driver's
    // scheduler and the JVM's GC and JIT threads then fit the cores
    // without queueing behind each other or a neighbour's load (the
    // JVM is started with -XX:ActiveProcessorCount=2 to match)
    val cpus = "2"
    val workload: Workload = workloadName match {
      case "lake_etl"        => new LakeEtl
      case "curate_retrieve" => new CurateRetrieve
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadStart = loadavg()
    val stealStart = stealS()
    val (spark, sessionS) = timedS {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$root/spark-local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        // the graft.Bench setting: shuffle files are reclaimed only
        // when their exchanges are GC'd, so force a periodic GC
        .config("spark.cleaner.periodicGC.interval", "60s")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.range(0, 1000).selectExpr("sum(id)").collect() // first job: executor up
      s
    }
    val tracer = new Tracer(spark.sparkContext, traced)
    val c = new Ctx(spark, tracer, seed, root)
    c.setup("session_s") = sessionS
    workload.setup(c)
    tracer.restart()
    workload.prepare(c)
    val t0 = System.nanoTime()
    val stealWindow = stealS()
    workload.run(c, t0 + seconds * 1000000000L)
    val runS = (System.nanoTime() - t0) / 1e9
    val stealWindowS = stealS() - stealWindow
    tracer.stop()
    val (_, checkS) = timedS(workload.check(c))
    val loadEnd = loadavg()

    val setupS = c.setup.values.sum
    val e2e = workload.endToEnd(c) + ("setup_s" -> setupS)
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val own = workload.layers(c) ++ Layers.spark(c, workload) ++ Layers.selfTimes(c) ++
          c.setup.map { case (k, v) => s"setup.$k" -> v } ++
          e2e.map { case (k, v) => s"traced.$k" -> v }
        Layers.all.map { case (name, _) => name -> own.getOrElse(name, 0.0) }.toMap
      }
    if (traced) opts.get("trace-out").foreach { out =>
      Files.createDirectories(Paths.get(out).getParent)
      Files.write(Paths.get(out), (Layers.describe +: tracer.dump()).asJava)
    }
    val correct = c.failedOps == 0
    val evidence = Json.obj(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> opts.getOrElse("nproc", "unknown"), "spark_cores" -> cpus,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "steal_s" -> (stealS() - stealStart), "steal_window_s" -> stealWindowS,
      "spark_version" -> spark.version, "jvm" -> System.getProperty("java.vm.version"),
      "timed_loop_s" -> runS, "check_s" -> checkS, "error_rate" -> c.failedOps.toDouble / math.max(1L, c.attemptedOps),
      "samples" -> workload.sampleCounts(c).map { case (k, n) =>
        k -> Map[String, Any]("n" -> n, "tail_pct" -> Stats.tailPct(n), "p50" -> c.samples.median(k)) },
      "op_stats" -> {
        val xs = c.samples.get("op")
        if (xs.isEmpty) Map.empty[String, Double]
        else Map("p50" -> Stats.pct(xs, 50), "p75" -> Stats.pct(xs, 75), "p90" -> Stats.pct(xs, 90),
          "max" -> xs.max, "mean" -> xs.sum / xs.size)
      },
      "setup" -> c.setup, "failures" -> c.failureLog)
    println(s"""{"evidence":$evidence}""")
    val metrics: Seq[(String, Double, String)] =
      if (traced) Layers.all.map { case (n, u) => (n, perLayer(n), u) }
      else Layers.endToEnd.map { case (n, u) => (n, e2e(n), u) }
    spark.stop()
    println(Json.obj(
      "correct" -> correct, "attempted" -> c.attemptedOps, "failed" -> c.failedOps,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
        .to(mutable.LinkedHashMap)))
  }
}
