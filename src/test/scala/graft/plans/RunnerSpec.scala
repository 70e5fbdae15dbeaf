package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.plans.Runner.Job

class RunnerSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val ok: Job = s => { import s.implicits._; Seq(1, 2).toDF("x").collect() }
  private val boom: Job = _ => throw new RuntimeException("boom")
  // plans fine, fails only once the job's own action executes it
  private val okLazyFail: Job = s => {
    import s.implicits._; Seq(1).toDF("x").select(raise_error(lit("late"))).collect()
  }

  test("serial runner: cascade-suspend downstream with zero duration (O4, utils.py:379-381)") {
    val recs = Runner.runSerial(spark, Seq("a" -> ok, "b" -> boom, "c" -> ok, "d" -> ok))
    assert(recs.map(_.job_status) == Seq("SUCCESS", "FAILURE", "SUSPENDED", "SUSPENDED"))
    assert(recs.filter(_.job_status == "SUSPENDED").forall(_.job_duration == 0))
  }

  test("runSerialOrRaise records SUSPENDED rows first, then raises typed (utils.py:389-392)") {
    var recorded: Seq[Runner.JobRunRecord] = Nil
    val ex = intercept[Runner.CascadeSuspendedException] {
      Runner.runSerialOrRaise(spark, Seq("a" -> ok, "b" -> boom, "c" -> ok),
        record = recs => recorded = recs)
    }
    assert(ex.failedJob == "b")
    assert(recorded.map(_.job_status) == Seq("SUCCESS", "FAILURE", "SUSPENDED"))
    assert(ex.records == recorded)
    // clean run returns records without raising
    val clean = Runner.runSerialOrRaise(spark, Seq("a" -> ok, "b" -> ok))
    assert(clean.map(_.job_status) == Seq("SUCCESS", "SUCCESS"))
  }

  test("failure at action time (not plan time) is still FAILURE") {
    val recs = Runner.runSerial(spark, Seq("a" -> okLazyFail, "b" -> ok))
    assert(recs.map(_.job_status) == Seq("FAILURE", "SUSPENDED"))
  }

  test("parallel runner: all run, results keep input order, statuses correct (O3)") {
    val recs = Runner.runParallel(spark, Seq("a" -> ok, "b" -> boom, "c" -> ok))
    assert(recs.map(_.job_name) == Seq("a", "b", "c"))
    assert(recs.map(_.job_status) == Seq("SUCCESS", "FAILURE", "SUCCESS"))
    assert(recs.forall(r => r.job_duration >= 0 && !r.job_end_time.before(r.job_start_time)))
  }

  test("layered execution runs lower layers first and records per batch (E1 loop)") {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val registry: Map[String, Job] = Map(
      "l0a" -> (s => { seen.synchronized(seen += "l0a"); ok(s) }),
      "l0b" -> (s => { seen.synchronized(seen += "l0b"); ok(s) }),
      "l1" -> (s => { seen.synchronized(seen += "l1"); ok(s) })
    )
    val recorded = scala.collection.mutable.ArrayBuffer[Int]()
    val recs = Runner.runLayers(
      spark,
      Map(0 -> Seq("l0a", "l0b"), 1 -> Seq("l1")),
      registry,
      maxBatchSize = 1,
      record = rs => recorded += rs.size
    )
    assert(seen.indexOf("l1") > seen.indexOf("l0a") && seen.indexOf("l1") > seen.indexOf("l0b"))
    assert(recs.size == 3 && recorded.toSeq == Seq(1, 1, 1)) // batch size 1 → one record call per job
  }

  test("metastore round-trip keeps the reference schema (O6, utils.py:461-468)") {
    val dir = Files.createTempDirectory("meta").toString + "/operational_metadata"
    val recs = Runner.runParallel(spark, Seq("a" -> ok, "b" -> boom))
    MetaStore.append(spark, recs, dir)
    MetaStore.append(spark, recs, dir) // append-only
    val back = MetaStore.read(spark, dir)
    assert(back.columns.toSeq == Seq(
      "job_name", "job_args", "job_status", "job_start_time", "job_end_time", "job_duration"))
    assert(back.count() == 4)
    assert(back.schema("job_duration").dataType.typeName == "integer")
  }

  test("duration math is ceil(end-start) seconds (utils.py:372)") {
    val t0 = new java.sql.Timestamp(1000)
    assert(Runner.durationSecs(t0, new java.sql.Timestamp(1001)) == 1)
    assert(Runner.durationSecs(t0, new java.sql.Timestamp(3500)) == 3)
    assert(Runner.durationSecs(t0, t0) == 0)
  }

  test("a job is a release scope: its caches and checkpoints die with it, on failure too") {
    val pins = new PinMark
    val heldInside = scala.collection.mutable.ArrayBuffer[(Int, Set[Int])]()
    def pin(s: org.apache.spark.sql.SparkSession): Unit = {
      import s.implicits._
      val df = Seq(1L, 2L, 3L).toDF("x")
      graft.operators.Checkpoints.cache(df.where($"x" > 1L)).collect()
      graft.operators.Checkpoints.checkpoint(df.select(($"x" * 2L).as("y"))).collect()
      heldInside.synchronized(heldInside += pins.left)
    }
    val registry: Map[String, Job] = Map(
      "pins" -> pin,
      "pinsThenThrows" -> { s => pin(s); throw new RuntimeException("after pinning") })
    val recs = Runner.runLayers(
      spark, Map(0 -> Seq("pins"), 1 -> Seq("pinsThenThrows")), registry)
    assert(recs.map(r => r.job_name -> r.job_status).toMap ==
      Map("pins" -> "SUCCESS", "pinsThenThrows" -> "FAILURE"))
    // each job held its cache entry and persisted RDDs while it ran
    assert(heldInside.size == 2 && heldInside.forall { case (e, rdds) => e == 1 && rdds.nonEmpty })
    assert(pins.left == ((0, Set.empty[Int])))
  }

  test("layered runner suspends later layers after a failure (cascade across layers)") {
    val registry: Map[String, Job] = Map("p" -> boom, "c" -> ok)
    val recs = Runner.runLayers(spark, Map(0 -> Seq("p"), 1 -> Seq("c")), registry)
    assert(recs.map(r => r.job_name -> r.job_status).toMap ==
      Map("p" -> "FAILURE", "c" -> "SUSPENDED"))
  }
}
