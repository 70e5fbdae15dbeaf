package graft.plans

import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Checkpoints, FileMerge}

/** Job runners + operational metadata, re-expressing the reference's
  * orchestration (`utils.py:340-498`) in-JVM: a "job" is a named
  * `SparkSession => Unit` procedure that runs its own action (a lake
  * write) instead of a remote Glue run, the 0.5 s state-polling loop
  * collapses into `Future` completion, and the metastore append keeps the
  * exact reference schema and status vocabulary (SUCCESS / FAILURE /
  * SUSPENDED). Like the reference, a run records whether each job
  * succeeded, not what it wrote.
  *
  * A job is a release scope ([[graft.operators.Checkpoints.scoped]]):
  * every cache and checkpoint it makes is released when it returns or
  * throws, as a reference job's caches die with its Glue application.
  * A job returns nothing, so nothing can read its pins afterwards; and
  * each job of a parallel batch runs on its own pool thread, so no job
  * releases another's pins.
  */
object Runner {

  /** `operational_metadata` row, schema per `utils.py:461-468`. */
  final case class JobRunRecord(
      job_name: String,
      job_args: String,
      job_status: String,
      job_start_time: Timestamp,
      job_end_time: Timestamp,
      job_duration: Int
  )

  val Success_ = "SUCCESS"
  val Failure_ = "FAILURE"
  val Suspended = "SUSPENDED"

  /** A job runs its own action (every production job ends in a write);
    * any exception, at plan or execution time, is FAILURE.
    */
  type Job = SparkSession => Unit

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  /** `ceil(end-start)` seconds, the reference's duration math
    * (`utils.py:372`, `utils.py:434`).
    */
  def durationSecs(start: Timestamp, end: Timestamp): Int =
    math.ceil((end.getTime - start.getTime) / 1000.0).toInt

  private def runOne(spark: SparkSession, name: String, job: Job, args: String): JobRunRecord = {
    val start = now()
    val status = Try(Checkpoints.scoped(job(spark))) match {
      case Success(_) => Success_
      case Failure(e) =>
        log.warn(s"graft.Runner: job '$name' failed", e)
        Failure_
    }
    val end = now()
    JobRunRecord(name, args, status, start, end, durationSecs(start, end))
  }

  /** Raised by [[runSerialOrRaise]] after downstream jobs are marked
    * SUSPENDED — the reference raises once the cascade is recorded
    * (`utils.py:389-392`); the records (including the SUSPENDED rows)
    * ride on the exception so callers can still persist them.
    */
  final case class CascadeSuspendedException(
      failedJob: String,
      records: Seq[JobRunRecord]
  ) extends RuntimeException(
        s"serial run failed at job '$failedJob'; downstream jobs SUSPENDED")

  /** O4 — serial runner with cascade-suspend (`utils.py:357-392`): run in
    * order; on the first failure, all downstream jobs are recorded
    * SUSPENDED with zero duration and execution stops.
    */
  def runSerial(
      spark: SparkSession,
      jobs: Seq[(String, Job)],
      args: String = ""
  ): Seq[JobRunRecord] = {
    val out = Seq.newBuilder[JobRunRecord]
    var failed = false
    jobs.foreach { case (name, job) =>
      if (failed) {
        val t = now()
        out += JobRunRecord(name, args, Suspended, t, t, 0)
      } else {
        val rec = runOne(spark, name, job, args)
        out += rec
        if (rec.job_status == Failure_) failed = true
      }
    }
    out.result()
  }

  /** [[runSerial]] with the reference's raise-after-suspend contract
    * (`utils.py:389-392`): records are appended via `record` first (so
    * the SUSPENDED rows are durably logged, as the reference does before
    * raising), then a typed exception signals the cascade.
    */
  def runSerialOrRaise(
      spark: SparkSession,
      jobs: Seq[(String, Job)],
      args: String = "",
      record: Seq[JobRunRecord] => Unit = _ => ()
  ): Seq[JobRunRecord] = {
    val recs = runSerial(spark, jobs, args)
    record(recs)
    recs.find(_.job_status == Failure_) match {
      case Some(bad) => throw CascadeSuspendedException(bad.job_name, recs)
      case None      => recs
    }
  }

  /** O3 — parallel runner: all jobs of a batch run concurrently on a
    * bounded pool (the reference's 25-job Glue batch, `utils.py:395-447`);
    * completion replaces the 0.5 s polling loop. Results keep input order.
    */
  def runParallel(
      spark: SparkSession,
      jobs: Seq[(String, Job)],
      args: String = "",
      maxParallel: Int = 25
  ): Seq[JobRunRecord] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(maxParallel, jobs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = jobs.map { case (name, job) => Future(runOne(spark, name, job, args)) }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Layered execution (E1 loop, `driver_ingestions.py:58-61`): layers in
    * ascending order, each layer split into ≤`maxBatchSize` batches run in
    * parallel; metadata appended per batch via `record`.
    *
    * Layer ordering exists so children run AFTER their parents — so once
    * any job has failed, later layers are recorded SUSPENDED instead of
    * executed (a child running over its failed parent's stale overwrite
    * would report SUCCESS on wrong data). This is the layered analogue of
    * the serial runner's cascade and the reference's stop-on-failure
    * driver loop; within the failing layer, already-launched parallel
    * siblings still complete and are recorded individually.
    */
  def runLayers(
      spark: SparkSession,
      layers: Map[Int, Seq[String]],
      registry: Map[String, Job],
      maxBatchSize: Int = 25,
      record: Seq[JobRunRecord] => Unit = _ => ()
  ): Seq[JobRunRecord] = {
    val all = Seq.newBuilder[JobRunRecord]
    var failed = false
    layers.keys.toSeq.sorted.foreach { layer =>
      Dag.batches(layers(layer), maxBatchSize).foreach { batch =>
        val jobs = batch.flatMap(n => registry.get(n).map(n -> _))
        val recs =
          if (failed) {
            val t = now()
            jobs.map { case (name, _) => JobRunRecord(name, "", Suspended, t, t, 0) }
          } else runParallel(spark, jobs, maxParallel = maxBatchSize)
        record(recs)
        all ++= recs
        if (recs.exists(_.job_status == Failure_)) failed = true
      }
    }
    all.result()
  }
}

/** O6 — operational metastore: append-only parquet of `JobRunRecord`s with
  * the reference's fixed schema (`utils.py:451-498`). The JDBC/RDS variant
  * (`utils.py:481-490`) shares the writer with a different format.
  */
object MetaStore {
  import Runner.JobRunRecord

  def append(spark: SparkSession, records: Seq[JobRunRecord], path: String): Unit = {
    import spark.implicits._
    if (records.nonEmpty)
      records.toDS().toDF().write.mode("append").parquet(path)
  }

  /** The metastore as written, typed from one footer the driver reads:
    * no schema-inference job.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    FileMerge.readTable(spark, path)

  def appendJdbc(
      spark: SparkSession,
      records: Seq[JobRunRecord],
      url: String,
      table: String,
      options: Map[String, String]
  ): Unit = {
    import spark.implicits._
    records
      .toDS()
      .toDF()
      .write
      .mode("append")
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
      .save()
  }
}
