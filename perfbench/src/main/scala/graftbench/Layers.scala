package graftbench

/** The benchmark's metric catalogue. Every per-layer metric names the
  * end-to-end metric it should move and on which workload (`moves`),
  * and the workloads where it should stay flat. A traced run reports
  * every metric here; a workload that does not load a layer reports 0.
  */
object Layers {
  final case class Metric(name: String, unit: String, moves: String) {
    def better: String =
      if (unit == "1/s" || Set("runner.parallelism", "upsert_file.prune_ratio")(name)) "higher"
      else "lower"
  }

  /** Shared end-to-end metrics; each workload defines what its
    * throughput and its unit operation are (see perfbench/README.md).
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "op_s_p50" -> "s", "bytes_ratio" -> "ratio")

  private val LakeMig = "lake_etl:throughput_per_s; flat:curate_retrieve"
  private val Runner = "lake_etl:throughput_per_s; curate_retrieve:throughput_per_s (CurationDriver stages)"
  private val Swap = "lake_etl:op_s_p50,bytes_ratio; flat:curate_retrieve"
  private val Mix = "curate_retrieve:throughput_per_s; flat:lake_etl"
  private val Query = "curate_retrieve:op_s_p50; flat:lake_etl"
  private val Append = "curate_retrieve:setup_s,op_s_p50 (files the queries read),bytes_ratio; flat:lake_etl"

  private val Loads = "all:throughput_per_s; curate_retrieve:setup_s (index build, append)"

  private def m(moves: String, unit: String, names: String*): Seq[Metric] =
    names.map(Metric(_, unit, moves))

  val metrics: Seq[Metric] =
    m("all:setup_s", "s", "setup.session_s", "setup.fixture_s", "setup.warmup_s") ++
      m("curate_retrieve:setup_s; flat:lake_etl", "s", "setup.load_s") ++
      // sources.Lake
      m(LakeMig, "s", "lake.write_s", "lake.read_s") ++
      m("lake_etl:throughput_per_s,bytes_ratio; flat:curate_retrieve", "bytes", "lake.bytes_written") ++
      m("lake_etl:throughput_per_s,bytes_ratio; flat:curate_retrieve", "count", "lake.files_written") ++
      // plans.Runner / plans.Dag (LakeDriver's batches)
      m(Runner, "s", "runner.batch_wall_s", "runner.job_busy_s", "runner.idle_s") ++
      m(Runner, "ratio", "runner.parallelism") ++
      // plans.MetaStore / plans.Recon
      m(Runner, "s", "metastore.append_s") ++
      m(Runner, "count", "metastore.appends") ++
      m(LakeMig, "s", "recon.s") ++
      m(LakeMig, "count", "recon.spark_jobs") ++
      // streaming.Streams + operators.Incremental (swap path)
      m(Swap, "s", "upsert_swap.s_p50", "upsert_swap.s_tail", "upsert.replay_skip_s") ++
      m(Swap, "bytes", "upsert_swap.bytes_rewritten") ++
      m(Swap, "ratio", "upsert_swap.write_amp") ++
      m(Swap, "count", "upsert_swap.spark_jobs") ++
      // operators.FileMerge (file-granular path)
      m(Swap, "s", "upsert_file.s_p50", "upsert_file.s_tail") ++
      m(Swap, "count", "upsert_file.files_rewritten", "upsert_file.spark_jobs") ++
      m(Swap, "ratio", "upsert_file.prune_ratio", "upsert_file.write_amp") ++
      m(LakeMig, "1/s", "migrate_rows_per_s") ++
      m("lake_etl:bytes_ratio; flat:curate_retrieve", "ratio", "lake_bytes_ratio") ++
      // CurationDriver stages (metastore record timestamps)
      m(Mix, "s", Seq("validate", "dedup", "decontaminate", "mix", "quality", "pack")
        .map(st => s"curate.${st}_s"): _*) ++
      m(Mix, "1/s", "curate_docs_per_s") ++
      // operators.Dedup / Graph / Curation / Scale, by job call site
      Seq("dedup" -> Mix, "graph" -> Mix,
        "curation" -> Mix, "scale" -> Mix).flatMap { case (mod, mv) =>
        m(mv, "count", s"$mod.spark_jobs") ++ m(mv, "s", s"$mod.executor_cpu_s") ++
          m(mv, "bytes", s"$mod.shuffle_bytes")
      } ++
      // operators.Invert
      m(Query, "s", "invert.bm25_s", "invert.read_index_s") ++
      m(Query, "bytes", "invert.bytes_read_per_query") ++
      m(Append, "s", "invert.append_s") ++
      m(Append, "count", "invert.index_files") ++
      // operators.Similarity
      m(Query, "s", "similarity.ivfpq_topk_s") ++
      m(Query, "bytes", "similarity.bytes_read_per_query") ++
      m(Append, "s", "similarity.append_s") ++
      m(Append, "count", "similarity.index_files") ++
      m(Query, "s", "bm25_s_p50", "ann_s_p50", "hybrid_s_p50", "query_s_tail") ++
      m(Query, "1/s", "queries_per_s") ++
      m(Append, "s", "index_append_s_p50") ++
      // Spark engine, per unit operation of the window (a CDC batch, a
      // query)
      m("all:op_s_p50", "count", "spark.jobs", "spark.tasks") ++
      m("all:op_s_p50", "s", "spark.executor_cpu_s", "spark.gc_s", "spark.task_wait_s") ++
      m("all:op_s_p50", "bytes", "spark.input_bytes", "spark.output_bytes",
        "spark.shuffle_write_bytes") ++
      // Spark engine, the one-shot loads before the window, in total
      // (migration; curation, index build and append)
      m(Loads, "count", "spark_load.jobs", "spark_load.tasks") ++
      m(Loads, "s", "spark_load.executor_cpu_s") ++
      m(Loads, "bytes", "spark_load.output_bytes") ++
      // self time per span name (mean per span)
      SelfSpans.map { case (span, mv) => Metric(s"self_s.$span", "s", mv) } ++
      // the traced run's own end-to-end numbers (minus the untraced
      // run's = tracing overhead)
      endToEnd.map { case (n, u) => Metric(s"traced.$n", u, "tracing overhead") }

  /** Span names the workloads open, with what their self time moves. */
  lazy val SelfSpans: Seq[(String, String)] = Seq(
    "migrate" -> LakeMig, "ingest_job" -> LakeMig, "cdc" -> Swap, "upsert_swap" -> Swap,
    "upsert_file" -> Swap, "curate" -> Mix,
    "query_bm25" -> Query, "query_ann" -> Query, "query_hybrid" -> Query,
    "invert_read_index" -> Query, "invert_bm25" -> Query, "similarity_topk" -> Query,
    "rrf_fuse" -> Query, "index_build" -> "curate_retrieve:setup_s; flat:lake_etl",
    "append" -> Append, "invert_append" -> Append, "similarity_append" -> Append)

  val all: Seq[(String, String)] = metrics.map(x => x.name -> x.unit)

  /** The catalogue as one JSON line (first line of every trace file). */
  def describe: String = Json.obj("layers" -> metrics.map(x =>
    Map("name" -> x.name, "unit" -> x.unit, "better" -> x.better, "moves" -> x.moves)))

  /** Spark counters per unit operation of the window, and in total
    * over the one-shot loads.
    */
  def spark(c: Ctx, w: Workload): Map[String, Double] = {
    val n = math.max(1, w.opSpans.map(c.tracer.named(_).size).sum)
    val t = c.tracer.sparkUnder(w.opSpans: _*)
    val l = c.tracer.sparkUnder(w.loadSpans: _*)
    Map("spark.jobs" -> t.jobs.toDouble / n, "spark.tasks" -> t.tasks.toDouble / n,
      "spark.executor_cpu_s" -> t.cpuS / n, "spark.gc_s" -> t.gcS / n,
      "spark.input_bytes" -> t.inputBytes.toDouble / n,
      "spark.output_bytes" -> t.outputBytes.toDouble / n,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble / n,
      "spark.task_wait_s" -> t.taskWaitS / n,
      "spark_load.jobs" -> l.jobs.toDouble, "spark_load.tasks" -> l.tasks.toDouble,
      "spark_load.executor_cpu_s" -> l.cpuS, "spark_load.output_bytes" -> l.outputBytes.toDouble)
  }

  /** Mean self time of each named span in the window. */
  def selfTimes(c: Ctx): Map[String, Double] =
    SelfSpans.flatMap { case (name, _) =>
      val ss = c.tracer.named(name)
      if (ss.isEmpty) None
      else Some(s"self_s.$name" -> ss.map(c.tracer.selfSeconds).sum / ss.size)
    }.toMap
}
