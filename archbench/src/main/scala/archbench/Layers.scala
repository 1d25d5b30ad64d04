package archbench

/** Per-layer metrics of the traced run, computed from the benchmark's
  * own spans and the Spark probes. Spark jobs, tasks and planned
  * queries are attributed to the operation whose time window holds
  * their start; per-op figures are means over the workload's primary
  * operations. A layer a workload never calls reports 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "engine.ingest_ms" -> "ms",
    "engine.tick_call_ms" -> "ms",
    "engine.tick_plain_ms" -> "ms",
    "engine.tick_aggregate_ms" -> "ms",
    "engine.tick_purge_ms" -> "ms",
    "engine.driver_gap_ms" -> "ms",
    "engine.tick_codegen_compile_ms" -> "ms",
    "engine.tick_codegen_compiles" -> "count",
    "store.jobs.append" -> "count",
    "store.jobs.snapshot" -> "count",
    "store.jobs.aggregate" -> "count",
    "store.jobs.overwrite" -> "count",
    "store.jobs.unlabeled" -> "count",
    "store.files_written_per_tick" -> "count",
    "store.history_files" -> "count",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_ms" -> "ms",
    "spark.job_wall_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms",
    "spark.codegen_compiles" -> "count",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "read.series_ms" -> "ms",
    "read.db_ms" -> "ms",
    "read.sql_ms" -> "ms",
    "read.files_scanned" -> "count",
    "read.rows_scanned_per_row_returned" -> "ratio",
    "dedup.shingle_ms" -> "ms",
    "dedup.band_ms" -> "ms",
    "dedup.verify_ms" -> "ms",
    "dedup.cc_ms" -> "ms",
    "dedup.candidate_pairs" -> "count",
    "dedup.true_pairs_per_candidate" -> "ratio",
    "trace.op_p50_ms" -> "ms",
    "trace.throughput_per_s" -> "1/s")

  private val StoreLabels = Seq("append", "snapshot", "aggregate", "overwrite")

  def compute(w: Workload, tracer: Tracer, probe: SparkProbe,
      ops: Seq[Op]): Map[String, Double] = {
    val timed = ops.filter(_.id >= 0)
    def opOf(tMs: Long): Option[Op] = timed.find(o =>
      tMs >= o.startNs / 1000000L && tMs <= o.endNs / 1000000L)
    val jobsByOp = probe.jobs.toSeq.groupBy(j => opOf(j.startMs).map(_.id))
    val stageJob = probe.jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val tasksByOp = probe.tasks.toSeq.groupBy(t =>
      stageJob.get(t.stage).flatMap(j => opOf(j.startMs)).map(_.id))
    val plansByOp = probe.plans.toSeq.groupBy(p => opOf(p.startMs).map(_.id))
    val spansByOp = tracer.spans.toSeq.groupBy(_.op)
    def jobs(o: Op) = jobsByOp.getOrElse(Some(o.id), Seq.empty)
    def tasks(o: Op) = tasksByOp.getOrElse(Some(o.id), Seq.empty)
    def spanMs(o: Op, name: String) =
      spansByOp.getOrElse(o.id, Seq.empty).filter(_.name == name).map(_.ms).sum
    def meanOf(os: Seq[Op])(f: Op => Double) = Stats.mean(os.map(f))
    def jobWallMs(o: Op) = Stats.unionLength(jobs(o).map(j =>
      (math.max(j.startMs, o.startNs / 1000000L),
        math.min(j.endMs, o.endNs / 1000000L)))).toDouble

    val primary = timed.filter(_.kind == w.primary)
    val ticks = timed.filter(_.kind == "tick")
    val reads = timed.filter(_.kind == "read")
    val passes = timed.filter(_.kind == "dedup")
    def phaseMedian(p: String) =
      Stats.median(ticks.filter(_.phase == p).map(_.ms))
    def extraSum(os: Seq[Op], k: String) = os.map(_.extra.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val m = Map.newBuilder[String, Double]
    m += "engine.ingest_ms" -> meanOf(ticks)(spanMs(_, "engine.ingest"))
    m += "engine.tick_call_ms" -> meanOf(ticks)(spanMs(_, "engine.tick"))
    m += "engine.tick_plain_ms" -> phaseMedian("plain")
    m += "engine.tick_aggregate_ms" -> phaseMedian("aggregate")
    m += "engine.tick_purge_ms" -> phaseMedian("purge")
    m += "engine.driver_gap_ms" -> meanOf(ticks)(o => o.ms - jobWallMs(o))
    m += "engine.tick_codegen_compile_ms" -> meanOf(ticks)(_.codegenCompileNs / 1e6)
    m += "engine.tick_codegen_compiles" -> meanOf(ticks)(_.codegenCompiles.toDouble)
    StoreLabels.foreach { l =>
      m += s"store.jobs.$l" -> meanOf(ticks)(o =>
        jobs(o).count(_.desc.startsWith(s"store: $l")).toDouble)
    }
    m += "store.jobs.unlabeled" -> meanOf(ticks)(o =>
      jobs(o).count(_.desc.isEmpty).toDouble)
    m += "store.files_written_per_tick" -> ratio(
      extraSum(ticks, "files_written"), ticks.size)
    m += "spark.jobs" -> meanOf(primary)(jobs(_).size.toDouble)
    m += "spark.tasks" -> meanOf(primary)(tasks(_).size.toDouble)
    m += "spark.task_ms" -> meanOf(primary)(tasks(_).map(_.runMs).sum.toDouble)
    m += "spark.job_wall_ms" -> meanOf(primary)(jobWallMs)
    m += "spark.plan_ms" -> meanOf(primary)(o =>
      plansByOp.getOrElse(Some(o.id), Seq.empty).map(_.planMs).sum.toDouble)
    m += "spark.codegen_compile_ms" -> meanOf(primary)(_.codegenCompileNs / 1e6)
    m += "spark.codegen_compiles" -> meanOf(primary)(_.codegenCompiles.toDouble)
    m += "spark.shuffle_write_bytes" -> meanOf(primary)(o =>
      tasks(o).map(_.shuffleWrite).sum.toDouble)
    m += "spark.spill_bytes" -> meanOf(primary)(o =>
      tasks(o).map(_.spill).sum.toDouble)
    Seq("series", "db", "sql").foreach { k =>
      val withK = reads.filter(spanMs(_, s"read.$k") > 0)
      m += s"read.${k}_ms" -> meanOf(withK)(spanMs(_, s"read.$k"))
    }
    m += "read.files_scanned" -> ratio(extraSum(reads, "scan_files"),
      reads.size)
    m += "read.rows_scanned_per_row_returned" -> ratio(
      extraSum(reads, "scan_rows"), extraSum(reads, "rows_returned"))
    Seq("shingle", "band", "verify", "cc").foreach { k =>
      m += s"dedup.${k}_ms" -> meanOf(passes)(spanMs(_, s"dedup.$k"))
    }
    m += "dedup.candidate_pairs" -> ratio(extraSum(passes, "candidates"),
      passes.size)
    m += "dedup.true_pairs_per_candidate" -> ratio(
      extraSum(passes, "pairs"), extraSum(passes, "candidates"))
    m.result()
  }
}
