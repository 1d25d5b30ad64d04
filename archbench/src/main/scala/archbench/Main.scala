package archbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process runs one workload for one seed:
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work-dir <dir> [--source-digest <id>] [--checksums]
  *
  * It sets the store up several times (the set-up time is their median
  * plus the session start), warms up, runs the closed-loop operations
  * `--seconds` stands for (a fixed count, see [[Run.timedOps]]), checks
  * the outputs and prints one JSON result as the
  * last stdout line: the end-to-end metrics untraced, the per-layer
  * metrics traced. `--checksums` prints the digests of the seed's
  * generated inputs instead (the determinism self-test). */
object Main {
  val SetupReps = 3

  val Workloads: Seq[Workload] =
    Seq(DashboardMixed, DedupCorpus)

  def main(args: Array[String]): Unit = {
    // --key value pairs; a --key followed by another --key is a flag
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") =>
        args(i).drop(2) -> args.lift(i + 1).filterNot(_.startsWith("--"))
          .getOrElse("1")
    }.toMap
    val name = opts("workload")
    val workload = Workloads.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = Paths.get(opts("work-dir")).toAbsolutePath

    val t0 = System.nanoTime()
    Memory.watchGc()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Session.local(cpus)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, new Tracer(trace))
    try {
      if (opts.contains("checksums")) {
        val sums = workload.inputChecksums(ctx)
        println(Json.obj(sums.map { case (k, v) => k -> Json.str(v) }))
      } else
        run(workload, ctx, seconds, workDir, sessionStartS, opts, cpus)
    } finally spark.stop()
  }

  private def run(workload: Workload, ctx: Ctx, seconds: Double,
      workDir: Path, sessionStartS: Double, opts: Map[String, String],
      cpus: Int): Unit = {
    val spark = ctx.spark
    val root = workDir.resolve(s"store-${workload.name}")
    // set up SetupReps times on fresh roots, keep the last one
    val setups = (0 until SetupReps).map { r =>
      Fs.deleteRecursively(root)
      val t = System.nanoTime()
      val p = workload.prepare(ctx, root)
      val dt = (System.nanoTime() - t) / 1e9
      System.err.println(f"[archbench] setup $r: $dt%.3f s")
      (dt, p)
    }
    val setupTimes = setups.map(_._1)
    val run = setups.last._2
    val tw = System.nanoTime()
    run.warmup()
    System.err.println(f"[archbench] warm-up: ${(System.nanoTime() - tw) / 1e9}%.3f s")

    val probe = if (ctx.trace) {
      val p = new SparkProbe(spark); p.install(); Some(p)
    } else None
    val steal0 = Steal.seconds()
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var opFailures = 0
    for (i <- 0 until run.timedOps(seconds)) {
      try {
        val op = run.op(i)
        System.err.println(
          f"[archbench] op $i ${op.kind} ${op.phase} ${op.ms}%.1f ms errors=${op.errors}")
        ops += op
        if (op.errors > 0) opFailures += 1
      } catch { case e: Exception =>
        System.err.println(s"[archbench] op $i failed: $e")
        opFailures += 1
        ops += Op("failed", 0, 1)
      }
    }
    val stealS = Steal.seconds() - steal0
    probe.foreach(_.drain())

    val failures = run.check()
    failures.take(20).foreach(f => System.err.println(s"[archbench] check: $f"))
    val attempted = ops.size + run.checksAttempted
    val failed = opFailures + failures.size

    val primary = ops.filter(_.kind == workload.primary).toSeq
    val lat = primary.map(_.ms)
    val (tailPct, tailMs) = Stats.tail(lat)
    val throughput = primary.map(_.items).sum / (ops.map(_.ms).sum / 1000.0)
    val setupS = sessionStartS + Stats.median(setupTimes)

    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else Layers.compute(workload, ctx.tracer, probe.get, ops.toSeq) ++
        run.layerTotals() ++ Map(
          "trace.op_p50_ms" -> Stats.median(lat),
          "trace.throughput_per_s" -> throughput)
    val metrics: Seq[(String, Double, String)] =
      if (!ctx.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("op_tail_ms", tailMs, "ms"),
        ("throughput_per_s", throughput, "1/s"),
        ("bytes_per_row", run.bytesPerRow(), "B"))
      else {
        ctx.tracer.write(workDir.resolve("traces").resolve(
          s"spans-${workload.name}-${ctx.seed}.jsonl"))
        Layers.Names.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }

    val info = Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "seed" -> ctx.seed.toString,
      "trace" -> ctx.trace.toString,
      "seconds" -> seconds.toString,
      "source" -> Json.str(opts.getOrElse("source-digest", "unknown")),
      "cpus" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "conf" -> Json.obj(Session.conf(cpus).map { case (k, v) =>
        k -> Json.str(v) }),
      "steal_s" -> Json.num(stealS),
      "session_start_s" -> Json.num(sessionStartS),
      "setup_reps_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "ops" -> primary.size.toString,
      "ops_all" -> ops.size.toString,
      "tail_percentile" -> tailPct.toString,
      "op_cpu_p50_ms" -> Json.num(Stats.median(primary.map(_.cpuMs))),
      "cpu_ms_per_item" -> Json.num(ops.map(_.cpuMs).sum / primary.map(_.items).sum),
      "error_rate" -> Json.num(failed.toDouble / attempted),
      "vm_hwm_mb" -> Json.num(Memory.peakMb()),
      "heap_after_gc_peak_mb" -> Json.num(Memory.heapAfterGcPeakMb),
      "gcs" -> Memory.gcs.toString) ++
      // traced: the share of an op's core time its Spark tasks ran
      (if (!ctx.trace) Nil else Seq("task_share" -> Json.num(
        layers("spark.task_ms") / (Stats.mean(lat) * cpus)))))
    println("[archbench] run " + info)
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    Fs.deleteRecursively(root)
  }
}

object Session {
  /** The one session configuration every run uses (graft.Bench's). */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def local(cpus: Int): SparkSession = {
    val b = SparkSession.builder().appName("archbench")
    conf(cpus).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Steal {
  /** Hypervisor steal time so far, from /proc/stat (0 where absent). */
  def seconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }
}

/** Memory figures of the run record (data, not gated metrics): VmHWM
  * and the most heap in use right after any collection. */
object Memory {
  @volatile private var peakAfterGc = 0L
  @volatile var gcs = 0
  def heapAfterGcPeakMb: Double = peakAfterGc / 1048576.0

  /** Record the heap in use after every collection from now on. */
  def watchGc(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { gcs += 1; if (used > peakAfterGc) peakAfterGc = used }
          }, null, null)
      case _ =>
    }
  }

  /** Peak resident set (VmHWM) of this JVM, in MiB. */
  def peakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d)
      .round(new java.math.MathContext(10)).stripTrailingZeros.toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
