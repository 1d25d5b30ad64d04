package archbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.core.GenericDatasource

/** What one timed operation did. `kind` is tick, read or dedup; `phase`
  * is the cadence phase of a tick; `items` are the rows archived, the
  * requests served or the documents deduplicated; `extra` carries
  * per-op counts the traced run reports (files written, rows scanned). */
final case class Op(kind: String, items: Long, errors: Int,
    phase: String = "") {
  var extra: Map[String, Double] = Map.empty
  var id: Int = -1
  var ms: Double = 0
  var startNs: Long = 0
  var endNs: Long = 0
  var codegenCompiles: Long = 0
  var codegenCompileNs: Long = 0
  /** CPU time of the whole process (every thread) during the op. */
  var cpuMs: Double = 0
}

final class Ctx(val spark: SparkSession, val seed: Long,
    val tracer: Tracer) {
  def trace: Boolean = tracer.enabled
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Time one operation (the op's root span in the traced run). */
  def timedOp(i: Int)(body: => Op): Op = {
    val cg0 = Codegen.compiles; val cgNs0 = Codegen.compileNs
    val c0 = Cpu.processNs()
    val t0 = tracer.nowNs()
    val op = tracer.opSpan("op", i)(body)
    val t1 = tracer.nowNs()
    op.cpuMs = (Cpu.processNs() - c0) / 1e6
    op.id = i; op.ms = (t1 - t0) / 1e6; op.startNs = t0; op.endNs = t1
    op.codegenCompiles = Codegen.compiles - cg0
    op.codegenCompileNs = Codegen.compileNs - cgNs0
    op
  }
}

/** One prepared workload instance over one store root. */
trait Run {
  /** Untimed operations that bring the JVM and Spark to steady state. */
  def warmup(): Unit
  def op(i: Int): Op
  /** Timed operations of a `seconds` run: a fixed count for a given
    * `seconds`, whatever the machine's speed, so every run does the
    * same work and reports the same percentiles. */
  def timedOps(seconds: Double): Int
  /** Output checks after the timed phase: one message per failure. */
  def check(): Seq[String]
  /** Checks performed by [[check]] (each failure counts once). */
  def checksAttempted: Int
  /** Bytes the workload leaves on disk per input row. */
  def bytesPerRow(): Double
  /** End-of-run per-layer figures (traced run only). */
  def layerTotals(): Map[String, Double] = Map.empty
}

trait Workload {
  def name: String
  /** The op kind the end-to-end latency and throughput describe. */
  def primary: String
  def prepare(ctx: Ctx, root: Path): Run
  /** Generated inputs of this seed, as (label, checksum) pairs. */
  def inputChecksums(ctx: Ctx): Seq[(String, String)]
}

object Cpu {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time this process has used so far, all threads. */
  def processNs(): Long = os.getProcessCpuTime
}

object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Regular files under `p` (links not followed: every file once). */
  def files(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f =>
        Files.isRegularFile(f, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .toList
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum
}

object Checks {
  /** None when equal, else a message naming the first differences. */
  def sameMap[K, V](what: String, got: Map[K, V],
      want: Map[K, V]): Option[String] =
    if (got == want) None
    else {
      val keys = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      Some(s"$what: ${keys.size} keys differ, e.g. " +
        keys.take(3).map(k => s"$k got ${got.get(k)} want ${want.get(k)}")
          .mkString("; "))
    }

  /** Data files the history tiers' readers would open (their planned
    * scans), over every server. */
  def historyFiles(engine: graft.core.Engine, dss: Seq[String],
      srvids: Seq[Int]): Double = {
    val tiers = Seq(GenericDatasource.History, GenericDatasource.HistoryDb)
    (for (ds <- dss; tier <- tiers; s <- srvids) yield {
      val d = engine.datasource(ds)
      val spec = if (tier == GenericDatasource.History) Some(d.spec) else d.dbSpec
      spec.map(sp => Scans.of(engine.store.readPartition(ds, tier, s,
        GenericDatasource.historyNoSrvid(sp)).queryExecution.executedPlan)._1)
        .getOrElse(0.0)
    }).sum
  }
}

object Checksum {
  /** Order-independent digest of a frame's rows. */
  def frame(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val r = df.select(
      count(lit(1)),
      sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def string(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    d.take(12).map("%02x".format(_)).mkString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(rankIndex(s.size, p))
  }

  private def rankIndex(n: Int, p: Int): Int =
    math.max(0, math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1))

  /** The highest whole percentile with at least 10 samples beyond it,
    * never below the median. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val p = (99 to 50 by -1).find(p => n - 1 - rankIndex(n, p) >= 10)
      .getOrElse(50)
    (p, percentile(xs, p))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Scan statistics of an executed plan: files and rows its scans read.
  * A file-source scan reports its file count as a metric; a store (DSv2)
  * scan plans one input partition per file that survived pruning. */
object Scans {
  def of(plan: SparkPlan): (Double, Double) = {
    var files = 0.0; var rows = 0.0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case b: BatchScanExec =>
          files += b.inputPartitions.size
          b.metrics.get("numOutputRows").foreach(m => rows += m.value)
        case _ =>
          if (p.nodeName.contains("Scan")) {
            p.metrics.get("numFiles").foreach(m => files += m.value)
            p.metrics.get("numOutputRows").foreach(m => rows += m.value)
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    (files, rows)
  }
}
