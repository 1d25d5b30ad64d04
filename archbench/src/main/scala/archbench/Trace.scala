package archbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` groups the spans of one tick, one
  * dashboard request or one dedup pass; `parent` is the enclosing span
  * (-1 for the op's root). Times are epoch-relative nanoseconds so they
  * line up with Spark's epoch-millisecond event times. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, desc: String,
    stages: Seq[Int])
final case class TaskRec(stage: Int, runMs: Long, shuffleWrite: Long,
    spill: Long)
/** One planned query: phase time and the epoch ms its analysis began. */
final case class PlanRec(startMs: Long, planMs: Long)

/** Span recorder for the traced run. Spans are kept in memory and
  * written out once at the end. With `enabled = false` a span is just
  * the body — the untraced run pays nothing. Single-threaded by
  * design: the benchmark is one client thread, and spans wrap only the
  * calls the benchmark itself makes. */
final class Tracer(val enabled: Boolean) {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1

  /** Root span of one operation; nested [[span]] calls join its group. */
  def opSpan[T](name: String, opId: Int)(body: => T): T =
    if (!enabled) body
    else { op = opId; span(name)(body) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowNs()
      try body
      finally {
        spans += Span(id, name, op, parent, t0, nowNs())
        stack = stack.tail
      }
    }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","op":${s.op},""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark-side probes for the traced run: a listener for jobs and tasks,
  * a query-execution listener for analysis/optimization/planning time,
  * and the process-wide codegen counters. Everything is recorded with
  * epoch-millisecond times and attributed to spans afterwards. */
final class SparkProbe(spark: SparkSession) {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val plans = ArrayBuffer.empty[PlanRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, JobRec]
  @volatile private var started = 0
  @volatile private var ended = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobStart(e.jobId) = JobRec(e.jobId, e.time, e.time, desc,
        e.stageIds)
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
      ended += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val keys = Seq("analysis", "optimization", "planning")
      val ms = keys.flatMap(ph.get).map(_.durationMs).sum
      val start = keys.flatMap(ph.get).map(_.startTimeMs)
        .reduceOption(_ min _).getOrElse(System.currentTimeMillis())
      SparkProbe.this.synchronized { plans += PlanRec(start, ms) }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Listener events arrive asynchronously; wait until every started
    * job has reported its end (bounded wait). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (ended < started && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end and plan events
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** Process-wide counters of Janino compilations. Both move only on a
  * codegen cache miss: `CodeGenerator.doCompile` adds one sample to the
  * `CodegenMetrics` compilation-time histogram and the compile's
  * duration to `CodeGenerator.compileTime`. (Whole-stage source
  * generation, which also runs on cache hits, is not counted.) */
object Codegen {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
