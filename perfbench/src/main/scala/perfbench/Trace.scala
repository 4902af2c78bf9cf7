package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span. Spans nest run → workload → op → {build, action}; the
  * children's covered time is subtracted from a span's duration to give
  * its self time.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Layer counters collected by the traced run, keyed by metric name. */
final class Counters {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = m.synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  def get(k: String): Double = m.synchronized(m.getOrElse(k, 0.0))
}

/** Span recorder plus the Spark listeners of a traced run.
  *
  * Before each op the harness sets the local property [[Trace.SpanKey]]
  * to the op's span id, so every job the op submits carries it; job,
  * stage and task events are attributed to the op through it. Everything
  * stays in memory and is written out by [[dump]] when the run ends.
  */
final class Trace(spark: SparkSession, val enabled: Boolean, nproc: Int) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new Counters
  private val stack = mutable.Stack.empty[Span]

  // Spark job intervals (epoch ms, as the events carry them) per op span,
  // for driver.nojob_s; task durations per stage attempt, for skew.
  private val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** Root paths of every file scan planned while an op ran. */
  val scannedRoots = mutable.Map.empty[Int, mutable.Set[String]]

  def open(kind: String, name: String): Span = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), kind, name,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack.push(s)
    if (kind == "op") {
      lastOp = s.id
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    }
    s
  }

  def close(s: Span): Span = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    require(stack.pop() eq s, s"span ${s.name} closed out of order")
    if (s.kind == "op") spark.sparkContext.setLocalProperty(SpanKey, null)
    s
  }

  def span[T](kind: String, name: String)(body: => T): (T, Span) = {
    val s = open(kind, name)
    try (body, s) finally close(s)
  }

  /** Seconds of `op` during which no Spark job of it was running. */
  def noJobSeconds(op: Span): Double = jobIntervals.synchronized {
    val iv = jobIntervals.getOrElse(op.id, mutable.ArrayBuffer.empty)
      .map { case (a, b) => (math.max(a, op.startMs), math.min(b, op.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, op.seconds - covered / 1e3)
  }

  /** A span's duration minus the time covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def dump(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        f""""name":"${s.name}","start_s":${s.startNs / 1e9}%.6f,""" +
        f""""dur_s":${s.seconds}%.6f,"self_s":${selfSeconds(s)}%.6f}""" + "\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
      jobIntervals.synchronized { jobStart(e.jobId) = (op, e.time) }
      counters.add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobIntervals.synchronized {
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((t0, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskInfo != null)
        jobIntervals.synchronized {
          taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      val t = e.taskMetrics
      if (t == null) return
      counters.add("sched.tasks", 1)
      counters.add("exec.run_s", t.executorRunTime / 1e3)
      counters.add("exec.cpu_s", t.executorCpuTime / 1e9)
      counters.add("exec.gc_s", t.jvmGCTime / 1e3)
      counters.add("exec.deser_s", t.executorDeserializeTime / 1e3)
      counters.add("shuffle.read_bytes", t.shuffleReadMetrics.totalBytesRead.toDouble)
      counters.add("shuffle.write_bytes", t.shuffleWriteMetrics.bytesWritten.toDouble)
      counters.add("shuffle.records", t.shuffleWriteMetrics.recordsWritten.toDouble)
      counters.add("shuffle.fetch_wait_s", t.shuffleReadMetrics.fetchWaitTime / 1e3)
      counters.add("spill.disk_bytes", t.diskBytesSpilled.toDouble)
      counters.add("spill.mem_bytes", t.memoryBytesSpilled.toDouble)
      counters.add("io.input_bytes", t.inputMetrics.bytesRead.toDouble)
      counters.add("io.output_bytes", t.outputMetrics.bytesWritten.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      counters.add("sched.stages", 1)
      val times = jobIntervals.synchronized {
        taskTimes.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      }.getOrElse(mutable.ArrayBuffer.empty).sorted
      if (times.size >= nproc) {
        val mean = times.sum.toDouble / times.size
        if (mean > 0) counters.max("stage.skew_max", times.last / mean)
        counters.add("stage.straggler_s", (times.last - times(times.size / 2)) / 1e3)
      }
    }
  }

  private object Queries extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      counters.add("driver.query_executions", 1)
      val phases = qe.tracker.phases
      def ph(name: String) = phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
      counters.add("driver.parse_s", ph(QueryPlanningTracker.PARSING))
      counters.add("driver.analysis_s", ph(QueryPlanningTracker.ANALYSIS))
      counters.add("driver.optimization_s", ph(QueryPlanningTracker.OPTIMIZATION))
      counters.add("driver.planning_s", ph(QueryPlanningTracker.PLANNING))
      // The callback runs on the listener bus, which the harness drains
      // after every op, so the last op opened is the one that ran the query.
      val op = lastOp
      if (op >= 0) {
        val roots = collect(qe.executedPlan) { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toUri.getPath)
        }.flatten
        scannedRoots.synchronized {
          scannedRoots.getOrElseUpdate(op, mutable.Set.empty) ++= roots
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      counters.add("driver.query_executions", 1)
  }

  @volatile private var lastOp: Int = -1

  private var codegen0 = (0L, 0L, 0L)
  private def codegenNow = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    WholeStageCodegenExec.codeGenTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Registers the listeners and snapshots the process-wide codegen
    * counters; a no-op when tracing is off.
    */
  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
    codegen0 = codegenNow
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  def stop(): Unit = if (enabled) {
    drain()
    val (c, g, n) = codegenNow
    counters.add("codegen.compile_s", (c - codegen0._1) / 1e9)
    counters.add("codegen.gen_s", (g - codegen0._2) / 1e9)
    counters.add("codegen.classes", (n - codegen0._3).toDouble)
    spark.listenerManager.unregister(Queries)
    spark.sparkContext.removeSparkListener(Jobs)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}
