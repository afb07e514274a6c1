package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `parent` is 0 for a root span; spans of one run share
  * `runId`. Times are wall-clock epoch milliseconds (the clock Spark stamps
  * its events with) plus a nanosecond duration for precision. Inside the
  * span the process spent `gcMs` in garbage collection and `jitMs` in JIT
  * compilation, and Spark compiled `compiles` generated classes;
  * `storageBytes` is the storage memory in use when it ended.
  */
final case class Span(runId: String, id: Int, parent: Int, name: String,
                      startMs: Long, endMs: Long, nanos: Long,
                      gcMs: Long, jitMs: Long, compiles: Long, storageBytes: Long) {
  def seconds: Double = nanos / 1e9
}

/** Keeps spans in memory; [[write]] dumps them as JSON lines at exit. */
final class Tracer(val runId: String, spark: => SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def all: Seq[Span] = spans.toSeq

  /** Records an already finished child of `parent` (a Spark job, say). */
  def child(parent: Span, name: String, startMs: Long, endMs: Long): Span = {
    val s = Span(runId, nextId, parent.id, name, startMs, endMs, (endMs - startMs) * 1000000L,
      0L, 0L, 0L, 0L)
    nextId += 1
    spans += s
    s
  }

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val gc0 = Tracer.gcMillis()
    val jit0 = Tracer.jitMillis()
    val cg0 = Tracer.codegenCompiles()
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try {
      val r = body
      val ns = System.nanoTime() - ns0
      val s = Span(runId, id, parent, name, ms0, System.currentTimeMillis(), ns,
        Tracer.gcMillis() - gc0, Tracer.jitMillis() - jit0, Tracer.codegenCompiles() - cg0,
        Tracer.storageBytes(spark))
      spans += s
      (r, s)
    } finally stack = stack.tail
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"run_id":"${s.runId}","span_id":${s.id},"parent_id":${s.parent},""" +
        s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""duration_s":${s.seconds},"gc_ms":${s.gcMs},"jit_ms":${s.jitMs},""" +
        s""""codegen_compiles":${s.compiles},"storage_bytes":${s.storageBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Intervals.covered(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
        s.startMs, s.endMs)
      s.id -> (s.seconds - covered / 1e3).max(0.0)
    }.toMap
  }
}

object Intervals {
  /** Milliseconds of [lo, hi] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < a) { total += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    total + (curB - curA)
  }
}

final case class JobRec(startMs: Long, endMs: Long)
final case class StageRec(submitMs: Long)
final case class TaskRec(launchMs: Long, durationMs: Long, runMs: Long, schedDelayMs: Long,
                         ok: Boolean, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class PlanRec(startMs: Long, planMs: Long)

/** Records Spark scheduler events and query planning phases. Installed only
  * for traced cycles; events are attributed to spans by start time (one call
  * runs at a time, so every job inside a call's interval is that call's).
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(JobRec(s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.add(StageRec(e.stageInfo.submissionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val (run, deser, ser, shW, shR, spill) =
      if (m == null) (0L, 0L, 0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.executorDeserializeTime, m.resultSerializationTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled)
    val delay = (i.duration - run - deser - ser - i.gettingResultTime).max(0L)
    tasks.add(TaskRec(i.launchTime, i.duration, run, delay, i.successful, shW, shR, spill))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add(PlanRec(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Spark engine metrics of one call span, by layer: planning,
    * scheduling, task execution, data movement and memory. (Driver time is
    * the span's self time once its jobs are recorded as child spans.)
    */
  def metricsOf(s: Span, cores: Int): Map[String, Double] = {
    def in(t: Long) = t >= s.startMs && t <= s.endMs
    val js = jobsIn(s)
    val ts = tasks.asScala.filter(t => in(t.launchMs)).toSeq
    val durs = ts.map(_.durationMs.toDouble).sorted
    val taskS = ts.map(_.runMs).sum / 1e3
    val mb = 1e6
    Map(
      "plan_s" -> plans.asScala.filter(p => in(p.startMs)).map(_.planMs).sum / 1e3,
      "jobs" -> js.size.toDouble,
      "stages" -> stages.asScala.count(st => in(st.submitMs)).toDouble,
      "tasks" -> ts.size.toDouble,
      "sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
      "task_s" -> taskS,
      "task_p50_ms" -> (if (durs.isEmpty) 0.0 else durs(durs.size / 2)),
      "task_max_ms" -> (if (durs.isEmpty) 0.0 else durs.last),
      "core_util" -> taskS / (s.seconds * cores),
      "tasks_failed" -> ts.count(!_.ok).toDouble,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spill_mb" -> ts.map(_.spill).sum / mb,
      "gc_s" -> s.gcMs / 1e3,
      "jit_s" -> s.jitMs / 1e3,
      "codegen_compiles" -> s.compiles.toDouble,
      "storage_mb" -> s.storageBytes / mb)
  }

  def jobsIn(s: Span): Seq[JobRec] =
    jobs.asScala.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq
}
