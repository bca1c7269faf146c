package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span the benchmark records around its own work: the workload run,
  * a cycle of steps, or one step (one call into a layer's public
  * function). Times are nanoTime; `epochMs` maps them onto the wall clock
  * Spark's listener events use. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val phase: String, val traced: Boolean) {
  var t0: Long = 0L
  var t1: Long = 0L
  var ok: Boolean = true
  def ms: Double = (t1 - t0) / 1e6
}

/** What the listener saw of one stage attempt, summed over its tasks. */
final class StageRec(val stageId: Int, val attempt: Int, val step: Long) {
  @volatile var submitted: Long = 0L
  @volatile var completed: Long = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var lastTaskEnd = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var jobId: Int = -1
}

final class JobRec(val jobId: Int, val step: Long, val start: Long, val stageIds: Seq[Int]) {
  @volatile var end: Long = 0L
}

/** Spans in memory, plus a SparkListener that links each Spark job and
  * stage to the step that submitted it through a local property. The
  * listener is attached only while a traced cycle runs, so untraced
  * cycles pay nothing for it. */
final class Tracer(spark: SparkSession) extends SparkListener {
  val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = baseEpochMs + (ns - baseNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this); attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this); attached = false
  }

  private var current = 0L

  def open(kind: String, name: String, phase: String): Span = {
    val s = new Span(ids.incrementAndGet(), current, kind, name, phase, attached)
    spans += s
    current = s.id
    if (attached) spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    s.t0 = System.nanoTime()
    s
  }

  def close(s: Span): Unit = {
    s.t1 = System.nanoTime()
    current = s.parent
    if (attached) spark.sparkContext.setLocalProperty(SpanKey,
      if (current == 0L) null else current.toString)
  }

  private def stepOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new JobRec(e.jobId, stepOf(e.properties), e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    val r = stages.computeIfAbsent((i.stageId, i.attemptNumber()),
      _ => new StageRec(i.stageId, i.attemptNumber(), stepOf(e.properties)))
    r.submitted = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stages.get((i.stageId, i.attemptNumber())))
      .foreach(_.completed = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.get((e.stageId, e.stageAttemptId))
    if (r != null && e.taskMetrics != null) r.synchronized {
      val m = e.taskMetrics
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      r.inputBytes += m.inputMetrics.bytesRead
      r.lastTaskEnd = math.max(r.lastTaskEnd, e.taskInfo.finishTime)
      r.taskMs += e.taskInfo.duration
    }
  }

  /** Stages joined to the job that first listed them. */
  private def linked(): Unit = {
    val owner = jobs.values.asScala.toSeq.sortBy(_.jobId)
      .flatMap(j => j.stageIds.map(_ -> j.jobId)).reverse.toMap
    stages.values.asScala.foreach(s => s.jobId = owner.getOrElse(s.stageId, -1))
  }

  /** Traced step spans of one name, with their jobs and stages. */
  def traced(step: String): Seq[(Span, Seq[JobRec], Seq[StageRec])] = {
    linked()
    val js = jobs.values.asScala.toSeq.groupBy(_.step)
    val ss = stages.values.asScala.toSeq.groupBy(_.step)
    spans.toSeq.filter(s => s.kind == "step" && s.traced && s.name == step && s.t1 > 0)
      .map(s => (s, js.getOrElse(s.id, Nil).sortBy(_.start),
        ss.getOrElse(s.id, Nil).sortBy(_.submitted)))
  }

  /** Self time, in seconds, of each layer over the traced steps of a
    * phase: step (driver work outside any job), job (outside any stage)
    * and stage (the union of stage intervals). */
  def selfTimes(phase: String): Map[String, Double] = {
    linked()
    val js = jobs.values.asScala.toSeq.groupBy(_.step)
    val ss = stages.values.asScala.toSeq.groupBy(_.step)
    var step, job, stage = 0.0
    spans.filter(s => s.kind == "step" && s.traced && s.phase == phase && s.t1 > 0).foreach { s =>
      val lo = epochMs(s.t0); val hi = epochMs(s.t1)
      val jobIv = js.getOrElse(s.id, Nil).filter(_.end > 0).map(j => (j.start.toDouble, j.end.toDouble))
      val stIv = ss.getOrElse(s.id, Nil).filter(_.completed > 0)
        .map(t => (t.submitted.toDouble, t.completed.toDouble))
      val jobCover = Intervals.covered(jobIv, lo, hi)
      val stageCover = Intervals.covered(stIv, lo, hi)
      step += (hi - lo) - jobCover
      job += math.max(0.0, jobCover - stageCover)
      stage += stageCover
    }
    val cycles = spans.filter(s => s.kind == "cycle" && s.traced && s.phase == phase && s.t1 > 0)
    val inSteps = spans.filter(s => s.kind == "step" && s.traced && s.phase == phase && s.t1 > 0)
      .map(_.ms).sum
    Map("trace.cycle_self_s" -> math.max(0.0, cycles.map(_.ms).sum - inSteps) / 1e3,
      "trace.step_self_s" -> step / 1e3, "trace.job_self_s" -> job / 1e3,
      "trace.stage_s" -> stage / 1e3)
  }

  /** The span file: one JSON object a line, parents before children. */
  def write(path: java.nio.file.Path): Unit = {
    linked()
    val out = new StringBuilder
    spans.foreach { s =>
      out ++= Json.obj("id" -> s"s${s.id}", "parent" -> (if (s.parent == 0) null else s"s${s.parent}"),
        "kind" -> s.kind, "name" -> s.name, "phase" -> s.phase, "traced" -> s.traced,
        "ok" -> s.ok, "start_ms" -> epochMs(s.t0), "end_ms" -> epochMs(s.t1)) += '\n'
    }
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      out ++= Json.obj("id" -> s"j${j.jobId}", "parent" -> (if (j.step == 0) null else s"s${j.step}"),
        "kind" -> "job", "start_ms" -> j.start.toDouble, "end_ms" -> j.end.toDouble) += '\n'
    }
    stages.values.asScala.toSeq.sortBy(s => (s.stageId, s.attempt)).foreach { s =>
      out ++= Json.obj("id" -> s"t${s.stageId}.${s.attempt}",
        "parent" -> (if (s.jobId < 0) null else s"j${s.jobId}"), "kind" -> "stage",
        "step" -> (if (s.step == 0) null else s"s${s.step}"),
        "start_ms" -> s.submitted.toDouble, "end_ms" -> s.completed.toDouble,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "input_bytes" -> s.inputBytes) += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out.toString)
  }
}

object Intervals {
  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
