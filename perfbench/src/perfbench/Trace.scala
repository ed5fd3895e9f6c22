package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval on the driver thread. Times are epoch nanoseconds so
  * they line up with the listener's epoch-millisecond event times. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, run: String) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call structure (a stack on the
  * driver thread); they are written out once, when the run ends. */
final class Tracer(val run: String) {
  private val origin = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0

  def nowNs: Long = System.nanoTime() + origin

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, nowNs) :: stack
    try body
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, parent, name, start, nowNs, run)
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** A span's duration minus the time its direct children cover. */
  def selfS(s: Span): Double =
    s.durS - done.filter(_.parent == s.id).map(_.durS).sum

  def descendants(s: Span): Seq[Span] = {
    val kids = done.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  def writeJsonl(path: String): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":"${s.run}"}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Int)
final case class TaskRec(finishMs: Long, cpuNs: Long, runMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long)
final case class PhaseRec(phase: String, startMs: Long, ms: Long)

/** Scheduler-side record of everything Spark ran: jobs with their
  * intervals, finished tasks with their metrics. Attributed to spans by
  * time afterwards. */
final class EngineListener extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, (e.time, e.stageInfos.size)); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, n) = Option(starts.remove(e.jobId)).getOrElse((e.time, 0))
    jobs.add(JobRec(e.jobId, t0, e.time, n)); touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorCpuTime,
      m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    touch()
  }
  private def touch(): Unit = lastEventMs = System.currentTimeMillis()
  def openJobs: Int = starts.size
}

/** Catalyst phase times of every executed query, via the session's
  * `spark.sql.queryExecutionListeners` hook (instantiated by Spark once per
  * session, so fresh `newSession()`s are covered too). */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    PhaseListener.record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    PhaseListener.record(qe)
}

object PhaseListener {
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(PhaseRec(name, p.startTimeMs, p.durationMs))
    }
}

/** Engine-side totals inside a time window [fromMs, toMs). */
final case class Window(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
                        runS: Double, shuffleReadMb: Double,
                        shuffleWriteMb: Double, spillMb: Double,
                        driverGapS: Double, phases: Map[String, Double])

object Window {
  private val Mb = 1024.0 * 1024.0

  def of(l: EngineListener, fromMs: Long, toMs: Long): Window = {
    def in(t: Long) = t >= fromMs && t < toMs
    val js = l.jobs.asScala.filter(j => in(j.startMs)).toSeq
    val ts = l.tasks.asScala.filter(t => in(t.finishMs)).toSeq
    // wall time of the window that no running job covers
    val covered = js.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter(c => c._2 > c._1).sortBy(_._1)
      .foldLeft((0L, fromMs)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
      }._1
    val ph = PhaseListener.phases.asScala.filter(p => in(p.startMs)).toSeq
      .groupBy(_.phase).map { case (k, v) => k -> v.map(_.ms).sum / 1e3 }
    Window(js.size, js.map(_.stages).sum, ts.size, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.runMs).sum / 1e3, ts.map(_.shuffleRead).sum / Mb,
      ts.map(_.shuffleWrite).sum / Mb, ts.map(_.spill).sum / Mb,
      ((toMs - fromMs) - covered) / 1e3, ph)
  }

  private def within(ms: Long, s: Span) = ms * 1000000L >= s.startNs && ms * 1000000L < s.endNs

  /** Jobs whose start falls in a span but in none of the given child spans:
    * the span's own jobs. */
  def selfJobs(l: EngineListener, s: Span, kids: Seq[Span]): Int =
    l.jobs.asScala.count(j => within(j.startMs, s) && !kids.exists(within(j.startMs, _)))

  /** Task CPU of tasks that finished in a span but in none of its children. */
  def selfCpuS(l: EngineListener, s: Span, kids: Seq[Span]): Double =
    l.tasks.asScala.filter(t => within(t.finishMs, s) && !kids.exists(within(t.finishMs, _)))
      .map(_.cpuNs).sum / 1e9
}

/** Per-op engine and layer metrics of a traced run. Every top-level span
  * named after an op kind is one op; spans named after a layer inside it
  * are that layer (nested for the door, consecutive for the pipeline). */
object Layered {
  def report(ctx: Ctx, kinds: Seq[String], layers: Seq[String]): Unit =
    for (t <- ctx.tracer; l <- ctx.engine) {
      ctx.drainListeners()
      val all = t.spans
      for (op <- all if op.parent == -1 && kinds.contains(op.name)) {
        val k = op.name
        val w = Window.of(l, op.startNs / 1000000L, op.endNs / 1000000L)
        ctx.add(s"$k.spark.jobs", w.jobs)
        ctx.add(s"$k.spark.stages", w.stages)
        ctx.add(s"$k.spark.tasks", w.tasks)
        ctx.add(s"$k.spark.driver_gap_s", w.driverGapS)
        ctx.add(s"$k.spark.task_cpu_s", w.cpuS)
        ctx.add(s"$k.spark.task_run_s", w.runS)
        ctx.add(s"$k.spark.core_busy_share", w.runS / (op.durS * ctx.a.cpus))
        ctx.add(s"$k.spark.shuffle_read_mb", w.shuffleReadMb)
        ctx.add(s"$k.spark.shuffle_write_mb", w.shuffleWriteMb)
        ctx.add(s"$k.spark.spill_mb", w.spillMb)
        Seq("analysis", "optimization", "planning").foreach { p =>
          ctx.add(s"$k.catalyst.${p}_s", w.phases.getOrElse(p, 0.0))
        }
        val desc = t.descendants(op)
        val selfs = layers.zipWithIndex.map { case (name, i) =>
          val ss = desc.filter(_.name == name)
          val self = ss.map(t.selfS).sum
          ctx.add(s"$k.layer${i + 1}.self_s", self)
          ctx.add(s"$k.layer${i + 1}.jobs",
            ss.map(s => Window.selfJobs(l, s, all.filter(_.parent == s.id))).sum)
          ctx.add(s"$k.layer${i + 1}.task_cpu_s",
            ss.map(s => Window.selfCpuS(l, s, all.filter(_.parent == s.id))).sum)
          self
        }
        ctx.add(s"$k.glue_s", op.durS - selfs.sum)
        // children lie inside their parents, so self times never go negative
        // and the op's wall splits exactly into the self times of its spans
        val negative = (op +: desc).filter(t.selfS(_) < -1e-9).map(_.name)
        ctx.check("spans_nest", negative.isEmpty, s"$k op: negative self time in ${negative.mkString(",")}")
      }
    }
}
