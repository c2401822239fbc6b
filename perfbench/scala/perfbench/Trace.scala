package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's own calls into each engine layer.
  *
  * The untraced implementation only runs the body, so end-to-end runs
  * pay nothing for the hooks.
  */
trait Trace {
  def span[T](layer: String, name: String, op: String)(body: => T): T
}

object NoTrace extends Trace {
  def span[T](layer: String, name: String, op: String)(body: => T): T = body
}

/** One traced call. `parent` is 0 for a top-level call. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    op: String, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark execution seen from a listener: which span issued each job,
  * and what each task of those jobs cost. Spans are tagged on jobs
  * through a thread-local property, which Spark copies to the threads
  * it starts for a query (broadcasts, subqueries).
  */
final class ExecListener extends SparkListener {
  import ExecListener._

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)
    e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, span))
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs += JobRec(e.jobId, span, result.flatMap(si => moduleOf(si.details)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += StageRec(si.stageId, stageSpan.getOrElse(si.stageId, 0),
      moduleOf(si.details))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val (run, shuffleW, spill) =
      if (m == null) (0L, 0L, 0L)
      else (m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    tasks += TaskRec(stageSpan.getOrElse(e.stageId, 0), e.taskInfo.duration,
      run, shuffleW, spill)
  }

  def snapshot(): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = synchronized {
    (jobs.toList, stages.toList, tasks.toList)
  }
}

object ExecListener {
  val SpanKey = "perfbench.span"

  final case class JobRec(jobId: Int, span: Int, module: Option[String])
  final case class StageRec(stageId: Int, span: Int, module: Option[String])
  final case class TaskRec(span: Int, durationMs: Long, runMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  private val Frame = """^\s*graft\.([A-Za-z0-9_$]+)\..*""".r

  /** Module of the first `graft.` frame in a stage's call site, e.g.
    * `table` for `graft.table.ChronoTable.append(...)`. Objects at the
    * top of the `graft` package (`graft.SparkEntry`) are their own
    * module. None when no engine frame is on the call site.
    */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).toSeq.flatMap(_.split('\n')).collectFirst {
      case Frame(seg) => seg.takeWhile(_ != '$')
    }
}

/** Exec counts of a set of spans (a span includes its descendants). */
final case class ExecTotals(jobs: Int, tasks: Int, busyS: Double,
    shuffleWriteBytes: Long, spillBytes: Long, maxTaskS: Double,
    medianTaskS: Double, jobsByModule: Map[String, Int])

final class SpanTrace(sc: SparkContext) extends Trace {
  import ExecListener._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0
  val listener = new ExecListener
  sc.addSparkListener(listener)

  def span[T](layer: String, name: String, op: String)(body: => T): T = {
    val s = Span(spans.size + 1, current, layer, name, op, System.nanoTime())
    spans += s
    val saved = current
    current = s.id
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      current = saved
      sc.setLocalProperty(SpanKey, if (saved == 0) null else saved.toString)
    }
  }

  /** Deliver every pending listener event and stop listening; call
    * before reading totals.
    */
  def finish(): Unit = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = spans.toList

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toList

  /** Self time: the span minus its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  private def closure(roots: Seq[Span]): Set[Int] = {
    val out = mutable.Set(roots.map(_.id): _*)
    // spans are created in order, so one forward pass finds all descendants
    spans.foreach(s => if (out.contains(s.parent)) out += s.id)
    out.toSet
  }

  def exec(roots: Seq[Span]): ExecTotals = {
    val ids = closure(roots)
    val (js, _, ts) = listener.snapshot()
    val jobsIn = js.filter(j => ids.contains(j.span))
    val tasksIn = ts.filter(t => ids.contains(t.span))
    val durs = tasksIn.map(_.durationMs / 1e3)
    ExecTotals(
      jobs = jobsIn.size,
      tasks = tasksIn.size,
      busyS = tasksIn.map(_.runMs).sum / 1e3,
      shuffleWriteBytes = tasksIn.map(_.shuffleWriteBytes).sum,
      spillBytes = tasksIn.map(_.spillBytes).sum,
      maxTaskS = if (durs.isEmpty) 0.0 else durs.max,
      medianTaskS = if (durs.isEmpty) 0.0 else Stats.median(durs),
      jobsByModule = jobsIn.groupBy(_.module.getOrElse("unattributed"))
        .map { case (k, v) => k -> v.size })
  }

  /** Executed stages of the spans' jobs per engine module, with the
    * unattributed ones (no engine frame on the call site) under
    * "unattributed".
    */
  def stagesByModule(roots: Seq[Span]): Map[String, Int] = {
    val ids = closure(roots)
    listener.snapshot()._2.filter(s => ids.contains(s.span))
      .groupBy(_.module.getOrElse("unattributed")).map { case (k, v) => k -> v.size }
  }

  /** One JSON object per span with its own exec counts. */
  def spanLines(): Seq[String] = {
    val (js, _, ts) = listener.snapshot()
    val jobsBy = js.groupBy(_.span)
    val tasksBy = ts.groupBy(_.span)
    spans.toList.map { s =>
      val t = tasksBy.getOrElse(s.id, Nil)
      Json(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfSeconds(s),
        "jobs" -> jobsBy.getOrElse(s.id, Nil).size, "tasks" -> t.size,
        "task_busy_s" -> t.map(_.runMs).sum / 1e3,
        "shuffle_write_bytes" -> t.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> t.map(_.spillBytes).sum))
    }
  }
}
