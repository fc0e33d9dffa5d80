package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span's id (-1 at
  * the root); every span of one benchmark run shares `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans held in memory and written once, at the end of the run. When
  * disabled, `span` and `action` run their body and record nothing, so the
  * untraced loop pays no tracing cost. */
final class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var enabled = false

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), runId, System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** A Spark action: the job group names the span, so the listener
    * attributes the action's jobs and stages to it. */
  def action[A](sc: SparkContext, name: String)(body: => A): A =
    if (!enabled) body
    else span(name) {
      sc.setJobGroup(s"span-${stack.head.id}", name, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** `span` and every span below it. */
  def subtree(root: Span): Seq[Span] = {
    val children = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run_id":${Json.str(s.runId)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Task-level totals of a set of jobs. Times are in seconds. */
final case class SparkTotals(jobs: Int = 0, tasks: Int = 0, runS: Double = 0, cpuS: Double = 0,
                             gcS: Double = 0, waitS: Double = 0, inputBytes: Long = 0,
                             shuffleWriteBytes: Long = 0, outputBytes: Long = 0,
                             spillBytes: Long = 0, skew: Double = 1.0)

/** Records every job, stage and task of the session. Attribution to spans
  * happens after the bus drains: a job belongs to the span named by its
  * job group, or else to the innermost span open when it was submitted. */
final class StageListener extends SparkListener {
  private final case class JobRec(group: Option[String], stageIds: Seq[Int], submitMs: Long)
  private final case class TaskRec(stageId: Int, durationMs: Long, runMs: Long, cpuNs: Long,
                                   gcMs: Long, waitMs: Long, in: Long, shufW: Long,
                                   out: Long, spill: Long)
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val stageWallMs = mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JobRec(group, e.stageIds, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageWallMs(i.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val wait = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)
      tasks += TaskRec(e.stageId, info.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        math.max(0L, wait), m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Totals for the jobs attributed to any span of `owned`. Wall-clock
    * attribution compares the job's submit time (ms) with the span's
    * interval, converted with `nsToMs`. */
  def totals(owned: Seq[Span], all: Seq[Span], nsToMs: Long => Long): SparkTotals = synchronized {
    val ownedIds = owned.map(_.id).toSet
    def spanOf(j: JobRec): Option[Int] = j.group.collect {
      case g if g.startsWith("span-") => g.stripPrefix("span-").toInt
    }.orElse {
      all.filter(s => nsToMs(s.startNs) <= j.submitMs && j.submitMs <= nsToMs(s.endNs))
        .sortBy(s => s.endNs - s.startNs).headOption.map(_.id)
    }
    val mine = jobs.filter(j => spanOf(j).exists(ownedIds))
    val stageIds = mine.flatMap(_.stageIds).toSet
    val ts = tasks.filter(t => stageIds(t.stageId))
    val ran = ts.map(_.stageId).distinct
    val skew =
      if (ran.isEmpty) 1.0
      else {
        val longest = ran.maxBy(s => stageWallMs.getOrElse(s, 0L))
        val d = ts.filter(_.stageId == longest).map(_.durationMs.toDouble).sorted.toSeq
        d.last / math.max(1.0, Stats.median(d))
      }
    SparkTotals(mine.size, ts.size, ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.waitMs).sum / 1e3, ts.map(_.in).sum,
      ts.map(_.shufW).sum, ts.map(_.out).sum, ts.map(_.spill).sum, skew)
  }
}
