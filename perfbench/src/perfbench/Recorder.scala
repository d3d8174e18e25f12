package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer: `name` is
  * "<layer>.<part>" (for example "rel.exec" or "ml.mlp_fit"). */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long,
    wallS: Double)

/** Totals of the Spark work attributed to a set of spans. */
final case class LayerStats(calls: Int, wallS: Double, jobs: Int, tasks: Int,
    taskS: Double, idleS: Double, shuffleMb: Double, spillMb: Double,
    failedTasks: Int) {
  def busyCores: Double = if (wallS > 0) taskS / wallS else 0.0
}

/** Counts the jobs of each operation and, when `traced`, attributes
  * jobs, tasks, shuffle and spill to the span that submitted them.
  *
  * Attribution goes through Spark local properties: the benchmark sets
  * [[OpKey]] around every operation and [[SpanKey]] around every span,
  * the scheduler copies both onto each job and stage it submits, and
  * this listener reads them back from the job-start and stage-submit
  * events. Work submitted with no span set is reported as unattributed;
  * work of operations named "check/..." (output checks) is left out.
  */
final class Recorder(sc: SparkContext, val traced: Boolean)
    extends SparkListener {
  import Recorder._

  private final case class TaskRec(span: Long, launchMs: Long,
      finishMs: Long, shuffleBytes: Long, spillBytes: Long, failed: Boolean)

  private val opJobs = new ConcurrentHashMap[String, Integer]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Span and call site (the name of its final stage) of each job. */
  private val jobSpans = ArrayBuffer.empty[(Long, String)]
  private val taskRecs = ArrayBuffer.empty[TaskRec]
  private val spanRecs = ArrayBuffer.empty[Span]
  private var nextSpan = 0L

  /** Set while the timed section runs: only its work is attributed. */
  @volatile var timing = false

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(-1L)

  private def opOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(OpKey)))

  private def attributed(p: java.util.Properties): Boolean =
    traced && timing && !opOf(p).exists(_.startsWith("check/"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    opOf(e.properties).foreach(op => opJobs.merge(op, 1, (a: Integer, b: Integer) => a + b))
    if (attributed(e.properties)) {
      val span = spanOf(e.properties)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobSpans.synchronized(jobSpans += ((span, site)))
      e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, span))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (attributed(e.properties)) stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).map(_.longValue).foreach { span =>
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    val rec = TaskRec(span, info.launchTime,
      math.max(info.launchTime, info.finishTime),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      e.reason != Success)
    taskRecs.synchronized(taskRecs += rec)
    }

  /** Run one operation tagged `op`; returns its result, its wall
    * seconds and the number of Spark jobs it ran. */
  def op[T](op: String)(body: => T): (T, Double, Int) = {
    sc.setLocalProperty(OpKey, op)
    val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(OpKey, null)
    val seconds = (System.nanoTime() - t0) / 1e9
    PerfbenchBus.drain(sc)
    (out, seconds, Option(opJobs.remove(op)).map(_.intValue).getOrElse(0))
  }

  /** Time `body` as span `name`; a no-op wrapper when untraced. */
  def span[T](name: String)(body: => T): T =
    if (!traced || !timing) body
    else {
      val id = synchronized { nextSpan += 1; nextSpan }
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(SpanKey, prev)
        spanRecs.synchronized(
          spanRecs += Span(id, name, ms0, System.currentTimeMillis(), wall))
      }
    }

  def spans: Seq[Span] = { PerfbenchBus.drain(sc); spanRecs.synchronized(spanRecs.toList) }

  /** Totals over the spans selected by `keep`; idle time is the part of
    * each span's interval during which no task of any span was running. */
  def stats(keep: Span => Boolean): LayerStats = {
    PerfbenchBus.drain(sc)
    val sel = spans.filter(keep)
    val ids = sel.map(_.id).toSet
    val tasks = taskRecs.synchronized(taskRecs.toList)
    val mine = tasks.filter(t => ids.contains(t.span))
    val busy = mergedIntervals(tasks.map(t => (t.launchMs, t.finishMs)))
    val idleMs = sel.map(s => (s.endMs - s.startMs) - covered(busy, s.startMs, s.endMs)).sum
    LayerStats(
      calls = sel.size,
      wallS = sel.map(_.wallS).sum,
      jobs = jobSpans.synchronized(jobSpans.count(j => ids.contains(j._1))),
      tasks = mine.size,
      taskS = mine.map(t => t.finishMs - t.launchMs).sum / 1e3,
      idleS = idleMs / 1e3,
      shuffleMb = mine.map(_.shuffleBytes).sum / 1e6,
      spillMb = mine.map(_.spillBytes).sum / 1e6,
      failedTasks = mine.count(_.failed))
  }

  /** Jobs of the spans selected by `keep` whose call site matches `site`. */
  def jobsNamed(keep: Span => Boolean, site: String => Boolean): Int = {
    val ids = spans.filter(keep).map(_.id).toSet
    jobSpans.synchronized(jobSpans.count { case (s, n) => ids.contains(s) && site(n) })
  }

  /** Jobs that carried no span at all. */
  def unattributedJobs: Int = {
    PerfbenchBus.drain(sc)
    jobSpans.synchronized(jobSpans.count(_._1 < 0))
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  private[perfbench] def mergedIntervals(xs: Seq[(Long, Long)]): Array[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toArray
  }

  private[perfbench] def covered(busy: Array[(Long, Long)], s: Long, e: Long): Long =
    busy.iterator.map { case (a, b) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
}
