package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark task records for the traced run. The benchmark opens a
  * span around each call into an engine layer and tags the call's Spark
  * jobs with a job group of the layer's name; the listener attributes
  * every finished task to the group of its stage. Everything stays in
  * memory until the run writes it out at the end. */
final class Trace(sc: SparkContext) extends SparkListener {

  case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  case class Task(group: String, launchMs: Long, finishMs: Long, runMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long)
  case class Job(group: String, submitMs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  private val stageGroup = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private var jobsEnded = 0

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.JobGroupKey)))
      .getOrElse("")
    jobs += Job(g, e.time)
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    tasks += Task(stageGroup.getOrElse(e.stageId, ""), i.launchTime, i.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled)
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has reported its end (bounded, so a lost event cannot hang a run). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var settled = false
    while (!settled && System.currentTimeMillis() < deadline) {
      val (a, b) = synchronized((jobs.size, jobsEnded))
      if (a == b) { Thread.sleep(50); settled = synchronized(jobs.size == a && jobsEnded == a) }
      else Thread.sleep(20)
    }
  }

  /** Runs `body` as layer `name`: one span, and its jobs in group `name`. */
  def layer[A](name: String)(body: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = synchronized(open.headOption.map(_._1).getOrElse(0))
    val prevGroup = sc.getLocalProperty(Trace.JobGroupKey)
    synchronized(open.push((id, name, System.nanoTime())))
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body
    finally {
      val end = System.nanoTime()
      synchronized {
        val (_, _, start) = open.pop()
        spans += Span(id, name, parent, start, end)
      }
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevGroup, interruptOnCancel = false)
    }
  }

  def spansSnapshot: Seq[Span] = synchronized(spans.toVector)
  def tasksSnapshot: Seq[Task] = synchronized(tasks.toVector)
  def jobsSnapshot: Seq[Job] = synchronized(jobs.toVector)

  def reset(): Unit = synchronized {
    spans.clear(); tasks.clear(); jobs.clear(); jobsEnded = 0; stageGroup.clear()
  }

  def spansJson: String = synchronized {
    spans.map(s => s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[", ",\n", "]")
  }
}

object Trace {

  /** The local property Spark stores a job group under. */
  val JobGroupKey = "spark.jobGroup.id"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer figures of the given spans and the tasks of their groups:
    * wall_s, task_s, shuffle_mb, spill_mb, jobs and skew (max / median
    * task time, the median taken as at least 1 ms). */
  def layerFigures(t: Trace, name: String): Map[String, Double] = {
    val wall = t.spansSnapshot.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
    val ts = t.tasksSnapshot.filter(_.group == name)
    val durs = ts.map(x => (x.finishMs - x.launchMs).toDouble)
    Map(
      "wall_s" -> wall,
      "task_s" -> ts.map(_.runMs).sum / 1000.0,
      "shuffle_mb" -> ts.map(_.shuffleWriteBytes).sum / 1e6,
      "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "jobs" -> t.jobsSnapshot.count(_.group == name).toDouble,
      "skew" -> (if (durs.isEmpty) 0.0 else durs.max / math.max(median(durs), 1.0)))
  }

  /** Driver figures over [fromMs, toMs]: jobs started, and the wall time in
    * which no task ran at all (the serial, driver-bound share). */
  def driverFigures(t: Trace, fromMs: Long, toMs: Long): Map[String, Double] = {
    val iv = t.tasksSnapshot
      .map(x => (math.max(x.launchMs, fromMs), math.min(x.finishMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    val window = math.max(toMs - fromMs, 1L)
    val gap = (window - covered) / 1000.0
    Map(
      "jobs" -> t.jobsSnapshot.count(j => j.submitMs >= fromMs && j.submitMs <= toMs).toDouble,
      "gap_s" -> gap,
      "gap_share" -> gap / (window / 1000.0))
  }
}
