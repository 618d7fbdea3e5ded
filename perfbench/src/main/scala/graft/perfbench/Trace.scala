package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `t0`/`t1` are `System.nanoTime`; `op`
  * ties together the spans of one benchmark operation. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    op: Long, t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** One finished Spark task as the listener saw it (epoch ms). */
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
    outputBytes: Long)

/** Spark work between two listener snapshots. `busyS` is the time at
  * least one task was running; the rest of the wall is driver-side
  * (planning, scheduling, collecting). */
final case class SparkWindow(wallS: Double, jobs: Int, tasks: Int,
    taskS: Double, taskCpuS: Double, busyS: Double, inputBytes: Long,
    shuffleBytes: Long, spillBytes: Long, outputBytes: Long, taskSkew: Double) {
  def driverS: Double = math.max(0.0, wallS - busyS)
  def busyFrac(cores: Int): Double =
    if (wallS <= 0) 0.0 else taskS / (wallS * cores)
}

/** Listener that counts jobs and keeps every finished task. Snapshots
  * drain the listener bus first so a window holds exactly the work done
  * inside it. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicInteger()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val nTasks = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(i.launchTime, i.finishTime, i.duration, 0, 0, 0, 0, 0)
      else TaskRec(i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime + m.executorDeserializeCpuTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    tasks.add(rec)
    nTasks.incrementAndGet()
  }

  final case class Snap(jobs: Int, tasks: Long, ms: Long, ns: Long)

  def snap(): Snap = {
    org.apache.spark.perfbench.BusSync.drain(spark.sparkContext)
    Snap(jobs.get(), nTasks.get(), System.currentTimeMillis(), System.nanoTime())
  }

  def window(a: Snap, b: Snap): SparkWindow = {
    val recs = tasks.iterator().asScala.slice(a.tasks.toInt, b.tasks.toInt).toArray
    // union of task intervals, clipped to the window
    val iv = recs.map(r => (math.max(r.launchMs, a.ms), math.min(r.finishMs, b.ms)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) busy += curE - curS
    val runs = recs.map(_.runMs.toDouble).sorted
    val skew =
      if (runs.isEmpty) 0.0
      else runs.last / math.max(1.0, Stats.quantile(runs.toIndexedSeq, 0.5))
    SparkWindow((b.ns - a.ns) / 1e9, b.jobs - a.jobs, recs.length,
      runs.sum / 1e3, recs.map(_.cpuNs).sum / 1e9, busy / 1e3, recs.map(_.inputBytes).sum,
      recs.map(_.shuffleBytes).sum, recs.map(_.spillBytes).sum,
      recs.map(_.outputBytes).sum, skew)
  }

  /** Run `body` and return its result with the Spark work it caused. */
  def measure[T](body: => T): (T, SparkWindow) = {
    val a = snap()
    val r = body
    (r, window(a, snap()))
  }
}

/** In-memory span recorder. Disabled, `span` is a plain call; enabled, it
  * records (name, layer, parent, op, start, end) per call. Spans are
  * written out once, at the end of the run. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, layer: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, op, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.iterator().asScala.toSeq.sortBy(_.id)

  /** Self time per layer under span `rootId` (inclusive): each span's
    * duration minus the part of it its children cover. Summed over the
    * tree this is exactly the root's wall when children do not overlap. */
  def selfByLayer(rootId: Int): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def under(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(s => s +: under(s.id))
    val tree = ss.filter(_.id == rootId) ++ under(rootId)
    tree.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.t0, c.t1)).sortBy(_._1)
      var covered = 0L
      var cs = -1L
      var ce = -1L
      ch.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else if (b > ce) ce = b
      }
      if (ce > cs) covered += ce - cs
      s.layer -> math.max(0L, (s.t1 - s.t0) - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}","op":${s.op},"t0_ns":${s.t0},"t1_ns":${s.t1}}"""
  }.mkString("[\n", ",\n", "\n]")
}
