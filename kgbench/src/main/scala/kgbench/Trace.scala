package kgbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task metrics summed over the tasks of one job group. */
final class TaskTotals {
  var tasks = 0L
  var failed = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; failed += o.failed; taskMs += o.taskMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** The benchmark's one SparkListener: sums task metrics per job group and
  * remembers which jobs have ended, so the reader can wait until every
  * event of a group has been delivered (the listener bus is asynchronous). */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => stageGroup.put(s, g)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    val t = totals.computeIfAbsent(g, _ => new TaskTotals)
    t.synchronized {
      t.tasks += 1
      if (e.reason != Success) t.failed += 1
      t.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Totals of `group`, after waiting (up to 30 s) for its jobs' end events. */
  def take(sc: SparkContext, group: String): TaskTotals = {
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30000000000L
    while (!ids.forall(endedJobs.contains) && System.nanoTime() < deadline) Thread.sleep(5)
    Option(totals.remove(group)).getOrElse(new TaskTotals)
  }
}

/** One layer call: its name, start and end (ns since the run's origin) and
  * the iteration it belongs to. */
final case class Span(name: String, iteration: String, startNs: Long, endNs: Long)

/** What one iteration's layers cost: wall seconds per layer (summed over
  * calls), task totals per layer (traced iterations only) and the peak
  * storage memory seen at the layer boundaries. */
final case class LayerCosts(
    wallS: Map[String, Double], tasks: Map[String, TaskTotals], peakStorageBytes: Long)

/** Wraps every layer call of an iteration. Untraced, it only times the
  * layer and samples storage memory at the boundary, so traced and
  * untraced iterations run the same code apart from tracing. Traced, each
  * call runs under its own job group and a GroupListener, registered for
  * the iteration only, sums the group's task metrics. */
final class Tracer(spark: SparkSession, origin: Long) {
  private val sc = spark.sparkContext
  private var iteration = ""
  private var listener: Option[GroupListener] = None
  private val calls = mutable.ArrayBuffer[(String, String)]() // (layer, job group)
  private val wall = mutable.LinkedHashMap[String, Double]()
  private var peakStorage = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()

  def begin(id: String, traced: Boolean): Unit = {
    iteration = id
    calls.clear(); wall.clear(); peakStorage = 0L
    if (traced) {
      val l = new GroupListener
      sc.addSparkListener(l)
      listener = Some(l)
    }
  }

  def layer[T](name: String)(body: => T): T = {
    val group = s"$iteration/${calls.size}/$name"
    listener.foreach(_ => sc.setJobGroup(group, name))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      listener.foreach { _ =>
        sc.clearJobGroup()
        spans += Span(name, iteration, t0 - origin, t1 - origin)
      }
      calls += ((name, group))
      wall(name) = wall.getOrElse(name, 0.0) + (t1 - t0) / 1e9
      peakStorage = math.max(peakStorage, storageUsed())
    }
  }

  /** Spans of the iteration itself (traced only), recorded by the caller. */
  def iterationSpan(t0: Long, t1: Long): Unit =
    if (listener.isDefined) spans += Span("iteration", iteration, t0 - origin, t1 - origin)

  def end(): LayerCosts = {
    val tasks = listener.map { l =>
      val byLayer = mutable.LinkedHashMap[String, TaskTotals]()
      calls.foreach { case (name, group) =>
        byLayer.getOrElseUpdate(name, new TaskTotals).add(l.take(sc, group))
      }
      sc.removeSparkListener(l)
      byLayer.toMap
    }.getOrElse(Map.empty)
    listener = None
    LayerCosts(wall.toMap, tasks, peakStorage)
  }

  /** Memory held by cached RDD blocks. Broadcast pieces are left out: the
    * ContextCleaner frees them whenever a GC happens to run, which would
    * make the figure depend on GC timing rather than on the iteration. */
  def storageUsed(): Long = sc.getRDDStorageInfo.map(_.memSize).sum
}
