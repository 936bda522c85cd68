package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, as the listener saw it. */
final case class TaskRec(launchMs: Long, finishMs: Long, cpuNs: Long,
                         shuffleWrite: Long, spill: Long)

/** A timed region of the traced run. Jobs started inside it carry its name
  * as their job group, which is how task metrics land on it. */
final case class Span(name: String, parent: String, runId: String,
                      startMs: Long, endMs: Long, wallS: Double)

/** Per-span numbers, all derived from the listener's task records. */
final case class SpanStats(wallS: Double, execCpuS: Double, driverS: Double,
                           jobs: Int, shuffleWriteMb: Double, spillMb: Double,
                           taskSkew: Double)

/** Task and query-execution accounting from outside the library: a
  * SparkListener keyed by job group plus a QueryExecutionListener that reads
  * the skew cap's `graft_skew_dropped_*` observations. Registered on every
  * run (the untraced runs use it only for shuffle totals); spans are opened
  * only by the traced run. */
final class Trace(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobsByGroup = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val tasksByGroup = mutable.Map.empty[String, mutable.ArrayBuffer[TaskRec]]
  private var shuffleTotal = 0L
  private val skewObs = mutable.Map.empty[String, (Long, Long)]
  /** Nanoseconds spent in this class's callbacks and bus drains. */
  private val ownNs = new java.util.concurrent.atomic.AtomicLong()
  private def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs.addAndGet(System.nanoTime() - t0)
  }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = own(synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { name =>
        jobsByGroup(name) += 1
        e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = name)
      }
    })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = own(synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val rec = TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
        shuffleTotal += rec.shuffleWrite
        stageGroup.get(e.stageId).foreach(g =>
          tasksByGroup.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += rec)
      }
    })
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      own(qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_skew_dropped_")) Trace.this.synchronized {
          skewObs(name) = (row.getLong(0), row.getLong(1))
        }
      })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = own(PerfbenchBus.drain(sc))

  /** Time the tracing itself cost: listener callbacks plus bus drains. */
  def overheadS: Double = ownNs.get() / 1e9

  def shuffleBytes(): Long = { drain(); listener.synchronized(shuffleTotal) }

  /** (buckets dropped by the cap, largest dropped bucket) over all
    * candidate joins observed so far. */
  def skew(): (Long, Long) = {
    drain()
    synchronized {
      (skewObs.values.map(_._1).sum, if (skewObs.isEmpty) 0L else skewObs.values.map(_._2).max)
    }
  }

  def span[T](name: String, parent: String)(body: => T): T = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      spans += Span(name, parent, runId, ms0, System.currentTimeMillis(), wall)
    }
  }

  def stats(s: Span): SpanStats = {
    drain()
    val tasks = listener.synchronized(tasksByGroup.get(s.name).map(_.toVector).getOrElse(Vector.empty))
    val jobs = listener.synchronized(jobsByGroup(s.name))
    // busy = union of task intervals inside the span; the rest of the wall
    // is driver-side planning, scheduling and result handling
    var busy = 0L
    var curS = -1L
    var curE = -1L
    tasks.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) busy += curE - curS
    val durs = tasks.map(t => math.max(1L, t.finishMs - t.launchMs)).sorted
    val skew = if (durs.isEmpty) 0.0 else durs.last.toDouble / durs(durs.length / 2)
    SpanStats(s.wallS, tasks.map(_.cpuNs).sum / 1e9,
      math.max(0.0, s.wallS - busy / 1000.0), jobs,
      tasks.map(_.shuffleWrite).sum / 1e6, tasks.map(_.spill).sum / 1e6, skew)
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
