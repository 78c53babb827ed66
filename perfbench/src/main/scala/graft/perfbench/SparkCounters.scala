package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Spark work attributed to one measurement window. */
final case class Counts(jobs: Int, tasks: Int, taskRunS: Double,
    schedDelayS: Double, gcS: Double)

/** Counts Spark work by WALL-CLOCK WINDOW. A job belongs to the window
  * that contains its submission time, a task to the window containing
  * its launch time (both are the scheduler's millisecond clock). The
  * benchmark opens windows around single calls from ONE client thread
  * and leaves at least [[WindowGapMs]] between windows, so every job a
  * call submits lands in exactly that call's window and the counts
  * repeat run to run. Events arrive asynchronously, so callers
  * [[quiesce]] before reading counts.
  */
final class SparkCounters extends SparkListener {
  private final case class Job(id: Int, submitMs: Long)
  private final case class Task(launchMs: Long, runMs: Long, schedMs: Long, gcMs: Long)

  private val jobs = ArrayBuffer[Job]()
  private val tasks = ArrayBuffer[Task]()
  private var open = Set.empty[Int]
  @volatile private var lastEventNs = System.nanoTime()

  def recordJobStart(id: Int, submitMs: Long): Unit = synchronized {
    jobs += Job(id, submitMs); open += id; lastEventNs = System.nanoTime()
  }
  def recordJobEnd(id: Int): Unit = synchronized {
    open -= id; lastEventNs = System.nanoTime()
  }
  def recordTask(launchMs: Long, runMs: Long, schedMs: Long, gcMs: Long): Unit =
    synchronized {
      tasks += Task(launchMs, runMs, schedMs, gcMs); lastEventNs = System.nanoTime()
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    recordJobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = recordJobEnd(e.jobId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m == null) recordTask(info.launchTime, 0L, 0L, 0L)
    else {
      // the Spark UI's scheduler delay: task duration not spent
      // deserializing, running, serializing or fetching the result
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      recordTask(info.launchTime, m.executorRunTime, sched, m.jvmGCTime)
    }
  }

  /** Work whose submission/launch falls in [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): Counts = synchronized {
    val ts = tasks.filter(t => t.launchMs >= fromMs && t.launchMs <= toMs)
    Counts(
      jobs.count(j => j.submitMs >= fromMs && j.submitMs <= toMs),
      ts.length,
      ts.map(_.runMs).sum / 1000.0,
      ts.map(_.schedMs).sum / 1000.0,
      ts.map(_.gcMs).sum / 1000.0)
  }

  /** Wait until every started job has ended and no event arrived for
    * `idleMs` (bounded by `timeoutMs`). */
  def quiesce(idleMs: Long = 50, timeoutMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(open.isEmpty) &&
      System.nanoTime() - lastEventNs > idleMs * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object SparkCounters {
  val WindowGapMs = 3L

  /** Run `f` in its own window: returns its result, the window bounds and
    * leaves the gap that keeps neighbouring windows disjoint. */
  def windowed[T](f: => T): (T, Long, Long) = {
    Thread.sleep(WindowGapMs)
    val from = System.currentTimeMillis()
    val r = f
    val to = System.currentTimeMillis()
    Thread.sleep(WindowGapMs)
    (r, from, to)
  }
}
