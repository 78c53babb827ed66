package graft.perfbench

import java.lang.management.ManagementFactory

/** Process-level probes: CPU burned by this JVM (all executor threads
  * included), live heap, clocks. */
object Proc {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => throw new IllegalStateException("JVM exposes no process CPU time")
  }

  private val retired = scala.collection.mutable.Map[Long, Long]()

  /** CPU burned so far by each of the JVM's application threads (JIT
    * compiler and GC threads excluded, so warm-up compilation and
    * collector scheduling do not add noise), by thread id. Threads made
    * by [[thread]] stay in it after they end. */
  def appCpu(): CpuSample = synchronized {
    val mx = ManagementFactory.getThreadMXBean
    val live = mx.getAllThreadIds.filterNot(retired.contains)
      .map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 > 0)
    CpuSample(live.toMap ++ retired)
  }

  /** A thread whose CPU [[appCpu]] still counts after it has ended: its
    * body's last act is to hand its own CPU time over. */
  def thread(name: String)(body: => Unit): Thread = new Thread(() =>
    try body
    finally {
      val cpu = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
      synchronized { retired(Thread.currentThread.getId) = cpu }
    }, name)

  /** Heap still in use after full collections, in MB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def ms(ns: Long): Double = ns / 1e6

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A phase boundary on stderr, stamped with seconds since JVM start. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs $what")

  /** Time `f` in milliseconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, ms(System.nanoTime() - t0))
  }

  def dirBytes(root: java.io.File): Long =
    if (!root.exists()) 0L
    else if (root.isFile) root.length()
    else Option(root.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Per-thread CPU ns at one instant ([[Proc.appCpu]]). */
final case class CpuSample(ns: Map[Long, Long]) {
  /** CPU burned since `earlier`, thread by thread: a thread that ended in
    * between loses only what it burned after `earlier`, never its whole
    * lifetime (Spark retires idle pool threads at any time). */
  def since(earlier: CpuSample): Long =
    ns.iterator.map { case (id, v) => v - earlier.ns.getOrElse(id, 0L) }.sum
}
