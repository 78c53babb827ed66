package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session builder and measurement step every dev and driver main
  * shares. `measure` is Bench's timed region: the battery, a subset run
  * (`runMain graft.Bench q86 q165`) and any A/B read the same numbers.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Warm scale: codegen and JIT are JVM-global, so one run here warms a
    * query for its measured runs at the target scale. */
  val WarmDir = "/root/testdata/sf0.001"

  def session(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release ALL storage between measurements. clearCache() only empties
    * the SQL CacheManager; localCheckpoint(true) blocks (from
    * Catalog.materializeAndRelease) live at the RDD level and survive it,
    * so in round 4 every query + its warm-up twin leaked blocks for the
    * rest of the suite and the late/heavy queries ran under accumulating
    * memory pressure (q79 21 s vs ~1.5 s isolated). */
  def releaseStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Whole-process CPU time (every local-mode executor thread + driver).
    * Wall time on this class of box drifts 2-26x with co-tenant load, but
    * CPU burned by THIS process is contention-blind: a query whose cpu_s
    * holds steady while wall moves is machine noise; a cpu_s move is a
    * real plan change. -1 when the JVM doesn't expose it. */
  def procCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Used heap after two forced collections. */
  def heapUsed(): Long = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    Thread.sleep(200)
    rt.totalMemory() - rt.freeMemory()
  }

  /** A BASELINE heap reading: a just-finished Spark job leaves block and
    * broadcast state that clears asynchronously and would inflate the
    * baseline (negative deltas). Probe until two consecutive readings
    * agree within 5% (max 6 probes). */
  def settledHeap(): Long = {
    var prev = heapUsed()
    var i = 0
    while (i < 6) {
      Thread.sleep(500)
      val cur = heapUsed()
      if (math.abs(cur - prev) < math.max(prev, cur) * 0.05) return math.min(cur, prev)
      prev = cur; i += 1
    }
    prev
  }

  /** One measured run: seconds of wall and process cpu (-1 when the JVM
    * exposes no cpu), GC milliseconds, and the heap in use when the query
    * finished. */
  final case class Sample(wall: Double, cpu: Double, gcMs: Long, heapMb: Long)

  /** Time `fn` at `sfDir`. The action is `queryExecution.toRdd.count()`:
    * a plain count() lets Catalyst prune output columns, so a query whose
    * cost lives in a payload column (q76's reassembly hid behind this for
    * three rounds) times far below what a consumer pays, or never fails at
    * all; toRdd evaluates the final plan's projection, every column
    * included. A throw returns Left — a failed query is never a time. The
    * per-run telemetry goes to stderr under `name`; storage is released
    * afterwards. */
  def measure(spark: SparkSession, name: String, fn: Query, sfDir: String)
      : Either[Throwable, Sample] = {
    val gc0 = gcMillis()
    val cpu0 = procCpuNs()
    val t0 = System.nanoTime()
    val failure =
      try { fn(spark, sfDir).queryExecution.toRdd.count(); None }
      catch { case e: Throwable => Some(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val cpuDt = if (cpu0 < 0) -1.0 else (procCpuNs() - cpu0) / 1e9
    val gcDt = gcMillis() - gc0
    val leftover = spark.sparkContext.getPersistentRDDs.size
    val heapMb = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }
    System.err.println(
      f"[bench] $name ${dt}%8.3f s  cpu=${cpuDt}%7.3f s  gc=${gcDt}%5d ms  heap=${heapMb}%6d MB  rddBlocksLeft=$leftover" +
        failure.fold("")(e => "  FAILED: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(200)))
    releaseStorage(spark)
    failure.toLeft(Sample(dt, cpuDt, gcDt, heapMb))
  }

  /** The warm step: one run at sf0.001, failures ignored (the measured
    * runs report them), storage released. */
  def warm(spark: SparkSession, fn: Query): Unit = {
    try fn(spark, WarmDir).queryExecution.toRdd.count()
    catch { case _: Throwable => () }
    releaseStorage(spark)
  }
}
