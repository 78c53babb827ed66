package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   --workload search_hot|search_spill
  *   --seed N --seconds S --trace 0|1
  *   --out FILE    result JSON (one object)
  *   --root DIR    scratch space for warehouses and spans
  *   --record      write the batch query list's output digests
  *
  * The human-readable report goes to stderr; the result object goes to
  * `--out` only, so nothing that frames stdout can corrupt it.
  */
object Main {
  val Hot = ServingSpec(docs = 400)
  val Specs: Map[String, ServingSpec] = Map(
    "search_hot" -> Hot,
    "search_spill" -> Hot.copy(driverCacheMaxRows = Some(ServingSpec.SpillRows)))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val trace = opts("--trace") == "1"
    val root = new File(opts("--root"))
    require(Specs.contains(workload), s"unknown workload $workload")
    root.mkdirs()

    val cpus = 4
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Proc.phase("session up")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val report = new Report
    val ctx = Ctx(spark, counters, seed, seconds, root, report)
    val tracer = new Tracer

    try {
      if (args.contains("--record")) BatchWorkload.record(ctx)
      else if (trace) {
        ServingWorkload.traced(ctx, Specs(workload), tracer)
        BatchWorkload.traced(ctx)
      } else ServingWorkload.untraced(ctx, Specs(workload))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.fail(s"run aborted: $e")
    }

    System.err.print(report.human(workload))
    if (trace) Trace.writeJsonl(tracer.all, Paths.get(root.getPath, s"spans-$workload-$seed.jsonl"))
    if (!args.contains("--record")) {
      val names = if (trace) Layers.all.map(_._1) else Layers.endToEnd
      val json =
        try report.json(names)
        catch { case e: IllegalStateException =>
          System.err.println(s"[perfbench] $e"); sys.exit(3) }
      Files.write(Paths.get(opts("--out")), (json + "\n").getBytes(UTF_8))
    }
    spark.stop()
    Proc.phase("session stopped")
  }
}
