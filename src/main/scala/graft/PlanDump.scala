package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for catalog queries to files
  * (plans/rNN/<query>_<tag>.txt) so optimization rounds can commit
  * before/after plan evidence. Sets `graft.plan.inspect` so
  * Catalog.materializeAndRelease hands back the REAL plan instead of a
  * checkpointed Scan ExistingRDD.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    spark.conf.set("graft.plan.inspect", "true")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        System.err.println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      Harness.releaseStorage(spark)
    }
    spark.stop()
  }
}
