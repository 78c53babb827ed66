package graft

/** Dev smoke: mirrors the driver's t1 check — SparkEntry.entry must return
  * >0 rows on sf0.001. `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(cpus = 4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n QUERIES=${SparkEntry.queries.size} ORACLES=${SparkEntry.oracleSql.size}")
    spark.stop()
  }
}
