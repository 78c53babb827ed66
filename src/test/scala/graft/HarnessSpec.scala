package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the measurement step every bench main shares: a query that throws
  * is a failure, never a time — including a failure that only a payload
  * column carries, which a count() timer cannot see — and storage is fully
  * released between runs.
  */
class HarnessSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("measure fails a query whose only failing expression is a projected payload UDF") {
    val boom = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException("payload column failed") else x)
    val q: Harness.Query = (s, _) =>
      s.range(100).select(col("id"), boom(col("id")).as("payload"))
    // count() prunes the unread payload column, so it succeeds: a count()
    // timer would have reported this query as a time
    assert(q(spark, sf).count() == 100L)
    val r = Harness.measure(spark, "payload-udf", q, sf)
    assert(r.isLeft, r)
  }

  test("a throwing query is reported as a failure, never as a time") {
    val analysis: Harness.Query = (s, _) => s.range(1).select(col("no_such_column"))
    val thrown: Harness.Query = (_, _) => throw new IllegalStateException("boom")
    for (q <- Seq(analysis, thrown)) {
      val r = Harness.measure(spark, "throws", q, sf)
      assert(r.isLeft, r)
    }
    val ok = Harness.measure(spark, "ok", (s, _) => s.range(1000).toDF(), sf)
    assert(ok.exists(s => s.wall >= 0 && s.gcMs >= 0), ok)
  }

  test("releaseStorage drops persisted and locally checkpointed blocks") {
    val persisted = spark.range(1000).toDF("id").persist()
    persisted.count()
    val checkpointed = spark.range(1000).toDF("id").localCheckpoint(true)
    assert(checkpointed.count() == 1000L)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.releaseStorage(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
  }

  test("session honours its cpus argument") {
    // the suite's own JVM already holds a SparkContext, which getOrCreate
    // would return unchanged — so the session is built in a fresh JVM
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val out = java.io.File.createTempFile("harness-probe", ".out")
    val err = java.io.File.createTempFile("harness-probe", ".err")
    val cmd = Seq(javaBin, "-Xmx512m") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.HarnessSessionProbe", "3")
    val proc = new ProcessBuilder(cmd.asJava).redirectOutput(out).redirectError(err).start()
    val finished = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly().waitFor()
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(finished && proc.exitValue() == 0,
      read(err).linesIterator.toSeq.takeRight(20).mkString("\n"))
    val printed = read(out)
    val props = printed.linesIterator.collect {
      case l if l.contains("=") => l.split("=", 2) match { case Array(k, v) => k -> v }
    }.toMap
    assert(props.get("master").contains("local[3]"), printed)
    assert(props.get("shuffle.partitions").contains("3"), printed)
    assert(props.get("timeZone").contains("UTC"), printed)
    out.delete(); err.delete()
  }
}

/** Builds [[Harness.session]] with the given cpu count and prints what the
  * session was given; run in its own JVM by HarnessSpec. */
object HarnessSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(args(0).toInt)
    println(s"master=${spark.sparkContext.master}")
    println(s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    println(s"timeZone=${spark.conf.get("spark.sql.session.timeZone")}")
    spark.stop()
  }
}
