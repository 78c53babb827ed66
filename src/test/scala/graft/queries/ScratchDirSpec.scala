package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The battery's DML queries stage their tables in scratch warehouses
  * (`Catalog.scratchDir`); none may outlive the JVM that ran them. The
  * query runs in a child JVM with its own temp dir, because deletion
  * happens at JVM exit (the returned DataFrame reads the directory lazily
  * until then). */
class ScratchDirSpec extends AnyFunSuite {

  test("a DML query's scratch warehouse is deleted when its JVM exits") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("scratch-probe-tmp").toFile
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Djava.io.tmpdir"))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val out = java.io.File.createTempFile("scratch-probe", ".out")
    val err = java.io.File.createTempFile("scratch-probe", ".err")
    val cmd = Seq(javaBin, "-Xmx1g", s"-Djava.io.tmpdir=$tmp") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.queries.ScratchDirProbe", "q140_delete_where")
    val proc = new ProcessBuilder(cmd.asJava).redirectOutput(out).redirectError(err).start()
    val finished = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly().waitFor()
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(finished && proc.exitValue() == 0,
      read(err).linesIterator.toSeq.takeRight(20).mkString("\n"))
    val printed = read(out)
    // the query ran and its warehouse existed while the JVM was up
    assert(printed.contains("measured=true"), printed)
    assert(printed.linesIterator.exists(l =>
      l.startsWith("live=") && l.stripPrefix("live=").toInt > 0), printed)
    val left = Option(tmp.list()).getOrElse(Array.empty[String]).filter(_.startsWith("graft-q"))
    assert(left.isEmpty, s"scratch warehouses outlived the JVM: ${left.mkString(", ")}")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    out.delete(); err.delete()
  }
}

/** Runs one battery query through [[graft.Harness.measure]] and prints
  * whether it measured and how many `graft-q*` directories are live
  * before the JVM exits; run in its own JVM by ScratchDirSpec. */
object ScratchDirProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(2)
    val r = graft.Harness.measure(spark, args(0), Catalog.queries(args(0)),
      graft.Harness.WarmDir)
    println(s"measured=${r.isRight}")
    val live = new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .count(_.startsWith("graft-q"))
    println(s"live=$live")
    spark.stop()
  }
}
