package graft.perfbench

import graft.queries.Catalog
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The fixed Catalog query list of the traced runs: no REST and no
  * serving, so the queries/functions/store-DML layers and the Spark job
  * floor show on their own. */
object BatchWorkload {
  val Sf = "sf0.01"
  val Expected = "perfbench/expected_batch.json"

  def dataDir(sf: String): String = new File(s"perfbench/data/$sf").getAbsolutePath

  private lazy val defs = Catalog.all.map(q => q.name.takeWhile(_ != '_') -> q).toMap

  /** Row count and an order-insensitive hash of every output column. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))),
      lit(2147483647L))
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class Run(q: String, ms: Double, cpuS: Double, from: Long, to: Long,
      rows: Long, hash: Long)

  def runQuery(ctx: Ctx, q: String, sf: String): Run = {
    val cpu0 = Proc.cpuNs()
    val t0 = System.nanoTime()
    val ((rows, hash), from, to) =
      SparkCounters.windowed(digest(defs(q).fn(ctx.spark, dataDir(sf))))
    val ms = Proc.ms(System.nanoTime() - t0 - 2 * SparkCounters.WindowGapMs * 1000000L)
    val cpuS = (Proc.cpuNs() - cpu0) / 1e9
    Serving.release(ctx.spark)
    Run(q, ms, cpuS, from, to, rows, hash)
  }

  private def loadExpected(): Map[String, (Long, Long)] = {
    val f = new File(Expected)
    if (!f.exists()) return Map.empty
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    n.fields().asScala.flatMap { e =>
      e.getValue.fields().asScala.map { q =>
        s"${e.getKey}/${q.getKey}" -> ((q.getValue.get(0).asLong(), q.getValue.get(1).asLong()))
      }
    }.toMap
  }

  private def check(ctx: Ctx, expected: Map[String, (Long, Long)], sf: String, r: Run): Unit =
    expected.get(s"$sf/${r.q}") match {
      case Some((rows, hash)) => ctx.report.check(rows == r.rows && hash == r.hash,
        s"${r.q} at $sf: rows=${r.rows} hash=${r.hash}, recorded rows=$rows hash=$hash")
      case None => ctx.report.fail(s"${r.q} at $sf: no recorded digest in $Expected")
    }

  /** Record the digests of this commit's outputs (run once, by hand). */
  def record(ctx: Ctx): Unit = {
    val out = Seq(Sf).map { sf =>
      val qs = Layers.BatchQueries.map { q =>
        val r = runQuery(ctx, q, sf)
        s"""    "$q": [${r.rows}, ${r.hash}]"""
      }
      s"""  "$sf": {\n${qs.mkString(",\n")}\n  }"""
    }
    Files.write(Paths.get(Expected), s"{\n${out.mkString(",\n")}\n}\n".getBytes(UTF_8))
  }

  /** The queries.* and store.dml_* layers: a warm pass in list order
    * (JIT, codegen and the tables' file metadata), then one pass in a
    * seed-permuted order, whose calls are reported. */
  def traced(ctx: Ctx): Unit = {
    import ctx._
    val expected = loadExpected()
    Layers.BatchQueries.foreach(q => check(ctx, expected, Sf, runQuery(ctx, q, Sf)))
    Proc.phase("warm pass done")
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(Layers.BatchQueries)
    val runs = order.map { q =>
      val r = runQuery(ctx, q, Sf)
      check(ctx, expected, Sf, r)
      r
    }
    Proc.phase("measured pass done")
    counters.quiesce()
    def put(n: String, v: Double): Unit = report.put(n, v, Layers.all.toMap.apply(n))
    runs.foreach { r =>
      put(s"queries.${r.q}.cpu_s", r.cpuS)
      put(s"queries.${r.q}.jobs", counters.window(r.from, r.to).jobs)
    }
    val dml = runs.filter(r => Layers.TxLogQueries.contains(r.q))
    put("store.dml_wall_s", dml.map(_.ms).sum / 1000)
    put("store.dml_cpu_s", dml.map(_.cpuS).sum)
    put("store.dml_jobs", dml.map(r => counters.window(r.from, r.to).jobs).sum)
  }
}
