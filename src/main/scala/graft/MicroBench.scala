package graft

import graft.embed.HashEmbedder
import graft.functions.CosineSimilarity
import org.apache.spark.sql.functions._

/** Micro-benchmarks for operator implementation choices (SURVEY §4.2:
  * "start with the HOF form, benchmark, then specialize").
  * `sbt "runMain graft.MicroBench"`.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(cpus = 8)
    import spark.implicits._

    val emb = HashEmbedder(64)
    val n = 200000
    val df = spark.range(n)
      .map(i => (i, emb.embed(s"document $i topic ${i % 100}")))
      .toDF("id", "v")
      .persist()
    df.count()
    val q = emb.embed("topic 42 document")
    val qlitD = array(q.map(x => lit(x.toDouble)): _*)

    def time(label: String)(body: => Long): Unit = {
      (1 to 3).foreach(_ => body) // warm codegen + JIT
      val t0 = System.nanoTime()
      val rows = body
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e6}%9.1f ms  ($rows rows)")
    }

    val hof = {
      val zipped = zip_with(col("v"), qlitD, (a, b) => a.cast("double") * b)
      val dot = aggregate(zipped, lit(0.0), (acc, x) => acc + x)
      val self = aggregate(transform(col("v"), a => a.cast("double") * a.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      dot / (sqrt(self) * lit(math.sqrt(q.foldLeft(0.0)((s, x) => s + x.toDouble * x))))
    }

    time("cosine HOF (zip_with/agg)") {
      df.select(hof.as("s")).filter(col("s") > 0.9).count()
    }
    time("cosine codegen Expression") {
      df.select(CosineSimilarity.toQuery(col("v"), q).as("s")).filter(col("s") > 0.9).count()
    }
    // pre-normalized corpora (IVF cells, dedup scans): dot ≡ cosine at a
    // third of the per-row flops
    val qlitF = {
      val nq = math.sqrt(q.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      array(q.map(x => lit((x / nq).toFloat)): _*)
    }
    time("dot codegen (normalized)") {
      df.select(graft.functions.DotProduct(col("v"), qlitF).as("s"))
        .filter(col("s") > 0.9).count()
    }

    // int8-quantized scan: 4x smaller column, asymmetric ByteAffineDot
    // kernel (one byte load + one fma per dim, affine folded into the
    // query) — the memory-bound regime's winner
    val params = graft.ann.Quantize.train(df.withColumnRenamed("v", "embedding"))
    val qdf = graft.ann.Quantize
      .index(df.withColumnRenamed("v", "embedding"), params)
      .persist()
    qdf.count()
    time("quantized ByteAffineDot") {
      qdf.select(graft.ann.Quantize
        .cosineCol(params, q, col("qbytes"), col("qnrm")).as("s"))
        .filter(col("s") > 0.9).count()
    }

    // ---- shingle-pipeline stage split (the q24/q25/q27/q75/q90 prelude):
    // where does the banded-dedup family's shared prefix actually spend?
    {
      import graft.queries.Frag._
      val docs = spark.read
        .parquet("/root/testdata/sf0.1/documents.parquet")
        .select("doc_id", "text").persist()
      docs.count()
      def run(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.toRdd.count()
      time("tokenize only") {
        run(docs.select(expr(toksSpark("text")).as("toks")))
      }
      time("tokenize native (Tokenize)") {
        run(docs.select(graft.functions.Tokenize(col("text")).as("toks")))
      }
      time("tokenize + shingle HOF") {
        run(docs.withColumn("toks", expr(toksSpark("text")))
          .select(expr(shinglesSpark("toks")).as("sh")))
      }
      time("tok + shingle + explode + hash") {
        run(docs.withColumn("toks", expr(toksSpark("text")))
          .withColumn("sh", explode(expr(shinglesSpark("toks"))))
          .select(col("doc_id"), graft.functions.PolyHash(col("sh")).as("h")))
      }

      // ---- signature-build shape: explode(sequence(0, N-1)) + groupBy
      // (doc_id, k) vs N aggregate columns in ONE groupBy(doc_id) pass.
      // The explode form inflates every hashed row N× before the partial
      // aggregate; the wide form keeps row count flat and evaluates the N
      // cheap per-row expressions inside the same hash-aggregate update.
      val shingleHash = docs
        .withColumn("toks", expr(toksSpark("text")))
        .filter(size(col("toks")) >= 3)
        .withColumn("sh", explode(expr(shinglesSpark("toks"))))
        .select(col("doc_id"), graft.functions.PolyHash(col("sh")).as("h"))
      time("minhash explode x16 form") {
        run(shingleHash
          .withColumn("k", explode(expr("sequence(0, 15)")))
          .withColumn("ph", expr(s"((2*k + 1) * h + 104729L * k) % $P"))
          .groupBy("doc_id", "k").agg(min("ph").as("mh")))
      }
      time("minhash 16-agg-col form") {
        val aggs = (0 until 16).map(k =>
          min(expr(s"((2*$k + 1) * h + 104729L * $k) % $P")).as(s"mh$k"))
        run(shingleHash.groupBy("doc_id").agg(aggs.head, aggs.tail: _*))
      }
      val tokHash = docs
        .withColumn("tok", explode(expr(toksSpark("text"))))
        .select(col("doc_id"), graft.functions.PolyHash(col("tok")).as("h"))
      time("simhash explode x32 form") {
        run(tokHash
          .withColumn("j", explode(expr("sequence(0, 31)")))
          .withColumn("vote", expr("CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END"))
          .groupBy("doc_id", "j").agg(sum("vote").as("v"))
          .groupBy("doc_id")
          .agg(sum(expr("CASE WHEN v >= 0 THEN shiftleft(1L, j) ELSE 0L END")).as("simhash")))
      }
      time("simhash 32-agg-col form") {
        val votes = (0 until 32).map(j =>
          sum(expr(s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END")).as(s"v$j"))
        run(tokHash.groupBy("doc_id").agg(votes.head, votes.tail: _*)
          .select(col("doc_id"), expr((0 until 32)
            .map(j => s"CASE WHEN v$j >= 0 THEN ${1L << j}L ELSE 0L END")
            .mkString(" + ")).as("simhash")))
      }
      docs.unpersist()
    }
    spark.stop()
  }
}
