package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-rehearsal corpus generator: synthesize an N× scale factor from
  * a driver-provided one by unioning N perturbed copies, so heavy-query
  * scaling SLOPES can be measured locally beyond the shipped sf0.1
  * (`sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10"`).
  *
  * Perturbations keep each copy's INTERNAL structure (the planted dup
  * clusters, embedding clusters, per-user event histories) while
  * preventing CROSS-copy artifacts that would change the workload's
  * complexity class instead of its size:
  *   - documents: copy k > 0 suffixes EVERY alnum token with a
  *     copy-specific tag — an isomorphic vocabulary renaming. Within a
  *     copy every shingle relationship is exactly the base corpus's
  *     (near-dup partners stay near-dups at the same jaccard); across
  *     copies no shingle is shared at all, so candidate volume scales
  *     linearly with copies, never quadratically. (A fixed inserted
  *     MARKER token was tried first and failed: the synthetic corpus
  *     draws from a ~30-word vocabulary, so marker-adjacent trigrams
  *     collapsed into a few hundred possibilities and unrelated docs
  *     jumped to jaccard 0.4-0.6 — an 86× pair blow-up. Renaming keeps
  *     the vocabulary's diversity profile instead of flattening it.)
  *   - embeddings: ids offset; each copy shifts every coordinate by a
  *     tiny copy constant (cluster geometry preserved, vectors distinct).
  *   - events: id/user spaces offset per copy (disjoint user
  *     populations), timestamps shifted k days, props untouched.
  * Dimension tables are copied verbatim — the rehearsal's heavy queries
  * (q25/q75/q88/q90/q133) read only the three scaled tables, and fact
  * tables joined against unscaled dims would be semantically wrong, so
  * lineitem/orders/... are intentionally NOT scaled (documented in
  * BENCH_NOTES).
  */
object ScaleGen {

  private val Off = 1000000L // id offset per copy — far above any sf0.1 id

  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir, copiesStr) = args
    val copies = copiesStr.toInt
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()

    def base(t: String): DataFrame = spark.read.parquet(s"$baseDir/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val docs = base("documents")
    write((0 until copies).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + k * Off).as("doc_id"),
        regexp_replace(col("text"), "([a-z0-9]+)", s"$$1x$k").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_.unionByName(_)), "documents", 8 * copies / 10 + 1)

    val emb = base("embeddings")
    write((0 until copies).map { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + k * Off).as("vec_id"),
        expr(s"transform(embedding, x -> cast(x + $k * 5.0e-4 as float))").as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_)), "embeddings", 4 * copies / 10 + 1)

    val ev = base("events")
    write((0 until copies).map { k =>
      if (k == 0) ev
      else ev.select(
        (col("event_id") + k * Off * 1000L).as("event_id"),
        expr(s"timestampadd(DAY, $k, ts)").as("ts"),
        (col("user_id") + k * Off).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionByName(_)), "events", 16 * copies / 10 + 1)

    // dims verbatim so table() reads resolve for every catalog query
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      val src = new java.io.File(s"$baseDir/$t.parquet")
      if (src.exists)
        java.nio.file.Files.copy(src.toPath,
          java.nio.file.Paths.get(s"$outDir/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[scalegen] wrote ${copies}x of documents/embeddings/events to $outDir")
    spark.stop()
  }
}
