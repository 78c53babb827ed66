package graft

import graft.Harness.heapUsed
import org.apache.spark.sql.functions._

/** Streaming-rename rehearsal at ledger scale: DRIVER HEAP and wall time
  * for one micro-batch's [[graft.streaming.StreamingIngest.resolveRenames]]
  * as the stream ledger grows 100k → 1M document versions (history rows
  * included — the ledger is append-only between compactions, so the window
  * input is versions, not documents). The probe's shape claim: the batch
  * side is micro-batch-bounded, the ledger side is a pushed-down hash/path
  * scan for MATCHED doc ids plus a last-writer-wins window over only those
  * docs' histories — so a one-file rename over a 1M-version ledger must
  * cost the same driver heap as over 100k, and the corpus-wide-window
  * alternative it replaced is the regression this harness would catch.
  * Run:
  *   sbt "runMain graft.RenameScale 100000 1000000"
  * Numbers land in SCALE.md / BENCH_NOTES.
  */
object RenameScale {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(100000, 1000000)
    val spark = Harness.session()
    import spark.implicits._

    sizes.foreach { n =>
      val wh = java.nio.file.Files.createTempDirectory(s"graft-rscale-$n").toString
      println(s"[renamescale] ===== $n ledger versions =====")
      // fabricate the ledger directly (the thing under test is the resolve
      // pass, not ingestion): n/2 documents with two versions each — the
      // append-only history shape between compactions. Hashes are unique
      // per doc; the rename target's content hash appears ONCE.
      spark.range(n.toLong)
        .select(lit("cS").as("container_id"),
          format_string("doc%08d", expr("id % " + (n / 2))).as("document_id"),
          format_string("/corpus/f%08d.txt", expr("id % " + (n / 2))).as("path"),
          format_string("hash%08d-v%d", expr("id % " + (n / 2)),
            expr(s"id div ${n / 2}")).as("doc_hash"),
          expr(s"id div ${n / 2}").cast("long").as("generation"))
        .write.mode("overwrite").partitionBy("container_id")
        .parquet(s"$wh/stream_ledger")

      // one incoming file whose content matches doc 42's LATEST version
      // (v1) and whose old path has vanished — the rename case
      val renamedDoc = Seq(graft.ingest.IndexBuild.RawDoc(
        "path-derived-fresh-id", "cS", "/corpus/moved.txt", "moved.txt",
        "payload")).toDS()
      // resolveRenames hashes the CONTENT; fabricate the ledger row to
      // match by overriding the batch's hash via a content whose sha256 we
      // insert into the ledger for doc 42 (simpler: rewrite doc42's v1 row
      // hash to the real content hash)
      val realHash = graft.ingest.IndexBuild.sha256("payload")
      spark.read.parquet(s"$wh/stream_ledger")
        .withColumn("doc_hash",
          when(col("document_id") === "doc00000042" && col("generation") === 1L,
            lit(realHash)).otherwise(col("doc_hash")))
        .write.mode("overwrite").partitionBy("container_id")
        .parquet(s"$wh/stream_ledger_fixed")
      // swap in the fixed table
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$wh/stream_ledger"), true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$wh/stream_ledger_fixed"),
        new org.apache.hadoop.fs.Path(s"$wh/stream_ledger"))

      def pass(label: String): Unit = {
        val h0 = heapUsed()
        val t0 = System.nanoTime()
        val (resolved, moved) = graft.streaming.StreamingIngest.resolveRenames(
          spark, renamedDoc, wh, pathExists = _ => false)
        val ids = resolved.map(_.document_id).collect().toSeq
        val secs = (System.nanoTime() - t0) / 1e9
        val dh = heapUsed() - h0
        require(ids == Seq("doc00000042") && moved == Seq("doc00000042"),
          s"$label: expected the rename to reuse doc00000042, got $ids / $moved")
        println(f"[renamescale] n=$n%d $label: ${secs}%.2f s " +
          f"driver_heap_delta_mb=${dh / 1024 / 1024}%d")
      }
      pass("rename resolve (1 moved file)")
      pass("rename resolve (warm)")
    }
    spark.stop()
  }
}
