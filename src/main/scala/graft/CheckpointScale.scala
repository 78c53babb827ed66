package graft

import graft.store.TxLog

/** Checkpoint-format rehearsal at a REALISTIC live-file count: the
  * multipart parquet checkpoint exists for warehouses with 10^5..10^7
  * live files, a scale the test suite's fixtures never reach. This main
  * registers N synthetic adds (rel paths + per-file min/max stats — the
  * LOG is the thing under test; no data files needed), then measures,
  * for the text and multi-part parquet forms: checkpoint write time,
  * checkpoint size on disk, and the seeded snapshot fold time. Run:
  *   sbt "runMain graft.CheckpointScale 200000"
  * Numbers land in SCALE.md / BENCH_NOTES as the measured basis for the
  * format-threshold claim.
  */
object CheckpointScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = Harness.session()
    val wh = java.nio.file.Files.createTempDirectory("graft-ckscale").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(wh), spark.sparkContext.hadoopConfiguration)

    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ckscale] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // one commit per 50k files (a big ingest's shape); stats on two
    // columns per file — the dominant checkpoint term in production
    timed(s"register $n adds (log only)") {
      (0 until n).grouped(50000).foreach { chunk =>
        TxLog.commit(spark, wh, chunk.map { i =>
          TxLog.Add("t", f"part=p${i % 1024}/part-$i%07d-c000.parquet", 1L,
            stats = Map(
              "id" -> TxLog.ColStat("long", (i * 100L).toString, (i * 100L + 99L).toString),
              "ts" -> TxLog.ColStat("long", (1700000000L + i).toString,
                (1700000000L + i + 3600L).toString)))
        }.toSeq)
      }
    }
    val foldCommits = timed("snapshot fold from raw commits")(
      TxLog.snapshot(spark, wh))
    require(foldCommits.files("t").size == n)

    def du(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(path)) -1L
      else fs.getContentSummary(path).getLength
    }
    val v = TxLog.currentVersion(spark, wh)
    val txtCk = f"$wh/_txlog/$v%020d.checkpoint"
    val pqCk = f"$wh/_txlog/$v%020d.checkpoint.parquet"

    // TEXT form
    timed("checkpoint write (text, single file)")(
      TxLog.checkpoint(spark, wh, multipartAt = Int.MaxValue))
    println(s"[ckscale] text checkpoint size: ${du(txtCk) / 1024 / 1024} MiB")
    val foldText = timed("snapshot fold seeded from TEXT checkpoint")(
      TxLog.snapshot(spark, wh))
    require(foldText.files("t").size == n)
    fs.delete(new org.apache.hadoop.fs.Path(txtCk), false)

    // MULTI-PART PARQUET form (same version; the text twin was deleted)
    timed("checkpoint write (multi-part parquet, Spark job)")(
      TxLog.checkpoint(spark, wh, multipartAt = 0))
    println(s"[ckscale] parquet checkpoint size: ${du(pqCk) / 1024 / 1024} MiB")
    val foldPq = timed("snapshot fold seeded from PARQUET checkpoint")(
      TxLog.snapshot(spark, wh))
    require(foldPq.files("t").size == n)
    require(foldPq.stats == foldText.stats && foldPq.stats == foldCommits.stats,
      "all three folds must agree on per-file stats")
    println(s"[ckscale] state-identical across raw/text/parquet folds: ok ($n files)")
    spark.stop()
  }
}
