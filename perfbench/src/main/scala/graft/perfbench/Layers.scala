package graft.perfbench

/** The per-layer metrics of a traced run, by module. Every traced run
  * measures and prints all of them. */
object Layers {

  /** The fixed batch query list of the traced runs: the cheapest TxLog
    * DML queries, the two queries named by open roadmap items that fit the
    * run budget (q86, q165) and the lightest export query. */
  val TxLogQueries: Seq[String] = Seq("q140", "q144", "q148")
  val BatchQueries: Seq[String] = TxLogQueries ++ Seq("q86", "q165", "q66")

  val all: Seq[(String, String)] = Seq(
    "api.health_ms" -> "ms",
    "api.health_fresh_ms" -> "ms",
    "api.rest_search_ms" -> "ms",
    "api.store_search_ms" -> "ms",
    "api.rest_self_ms" -> "ms",
    "api.upload_call_ms" -> "ms",
    "api.first_search_after_write_ms" -> "ms",
    "search.hybrid_ms" -> "ms",
    "search.keyword_leg_ms" -> "ms",
    "search.vector_leg_ms" -> "ms",
    "search.fuse_self_ms" -> "ms",
    "search.spill_jobs_per_query" -> "count",
    "search.spill_tasks_per_query" -> "count",
    "search.index_build_ms" -> "ms",
    "search.index_build_jobs" -> "count",
    "embed.query_ms" -> "ms",
    "ingest.chunk_ms" -> "ms",
    "ingest.embed_ms" -> "ms",
    "ingest.chunks_per_s" -> "1/s",
    "ingest.probe_ms" -> "ms",
    "ingest.commit_ms" -> "ms",
    "ingest.writeback_ms" -> "ms",
    "store.jobs_per_upload" -> "count",
    "store.tasks_per_upload" -> "count",
    "store.files_per_commit" -> "count",
    "store.bytes_per_user_byte" -> "ratio",
    "store.snapshot_ms" -> "ms",
    "store.dml_wall_s" -> "s",
    "store.dml_cpu_s" -> "s",
    "store.dml_jobs" -> "count") ++
    BatchQueries.flatMap(q => Seq(s"queries.$q.cpu_s" -> "s", s"queries.$q.jobs" -> "count")) ++
    Seq(
      "spark.jobs" -> "count",
      "spark.tasks" -> "count",
      "spark.task_run_s" -> "s",
      "spark.sched_delay_s" -> "s",
      "spark.gc_s" -> "s",
      "trace.overhead_frac" -> "ratio")

  /** End-to-end metrics of an untraced run, in BENCHMARK.json order. */
  val endToEnd: Seq[String] = Seq("setup_s", "p50_ms", "tail_ms", "ops_per_s", "live_heap_mb")
}
