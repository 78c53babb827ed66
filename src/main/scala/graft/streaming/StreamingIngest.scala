package graft.streaming

import graft.chunk.Chunkers
import graft.embed.Embedder
import graft.ingest.IndexBuild
import graft.model.ChunkingConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental ingestion as Structured Streaming (SURVEY §2.11, T1-T5):
  * the file source replaces the reference's FileSystemWatcher + debounce +
  * poll loops (micro-batch trigger subsumes the 750 ms debounce), and
  * `foreachBatch` gives the per-batch idempotent upsert that replaces the
  * queue/worker/generation machinery — re-delivered files overwrite their
  * own (container_id, document_id) output, so replays are safe
  * (last-writer-wins, T5).
  */
object StreamingIngest {

  /** Watch `rootDir` for text files and keep the warehouse index fresh.
    * Container id is fixed per stream (one watcher per container, like the
    * reference's per-container FileSystemWatcher).
    */
  def start(
      spark: SparkSession,
      rootDir: String,
      containerId: String,
      warehouse: String,
      checkpoint: String,
      cfg: ChunkingConfig = ChunkingConfig(),
      chunkerName: String = "recursive",
      embedder: Embedder = graft.embed.HashEmbedder(),
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      /** Rename inference (ref StorageModels.cs:14-15 Renamed/OldPath):
        * Spark's file source only emits NEW paths — a filesystem rename
        * surfaces as one unseen path with the old file silently gone, so
        * [[resolveRenames]] probes the ledger for a vanished same-content
        * twin and reuses its document id. Off = every new path is a new
        * document (pre-rename behavior). */
      inferRenames: Boolean = true,
      /** "Does this path still exist on the watched store?" — injectable
        * for specs; production probes through Hadoop FS using the SESSION's
        * hadoopConfiguration (a fresh Configuration() would drop
        * spark.hadoop.* settings — default FS, object-store credentials —
        * and a scheme-less path could then resolve against local disk while
        * the watched store is remote, answering a wrong `false` that lets a
        * new file steal a still-live document's id). Errors, unknown
        * schemes, and non-filesystem paths like WARC record URLs answer
        * true, which conservatively DISABLES rename inference for that
        * row. The probe runs driver-side ([[resolveRenames]] loops over a
        * micro-batch-bounded candidate list). */
      pathExists: String => Boolean = null): StreamingQuery = {
    val pathProbe: String => Boolean =
      if (pathExists != null) pathExists
      else {
        val hadoopConf = spark.sparkContext.hadoopConfiguration
        p =>
          try {
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(hadoopConf).exists(hp)
          } catch { case _: Throwable => true }
      }
    import spark.implicits._

    // the binaryFile streaming source requires its (fixed) schema up front
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val stream = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter",
        "*.{txt,md,markdown,csv,log,json,pdf,docx,pptx,warc,warc.gz}")
      .load(rootDir)

    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch
          .select(col("path"), col("content"))
          .as[(String, Array[Byte])]
          .flatMap { case (path, bytes) =>
            val fileName = path.substring(path.lastIndexOf('/') + 1)
            val normPath = path.stripPrefix("file:")
            if (fileName.endsWith(".warc") || fileName.endsWith(".warc.gz")) {
              // a crawl shard is MANY documents: WARC → HTTP peel → HTML
              // main-content extraction, one RawDoc per archived page,
              // id from container + target URL (re-crawls of the same URL
              // upsert via latest(), exactly like re-uploaded files)
              graft.ingest.Warc.extractText(bytes).map { case (url, title, main) =>
                IndexBuild.RawDoc(
                  document_id = java.util.UUID.nameUUIDFromBytes(
                    s"$containerId:$url".getBytes("UTF-8")).toString,
                  container_id = containerId,
                  path = url,
                  file_name =
                    if (title.nonEmpty) title
                    else url.substring(url.lastIndexOf('/') + 1),
                  content = main)
              }
            } else {
              // id from container + FULL normalized path (same recipe as
              // KnowledgeStore.bulkUpload): a basename-only id would collide
              // for same-named files in different subdirectories (or
              // different containers sharing a warehouse) and latest() would
              // then permanently drop one file's chunks
              // binary formats (pdf/docx/pptx) decode through the real
              // parsers inside the stream's map; text formats pass through
              val content = graft.ingest.Parsers.parse(fileName, bytes) match {
                case Right(parsed) => parsed.content
                case Left(_) =>
                  new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
              }
              Iterator.single(IndexBuild.RawDoc(
                document_id = java.util.UUID.nameUUIDFromBytes(
                  s"$containerId:$normPath".getBytes("UTF-8")).toString,
                container_id = containerId,
                path = normPath,
                file_name = fileName,
                content = content))
            }
          }
        if (!docs.isEmpty) {
          val cached = docs.persist() // resolve + upsert must not parse twice
          val (resolved, movedIds) =
            if (inferRenames) resolveRenames(spark, cached, warehouse, pathProbe)
            else (cached, Nil)
          upsertBatch(spark, resolved, warehouse, chunkerName, cfg, embedder,
            generation = batchId, embedCacheDocIds = movedIds)
          cached.unpersist()
        }
        ()
      }
      .start()
  }

  /** Infer renames the file source cannot see (ref
    * ConnectorWatcherService.cs:237-255, the atomic-save-editor id-reuse
    * path): a batch document whose content hash matches exactly ONE latest
    * stream-ledger row whose path is (a) not in this batch and (b) no
    * longer present on the watched store is that row's document MOVED —
    * reuse its id, so metadata and generation history survive the rename
    * and [[latest]] supersedes the old path's rows in the same commit.
    * Ambiguous matches (duplicate content at several vanished paths, or
    * several batch copies of one hash) stay NEW documents: a wrong guess
    * would reassign another document's identity, and the only cost of
    * declining is one re-embed.
    *
    * Scale shape: the batch's (id, path, hash) triples are micro-batch-
    * bounded (driver-safe collect); the ledger side is ONE row per live
    * document, probed with a hash `isin` filter that reaches the parquet
    * scan — never a full-corpus fold. Returns the docs with ids rewritten
    * plus the reused ids (fed to [[upsertBatch]]'s embed-cache restriction
    * so an unchanged move costs zero embed calls). */
  private[graft] def resolveRenames(
      spark: SparkSession,
      docs: org.apache.spark.sql.Dataset[IndexBuild.RawDoc],
      warehouse: String,
      pathExists: String => Boolean)
      : (org.apache.spark.sql.Dataset[IndexBuild.RawDoc], Seq[String]) = {
    import spark.implicits._
    val rawLedger =
      try table(spark, warehouse, "stream_ledger")
      catch { case _: Throwable => return (docs, Nil) }
    val inc = docs
      .map(d => (d.document_id, d.path, IndexBuild.sha256(d.content)))
      .collect()
    if (inc.isEmpty) return (docs, Nil)
    // renames are interactive-scale events (an editor saved a file); a
    // multi-thousand-doc batch is a backfill or crawl shard — skip the
    // probe rather than ship a giant isin predicate for nothing
    if (inc.length > 4096) return (docs, Nil)
    val incPaths = inc.map(_._2).toSet
    val incHashes = inc.map(_._3).toSet.toSeq
    // latest() over the WHOLE ledger would be a corpus-wide window per
    // micro-batch. Restrict first: find the doc ids with ANY matching row
    // (a pushed-down scan), then run the last-writer-wins window over just
    // those docs' histories — superseded versions of matched docs still
    // lose (matching an OLD version's hash must not steal a live doc's
    // id), and work stays ∝ matched docs, never the corpus.
    val matchedIds = rawLedger
      .filter(col("doc_hash").isin(incHashes: _*) ||
        col("path").isin(incPaths.toSeq: _*))
      .select("document_id").distinct()
    val candidates = latest(rawLedger.join(
        org.apache.spark.sql.functions.broadcast(matchedIds),
        Seq("document_id"), "left_semi"))
      .filter(col("doc_hash").isin(incHashes: _*) ||
        col("path").isin(incPaths.toSeq: _*))
      .select("document_id", "path", "doc_hash")
      .as[(String, String, String)].collect()
    // document identity is PATH-STICKY first: a path the ledger already
    // knows keeps its recorded id. For ordinary paths that is a no-op (ids
    // derive from the path), but it makes a CRASH-REPLAYED rename batch
    // idempotent — after the rename committed, the new path's ledger row
    // carries the REUSED id, and without this the replay would fall back
    // to a fresh path-derived id and leave two live documents.
    val atPath = candidates.filter(c => incPaths.contains(c._2))
      .map(c => c._2 -> c._1).toMap
    // a rename candidate is a stored doc whose path vanished: not
    // re-delivered in this batch AND gone from the store (the source side)
    val vanished = candidates.filter(c =>
      !incPaths.contains(c._2) && !pathExists(c._2))
    val oldByHash = vanished.groupBy(_._3)
      .collect { case (h, rows) if rows.length == 1 => h -> rows.head }
    val incByHash = inc.groupBy(_._3)
    // only overrides that CHANGE the id matter (an ordinary path's ledger
    // id equals its path-derived default — skip the no-ops)
    val overrides = inc.flatMap { case (id0, p, h) =>
      atPath.get(p).map(p -> _).orElse(
        if (incByHash(h).length == 1) oldByHash.get(h).map(old => p -> old._1)
        else None).filter(_._2 != id0)
    }.toMap
    if (overrides.isEmpty) (docs, Nil)
    else {
      overrides.foreach { case (p, id) =>
        System.err.println(s"[stream] rename inferred: $p keeps document $id")
      }
      val ov = spark.sparkContext.broadcast(overrides)
      (docs.map(d => ov.value.get(d.path)
        .map(id => d.copy(document_id = id)).getOrElse(d)),
        overrides.values.toSeq)
    }
  }

  /** Idempotent per-document upsert, APPEND-ONLY and TRANSACTIONAL: each
    * batch stages its chunks/vectors as new parquet files stamped with a
    * monotonically increasing `generation` (the streaming batch id — the
    * reference's Document.Generation counter, T5), then registers BOTH
    * tables' files in one [[graft.store.TxLog]] commit — the chunk+vector
    * single transaction the reference gets from Postgres
    * (ref PgVectorStore.cs:144-184). A log-aware reader never sees a
    * batch's chunks without its vectors or a half-written parquet job; a
    * writer crash pre-commit leaves only unreferenced files for vacuum.
    * Readers resolve last-writer-wins via [[latest]]; nothing is rewritten
    * in place, so replays are safe and at 100 TB an upsert touches only
    * the new data ([[compact]] is an offline job, not the ingest path).
    */
  private[graft] def upsertBatch(
      spark: SparkSession,
      docs: org.apache.spark.sql.Dataset[IndexBuild.RawDoc],
      warehouse: String,
      chunkerName: String,
      cfg: ChunkingConfig,
      embedder: Embedder,
      generation: Long,
      /** Document ids whose EXISTING vectors may serve as the embed cache
        * (J4) for this batch — the rename path passes the moved documents'
        * reused ids, so an unchanged move re-embeds nothing. A point
        * `isin` filter on the vectors table (document_id range stats +
        * Bloom prune to the owning files post-compaction), never a
        * corpus-wide cache broadcast. */
      embedCacheDocIds: Seq[String] = Nil): Unit = {
    val chunker = Chunkers.forName(chunkerName, embedder)
    val newChunks = IndexBuild.chunkDocs(docs, chunker, cfg).persist()
    val cache =
      if (embedCacheDocIds.isEmpty) None
      else try Some(table(spark, warehouse, "vectors")
        .filter(col("document_id").isin(embedCacheDocIds: _*))
        .select("content_hash", "model_id", "dimensions", "embedding"))
      catch { case _: Throwable => None }
    val newVectors = IndexBuild.embedChunks(newChunks, cache, embedder)

    val chunkAdds = graft.store.TxLog.stageWrite(
      newChunks.drop("precomputed").toDF()
        .withColumn("generation", lit(generation)),
      warehouse, "chunks", Seq("container_id"), generation,
      writeParts = Some(1)) // micro-batch-bounded: one file per container
    val vectorAdds = graft.store.TxLog.stageWrite(
      newVectors.withColumn("generation", lit(generation)),
      warehouse, "vectors", Seq("container_id", "model_id"), generation,
      writeParts = Some(1))
    // one ledger row per doc per generation, committed ATOMICALLY with the
    // doc's chunks+vectors: path + content hash back the rename inference
    // (and Reindex.classify over streaming warehouses); [[latest]] gives
    // the live view. Tiny next to chunks — one row per document version.
    val ledgerAdds = graft.store.TxLog.stageWrite(
      docs.toDF().select(
        col("container_id"), col("document_id"), col("path"),
        sha2(col("content"), 256).as("doc_hash"),
        lit(generation).as("generation")),
      warehouse, "stream_ledger", Seq("container_id"), generation,
      writeParts = Some(1))
    graft.store.TxLog.commit(spark, warehouse,
      chunkAdds ++ vectorAdds ++ ledgerAdds)
    newChunks.unpersist()
    ()
  }

  /** Log-aware table reader: the transactional snapshot when the
    * warehouse has a commit log, a plain parquet read otherwise (legacy
    * layouts and batch-built warehouses).
    */
  def table(spark: SparkSession, warehouse: String, name: String): DataFrame =
    graft.store.TxLog.read(spark, warehouse, name)

  /** Last-writer-wins view over an append-only table: keep only rows from
    * each document's maximum generation (stale replays lose, T5).
    */
  def latest(df: DataFrame): DataFrame = {
    // key on (container_id, document_id) when the table carries containers:
    // document ids are already container-scoped UUIDs, but a shared
    // warehouse must never let one container's replay shadow another's rows
    val keys =
      if (df.columns.contains("container_id")) Seq("container_id", "document_id")
      else Seq("document_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(
      keys.map(col): _*)
    df.withColumn("_maxgen", max("generation").over(w))
      .filter(col("generation") === col("_maxgen"))
      .drop("_maxgen")
  }

  /** Time travel over the append-only table: the last-writer-wins view AS
    * OF `generation` — exactly the rows [[latest]] would have returned
    * right after that batch committed. Because upserts only ever append
    * generation-stamped rows (nothing is rewritten in place), pinning a
    * training corpus to a generation is a pure FILTER + the same
    * max-generation window: a reproducible dataset version with no extra
    * storage. Invalid once [[compact]] has rewritten history away —
    * compaction is the explicit retention decision.
    */
  def asOf(df: DataFrame, generation: Long): DataFrame =
    latest(df.filter(col("generation") <= generation))

  /** Compaction: rewrite the append-only table down to its latest
    * generations in one atomic log commit that swaps old files for
    * rewritten ones (readers racing it see the pre- or post-compaction
    * snapshot, never a missing table), then vacuum physically deletes the
    * unreferenced history. `retentionMs` is the grace window for
    * in-flight readers; the default 0 keeps the offline-compaction
    * contract (never concurrent with queries). Every streamed table
    * commits through [[upsertBatch]], so the warehouse has a log.
    */
  def compact(spark: SparkSession, path: String, partCols: Seq[String],
      retentionMs: Long = 0L): Unit = {
    val slash = path.lastIndexOf('/')
    val (warehouse, tableName) = (path.take(slash), path.drop(slash + 1))
    require(graft.store.TxLog.exists(spark, warehouse),
      s"compact: $warehouse has no commit log")
    // compaction is the right moment to harvest skipping structures
    // (the bloom pass re-reads its column — free-ish here, never on
    // the hot append path): document_id gets range stats + a Bloom
    // sketch, so post-compaction point lookups (reindex delta checks,
    // CRUD reads) prune to the owning files
    val skipCols =
      if (spark.read.parquet(path).columns.contains("document_id"))
        Seq("document_id")
      else Nil
    graft.store.TxLog.compact(spark, warehouse, tableName, partCols, latest,
      statsCols = skipCols, bloomCols = skipCols)
    graft.store.TxLog.vacuum(spark, warehouse, retentionMs)
    ()
  }
}
