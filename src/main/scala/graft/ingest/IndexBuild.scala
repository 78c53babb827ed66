package graft.ingest

import graft.chunk.{Chunker, Chunkers}
import graft.embed.Embedder
import graft.model._
import graft.text.{PorterStemmer, Stopwords, Tokenizer}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Index-build batch job — the Spark form of the reference's ingestion
  * pipeline (SURVEY §3.2): scan -> parse -> chunk -> embedding-cache join
  * (J4) -> embed misses -> write chunks + vectors + ledger, partitioned by
  * container_id for partition pruning (§4.1). Idempotent per
  * (container_id, document_id): rewriting a document's partition replaces
  * its chunks, which is the upsert/generation story without a database
  * (SURVEY §7.4).
  */
object IndexBuild {

  /** Raw input row: one document to ingest. */
  final case class RawDoc(
      document_id: String,
      container_id: String,
      path: String,
      file_name: String,
      content: String)

  /** Flat chunk output carried between stages. */
  final case class BuiltChunk(
      chunk_id: String,
      document_id: String,
      container_id: String,
      path: String,
      content: String,
      chunk_index: Int,
      token_count: Int,
      start_offset: Int,
      end_offset: Int,
      metadata: Map[String, String],
      tokens_simple: Seq[String],
      tokens_english: Seq[String],
      content_hash: String,
      precomputed: Option[Array[Float]])

  /** Positional stemmed tokens: same length as the simple stream, stopwords
    * as empty slots — keeps stem-match positions aligned for cover-density
    * ranking (the tsvector-weights analog, SURVEY §4.3).
    */
  def positionalEnglish(simple: Seq[String]): Seq[String] =
    simple.map(t => if (Stopwords.en(t)) "" else PorterStemmer.stem(t))

  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Stage 1-2: parse + chunk as a flatMap over documents (C* operators). */
  def chunkDocs(
      docs: Dataset[RawDoc],
      chunker: Chunker,
      cfg: ChunkingConfig): Dataset[BuiltChunk] = {
    import docs.sparkSession.implicits._
    // token counter resolved HERE, on the driver, and shipped in the
    // closure — executors must not re-read GRAFT_TIKTOKEN_VOCAB (a
    // driver-only vocab file would silently mix budgets across the job)
    val tc = graft.text.TokenCounters.default
    docs.flatMap { doc =>
      graft.text.TokenCounters.withCounter(tc) {
        val routed = Chunkers.route(doc.file_name, chunker)
        val parsed = Parsers.parseText(doc.file_name, doc.content)
        routed.chunk(parsed, cfg).map { c =>
          val simple = Tokenizer.simple(c.content)
          BuiltChunk(
            chunk_id = s"${doc.document_id}:${c.chunkIndex}",
            document_id = doc.document_id,
            container_id = doc.container_id,
            path = doc.path,
            content = c.content,
            chunk_index = c.chunkIndex,
            token_count = c.tokenCount,
            start_offset = c.startOffset,
            end_offset = c.endOffset,
            metadata = c.metadata,
            tokens_simple = simple,
            tokens_english = positionalEnglish(simple),
            content_hash = sha256(c.content),
            precomputed = c.precomputedEmbedding)
        }
      }
    }
  }

  /** Stage 3: embedding with cache reuse (J4) — chunks with a precomputed
    * (semantic mean-pool) or cached vector skip the embedder; the rest
    * embed in batches inside mapPartitions (E1 batching, 16/request like
    * the reference).
    */
  def embedChunks(
      chunks: Dataset[BuiltChunk],
      cache: Option[DataFrame],
      embedder: Embedder): DataFrame = {
    import chunks.sparkSession.implicits._
    val spark = chunks.sparkSession

    val withPre = chunks.filter(_.precomputed.isDefined)
      .map(c => (c.chunk_id, c.document_id, c.container_id, c.precomputed.get, c.content_hash))
      .toDF("chunk_id", "document_id", "container_id", "embedding", "content_hash")
    val needing = chunks.filter(_.precomputed.isEmpty)

    val (cached, missing) = cache match {
      case Some(cacheDf) =>
        val hits = needing.toDF().join(
          broadcast(cacheDf
            .filter(col("model_id") === embedder.modelId &&
              col("dimensions") === embedder.dimensions)
            .select(col("content_hash"), col("embedding").as("cached_emb"))
            .dropDuplicates("content_hash")),
          Seq("content_hash"), "left")
        (hits.filter(col("cached_emb").isNotNull)
          .select(col("chunk_id"), col("document_id"), col("container_id"),
            col("cached_emb").as("embedding"), col("content_hash")),
          hits.filter(col("cached_emb").isNull).drop("cached_emb").as[BuiltChunk])
      case None => (spark.emptyDataFrame, needing)
    }

    val embedded = missing.mapPartitions { it =>
      it.grouped(16).flatMap { batch =>
        val vecs = embedder.embedBatch(batch.map(_.content))
        batch.zip(vecs).map { case (c, v) =>
          (c.chunk_id, c.document_id, c.container_id, v, c.content_hash)
        }
      }
    }.toDF("chunk_id", "document_id", "container_id", "embedding", "content_hash")

    val all =
      if (cache.isDefined) withPre.unionByName(cached).unionByName(embedded)
      else withPre.unionByName(embedded)
    // LSH bucket columns ride with every vector row (written by ALL
    // producers — batch build, API appends, streaming — so the ANN rewrite
    // rule can prefilter any vector scan)
    graft.functions.AnnTopKRewrite.withBucketColumns(
      all
        .withColumn("model_id", lit(embedder.modelId))
        .withColumn("dimensions", lit(embedder.dimensions)),
      embedder.dimensions)
  }

  /** Full build: writes `chunks/`, `vectors/`, `embed_cache/`, `ledger/`
    * under the warehouse dir, all partitioned by container_id (vectors
    * additionally by model_id for P4 pruning).
    */
  def build(
      spark: SparkSession,
      docs: Dataset[RawDoc],
      warehouse: String,
      chunkerName: String = "recursive",
      cfg: ChunkingConfig = ChunkingConfig(),
      embedder: Embedder = graft.embed.HashEmbedder()): Unit = {
    val chunker = Chunkers.forName(chunkerName, embedder)
    val chunks = chunkDocs(docs, chunker, cfg).persist()

    val cachePath = s"$warehouse/embed_cache"
    val cache =
      try Some(spark.read.parquet(cachePath)) catch { case _: Throwable => None }
    val vectors = embedChunks(chunks, cache, embedder)

    // a full rebuild of a TxLog-managed warehouse must truncate THROUGH
    // the log (one commit: remove every live file, add the rebuild's) or
    // log-aware readers would keep resolving the stale snapshot; log-less
    // warehouses keep the plain overwrite
    if (graft.store.TxLog.exists(spark, warehouse)) {
      val snap = graft.store.TxLog.snapshot(spark, warehouse)
      val adds =
        graft.store.TxLog.stageWrite(chunks.drop("precomputed").toDF(),
          warehouse, "chunks", Seq("container_id"), snap.version + 1) ++
        graft.store.TxLog.stageWrite(vectors.toDF(),
          warehouse, "vectors", Seq("container_id", "model_id"), snap.version + 1)
      val removes = Seq("chunks", "vectors").flatMap(t =>
        snap.files(t).map { case (rel, _) => graft.store.TxLog.Remove(t, rel) })
      graft.store.TxLog.commit(spark, warehouse, adds, removes)
      graft.store.TxLog.vacuum(spark, warehouse, retentionMs = 0L)
    } else {
      chunks.drop("precomputed")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("container_id")
        .parquet(s"$warehouse/chunks")
      vectors.write.mode(SaveMode.Overwrite)
        .partitionBy("container_id", "model_id")
        .parquet(s"$warehouse/vectors")
    }

    // inverted postings + term stats (the GIN analog, SURVEY §4.3)
    graft.search.PostingsIndex.write(
      graft.store.TxLog.read(spark, warehouse, "chunks"), warehouse)

    // refresh the embedding cache (memoization table, §4.1)
    spark.read.parquet(s"$warehouse/vectors")
      .select("content_hash", "model_id", "dimensions", "embedding")
      .dropDuplicates("content_hash", "model_id", "dimensions")
      .write.mode(SaveMode.Overwrite).parquet(cachePath)

    // document ledger: status + chunk_count + settings stamp (T5/T6)
    val stamp = Map(
      "IndexedWith:Chunker" -> chunkerName,
      "IndexedWith:MaxChunkSize" -> cfg.maxChunkSize.toString,
      "IndexedWith:Overlap" -> cfg.overlap.toString,
      "IndexedWith:Model" -> embedder.modelId)
    ledgerRows(chunks, docs, stamp, lit(1)).write.mode(SaveMode.Overwrite)
      .partitionBy("container_id")
      .parquet(s"$warehouse/ledger")
    chunks.unpersist()
  }

  /** The document ledger of freshly chunked documents — the one recipe
    * every producer writes (this build, the API upsert, the first crawl):
    * one row per document with its chunk count, the sha-256 and byte
    * length of its parsed content, status "Ready", the settings `stamp`
    * (IndexedWith:*, what Reindex.classify compares against) and
    * `generation`, an int column evaluated per document (an upsert bumps
    * the replaced document's generation; a fresh document is 1). */
  def ledgerRows(chunks: Dataset[BuiltChunk], docs: Dataset[RawDoc],
      stamp: Map[String, String], generation: Column): DataFrame =
    chunks.groupBy(col("document_id"), col("container_id"), col("path"))
      .agg(count(lit(1)).cast("int").as("chunk_count"))
      .join(docs.select(col("document_id"),
        sha2(col("content"), 256).as("content_hash"),
        length(col("content")).cast("long").as("size_bytes"), col("file_name")),
        Seq("document_id"))
      .withColumn("status", lit("Ready"))
      .withColumn("generation", generation.cast("int"))
      .withColumn("indexed_with", typedLit(stamp))

  /** Load the warehouse as a search index (vectors hydrated with path for
    * P3 scoping; postings attached when present). */
  def loadIndex(spark: SparkSession, warehouse: String): graft.search.HybridSearch.Index = {
    val chunks = graft.store.TxLog.read(spark, warehouse, "chunks")
    val vectors = graft.store.TxLog.read(spark, warehouse, "vectors")
    val postings =
      try Some(spark.read.parquet(s"$warehouse/postings"))
      catch { case _: Throwable => None }
    val termStats =
      try Some(spark.read.parquet(s"$warehouse/term_stats"))
      catch { case _: Throwable => None }
    graft.search.HybridSearch.Index(
      chunks,
      vectors.join(chunks.select("chunk_id", "path"), Seq("chunk_id")),
      postings,
      termStats)
  }

  /** Co-bucketed physical layout for index-wide equi-joins: chunks and
    * vectors bucketed AND sorted on chunk_id into catalog tables (`bucketBy`
    * requires `saveAsTable`; `path` keeps the data at the warehouse dir).
    *
    * With matching bucket count + column on both sides, a join on chunk_id
    * plans as a SortMergeJoin with NO Exchange and NO Sort on either side
    * (BucketedJoinSpec pins this). The path-partitioned layout `build`
    * writes is right for container-pruned queries, where the probe side is
    * a tiny top-k and broadcasts; this layout is for the index-wide joins —
    * J1 hydration of every vector, the embed-cache refresh, postings
    * rebuilds — where at 100 TB both sides would otherwise shuffle the
    * whole corpus every run.
    *
    * To also elide the per-bucket Sort under the merge join, readers set
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`: Spark stopped
    * trusting bucket sort order by default because multi-file buckets only
    * sort within files — this writer guarantees ONE file per bucket (the
    * repartition below), which is exactly the case the flag is safe for.
    */
  def writeBucketed(
      chunks: DataFrame,
      vectors: DataFrame,
      path: String,
      prefix: String,
      nBuckets: Int = 64): Unit = {
    def save(df: DataFrame, name: String): Unit =
      // repartition on the bucket column first: the writer's bucket hash is
      // the same murmur3 as the shuffle's, so each task holds exactly one
      // bucket → one file per bucket. That keeps file count = nBuckets (not
      // nTasks × nBuckets) and lets the scan trust sortBy order, which is
      // what eliminates the Sort under the merge join.
      df.repartition(nBuckets, col("chunk_id"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(nBuckets, "chunk_id").sortBy("chunk_id")
        .option("path", s"$path/$name")
        .format("parquet")
        .saveAsTable(s"${prefix}_$name")
    save(chunks, "chunks")
    save(vectors, "vectors")
  }

  /** Load the bucketed layout as a search index; the hydration join is
    * shuffle-free by construction. */
  def loadBucketedIndex(spark: SparkSession, prefix: String): graft.search.HybridSearch.Index = {
    val chunks = spark.table(s"${prefix}_chunks")
    val vectors = spark.table(s"${prefix}_vectors")
    graft.search.HybridSearch.Index(
      chunks,
      vectors.join(chunks.select("chunk_id", "path"), Seq("chunk_id")))
  }
}
