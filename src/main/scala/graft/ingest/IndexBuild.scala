package graft.ingest

import graft.chunk.{Chunker, Chunkers}
import graft.embed.Embedder
import graft.model._
import graft.text.{PorterStemmer, Stopwords, Tokenizer}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The stages of the ingest pipeline — the Spark form of the reference's
  * ingestion pipeline (SURVEY §3.2): parse -> chunk -> embedding-cache
  * join (J4) -> embed misses -> ledger rows. Writing is the callers' part:
  * `KnowledgeStore`'s ingest and `StreamingIngest.upsertBatch` commit
  * these frames through `store/TxLog`, partitioned by container_id for
  * partition pruning (§4.1).
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
    // LSH bucket columns ride with every vector row (written by every
    // producer — the store's ingest and streaming — so the ANN rewrite
    // rule can prefilter any vector scan)
    graft.functions.AnnTopKRewrite.withBucketColumns(
      all
        .withColumn("model_id", lit(embedder.modelId))
        .withColumn("dimensions", lit(embedder.dimensions)),
      embedder.dimensions)
  }

  /** The document ledger of freshly chunked documents — the one recipe
    * the store's ingest writes (uploads, reindexes, first crawls):
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
}
