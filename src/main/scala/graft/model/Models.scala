package graft.model

/** Core records of the engine — the Spark mapping of the reference's public
  * API surface (SURVEY §1.1: Chunk/Document/Container/SearchHit/ChunkInfo/
  * ParsedDocument, ref src/Connapse.Core/Models).
  */

/** A parsed document ready for chunking
  * (ref IDocumentParser.cs:26-29 ParsedDocument). */
final case class ParsedDocument(
    content: String,
    metadata: Map[String, String] = Map.empty,
    warnings: Seq[String] = Seq.empty)

/** Chunker output unit (ref IChunkingStrategy.cs:29-36 ChunkInfo). */
final case class ChunkInfo(
    content: String,
    chunkIndex: Int,
    tokenCount: Int,
    startOffset: Int,
    endOffset: Int,
    metadata: Map[String, String] = Map.empty,
    precomputedEmbedding: Option[Array[Float]] = None)

/** Chunking settings (ref SettingsModels.cs:78-156 defaults). */
final case class ChunkingConfig(
    maxChunkSize: Int = 512,      // token budget per chunk
    overlap: Int = 50,            // trailing-token overlap
    minChunkSize: Int = 100,      // merge-forward threshold
    semanticThreshold: Double = 0.5,
    semanticBufferSize: Int = 1,
    breakpointMethod: String = "percentile", // percentile|stddev|iqr|gradient
    breakpointAmount: Double = 95.0,
    windowSize: Int = 3,          // sentence-window ±N
    prependHeaderPath: Boolean = true)

/** One search hit (ref SearchModels.cs:15-20 SearchHit). */
final case class SearchHit(
    chunk_id: String,
    document_id: String,
    content: String,
    score: Double,
    metadata: Map[String, String])

/** Search request (ref SearchModels.cs + SearchOptions). */
final case class SearchRequest(
    query: String,
    containerId: String,
    mode: String = "hybrid",      // semantic | keyword | hybrid
    topK: Int = 10,
    minScore: Double = 0.0,
    alpha: Double = 0.5,          // vector weight in convex fusion
    fusionMethod: String = "minmax", // minmax | dbsf
    autoCut: Boolean = false,
    pathPrefix: Option[String] = None,
    documentId: Option[String] = None,
    modelId: Option[String] = None,
    /** Semantic requests upgrade to Hybrid so the keyword leg recalls
      * chunks whose vectors belong to other models
      * (ref HybridSearchService.cs:89-96 EnableCrossModelSearch). */
    crossModelSearch: Boolean = false,
    /** MMR diversification strength: Some(lambda) reorders the fused
      * top candidates greedily by lambda*score - (1-lambda)*max content
      * Jaccard to already-picked hits (search/Mmr) — near-duplicate
      * chunks stop crowding the top-k. None = relevance order. */
    mmrLambda: Option[Double] = None,
    /** Keyword-leg ranking function: "cover_density" (default — the
      * reference's proximity semantics, ref TextSearchService.cs) or
      * "bm25" (rarity + saturating tf with length normalization,
      * search/Bm25 — q124's operator). MATCH semantics (websearch
      * AND/OR/negation/phrases) are identical under both; only the
      * score changes. BM25 scores use the scoped chunk corpus's stats
      * and the query's simple-config terms; chunks matching only via
      * stemmed forms score 0 (still returned when matched). */
    rankFn: String = "cover_density",
    /** Some(w): each returned hit carries metadata("snippet") — the
      * best w-token window of its content (most query-term occurrences,
      * hit-anchored, earliest-max tie-break; the q138 operator run over
      * the top-k only, driver-side like MMR/autocut). Hits whose content
      * contains no query term carry no snippet, matching the batch
      * operator's semantics. None = whole content only (the reference's
      * behavior, ref SearchModels.cs:15-20). */
    snippetTokens: Option[Int] = None,
    /** Some(m): LATE-INTERACTION rerank tier (ColBERT MaxSim, the q151
      * pipeline served) — the fused candidates are re-scored by
      * Σ_{query token} max_{doc token} cosine over per-token embeddings
      * (first m tokens per side), and the hits re-rank by that score
      * (stamped as the hit score; the fused score survives in
      * metadata("fused_score")). Sits between the single-vector legs
      * and cross-encoder reranking: token-level interaction at
      * dot-product cost, over the <=100 already-pruned candidates —
      * driver arithmetic, no extra Spark job. None = fused order. */
    maxsimTokens: Option[Int] = None)
