package graft

import graft.api.KnowledgeStore
import graft.embed.{Embedder, HashEmbedder}
import graft.ingest.IndexBuild.RawDoc
import graft.model.ChunkingConfig
import graft.search.HybridSearch
import graft.store.TxLog

/** Spec fixtures built the way the product builds a warehouse: one
  * `KnowledgeStore.bulkUploadFirstCrawl` per container, read back through
  * the commit log. */
object TestWarehouse {
  import TestSpark.spark
  import spark.implicits._

  /** Ingest `docs` into `warehouse` with one first crawl per container
    * (in container order); returns the store. */
  def build(warehouse: String, docs: Seq[RawDoc],
      cfg: ChunkingConfig = ChunkingConfig(),
      embedder: Embedder = HashEmbedder()): KnowledgeStore = {
    val store = new KnowledgeStore(spark, warehouse, embedder = embedder, cfg = cfg)
    docs.map(_.container_id).distinct.sorted.foreach { c =>
      store.bulkUploadFirstCrawl(c, docs.filter(_.container_id == c).toDS())
    }
    store
  }

  /** The warehouse's logged tables as a DataFrame search index, vectors
    * hydrated with their chunk's path for path-scoped requests (P3). */
  def index(warehouse: String): HybridSearch.Index = {
    val chunks = TxLog.read(spark, warehouse, "chunks")
    val vectors = TxLog.read(spark, warehouse, "vectors")
    HybridSearch.Index(chunks,
      vectors.join(chunks.select("chunk_id", "path"), Seq("chunk_id")))
  }
}
