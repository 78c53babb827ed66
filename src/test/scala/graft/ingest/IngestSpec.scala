package graft.ingest

import graft.TestSpark
import graft.embed.HashEmbedder
import graft.model.ChunkingConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ParsersSpec extends AnyFunSuite {
  test("extension gate (S8)") {
    assert(Parsers.isSupported("a.txt"))
    assert(Parsers.isSupported("a.md"))
    assert(!Parsers.isSupported("a.xyz"))
    assert(!Parsers.isSupported("noext"))
  }
  test("text parse carries shape metadata (S5)") {
    val p = Parsers.parseText("notes.md", "# H\nbody\n")
    assert(p.metadata("has_markdown_structure") == "true")
    assert(p.metadata("line_count") == "2")
  }
  test("csv delimiter sniff") {
    assert(Parsers.sniffDelimiter("a;b;c") == ';')
    assert(Parsers.sniffDelimiter("a\tb\tc") == '\t')
    assert(Parsers.sniffDelimiter("a,b,c") == ',')
  }
  test("binary stub emits page markers + warning (S6/S7 stand-in)") {
    val p = Parsers.parseBinaryStub("doc.pdf", new Array[Byte](3000))
    assert(p.content.contains("--- Page 1 ---"))
    assert(p.warnings.exists(_.contains("stub")))
  }
  test("unsupported types are rejected with a reason") {
    assert(Parsers.parse("a.xyz", Array[Byte]()).isLeft)
  }
}

class IndexBuildSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("build writes chunks/vectors/ledger partitioned by container (S9/S10)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build").toString
    val docs = Seq(
      IndexBuild.RawDoc("d1", "cA", "/a/x.txt", "x.txt", "alpha beta gamma. " * 30),
      IndexBuild.RawDoc("d2", "cB", "/b/y.txt", "y.txt", "delta epsilon zeta. " * 30))
    graft.TestWarehouse.build(wh, docs,
      cfg = ChunkingConfig(maxChunkSize = 30, overlap = 5, minChunkSize = 5))

    val chunks = graft.store.TxLog.read(spark, wh, "chunks")
    assert(chunks.count() > 0)
    assert(chunks.select("container_id").distinct().as[String].collect().toSet == Set("cA", "cB"))
    // physical layout: container partitions exist on disk (partition pruning)
    assert(new java.io.File(s"$wh/chunks/container_id=cA").exists())

    val vectors = graft.store.TxLog.read(spark, wh, "vectors")
    assert(vectors.count() == chunks.count())
    assert(vectors.select("dimensions").distinct().as[Int].collect().toSeq == Seq(64))

    val ledger = graft.store.TxLog.read(spark, wh, "ledger")
    val led = ledger.orderBy("document_id").collect()
    assert(led.length == 2)
    assert(led.forall(_.getAs[String]("status") == "Ready"))
    assert(ledger.filter(col("document_id") === "d1").select("chunk_count").as[Int].head() ==
      chunks.filter(col("document_id") === "d1").count().toInt)
  }

  test("embedding cache is reused on rebuild (J4)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-cache").toString
    val docs = Seq(
      IndexBuild.RawDoc("d1", "c", "/x.txt", "x.txt", "identical content here. " * 20))
    graft.TestWarehouse.build(wh, docs)
    val cache1 = spark.read.parquet(s"$wh/embed_cache").count()
    assert(cache1 > 0)
    // rebuild: the same content crawled into a second container must take
    // all its embeddings from the cache (counting via a tracking
    // embedder). The counter is GLOBAL — reset it here, or whatever count a
    // previously-run suite left behind fails this assert (observed: the
    // streaming rename spec's final pass leaves its embed count)
    val counting = new CountingEmbedder
    CountingEmbedder.calls.set(0)
    graft.TestWarehouse.build(wh, docs.map(_.copy(container_id = "c2")),
      embedder = counting)
    assert(CountingEmbedder.calls.get() == 0, "rebuild should hit the embedding cache")
  }

  test("dup content across documents embeds once per distinct hash") {
    val wh = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val docs = Seq(
      IndexBuild.RawDoc("d1", "c", "/dup_a.txt", "dup_a.txt", "same words every time."),
      IndexBuild.RawDoc("d2", "c", "/dup_b.txt", "dup_b.txt", "same words every time."))
    graft.TestWarehouse.build(wh, docs)
    val vecs = graft.store.TxLog.read(spark, wh, "vectors")
    assert(vecs.count() == 2) // one per chunk
    assert(vecs.select("content_hash").distinct().count() == 1)
    assert(spark.read.parquet(s"$wh/embed_cache").count() == 1)
  }
}

/** Embedder that counts embed calls across executors (local mode: shared JVM). */
class CountingEmbedder extends graft.embed.Embedder {
  override val modelId = "hash-64-v1" // same id as the cached vectors
  override val dimensions = 64
  override def embed(text: String): Array[Float] = {
    CountingEmbedder.calls.incrementAndGet()
    HashEmbedder(64).embed(text)
  }
}
object CountingEmbedder {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

class ReindexSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val settings = Map("IndexedWith:Chunker" -> "recursive")

  test("classification decision table (J5/T6)") {
    val ledger = Seq(
      ("unchanged", "h1", settings),
      ("changed", "h2", settings),
      ("settings", "h3", Map("IndexedWith:Chunker" -> "fixedsize")),
      ("deleted", "h4", settings))
      .toDF("document_id", "content_hash", "indexed_with")
    val listing = Seq(
      ("unchanged", "h1"), ("changed", "hX"), ("settings", "h3"), ("new", "h5"))
      .toDF("document_id", "live_hash")
    val got = Reindex.classify(ledger, listing, settings)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "unchanged" -> Reindex.Unchanged,
      "changed" -> Reindex.ContentChanged,
      "settings" -> Reindex.SettingsChanged,
      "deleted" -> Reindex.FileNotFound,
      "new" -> Reindex.NeverIndexed))
  }

  test("force marks everything Forced") {
    val ledger = Seq(("a", "h", settings)).toDF("document_id", "content_hash", "indexed_with")
    val listing = Seq(("a", "h")).toDF("document_id", "live_hash")
    val got = Reindex.classify(ledger, listing, settings, force = true).collect()
    assert(got.forall(_.getAs[String]("action") == Reindex.Forced))
    assert(got.forall(_.getAs[Boolean]("needs_reindex")))
  }
}
