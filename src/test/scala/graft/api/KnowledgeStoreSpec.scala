package graft.api

import graft.TestSpark
import graft.ingest.PathUtil
import graft.model.SearchRequest
import graft.search.OverlapCrossEncoder
import org.scalatest.funsuite.AnyFunSuite

class PathUtilSpec extends AnyFunSuite {
  test("normalization (F10)") {
    assert(PathUtil.normalize("a/b/c.txt") == "/a/b/c.txt")
    assert(PathUtil.normalize("/a//b/./c.txt") == "/a/b/c.txt")
    assert(PathUtil.normalize("a\\b\\c.txt") == "/a/b/c.txt")
    assert(PathUtil.normalize("/a/b/../c.txt") == "/a/c.txt")
    assert(PathUtil.normalize("/../../x") == "/x") // .. never escapes root
  }
  test("fileName / parent / isUnder") {
    assert(PathUtil.fileName("/a/b/c.txt") == "c.txt")
    assert(PathUtil.parent("/a/b/c.txt") == "/a/b")
    assert(PathUtil.parent("/c.txt") == "/")
    assert(PathUtil.isUnder("/a/b/c", "/a/b"))
    assert(!PathUtil.isUnder("/a/bc", "/a/b"))
  }
}

/** §2.12: the 11-tool query surface end-to-end over a temp warehouse on
  * the TxLog commit log (the store's only storage engine). Runs twice:
  * one long-lived store in [[KnowledgeStoreSpec]], and a store reopened
  * over the same warehouse before every test in [[KnowledgeStoreTxSpec]] —
  * every behavior must hold when the state comes back from the log alone. */
abstract class KnowledgeStoreApiSuite extends AnyFunSuite {
  import TestSpark.spark

  protected val smallChunks =
    graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5)
  protected val wh = java.nio.file.Files.createTempDirectory("graft-ks").toString
  protected def store: KnowledgeStore

  test("container create/list enforces unique names") {
    val id = store.createContainer("docs")
    assert(store.listContainers().map(_._2) == Seq("docs"))
    assertThrows[IllegalArgumentException](store.createContainer("docs"))
    assert(id.nonEmpty)
  }

  test("upload_file -> search_knowledge -> get_document round-trip") {
    val cid = store.listContainers().head._1
    store.uploadFile(cid, "guide/overlap.txt",
      "Chunk overlap controls shared tokens between chunks. Set overlap in settings.")
    store.uploadFile(cid, "guide/other.txt", "Nothing about that topic at all here.")
    val hits = store.search(SearchRequest("chunk overlap", cid, topK = 5))
    assert(hits.nonEmpty)
    val doc = store.getDocument(cid, "guide/overlap.txt")
    assert(doc.exists(_.contains("Chunk overlap controls")))
    assert(store.getDocument(cid, "guide/missing.txt").isEmpty)
  }

  test("base64 upload decodes (F9)") {
    val cid = store.listContainers().head._1
    val b64 = java.util.Base64.getEncoder.encodeToString(
      "encoded upload content".getBytes("UTF-8"))
    store.uploadFile(cid, "up/enc.txt", b64, base64 = true)
    assert(store.getDocument(cid, "up/enc.txt").exists(_.contains("encoded upload content")))
  }

  test("binary upload routes through the real parsers (S6/S7 end-to-end)") {
    val cid = store.listContainers().head._1
    val b64 = java.util.Base64.getEncoder.encodeToString(
      graft.ingest.OoxmlFixtures.docxBytes)
    store.uploadFile(cid, "office/report.docx", b64, base64 = true)
    val doc = store.getDocument(cid, "office/report.docx")
    // indexed content is the EXTRACTED text, not garbled zip bytes
    assert(doc.exists(_.contains("First paragraph text.")))
    assert(doc.exists(_.contains("A1 | B1")))
    val hits = store.search(graft.model.SearchRequest("paragraph text", cid, topK = 5))
    assert(hits.exists(_.document_id ==
      java.util.UUID.nameUUIDFromBytes(s"$cid:/office/report.docx".getBytes("UTF-8")).toString))
    // binary uploads must be base64 (a raw string cannot carry bytes)
    assertThrows[IllegalArgumentException](
      store.uploadFile(cid, "office/raw.pdf", "raw-not-base64"))
    store.deleteFile(cid, "office/report.docx")
  }

  test("list_files paginates with path prefix (K5/P3)") {
    val cid = store.listContainers().head._1
    val files = store.listFiles(cid, pathPrefix = Some("/guide/"))
    assert(files.map(_._2).toSet == Set("/guide/overlap.txt", "/guide/other.txt"))
    val page = store.listFiles(cid, pathPrefix = Some("/guide/"), offset = 1, limit = 1)
    // ordered by path: "other" < "overlap", so offset 1 lands on overlap
    assert(page.length == 1 && page.head._2 == "/guide/overlap.txt")
  }

  test("container_stats aggregates the ledger (A1)") {
    val cid = store.listContainers().head._1
    val stats = store.containerStats(cid)
    assert(stats("documents") == 3)
    assert(stats("chunks") >= 3)
    assert(stats("ready") == 3)
    assert(stats("bytes") > 0)
  }

  test("search with reranker (E2/K4)") {
    val cid = store.listContainers().head._1
    val hits = store.search(SearchRequest("chunk overlap settings", cid, topK = 5),
      reranker = Some(new OverlapCrossEncoder))
    assert(hits.nonEmpty)
    assert(hits.head.metadata("reranker") == "overlap-v1")
  }

  test("search bounds validation (topK, query length)") {
    val cid = store.listContainers().head._1
    assertThrows[IllegalArgumentException](
      store.search(SearchRequest("x", cid, topK = 101)))
    assertThrows[IllegalArgumentException](
      store.search(SearchRequest("y" * 10001, cid)))
  }

  test("delete_file removes one document only") {
    val cid = store.listContainers().head._1
    store.deleteFile(cid, "guide/other.txt")
    assert(store.getDocument(cid, "guide/other.txt").isEmpty)
    assert(store.getDocument(cid, "guide/overlap.txt").nonEmpty)
    assert(store.containerStats(cid)("documents") == 2)
  }

  test("re-upload is an upsert: no duplicate chunks, generation bumps") {
    val cid = store.listContainers().head._1
    store.uploadFile(cid, "guide/overlap.txt",
      "Chunk overlap controls shared tokens between chunks. Revised text.")
    // getDocument must reflect ONLY the new content, not doubled chunks
    val doc = store.getDocument(cid, "guide/overlap.txt")
    assert(doc.exists(_.contains("Revised text")))
    assert(doc.forall(!_.contains("Set overlap in settings")))
    // document count unchanged; ledger has exactly one row at generation 2
    assert(store.containerStats(cid)("documents") == 2)
    // log-aware read: the replaced file stays on disk until vacuum but
    // must be invisible
    val led = graft.store.TxLog.read(spark, wh, "ledger")
    val rows = led.filter(org.apache.spark.sql.functions.col("path") === "/guide/overlap.txt")
      .select("generation").collect()
    assert(rows.length == 1, s"expected 1 ledger row, got ${rows.length}")
    assert(rows.head.getInt(0) == 2)
    // the ledger carries the generation and the settings stamp
    assert(led.columns.contains("generation") && led.columns.contains("indexed_with"))
  }

  test("delete rewrite is container-scoped: other containers' files untouched") {
    val other = store.createContainer("scoped-other")
    store.uploadFile(other, "keep/me.txt", "words that must survive the delete")
    val cid = store.listContainers().find(_._2 == "docs").get._1
    val otherDir = new java.io.File(s"$wh/chunks/container_id=$other")
    val before = otherDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    store.uploadFile(cid, "tmp/doomed.txt", "doomed words")
    store.deleteFile(cid, "tmp/doomed.txt")
    assert(store.getDocument(cid, "tmp/doomed.txt").isEmpty)
    // the other container's partition dir was neither rewritten nor read
    val after = otherDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after == before, "unrelated container partition was rewritten")
    assert(store.getDocument(other, "keep/me.txt").nonEmpty)
    store.deleteFile(other, "keep/me.txt")
    store.deleteContainer(other)
  }

  test("delete APIs survive a fully-emptied container partition") {
    // deleting the LAST document empties the partition: the delete
    // removes the rows LOGICALLY (files stay until vacuum), and after
    // vacuum the partition dir holds nothing a parquet read would trip on
    val cid = store.createContainer("empties-out")
    store.uploadFile(cid, "only/doc.txt", "the sole document in this container")
    store.deleteFile(cid, "only/doc.txt")
    val partDir = new java.io.File(s"$wh/chunks/container_id=$cid")
    graft.store.TxLog.vacuum(spark, wh, retentionMs = 0L)
    assert(!partDir.exists() ||
      partDir.listFiles().forall(f => f.getName.startsWith("_") || f.getName.startsWith(".")),
      "empty rewrite left unreadable partition contents")
    // the container must remain fully usable: upload again, delete again
    store.uploadFile(cid, "only/doc.txt", "uploaded after the container emptied")
    assert(store.getDocument(cid, "only/doc.txt").nonEmpty)
    store.deleteFile(cid, "only/doc.txt") // second empty-out exercises the read guard
    assert(store.getDocument(cid, "only/doc.txt").isEmpty)
    store.deleteContainer(cid)
  }

  test("bulk_upload dedupes repeated paths within one batch (last-wins)") {
    val cid = store.createContainer("dupe-batch")
    val ids = store.bulkUpload(cid, Seq(
      "dup/a.txt" -> "first version of the duplicated path",
      "dup/b.txt" -> "an unrelated document",
      "dup/a.txt" -> "second version wins"))
    assert(ids.length == 3 && ids(0) == ids(2), "same path must share a document_id")
    // one ledger/chunk row set for the path; content is the LAST entry's
    assert(store.containerStats(cid)("documents") == 2)
    val doc = store.getDocument(cid, "dup/a.txt")
    assert(doc.exists(_.contains("second version wins")))
    assert(doc.forall(!_.contains("first version")))
    store.bulkDelete(cid, Seq("dup/a.txt", "dup/b.txt"))
    store.deleteContainer(cid)
  }

  test("folders: empty folders persist, implied folders list, delete cascades") {
    val cid = store.listContainers().head._1
    // explicit empty folder survives listing (ref FolderEntity semantics)
    store.createFolder(cid, "drafts/wip")
    assert(store.listFolders(cid).contains("/drafts/wip"))
    // folders implied by document paths appear without explicit creation
    assert(store.listFolders(cid).contains("/guide"))
    // prefix scoping
    assert(store.listFolders(cid, Some("/drafts")) == Seq("/drafts/wip"))
    // cascade: deleting a folder removes documents under the subtree
    store.uploadFile(cid, "drafts/wip/tmp.txt", "scratch words to be removed")
    store.deleteFolder(cid, "drafts/wip")
    assert(store.getDocument(cid, "drafts/wip/tmp.txt").isEmpty)
    assert(!store.listFolders(cid).contains("/drafts/wip"))
  }

  test("model listing reports models with dimensions and counts (A2)") {
    val cid = store.listContainers().head._1
    val models = store.listModels(cid)
    assert(models.nonEmpty)
    val (mid, dims, n) = models.head
    assert(mid.nonEmpty && dims > 0 && n > 0)
  }

  test("write guard: cloud connectors are read-only (ContainerWriteGuard)") {
    val s3 = store.createContainer("mirror", connectorType = "S3")
    assert(!store.isWritable(s3))
    assertThrows[IllegalArgumentException](
      store.uploadFile(s3, "x.txt", "must be rejected"))
    assertThrows[IllegalArgumentException](store.createFolder(s3, "sub"))
    val fsRo = store.createContainer("watched", connectorType = "Filesystem",
      writable = false)
    assert(!store.isWritable(fsRo))
    val managed = store.listContainers().head._1
    assert(store.isWritable(managed)) // ManagedStorage always writable
    store.deleteContainer(s3); store.deleteContainer(fsRo)
  }

  test("folder delete cascades past the per-request bulk limit") {
    val cid = store.createContainer("bigfolder")
    val files = (0 until 101).map(i => (s"big/f$i.txt", s"file number $i words"))
    store.bulkUpload(cid, files.take(100))
    store.bulkUpload(cid, files.drop(100))
    assert(store.containerStats(cid)("documents") == 101)
    store.deleteFolder(cid, "big") // would throw if cascaded as one bulk call
    assert(store.containerStats(cid)("documents") == 0)
    store.deleteContainer(cid)
  }

  test("container_delete drops data and registry entry; non-empty managed refuses") {
    val cid = store.createContainer("temp")
    store.uploadFile(cid, "x.txt", "temporary words here")
    // ref PostgresContainerStore.DeleteAsync:96-119 — managed storage
    // owns the bytes; a non-empty container refuses deletion
    val e = intercept[IllegalArgumentException](store.deleteContainer(cid))
    assert(e.getMessage.contains("not empty"), e.getMessage)
    store.deleteFile(cid, "x.txt")
    store.deleteContainer(cid)
    assert(!store.listContainers().exists(_._1 == cid))
    assert(store.containerStats(cid)("documents") == 0)
    // watcher-only connectors delete freely WITH documents still indexed
    // (they just stop being indexed; the remote owns the source bytes)
    val fs = store.createContainer("temp-fs", connectorType = "Filesystem")
    store.uploadFile(fs, "y.txt", "watcher connector document words")
    store.deleteContainer(fs)
    assert(!store.listContainers().exists(_._1 == fs))
  }

  test("container_delete clears folders: a recreated name sees no ghosts") {
    val cid = store.createContainer("ghosty")
    store.createFolder(cid, "will/vanish")
    assert(store.listFolders(cid).contains("/will/vanish"))
    store.deleteContainer(cid)
    // same name -> same name-derived UUID: ghost folders would resurface
    val cid2 = store.createContainer("ghosty")
    assert(cid2 == cid)
    assert(!store.listFolders(cid2).contains("/will/vanish"))
    store.deleteContainer(cid2)
  }

  test("API uploads write back to the embed cache (J4 across calls)") {
    val wh2 = java.nio.file.Files.createTempDirectory("graft-ks-cache").toString
    val counting = new graft.ingest.CountingEmbedder
    val s2 = new KnowledgeStore(spark, wh2, embedder = counting, cfg = smallChunks)
    val cid = s2.createContainer("cachec")
    graft.ingest.CountingEmbedder.calls.set(0)
    s2.uploadFile(cid, "a.txt", "identical cached words every time.")
    assert(graft.ingest.CountingEmbedder.calls.get() > 0)
    graft.ingest.CountingEmbedder.calls.set(0)
    // different path, same content: embeddings must come from the cache
    s2.uploadFile(cid, "b.txt", "identical cached words every time.")
    assert(graft.ingest.CountingEmbedder.calls.get() == 0,
      "second upload should hit the embed cache")
  }
}

/** The API suite on one long-lived store, plus the guarantees only the
  * log can give — one-commit upserts whose change feed reads as delete
  * pre-images + insert post-images, snapshot-isolated deletes, adoption of
  * a plain-parquet warehouse. */
class KnowledgeStoreSpec extends KnowledgeStoreApiSuite {
  import TestSpark.spark
  import spark.implicits._

  protected lazy val store = new KnowledgeStore(spark, wh, cfg = smallChunks)

  test("transactional = false is rejected: the log is the only storage engine") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ksplain").toString
    val e = intercept[IllegalArgumentException](
      new KnowledgeStore(spark, dir, transactional = false))
    assert(e.getMessage.contains("transactional = false"), e.getMessage)
    assert(!graft.store.TxLog.exists(spark, dir), "a rejected store must not start a log")
  }

  test("upsert is ONE commit; CDF shows pre-images and post-images at one version") {
    val wh = java.nio.file.Files.createTempDirectory("graft-kstx").toString
    val s = new KnowledgeStore(spark, wh, cfg = smallChunks)
    val cid = s.createContainer("tx-docs")
    s.uploadFile(cid, "/a.txt", "alpha beta gamma delta epsilon zeta")
    val v1 = graft.store.TxLog.snapshot(spark, wh).version
    // re-upload the same path: REPLACE must be one commit
    s.uploadFile(cid, "/a.txt", "alpha beta gamma delta epsilon replaced")
    val v2 = graft.store.TxLog.snapshot(spark, wh).version
    assert(v2 == v1 + 1, s"upsert must claim exactly one version ($v1 -> $v2)")
    // the ledger feed at the upsert version: old row out, new row in
    val feed = graft.store.TxLog.readChanges(spark, wh, "ledger", fromVersion = v1)
      .select("_change_type", "content_hash").as[(String, String)].collect().toSeq
    assert(feed.count(_._1 == "delete") == 1, s"pre-image missing: $feed")
    assert(feed.count(_._1 == "insert") == 1, s"post-image missing: $feed")
    assert(feed.map(_._2).distinct.length == 2, "hashes must differ across the upsert")
    // reads resolve the replacement exactly once
    assert(s.getDocument(cid, "/a.txt").get.contains("replaced"))
    assert(s.containerStats(cid)("documents") == 1)
    // time travel: the pre-upsert snapshot still reads the old content
    val oldLedger = graft.store.TxLog.read(spark, wh, "ledger", atVersion = v1)
    assert(oldLedger.count() == 1)
  }

  /** Masks one document's rows in all three tables the way other log
    * writers do (TxLog.deleteWhereDV, TxLogSink.mergeDV): deletion
    * vectors, no data rewrite. */
  private def maskDocument(wh: String, s: KnowledgeStore, cid: String,
      path: String): Unit = {
    import org.apache.spark.sql.functions.col
    val id = s.documentIdAt(cid, path).get
    Seq("chunks", "vectors", "ledger").foreach(t =>
      graft.store.TxLog.deleteWhereDV(spark, wh, t,
        col("container_id") === cid && col("document_id") === id))
  }

  test("deletion-vector masks hide rows across the API surface; compact materializes") {
    val wh = java.nio.file.Files.createTempDirectory("graft-kstxdv").toString
    val s = new KnowledgeStore(spark, wh, cfg = smallChunks)
    val cid = s.createContainer("tx-dv")
    s.bulkUpload(cid, Seq(
      ("/a.txt", "alpha beta gamma delta epsilon zeta"),
      ("/b.txt", "one two three four five six seven")))
    val T = graft.store.TxLog
    val filesBefore = T.snapshot(spark, wh).files("chunks").map(_._1).toSet
    maskDocument(wh, s, cid, "/a.txt")
    // NO data rewrite — the three tables' deletes are masks
    assert(T.snapshot(spark, wh).files("chunks").map(_._1).toSet == filesBefore)
    assert(T.snapshot(spark, wh).dvsOf("chunks").nonEmpty)
    assert(T.snapshot(spark, wh).dvsOf("ledger").nonEmpty)
    // the API surface sees the delete everywhere
    assert(s.getDocument(cid, "/a.txt").isEmpty)
    assert(s.getDocument(cid, "/b.txt").nonEmpty)
    assert(s.listFiles(cid).map(_._2) == Seq("/b.txt"))
    assert(s.containerStats(cid)("documents") == 1)
    // search never returns masked chunks
    val hits = s.search(graft.model.SearchRequest("alpha beta", cid, topK = 5))
    assert(!hits.exists(_.document_id == java.util.UUID.nameUUIDFromBytes(
      s"$cid:/a.txt".getBytes("UTF-8")).toString))
    // the store's own writes work over masked files: a copy-on-write
    // delete of the survivor and a re-upload of the masked path
    s.bulkDelete(cid, Seq("/b.txt"))
    assert(s.getDocument(cid, "/b.txt").isEmpty)
    s.uploadFile(cid, "/a.txt", "alpha beta gamma delta epsilon back again")
    assert(s.getDocument(cid, "/a.txt").exists(_.contains("back again")))
    assert(s.containerStats(cid)("documents") == 1)
    // the compaction cadence materializes the masks
    T.compact(spark, wh, "chunks", Seq("container_id"))
    assert(T.snapshot(spark, wh).dvsOf("chunks").isEmpty)
    assert(s.getDocument(cid, "/a.txt").exists(_.contains("back again")))
    assert(s.getDocument(cid, "/b.txt").isEmpty)
  }

  test("maintain() compacts fragmented tables, materializes masks, checkpoints, vacuums") {
    val wh = java.nio.file.Files.createTempDirectory("graft-kstxm").toString
    val s = new KnowledgeStore(spark, wh, cfg = smallChunks)
    val cid = s.createContainer("tx-maint")
    // several upsert batches fragment the tables; a mask delete is pending
    for (i <- 1 to 4)
      s.uploadFile(cid, s"/d$i.txt", s"alpha beta gamma delta content number $i words")
    maskDocument(wh, s, cid, "/d4.txt")
    val T = graft.store.TxLog
    assert(T.snapshot(spark, wh).dvsOf("chunks").nonEmpty)
    val nFilesBefore = T.snapshot(spark, wh).files("chunks").size

    val report = s.maintain(maxFilesPerTable = 2, vacuumRetentionMs = 0L)
    // compaction materialized the masks and bounded the file count
    assert(report.contains("compact_chunks"), report.toString)
    assert(T.snapshot(spark, wh).dvsOf("chunks").isEmpty)
    assert(T.snapshot(spark, wh).dvsOf("ledger").isEmpty)
    assert(T.snapshot(spark, wh).files("chunks").size < nFilesBefore)
    // checkpoint + vacuum ran; there is no stored keyword index to refresh
    assert(!report.contains("postings"), report.toString)
    assert(report.contains("checkpoint") && report.contains("vacuum"))
    // the surface is intact: the deleted doc stays gone, the rest serve
    assert(s.getDocument(cid, "/d4.txt").isEmpty)
    assert(s.containerStats(cid)("documents") == 3)
    assert(s.search(graft.model.SearchRequest("alpha beta", cid, topK = 5)).nonEmpty)
    // a second maintenance pass on a healthy warehouse does no compaction
    val report2 = s.maintain(maxFilesPerTable = 64)
    assert(!report2.contains("compact_chunks"), report2.toString)
  }

  test("bulk delete is a logged deleteWhere — pre-images feed, vacuum reclaims") {
    val wh = java.nio.file.Files.createTempDirectory("graft-kstx2").toString
    val s = new KnowledgeStore(spark, wh, cfg = smallChunks)
    val cid = s.createContainer("tx-del")
    s.bulkUpload(cid, Seq(
      ("/a.txt", "alpha beta gamma delta epsilon zeta"),
      ("/b.txt", "one two three four five six seven")))
    val before = graft.store.TxLog.snapshot(spark, wh).version
    s.bulkDelete(cid, Seq("/a.txt"))
    // one commit covered all three tables
    assert(graft.store.TxLog.snapshot(spark, wh).version == before + 1)
    val dels = graft.store.TxLog.readChanges(spark, wh, "chunks", fromVersion = before)
      .filter($"_change_type" === "delete")
    assert(dels.count() > 0, "chunk pre-images must feed")
    assert(s.listFiles(cid).map(_._2) == Seq("/b.txt"))
    assert(s.getDocument(cid, "/a.txt").isEmpty)
    // physical reclamation is vacuum's job, and live data survives it
    graft.store.TxLog.vacuum(spark, wh, retentionMs = 0L)
    assert(s.getDocument(cid, "/b.txt").nonEmpty)
  }

  test("container deletion feeds delete pre-images — CDC consumers see it") {
    val wh = java.nio.file.Files.createTempDirectory("graft-kstxcd").toString
    val s = new KnowledgeStore(spark, wh, cfg = smallChunks)
    val cid = s.createContainer("tx-cdel", connectorType = "Filesystem")
    val keep = s.createContainer("tx-keep")
    s.uploadFile(cid, "/a.txt", "alpha beta gamma delta epsilon zeta")
    s.uploadFile(keep, "/k.txt", "kappa lambda mu nu xi omicron")
    val v0 = graft.store.TxLog.snapshot(spark, wh).version
    s.deleteContainer(cid)
    // the remove-bearing commit carries a delete action: the feed
    // replays the dropped container's rows as pre-images (an
    // IncrementalView over the ledger stays exact through it)
    val feed = graft.store.TxLog.readChanges(spark, wh, "ledger", fromVersion = v0)
    val dels = feed.filter($"_change_type" === "delete")
      .select("container_id").as[String].collect()
    assert(dels.toSeq == Seq(cid), s"container delete must feed pre-images, got ${dels.toSeq}")
    assert(feed.filter($"_change_type" === "insert").isEmpty)
    // chunks feed too, and only for the deleted container
    val chunkDels = graft.store.TxLog.readChanges(spark, wh, "chunks", fromVersion = v0)
      .filter($"_change_type" === "delete").select("container_id").as[String].collect()
    assert(chunkDels.nonEmpty && chunkDels.forall(_ == cid))
    // surviving container intact
    assert(s.getDocument(keep, "/k.txt").nonEmpty)
  }

  test("a store over a populated plain-parquet warehouse ADOPTS the data") {
    val wh = java.nio.file.Files.createTempDirectory("graft-kstxad").toString
    // a log-less warehouse: the three tables written as plain parquet
    // from the ingest stages, in the store's partition layout
    val cid = "adopt-me"
    def raw(path: String, body: String) = graft.ingest.IndexBuild.RawDoc(
      java.util.UUID.nameUUIDFromBytes(s"$cid:$path".getBytes("UTF-8")).toString,
      cid, path, path.stripPrefix("/"), body)
    val docs = Seq(
      raw("/a.txt", "alpha beta gamma delta epsilon zeta"),
      raw("/b.txt", "one two three four five six seven")).toDS()
    val embedder = graft.embed.HashEmbedder()
    val chunks = graft.ingest.IndexBuild.chunkDocs(docs,
      graft.chunk.Chunkers.forName("recursive", embedder), smallChunks)
    chunks.drop("precomputed").write.partitionBy("container_id").parquet(s"$wh/chunks")
    graft.ingest.IndexBuild.embedChunks(chunks, None, embedder)
      .write.partitionBy("container_id", "model_id").parquet(s"$wh/vectors")
    graft.ingest.IndexBuild.ledgerRows(chunks, docs,
        Map("IndexedWith:Chunker" -> "recursive",
          "IndexedWith:MaxChunkSize" -> smallChunks.maxChunkSize.toString,
          "IndexedWith:Overlap" -> smallChunks.overlap.toString,
          "IndexedWith:Model" -> embedder.modelId),
        org.apache.spark.sql.functions.lit(1))
      .write.partitionBy("container_id").parquet(s"$wh/ledger")
    assert(!graft.store.TxLog.exists(spark, wh))
    // opening a store must NOT hide the existing documents behind an
    // empty initial commit — the files are adopted into it
    val tx = new KnowledgeStore(spark, wh, cfg = smallChunks)
    assert(graft.store.TxLog.exists(spark, wh))
    assert(tx.listFiles(cid).map(_._2).sorted == Seq("/a.txt", "/b.txt"))
    assert(tx.getDocument(cid, "/a.txt").nonEmpty)
    assert(tx.containerStats(cid)("documents") == 2)
    // and the adopted warehouse keeps working through the log: an upsert
    // replaces the adopted rows
    tx.uploadFile(cid, "/a.txt", "alpha beta gamma delta epsilon replaced")
    assert(tx.getDocument(cid, "/a.txt").get.contains("replaced"))
    assert(tx.containerStats(cid)("documents") == 2)
  }

  test("a logged ledger file missing on disk fails the readers, never reads as empty") {
    val wh = java.nio.file.Files.createTempDirectory("graft-ksdmg").toString
    val s = new KnowledgeStore(spark, wh, cfg = smallChunks)
    val cid = s.createContainer("damaged")
    s.uploadFile(cid, "/a.txt", "alpha beta gamma delta epsilon zeta")
    assert(s.listFiles(cid).map(_._2) == Seq("/a.txt"))
    val (rel, _) = graft.store.TxLog.snapshot(spark, wh).files("ledger").head
    assert(new java.io.File(s"$wh/ledger/$rel").delete())
    val name = rel.substring(rel.lastIndexOf('/') + 1)
    Seq[() => Any](() => s.listFiles(cid), () => s.containerStats(cid),
        () => s.documentCounts()).foreach { read =>
      val e = intercept[org.apache.spark.sql.AnalysisException](read())
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("the warehouse holds only the log, the logged tables, the registries and the embed cache") {
    val wh = java.nio.file.Files.createTempDirectory("graft-kslayout").toString
    val s = new KnowledgeStore(spark, wh, cfg = smallChunks)
    val cid = s.createContainer("layout", connectorType = "Filesystem")
    s.uploadFile(cid, "/a.txt", "alpha beta gamma delta epsilon zeta")
    s.createFolder(cid, "/empty")
    val report = s.maintain(vacuumRetentionMs = 0L)
    assert(!report.contains("postings"), report.toString)
    assert(report.contains("checkpoint") && report.contains("vacuum"), report.toString)
    s.deleteContainer(cid)
    // dot-prefixed entries are hidden working dirs, invisible to Spark
    val root = new java.io.File(wh).list().filterNot(_.startsWith(".")).toSet
    assert(Set("_txlog", "chunks", "vectors", "ledger", "embed_cache").subsetOf(root), root)
    assert(root.subsetOf(Set("_txlog", "chunks", "vectors", "ledger",
      "containers", "folders", "settings", "embed_cache")), root)
  }
}

/** The API suite again, with a NEW store opened over the warehouse before
  * every test: containers, documents, folders and the change made by the
  * previous test must all be recovered from the commit log and the
  * registry tables, not from an instance's in-memory state (settings
  * cache, serving index). */
class KnowledgeStoreTxSpec extends KnowledgeStoreApiSuite {
  import TestSpark.spark

  @volatile private var opened: KnowledgeStore = _
  protected def store: KnowledgeStore = opened

  override def withFixture(test: NoArgTest) = {
    opened = new KnowledgeStore(spark, wh, cfg = smallChunks)
    super.withFixture(test)
  }
}

class ConnectorDeltaSpec extends AnyFunSuite {
  import TestSpark.spark
  import graft.streaming.ConnectorDelta
  import spark.implicits._

  test("snapshot join classifies Created/Changed/Deleted (J6/T2)") {
    val prev = Seq(("/a", 100L, 10L), ("/b", 100L, 10L), ("/c", 100L, 10L))
      .toDF("path", "mtime", "size")
    val cur = Seq(("/a", 100L, 10L), ("/b", 200L, 10L), ("/d", 100L, 5L))
      .toDF("path", "mtime", "size")
    val got = ConnectorDelta.events(prev, cur)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("/b" -> ConnectorDelta.Changed,
      "/c" -> ConnectorDelta.Deleted, "/d" -> ConnectorDelta.Created))
  }

  test("directory listing feeds the snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cd")
    java.nio.file.Files.writeString(dir.resolve("f1.txt"), "one")
    val snap1 = ConnectorDelta.listDirectory(spark, dir.toString)
    assert(snap1.count() == 1)
    java.nio.file.Files.writeString(dir.resolve("f2.txt"), "two")
    val snap2 = ConnectorDelta.listDirectory(spark, dir.toString)
    val events = ConnectorDelta.events(snap1, snap2).collect()
    assert(events.length == 1 && events.head.getString(1) == ConnectorDelta.Created)
  }
}
