package graft.api

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Remote-connector sync over REST (ref ContainersEndpoints.cs POST
  * /{id}/sync + ICloudScopeService): listing diff -> delta ingest into a
  * READ-ONLY connector container (the guard blocks user writes, the
  * sync IS the connector), idempotent re-sync, change/delete
  * propagation, and the cloud-scope gate driven by the caller's
  * SERVER-LINKED identity. */
class ConnectorSyncSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val wh = java.nio.file.Files.createTempDirectory("graft-sync").toString
  private lazy val store = new KnowledgeStore(spark, wh,
    cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
  private lazy val userReg = new UserRegistry(spark, wh, "sync-secret-0123456789")
  private lazy val cloudReg = new CloudIdentityRegistry(spark, wh)

  // the "remote": a mutable in-memory bucket of (path -> (content, mtime))
  private val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
    "/docs/a.txt" -> (("alpha file contents about storage", 100L)),
    "/docs/b.txt" -> (("bravo file contents about engines", 100L)))

  private lazy val syncer = new ConnectorSyncer(spark, wh, store,
    list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
      .toDF("path", "mtime", "size"),
    fetch = (_, p) => remote(p)._1.getBytes("UTF-8"),
    cloudPrincipalOf = cid =>
      if (cid == s3Container) Some(("aws", "444455556666")) else None)

  private lazy val s3Container =
    store.createContainer("bucket-mirror", connectorType = "S3")
  private lazy val (server, base) = {
    val s = new RestServer(store, users = Some(userReg),
      cloudIdentities = Some(cloudReg), connectorSync = Some(syncer))
    (s, s"http://127.0.0.1:${s.start()}")
  }
  private lazy val client = java.net.http.HttpClient.newHttpClient()

  private def http(method: String, path: String, body: String = null,
      bearer: String = null): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .header("Content-Type", "application/json")
    if (bearer != null) b = b.header("Authorization", s"Bearer $bearer")
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, java.net.http.HttpRequest.BodyPublishers.ofString(
        Option(body).getOrElse("")))
    }).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    val json = if (resp.body() == null || resp.body().isEmpty)
      mapper.createObjectNode() else mapper.readTree(resp.body())
    (resp.statusCode(), json)
  }

  private def login(email: String): String =
    http("POST", "/auth/login",
      s"""{"email": "$email", "password": "password!"}""")
      ._2.get("access_token").asText()

  test("cloud gate: unlinked user 403; linked-to-the-right-account user syncs") {
    userReg.createUser("ops@example.com", "password!", Seq("admin"), "ops")
    val jwt = login("ops@example.com")
    // an S3 container is READ-ONLY for user writes (the guard)...
    assert(http("POST", s"/containers/$s3Container/files",
      """{"path": "/x.txt", "content": "user write"}""", jwt)._1 == 400)
    // ...and sync is refused while the caller has no linked AWS identity
    val denied = http("POST", s"/containers/$s3Container/sync", "{}", jwt)
    assert(denied._1 == 403 &&
      denied._2.get("error").asText().contains("cloud_access_denied"), denied._2)
    // a linked identity that MISSES the connector's account still 403s
    val uid = userReg.listUsers().find(_._2 == "ops@example.com").get._1
    cloudReg.link(uid, "aws", "999999999999")
    assert(http("POST", s"/containers/$s3Container/sync", "{}", jwt)._1 == 403)
    // linked to the connector's account: the sync runs and ingests
    cloudReg.link(uid, "aws", "111122223333,444455556666")
    val (st, r) = http("POST", s"/containers/$s3Container/sync", "{}", jwt)
    assert(st == 200, r.toString)
    assert(r.get("created").asLong() == 2 && r.get("deleted").asLong() == 0)
    val files = http("GET", s"/containers/$s3Container/files", bearer = jwt)._2
    assert(files.size() == 2, files.toString)
    // the synced content is SEARCHABLE through the normal pipeline
    val hits = http("POST", "/search",
      s"""{"container_id": "$s3Container", "query": "bravo engines",
           "mode": "keyword"}""", jwt)._2.get("hits")
    assert(hits.size() > 0, "synced files must be indexed")
  }

  test("re-sync is a delta: no-op, then changed re-ingests and deleted removes") {
    val jwt = login("ops@example.com")
    val noop = http("POST", s"/containers/$s3Container/sync", "{}", jwt)._2
    assert(noop.get("created").asLong() == 0 &&
      noop.get("changed").asLong() == 0 && noop.get("deleted").asLong() == 0,
      s"unchanged remote must be a no-op delta, got $noop")
    remote("/docs/a.txt") = (("alpha REVISED contents about storage", 200L))
    remote.remove("/docs/b.txt")
    remote("/docs/c.txt") = (("charlie new file", 300L))
    val r = http("POST", s"/containers/$s3Container/sync", "{}", jwt)._2
    assert(r.get("created").asLong() == 1 && r.get("changed").asLong() == 1 &&
      r.get("deleted").asLong() == 1, r.toString)
    val doc = http("GET",
      s"/containers/$s3Container/document?path=/docs/a.txt", bearer = jwt)._2
    assert(doc.get("content").asText().contains("REVISED"),
      "a Changed file must re-ingest its new content")
    assert(http("GET",
      s"/containers/$s3Container/document?path=/docs/b.txt", bearer = jwt)._1
      == 404, "a Deleted file must leave the index")
  }

  test("non-cloud containers sync without an identity gate") {
    val fsContainer = store.createContainer("plain", connectorType = "Filesystem",
      writable = false)
    remote.clear()
    remote("/p/readme.md") = (("plain connector file", 10L))
    val jwt = login("ops@example.com")
    val (st, r) = http("POST", s"/containers/$fsContainer/sync", "{}", jwt)
    assert(st == 200 && r.get("created").asLong() == 1, r.toString)
  }
}

/** A REAL bucket: binary documents (pdf/docx) sync through the real
  * parsers, unsupported files SKIP with an event instead of wedging the
  * container (ref ConnectorWatcherService.cs:225-230 — the S8 gate is an
  * enqueue-time filter, never an abort), and the pass stays un-wedged
  * across re-syncs. */
class SyncBinaryBucketSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("pdf + docx land searchable; an .exe skips; re-sync is a no-op") {
    val wh = java.nio.file.Files.createTempDirectory("graft-syncbin").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 80, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (Array[Byte], Long)](
      "/r/report.pdf" -> ((graft.ingest.OoxmlFixtures.pdfBytes(
        "BT /F1 12 Tf (Quarterly synced report body) Tj ET"), 10L)),
      "/r/spec.docx" -> ((graft.ingest.OoxmlFixtures.docxBytes, 10L)),
      "/r/tool.exe" -> ((Array[Byte](0x4d, 0x5a, 0, 1, 2, 3), 10L)))
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new graft.ingest.ProgressListener {
      override def onProgress(e: graft.ingest.ProgressEvent): Unit =
        if (e.phase == "file_change") events.synchronized { events += e.detail }
    }
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (b, m)) => (p, m, b.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1)
    val cid = store.createContainer("bin-bucket", connectorType = "S3")

    val (_, r1) = syncer.sync(cid, Some(listener))
    assert(r1.created == 2L && r1.skipped == 1L && r1.failed == 0L, r1)
    assert(events.exists(d => d.contains("/r/tool.exe") && d.contains("Skipped")),
      s"the unsupported file must publish a Skipped event, got $events")
    // both documents are INDEXED TEXT (the real parsers ran)
    assert(store.getDocument(cid, "/r/report.pdf").exists(
      _.contains("Quarterly synced report body")))
    assert(store.getDocument(cid, "/r/spec.docx").exists(
      _.contains("First paragraph text.")))
    assert(store.getDocument(cid, "/r/tool.exe").isEmpty)
    // the index holds the pdf's EXTRACTED text (chunks the search legs scan)
    import org.apache.spark.sql.functions.col
    assert(graft.store.TxLog.read(spark, wh, "chunks")
      .filter(col("container_id") === cid &&
        col("content").contains("Quarterly synced report body"))
      .count() > 0, "synced pdf text must reach the chunk index")

    // UN-WEDGED: the same bucket (still containing the .exe) re-syncs as
    // a clean no-op delta — the skip is re-published, nothing re-ingests
    val (_, r2) = syncer.sync(cid, Some(listener))
    assert(r2.created == 0L && r2.changed == 0L && r2.deleted == 0L, r2)
    // and a LATER change next to the .exe still flows (the container is
    // not stuck)
    remote("/r/notes.md") = (("fresh markdown notes".getBytes("UTF-8"), 20L))
    val (_, r3) = syncer.sync(cid)
    assert(r3.created == 1L, r3)
    assert(store.getDocument(cid, "/r/notes.md").isDefined)
  }
}

/** Renamed files keep their document identity (ref StorageModels.cs:14-15
  * Renamed/OldPath; ConnectorWatcherService.cs:237-255 id reuse): the
  * poll diff pairs a same-window Deleted+Created with identical
  * (mtime, size) into a Renamed event, the moved document keeps its id at
  * the new path, and unchanged content re-embeds NOTHING (cache hit). */
class SyncRenameSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("rename keeps document_id, costs zero embed calls, and moves the path") {
    val wh = java.nio.file.Files.createTempDirectory("graft-syncren").toString
    val counting = new graft.ingest.CountingEmbedder
    val store = new KnowledgeStore(spark, wh, embedder = counting,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val body = "stable renamed content about identity preservation."
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
      "/d/original.txt" -> ((body, 100L)),
      "/d/untouched.txt" -> (("bystander file body", 100L)))
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"))
    val cid = store.createContainer("rename-bucket", connectorType = "S3")
    assert(syncer.sync(cid)._2.created == 2L)
    val idBefore = store.documentIdAt(cid, "/d/original.txt").get

    // a filesystem MOVE: same bytes, same mtime, new path
    remote.remove("/d/original.txt")
    remote("/d/renamed.txt") = ((body, 100L))
    graft.ingest.CountingEmbedder.calls.set(0)
    val (published, r) = syncer.sync(cid)
    assert(r.renamed == 1L && r.created == 0L &&
      r.changed == 0L && r.deleted == 0L, r)
    assert(published.exists { case (p, e) =>
      p == "/d/renamed.txt" && e.contains("Renamed") && e.contains("/d/original.txt") },
      s"the event must carry the old path, got $published")
    assert(graft.ingest.CountingEmbedder.calls.get() == 0,
      "unchanged content must re-embed nothing on a rename (cache hit)")
    // IDENTITY: same document_id at the new path; the old path is gone
    assert(store.documentIdAt(cid, "/d/renamed.txt").contains(idBefore),
      "the moved document must keep its id")
    assert(store.documentIdAt(cid, "/d/original.txt").isEmpty)
    assert(store.getDocument(cid, "/d/renamed.txt").exists(_.contains("identity")))
    assert(store.getDocument(cid, "/d/original.txt").isEmpty)
    // no duplicate rows: exactly 2 ledger rows (renamed + bystander)
    assert(store.listFiles(cid, None, 0, 50).length == 2)

    // a LATER re-upload at the renamed path keeps upserting the SAME id
    // (ledger-first resolution) — never a duplicate path
    remote("/d/renamed.txt") = ((body + " updated", 200L))
    assert(syncer.sync(cid)._2.changed == 1L)
    assert(store.documentIdAt(cid, "/d/renamed.txt").contains(idBefore))
    assert(store.listFiles(cid, None, 0, 50).length == 2)
  }

  test("rename onto an unsupported extension deletes the indexed original") {
    val wh = java.nio.file.Files.createTempDirectory("graft-syncren2").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
      "/d/a.txt" -> (("soon to be a binary", 100L)))
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"))
    val cid = store.createContainer("rename-bucket2", connectorType = "S3")
    assert(syncer.sync(cid)._2.created == 1L)
    remote.remove("/d/a.txt")
    remote("/d/a.bin") = (("soon to be a binary", 100L))
    val (_, r) = syncer.sync(cid)
    assert(r.renamed == 1L && r.skipped == 1L, r)
    assert(store.getDocument(cid, "/d/a.txt").isEmpty,
      "the old path's document must leave the index")
    assert(store.listFiles(cid, None, 0, 50).isEmpty)
  }

  test("inferred rename with DIFFERENT content does not transplant the old id") {
    // two different files can share (mtime, size) — generated artifacts,
    // log rotations stamped in the same second. The delta layer pairs
    // them as a rename candidate, but the CONTENT CONFIRM must decline
    // the id transplant: the pair ingests as create + delete, never as
    // the old document's identity wrapped around unrelated content (ref
    // ConnectorWatcherService.cs:237-255 only ever reuses ids for
    // watcher-REPORTED renames).
    val wh = java.nio.file.Files.createTempDirectory("graft-syncren3").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val bodyA = "alpha document body with deterministic size!"
    val bodyB = "bravo document body with deterministic size!" // same length
    assert(bodyA.length == bodyB.length)
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
      "/d/rotated.txt" -> ((bodyA, 100L)))
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"))
    val cid = store.createContainer("rename-confirm", connectorType = "S3")
    assert(syncer.sync(cid)._2.created == 1L)
    val idA = store.documentIdAt(cid, "/d/rotated.txt").get

    remote.remove("/d/rotated.txt")
    remote("/d/unrelated.txt") = ((bodyB, 100L)) // same (mtime, size), new bytes
    val (_, r) = syncer.sync(cid)
    assert(r.renamed == 0L && r.created == 1L && r.deleted == 1L, r)
    val idB = store.documentIdAt(cid, "/d/unrelated.txt").get
    assert(idB != idA,
      "declined confirm must mint a fresh identity, not transplant the old one")
    assert(store.getDocument(cid, "/d/unrelated.txt").exists(_.contains("bravo")))
    assert(store.getDocument(cid, "/d/rotated.txt").isEmpty)
    assert(store.listFiles(cid, None, 0, 50).length == 1)
  }
}

/** FIRST-CRAWL bulk path: with a distributed reader wired, an empty
  * container's initial sync ingests the whole listing as ONE
  * cluster-parallel parse→chunk→embed commit (wall ∝ corpus/parallelism,
  * not corpus/MaxBulk commits) and produces EXACTLY the index the driver
  * loop would have; later passes stay on the incremental loop. */
class SyncFirstCrawlSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def mkRemote(n: Int): scala.collection.concurrent.TrieMap[String, (String, Long)] = {
    val m = scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
    (1 to n).foreach(i => m(f"/crawl/doc$i%03d.txt") =
      ((s"document number $i body: " + ("lorem ipsum " * (i % 5 + 1)).trim, i.toLong)))
    m
  }

  private def mkSyncer(wh: String, store: KnowledgeStore,
      remote: scala.collection.concurrent.TrieMap[String, (String, Long)],
      bulk: Boolean): ConnectorSyncer = {
    val fetchBulk: Option[(String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame] =
      if (!bulk) None
      else Some { (_, paths) =>
        val snap = remote.toMap // capture a serializable snapshot
        paths.select("path").as[String]
          .map(p => (p, snap(p)._1.getBytes("UTF-8")))
          .toDF("path", "content")
      }
    new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"),
      fetchBulk = fetchBulk)
  }

  test("bulk first crawl equals the driver loop's index, then goes incremental") {
    val remote = mkRemote(23)
    remote("/crawl/skipme.exe") = (("not text", 1L))
    val whA = java.nio.file.Files.createTempDirectory("graft-fc-bulk").toString
    val whB = java.nio.file.Files.createTempDirectory("graft-fc-loop").toString
    val cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5)
    val storeA = new KnowledgeStore(spark, whA, cfg = cfg)
    val storeB = new KnowledgeStore(spark, whB, cfg = cfg)
    val syncA = mkSyncer(whA, storeA, remote, bulk = true)
    val syncB = mkSyncer(whB, storeB, remote, bulk = false)
    val cidA = storeA.createContainer("crawl", connectorType = "S3")
    val cidB = storeB.createContainer("crawl", connectorType = "S3")

    val (_, rA) = syncA.sync(cidA)
    val (_, rB) = syncB.sync(cidB)
    assert(rA.created == 23L && rA.skipped == 1L && rA.failed == 0L, rA)
    assert(rA.created == rB.created && rA.skipped == rB.skipped, (rA, rB))
    // PARITY: same ledger identities and content hashes, same chunk rows
    def ledgerOf(wh: String, cid: String) =
      graft.store.TxLog.read(spark, wh, "ledger")
        .filter(org.apache.spark.sql.functions.col("container_id") === cid)
        .select("path", "document_id", "content_hash", "chunk_count")
        .as[(String, String, String, Int)].collect().toSet
    val la = ledgerOf(whA, cidA)
    assert(la.map(r => (r._1, r._3, r._4)) ==
      ledgerOf(whB, cidB).map(r => (r._1, r._3, r._4)),
      "bulk path must index exactly what the driver loop indexes")
    assert(la.map(_._2) == ledgerOf(whB, cidB).map(_._2),
      "document ids derive from the same path recipe on both paths")

    // searchable end to end
    assert(storeA.getDocument(cidA, "/crawl/doc007.txt")
      .exists(_.contains("document number 7")))

    // pass 2 is a clean incremental no-op; a change rides the DRIVER loop
    assert(syncA.sync(cidA)._2 ==
      ConnectorSyncer.SyncResult(0, 0, 0, 0, 0, 0, 0))
    remote("/crawl/doc003.txt") = (("document number 3 body REVISED", 999L))
    val (_, r3) = syncA.sync(cidA)
    assert(r3.changed == 1L && r3.created == 0L, r3)
    assert(storeA.getDocument(cidA, "/crawl/doc003.txt").exists(_.contains("REVISED")))
  }

  test("bulk first crawl runs the upload-validation gauntlet executor-side") {
    val remote = mkRemote(4)
    remote("/crawl/empty.txt") = (("", 1L)) // zero-byte: must FAIL, not count as created
    val wh = java.nio.file.Files.createTempDirectory("graft-fc-val").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val syncer = mkSyncer(wh, store, remote, bulk = true)
    val cid = store.createContainer("crawl-val", connectorType = "S3")
    val (ev, r) = syncer.sync(cid)
    assert(r.created == 4L && r.failed == 1L && r.skipped == 0L, r)
    assert(ev.exists { case (p, e) =>
      p == "/crawl/empty.txt" && e.contains("Zero-byte uploads are not allowed") }, ev)
    assert(store.getDocument(cid, "/crawl/empty.txt").isEmpty)
    // retry (now through the incremental loop — the container is
    // populated): still failing until the remote heals, then it lands
    assert(syncer.sync(cid)._2.failed == 1L)
    remote("/crawl/empty.txt") = (("bytes arrived", 2L))
    val (_, r3) = syncer.sync(cid)
    assert(r3.created == 1L && r3.failed == 0L, r3)
    assert(store.getDocument(cid, "/crawl/empty.txt").exists(_.contains("bytes")))
  }

  test("bulk first crawl enforces the reader contract: unanswered paths fail loudly") {
    // a reader echoing QUALIFIED URIs instead of the listing's own path
    // strings answers zero requested paths — every file must FAIL (and
    // retry), never silently advance a crawl that indexed nothing
    val remote = mkRemote(3)
    val wh = java.nio.file.Files.createTempDirectory("graft-fc-uri").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    @volatile var qualified = true
    val fetchBulk: Option[(String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame] =
      Some { (_, paths) =>
        val snap = remote.toMap
        val prefix = if (qualified) "s3a://bucket" else ""
        paths.select("path").as[String]
          .map(p => (prefix + p, snap(p)._1.getBytes("UTF-8")))
          .toDF("path", "content")
      }
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"),
      fetchBulk = fetchBulk)
    val cid = store.createContainer("crawl-uri", connectorType = "S3")
    val (ev, r) = syncer.sync(cid)
    assert(r.created == 0L && r.failed == 3L, r)
    assert(ev.exists(_._2.contains("not returned by the bulk reader")), ev)
    assert(store.listFiles(cid, None, 0, 50).isEmpty)
    // fixed reader, container still empty -> the bulk path retries clean
    qualified = false
    val (_, r2) = syncer.sync(cid)
    assert(r2.created == 3L && r2.failed == 0L, r2)
  }

  test("bulk first crawl is all-or-nothing: a failed job commits nothing, the retry heals") {
    val remote = mkRemote(3)
    val wh = java.nio.file.Files.createTempDirectory("graft-fc-fail").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    @volatile var down = true
    val fetchBulk: Option[(String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame] =
      Some { (_, paths) =>
        val snap = remote.toMap
        val failNow = down // serialized into the task closure per job
        paths.select("path").as[String]
          .map { p =>
            if (failNow && p.endsWith("doc002.txt")) sys.error("503 from the store")
            (p, snap(p)._1.getBytes("UTF-8"))
          }.toDF("path", "content")
      }
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"),
      fetchBulk = fetchBulk)
    val cid = store.createContainer("crawl-fail", connectorType = "S3")
    // the reader dies mid-job: the ONE-COMMIT contract means nothing
    // landed — no documents, no snapshot — and the pass surfaces as an
    // exception the caller retries wholesale
    intercept[Exception](syncer.sync(cid))
    assert(store.listFiles(cid, None, 0, 50).isEmpty,
      "a failed first-crawl job must commit nothing")
    // retry after the remote heals: still an EMPTY container, so the
    // bulk path runs again and lands everything
    down = false
    val (_, r) = syncer.sync(cid)
    assert(r.created == 3L && r.failed == 0L, r)
    assert(store.getDocument(cid, "/crawl/doc002.txt").exists(_.contains("document number 2")))
  }
}

/** Mass-deletion guard: a listing provider answering empty/partial on a
  * transient failure must not wipe the container in one pass — deletions
  * above the fraction+floor are HELD (pending, re-detected next sync);
  * force proceeds. */
class SyncDeleteGuardSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("an empty listing holds deletions; force wipes; small deltas flow") {
    val wh = java.nio.file.Files.createTempDirectory("graft-syncguard").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
      (1 to 20).map(i => s"/g/f$i.txt" -> ((s"guarded file number $i body", 1L))): _*)
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"))
    val cid = store.createContainer("guarded", connectorType = "S3")
    assert(syncer.sync(cid)._2.created == 20L)

    // a SMALL legitimate delta (4 < floor) deletes normally
    (1 to 4).foreach(i => remote.remove(s"/g/f$i.txt"))
    val small = syncer.sync(cid)._2
    assert(small.deleted == 4L && small.deletedHeld == 0L, small)

    // the provider "fails" into an empty listing: 16/16 deletions — held
    val wiped = remote.toMap
    remote.clear()
    val held = syncer.sync(cid)._2
    assert(held.deleted == 0L && held.deletedHeld == 16L, held)
    assert(store.listFiles(cid, None, 0, 50).length == 16,
      "held deletions must leave the store intact")

    // the provider RECOVERS: the next sync sees everything in place
    wiped.foreach { case (p, v) => remote(p) = v }
    val healed = syncer.sync(cid)._2
    assert(healed.deleted == 0L && healed.deletedHeld == 0L, healed)
    assert(store.listFiles(cid, None, 0, 50).length == 16)

    // an INTENTIONAL wipe proceeds with force
    remote.clear()
    val forced = syncer.sync(cid, force = true)._2
    assert(forced.deleted == 16L && forced.deletedHeld == 0L, forced)
    assert(store.listFiles(cid, None, 0, 50).isEmpty)
  }
}

/** Azure reachability probe wiring (ref AzureIdentityProvider.cs): the
  * cloud-scope gate's containerReachable is a real HEAD through
  * [[graft.sources.AzureBlobClient]], failing CLOSED. */
class SyncAzureProbeSpec extends AnyFunSuite {
  import TestSpark.spark
  import graft.sources.{AzureBlobClient, HttpExchange, StoreResponse}

  private def client(status: Int, recorded: scala.collection.mutable.Buffer[(String, String)]) =
    new AzureBlobClient("http://azurite:10000/acct", "acct", "docs",
      java.util.Base64.getEncoder.encodeToString("k".getBytes("UTF-8")),
      exchange = new HttpExchange {
        override def send(method: String, url: String,
            headers: Map[String, String], body: Array[Byte]): StoreResponse = {
          recorded += ((method, url))
          StoreResponse(status, Map.empty, Array.empty)
        }
      },
      clock = () => java.time.Instant.EPOCH)

  test("containerExists HEADs the container resource; reachableVia fails closed") {
    val reqs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    assert(client(200, reqs).containerExists())
    assert(reqs.head._1 == "HEAD" && reqs.head._2.contains("restype=container"),
      s"must probe the CONTAINER resource, got ${reqs.head}")
    assert(!client(404, reqs).containerExists())
    assert(!client(403, reqs).containerExists(), "forbidden reads as unreachable")
    // the wiring: unknown container ids and probe failures fail CLOSED
    val reachable = ConnectorSyncer.reachableVia {
      case "known" => Some(client(200, reqs))
      case "gone" => Some(client(404, reqs))
      case _ => None
    }
    assert(reachable("known"))
    assert(!reachable("gone"))
    assert(!reachable("never-configured"))
  }

  test("unreachable container answers cloud_access_denied over REST") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-syncaz").toString
    val store = new KnowledgeStore(spark, wh)
    val userReg = new UserRegistry(spark, wh, "az-secret-0123456789")
    val cloudReg = new CloudIdentityRegistry(spark, wh)
    val reqs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val cid = store.createContainer("az-mirror", connectorType = "AzureBlob")
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => Seq(("/x.txt", 1L, 3L)).toDF("path", "mtime", "size"),
      fetch = (_, _) => "abc".getBytes("UTF-8"),
      cloudPrincipalOf = c => if (c == cid) Some(("azure", "docs")) else None,
      containerReachable = ConnectorSyncer.reachableVia(c =>
        if (c == cid) Some(client(404, reqs)) else None))
    val server = new RestServer(store, users = Some(userReg),
      cloudIdentities = Some(cloudReg), connectorSync = Some(syncer))
    val base = s"http://127.0.0.1:${server.start()}"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val http = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String, bearer: String = null) = {
      var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
        .header("Content-Type", "application/json")
        .method("POST", java.net.http.HttpRequest.BodyPublishers.ofString(body))
      if (bearer != null) b = b.header("Authorization", s"Bearer $bearer")
      val resp = http.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), mapper.readTree(resp.body()))
    }
    userReg.createUser("az@example.com", "password!", Seq("admin"), "az")
    val jwt = post("/auth/login",
      """{"email": "az@example.com", "password": "password!"}""")
      ._2.get("access_token").asText()
    val uid = userReg.listUsers().head._1
    cloudReg.link(uid, "azure", "oid-123")
    val (st, body) = post(s"/containers/$cid/sync", "{}", jwt)
    assert(st == 403 && body.get("error").asText().contains("cloud_access_denied"),
      s"unreachable container must deny: $st $body")
    assert(reqs.nonEmpty, "the gate must actually probe the blob container")
    server.stop()
  }
}

/** Session self-introspection + admin scope assignment (ref
  * AuthEndpoints.cs GET /me, PUT /users/{id}/roles). */
class MeAndScopesSpec extends AnyFunSuite {
  import TestSpark.spark

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val wh = java.nio.file.Files.createTempDirectory("graft-me").toString
  private lazy val store = new KnowledgeStore(spark, wh)
  private lazy val userReg = new UserRegistry(spark, wh, "me-secret-0123456789")
  private lazy val (server, base) = {
    val s = new RestServer(store, users = Some(userReg))
    (s, s"http://127.0.0.1:${s.start()}")
  }
  private lazy val client = java.net.http.HttpClient.newHttpClient()

  private def http(method: String, path: String, body: String = null,
      bearer: String = null): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .header("Content-Type", "application/json")
    if (bearer != null) b = b.header("Authorization", s"Bearer $bearer")
    val req = (method match {
      case "GET" => b.GET()
      case m => b.method(m, java.net.http.HttpRequest.BodyPublishers.ofString(
        Option(body).getOrElse("")))
    }).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    val json = if (resp.body() == null || resp.body().isEmpty)
      mapper.createObjectNode() else mapper.readTree(resp.body())
    (resp.statusCode(), json)
  }

  private def login(email: String): String =
    http("POST", "/auth/login",
      s"""{"email": "$email", "password": "password!"}""")
      ._2.get("access_token").asText()

  test("GET /auth/me answers the session's own profile; 401 without one") {
    userReg.createUser("root@example.com", "password!", Seq("admin"), "root")
    userReg.createUser("dev@example.com", "password!", Seq("read:*"), "dev")
    assert(http("GET", "/auth/me")._1 == 401)
    val me = http("GET", "/auth/me", bearer = login("dev@example.com"))._2
    assert(me.get("email").asText() == "dev@example.com")
    assert(me.get("name").asText() == "dev")
    assert(me.get("scopes").get(0).asText() == "read:*")
    assert(me.get("created_ms").asLong() > 0L)
  }

  test("PUT /auth/users/{id}/scopes: admin reassigns; last-admin guard holds") {
    val root = login("root@example.com")
    val devId = userReg.listUsers().find(_._2 == "dev@example.com").get._1
    val rootId = userReg.listUsers().find(_._2 == "root@example.com").get._1
    // non-admin refused
    assert(http("PUT", s"/auth/users/$devId/scopes",
      """{"scopes": ["write:*"]}""", login("dev@example.com"))._1 == 403)
    // admin promotes dev to write:*; the NEXT login carries it
    assert(http("PUT", s"/auth/users/$devId/scopes",
      """{"scopes": ["write:*"]}""", root)._1 == 200)
    val me = http("GET", "/auth/me", bearer = login("dev@example.com"))._2
    assert(me.get("scopes").get(0).asText() == "write:*")
    // invalid grammar 400; unknown user 404
    assert(http("PUT", s"/auth/users/$devId/scopes",
      """{"scopes": ["root"]}""", root)._1 == 400)
    assert(http("PUT", "/auth/users/nope/scopes",
      """{"scopes": ["read:*"]}""", root)._1 == 404)
    // the LAST active admin cannot drop its own admin scope (the
    // reference's "never remove Owner" — no self-administered lockout)
    assert(http("PUT", s"/auth/users/$rootId/scopes",
      """{"scopes": ["read:*"]}""", root)._1 == 400)
    // with a second admin present, the first may step down
    assert(http("PUT", s"/auth/users/$devId/scopes",
      """{"scopes": ["admin"]}""", root)._1 == 200)
    assert(http("PUT", s"/auth/users/$rootId/scopes",
      """{"scopes": ["read:*"]}""", root)._1 == 200)
  }
}

/** Lost-snapshot healing: remote deletions reconcile against the STORE's
  * own listing, so a snapshot lost in a crash window costs a re-crawl
  * (harmless upsert), never silent divergence. */
class SyncSnapshotLossSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("deleting the snapshot still detects remote deletions on the next sync") {
    val wh = java.nio.file.Files.createTempDirectory("graft-syncloss").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
      "/a.txt" -> (("first file body", 1L)), "/b.txt" -> (("second file body", 1L)))
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"))
    val cid = store.createContainer("loss", connectorType = "S3")
    val first = syncer.sync(cid)._2
    assert(first.created == 2L && first.deleted == 0L)
    // simulate the swap's crash window: the snapshot is GONE
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$wh/connector_snapshots/$cid")).deleteRecursively()
    remote.remove("/b.txt")
    val (_, r) = syncer.sync(cid)
    assert(r.deleted == 1L,
      "a remote deletion must be detected even with no previous snapshot")
    assert(r.created == 1L && r.changed == 0L,
      "the surviving file re-diffs as Created (upsert no-op), never diverges")
    assert(store.getDocument(cid, "/b.txt").isEmpty, "the deleted doc must leave the store")
    assert(store.getDocument(cid, "/a.txt").isDefined)
  }
}

/** A TRANSIENT ingest failure must not diverge silently: the failed
  * path's snapshot row does not advance (absent for Created, old mtime
  * for Changed), so the next sync re-detects and retries it — previously
  * the snapshot swallowed the failure and the file stayed missing (or
  * stale) until its remote mtime happened to change. */
class SyncRetrySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("failed ingest skips with an event, then the next sync retries and heals") {
    val wh = java.nio.file.Files.createTempDirectory("graft-syncretry").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
      "/t/good.txt" -> (("a healthy document body", 1L)),
      "/t/flaky.txt" -> (("the flaky document body", 1L)))
    @volatile var flakyDown = true
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => {
        if (p == "/t/flaky.txt" && flakyDown) sys.error("503 from the store")
        remote(p)._1.getBytes("UTF-8")
      })
    val cid = store.createContainer("retry", connectorType = "S3")

    // pass 1: the flaky file fails per-file (batch-mates unaffected)
    val (ev1, r1) = syncer.sync(cid)
    assert(r1.created == 1L && r1.failed == 1L && r1.skipped == 0L, r1)
    assert(ev1.exists { case (p, e) =>
      p == "/t/flaky.txt" && e.contains("ingest_failed") }, ev1)
    assert(store.getDocument(cid, "/t/good.txt").isDefined)
    assert(store.getDocument(cid, "/t/flaky.txt").isEmpty)

    // pass 2, still down: re-detected as Created again (the snapshot row
    // did NOT advance), fails again — no silent divergence
    val (_, r2) = syncer.sync(cid)
    assert(r2.created == 0L && r2.failed == 1L && r2.skipped == 0L, r2)

    // pass 3, transient cleared: the retry heals the store
    flakyDown = false
    val (_, r3) = syncer.sync(cid)
    assert(r3.created == 1L && r3.failed == 0L && r3.skipped == 0L, r3)
    assert(store.getDocument(cid, "/t/flaky.txt").exists(_.contains("flaky")))
    // pass 4: clean no-op
    val (_, r4) = syncer.sync(cid)
    assert(r4.created == 0L && r4.changed == 0L && r4.skipped == 0L &&
      r4.failed == 0L, r4)

    // a failed CHANGED re-ingest keeps serving the old content but keeps
    // the old snapshot row, so it re-diffs as Changed until it heals
    remote("/t/flaky.txt") = (("the flaky document body REVISED", 2L))
    flakyDown = true
    val (_, r5) = syncer.sync(cid)
    assert(r5.changed == 0L && r5.failed == 1L && r5.skipped == 0L, r5)
    assert(store.getDocument(cid, "/t/flaky.txt").exists(!_.contains("REVISED")),
      "the old content keeps serving while the re-ingest fails")
    flakyDown = false
    val (_, r6) = syncer.sync(cid)
    assert(r6.changed == 1L && r6.failed == 0L && r6.skipped == 0L, r6)
    assert(store.getDocument(cid, "/t/flaky.txt").exists(_.contains("REVISED")))
  }

  test("a zero-byte remote file is refused by upload validation, then heals once nonempty") {
    // the store-level ValidateInput mirror gates the SYNC transport too:
    // an empty remote object (often a partial write in progress) fails
    // with an event and RETRIES — when bytes appear, the retry lands it
    val wh = java.nio.file.Files.createTempDirectory("graft-syncempty").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)](
      "/t/ok.txt" -> (("a healthy document body", 1L)),
      "/t/empty.txt" -> (("", 1L)))
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"))
    val cid = store.createContainer("empty-gate", connectorType = "S3")
    val (ev, r) = syncer.sync(cid)
    assert(r.created == 1L && r.failed == 1L, r)
    assert(ev.exists { case (p, e) =>
      p == "/t/empty.txt" && e.contains("Zero-byte uploads are not allowed") }, ev)
    assert(store.getDocument(cid, "/t/empty.txt").isEmpty)
    remote("/t/empty.txt") = (("bytes arrived", 2L))
    val (_, r2) = syncer.sync(cid)
    assert(r2.created == 1L && r2.failed == 0L, r2)
    assert(store.getDocument(cid, "/t/empty.txt").exists(_.contains("bytes")))
  }
}

/** Sync regression pins: a crashed upload's stranded files, the
  * pre-ingest guard denominator, and the bulk-rename demotion bound. */
class SyncReviewPinsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("a crashed upload's staged files never double a document on retry") {
    val wh = java.nio.file.Files.createTempDirectory("graft-orphan").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5))
    val cid = store.createContainer("orphans")
    store.uploadFile(cid, "a.txt", "the one true body of this document.")
    val before = store.getDocument(cid, "/a.txt").get
    // the crash window: an upload staged its chunk files, then died
    // before its commit — the files sit in the table dir, unreferenced
    import org.apache.spark.sql.functions.col
    val T = graft.store.TxLog
    val staged = T.stageWrite(
      T.read(spark, wh, "chunks").filter(col("container_id") === cid),
      wh, "chunks", Seq("container_id"),
      generation = T.snapshot(spark, wh).maxGeneration("chunks") + 1L)
    assert(staged.nonEmpty)
    // the retry commits once; the stranded files stay invisible
    store.uploadFile(cid, "a.txt", "the one true body of this document.")
    val after = store.getDocument(cid, "/a.txt").get
    assert(after == before,
      s"retry after a crashed upload must not double content:\n$after")
    val rows = T.read(spark, wh, "chunks").filter(col("container_id") === cid)
    assert(rows.count() == rows.select("chunk_id").distinct().count(),
      "no stranded duplicate chunk rows may surface after the retry")
  }

  test("the mass-delete guard's denominator is the PRE-ingest store size") {
    val wh = java.nio.file.Files.createTempDirectory("graft-guarddenom").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)]()
    (0 until 12).foreach(i => remote(f"/r/f$i%02d.txt") = ((s"body number $i text", 1L)))
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"))
    val cid = store.createContainer("denom", connectorType = "S3")
    assert(syncer.sync(cid)._2.created == 12L)
    // a re-pointed bucket: 40 unrelated files, NONE of the original 12 —
    // the pass ingests the 40, then must judge the 12 deletions against
    // the PRE-pass store (12/12 = 1.0 > 0.5), not the inflated 52
    remote.clear()
    (0 until 40).foreach(i => remote(f"/other/g$i%02d.txt") = ((s"garbage $i", 9L)))
    val (_, r) = syncer.sync(cid)
    assert(r.deletedHeld == 12L && r.deleted == 0L,
      s"the guard must hold the wipe against the pre-ingest denominator: $r")
    assert(store.getDocument(cid, "/r/f00.txt").isDefined,
      "the original documents must survive the held pass")
  }

  test("bulk renames above the budget demote to delete+create (bounded pass)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-rdemote").toString
    val store = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 60, overlap = 5, minChunkSize = 5))
    val remote = scala.collection.concurrent.TrieMap[String, (String, Long)]()
    (0 until 4).foreach(i => remote(s"/d/f$i.txt") = ((s"moved corpus body $i", 1L)))
    val syncer = new ConnectorSyncer(spark, wh, store,
      list = _ => remote.toSeq.map { case (p, (c, m)) => (p, m, c.length.toLong) }
        .toDF("path", "mtime", "size"),
      fetch = (_, p) => remote(p)._1.getBytes("UTF-8"),
      maxRenamesPreserved = 2L)
    val cid = store.createContainer("demote", connectorType = "S3")
    assert(syncer.sync(cid)._2.created == 4L)
    val idBefore = store.documentIdAt(cid, "/d/f0.txt").get
    // a directory move: all 4 files relocate with mtime+size intact ->
    // 4 Renamed pairs > the budget of 2 -> demotion
    val moved = remote.toMap
    remote.clear()
    moved.foreach { case (p, v) => remote(p.replace("/d/", "/e/")) = v }
    val (_, r) = syncer.sync(cid)
    assert(r.renamed == 0L && r.created == 4L && r.deleted == 4L,
      s"above-budget renames must surface as create+delete: $r")
    assert(store.getDocument(cid, "/e/f0.txt").exists(_.contains("moved corpus body 0")))
    assert(store.getDocument(cid, "/d/f0.txt").isEmpty)
    assert(!store.documentIdAt(cid, "/e/f0.txt").contains(idBefore),
      "demotion does not preserve ids (the disclosed trade)")
    // next pass is a clean no-op
    val (_, r2) = syncer.sync(cid)
    assert(r2.created == 0L && r2.deleted == 0L && r2.renamed == 0L, r2)
  }
}
