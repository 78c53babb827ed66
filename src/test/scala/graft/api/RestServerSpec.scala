package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The REST serving surface end-to-end over real HTTP: a JDK HttpClient
  * drives the full container → upload → search → document → delete
  * lifecycle against a live server on an ephemeral port, including the
  * round-8 search options (bm25 rank function, snippets) and the error
  * contract (400 on violated bounds, 404 on missing resources).
  */
class RestServerSpec extends AnyFunSuite {
  import TestSpark.spark

  private val mapper = new ObjectMapper()
  private val wh = java.nio.file.Files.createTempDirectory("graft-rest").toString
  private lazy val store = new KnowledgeStore(spark, wh,
    cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5))
  private lazy val (server, base) = {
    val s = new RestServer(store)
    val port = s.start()
    (s, s"http://127.0.0.1:$port")
  }
  private lazy val client = java.net.http.HttpClient.newHttpClient()

  private def send(method: String, path: String, body: String = null)
      : (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base$path"))
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m,
        java.net.http.HttpRequest.BodyPublishers.ofString(Option(body).getOrElse("{}")))
    }).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    val json = if (resp.body() == null || resp.body().isEmpty) mapper.createObjectNode()
      else mapper.readTree(resp.body())
    (resp.statusCode(), json)
  }

  test("full lifecycle over HTTP: create, upload, search, document, stats, delete") {
    assert(send("GET", "/health")._2.get("status").asText() == "ok")

    // create a container
    val (cSt, cB) = send("POST", "/containers", """{"name": "docs"}""")
    assert(cSt == 201)
    val cid = cB.get("container_id").asText()
    assert(send("GET", "/containers")._2.size() == 1)

    // upload two files (one nested), a folder, then list
    val up1 = send("POST", s"/containers/$cid/files",
      """{"path": "/guide/chunking.txt", "content": "Chunk overlap controls how many tokens adjacent chunks share. Overlap must stay below the chunk size."}""")
    assert(up1._1 == 201 && up1._2.get("document_id").asText().nonEmpty)
    val up2 = send("POST", s"/containers/$cid/bulk_upload",
      """{"files": [{"path": "/api/search.txt", "content": "Search runs a vector leg and a keyword leg fused with a convex combination."}]}""")
    assert(up2._1 == 201 && up2._2.get("document_ids").size() == 1)
    val files = send("GET", s"/containers/$cid/files")._2
    assert(files.size() == 2)
    assert(send("GET", s"/containers/$cid/files?prefix=/api/")._2.size() == 1)

    // search with the round-8 options: bm25 ranking + snippets
    val (sSt, sB) = send("POST", "/search",
      s"""{"query": "chunk overlap", "container_id": "$cid", "mode": "keyword",
           "rank_fn": "bm25", "snippet_tokens": 5, "top_k": 5}""")
    assert(sSt == 200)
    val hits = sB.get("hits")
    assert(hits.size() > 0)
    val first = hits.get(0)
    assert(first.get("content").asText().toLowerCase.contains("overlap"))
    assert(first.get("metadata").get("snippet") != null,
      "snippet_tokens must surface metadata.snippet")

    // document reconstruction + stats + models
    val doc = send("GET", s"/containers/$cid/document?path=/guide/chunking.txt")
    assert(doc._1 == 200 && doc._2.get("content").asText().contains("Chunk overlap"))
    val stats = send("GET", s"/containers/$cid/stats")._2
    assert(stats.get("documents").asLong() == 2)
    assert(send("GET", s"/containers/$cid/models")._2.size() == 1)

    // folders: explicit + implied
    assert(send("POST", s"/containers/$cid/folders", """{"path": "/empty"}""")._1 == 201)
    val folders = send("GET", s"/containers/$cid/folders")._2
    val names = (0 until folders.size()).map(folders.get(_).asText())
    assert(names.contains("/empty") && names.contains("/guide"))

    // delete one file; the other survives
    assert(send("POST", s"/containers/$cid/bulk_delete",
      """{"paths": ["/api/search.txt"]}""")._1 == 204)
    assert(send("GET", s"/containers/$cid/files")._2.size() == 1)

    // error contract
    // pagination bounds (ref PaginationValidator.cs): negative offset and
    // out-of-range limit are 400s, never a driver-collect amplifier
    assert(send("GET", s"/containers/$cid/files?offset=-1")._1 == 400)
    assert(send("GET", s"/containers/$cid/files?limit=0")._1 == 400)
    assert(send("GET", s"/containers/$cid/files?limit=100000")._1 == 400)
    assert(send("GET", s"/containers/$cid/files?limit=200")._1 == 200)
    assert(send("GET", s"/containers/$cid/document?path=/nope.txt")._1 == 404)
    assert(send("POST", "/search",
      s"""{"query": "x", "container_id": "$cid", "top_k": 9999}""")._1 == 400)
    assert(send("POST", "/search", """{"query": "x"}""")._1 == 400) // missing container_id
    assert(send("GET", "/no/such/route")._1 == 404)
    // client-shaped failures are 400s, never 500s: malformed body,
    // non-numeric query params, unknown rank function
    assert(send("POST", "/search", "not json at all")._1 == 400)
    assert(send("GET", s"/containers/$cid/files?offset=abc")._1 == 400)
    assert(send("POST", "/search",
      s"""{"query": "x", "container_id": "$cid", "rank_fn": "BM25"}""")._1 == 400)

    // maintenance runs over HTTP: log checkpoint, vacuum (no stored
    // keyword index to refresh)
    val (mSt, mB) = send("POST", "/maintain", "{}")
    assert(mSt == 200 && !mB.has("postings"), mB)
    assert(mB.has("checkpoint") && mB.has("vacuum"), mB)

    // container delete: non-empty managed storage refuses with 400 (ref
    // PostgresContainerStore.DeleteAsync + docs/api.md "must be empty
    // first"); emptied, it deletes
    val (neSt, neB) = send("DELETE", s"/containers/$cid")
    assert(neSt == 400 && neB.get("error").asText().contains("not empty"), neB)
    assert(send("POST", s"/containers/$cid/bulk_delete",
      """{"paths": ["/guide/chunking.txt"]}""")._1 == 204)
    assert(send("DELETE", s"/containers/$cid")._1 == 204)
    assert(send("GET", "/containers")._2.size() == 0)
    server.stop()
  }

  test("write guard surfaces as 400: S3-connector containers reject uploads") {
    val wh2 = java.nio.file.Files.createTempDirectory("graft-rest2").toString
    val s2 = new RestServer(new KnowledgeStore(spark, wh2))
    val port = s2.start()
    val base2 = s"http://127.0.0.1:$port"
    def send2(method: String, path: String, body: String) = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base2$path"))
        .method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    }
    val cid = mapper.readTree(send2("POST", "/containers",
      """{"name": "mirror", "connector_type": "S3"}""").body())
      .get("container_id").asText()
    val resp = send2("POST", s"/containers/$cid/files",
      """{"path": "/a.txt", "content": "hi"}""")
    assert(resp.statusCode() == 400)
    assert(mapper.readTree(resp.body()).get("error").asText().contains("read-only"))
    s2.stop()
  }

  test("security headers ride every response, success and error") {
    val wh4 = java.nio.file.Files.createTempDirectory("graft-rest4").toString
    val s4 = new RestServer(new KnowledgeStore(spark, wh4))
    val port = s4.start()
    def headersOf(path: String) = {
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.headers())
    }
    try {
      val expected = Seq(
        "X-Content-Type-Options" -> "nosniff",
        "X-Frame-Options" -> "DENY",
        "Referrer-Policy" -> "strict-origin-when-cross-origin")
      val (okSt, okH) = headersOf("/health")
      assert(okSt == 200)
      val (errSt, errH) = headersOf("/no/such/route")
      assert(errSt >= 400)
      expected.foreach { case (k, v) =>
        assert(okH.firstValue(k).orElse("") == v, s"$k missing on a success response")
        assert(errH.firstValue(k).orElse("") == v, s"$k missing on an error response")
      }
    } finally s4.stop()
  }

  test("upload-input validation: the 400 matrix mirrors the reference") {
    val wh5 = java.nio.file.Files.createTempDirectory("graft-rest5").toString
    val s5 = new RestServer(new KnowledgeStore(spark, wh5,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5)))
    val port = s5.start()
    val base5 = s"http://127.0.0.1:$port"
    def send5(method: String, path: String, body: String) = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base5$path"))
        .method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(),
        if (resp.body() == null || resp.body().isEmpty) mapper.createObjectNode()
        else mapper.readTree(resp.body()))
    }
    val cid = send5("POST", "/containers", """{"name": "validation"}""")
      ._2.get("container_id").asText()
    def up(path: String, content: String) = {
      val o = mapper.createObjectNode()
      o.put("path", path); o.put("content", content)
      send5("POST", s"/containers/$cid/files", mapper.writeValueAsString(o))
    }
    try {
    // filename > 255 chars
    val long = up("/" + ("a" * 252) + ".txt", "body")
    assert(long._1 == 400 &&
      long._2.get("error").asText() == "Filename exceeds 255 characters.", long)
    // control characters in the filename
    val ctl = up("/bad\u0007name.txt", "body")
    assert(ctl._1 == 400 &&
      ctl._2.get("error").asText().startsWith("Invalid filename:"), ctl)
    // path depth > 50 directories
    val deep = up((1 to 51).map(i => s"d$i").mkString("/", "/", "/f.txt"), "body")
    assert(deep._1 == 400 &&
      deep._2.get("error").asText() == "Path exceeds maximum depth of 50 levels.", deep)
    // zero-byte body
    val empty = up("/empty.txt", "")
    assert(empty._1 == 400 &&
      empty._2.get("error").asText() ==
        "File is empty. Zero-byte uploads are not allowed.", empty)
    // boundary cases land: exactly 255-char filename, exactly 50 dirs deep
    val okName = up("/" + ("b" * 251) + ".txt", "boundary body")
    assert(okName._1 == 201, okName)
    val okDeep = up((1 to 50).map(i => s"d$i").mkString("/", "/", "/f.txt"),
      "boundary body")
    assert(okDeep._1 == 201, okDeep)
    } finally s5.stop()
  }

  test("container-name validation: the reference's 400 matrix, one rule for every transport") {
    val wh6 = java.nio.file.Files.createTempDirectory("graft-rest6").toString
    val s6 = new RestServer(new KnowledgeStore(spark, wh6,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5)))
    val port = s6.start()
    val base6 = s"http://127.0.0.1:$port"
    def create(name: String) = {
      val o = mapper.createObjectNode(); o.put("name", name)
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$base6/containers"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(o))).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), mapper.readTree(resp.body()))
    }
    try {
      val msg = "Container name must be 2-128 characters, lowercase " +
        "alphanumeric and hyphens, cannot start or end with a hyphen"
      // ref PathUtilities.cs ^[a-z0-9][a-z0-9-]*[a-z0-9]$ 2-128 chars
      // (CHANGELOG #225 "Uppercase container names now return 400")
      for (bad <- Seq("Docs", "x", "a" * 129, "-docs", "docs-", "-x-",
        "do cs", "d_ocs", "")) {
        val (st, b) = create(bad)
        assert(st == 400, s"'$bad' must 400, got $st")
        assert(b.get("error").asText() == msg, s"'$bad' message: $b")
      }
      // boundary names land: exactly 2 and exactly 128 chars, inner hyphens
      assert(create("ab")._1 == 201)
      assert(create("a" + ("b" * 126) + "c")._1 == 201)
      assert(create("my-docs-2")._1 == 201)
      // the reference trims before validating; the stored name is trimmed
      // (same namespace as the untrimmed form — duplicate rejected)
      assert(create("  trimmed  ")._1 == 201)
      assert(create("trimmed")._1 == 400) // duplicate after trim
      // description + created_ms persist through create -> details/list
      // (ref Container record: Id/Name/Description/ConnectorType/CreatedAt)
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$base6/containers"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"name": "described", "description": "project knowledge base"}"""))
        .build()
      val created = mapper.readTree(client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString()).body())
      val dId = created.get("container_id").asText()
      val getReq = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$base6/containers/$dId")).GET().build()
      val det = mapper.readTree(client.send(getReq,
        java.net.http.HttpResponse.BodyHandlers.ofString()).body())
      assert(det.get("description").asText() == "project knowledge base")
      assert(det.get("created_ms").asLong() > 0L)
      assert(det.get("document_count").asLong() == 0L)
      val listReq = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$base6/containers")).GET().build()
      val listing = mapper.readTree(client.send(listReq,
        java.net.http.HttpResponse.BodyHandlers.ofString()).body())
      val row = (0 until listing.size()).map(listing.get)
        .find(_.get("name").asText() == "described").get
      assert(row.get("description").asText() == "project knowledge base")
      assert(row.get("document_count").asLong() == 0L)
    } finally s6.stop()
  }

  test("GET container search: query params map onto the POST surface, same hits") {
    val wh7 = java.nio.file.Files.createTempDirectory("graft-rest7").toString
    val s7 = new RestServer(new KnowledgeStore(spark, wh7,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5)))
    val port = s7.start()
    val base7 = s"http://127.0.0.1:$port"
    def send7(method: String, path: String, body: String = null) = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base7$path"))
      val req = (method match {
        case "GET" => b.GET()
        case m => b.method(m,
          java.net.http.HttpRequest.BodyPublishers.ofString(Option(body).getOrElse("{}")))
      }).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(),
        if (resp.body() == null || resp.body().isEmpty) mapper.createObjectNode()
        else mapper.readTree(resp.body()))
    }
    try {
      val cid = send7("POST", "/containers", """{"name": "getsearch"}""")
        ._2.get("container_id").asText()
      send7("POST", s"/containers/$cid/files",
        """{"path": "/guide/chunking.txt", "content": "Chunk overlap controls how many tokens adjacent chunks share. Overlap must stay below the chunk size."}""")
      send7("POST", s"/containers/$cid/files",
        """{"path": "/api/search.txt", "content": "Search runs a vector leg and a keyword leg fused with a convex combination."}""")
      // GET == POST parity: same query through both transports, same hits
      val get = send7("GET",
        s"/containers/$cid/search?q=chunk+overlap&mode=keyword&topK=5")
      assert(get._1 == 200, get)
      val post = send7("POST", "/search",
        s"""{"query": "chunk overlap", "container_id": "$cid", "mode": "keyword", "top_k": 5}""")
      assert(post._1 == 200)
      assert(get._2.get("hits").size() == post._2.get("hits").size())
      assert(get._2.get("hits").size() > 0)
      for (i <- 0 until get._2.get("hits").size()) {
        assert(get._2.get("hits").get(i).get("chunk_id").asText() ==
          post._2.get("hits").get(i).get("chunk_id").asText())
        assert(get._2.get("hits").get(i).get("score").asDouble() ==
          post._2.get("hits").get(i).get("score").asDouble())
      }
      // path filter narrows the same way as the POST path_prefix
      val scoped = send7("GET",
        s"/containers/$cid/search?q=chunk+overlap&mode=keyword&path=/api/")
      assert(scoped._1 == 200)
      assert(scoped._2.get("hits").size() < get._2.get("hits").size())
      // validation parity with POST (ref SearchEndpoints.cs:42-46):
      // missing/blank q and out-of-range topK are 400s, never 500s
      assert(send7("GET", s"/containers/$cid/search")._1 == 400)
      assert(send7("GET", s"/containers/$cid/search?q=%20")._1 == 400)
      assert(send7("GET", s"/containers/$cid/search?q=x&topK=9999")._1 == 400)
      assert(send7("GET", s"/containers/$cid/search?q=x&topK=abc")._1 == 400)
      // unknown mode falls back (reference Enum.TryParse → Hybrid): 200
      assert(send7("GET", s"/containers/$cid/search?q=chunk+overlap&mode=bogus")._1 == 200)
      // the container-scoped POST (ref ContainerSearchRequest) answers
      // the same hits as the flat POST; filters.pathPrefix wins over path
      val cpost = send7("POST", s"/containers/$cid/search",
        """{"query": "chunk overlap", "mode": "keyword", "topK": 5}""")
      assert(cpost._1 == 200 &&
        cpost._2.get("hits").size() == post._2.get("hits").size(), cpost)
      val cfil = send7("POST", s"/containers/$cid/search",
        """{"query": "chunk overlap", "mode": "keyword", "path": "/guide/",
            "filters": {"pathPrefix": "/api/"}}""")
      assert(cfil._1 == 200 &&
        cfil._2.get("hits").size() == scoped._2.get("hits").size(), cfil)
      assert(send7("POST", s"/containers/$cid/search", """{"topK": 3}""")._1 == 400,
        "missing query must 400")

      // by-fileId document surface (ref DocumentsEndpoints.cs:221-465)
      val listing = send7("GET", s"/containers/$cid/files")._2
      val fid = (0 until listing.size()).map(listing.get)
        .find(_.get("path").asText() == "/guide/chunking.txt").get
        .get("document_id").asText()
      val det = send7("GET", s"/containers/$cid/files/$fid")
      assert(det._1 == 200)
      assert(det._2.get("path").asText() == "/guide/chunking.txt")
      assert(det._2.get("file_name").asText() == "chunking.txt")
      assert(det._2.get("status").asText() == "Ready")
      assert(det._2.get("chunk_count").asInt() > 0)
      assert(det._2.get("indexed_with").get("IndexedWith:Chunker") != null)
      val content = send7("GET", s"/containers/$cid/files/$fid/content")
      assert(content._1 == 200 &&
        content._2.get("content").asText().contains("Chunk overlap"))
      val rc = send7("GET", s"/containers/$cid/files/$fid/reindex-check")
      assert(rc._1 == 200)
      assert(!rc._2.get("needs_reindex").asBoolean())
      assert(rc._2.get("reason").asText() == "Unchanged")
      // a chunking settings change flips the per-document check
      send7("PUT", s"/containers/$cid/settings/chunking",
        """{"max_chunk_size": "30"}""")
      val rc2 = send7("GET", s"/containers/$cid/files/$fid/reindex-check")
      assert(rc2._2.get("needs_reindex").asBoolean(), rc2)
      assert(rc2._2.get("reason").asText() == "SettingsChanged")
      // container details by id and by name (ref ContainersEndpoints.cs
      // :101/:116); names resolve case-insensitively like the reference
      val byId = send7("GET", s"/containers/$cid")
      assert(byId._1 == 200 && byId._2.get("name").asText() == "getsearch" &&
        byId._2.get("connector_type").asText() == "ManagedStorage" &&
        byId._2.get("writable").asBoolean())
      val byName = send7("GET", "/containers/by-name/GETSEARCH")
      assert(byName._1 == 200 &&
        byName._2.get("container_id").asText() == cid)
      assert(send7("GET", "/containers/nope")._1 == 404)
      assert(send7("GET", "/containers/by-name/nope")._1 == 404)
      // global embedding-model discovery (ref SettingsEndpoints.cs:235)
      val em = send7("GET", "/settings/embedding-models")
      assert(em._1 == 200)
      assert(em._2.get("models").size() == 1)
      assert(em._2.get("models").get(0).get("is_current").asBoolean())
      assert(!em._2.get("has_legacy_vectors").asBoolean())
      // unknown ids 404 on every by-id route
      assert(send7("GET", s"/containers/$cid/files/nope")._1 == 404)
      assert(send7("GET", s"/containers/$cid/files/nope/content")._1 == 404)
      assert(send7("GET", s"/containers/$cid/files/nope/reindex-check")._1 == 404)
      assert(send7("DELETE", s"/containers/$cid/files/nope")._1 == 404)
      // DELETE by id removes the document and its listing row
      assert(send7("DELETE", s"/containers/$cid/files/$fid")._1 == 204)
      assert(send7("GET", s"/containers/$cid/files/$fid")._1 == 404)
      assert(send7("GET", s"/containers/$cid/files")._2.size() == 1)
    } finally s7.stop()
  }

  test("bearer guard: 401 without/with-wrong token, 200 with it; /health stays open") {
    val wh3 = java.nio.file.Files.createTempDirectory("graft-rest3").toString
    val s3 = new RestServer(new KnowledgeStore(spark, wh3), apiKey = Some("hunter2"))
    val port = s3.start()
    val base3 = s"http://127.0.0.1:$port"
    def send3(path: String, bearer: Option[String]) = {
      var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base3$path")).GET()
      bearer.foreach(t => b = b.header("Authorization", s"Bearer $t"))
      client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    }
    try {
      // liveness probing never needs a credential
      assert(send3("/health", None).statusCode() == 200)
      // everything else does — read AND write paths
      assert(send3("/containers", None).statusCode() == 401)
      assert(send3("/containers", Some("wrong")).statusCode() == 401)
      assert(send3("/containers", Some("hunter2")).statusCode() == 200)
      val post = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$base3/containers"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("""{"name": "x"}"""))
        .build()
      assert(client.send(post,
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode() == 401)
    } finally s3.stop()
  }
}
