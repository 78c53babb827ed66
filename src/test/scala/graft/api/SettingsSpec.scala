package graft.api

import graft.TestSpark
import graft.model.SearchRequest
import org.scalatest.funsuite.AnyFunSuite

/** Runtime-mutable settings (ref SettingsEndpoints.cs, SettingsModels.cs,
  * ContainerSettingsResolver.cs; SURVEY §1.3 per-container override merge):
  * PUT settings → the NEXT ingest uses them with no restart → the
  * IndexedWith stamp records them → reindex_check flags documents indexed
  * under older settings → reindex re-ingests the stale set. Covers the
  * resolution order (constructor defaults <- global <- container), strict
  * validation, the embedding-model swap, and the REST surface.
  */
class SettingsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val wh = java.nio.file.Files.createTempDirectory("graft-settings").toString
  private lazy val store = new KnowledgeStore(spark, wh,
    cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5))
  private lazy val cidA = store.createContainer("settings-a")
  private lazy val cidB = store.createContainer("settings-b")

  private val text = ("The quick brown fox jumps over the lazy dog. " * 30).trim

  private def stampOf(cid: String, path: String): Map[String, String] = {
    import org.apache.spark.sql.functions.col
    graft.store.TxLog.read(spark, wh, "ledger")
      .filter(col("container_id") === cid && col("path") === path)
      .select("indexed_with")
      .collect().head.getMap[String, String](0).toMap
  }

  private def maxTokens(cid: String, path: String): Int = {
    import org.apache.spark.sql.functions.col
    graft.store.TxLog.read(spark, wh, "chunks")
      .filter(col("container_id") === cid && col("path") === path)
      .select("token_count")
      .collect().map(_.getInt(0)).max
  }

  test("effective settings resolve constructor defaults before any PUT") {
    val eff = store.effectiveSettings("chunking", Some(cidA))
    assert(eff("strategy") == "recursive")
    assert(eff("max_chunk_size") == "40") // the constructor cfg, not 512
    assert(store.getSettings("chunking").isEmpty) // nothing stored yet
    assert(store.listSettingsCategories().isEmpty)
  }

  test("PUT chunking settings -> next ingest uses them and stamps them") {
    store.uploadFile(cidA, "/docs/before.txt", text)
    assert(stampOf(cidA, "/docs/before.txt")("IndexedWith:MaxChunkSize") == "40")
    assert(maxTokens(cidA, "/docs/before.txt") <= 40)

    store.putSettings("chunking",
      Map("strategy" -> "fixedsize", "max_chunk_size" -> "16", "overlap" -> "2",
        "min_chunk_size" -> "2"))
    assert(store.listSettingsCategories() == Seq("chunking"))
    assert(store.effectiveSettings("chunking", Some(cidA))("max_chunk_size") == "16")
    // unset keys still resolve through the constructor layer
    assert(store.effectiveSettings("chunking", Some(cidA))("breakpoint_method") == "percentile")

    store.uploadFile(cidA, "/docs/after.txt", text)
    val stamp = stampOf(cidA, "/docs/after.txt")
    assert(stamp("IndexedWith:MaxChunkSize") == "16")
    assert(stamp("IndexedWith:Chunker") == "fixedsize")
    assert(maxTokens(cidA, "/docs/after.txt") <= 16)
  }

  test("per-container override beats global; other containers track global") {
    store.putSettings("chunking", Map("max_chunk_size" -> "24"), Some(cidB))
    // B: container override wins; global PUT supplies the strategy
    val effB = store.effectiveSettings("chunking", Some(cidB))
    assert(effB("max_chunk_size") == "24" && effB("strategy") == "fixedsize")
    // A: untouched by B's override
    assert(store.effectiveSettings("chunking", Some(cidA))("max_chunk_size") == "16")

    store.uploadFile(cidB, "/docs/b.txt", text)
    assert(stampOf(cidB, "/docs/b.txt")("IndexedWith:MaxChunkSize") == "24")
    assert(maxTokens(cidB, "/docs/b.txt") <= 24)
  }

  test("reindex_check flags documents indexed under older settings (T6)") {
    val counts = store.reindexCheck(cidA)
    // before.txt carries the 40-token stamp -> SettingsChanged;
    // after.txt was ingested under the current settings -> Unchanged
    assert(counts.getOrElse("SettingsChanged", 0L) == 1L, counts.toString)
    assert(counts.getOrElse("Unchanged", 0L) == 1L, counts.toString)
    // force previews a full rebuild
    val forced = store.reindexCheck(cidA, force = true)
    assert(forced.getOrElse("Forced", 0L) == 2L)
  }

  test("reindex re-ingests the stale set under current settings") {
    assert(store.reindexStale(cidA) == 1)
    assert(stampOf(cidA, "/docs/before.txt")("IndexedWith:MaxChunkSize") == "16")
    assert(maxTokens(cidA, "/docs/before.txt") <= 16)
    val counts = store.reindexCheck(cidA)
    assert(counts.getOrElse("SettingsChanged", 0L) == 0L, counts.toString)
    assert(counts.getOrElse("Unchanged", 0L) == 2L, counts.toString)
    // generation bumped by the upsert path
    import org.apache.spark.sql.functions.col
    val gen = graft.store.TxLog.read(spark, wh, "ledger")
      .filter(col("container_id") === cidA && col("path") === "/docs/before.txt")
      .select("generation").collect().head.getInt(0)
    assert(gen == 2)
    // idempotent: nothing left to do
    assert(store.reindexStale(cidA) == 0)
  }

  test("embedding model change re-embeds on reindex; search follows") {
    store.putSettings("embedding", Map("model" -> "hash-128-v1"))
    // both docs' stamps now stale on IndexedWith:Model
    val counts = store.reindexCheck(cidA)
    assert(counts.getOrElse("SettingsChanged", 0L) == 2L, counts.toString)
    assert(store.reindexStale(cidA) == 2)
    import org.apache.spark.sql.functions.col
    val dims = graft.store.TxLog.read(spark, wh, "vectors")
      .filter(col("container_id") === cidA)
      .groupBy("model_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dims.keySet.contains("hash-128-v1"), dims.toString)
    // the query embeds with the effective model, so fresh vectors match
    val hits = store.search(SearchRequest("quick brown fox", cidA, topK = 3))
    assert(hits.nonEmpty)
    // an unconstructible provider model fails fast at ingest, not silently
    store.putSettings("embedding", Map("model" -> "text-embedding-3-small"))
    assertThrows[IllegalArgumentException](
      store.uploadFile(cidA, "/docs/fail.txt", text))
    store.resetSettings("embedding")
  }

  test("reset returns a scope to its inherited layers") {
    store.resetSettings("chunking", Some(cidB))
    assert(store.effectiveSettings("chunking", Some(cidB))("max_chunk_size") == "16")
    store.resetSettings("chunking")
    assert(store.effectiveSettings("chunking", Some(cidB))("max_chunk_size") == "40")
    assert(store.listSettingsCategories().isEmpty)
  }

  test("serving-cache caps are runtime-mutable: PUT -> the next index build honors them") {
    // a dedicated store (the shared one carries other tests' state)
    val wh2 = java.nio.file.Files.createTempDirectory("graft-settings-srv").toString
    val s2 = new KnowledgeStore(spark, wh2,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5))
    val cid = s2.createContainer("serving-caps")
    s2.uploadFile(cid, "/d/a.txt",
      "chunk overlap controls how many tokens adjacent chunks share")
    // defaults: tiny corpus -> the driver fast-path copies exist
    s2.search(graft.model.SearchRequest("chunk overlap", cid, topK = 3))
    assert(s2.currentIndex.serving.get.driverCopy.nonEmpty)
    // PUT row cap 0 -> the cached index invalidates and the NEXT build
    // leaves the driver copies off (the RDD legs serve)
    s2.putSettings("serving", Map("keyword_driver_cache_max_rows" -> "0"))
    val hits = s2.search(graft.model.SearchRequest("chunk overlap", cid, topK = 3))
    assert(hits.nonEmpty)
    assert(s2.currentIndex.serving.get.driverCopy.isEmpty,
      "row cap 0 must disable the driver copy on the next build")
    assert(!s2.currentIndex.serving.get.driverCopy.exists(_.withVectors))
    // a 1-byte bytes cap does the same even with the row cap back
    s2.putSettings("serving", Map("driver_cache_max_bytes" -> "1"))
    s2.search(graft.model.SearchRequest("chunk overlap", cid, topK = 3))
    assert(s2.currentIndex.serving.get.driverCopy.isEmpty,
      "a bytes cap under the corpus size must disable the driver copy")
    // reset -> defaults again -> copies return
    s2.resetSettings("serving")
    s2.search(graft.model.SearchRequest("chunk overlap", cid, topK = 3))
    assert(s2.currentIndex.serving.get.driverCopy.nonEmpty)
    // bad values reject at the boundary
    assertThrows[IllegalArgumentException](
      s2.putSettings("serving", Map("driver_cache_max_bytes" -> "lots")))
    assertThrows[IllegalArgumentException](
      s2.putSettings("serving", Map("keyword_driver_cache_max_rows" -> "many")))
    // the index is store-wide: a container-scoped override would bind to
    // nothing — rejected at the boundary rather than silently inert
    assertThrows[IllegalArgumentException](
      s2.putSettings("serving",
        Map("keyword_driver_cache_max_rows" -> "16"), Some(cid)))
  }

  test("validation rejects unknown categories, keys, and bad values") {
    assertThrows[IllegalArgumentException](
      store.putSettings("nope", Map("a" -> "b")))
    assertThrows[IllegalArgumentException](
      store.putSettings("chunking", Map("max_chunksize" -> "32"))) // typo'd key
    assertThrows[IllegalArgumentException](
      store.putSettings("chunking", Map("max_chunk_size" -> "lots")))
    assertThrows[IllegalArgumentException](
      store.putSettings("chunking", Map("strategy" -> "quantum")))
    assertThrows[IllegalArgumentException](
      store.putSettings("search", Map("auto_cut" -> "yes")))
    assertThrows[IllegalArgumentException](
      store.putSettings("chunking", Map("overlap" -> "3"), Some("no-such-cid")))
  }

  test("settings survive a fresh KnowledgeStore over the same warehouse") {
    store.putSettings("chunking", Map("max_chunk_size" -> "32"))
    val reopened = new KnowledgeStore(spark, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5))
    assert(reopened.effectiveSettings("chunking")("max_chunk_size") == "32")
    assert(reopened.getSettings("chunking") == Map("max_chunk_size" -> "32"))
    store.resetSettings("chunking")
  }
}

/** The REST settings surface over real HTTP (ref SettingsEndpoints.cs
  * routing): GET effective vs ?stored=true, PUT validation errors as 400,
  * container-scoped routes, reindex_check/reindex, and search falling back
  * to effective search settings for absent fields. */
class SettingsRestSpec extends AnyFunSuite {
  import TestSpark.spark

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val wh = java.nio.file.Files.createTempDirectory("graft-settings-rest").toString
  private lazy val store = new KnowledgeStore(spark, wh,
    cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5))
  private lazy val (server, base) = {
    val s = new RestServer(store)
    val port = s.start()
    (s, s"http://127.0.0.1:$port")
  }
  private lazy val client = java.net.http.HttpClient.newHttpClient()

  private def http(method: String, path: String, body: String = null)
      : (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .header("Content-Type", "application/json")
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

  test("settings lifecycle over HTTP: PUT -> GET effective/stored -> DELETE") {
    val (cSt, cJ) = http("POST", "/containers", """{"name": "rest-settings"}""")
    assert(cSt == 201)
    val cid = cJ.get("container_id").asText()

    // numbers in the JSON body stringify into the store
    val (pSt, _) = http("PUT", "/settings/chunking",
      """{"max_chunk_size": 20, "overlap": 2, "min_chunk_size": 2}""")
    assert(pSt == 200)
    val (gSt, gJ) = http("GET", "/settings/chunking")
    assert(gSt == 200 && gJ.get("max_chunk_size").asText() == "20")
    assert(gJ.get("strategy").asText() == "recursive") // constructor layer
    val (rawSt, rawJ) = http("GET", "/settings/chunking?stored=true")
    assert(rawSt == 200 && !rawJ.has("strategy") &&
      rawJ.get("max_chunk_size").asText() == "20")
    val (catSt, catJ) = http("GET", "/settings")
    assert(catSt == 200 && catJ.get(0).asText() == "chunking")

    // container override + scoped GET
    val (oSt, _) = http("PUT", s"/containers/$cid/settings/chunking",
      """{"max_chunk_size": 12}""")
    assert(oSt == 200)
    val (eSt, eJ) = http("GET", s"/containers/$cid/settings/chunking")
    assert(eSt == 200 && eJ.get("max_chunk_size").asText() == "12")
    // whole-record overrides view (ref ContainersEndpoints.cs:209): only
    // STORED categories appear, each with only its explicitly-set keys
    val (wSt, wJ) = http("GET", s"/containers/$cid/settings")
    assert(wSt == 200 && wJ.size() == 1 &&
      wJ.get("chunking").get("max_chunk_size").asText() == "12" &&
      !wJ.get("chunking").has("strategy"), wJ.toString)
    assert(http("GET", "/containers/nope/settings")._1 == 404)

    // ingest honors the override; reindex surface over HTTP
    val (uSt, _) = http("POST", s"/containers/$cid/files",
      s"""{"path": "/a.txt", "content": "${"alpha beta gamma delta. " * 20}"}""")
    assert(uSt == 201)
    val (dSt, _) = http("DELETE", s"/containers/$cid/settings/chunking")
    assert(dSt == 204)
    val (rcSt, rcJ) = http("POST", s"/containers/$cid/reindex_check")
    assert(rcSt == 200 && rcJ.get("SettingsChanged").asLong() == 1L, rcJ.toString)
    val (riSt, riJ) = http("POST", s"/containers/$cid/reindex")
    assert(riSt == 200 && riJ.get("reindexed").asInt() == 1)
    val (rc2St, rc2J) = http("POST", s"/containers/$cid/reindex_check")
    assert(rc2St == 200 && rc2J.get("Unchanged").asLong() == 1L, rc2J.toString)

    // validation errors surface as 400 with a message
    val (badSt, badJ) = http("PUT", "/settings/chunking", """{"max_chunk_size": "soup"}""")
    assert(badSt == 400 && badJ.get("error").asText().contains("integer"))
    val (catBadSt, _) = http("PUT", "/settings/quantum", """{"a": "b"}""")
    assert(catBadSt == 400)
    val (notObjSt, _) = http("PUT", "/settings/chunking", """[1,2]""")
    assert(notObjSt == 400)
  }

  test("whole-record container overrides PUT replaces; absent categories clear") {
    val (cSt, cJ) = http("POST", "/containers", """{"name": "whole-record"}""")
    assert(cSt == 201)
    val cid = cJ.get("container_id").asText()
    // seed two categories via the per-category route
    assert(http("PUT", s"/containers/$cid/settings/chunking",
      """{"max_chunk_size": 30}""")._1 == 200)
    assert(http("PUT", s"/containers/$cid/settings/search",
      """{"top_k": 7}""")._1 == 200)
    // whole-record PUT (ref SaveContainerSettings: wholesale replace) —
    // chunking survives with new values, search is CLEARED by absence
    val (wSt, wJ) = http("PUT", s"/containers/$cid/settings",
      """{"chunking": {"max_chunk_size": 22, "overlap": 3}}""")
    assert(wSt == 200 &&
      wJ.get("chunking").get("max_chunk_size").asText() == "22", wJ.toString)
    val (gSt, gJ) = http("GET", s"/containers/$cid/settings")
    assert(gSt == 200 && gJ.size() == 1 && gJ.has("chunking") &&
      gJ.get("chunking").get("overlap").asText() == "3", gJ.toString)
    // all-or-nothing: one bad category leaves the record untouched
    val (bSt, _) = http("PUT", s"/containers/$cid/settings",
      """{"chunking": {"max_chunk_size": 50}, "search": {"top_k": "soup"}}""")
    assert(bSt == 400)
    assert(http("GET", s"/containers/$cid/settings")
      ._2.get("chunking").get("max_chunk_size").asText() == "22")
    // serving is global-scope only; unknown category refused; non-object 400s
    assert(http("PUT", s"/containers/$cid/settings",
      """{"serving": {"keyword_driver_cache_max_rows": "10"}}""")._1 == 400)
    assert(http("PUT", s"/containers/$cid/settings",
      """{"quantum": {"a": "b"}}""")._1 == 400)
    assert(http("PUT", s"/containers/$cid/settings",
      """{"chunking": 5}""")._1 == 400)
    assert(http("PUT", "/containers/nope/settings", """{}""")._1 == 404)
    // an empty record clears every override
    assert(http("PUT", s"/containers/$cid/settings", """{}""")._1 == 200)
    assert(http("GET", s"/containers/$cid/settings")._2.size() == 0)
  }

  test("test_connection probes candidate settings through the injected transport") {
    // canned transport speaking each provider's probe shape (ref
    // ConnectionTesters: Ollama /api/tags, OpenAI /v1/models, TEI /info)
    val transport = new graft.embed.HttpTransport {
      override def post(url: String, body: String): String = "{}"
      override def get(url: String, headers: Map[String, String]): String = {
        if (url.contains("refused")) throw new java.io.IOException("Connection refused")
        else if (url.endsWith("/api/tags"))
          """{"models": [{"name": "nomic-embed-text"}, {"name": "llama3.2"}]}"""
        else if (url.endsWith("/v1/models")) {
          assert(headers.get("Authorization").contains("Bearer sk-test"))
          """{"data": [{"id": "text-embedding-3-small"}]}"""
        } else if (url.endsWith("/info")) """{"model_id": "BAAI/bge-reranker-large"}"""
        else "{}"
      }
    }
    val srv = new RestServer(store, testTransport = transport)
    val tBase = s"http://127.0.0.1:${srv.start()}"
    def probe(body: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$tBase/settings/test_connection"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), mapper.readTree(resp.body()))
    }
    try {
      val (s1, j1) = probe(
        """{"category": "embedding", "settings": {"provider": "ollama", "base_url": "http://localhost:11434"}}""")
      assert(s1 == 200 && j1.get("success").asBoolean() &&
        j1.get("message").asText().contains("2 models"), j1.toString)
      val (s2, j2) = probe(
        """{"category": "llm", "settings": {"provider": "openai", "base_url": "http://api", "api_key": "sk-test"}}""")
      assert(s2 == 200 && j2.get("success").asBoolean(), j2.toString)
      val (s3, j3) = probe(
        """{"category": "crossencoder", "settings": {"base_url": "http://tei"}}""")
      assert(s3 == 200 && j3.get("message").asText().contains("bge-reranker"), j3.toString)
      // faults map to success=false, never a 500 (the reference contract)
      val (s4, j4) = probe(
        """{"category": "embedding", "settings": {"provider": "ollama", "base_url": "http://refused"}}""")
      assert(s4 == 200 && !j4.get("success").asBoolean() &&
        j4.get("message").asText().contains("Connection failed"), j4.toString)
      val (s5, j5) = probe("""{"category": "embedding", "settings": {"provider": "ollama"}}""")
      assert(s5 == 200 && !j5.get("success").asBoolean() &&
        j5.get("message").asText().contains("base_url"), j5.toString)
      val (s6, j6) = probe("""{"category": "quantum", "settings": {"base_url": "x"}}""")
      assert(s6 == 200 && !j6.get("success").asBoolean(), j6.toString)
    } finally srv.stop()
  }

  test("container test_connection probes S3/Azure connector configs before create") {
    // canned object-store exchange: the S3 probe must be the BOUNDED
    // ListObjectsV2 (max-keys=1) single round trip, signed; the Azure
    // probe the container HEAD (ref ContainersEndpoints.cs:280 +
    // S3/AzureBlob/MinioConnectionTester)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val exchange = new graft.sources.HttpExchange {
      override def send(method: String, url: String,
          headers: Map[String, String], body: Array[Byte])
          : graft.sources.StoreResponse = {
        seen += s"$method $url"
        if (url.contains("down")) throw new java.io.IOException("no route")
        val ok = url.contains("good")
        graft.sources.StoreResponse(if (ok) 200 else 403, Map.empty,
          Array.empty)
      }
    }
    val srv = new RestServer(store, connectorExchange = exchange)
    val tBase = s"http://127.0.0.1:${srv.start()}"
    def probe(body: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$tBase/containers/test_connection"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), mapper.readTree(resp.body()))
    }
    try {
      val (s1, j1) = probe(
        """{"connector_type": "S3", "connector_config": {"endpoint": "http://good-minio:9000", "bucket": "corpus", "access_key": "ak", "secret_key": "sk"}}""")
      assert(s1 == 200 && j1.get("success").asBoolean() &&
        j1.get("message").asText().contains("corpus"), j1.toString)
      assert(seen.last.startsWith("GET") && seen.last.contains("max-keys=1"),
        s"the S3 probe must be one bounded ListObjectsV2 page: $seen")
      // bad credentials (403) and a dead endpoint both answer
      // success=false, never a 500
      val (s2, j2) = probe(
        """{"connector_type": "S3", "connector_config": {"endpoint": "http://denied:9000", "bucket": "corpus", "access_key": "ak", "secret_key": "sk"}}""")
      assert(s2 == 200 && !j2.get("success").asBoolean(), j2.toString)
      val (s3, j3) = probe(
        """{"connector_type": "AzureBlob", "connector_config": {"endpoint": "http://down.blob", "account": "acct", "account_key": "a2V5", "container": "docs"}}""")
      assert(s3 == 200 && !j3.get("success").asBoolean(), j3.toString)
      val (s4, j4) = probe(
        """{"connector_type": "AzureBlob", "connector_config": {"endpoint": "http://good.blob", "account": "acct", "account_key": "a2V5", "container": "docs"}}""")
      assert(s4 == 200 && j4.get("success").asBoolean(), j4.toString)
      assert(seen.last.startsWith("HEAD") && seen.last.contains("restype=container"),
        s"the Azure probe must HEAD the container resource: $seen")
      // missing keys and unsupported types answer structured failures
      val (s5, j5) = probe(
        """{"connector_type": "S3", "connector_config": {"endpoint": "http://x"}}""")
      assert(s5 == 200 && !j5.get("success").asBoolean() &&
        j5.get("message").asText().contains("Missing required config"), j5.toString)
      val (s6, j6) = probe(
        """{"connector_type": "Filesystem", "connector_config": {"path": "/tmp"}}""")
      assert(s6 == 200 && !j6.get("success").asBoolean() &&
        j6.get("message").asText().contains("does not support"), j6.toString)
      // the reference 400s a missing config outright
      assert(probe("""{"connector_type": "S3"}""")._1 == 400)
    } finally srv.stop()
  }

  test("async reindex: 202 + batch id, polled to done through the progress ring") {
    val plog = new graft.ingest.ProgressLog()
    val wh2 = java.nio.file.Files.createTempDirectory("graft-settings-async").toString
    val store2 = new KnowledgeStore(spark, wh2,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5),
      progress = plog)
    val srv = new RestServer(store2, progressLog = Some(plog))
    val aBase = s"http://127.0.0.1:${srv.start()}"
    def http2(method: String, path: String, body: String = "")
        : (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(aBase + path))
        .header("Content-Type", "application/json")
      val req = (if (method == "GET") b.GET()
        else b.method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body)))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), if (resp.body().isEmpty) mapper.createObjectNode()
        else mapper.readTree(resp.body()))
    }
    try {
      val (cSt, cJ) = http2("POST", "/containers", """{"name": "async-ri"}""")
      assert(cSt == 201)
      val cid = cJ.get("container_id").asText()
      http2("POST", s"/containers/$cid/files",
        s"""{"path": "/a.txt", "content": "${"async reindex text. " * 15}"}""")
      val (pSt, _) = http2("PUT", "/settings/chunking",
        """{"max_chunk_size": 16, "overlap": 2, "min_chunk_size": 2}""")
      assert(pSt == 200)
      val (aSt, aJ) = http2("POST", s"/containers/$cid/reindex", """{"async": true}""")
      assert(aSt == 202, aJ.toString)
      val bid = aJ.get("batch_id").asText()
      assert(bid.nonEmpty)
      var done = false
      val deadline = System.currentTimeMillis() + 60000
      while (!done && System.currentTimeMillis() < deadline) {
        val (bSt, bJ) = http2("GET", s"/batches/$bid")
        if (bSt == 200 && bJ.get("done").asBoolean()) {
          assert(bJ.get("phase").asText() == "ready", bJ.toString)
          assert(bJ.get("current").asLong() == 1L, bJ.toString)
          done = true
        } else Thread.sleep(200)
      }
      assert(done, "async reindex must reach a terminal batch state")
      val (rcSt, rcJ) = http2("POST", s"/containers/$cid/reindex_check")
      assert(rcSt == 200 && rcJ.get("Unchanged").asLong() == 1L, rcJ.toString)
      http2("DELETE", "/settings/chunking")
    } finally srv.stop()
  }

  test("global settings reindex: background sweep + status, cross-model auto-on") {
    val wh3 = java.nio.file.Files.createTempDirectory("graft-settings-global").toString
    val store3 = new KnowledgeStore(spark, wh3,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5))
    val srv = new RestServer(store3)
    val gBase = s"http://127.0.0.1:${srv.start()}"
    def http3(method: String, path: String, body: String = "")
        : (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(gBase + path))
        .header("Content-Type", "application/json")
      val req = (if (method == "GET") b.GET()
        else b.method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body)))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), if (resp.body().isEmpty) mapper.createObjectNode()
        else mapper.readTree(resp.body()))
    }
    try {
      // before any trigger: idle, never-started
      val (i0St, i0J) = http3("GET", "/settings/reindex/status")
      assert(i0St == 200 && i0J.get("status").asText() == "idle" &&
        !i0J.get("is_active").asBoolean(), i0J.toString)
      // two containers, one stale doc each, after a global chunking change
      val cids = Seq("global-ri-a", "global-ri-b").map { n =>
        val (st, j) = http3("POST", "/containers", s"""{"name": "$n"}""")
        assert(st == 201); j.get("container_id").asText()
      }
      cids.foreach(cid => assert(http3("POST", s"/containers/$cid/files",
        s"""{"path": "/a.txt", "content": "${"global sweep text. " * 15}"}""")._1 == 201))
      assert(http3("PUT", "/settings/chunking",
        """{"max_chunk_size": 16, "overlap": 2, "min_chunk_size": 2}""")._1 == 200)
      // the trigger answers immediately (ref: "started in background")
      val (tSt, tJ) = http3("POST", "/settings/reindex")
      assert(tSt == 200 && tJ.get("success").asBoolean() &&
        tJ.get("message").asText().contains("background"), tJ.toString)
      var st = "running"
      val deadline = System.currentTimeMillis() + 120000
      while (st == "running" && System.currentTimeMillis() < deadline) {
        val (sSt, sJ) = http3("GET", "/settings/reindex/status")
        assert(sSt == 200)
        st = sJ.get("status").asText()
        if (st == "running") Thread.sleep(200)
        else {
          assert(!sJ.get("is_active").asBoolean())
          assert(sJ.get("queue_depth").asInt() == 0)
          assert(sJ.get("started_ms").asLong() > 0L)
          assert(sJ.get("completed_ms").asLong() >= sJ.get("started_ms").asLong())
        }
      }
      assert(st == "completed", s"sweep must complete, got $st")
      // every container re-stamped under the new settings...
      cids.foreach { cid =>
        val (rcSt, rcJ) = http3("POST", s"/containers/$cid/reindex_check")
        assert(rcSt == 200 && rcJ.get("Unchanged").asLong() == 1L, rcJ.toString)
      }
      // ...and cross-model search was auto-enabled (ref SettingsEndpoints
      // .cs:282-289), persisted in the stored global row
      val (eSt, eJ) = http3("GET", "/settings/search")
      assert(eSt == 200 && eJ.get("cross_model_search").asText() == "true")
      // a container-scoped trigger only drains that container
      assert(http3("PUT", "/settings/chunking",
        """{"max_chunk_size": 24, "overlap": 2, "min_chunk_size": 2}""")._1 == 200)
      val (t2St, _) = http3("POST", "/settings/reindex",
        s"""{"container_id": "${cids.head}"}""")
      assert(t2St == 200)
      val deadline2 = System.currentTimeMillis() + 120000
      var st2 = "running"
      while (st2 == "running" && System.currentTimeMillis() < deadline2) {
        st2 = http3("GET", "/settings/reindex/status")._2.get("status").asText()
        if (st2 == "running") Thread.sleep(200)
      }
      assert(st2 == "completed")
      assert(http3("POST", s"/containers/${cids.head}/reindex_check")
        ._2.get("Unchanged").asLong() == 1L)
      assert(http3("POST", s"/containers/${cids(1)}/reindex_check")
        ._2.get("SettingsChanged").asLong() == 1L)
      // unknown container fails fast on the request thread: 400
      assert(http3("POST", "/settings/reindex",
        """{"container_id": "nope"}""")._1 == 400)
    } finally srv.stop()
  }

  test("search falls back to effective search settings for absent fields") {
    val cid = store.listContainers().head._1
    (1 to 6).foreach(i => store.uploadFile(cid, s"/s/doc$i.txt",
      s"fusion ranking notes $i: vector and keyword scores blend by alpha weight."))
    val (pSt, _) = http("PUT", "/settings/search", """{"top_k": 2}""")
    assert(pSt == 200)
    val (sSt, sJ) = http("POST", "/search",
      s"""{"query": "fusion ranking", "container_id": "$cid"}""")
    assert(sSt == 200 && sJ.get("hits").size() == 2, sJ.toString)
    // explicit body field still wins
    val (s2St, s2J) = http("POST", "/search",
      s"""{"query": "fusion ranking", "container_id": "$cid", "top_k": 4}""")
    assert(s2St == 200 && s2J.get("hits").size() == 4, s2J.toString)
    http("DELETE", "/settings/search")
    server // keep referenced
  }
}
