package graft.search

import graft.TestSpark
import graft.embed.HashEmbedder
import graft.ingest.IndexBuild
import graft.model.{ChunkingConfig, SearchRequest}
import org.scalatest.funsuite.AnyFunSuite

class WebsearchParserSpec extends AnyFunSuite {
  import WebsearchParser._

  test("bare words AND together") {
    val q = parse("spark shuffle")
    assert(q.groups.length == 2)
    assert(q.groups.forall(_.length == 1))
    assert(q.negated.isEmpty)
  }
  test("quoted phrase is one atom") {
    val q = parse("\"chunk overlap\" config")
    assert(q.groups.length == 2)
    assert(q.groups(0).head.isPhrase)
    assert(q.groups(0).head.simple == Vector("chunk", "overlap"))
  }
  test("OR groups alternatives") {
    val q = parse("spark OR flink engine")
    assert(q.groups.length == 2)
    assert(q.groups(0).map(_.simple.head) == Vector("spark", "flink"))
    assert(q.groups(1).head.simple.head == "engine")
  }
  test("negation is captured separately") {
    val q = parse("spark -python")
    assert(q.groups.length == 1)
    assert(q.negated.map(_.simple.head) == Vector("python"))
  }
  test("stemmed forms carried per atom") {
    val q = parse("running")
    assert(q.groups.head.head.english == Vector("run"))
  }
  test("leading OR is dropped: 'OR foo bar' ANDs like websearch_to_tsquery") {
    val q = parse("OR foo bar")
    assert(q.groups.length == 2)
    assert(q.groups.forall(_.length == 1))
  }
  test("negation absorbs a pending OR") {
    val q = parse("foo OR -bar baz")
    // OR lands on the negation, so baz starts a fresh AND group
    assert(q.groups.length == 2)
    assert(q.groups.forall(_.length == 1))
    assert(q.negated.map(_.simple.head) == Vector("bar"))
  }
}

class CoverDensityRankSpec extends AnyFunSuite {
  import CoverDensityRank._

  test("no positions -> zero") {
    assert(rawRank(Vector.empty) == 0.0)
    assert(rawRank(Vector(Vector(1), Vector.empty)) == 0.0)
  }
  test("tighter covers rank higher") {
    val tight = rank32(Vector(Vector(0), Vector(1)))   // adjacent terms
    val loose = rank32(Vector(Vector(0), Vector(50)))  // far apart
    assert(tight > loose)
  }
  test("more occurrences rank higher") {
    val once = rank32(Vector(Vector(0), Vector(1)))
    val twice = rank32(Vector(Vector(0, 10), Vector(1, 11)))
    assert(twice > once)
  }
  test("single-term frequency ranks") {
    assert(rank32(Vector(Vector(1, 5, 9))) > rank32(Vector(Vector(1))))
  }
  test("rank32 stays in [0,1)") {
    val r = rank32(Vector(Vector(0, 2, 4), Vector(1, 3, 5)))
    assert(r >= 0.0 && r < 1.0)
  }
}

class FusionSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("min-max: zero-range and singleton legs normalize to 1.0") {
    val one = Seq(("a", 0.7)).toDF("chunk_id", "raw")
    assert(Fusion.normalizeMinMax(one, "raw", "n").select("n").as[Double].collect().toSeq == Seq(1.0))
    val flat = Seq(("a", 0.5), ("b", 0.5)).toDF("chunk_id", "raw")
    assert(Fusion.normalizeMinMax(flat, "raw", "n").select("n").as[Double].collect().toSet == Set(1.0))
  }
  test("min-max maps extremes to 0 and 1") {
    val df = Seq(("a", 2.0), ("b", 4.0), ("c", 6.0)).toDF("chunk_id", "raw")
    val got = Fusion.normalizeMinMax(df, "raw", "n")
      .orderBy("chunk_id").select("n").as[Double].collect().toSeq
    assert(got == Seq(0.0, 0.5, 1.0))
  }
  test("dbsf: degenerate sigma -> 1.0, else clamped to [0,1]") {
    val flat = Seq(("a", 3.0), ("b", 3.0)).toDF("chunk_id", "raw")
    assert(Fusion.normalizeDbsf(flat, "raw", "n").select("n").as[Double].collect().toSet == Set(1.0))
    val df = Seq(("a", 0.0), ("b", 5.0), ("c", 100.0)).toDF("chunk_id", "raw")
    val got = Fusion.normalizeDbsf(df, "raw", "n").select("n").as[Double].collect()
    got.foreach(x => assert(x >= 0.0 && x <= 1.0))
  }
  test("autocut: <=3 hits never cut") {
    assert(Fusion.autocutIndex(Seq(1.0, 0.1, 0.05)) == 3)
  }
  test("autocut: dominant gap cuts") {
    // gap after 2nd: 0.8-0.75=0.05... make dominant: [1.0, 0.98, 0.3, 0.29, 0.28]
    assert(Fusion.autocutIndex(Seq(1.0, 0.98, 0.3, 0.29, 0.28)) == 2)
  }
  test("autocut: evenly spaced scores do not cut") {
    assert(Fusion.autocutIndex(Seq(1.0, 0.8, 0.6, 0.4, 0.2)) == 5)
  }
  test("fusion dedups on chunk_id with source=both ranking from both legs") {
    val v = Seq(("c1", "d1", "x", Map.empty[String, String], 1.0),
      ("c2", "d1", "y", Map.empty[String, String], 0.5))
      .toDF("chunk_id", "document_id", "content", "metadata", "nv")
    val k = Seq(("c1", "d1", "x", Map.empty[String, String], 0.8),
      ("c3", "d2", "z", Map.empty[String, String], 1.0))
      .toDF("chunk_id", "document_id", "content", "metadata", "nk")
    val fused = Fusion.fuse(v, k, alpha = 0.5)
      .orderBy(org.apache.spark.sql.functions.desc("score"))
      .select("chunk_id", "score", "source").as[(String, Double, String)].collect()
    assert(fused.length == 3)
    assert(fused.head._1 == "c1" && fused.head._3 == "both")
    assert(math.abs(fused.head._2 - 0.9) < 1e-9)
    assert(fused.map(_._1).toSet == Set("c1", "c2", "c3"))
  }
  test("alpha extremes weight a single leg") {
    val v = Seq(("c1", "d", "x", Map.empty[String, String], 1.0))
      .toDF("chunk_id", "document_id", "content", "metadata", "nv")
    val k = Seq(("c2", "d", "y", Map.empty[String, String], 1.0))
      .toDF("chunk_id", "document_id", "content", "metadata", "nk")
    val a1 = Fusion.fuse(v, k, 1.0).select("chunk_id", "score").as[(String, Double)].collect().toMap
    assert(a1("c1") == 1.0 && a1("c2") == 0.0)
    val a0 = Fusion.fuse(v, k, 0.0).select("chunk_id", "score").as[(String, Double)].collect().toMap
    assert(a0("c1") == 0.0 && a0("c2") == 1.0)
  }
}

/** The SURVEY §7.2 minimum end-to-end slice: ingest fixture docs, search all
  * three modes, assert scoping and hit semantics — one suite, no services.
  */
class HybridSearchE2ESpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toString
  private val embedder = HashEmbedder(32)

  private lazy val index: HybridSearch.Index = {
    val docs = Seq(
      IndexBuild.RawDoc("doc-overlap", "c1", "/docs/guide/chunking.txt", "chunking.txt",
        "Chunk overlap controls how many tokens adjacent chunks share. " +
          "Set the chunk overlap in the chunking settings. " +
          "Overlap must stay below the maximum chunk size."),
      IndexBuild.RawDoc("doc-embed", "c1", "/docs/guide/embedding.txt", "embedding.txt",
        "Embedding models map text to vectors. " +
          "The embedding dimension depends on the model. " +
          "Vectors are stored per model id."),
      IndexBuild.RawDoc("doc-search", "c1", "/docs/api/search.txt", "search.txt",
        "Search runs a vector leg and a keyword leg. " +
          "Hybrid search fuses both legs with a convex combination. " +
          "Results are running through normalization first."),
      IndexBuild.RawDoc("doc-other", "c2", "/other/readme.txt", "readme.txt",
        "Chunk overlap appears here too but in another container entirely."))
    graft.TestWarehouse.build(warehouse, docs,
      cfg = ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5),
      embedder = embedder)
    graft.TestWarehouse.index(warehouse)
  }

  test("servingIndex returns identical hits across the request shapes") {
    val serving = HybridSearch.servingIndex(index.chunks, index.vectors)
    assert(serving.serving.nonEmpty, "servingIndex must build the serving cache")
    // the planning-free RDD legs must return EXACTLY the DataFrame legs'
    // hits — same ids, same scores (the cosine loop and rankChunk are
    // shared/bit-identical), same tie-breaks — across modes, scoping,
    // phrases, negation, and both fusion methods
    val requests = Seq(
      SearchRequest("chunk overlap settings", "c1", topK = 5),
      SearchRequest("chunk overlap settings", "c1", topK = 5, fusionMethod = "dbsf"),
      SearchRequest("chunk overlap settings", "c1", topK = 5, fusionMethod = "rrf"),
      SearchRequest("embedding dimension model", "c1", mode = "semantic", topK = 3),
      SearchRequest("run", "c1", mode = "keyword", topK = 10),
      SearchRequest("\"chunk overlap\"", "c1", mode = "keyword", topK = 10),
      SearchRequest("chunk -overlap", "c1", mode = "keyword", topK = 10),
      SearchRequest("search legs", "c1", topK = 10, pathPrefix = Some("/docs/api/")),
      SearchRequest("chunk overlap", "c2", topK = 10),
      SearchRequest("overlap", "c1", topK = 10, documentId = Some("doc-overlap")),
      SearchRequest("chunk overlap", "c1", topK = 4, autoCut = true))
    requests.foreach { req =>
      val viaServing = HybridSearch.search(serving, req, embedder)
      val viaNormalized = HybridSearch.search(index, req, embedder)
      assert(viaServing.map(h => (h.chunk_id, h.score, h.metadata.get("source"))) ==
        viaNormalized.map(h => (h.chunk_id, h.score, h.metadata.get("source"))),
        s"serving path diverged for $req")
    }
    serving.chunks.unpersist(); serving.vectors.unpersist()
    serving.serving.foreach(_.unpersist())
  }

  test("keyword driver fast path: zero jobs, identical hits, defaults off above its cap") {
    // default cap: tiny corpus -> driver copy present; cap 0 / cap below
    // the corpus -> absent (the default-off-above-scale contract)
    val fast = HybridSearch.servingIndex(index.chunks, index.vectors)
    val rdd = HybridSearch.servingIndex(index.chunks, index.vectors,
      keywordDriverCacheMaxRows = 0)
    val tooSmall = HybridSearch.servingIndex(index.chunks, index.vectors,
      keywordDriverCacheMaxRows = 1)
    assert(fast.serving.get.driverCopy.nonEmpty, "under the cap -> driver copy")
    assert(fast.serving.get.driverCopy.exists(_.withVectors),
      "brute layout under the cap -> vector driver copy too")
    assert(rdd.serving.get.driverCopy.isEmpty, "cap 0 disables the fast path")
    assert(!rdd.serving.get.driverCopy.exists(_.withVectors), "cap 0 disables the vector copy")
    assert(tooSmall.serving.get.driverCopy.isEmpty, "corpus over the cap -> RDD leg")

    // identical hits across modes/operators, fast path vs RDD leg
    val requests = Seq(
      SearchRequest("run", "c1", mode = "keyword", topK = 10),
      SearchRequest("\"chunk overlap\"", "c1", mode = "keyword", topK = 10),
      SearchRequest("chunk -overlap", "c1", mode = "keyword", topK = 10),
      SearchRequest("search legs", "c1", topK = 10, pathPrefix = Some("/docs/api/")),
      SearchRequest("overlap", "c1", mode = "keyword", topK = 10,
        documentId = Some("doc-overlap")),
      SearchRequest("chunk overlap settings", "c1", topK = 5))
    requests.foreach { req =>
      val a = HybridSearch.search(fast, req, embedder)
      val b = HybridSearch.search(rdd, req, embedder)
      assert(a.map(h => (h.chunk_id, h.score, h.metadata.get("source"))) ==
        b.map(h => (h.chunk_id, h.score, h.metadata.get("source"))),
        s"fast path diverged from RDD leg for $req")
    }

    // ZERO Spark jobs through the driver copies — keyword-only AND a
    // full hybrid request (both legs fast-pathed; the embedder is
    // driver-side)
    val tracker = spark.sparkContext.statusTracker
    val kreq = SearchRequest("chunk overlap", "c1", mode = "keyword", topK = 10)
    val hreq = SearchRequest("chunk overlap", "c1", topK = 10)
    HybridSearch.search(fast, kreq, embedder) // warm (nothing lazy left)
    HybridSearch.search(fast, hreq, embedder)
    Thread.sleep(300)
    val before = tracker.getJobIdsForGroup(null).length
    (1 to 3).foreach { _ =>
      HybridSearch.search(fast, kreq, embedder)
      HybridSearch.search(fast, hreq, embedder)
    }
    Thread.sleep(500) // job-start events are async; give the bus time
    val after = tracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"fast-path queries must schedule no Spark jobs (before=$before after=$after)")

    Seq(fast, rdd, tooSmall).foreach { s =>
      s.chunks.unpersist(); s.vectors.unpersist()
      s.serving.foreach(_.unpersist())
    }
  }

  private def ids(hits: Seq[graft.model.SearchHit]) =
    hits.map(h => (h.chunk_id, h.score, h.metadata.get("source")))

  test("serving rows: a chunk with vectors under two models serves each model apart") {
    import org.apache.spark.sql.functions.{col, lit, reverse}
    // every chunk gets a second vector entry under another model
    val twoModels = index.vectors.unionByName(index.vectors
      .withColumn("model_id", lit("other-model"))
      .withColumn("embedding", reverse(col("embedding"))))
    val dataFrameLegs = index.copy(vectors = twoModels)
    val oneModel = HybridSearch.servingIndex(index.chunks, index.vectors)
    val fast = HybridSearch.servingIndex(index.chunks, twoModels)
    val rdd = HybridSearch.servingIndex(index.chunks, twoModels,
      keywordDriverCacheMaxRows = 0)
    assert(fast.serving.get.driverCopy.exists(_.withVectors))
    val semantic = SearchRequest("chunk overlap settings", "c1", mode = "semantic", topK = 10)
    val other = semantic.copy(modelId = Some("other-model"))
    val keyword = SearchRequest("chunk overlap", "c1", mode = "keyword", topK = 10)
    Seq(fast, rdd).foreach { s =>
      // the vector leg scores only the requested model's entries
      val a = HybridSearch.search(s, semantic, embedder)
      assert(a.nonEmpty && a.map(_.chunk_id).distinct.length == a.length)
      assert(ids(a) == ids(HybridSearch.search(oneModel, semantic, embedder)))
      assert(ids(a) == ids(HybridSearch.search(dataFrameLegs, semantic, embedder)))
      val b = HybridSearch.search(s, other, embedder)
      assert(ids(b) == ids(HybridSearch.search(dataFrameLegs, other, embedder)))
      assert(b.map(_.score) != a.map(_.score), "the other model's vectors must score")
      // the keyword leg returns each chunk once, whatever its vector count
      val k = HybridSearch.search(s, keyword, embedder)
      assert(k.nonEmpty && k.map(_.chunk_id).distinct.length == k.length)
      assert(ids(k) == ids(HybridSearch.search(oneModel, keyword, embedder)))
    }
    Seq(oneModel, fast, rdd).foreach(_.serving.foreach(_.unpersist()))
  }

  test("mixed caps: content under the byte cap, embeddings over it") {
    import org.apache.spark.sql.functions.{col, length, size, sum}
    val chars = index.chunks.agg(sum(length(col("content")))).head.getLong(0)
    val embBytes = 4L * index.vectors.agg(sum(size(col("embedding")))).head.getLong(0)
    assert(chars < embBytes, s"fixture: content $chars chars, embeddings $embBytes bytes")
    val mixed = HybridSearch.servingIndex(index.chunks, index.vectors,
      driverCacheMaxBytes = chars)
    val copy = mixed.serving.get.driverCopy
    assert(copy.nonEmpty && !copy.get.withVectors, "driver copy without its vectors")
    assert(copy.get.rows.forall(_.vectors.isEmpty))
    val requests = Seq(
      SearchRequest("run", "c1", mode = "keyword", topK = 10),
      SearchRequest("chunk overlap", "c1", mode = "keyword", topK = 10,
        pathPrefix = Some("/docs/guide/")),
      SearchRequest("embedding dimension model", "c1", mode = "semantic", topK = 3),
      SearchRequest("chunk overlap settings", "c1", topK = 5))
    requests.foreach { req =>
      assert(ids(HybridSearch.search(mixed, req, embedder)) ==
        ids(HybridSearch.search(index, req, embedder)), s"mixed caps diverged for $req")
    }
    // keyword requests stay on the driver copy; the vector leg takes the RDD
    val tracker = spark.sparkContext.statusTracker
    def jobs(req: SearchRequest): Int = {
      Thread.sleep(300)
      val before = tracker.getJobIdsForGroup(null).length
      HybridSearch.search(mixed, req, embedder)
      Thread.sleep(500) // job-start events are async; give the bus time
      tracker.getJobIdsForGroup(null).length - before
    }
    assert(jobs(requests.head) == 0, "keyword mode must schedule no Spark jobs")
    assert(jobs(requests(2)) > 0, "the vector leg runs on the RDD")
    mixed.serving.foreach(_.unpersist())
  }

  test("servingIndex persists one RDD and no DataFrame") {
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val serving = HybridSearch.servingIndex(index.chunks, index.vectors)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(added == Set(serving.serving.get.rows.id), added)
    assert(cacheManager.isEmpty, "servingIndex must not cache a DataFrame")
    assert((serving.chunks eq index.chunks) && (serving.vectors eq index.vectors))
    serving.serving.foreach(_.unpersist())
  }

  test("mmrLambda diversifies: a verbatim duplicate is demoted below a distinct hit") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh-mmr").toString
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      IndexBuild.RawDoc("d-dup1", "c1", "/m/a.txt", "a.txt", dupText),
      IndexBuild.RawDoc("d-dup2", "c1", "/m/b.txt", "b.txt", dupText),
      IndexBuild.RawDoc("d-other", "c1", "/m/c.txt", "c.txt",
        "alpha beta gamma discussed from an entirely different angle with new words"))
    graft.TestWarehouse.build(wh, docs,
      cfg = ChunkingConfig(maxChunkSize = 40, overlap = 5, minChunkSize = 5),
      embedder = embedder)
    val idx = graft.TestWarehouse.index(wh)
    val req = SearchRequest("alpha beta gamma", "c1", topK = 3)
    val plain = HybridSearch.search(idx, req, embedder)
    // the two verbatim duplicates crowd the top without diversification
    assert(plain.take(2).map(_.document_id).toSet == Set("d-dup1", "d-dup2"),
      plain.map(h => (h.document_id, h.score)).toString)
    val diverse = HybridSearch.search(idx, req.copy(mmrLambda = Some(0.5)), embedder)
    assert(diverse.head.document_id == plain.head.document_id,
      "pick 1 is still the most relevant hit")
    assert(diverse(1).document_id == "d-other",
      s"duplicate should be demoted: ${diverse.map(_.document_id)}")
    // same candidate set, no duplicates introduced — MMR is a reordering
    assert(diverse.map(_.chunk_id).toSet.subsetOf(plain.map(_.chunk_id).toSet))
    assert(diverse.map(_.chunk_id).distinct.length == diverse.length)
  }

  test("snippetTokens: each hit carries the q138 best-window snippet of its own content") {
    import org.apache.spark.sql.functions.{col, expr, size}
    val w = 5
    val req = SearchRequest("chunk overlap settings", "c1", topK = 5,
      snippetTokens = Some(w))
    val hits = HybridSearch.search(index, req, embedder)
    assert(hits.nonEmpty)
    // replay the BATCH operator's exact Catalyst HOF chain (q138:
    // hit-anchored windows, earliest-max tie-break, shared tokenization)
    // over the returned hits' contents — an independent computation the
    // API's driver-side annotation must match row for row
    val q = "('chunk', 'overlap', 'settings')"
    val expected = hits.map(h => (h.chunk_id, h.content)).toDF("chunk_id", "content")
      .withColumn("toks", expr("regexp_extract_all(lower(content), '[a-z0-9]+', 0)"))
      .withColumn("hits", expr(
        s"filter(transform(toks, (t, i) -> CASE WHEN t IN $q THEN i ELSE -1 END), x -> x >= 0)"))
      .filter(size(col("hits")) > 0)
      .withColumn("scores", expr(
        s"transform(hits, p -> size(filter(hits, h -> h >= p AND h < p + $w)))"))
      .withColumn("best", expr("hits[array_position(scores, array_max(scores)) - 1]"))
      .select(col("chunk_id"), expr(s"concat_ws(' ', slice(toks, best + 1, $w))").as("snippet"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    hits.foreach { h =>
      expected.get(h.chunk_id) match {
        case Some(s) => assert(h.metadata.get("snippet").contains(s),
          s"${h.chunk_id}: api=${h.metadata.get("snippet")} batch=$s")
        case None => assert(!h.metadata.contains("snippet"),
          s"${h.chunk_id} has no query term — must carry no snippet")
      }
    }
    assert(hits.exists(_.metadata.contains("snippet")), "vacuous fixture")
    // operator tokens and NEGATED terms never anchor a window: the OR
    // keyword and the negated term must not surface as snippet anchors
    val opReq = SearchRequest("chunk OR overlap -settings", "c1", topK = 5,
      snippetTokens = Some(3))
    HybridSearch.search(index, opReq, embedder).foreach { h =>
      h.metadata.get("snippet").foreach { s =>
        val ws = s.split(" ")
        assert(ws.head != "or" && ws.head != "settings",
          s"snippet anchored on an operator/negated token: '$s'")
      }
    }
    // ranking/scores are untouched by annotation, and None leaves hits bare
    val plain = HybridSearch.search(index, req.copy(snippetTokens = None), embedder)
    assert(plain.map(h => (h.chunk_id, h.score)) == hits.map(h => (h.chunk_id, h.score)))
    assert(plain.forall(h => !h.metadata.contains("snippet")))
    // the serving fast path annotates identically
    val serving = HybridSearch.servingIndex(index.chunks, index.vectors)
    val viaServing = HybridSearch.search(serving, req, embedder)
    assert(viaServing.map(h => (h.chunk_id, h.metadata.get("snippet"))) ==
      hits.map(h => (h.chunk_id, h.metadata.get("snippet"))))
    serving.chunks.unpersist(); serving.vectors.unpersist()
    serving.serving.foreach(_.unpersist())
  }

  test("rankFn=bm25 through the API: same match set, serving path routes to the DataFrame leg") {
    val req = SearchRequest("chunk overlap", "c1", mode = "keyword", topK = 10,
      rankFn = "bm25")
    val viaBm25 = HybridSearch.search(index, req, embedder)
    assert(viaBm25.nonEmpty)
    val viaCd = HybridSearch.search(index, req.copy(rankFn = "cover_density"), embedder)
    // rank function changes scores/order only, never membership
    assert(viaBm25.map(_.chunk_id).toSet == viaCd.map(_.chunk_id).toSet)
    // the serving cache has no corpus stats for bm25 — it must fall back
    // to the DataFrame leg and produce identical results
    val serving = HybridSearch.servingIndex(index.chunks, index.vectors)
    val viaServing = HybridSearch.search(serving, req, embedder)
    assert(viaServing.map(h => (h.chunk_id, h.score)) ==
      viaBm25.map(h => (h.chunk_id, h.score)))
    // and cover-density on the serving cache still uses the RDD fast path
    // (results equal either way — pinned by the serving-equivalence test)
    serving.chunks.unpersist(); serving.vectors.unpersist()
    serving.serving.foreach(_.unpersist())
  }

  test("hybrid search finds the overlap doc inside the container") {
    val hits = HybridSearch.search(index,
      SearchRequest("chunk overlap settings", "c1", topK = 5), embedder)
    assert(hits.nonEmpty)
    assert(hits.head.document_id == "doc-overlap")
    assert(hits.forall(h => h.score >= 0.0 && h.score <= 1.0))
    assert(hits.forall(_.metadata.contains("source")))
  }

  test("container scoping excludes other containers (P1)") {
    val hits = HybridSearch.search(index,
      SearchRequest("chunk overlap", "c1", topK = 10), embedder)
    assert(hits.nonEmpty)
    assert(!hits.exists(_.document_id == "doc-other"))
    val other = HybridSearch.search(index,
      SearchRequest("chunk overlap", "c2", topK = 10), embedder)
    assert(other.nonEmpty && other.forall(_.document_id == "doc-other"))
  }

  test("path-prefix scoping (P3)") {
    val hits = HybridSearch.search(index,
      SearchRequest("search legs", "c1", topK = 10,
        pathPrefix = Some("/docs/api/")), embedder)
    assert(hits.nonEmpty)
    assert(hits.forall(_.document_id == "doc-search"))
  }

  test("keyword mode: stemmed match finds morphological variants") {
    val hits = HybridSearch.search(index,
      SearchRequest("run", "c1", mode = "keyword", topK = 10), embedder)
    // "running" and "runs" stem to run
    assert(hits.exists(_.document_id == "doc-search"))
  }

  test("keyword mode: negation excludes") {
    val hits = HybridSearch.search(index,
      SearchRequest("chunk -overlap", "c1", mode = "keyword", topK = 10), embedder)
    assert(!hits.exists(_.document_id == "doc-overlap"))
  }

  test("keyword mode: phrase requires adjacency") {
    val phrase = HybridSearch.search(index,
      SearchRequest("\"chunk overlap\"", "c1", mode = "keyword", topK = 10), embedder)
    assert(phrase.nonEmpty && phrase.forall(_.document_id == "doc-overlap"))
    val reversed = HybridSearch.search(index,
      SearchRequest("\"overlap chunk\"", "c1", mode = "keyword", topK = 10), embedder)
    assert(reversed.isEmpty)
  }

  test("semantic mode returns cosine-ranked hits") {
    val hits = HybridSearch.search(index,
      SearchRequest("embedding dimension model", "c1", mode = "semantic", topK = 3), embedder)
    assert(hits.nonEmpty)
    assert(hits.head.document_id == "doc-embed")
  }

  test("identical content across runs embeds identically (cache determinism)") {
    val a = embedder.embed("same text")
    val b = embedder.embed("same text")
    assert(a.toSeq == b.toSeq)
  }

  test("cross-model vectors are filtered out (P4) — mixed-model table stays searchable") {
    // two models with different dimensions in ONE vector table: the model
    // filter must scope the leg to the query embedder's model, or cosine
    // would compare incompatible spaces (ref: cross-model cosine is
    // meaningless, VectorSearchService.cs:65-70)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val other = HashEmbedder(16)
    val otherVecs = index.chunks
      .select(col("chunk_id"), col("document_id"), col("container_id"), col("path"), col("content"))
      .as[(String, String, String, String, String)]
      .map { case (cid, did, cont, path, content) =>
        (cid, did, cont, path, other.embed(content), other.modelId, other.dimensions)
      }
      .toDF("chunk_id", "document_id", "container_id", "path", "embedding", "model_id", "dimensions")
    val mixed = HybridSearch.Index(
      index.chunks,
      index.vectors.select("chunk_id", "document_id", "container_id", "path",
        "embedding", "model_id", "dimensions").unionByName(otherVecs))
    // searching with the 32-dim embedder must not throw and must rank as
    // before (16-dim rows excluded by the model filter)
    val hits = HybridSearch.search(mixed,
      graft.model.SearchRequest("embedding dimension model", "c1", mode = "semantic", topK = 3),
      embedder)
    assert(hits.nonEmpty)
    assert(hits.head.document_id == "doc-embed")
    // and the other model works too, scoped to its own vectors
    val hits16 = HybridSearch.search(mixed,
      graft.model.SearchRequest("embedding dimension model", "c1", mode = "semantic", topK = 3),
      other)
    assert(hits16.nonEmpty)
  }

  test("cross-model override upgrades semantic to hybrid (ref :89-96)") {
    // keyword-only content match: semantic alone could miss it if its
    // vector lived under another model; with the override the keyword leg
    // still recalls it
    val hits = HybridSearch.search(index,
      graft.model.SearchRequest("\"convex combination\"", "c1", mode = "semantic",
        topK = 5, crossModelSearch = true), embedder)
    assert(hits.exists(_.document_id == "doc-search"))
    assert(hits.exists(_.metadata("source") != "vector")) // keyword leg ran
  }

  test("minScore filters (P5) and topK bounds (K3)") {
    val all = HybridSearch.search(index,
      SearchRequest("chunk overlap settings", "c1", topK = 2), embedder)
    assert(all.length <= 2)
    val none = HybridSearch.search(index,
      SearchRequest("chunk overlap settings", "c1", topK = 10, minScore = 2.0), embedder)
    assert(none.isEmpty)
  }
}
