package graft.perfbench

import graft.api.{KnowledgeStore, RestServer}
import graft.embed.HashEmbedder
import graft.ingest.{IndexBuild, ProgressLog}
import graft.model.{SearchHit, SearchRequest}
import graft.search.HybridSearch
import graft.store.TxLog
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One serving workload: corpus size and the serving cap
  * (`keyword_driver_cache_max_rows`) to set. */
final case class ServingSpec(docs: Int, driverCacheMaxRows: Option[Int] = None) {
  /** Sentinel queries stay below this index; the traced run's writes only
    * touch documents at or above it. */
  def firstWritable: Int = docs - docs / 10
  def corpus(gen: Gen): IndexedSeq[Doc] = gen.corpus(docs, ServingSpec.MinWords, ServingSpec.MaxWords)
  def writes(gen: Gen, n: Int): IndexedSeq[WriteOp] =
    gen.writes(n, docs, firstWritable, ServingSpec.MinWords, ServingSpec.MaxWords)
}

object ServingSpec {
  val MinWords = 20
  val MaxWords = 80
  /** Closed-loop reader clients of an untraced run. */
  val Readers = 2
  /** Sentinel queries checked after the measured phase. */
  val Sentinels = 20
  /** The serving cap search_spill sets: far below the corpus's rows, so
    * both legs leave the driver-resident copies. */
  val SpillRows = 64
}

/** A serving stack over one freshly ingested transactional warehouse:
  * KnowledgeStore (TxLog mode, with a ProgressLog) behind RestServer. */
final class Stack(spark: SparkSession, val dir: File, corpus: Seq[Doc], spec: ServingSpec) {
  val log = new ProgressLog(4096)
  val store = new KnowledgeStore(spark, dir.getPath, transactional = true, progress = log)
  val cid: String = store.createContainer("bench")
  /** The store's query embedder (its constructor default). */
  val embedder = HashEmbedder()

  locally {
    import spark.implicits._
    val rows = corpus.map(d => IndexBuild.RawDoc(docId(d.path), cid, d.path,
      d.path.substring(d.path.lastIndexOf('/') + 1), d.content))
    store.bulkUploadFirstCrawl(cid, spark.createDataset(rows))
  }

  val server = new RestServer(store, progressLog = Some(log))
  val port: Int = server.start()

  // the serving cap is a runtime setting: set it the way an operator would
  spec.driverCacheMaxRows.foreach { rows =>
    val c = new Client(port)
    try {
      val (code, body) = c.send("PUT", "/settings/serving",
        Some(s"""{"keyword_driver_cache_max_rows": "$rows"}"""))
      require(code == 200, s"PUT /settings/serving -> HTTP $code $body")
    } finally c.close()
  }

  /** The id the store assigns to a first upload at `path`. */
  def docId(path: String): String =
    java.util.UUID.nameUUIDFromBytes(s"$cid:$path".getBytes("UTF-8")).toString

  def stop(): Unit = {
    server.stop()
    Serving.release(spark)
    Proc.deleteTree(dir)
  }
}

/** Per-thread tally of a client loop. */
final class Rec {
  val lat = ArrayBuffer[Double]()
  /** Completion time (nanoTime) of each latency in `lat`. */
  val ends = ArrayBuffer[Long]()
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer[String]()
  /** Seeded sample of (request, returned (chunk_id, score) list). */
  val samples = ArrayBuffer[(Req, Seq[(String, Double)])]()

  def fail(what: String): Unit = {
    failed += 1
    if (errors.length < 5) errors += what
  }
}

object Serving {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  val VisibleWithinMs = 30000L // BASELINE: upload -> searchable < 30 s

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** (chunk_id, document_id, score) of a /search response body. */
  def hits(body: String): Seq[(String, String, Double)] =
    mapper.readTree(body).get("hits").elements().asScala.map { h =>
      (h.get("chunk_id").asText(), h.get("document_id").asText(), h.get("score").asDouble())
    }.toSeq

  /** The SearchRequest RestServer builds for `r`: absent fields fall back
    * to the container's effective search settings. */
  def request(store: KnowledgeStore, cid: String, r: Req): SearchRequest = {
    val eff = store.effectiveSettings("search", Some(cid))
    SearchRequest(query = r.query, containerId = cid, mode = r.mode, topK = r.topK,
      minScore = eff("min_score").toDouble, alpha = eff("alpha").toDouble,
      fusionMethod = eff("fusion_method"), autoCut = eff("auto_cut").toBoolean,
      crossModelSearch = eff("cross_model_search").toBoolean,
      mmrLambda = r.mmrLambda.orElse(eff.get("mmr_lambda").map(_.toDouble)),
      rankFn = eff("rank_fn"),
      snippetTokens = r.snippetTokens.orElse(eff.get("snippet_tokens").map(_.toInt)),
      maxsimTokens = eff.get("maxsim_tokens").map(_.toInt))
  }

  /** Send one search and check it: HTTP 200, and a sentinel query's own
    * document first. Returns the hit list or the failure. */
  def search(c: Client, st: Stack, corpus: IndexedSeq[Doc], r: Req)
      : Either[String, Seq[(String, String, Double)]] = {
    val (code, body) =
      try c.send("POST", "/search", Some(Client.searchBody(st.cid, r)))
      catch { case e: Exception => (-1, e.toString) }
    if (code != 200) Left(s"search '${r.query}' -> HTTP $code ${body.take(200)}")
    else {
      val hs = hits(body)
      r.sentinelOf match {
        case Some(i) if !hs.headOption.exists(_._2 == st.docId(corpus(i).path)) =>
          Left(s"sentinel ${r.query} did not return ${corpus(i).path} first")
        case _ if hs.length > r.topK => Left(s"search '${r.query}' returned > top_k")
        case _ => Right(hs)
      }
    }
  }

  /** Closed-loop reader: sends stream `stream` until `stopAtNs`. */
  def reader(st: Stack, corpus: IndexedSeq[Doc], gen: Gen, spec: ServingSpec,
      stream: Int, stopAtNs: Long, rec: Rec): Unit = {
    val reqs = gen.requests(stream, 4096)
    val pick = new java.util.SplittableRandom(gen.seed * 31L + stream)
    val c = new Client(st.port)
    try {
      var i = 0
      while (System.nanoTime() < stopAtNs) {
        val r = reqs(i % reqs.length)
        i += 1
        val t0 = System.nanoTime()
        val res = search(c, st, corpus, r)
        val dt = Proc.ms(System.nanoTime() - t0)
        rec.attempted += 1
        res match {
          case Left(e) => rec.fail(e)
          case Right(hs) =>
            rec.lat += dt
            rec.ends += System.nanoTime()
            if (pick.nextInt(25) == 0 && rec.samples.length < 20)
              rec.samples += ((r, hs.map(h => (h._1, h._3))))
        }
      }
    } finally c.close()
  }

  /** The seeded sentinel queries, each checked like any other search. */
  def sentinelPass(st: Stack, corpus: IndexedSeq[Doc], gen: Gen, spec: ServingSpec,
      report: Report): Unit = {
    val c = new Client(st.port)
    try gen.sentinelQueries(ServingSpec.Sentinels, spec.firstWritable).foreach { r =>
      search(c, st, corpus, r) match {
        case Left(e) => report.fail(e)
        case Right(_) => report.pass()
      }
    } finally c.close()
  }

  /** Search for `sentinel`; the first hit's document id, if any hit. */
  private def topDoc(c: Client, cid: String, sentinel: String): Option[String] = {
    val (code, body) = c.send("POST", "/search",
      Some(Client.searchBody(cid, Req(sentinel, "keyword", 5, None, None, None))))
    if (code != 200) throw new IllegalStateException(s"visibility search -> HTTP $code")
    hits(body).headOption.map(_._2)
  }

  /** Outcome of one write cycle. */
  final case class Cycle(totalMs: Double, callMs: Double, firstSearchMs: Double,
      batchId: Option[String], userBytes: Long)

  /** One write, then searches until it is visible: new and upserted
    * sentinels come back first, replaced and deleted ones no longer
    * return their document. */
  def writeCycle(c: Client, st: Stack, op: WriteOp): Either[String, Cycle] = {
    val t0 = System.nanoTime()
    val (code, body) = op match {
      case NewDocs(ds) => c.send("POST", s"/containers/${st.cid}/bulk_upload",
        Some(Client.uploadBody(ds)))
      case Upsert(_, fresh) => c.send("POST", s"/containers/${st.cid}/bulk_upload",
        Some(Client.uploadBody(Seq(fresh))))
      case Delete(ds) => c.send("POST", s"/containers/${st.cid}/bulk_delete",
        Some(Client.deleteBody(ds)))
    }
    val callMs = Proc.ms(System.nanoTime() - t0)
    val okCode = op match { case _: Delete => 204; case _ => 201 }
    if (code != okCode) return Left(s"write ${op.getClass.getSimpleName} -> HTTP $code ${body.take(200)}")
    val batchId = if (code == 201) Option(mapper.readTree(body).get("batch_id")).map(_.asText()) else None
    // (sentinel, document id that must come first, or None = must be gone)
    val want: Seq[(String, Option[String])] = op match {
      case NewDocs(ds) => ds.map(d => (d.sentinel, Some(st.docId(d.path))))
      case Upsert(old, fresh) =>
        Seq((fresh.sentinel, Some(st.docId(fresh.path))), (old.sentinel, None))
      case Delete(ds) => ds.map(d => (d.sentinel, None))
    }
    val userBytes = op match {
      case NewDocs(ds) => ds.map(_.content.getBytes("UTF-8").length.toLong).sum
      case Upsert(_, f) => f.content.getBytes("UTF-8").length.toLong
      case Delete(_) => 0L
    }
    val deadline = t0 + VisibleWithinMs * 1000000L
    var firstSearchMs = -1.0
    var pending = want
    while (pending.nonEmpty && System.nanoTime() < deadline) {
      val s0 = System.nanoTime()
      pending = pending.filterNot { case (s, doc) => topDoc(c, st.cid, s) == doc }
      if (firstSearchMs < 0) firstSearchMs = Proc.ms(System.nanoTime() - s0)
      if (pending.nonEmpty) Thread.sleep(5)
    }
    if (pending.nonEmpty) Left(s"write not visible within 30 s: ${pending.map(_._1).mkString(",")}")
    else Right(Cycle(Proc.ms(System.nanoTime() - t0), callMs, firstSearchMs, batchId, userBytes))
  }

  /** Post-run output checks: a seeded sample of REST answers must equal
    * HybridSearch.search over a FRESH servingIndex of the same snapshot,
    * and containerStats must count the generator's documents. */
  def verify(spark: SparkSession, st: Stack,
      samples: Seq[(Req, Seq[(String, Double)])], expectedDocs: Long, report: Report): Unit = {
    val fresh = HybridSearch.servingIndex(
      TxLog.read(spark, st.dir.getPath, "chunks"),
      TxLog.read(spark, st.dir.getPath, "vectors"), partitions = 8)
    samples.foreach { case (r, got) =>
      val want = HybridSearch.search(fresh, request(st.store, st.cid, r), st.embedder)
        .map((h: SearchHit) => (h.chunk_id, h.score))
      report.check(got.length == want.length && got.zip(want).forall {
        case ((a, s), (b, t)) => a == b && math.abs(s - t) <= 1e-9 * math.max(1.0, math.abs(t))
      }, s"REST top-k for '${r.query}' (${r.mode}) differs from a fresh index")
    }
    fresh.serving.foreach(_.unpersist())
    fresh.chunks.unpersist(); fresh.vectors.unpersist()
    val docs = st.store.containerStats(st.cid).getOrElse("documents", -1L)
    report.check(docs == expectedDocs, s"containerStats documents=$docs, generator has $expectedDocs")
  }
}
