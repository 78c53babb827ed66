package graft.search

import graft.embed.Embedder
import graft.model.{SearchHit, SearchRequest}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Score fusion (ref HybridSearchService.cs) as declarative column ops:
  * per-leg normalization (min-max :362-371, DBSF :336-360), full-outer
  * merge on chunk_id (:239-251), convex combination, auto-cut (:380-411),
  * sentence-window substitution (:13-28, 154-157).
  */
object Fusion {

  /** Min-max normalize `in` over the whole leg; singleton / zero-range legs
    * normalize to 1.0 (ref :362-371).
    *
    * Leg-wide stats come from a 1-row aggregate broadcast-cross-joined back,
    * not an unpartitioned window: a `Window.partitionBy()` moves the whole
    * leg to one partition, which is fine for a ≤100-row top-k leg but a
    * bottleneck when the same function normalizes a full score table. The
    * aggregate form keeps map-side partial aggregation and leaves the leg's
    * partitioning untouched. */
  def normalizeMinMax(df: DataFrame, in: String, out: String): DataFrame =
    df.crossJoin(broadcast(df.agg(min(in).as("_mn"), max(in).as("_mx"))))
      .withColumn(out,
        when(col("_mx") === col("_mn"), 1.0)
          .otherwise((col(in) - col("_mn")) / (col("_mx") - col("_mn"))))
      .drop("_mn", "_mx", in)

  /** DBSF: clamp((s - (mu-3sigma)) / 6sigma, 0, 1); degenerate sigma -> 1.0
    * (ref :336-360). Same broadcast-stats shape as [[normalizeMinMax]]. */
  def normalizeDbsf(df: DataFrame, in: String, out: String): DataFrame =
    df.crossJoin(broadcast(
        df.agg(avg(in).as("_mu"), stddev_pop(col(in)).as("_sd"))))
      .withColumn(out,
        when(col("_sd") < 1e-9, 1.0)
          .otherwise(least(greatest(
            (col(in) - (col("_mu") - lit(3) * col("_sd"))) / (lit(6) * col("_sd")),
            lit(0.0)), lit(1.0))))
      .drop("_mu", "_sd", in)

  /** Reciprocal-rank fusion normalization (Cormack, Clarke & Buettcher
    * 2009 — the pgvector/Elasticsearch hybrid default): score =
    * 1/(k + rank) with the standard k = 60, rank 1-based under
    * (raw DESC, chunk_id ASC) — the legs' own ordering, so the scalar
    * twin ranks by position. Rank is inherently a total order, so the
    * ranking window has no partition key — which would be a
    * single-partition sort of the WHOLE input if a caller handed it a
    * full table. The operator therefore bounds its own input: a
    * distributed top-`bound` (TakeOrderedAndProject on the same
    * (raw DESC, chunk_id) key) runs first, so the unpartitioned window
    * only ever sees ≤ `bound` rows. For any input already ≤ `bound`
    * (every fusion leg: ≤ 2·topK) this is a no-op; beyond it, dropped
    * rows would have scored ≤ 1/(60+bound) — fusion-irrelevant. */
  val RrfK = 60.0

  def normalizeRrf(df: DataFrame, in: String, out: String,
      bound: Int = 10000): DataFrame = {
    val topped = df.orderBy(desc(in), col("chunk_id")).limit(bound)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc(in), col("chunk_id"))
    topped.withColumn(out, lit(1.0) / (lit(RrfK) + row_number().over(w)))
      .drop(in)
  }

  def normalize(df: DataFrame, method: String, in: String, out: String): DataFrame =
    method.toLowerCase match {
      case "dbsf" => normalizeDbsf(df, in, out)
      case "rrf" => normalizeRrf(df, in, out)
      case _ => normalizeMinMax(df, in, out)
    }

  /** Full-outer merge of the two normalized legs keyed on chunk_id; missing
    * side scores 0; source tagged both/vector/keyword (ref :239-251).
    * Both legs carry (chunk_id, norm score, hydration cols). */
  def fuse(vectorLeg: DataFrame, keywordLeg: DataFrame, alpha: Double): DataFrame = {
    val v = vectorLeg.select(col("chunk_id"), col("document_id").as("v_doc"),
      col("content").as("v_content"), col("metadata").as("v_meta"), col("nv"))
    val k = keywordLeg.select(col("chunk_id"), col("document_id").as("k_doc"),
      col("content").as("k_content"), col("metadata").as("k_meta"), col("nk"))
    v.join(k, Seq("chunk_id"), "full_outer")
      .select(
        col("chunk_id"),
        coalesce(col("v_doc"), col("k_doc")).as("document_id"),
        coalesce(col("v_content"), col("k_content")).as("content"),
        coalesce(col("v_meta"), col("k_meta")).as("metadata"),
        (lit(alpha) * coalesce(col("nv"), lit(0.0)) +
          lit(1 - alpha) * coalesce(col("nk"), lit(0.0))).as("score"),
        when(col("nv").isNotNull && col("nk").isNotNull, "both")
          .when(col("nv").isNotNull, "vector").otherwise("keyword").as("source"))
  }

  /** Scalar min-max / DBSF normalization over a leg's raw scores — the
    * driver-side twin of the column forms above, used by the interactive
    * path where legs are collected (<=200 rows) before fusion. */
  def normalizeSeq(scores: Seq[Double], method: String): Seq[Double] =
    method.toLowerCase match {
      case "rrf" =>
        // callers pass leg-sorted scores ((raw DESC, chunk_id) — the
        // mergeTopK order), so rank is the 1-based position
        scores.indices.map(i => 1.0 / (RrfK + i + 1))
      case "dbsf" =>
        val n = scores.length
        if (n == 0) return scores
        val mu = scores.sum / n
        val sd = math.sqrt(scores.map(x => (x - mu) * (x - mu)).sum / n)
        if (sd < 1e-9) scores.map(_ => 1.0)
        else scores.map(s => math.min(math.max((s - (mu - 3 * sd)) / (6 * sd), 0.0), 1.0))
      case _ =>
        if (scores.isEmpty) return scores
        val mn = scores.min
        val mx = scores.max
        if (mx == mn) scores.map(_ => 1.0)
        else scores.map(s => (s - mn) / (mx - mn))
    }

  /** Largest-gap auto-cut index over desc-sorted scores: cut at the largest
    * consecutive gap iff it exceeds 10% of the range AND 2x the second
    * gap; lists of <=3 are never cut (ref :380-411). Returns how many hits
    * to keep.
    */
  def autocutIndex(scores: Seq[Double]): Int = {
    val n = scores.length
    if (n <= 3) return n
    val gaps = (0 until n - 1).map(i => scores(i) - scores(i + 1))
    val sorted = gaps.zipWithIndex.sortBy { case (g, i) => (-g, i) }
    val (g1, i1) = sorted.head
    val g2 = if (sorted.length > 1) sorted(1)._1 else 0.0
    val range = scores.head - scores.last
    if (g1 > 0.1 * range && g1 > 2 * g2) i1 + 1 else n
  }

  /** Sentence-window substitution: hits whose chunk carries a "window"
    * metadata entry surface the window as content (ref :13-28,154-157). */
  def substituteWindow(hit: SearchHit): SearchHit =
    hit.metadata.get("window") match {
      case Some(w) => hit.copy(content = w,
        metadata = hit.metadata + ("original_text" -> hit.content))
      case None => hit
    }
}

/** Keyword leg (ref KeywordSearchService.cs:22-121): websearch parse ->
  * dual-config match over the materialized token columns -> cover-density
  * rank -> top-k. The rank runs as a UDF over the stored positional token
  * arrays (SURVEY §4.3 physical design).
  */
object KeywordSearch {

  /** Positions of one atom in a chunk's token streams. Phrases require
    * consecutive simple-token positions; single terms match either config. */
  private def atomPositions(
      atom: WebsearchParser.Atom,
      simple: IndexedSeq[String],
      english: IndexedSeq[String]): Vector[Int] = {
    if (atom.isPhrase) {
      val ws = atom.simple
      (0 to simple.length - ws.length).collect {
        case i if ws.indices.forall(j => simple(i + j) == ws(j)) => i
      }.toVector
    } else {
      val exact = atom.simple.head
      val stemmed = atom.english.headOption.getOrElse("")
      simple.indices.collect {
        case i if simple(i) == exact ||
          (stemmed.nonEmpty && i < english.length && english(i) == stemmed) => i
      }.toVector
    }
  }

  /** Rank a chunk against a parsed query with the reference's dual-config
    * OR (`simple_q || english_q`, ref KeywordSearchService.cs:69-91): the
    * chunk matches if EITHER every AND-group matches exactly (simple) OR
    * every non-stopword group matches stemmed (english — groups whose atoms
    * are all stopwords vanish there, like to_tsquery('english')). Negated
    * atoms must not appear. Score = cover-density rank over the per-group
    * position unions. None = no match.
    */
  def rankChunk(
      q: WebsearchParser.ParsedQuery,
      simple: IndexedSeq[String],
      english: IndexedSeq[String]): Option[Double] = {
    if (q.isEmpty) return None
    if (q.negated.exists(a => atomPositions(a, simple, english).nonEmpty)) return None
    val perGroup = q.groups.map { g =>
      val pos = g.flatMap(a => atomPositions(a, simple, english)).distinct.sorted
      val vacuousInEnglish = g.forall(_.english.isEmpty)
      (pos, vacuousInEnglish)
    }
    val simpleOk = perGroup.forall(_._1.nonEmpty)
    val englishOk = perGroup.exists(!_._2) &&
      perGroup.forall { case (pos, vac) => vac || pos.nonEmpty }
    if (!simpleOk && !englishOk) None
    else {
      val positions = perGroup.collect { case (pos, _) if pos.nonEmpty => pos }
      Some(CoverDensityRank.rank32(positions))
    }
  }

  /** The query's distinct simple-config terms (phrase words included as
    * individual terms — BM25 is positionless). Shared by both keyword
    * legs so their BM25 scores are computed from the SAME term set. */
  def bm25Terms(parsed: WebsearchParser.ParsedQuery): Seq[String] =
    parsed.groups.flatten.flatMap(_.simple).distinct

  /** Replace a matched leg's rank column with BM25 scores over the scoped
    * corpus (q124's operator, search/Bm25): stats (N, avgdl, df) come
    * from the FULL scoped chunks frame — identical in every leg, so the
    * scan and postings legs produce bit-identical scores. Matched chunks
    * without any simple-term occurrence (stemmed-only matches) score 0. */
  private[search] def bm25Rank(matched: DataFrame, chunks: DataFrame,
      parsed: WebsearchParser.ParsedQuery, rankCol: String): DataFrame = {
    val terms = bm25Terms(parsed)
    if (terms.isEmpty) return matched.withColumn(rankCol, lit(0.0))
    val scores = Bm25.scores(chunks, "chunk_id", "tokens_simple", terms)
      .withColumnRenamed("score", rankCol)
    matched.drop(rankCol).join(scores, Seq("chunk_id"), "left")
      .na.fill(0.0, Seq(rankCol))
  }

  /** The leg as a DataFrame op: filter+rank via UDF, top-k. `chunks` needs
    * (chunk_id, document_id, content, metadata, tokens_simple,
    * tokens_english). `rankFn`: "cover_density" | "bm25" — matching is
    * identical, only the score changes (see SearchRequest.rankFn). */
  def leg(chunks: DataFrame, query: String, k: Int,
      rankFn: String = "cover_density"): DataFrame = {
    val parsed = WebsearchParser.parse(query)
    val rankUdf = udf { (simple: Seq[String], english: Seq[String]) =>
      rankChunk(parsed, simple.toIndexedSeq, english.toIndexedSeq)
    }
    // codegen prefilter — a CONJUNCTIVE necessary condition for any match:
    // a matching chunk satisfies every non-vacuous AND-group in at least
    // one config (simpleOk needs all groups in the simple stream; englishOk
    // needs every non-vacuous group's stems), so AND-ing the per-group
    // overlaps is safe and far tighter than the old first-group-only form
    // (a 3-term query's UDF now sees chunks containing ALL three terms,
    // not any-of-one). Vacuous (all-stopword) groups are skipped — the
    // englishOk path can match without them. arrays_overlap stays inside
    // whole-stage codegen; the UDF boundary is where scan time goes.
    val groupPre = parsed.groups
      .filter(g => g.nonEmpty && g.exists(_.english.nonEmpty))
      .map { g =>
        val simpleTerms = g.flatMap(_.simple).distinct
        val englishTerms = g.flatMap(_.english).distinct
        val hitSimple =
          arrays_overlap(col("tokens_simple"), array(simpleTerms.map(lit): _*))
        if (englishTerms.isEmpty) hitSimple
        else hitSimple ||
          arrays_overlap(col("tokens_english"), array(englishTerms.map(lit): _*))
      }
    val prefiltered =
      if (groupPre.isEmpty) chunks else chunks.filter(groupPre.reduce(_ && _))
    val matched = prefiltered
      .withColumn("raw_k", rankUdf(col("tokens_simple"), col("tokens_english")))
      .filter(col("raw_k").isNotNull)
    val ranked =
      if (rankFn == "bm25") bm25Rank(matched, chunks, parsed, "raw_k")
      else matched
    ranked
      .select(col("chunk_id"), col("document_id"), col("content"), col("metadata"), col("raw_k"))
      .orderBy(desc("raw_k"), col("chunk_id"))
      .limit(k)
  }
}

/** Vector leg (ref VectorSearchService.cs:35-97 + PgVectorStore.cs:186-266):
  * embed the query, cosine against the model-scoped vector partition,
  * top-k (TakeOrderedAndProject — no full sort).
  */
object VectorSearch {

  /** Cosine similarity column between an embedding array column and a query
    * literal, as a codegen-friendly HOF fold (SURVEY §4.2: HOF first,
    * custom Expression if the benchmark demands). */
  def cosineToQuery(embCol: Column, q: Array[Float]): Column = {
    val qlit = array(q.map(x => lit(x.toDouble)): _*)
    val zipped = zip_with(embCol, qlit, (a, b) => a.cast("double") * b)
    val dot = aggregate(zipped, lit(0.0), (acc, x) => acc + x)
    val nq = math.sqrt(q.foldLeft(0.0)((s, x) => s + x.toDouble * x))
    val selfDot = aggregate(
      transform(embCol, a => a.cast("double") * a.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    dot / (sqrt(selfDot) * lit(nq))
  }

  /** The leg: score = cosine similarity (ref similarity = 1 - distance),
    * `vectors` joined back to chunks for hydration (J1). Uses the codegen
    * CosineSimilarity expression (one fused loop per row; the HOF form in
    * [[cosineToQuery]] stays as the pure-Catalyst reference). The join runs
    * after the top-k, so AQE picks the build side from k-row runtime stats.
    */
  def leg(vectors: DataFrame, chunks: DataFrame, queryVec: Array[Float], k: Int): DataFrame =
    vectors
      .withColumn("raw_v",
        graft.functions.CosineSimilarity.toQuery(col("embedding"), queryVec))
      .select(col("chunk_id"), col("raw_v"))
      .orderBy(desc("raw_v"), col("chunk_id"))
      .limit(k)
      .join(chunks.select("chunk_id", "document_id", "content", "metadata"), Seq("chunk_id"))
}

/** One chunk of the serving cache: hydration, both token streams and the
  * chunk's `(model_id, embedding)` vector entries, each stored once. Null
  * content decodes as "" and null metadata as an empty map, as the
  * DataFrame legs' collect does. */
final case class ServingRow(
    chunkId: String, documentId: String, containerId: String, path: String,
    content: String, metadata: Map[String, String],
    tokensSimple: Array[String], tokensEnglish: Array[String],
    vectors: Array[(String, Array[Float])])

/** The search orchestrator (ref HybridSearchService.cs:68-172 lifecycle
  * §3.1): two legs -> normalize -> fuse -> minScore -> autocut ->
  * sentence-window substitution -> topK.
  */
object HybridSearch {

  /** Byte bound on the driver-resident serving copy (raw content chars;
    * its embeddings are counted apart at 4 bytes/dim) — enforced at build,
    * because the row cap alone would let 64k pathologically wide chunks
    * OOM the driver. */
  val DriverCacheMaxBytes: Long = 256L << 20

  /** The interactive serving cache: one [[ServingRow]] per chunk, planned,
    * decoded and persisted ONCE at index-build time. The DataFrame legs pay
    * 40-70 ms of Catalyst re-analysis PER QUERY (the query vector/terms are
    * literals, so plans can't be reused across queries — measured in
    * SCALE.md "Interactive serving layout"); here each query runs a
    * per-partition top-k heap whose closure carries the query (closures
    * ship with every job, so the path is cluster-correct — no driver-local
    * state leaks into tasks). This is the SURVEY §4.2 carve-out for RDDs:
    * genuinely imperative per-partition serving logic, while every
    * analytical/oracled query stays on the DataFrame API.
    */
  final case class ServingCache(
      rows: org.apache.spark.rdd.RDD[ServingRow],
      /** Driver-resident copy of `rows`, present ONLY while the corpus fits
        * the build's row cap and its content the byte cap (the autocut
        * ≤100-row pattern at cache scale): the legs then answer as driver
        * loops — zero Spark jobs, shedding the ~30 ms local-mode job floor
        * that dominated a leg's latency (BASELINE's < 20 ms row is a
        * Postgres GIN point lookup; the fair comparison is compute, not
        * scheduler overhead). Above the caps this is None and the
        * distributed RDD legs serve — the 100 TB path is unchanged. */
      driverCopy: Option[DriverCopy] = None) {
    def unpersist(): Unit = rows.unpersist(blocking = false)
  }

  /** The driver copy's rows. `withVectors` is false when the embeddings
    * (4 bytes/dim) exceed the byte cap although the content fits: the rows
    * then carry no vector entries and the vector leg runs on the RDD. */
  final case class DriverCopy(rows: IndexedSeq[ServingRow], withVectors: Boolean)

  /** Index handles: chunk + vector DataFrames (pre-filtered caches are the
    * caller's choice; filters here prune partitions by container/model).
    * `serving`, when present, routes interactive queries to the
    * planning-free RDD legs ([[ServingCache]]).
    */
  final case class Index(
      chunks: DataFrame,
      vectors: DataFrame,
      serving: Option[ServingCache] = None)

  /** Build the interactive serving index from warehouse frames: chunks
    * left-joined to their vectors grouped by chunk_id, decoded straight from
    * the plan's `InternalRow`s (no Dataset encoder) into one [[ServingRow]]
    * per chunk, coalesced to `partitions` so a query pays per-task
    * overhead, not data cost, and persisted MEMORY_AND_DISK so the serving
    * tier degrades to local disk, not to recomputing the build lineage. The
    * job that materializes the cache also sizes it; one `collect` then
    * makes the driver copy when the caps allow. `chunks`/`vectors` come
    * back as given, unpersisted: only `bm25` keyword requests read them.
    */
  def servingIndex(
      chunks: DataFrame,
      vectors: DataFrame,
      partitions: Int = 4,
      /** Row cap for the driver copy (see [[ServingCache.driverCopy]]);
        * 0 disables it. The default is tens of MB of driver heap at
        * typical chunk sizes — small enough to be free, large enough that
        * an interactive single-box corpus answers queries with no job
        * scheduling at all. */
      keywordDriverCacheMaxRows: Int = 65536,
      /** Byte bound on the driver copy's content, and apart on its
        * embeddings at 4 bytes/dim — the second guard behind the row cap;
        * see [[DriverCacheMaxBytes]]. Runtime-tunable through the settings
        * registry (`serving.driver_cache_max_bytes`). */
      driverCacheMaxBytes: Long = DriverCacheMaxBytes): Index = {
    val byChunk = vectors.groupBy("chunk_id").agg(collect_list(struct(
      col("model_id"), col("embedding").cast("array<float>"))).as("vectors"))
    val frame = chunks.join(byChunk, Seq("chunk_id"), "left")
      .select("chunk_id", "document_id", "container_id", "path", "content",
        "metadata", "tokens_simple", "tokens_english", "vectors")
    val rows = frame.queryExecution.toRdd.mapPartitions(_.map(decodeRow))
      .coalesce(partitions)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize (queries start warm) and size the driver copy in one job
    val (n, chars, dims) = rows
      .map(r => (1L, r.content.codePointCount(0, r.content.length).toLong,
        r.vectors.map(_._2.length.toLong).sum))
      .fold((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    val fits = keywordDriverCacheMaxRows > 0 && n <= keywordDriverCacheMaxRows &&
      chars <= driverCacheMaxBytes
    val withVectors = fits && dims * 4L <= driverCacheMaxBytes
    val driverCopy = Option.when(fits) {
      val local = if (withVectors) rows else rows.map(_.copy(vectors = Array.empty))
      DriverCopy(ArraySeq.unsafeWrapArray(local.collect()), withVectors)
    }
    Index(chunks, vectors, serving = Some(ServingCache(rows, driverCopy)))
  }

  /** Decode one row of [[servingIndex]]'s frame by ordinal. Every value is
    * copied out: the plan reuses its `InternalRow` objects. */
  private def decodeRow(r: InternalRow): ServingRow = {
    def str(g: SpecializedGetters, i: Int): String =
      if (g.isNullAt(i)) null else g.getUTF8String(i).toString
    def elems[T: scala.reflect.ClassTag](i: Int)(elem: (ArrayData, Int) => T): Array[T] =
      if (r.isNullAt(i)) Array.empty[T]
      else { val a = r.getArray(i); Array.tabulate(a.numElements())(elem(a, _)) }
    val metadata =
      if (r.isNullAt(5)) Map.empty[String, String]
      else {
        val m = r.getMap(5)
        (0 until m.numElements()).map(j => str(m.keyArray(), j) -> str(m.valueArray(), j)).toMap
      }
    ServingRow(str(r, 0), str(r, 1), str(r, 2), str(r, 3), Option(str(r, 4)).getOrElse(""),
      metadata, elems(6)(str), elems(7)(str), elems(8) { (a, j) =>
        val v = a.getStruct(j, 2)
        (str(v, 0), if (v.isNullAt(1)) Array.emptyFloatArray else v.getArray(1).toFloatArray())
      })
  }

  private def scope(df: DataFrame, req: SearchRequest): DataFrame = {
    var out = df.filter(col("container_id") === req.containerId) // P1
    req.documentId.foreach(id => out = out.filter(col("document_id") === id)) // P2
    req.pathPrefix.foreach(p => out = out.filter(col("path").startsWith(p))) // P3
    out
  }

  /** One leg's collected hit: raw (un-normalized) score + hydration. */
  private final case class LegHit(
      chunkId: String, docId: String, content: String,
      meta: Map[String, String], raw: Double)

  private def collectLeg(df: DataFrame, rawCol: String): Seq[LegHit] =
    df.collect().map { r =>
      val mi = r.fieldIndex("metadata")
      val meta =
        if (r.isNullAt(mi)) Map.empty[String, String]
        else r.getMap[String, String](mi).toMap
      LegHit(r.getAs[String]("chunk_id"), r.getAs[String]("document_id"),
        Option(r.getAs[String]("content")).getOrElse(""), meta,
        r.getAs[Double](rawCol))
    }.toSeq

  /** (raw DESC, chunk_id ASC) — the exact ordering of the DataFrame legs'
    * `orderBy(desc(raw), chunk_id)`, compared as `Ordering.by((-raw,
    * chunkId))` does but without a tuple per comparison. */
  private val legOrder: Ordering[LegHit] = new Ordering[LegHit] {
    def compare(a: LegHit, b: LegHit): Int = {
      val c = java.lang.Double.compare(-a.raw, -b.raw)
      if (c != 0) c else a.chunkId.compareTo(b.chunkId)
    }
  }

  /** Bounded top-k under [[legOrder]] of the hits `score` emits over
    * `rows`. The queue head is the WORST kept hit, so overflow evicts
    * correctly. */
  private def topKHeap(rows: Iterator[ServingRow], k: Int)(
      score: (ServingRow, LegHit => Unit) => Unit): Array[LegHit] = {
    val pq = scala.collection.mutable.PriorityQueue.empty[LegHit](legOrder)
    val emit = (h: LegHit) => { pq.enqueue(h); if (pq.size > k) pq.dequeue(); () }
    rows.foreach(score(_, emit))
    pq.toArray
  }

  private def mergeTopK(parts: Array[LegHit], k: Int): Seq[LegHit] =
    parts.sorted(legOrder).take(k).toSeq

  /** Sliced parallel top-k over the DRIVER copy — the zero-Spark-job
    * serving scan: the capped corpus still costs microseconds/row
    * single-threaded, which lands right back at the job floor the driver
    * copy exists to shed, so the rows are split across ≤16 driver Futures
    * and the per-slice heaps merge with the RDD legs' own [[mergeTopK]] —
    * same scorers, identical results. Small corpora stay single-sliced. */
  private def slicedTopK(rows: IndexedSeq[ServingRow], k: Int)(
      score: (ServingRow, LegHit => Unit) => Unit): Seq[LegHit] = {
    val slices = math.min(16, math.max(1, rows.length / 512))
    if (slices <= 1) mergeTopK(topKHeap(rows.iterator, k)(score), k)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val bounds = (0 to slices).map(i => (rows.length.toLong * i / slices).toInt)
      val parts = Await.result(Future.sequence(
        (0 until slices).map { i =>
          Future(topKHeap(rows.view.slice(bounds(i), bounds(i + 1)).iterator, k)(score))
        }), Duration.Inf).flatten
      mergeTopK(parts.toArray, k)
    }
  }

  /** A serving leg: the request's scope filter, then the hits `score`
    * emits per row, then top-k — over `local` (a driver copy) when given,
    * else per partition of the cached RDD. Hits equal the DataFrame legs'
    * (pinned by SearchSpec's HybridSearchE2ESpec "servingIndex returns
    * identical hits"). */
  private def servingLeg(
      cache: ServingCache, local: Option[IndexedSeq[ServingRow]], req: SearchRequest,
      k: Int)(score: (ServingRow, LegHit => Unit) => Unit): Seq[LegHit] = {
    val (container, docId, prefix) = (req.containerId, req.documentId, req.pathPrefix)
    val scoped = (r: ServingRow, emit: LegHit => Unit) => // [[scope]] over one row
      if (r.containerId == container && docId.forall(_ == r.documentId) &&
          prefix.forall(p => r.path != null && r.path.startsWith(p))) score(r, emit)
    local match {
      case Some(rows) => slicedTopK(rows, k)(scoped)
      case None => mergeTopK(
        cache.rows.mapPartitions(it => topKHeap(it, k)(scoped).iterator).collect(), k)
    }
  }

  /** The serving-leg cosine: float->double accumulation in scan order,
    * identical to `CosineSimilarity.nullSafeEval`, so scores are
    * bit-identical to the DataFrame leg. */
  private def rawCosine(e: Array[Float], q: Array[Float]): Double = {
    val n = math.min(e.length, q.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xa = e(i).toDouble; val xb = q(i).toDouble
      dot += xa * xb; na += xa * xa; nb += xb * xb
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Vector leg over the serving rows: brute-force cosine of each vector
    * entry under `model`, the driver copy serving when it holds vectors. */
  private def vectorLegRdd(
      cache: ServingCache, req: SearchRequest, model: String,
      q: Array[Float], k: Int): Seq[LegHit] =
    servingLeg(cache, cache.driverCopy.filter(_.withVectors).map(_.rows), req, k) {
      (r, emit) => r.vectors.foreach { case (m, e) =>
        if (m == model)
          emit(LegHit(r.chunkId, r.documentId, r.content, r.metadata, rawCosine(e, q)))
      }
    }

  /** Keyword leg over the serving rows: the imperative mirror of
    * `KeywordSearch.leg`'s conjunctive prefilter, then the SAME `rankChunk`
    * — scores identical to the DataFrame leg by construction. */
  private def keywordLegRdd(
      cache: ServingCache, req: SearchRequest, k: Int): Seq[LegHit] = {
    val parsed = WebsearchParser.parse(req.query)
    if (parsed.isEmpty) return Seq.empty // rankChunk = None everywhere
    val preGroups = parsed.groups
      .filter(g => g.nonEmpty && g.exists(_.english.nonEmpty))
      .map(g => (g.flatMap(_.simple).toSet, g.flatMap(_.english).toSet))
    servingLeg(cache, cache.driverCopy.map(_.rows), req, k) { (r, emit) =>
      val simple = r.tokensSimple
      val english = r.tokensEnglish
      if (preGroups.forall { case (s, e) =>
            simple.exists(s.contains) || (e.nonEmpty && english.exists(e.contains)) })
        KeywordSearch.rankChunk(parsed,
            ArraySeq.unsafeWrapArray(simple), ArraySeq.unsafeWrapArray(english))
          .foreach(raw => emit(LegHit(r.chunkId, r.documentId, r.content, r.metadata, raw)))
    }
  }

  /** Interactive search: the two legs run as CONCURRENT Spark jobs (the
    * reference's parallel Task.Run legs, ref HybridSearchService.cs:
    * 182-200) and are fused driver-side over their <=2·topK collected rows
    * — normalization/merge/sort on ~200 rows is driver arithmetic, so the
    * query pays two short scan jobs instead of a fusion DAG of joins and
    * windows (roughly halves steady-state latency). The equivalent
    * relational fusion plan remains available as Fusion.fuse (used by the
    * oracled query battery, where the whole pipeline must stay in Spark).
    */
  def search(index: Index, req0: SearchRequest, embedder: Embedder): Seq[SearchHit] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration

    // unknown rank functions must fail loudly, not silently serve the
    // default (every other bad parameter does — "BM25"/"bm-25" would
    // otherwise return cover-density scores with a 200)
    require(Set("cover_density", "bm25").contains(req0.rankFn),
      s"unknown rankFn '${req0.rankFn}' (supported: cover_density, bm25)")

    // cross-model override: Semantic -> Hybrid so the keyword leg reaches
    // chunks embedded under other models (ref :89-96)
    val req =
      if (req0.mode == "semantic" && req0.crossModelSearch) req0.copy(mode = "hybrid")
      else req0
    val fetchK = math.max(req.topK * 2, req.topK) // legs over-fetch like the reference
    // lazy: every Dataset transformation runs Catalyst analysis on the
    // driver — the serving-cache path never needs these frames
    lazy val chunks = scope(index.chunks, req)
    lazy val vectors = {
      val v = scope(index.vectors, req)
      req.modelId.orElse(Some(embedder.modelId)) // P4: cross-model cosine is meaningless
        .map(m => v.filter(col("model_id") === m)).getOrElse(v)
    }

    val vectorF: Future[Seq[LegHit]] =
      if (req.mode == "keyword") Future.successful(Seq.empty)
      else index.serving match {
        case Some(c) => Future {
          val model = req.modelId.getOrElse(embedder.modelId)
          vectorLegRdd(c, req, model, embedder.embed(req.query), fetchK)
        }
        case None => Future {
          collectLeg(VectorSearch.leg(vectors, chunks, embedder.embed(req.query), fetchK), "raw_v")
        }
      }
    val keywordF: Future[Seq[LegHit]] =
      if (req.mode == "semantic") Future.successful(Seq.empty)
      // the planning-free RDD leg scores cover-density imperatively; a
      // bm25 request needs corpus stats (N, avgdl, df) and routes to the
      // DataFrame leg — same results, one aggregate of extra latency
      else index.serving match {
        case Some(c) if req.rankFn == "cover_density" =>
          Future { keywordLegRdd(c, req, fetchK) }
        case _ => Future {
          collectLeg(KeywordSearch.leg(chunks, req.query, fetchK, rankFn = req.rankFn), "raw_k")
        }
      }
    val vHits = Await.result(vectorF, Duration.Inf)
    val kHits = Await.result(keywordF, Duration.Inf)

    // driver-side fusion (J3/A4/A5 on <=200 rows). Legs are re-sorted to
    // the canonical (raw DESC, chunk_id) order HERE: a DataFrame leg's
    // orderBy().limit() does not guarantee collect() order, which the
    // value-based normalizers never see but the rank-based one (RRF)
    // would — ranks must come from the order, not the arrival.
    val vSorted = vHits.sortBy(h => (-h.raw, h.chunkId))
    val kSorted = kHits.sortBy(h => (-h.raw, h.chunkId))
    val nv = vSorted.map(_.chunkId).zip(Fusion.normalizeSeq(vSorted.map(_.raw), req.fusionMethod)).toMap
    val nk = kSorted.map(_.chunkId).zip(Fusion.normalizeSeq(kSorted.map(_.raw), req.fusionMethod)).toMap
    val byId = (vHits ++ kHits).map(h => h.chunkId -> h).toMap
    val collected = byId.values.map { h =>
      val v = nv.get(h.chunkId)
      val k = nk.get(h.chunkId)
      val score = req.alpha * v.getOrElse(0.0) + (1 - req.alpha) * k.getOrElse(0.0)
      val source =
        if (v.isDefined && k.isDefined) "both"
        else if (v.isDefined) "vector" else "keyword"
      val finalScore =
        if (req.mode == "semantic") v.getOrElse(0.0)
        else if (req.mode == "keyword") k.getOrElse(0.0)
        else score
      SearchHit(h.chunkId, h.docId, h.content, finalScore,
        h.meta + ("source" -> source))
    }.toSeq
      .filter(_.score >= req.minScore) // P5
      .sortBy(h => (-h.score, h.chunk_id))
      .take(100)

    val cut = if (req.autoCut) Fusion.autocutIndex(collected.map(_.score)) else collected.length
    val keptFused = collected.take(cut)
    // MaxSim rerank tier (opt-in — the q151 pruned pipeline SERVED): the
    // fused candidates ARE the candidate set (the legs already pruned
    // the corpus), and each (query, candidate) pair re-scores by the
    // late-interaction kernel over per-token embeddings. <=100 pairs ×
    // m tokens/side = driver arithmetic, like MMR below; the published
    // role is exactly this slot — after the single-vector legs, before
    // any cross-encoder. minScore stays a FUSED-score gate (it already
    // applied above; MaxSim scores live on a different scale).
    val kept = req.maxsimTokens match {
      case Some(m) if keptFused.nonEmpty =>
        val qVecs = MaxSim.tokenVectors(req.query, m, embedder)
        if (qVecs.isEmpty) keptFused
        else keptFused.map { h =>
          val s = MaxSim.scoreTokens(qVecs, MaxSim.tokenVectors(h.content, m, embedder))
          h.copy(score = s,
            metadata = h.metadata + ("fused_score" -> h.score.toString))
        }.sortBy(h => (-h.score, h.chunk_id))
      case _ => keptFused
    }
    // MMR diversification (opt-in): greedy reorder of the kept candidates
    // under content-shingle Jaccard — near-duplicate chunks stop crowding
    // the top-k. Scores stay the fused scores (MMR is an ORDERING); the
    // candidate set is <=100 rows, so the O(k^2) pass is driver noise.
    val ordered = req.mmrLambda match {
      case Some(lambda) if kept.length > 1 =>
        val sh = kept.map(h => Mmr.shingles(h.content)).toIndexedSeq
        val picks = Mmr.rerankBy[Int](
          kept.indices.toIndexedSeq,
          i => kept(i).score,
          (a, b) => Mmr.jaccard(sh(a), sh(b)),
          math.min(req.topK, kept.length), lambda)
        picks.map(kept(_))
      case _ => kept
    }
    val finalHits = ordered.take(req.topK).map(Fusion.substituteWindow)
    // snippet annotation (opt-in): the q138 best-window operator over the
    // top-k ONLY — terms are the PARSED query's positive simple terms
    // (operator tokens like OR and negated terms must not anchor a
    // window); a parse with no positive terms falls back to the raw
    // tokenization (pure-semantic queries). Windows run AFTER
    // sentence-window substitution so the snippet reflects what the hit
    // actually surfaces as content.
    req.snippetTokens match {
      case Some(w) =>
        val positive = KeywordSearch.bm25Terms(WebsearchParser.parse(req.query))
        val terms =
          if (positive.nonEmpty) positive.toSet
          else Snippets.toks(req.query).toSet
        finalHits.map(Snippets.annotate(_, terms, w))
      case None => finalHits
    }
  }
}
