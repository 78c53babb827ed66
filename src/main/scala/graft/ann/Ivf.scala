package graft.ann

import graft.functions.{CosineSimilarity, DotProduct}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: k-means partitions the corpus into
  * `nLists` cells; a query routes to its `nProbes` nearest centroids and
  * scans only those cells — scan cost drops by ~nProbes/nLists while recall
  * stays high for clustered embedding spaces (the pgvector IVFFlat analog,
  * ref VectorColumnManager.cs:95-107; q29_ann_ivf pins the routing math
  * against the DuckDB oracle with fixed label cells).
  *
  * The fit is a NATIVE deterministic Lloyd (round 7; replaced MLlib
  * KMeans, whose per-iteration instrumentation and conversions were a
  * measured ~3 s fixed floor at every scale — q88's phase telemetry):
  * k-means++ initialization on the driver over a bounded `takeSample`
  * (seeded, ≤4096 vectors — constant driver work at any corpus size),
  * then one `treeAggregate` job per Lloyd iteration carrying k×(d+1)
  * doubles of state — the map-side-combine shape whose shuffle is
  * centroid-sized, never corpus-sized. Deterministic end to end under a
  * fixed seed AND a fixed input layout: sampling is seeded, the ++
  * selection stream is splitmix-derived (no RNG object), ties in
  * assignment break to the lowest cell id, and empty cells keep their
  * previous centroid.
  *
  * Clustering runs on L2-normalized vectors so Euclidean k-means agrees
  * with the cosine geometry used for routing and scoring.
  */
object Ivf {

  /** (centroids: (list_id, centroid float[]), assigned: corpus + list_id). */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  private def normalized(embCol: String) = {
    val d = col(embCol).cast("array<double>")
    val nrm = sqrt(aggregate(transform(d, x => x * x), lit(0.0), (a, x) => a + x))
    transform(d, x => x / nrm)
  }

  /** Splitmix64 step — the deterministic pseudo-uniform stream for the
    * k-means++ selections (no RNG object, no call-order dependence). */
  private[ann] def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[ann] def unit(z: Long): Double = (mix(z) >>> 11).toDouble / (1L << 53).toDouble

  private[ann] def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Driver-side deterministic k-means++ over the init pool. */
  private[ann] def kppInit(pool: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    val n = pool.length
    val chosen = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    chosen += pool(math.min(n - 1, (unit(seed) * n).toInt))
    val d2 = Array.fill(n)(Double.MaxValue)
    var step = 1
    while (chosen.size < k) {
      val last = chosen.last
      var i = 0
      while (i < n) { d2(i) = math.min(d2(i), sqDist(pool(i), last)); i += 1 }
      val total = d2.sum
      if (total <= 0) chosen += pool(step % n) // pool exhausted of distinct points
      else {
        val r = unit(seed + step) * total
        var acc = 0.0; var idx = 0
        while (idx < n - 1 && acc + d2(idx) < r) { acc += d2(idx); idx += 1 }
        chosen += pool(idx)
      }
      step += 1
    }
    chosen.toArray
  }

  /** Nearest cell by Euclidean distance on the normalized vector —
    * ||x−c||² = ‖x‖² − 2x·c + ‖c‖² with ‖x‖ fixed, so compare
    * ‖c‖² − 2x·c; ties break to the lowest cell id. The SAME formula
    * runs in the fit's assignment step and the final full-corpus
    * assignment, so the two can never disagree. */
  private def nearestCell(cs: Array[Array[Double]], cNorm2: Array[Double],
      x: Array[Double]): Int = {
    var best = 0; var bestScore = Double.MaxValue
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      var dot = 0.0; var i = 0
      val n = math.min(c.length, x.length)
      while (i < n) { dot += c(i) * x(i); i += 1 }
      val score = cNorm2(j) - 2.0 * dot
      if (score < bestScore) { bestScore = score; best = j }
      j += 1
    }
    best
  }

  /** Default list count for a corpus of `rows` vectors: cells target
    * `rowsPerCell` members, clamped to [1, maxLists] — the reference's
    * `lists = clamp(rows/1000, 1, 100)` (VectorColumnManager.cs:98)
    * generalized: its cap of 100 fits a single-node Postgres; here the
    * cap defaults to 4096 (the k-means++ init-pool bound) so the
    * nLists ∝ corpus contract holds through
    * far larger corpora before cell size starts growing linearly
    * (disclosed: past ~4M rows at the default, probe cost grows with
    * the corpus again — raise maxLists with the fleet size). */
  def autoLists(rows: Long, rowsPerCell: Long = 1000L, maxLists: Int = 4096): Int =
    math.max(1L, math.min(maxLists.toLong, rows / rowsPerCell)).toInt

  /** Cluster `corpus(id, embedding)` into nLists cells. `nLists <= 0`
    * derives the count from the corpus row count via [[autoLists]] (the
    * reference's auto-sizing contract); explicit values tune per corpus.
    * Deterministic under a fixed seed and input
    * layout. fitSample < 1 trains centroids on a corpus sample and assigns
    * the FULL corpus — the standard IVF-build economy at scale (centroid
    * positions converge on a fraction of the data; assignment is the only
    * full pass).
    */
  def build(
      corpus: DataFrame,
      nLists: Int,
      maxIter: Int = 10,
      seed: Long = 42L,
      fitSample: Double = 1.0): IvfIndex = {
    if (nLists <= 0)
      return build(corpus, autoLists(corpus.count()), maxIter, seed, fitSample)
    val spark = corpus.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val withNorm = corpus.withColumn("_nv", normalized("embedding"))
    val fitOn =
      if (fitSample >= 1.0) withNorm
      else {
        val s = withNorm.sample(withReplacement = false, fitSample, seed)
        // tiny corpora can sample to zero rows — fall back to the full
        // frame (the sample exists to bound cost at scale, where
        // emptiness is impossible)
        if (s.isEmpty) withNorm else s
      }
    val fitVecs = fitOn.select(col("_nv")).as[Array[Double]].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init pool: seeded takeSample, bounded so driver work is constant at
    // any corpus size (k-means++ is O(pool × k) distance evaluations)
    val pool = fitVecs.takeSample(withReplacement = false,
      num = math.max(nLists, math.min(4096, nLists * 64)), seed = seed)
    require(pool.nonEmpty, "ivf: empty corpus")
    var centroids = kppInit(pool, nLists, seed)
    val d = centroids(0).length
    var iter = 0
    while (iter < maxIter) {
      val cNorm2 = centroids.map(c => c.map(x => x * x).sum)
      val bc = sc.broadcast((centroids, cNorm2))
      // one job per iteration: k×(d+1) doubles of state per task, merged
      // treewise — the shuffle is centroid-sized, never corpus-sized
      val agg = fitVecs.treeAggregate(Array.ofDim[Double](nLists, d + 1))(
        (acc, v) => {
          val (cs, cn2) = bc.value
          val j = nearestCell(cs, cn2, v)
          val row = acc(j)
          var i = 0
          val n = math.min(d, v.length)
          while (i < n) { row(i) += v(i); i += 1 }
          row(d) += 1.0
          acc
        },
        (a, b) => {
          var j = 0
          while (j < nLists) {
            var i = 0
            while (i <= d) { a(j)(i) += b(j)(i); i += 1 }
            j += 1
          }
          a
        })
      bc.destroy()
      centroids = Array.tabulate(nLists) { j =>
        val cnt = agg(j)(d)
        if (cnt == 0.0) centroids(j) // empty cell keeps its centroid
        else Array.tabulate(d)(i => agg(j)(i) / cnt)
      }
      iter += 1
    }
    fitVecs.unpersist(blocking = false)
    val cNorm2 = centroids.map(c => c.map(x => x * x).sum)
    val bcFinal = sc.broadcast((centroids, cNorm2))
    val assignUdf = udf { (nv: Seq[Double]) =>
      val (cs, cn2) = bcFinal.value
      nearestCell(cs, cn2, nv.toArray)
    }
    // hoist each vector's norm at build time: the probed-cell scan then
    // scores with a single-accumulator DotProduct / (nrm * qnrm) — same
    // double arithmetic as CosineSimilarity at a third of the per-row
    // flops (see SCALE.md "Vector search / ANN")
    val assigned = withNorm
      .withColumn("list_id", assignUdf(col("_nv")))
      .drop("_nv")
      .withColumn("nrm", sqrt(DotProduct(col("embedding"), col("embedding"))))
    val centroidsDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }
      .toSeq.toDF("list_id", "centroid")
    IvfIndex(centroidsDf, assigned)
  }

  /** Top-k per query over the probed cells only. Centroids and queries are
    * broadcast (both tiny); the corpus side never re-partitions — the cell
    * join is a pruned scan, which is the property that matters at 100 TB.
    * Columns: queries(qid, qemb). */
  def search(index: IvfIndex, queries: DataFrame, k: Int, nProbes: Int): DataFrame = {
    val wc = Window.partitionBy("qid").orderBy(desc("csim"), col("list_id"))
    val routed = queries.crossJoin(broadcast(index.centroids))
      .withColumn("csim", CosineSimilarity(col("qemb"), col("centroid")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nProbes)
      .select(col("qid"), col("qemb"),
        sqrt(DotProduct(col("qemb"), col("qemb"))).as("qnrm"), col("list_id"))
    // scan kernel: dot / (nrm * qnrm) — norms hoisted (build time for the
    // corpus, routing time for the query), so the hot loop is a single
    // accumulator; arithmetic identical to CosineSimilarity, including the
    // zero-magnitude -> 0.0 convention
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("id"))
    index.assigned.join(broadcast(routed), Seq("list_id"))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim",
        when(col("nrm") === 0.0 || col("qnrm") === 0.0, 0.0)
          .otherwise(
            DotProduct(col("embedding"), col("qemb")) / (col("nrm") * col("qnrm"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "sim", "rank")
  }

  /** Warehouse layout: cells as physical partitions, so probed-cell scans
    * prune at the directory level like every other partition filter. */
  def save(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode(SaveMode.Overwrite)
      .partitionBy("list_id").parquet(s"$path/ivf_cells")
    index.centroids.write.mode(SaveMode.Overwrite).parquet(s"$path/ivf_centroids")
  }

  def load(spark: SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/ivf_centroids"),
      spark.read.parquet(s"$path/ivf_cells"))
}
