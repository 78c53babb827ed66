package graft.ann

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou, Douze & Schmid 2011, "Product Quantization
  * for Nearest Neighbor Search") — the memory-bound scale path for vector
  * search: a d-dim float vector becomes `m` one-byte codes (one per
  * d/m-dim subspace, each quantized against its own `ksub`-centroid
  * codebook), so a 64-dim float32 corpus compresses 256 B -> 8 B per
  * vector (32×; 4096× vs storing raw doubles per-pair), and the query
  * scan replaces d multiplies per vector with m table lookups (ADC —
  * asymmetric distance computation). The reference's serving tier scales
  * vector search by index choice (ref VectorColumnManager.cs:95-107,
  * docs/deployment.md:985-996); PQ is the published complement for when
  * the CORPUS no longer fits storage/memory budgets: IVF prunes which
  * cells are read, PQ shrinks what a cell read costs.
  *
  * Geometry: everything runs on L2-NORMALIZED vectors (like [[Ivf]]), so
  * squared-L2 ADC distance is monotone in cosine — ‖q̂−x̂‖² = 2−2·cos(q,x)
  * — and `sim = 1 − adc/2` recovers a cosine-scale score. Codebooks are
  * trained per-subspace with the same deterministic Lloyd machinery as
  * [[Ivf]] (seeded bounded init pool, splitmix-derived k-means++, one
  * `treeAggregate` per iteration carrying ALL m subspaces' m×ksub×(dsub+1)
  * doubles of state — the shuffle is codebook-sized, never corpus-sized),
  * so a fixed seed + fixed input layout reproduces the index bit-for-bit.
  *
  * 100 TB shape: fit touches a bounded sample, encode is one map over the
  * corpus (riding the scan, no shuffle), the ADC scan is partition-local
  * with broadcast query LUTs and a per-partition top-k heap merged on the
  * driver via TakeOrderedAndProject semantics (rank window over qid), and
  * the optional exact re-rank touches only `refine` candidates per query.
  */
object Pq {

  /** Trained codebooks: `books(j)(c)` is subspace j's centroid c (dsub
    * floats); code byte c in subspace j decodes to it. */
  final case class PqModel(m: Int, dsub: Int, ksub: Int,
      books: Array[Array[Array[Float]]]) {

    /** Reconstruct the (normalized-space) vector a code denotes. */
    def decode(code: Array[Byte]): Array[Float] = {
      val out = new Array[Float](m * dsub)
      var j = 0
      while (j < m) {
        val c = books(j)(code(j) & 0xFF)
        System.arraycopy(c, 0, out, j * dsub, dsub)
        j += 1
      }
      out
    }

    /** Squared-L2 lookup table for one (normalized) query: lut(j)(c) =
      * ‖q_j − books(j)(c)‖². ADC(x) = Σ_j lut(j)(code_j(x)) equals the
      * exact squared distance from q to decode(code) — the identity
      * PqSpec and q121 pin. */
    def lut(qNorm: Array[Double]): Array[Array[Double]] =
      Array.tabulate(m) { j =>
        Array.tabulate(ksub) { c =>
          val cent = books(j)(c)
          var s = 0.0
          var i = 0
          while (i < dsub) {
            val dlt = qNorm(j * dsub + i) - cent(i)
            s += dlt * dlt
            i += 1
          }
          s
        }
      }

    def adc(lutQ: Array[Array[Double]], code: Array[Byte]): Double = {
      var s = 0.0
      var j = 0
      while (j < m) { s += lutQ(j)(code(j) & 0xFF); j += 1 }
      s
    }
  }

  def l2norm(v: Array[Double]): Array[Double] = {
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    val n = math.sqrt(n2)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Train m codebooks over `corpus(embCol: array<float>)`. `fitSample`
    * bounds the Lloyd input like [[Ivf.build]] — centroids converge on a
    * fraction of the data; nothing downstream re-reads the fit input. */
  def fit(
      corpus: DataFrame,
      embCol: String,
      m: Int,
      ksub: Int = 256,
      maxIter: Int = 10,
      seed: Long = 42L,
      fitSample: Double = 1.0): PqModel = {
    require(m >= 1 && ksub >= 1 && ksub <= 256, "pq: need 1 <= ksub <= 256 (one-byte codes)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val base = corpus.select(col(embCol).cast("array<double>")).as[Array[Double]]
    val fitOn = if (fitSample >= 1.0) base else {
      val s = base.sample(withReplacement = false, fitSample, seed)
      if (s.isEmpty) base else s
    }
    val vecs = fitOn.rdd.map(l2norm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val d = vecs.first().length
    require(d % m == 0, s"pq: dim $d not divisible by m=$m")
    val dsub = d / m
    // one seeded bounded sample feeds every subspace's k-means++ pool
    val pool = vecs.takeSample(withReplacement = false,
      num = math.max(ksub, math.min(4096, ksub * 16)), seed = seed)
    require(pool.nonEmpty, "pq: empty corpus")
    def sub(v: Array[Double], j: Int): Array[Double] = {
      val out = new Array[Double](dsub)
      System.arraycopy(v, j * dsub, out, 0, dsub)
      out
    }
    // distinct seed per subspace so identical sub-distributions don't
    // force identical codebooks
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => Ivf.kppInit(pool.map(sub(_, j)), ksub, Ivf.mix(seed + j)))
    var iter = 0
    while (iter < maxIter) {
      val bc = sc.broadcast(books)
      // ALL m subspaces advance in ONE job: state m×ksub×(dsub+1) doubles
      val agg = vecs.treeAggregate(Array.ofDim[Double](m, ksub, dsub + 1))(
        (acc, v) => {
          val bks = bc.value
          var j = 0
          while (j < m) {
            val sv = sub(v, j)
            // nearest centroid, ties to the lowest code (deterministic)
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < ksub) {
              val dd = Ivf.sqDist(bks(j)(c), sv)
              if (dd < bestD) { bestD = dd; best = c }
              c += 1
            }
            val row = acc(j)(best)
            var i = 0
            while (i < dsub) { row(i) += sv(i); i += 1 }
            row(dsub) += 1.0
            j += 1
          }
          acc
        },
        (a, b) => {
          var j = 0
          while (j < m) {
            var c = 0
            while (c < ksub) {
              var i = 0
              while (i <= dsub) { a(j)(c)(i) += b(j)(c)(i); i += 1 }
              c += 1
            }
            j += 1
          }
          a
        })
      bc.destroy()
      books = Array.tabulate(m) { j =>
        Array.tabulate(ksub) { c =>
          val cnt = agg(j)(c)(dsub)
          if (cnt == 0.0) books(j)(c) // empty cell keeps its centroid
          else Array.tabulate(dsub)(i => agg(j)(c)(i) / cnt)
        }
      }
      iter += 1
    }
    vecs.unpersist(blocking = false)
    PqModel(m, dsub, ksub, books.map(_.map(_.map(_.toFloat))))
  }

  /** Scalar encoder — one vector to its m-byte code (nearest centroid per
    * subspace, ties to the lowest code); [[encode]] wraps it in a UDF. */
  def encodeOne(model: PqModel, emb: Array[Float]): Array[Byte] = {
    val v = l2norm(emb.map(_.toDouble))
    val code = new Array[Byte](model.m)
    var j = 0
    while (j < model.m) {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < model.ksub) {
        val cent = model.books(j)(c)
        var s = 0.0
        var i = 0
        while (i < model.dsub) {
          val dlt = v(j * model.dsub + i) - cent(i)
          s += dlt * dlt
          i += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      code(j) = best.toByte
      j += 1
    }
    code
  }

  /** Add `code: binary` (m bytes) to `df`. One map riding the scan; the
    * codebooks travel as a broadcast. Encoding normalizes first, matching
    * the fit's geometry. */
  def encode(df: DataFrame, embCol: String, model: PqModel): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val enc = udf { (emb: Seq[Float]) => encodeOne(bc.value, emb.toArray) }
    df.withColumn("code", enc(col(embCol)))
  }

  /** ADC top-k per query over an encoded corpus.
    *
    * `queries(qid: long, qemb: array<float>)`; result
    * (qid, id, sim, rank) with `sim` on the cosine scale. `refine = 0`
    * scores purely from codes (m byte-lookups per corpus row);
    * `refine = R > 0` takes the top R ADC candidates per query and
    * re-ranks them by EXACT cosine on the stored embedding — the
    * standard ADC+refine serving shape (R rows per query leave the
    * scan; with R >= corpus the result equals the brute-force leg
    * bit-for-bit, which is q121's exhaustive invariant).
    *
    * Scale shape: queries and their LUTs broadcast (m×ksub doubles per
    * query); the corpus side is a pruned partition-local scan — compose
    * with [[Ivf]] by feeding only probed cells — and only top candidates
    * cross the shuffle into the rank window.
    */
  def search(
      encoded: DataFrame,
      embCol: String,
      queries: DataFrame,
      model: PqModel,
      k: Int,
      refine: Int = 0): DataFrame = {
    val spark = encoded.sparkSession
    val qs = queries.select(col("qid").cast("long"), col("qemb")).collect()
      .map(r => (r.getLong(0),
        l2norm(r.getSeq[Float](1).toArray.map(_.toDouble))))
    val bc = spark.sparkContext.broadcast((model, qs.map { case (qid, qn) =>
      (qid, model.lut(qn))
    }))
    val adcScore = udf { (code: Array[Byte]) =>
      val (mdl, luts) = bc.value
      luts.map { case (qid, l) => (qid, 1.0 - mdl.adc(l, code) / 2.0) }
    }
    val cand = encoded
      .withColumn("q", explode(adcScore(col("code"))))
      .select(col("id"), col(embCol), col("q._1").as("qid"), col("q._2").as("sim"))
      .filter(col("id") =!= col("qid"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("id"))
    if (refine <= 0) {
      cand.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("qid", "id", "sim", "rank")
    } else {
      val qmap = spark.sparkContext.broadcast(qs.toMap)
      val exact = udf { (qid: Long, emb: Seq[Float]) =>
        val qn = qmap.value(qid)
        val v = emb.toArray.map(_.toDouble)
        var dp = 0.0; var n2 = 0.0
        var i = 0
        while (i < v.length) { dp += qn(i) * v(i); n2 += v(i) * v(i); i += 1 }
        if (n2 == 0.0) 0.0 else dp / math.sqrt(n2)
      }
      cand.withColumn("adc_rank", row_number().over(w))
        .filter(col("adc_rank") <= math.max(k, refine))
        .withColumn("sim", exact(col("qid"), col(embCol)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("qid", "id", "sim", "rank")
    }
  }
}
