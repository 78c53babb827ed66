package graft.ann

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins the HNSW graph: recall against exact cosine top-k, the
  * exact-degeneration property (ef >= corpus = brute force), build
  * determinism under input shuffling, and the partitioned layer's
  * exactness when every partition runs an exhaustive beam.
  */
class HnswSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dims = 16
  private val nClusters = 6

  private def noise(id: Int, i: Int): Float = {
    var z = id.toLong * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
    ((z >>> 40).toInt % 1000) / 10000.0f
  }

  private def corpus(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { id =>
      val c = id % nClusters
      (id.toLong, Array.tabulate(dims)(i => (if (i == c) 1.0f else 0.1f) + noise(id, i)))
    }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dp / (math.sqrt(na) * math.sqrt(nb))
  }

  private def bruteTopK(pts: Seq[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] =
    pts.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  test("recall@10 >= 0.95 vs brute force at modest ef") {
    val pts = corpus(500)
    val g = Hnsw.build(pts, m = 8, efConstruction = 60)
    val queries = (0 until 20).map(i => pts(i * 25))
    val recalls = queries.map { case (_, q) =>
      val exact = bruteTopK(pts, q, 10).toSet
      val approx = Hnsw.search(g, q, 10, ef = 50).map(_._1).toSet
      (exact intersect approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"mean recall $mean (per-query: $recalls)")
  }

  test("ef >= corpus size degenerates to exact brute force") {
    val pts = corpus(200)
    val g = Hnsw.build(pts, m = 8, efConstruction = 60)
    val q = pts(7)._2
    val exact = bruteTopK(pts, q, 10)
    val full = Hnsw.search(g, q, 10, ef = 200).map(_._1)
    assert(full == exact, s"exhaustive beam diverged: $full vs $exact")
  }

  test("build is deterministic and input-order-independent") {
    val pts = corpus(150)
    val g1 = Hnsw.build(pts, m = 6, efConstruction = 40)
    val g2 = Hnsw.build(scala.util.Random.shuffle(pts.toVector), m = 6, efConstruction = 40)
    assert(g1.entry == g2.entry && g1.maxLevel == g2.maxLevel)
    for (l <- 0 to g1.maxLevel; i <- g1.ids.indices)
      assert(g1.layers(l)(i).toSeq == g2.layers(l)(i).toSeq,
        s"layer $l node $i neighbors differ")
  }

  test("levels follow the geometric distribution (hash-derived, no RNG)") {
    val levels = (0L until 4000L).map(Hnsw.levelOf(_, 20))
    val frac1 = levels.count(_ >= 1).toDouble / levels.size
    assert(math.abs(frac1 - 0.5) < 0.05, s"P(level>=1) = $frac1")
    val frac2 = levels.count(_ >= 2).toDouble / levels.size
    assert(math.abs(frac2 - 0.25) < 0.05, s"P(level>=2) = $frac2")
  }

  test("partitioned graphs with exhaustive per-partition beams are exact") {
    import spark.implicits._
    val pts = corpus(400)
    val df = spark.createDataset(pts).toDF("id", "embedding").repartition(4)
    val part = Hnsw.buildPartitioned(df, m = 8, efConstruction = 60)
    assert(part.graphs.getNumPartitions <= 4)
    val q = pts(3)._2
    // every point lives in exactly one partition and each partition's
    // beam covers it entirely, so the ≤k-per-partition driver merge is
    // the exact global top-k — the property that makes the serving-leg
    // merge sound
    val exact = bruteTopK(pts, q, 10)
    val merged = part.searchAll(q, 10, ef = 400).map(_._1)
    assert(merged == exact, s"partitioned merge diverged: $merged vs $exact")
    // modest beams stay high-recall
    val approx = part.searchAll(q, 10, ef = 40).map(_._1).toSet
    assert((exact.toSet intersect approx).size >= 9, s"partitioned recall dropped: $approx")
    part.unpersist()
  }

  test("save/load round-trips graphs onto the SAME partition indices") {
    import spark.implicits._
    val pts = corpus(300)
    val df = spark.createDataset(pts).toDF("id", "embedding").repartition(4)
    val part = Hnsw.buildPartitioned(df, m = 8, efConstruction = 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-hnsw-save")
      .resolve("graphs").toString
    Hnsw.save(part, dir)
    val loaded = Hnsw.load(spark, dir, nParts = 4)
    // identical results at both exhaustive and modest beams
    for (ef <- Seq(300, 40); qi <- Seq(1, 7, 42)) {
      val q = pts(qi)._2
      assert(loaded.searchAll(q, 10, ef) == part.searchAll(q, 10, ef),
        s"loaded graphs diverge at ef=$ef qi=$qi")
    }
    // partition ALIGNMENT survives: graph i landed back on partition i —
    // the property IVF cell routing (partitionOf) depends on after a
    // restart
    val placed = part.graphs
      .mapPartitionsWithIndex((i, it) => it.map(g => (i, g.ids.min)))
      .collect().toMap
    val placedLoaded = loaded.graphs
      .mapPartitionsWithIndex((i, it) => it.map(g => (i, g.ids.min)))
      .collect().toMap
    assert(placedLoaded == placed, s"partition layout moved: $placedLoaded vs $placed")
    part.unpersist(); loaded.unpersist()
  }
}
