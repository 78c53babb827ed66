package graft.ann

/** HNSW graph ANN (Malkov & Yashunin 2016, arXiv:1603.09320 — public
  * algorithm; the reference publishes pgvector HNSW as its scale-up
  * serving path, ref /root/reference/docs/deployment.md:985-996).
  *
  * This is the in-memory, partition-LOCAL half of the story: one
  * small-world graph per executor partition, built independently inside
  * `mapPartitions` and queried with a per-partition top-k that merges on
  * the driver — exactly the shape of the serving legs in
  * `search/Search.scala` (partition-local heaps, bounded driver merge).
  * Against IVF (`ann/Ivf`): IVF prunes WHICH partitions scan, HNSW
  * replaces the intra-partition linear scan with a logarithmic graph
  * walk — the two compose (route to probed cells, walk the cell's
  * graph), which is how a partitioned index reaches graph-index latency at
  * high dimensionality without a global (unpartitionable) graph.
  *
  * Determinism: levels come from a hash of the point id (not RNG), so
  * the same partition contents always build the same graph — stream
  * replays and task retries are byte-identical, the same property the
  * rest of the engine pins (Skew, MinHash, fingerprints).
  *
  * Distances are COSINE, as everywhere in the engine: vectors are
  * L2-normalized at insert and scored by dot product (1 - dot is the
  * metric the candidate heaps order by).
  *
  * At 100 TB: graphs never span partitions, so build is embarrassingly
  * parallel (no shuffle beyond the initial partitioning), memory is
  * per-partition-bounded, and a lost executor rebuilds its partition's
  * graph from the cell data — no global index to invalidate.
  */
object Hnsw {

  /** One partition's graph. `ids(i)`/`vecs(i)` store the normalized
    * corpus; `layers(l)(i)` is node i's neighbor list on layer l
    * (empty above the node's level). */
  final class Graph(
      val ids: Array[Long],
      val vecs: Array[Array[Float]],
      val levels: Array[Int],
      val layers: Array[Array[Array[Int]]], // layer -> node -> neighbors
      val entry: Int,
      val maxLevel: Int) extends Serializable {
    def size: Int = ids.length
  }

  /** Deterministic geometric level for a point id: count leading-zero
    * pairs of a splitmix64 hash — P(level >= l) = (1/2)^l, the paper's
    * distribution with mL = 1/ln 2, no RNG. */
  private[ann] def levelOf(id: Long, maxLevel: Int): Int = {
    var z = id * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    var l = 0
    while (l < maxLevel && (z & 1L) == 1L) { l += 1; z >>>= 1 }
    l
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    val nrm = math.sqrt(n)
    if (nrm == 0.0) v.clone()
    else {
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / nrm).toFloat; i += 1 }
      out
    }
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Build one graph over a partition's points. `m` neighbors per node
    * per layer (2m on layer 0, per the paper), `efConstruction` the
    * build-time beam width. Insertion order is sorted by id — input
    * order must not change the graph.
    */
  def build(points: Seq[(Long, Array[Float])], m: Int = 16,
      efConstruction: Int = 100): Graph = {
    require(points.nonEmpty, "empty partition")
    val sorted = points.sortBy(_._1).toArray
    val n = sorted.length
    val ids = sorted.map(_._1)
    val vecs = sorted.map(p => normalize(p._2))
    val maxPossible = math.max(1, (math.log(n.toDouble) / math.log(2.0)).toInt)
    val levels = Array.tabulate(n)(i => levelOf(ids(i), maxPossible))
    val maxLevel = levels.max
    val adj = Array.fill(maxLevel + 1, n)(
      new scala.collection.mutable.ArrayBuffer[Int](2 * m + 1))
    insertLoop(ids, vecs, levels, adj, m, efConstruction)
  }

  /** The paper's insertion procedure over mutable adjacency: points
    * insert in array order into an initially empty graph. */
  private def insertLoop(ids: Array[Long], vecs: Array[Array[Float]],
      levels: Array[Int],
      adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]],
      m: Int, efConstruction: Int): Graph = {
    val n = ids.length
    val maxLevel = adj.length - 1
    val m0 = 2 * m

    var entry = -1
    var entryLevel = -1

    // beam search used during construction, over current adjacency
    def searchLayer(q: Array[Float], ep: Int, ef: Int, layer: Int): Array[Int] = {
      val visited = new java.util.HashSet[Integer]()
      // min-heap by distance for candidates, max-heap for results
      val cand = new java.util.PriorityQueue[(Double, Int)](
        (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
      val res = new java.util.PriorityQueue[(Double, Int)](
        (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(b._1, a._1))
      val dEp = 1.0 - dot(q, vecs(ep))
      cand.add((dEp, ep)); res.add((dEp, ep)); visited.add(ep)
      while (!cand.isEmpty) {
        val (dc, c) = cand.poll()
        if (dc > res.peek()._1 && res.size >= ef) {
          cand.clear() // every remaining candidate is farther: done
        } else {
          val neigh = adj(layer)(c)
          var i = 0
          while (i < neigh.length) {
            val e = neigh(i)
            if (!visited.contains(e)) {
              visited.add(e)
              val d = 1.0 - dot(q, vecs(e))
              if (res.size < ef || d < res.peek()._1) {
                cand.add((d, e)); res.add((d, e))
                if (res.size > ef) res.poll()
              }
            }
            i += 1
          }
        }
      }
      val out = new Array[Int](res.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = res.poll()._2; i -= 1 } // nearest-first
      out
    }

    /** Paper's heuristic neighbor selection (Algorithm 4): keep a
      * candidate only if it is closer to the base point than to every
      * already-kept neighbor — preserves graph connectivity across
      * clustered data where plain nearest-M collapses into one cluster. */
    def selectHeuristic(base: Array[Float], candidates: Array[Int], max: Int): Array[Int] = {
      val kept = new scala.collection.mutable.ArrayBuffer[Int](max)
      var i = 0
      while (i < candidates.length && kept.length < max) {
        val c = candidates(i)
        val dBase = 1.0 - dot(base, vecs(c))
        var ok = true
        var j = 0
        while (ok && j < kept.length) {
          if (1.0 - dot(vecs(c), vecs(kept(j))) < dBase) ok = false
          j += 1
        }
        if (ok) kept += c
        i += 1
      }
      // backfill with nearest skipped if the heuristic under-fills
      i = 0
      while (kept.length < max && i < candidates.length) {
        if (!kept.contains(candidates(i))) kept += candidates(i)
        i += 1
      }
      kept.toArray
    }

    def connect(node: Int, layer: Int, neighbors: Array[Int]): Unit = {
      val cap = if (layer == 0) m0 else m
      adj(layer)(node) ++= neighbors
      neighbors.foreach { nb =>
        val lst = adj(layer)(nb)
        lst += node
        if (lst.length > cap) {
          val pruned = selectHeuristic(vecs(nb), lst.toArray.sortBy(x => 1.0 - dot(vecs(nb), vecs(x))), cap)
          lst.clear(); lst ++= pruned
        }
      }
    }

    var idx = 0
    while (idx < n) {
      val l = levels(idx)
      if (entry < 0) { entry = idx; entryLevel = l }
      else {
        var ep = entry
        // greedy descent through layers above l
        var layer = entryLevel
        while (layer > l) {
          if (layer <= maxLevel) {
            var changed = true
            while (changed) {
              changed = false
              val neigh = adj(layer)(ep)
              var i = 0
              var best = 1.0 - dot(vecs(idx), vecs(ep))
              while (i < neigh.length) {
                val d = 1.0 - dot(vecs(idx), vecs(neigh(i)))
                if (d < best) { best = d; ep = neigh(i); changed = true }
                i += 1
              }
            }
          }
          layer -= 1
        }
        // beam insert on layers min(l, entryLevel)..0
        layer = math.min(l, entryLevel)
        while (layer >= 0) {
          val cands = searchLayer(vecs(idx), ep, efConstruction, layer)
          val max = if (layer == 0) m0 else m
          val selected = selectHeuristic(vecs(idx), cands.filter(_ != idx), max)
          connect(idx, layer, selected)
          if (cands.nonEmpty) ep = cands(0)
          layer -= 1
        }
        if (l > entryLevel) { entry = idx; entryLevel = l }
      }
      idx += 1
    }

    new Graph(ids, vecs, levels,
      adj.map(_.map(_.toArray)), entry, entryLevel)
  }

  /** Top-k by cosine SIMILARITY (descending), beam width `ef`.
    * Returns (id, cosine). `ef >= size` degenerates to exact. */
  def search(g: Graph, query: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
    val q = normalize(query)
    var ep = g.entry
    var layer = g.maxLevel
    // greedy descent to layer 1
    while (layer > 0) {
      var changed = true
      while (changed) {
        changed = false
        val neigh = g.layers(layer)(ep)
        var best = 1.0 - dot(q, g.vecs(ep))
        var i = 0
        while (i < neigh.length) {
          val d = 1.0 - dot(q, g.vecs(neigh(i)))
          if (d < best) { best = d; ep = neigh(i); changed = true }
          i += 1
        }
      }
      layer -= 1
    }
    // beam search on layer 0
    val visited = new java.util.HashSet[Integer]()
    val cand = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    val res = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(b._1, a._1))
    val beam = math.max(ef, k)
    val d0 = 1.0 - dot(q, g.vecs(ep))
    cand.add((d0, ep)); res.add((d0, ep)); visited.add(ep)
    while (!cand.isEmpty) {
      val (dc, c) = cand.poll()
      if (dc > res.peek()._1 && res.size >= beam) cand.clear()
      else {
        val neigh = g.layers(0)(c)
        var i = 0
        while (i < neigh.length) {
          val e = neigh(i)
          if (!visited.contains(e)) {
            visited.add(e)
            val d = 1.0 - dot(q, g.vecs(e))
            if (res.size < beam || d < res.peek()._1) {
              cand.add((d, e)); res.add((d, e))
              if (res.size > beam) res.poll()
            }
          }
          i += 1
        }
      }
    }
    val all = new scala.collection.mutable.ArrayBuffer[(Double, Int)](res.size)
    while (!res.isEmpty) all += res.poll()
    all.sortBy(_._1).take(k).map { case (d, i) => (g.ids(i), 1.0 - d) }.toSeq
  }

  /** Distributed layer: one graph per partition of `corpus(id, embedding)`,
    * persisted as deserialized objects; query = per-partition graph walk +
    * driver merge of ≤k rows per partition (the serving-leg shape).
    */
  final case class Partitioned(
      graphs: org.apache.spark.rdd.RDD[Graph]) {
    def searchAll(query: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
      val parts = graphs.map(g => Hnsw.search(g, query, k, ef)).collect()
      parts.flatten.sortBy { case (id, sim) => (-sim, id) }.take(k)
    }
    def unpersist(): Unit = { graphs.unpersist(blocking = false); () }
  }

  /** Warehouse persistence for the partition-local graphs: each graph is
    * written keyed by its partition index and restored onto the SAME
    * index (HashPartitioner on Int i maps back to partition i), so a
    * routing scheme aligned to partitions — the IVF `partitionOf(cell)`
    * composition — survives a save/load round-trip. A restart therefore
    * reloads graphs instead of re-running construction over the corpus
    * (build is the expensive half: O(n·ef·m) distance evaluations per
    * partition vs a sequential object read). Files are one serialized
    * graph per partition — KB-to-MB-sized metadata next to the corpus
    * parquet, the same economics as `Ivf.save`'s centroids.
    */
  def save(p: Partitioned, path: String): Unit =
    p.graphs.mapPartitionsWithIndex((i, it) => it.map(g => (i, g)))
      .saveAsObjectFile(path)

  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      nParts: Int): Partitioned = {
    val rdd = spark.sparkContext.objectFile[(Int, Graph)](path)
      .partitionBy(new org.apache.spark.HashPartitioner(nParts))
      .values
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize: queries start warm, like buildPartitioned
    Partitioned(rdd)
  }

  /** Build partition-local graphs. The caller picks the partitioning
    * (hash for uniform load; IVF cells to compose with probe routing). */
  def buildPartitioned(corpus: org.apache.spark.sql.DataFrame,
      m: Int = 16, efConstruction: Int = 100): Partitioned = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rdd = corpus.select("id", "embedding").as[(Long, Array[Float])].rdd
      .mapPartitions { it =>
        val pts = it.toSeq
        if (pts.isEmpty) Iterator.empty else Iterator.single(build(pts, m, efConstruction))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize
    Partitioned(rdd)
  }
}
