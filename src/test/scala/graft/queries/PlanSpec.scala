package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guard: the scale properties SCALE.md claims
  * (pushdown, pruned read schema, broadcast dims, map-side partial agg,
  * distributed top-k) must stay true as queries evolve — a silently
  * regressed plan is exactly the class of bug correctness tests miss.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def physical(name: String): org.apache.spark.sql.execution.SparkPlan = {
    // inspect the REAL plan, not the post-materialization ExistingRDD scan
    // (see Catalog.materializeAndRelease)
    spark.conf.set("graft.plan.inspect", "true")
    try Catalog.queries(name)(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("graft.plan.inspect", "false")
  }

  private def plan(name: String): String = physical(name).toString

  test("filters push into the parquet scan with pruned columns (q03)") {
    val p = plan("q03_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(p_name)"), p.take(800))
    assert(p.contains("StringStartsWith(p_name,small)"), p.take(800))
    // pruned: only the 5 referenced columns are read
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int>"),
      p.take(800))
  }

  test("dimension joins broadcast (q04)") {
    val p = plan("q04_join3_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("aggregation is partial (map-side combine) (q01)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), p.take(800))
  }

  test("global top-k avoids a full sort (q02)") {
    val p = plan("q02_topk_events")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("hash split is narrow: no exchange below the presentation sort (q62)") {
    val p = plan("q62_train_split")
    // exactly one Exchange — the rangepartitioning for the final ORDER BY;
    // the split assignment itself must stay shuffle-free
    val exchanges = "(?i)exchange".r.findAllIn(p).length
    assert(exchanges <= 2, p.take(1200)) // range exchange (+AQE read) only
    assert(!p.contains("hashpartitioning"), p.take(1200))
  }

  test("decontamination joins the eval side broadcast (q69)") {
    val p = plan("q69_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("sequence packing aggregates map-side after its window (q64)") {
    val p = plan("q64_pack_sequences")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(1200))
    assert(p.contains("Window"), p.take(1200))
  }

  // (codegen participation of CosineSimilarity is asserted in
  // CosineSimilaritySpec over a join, where whole-stage codegen engages)

  test("container filter prunes warehouse partitions at plan time (P1)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val docs = Seq(
      graft.ingest.IndexBuild.RawDoc("d1", "cA", "/a/x.txt", "x.txt", "alpha beta gamma. " * 30),
      graft.ingest.IndexBuild.RawDoc("d2", "cB", "/b/y.txt", "y.txt", "delta epsilon zeta. " * 30))
      .toDS()
    graft.ingest.IndexBuild.build(spark, docs, wh,
      cfg = graft.model.ChunkingConfig(maxChunkSize = 30, overlap = 5, minChunkSize = 5))
    val scoped = spark.read.parquet(s"$wh/chunks")
      .filter(org.apache.spark.sql.functions.col("container_id") === "cA")
    val scan = scoped.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    // the filter lands in PartitionFilters (directory-level pruning), not in
    // data filters — only container cA's files are listed and read
    assert(scan.partitionFilters.exists(_.toString.contains("container_id")),
      scan.partitionFilters.toString)
    assert(scan.metadata("Location").contains(wh))
    // post-pruning listing: exactly one partition directory (cA) survives,
    // and every file the scan will read lives under it
    val selected = scan.selectedPartitions
    assert(selected.partitionCount == 1,
      s"expected 1 pruned partition, got ${selected.partitionCount}")
    assert(selected.toPartitionArray.forall(_.urlEncodedPath.contains("container_id=cA")))
  }

  test("simhash pair-join is banded, not all-pairs (q27)") {
    val p = plan("q27_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // candidate generation is an equi-join on (slice idx, slice value)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("ngram-jaccard shingle join drops high-df shingles before pairing (q24)") {
    val p = plan("q24_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("postings leg joins query terms by broadcast (K2 scale path)") {
    import spark.implicits._
    val chunks = graft.ingest.IndexBuild.chunkDocs(
      Seq(graft.ingest.IndexBuild.RawDoc("d1", "c", "/x.txt", "x.txt",
        "spark joins windows. " * 40)).toDS(),
      graft.chunk.RecursiveChunker,
      graft.model.ChunkingConfig(maxChunkSize = 30, overlap = 5, minChunkSize = 5)).toDF()
    val postings = graft.search.PostingsIndex.build(chunks)
    val parsed = graft.search.WebsearchParser.parse("spark joins")
    val p = graft.search.PostingsIndex.leg(postings, chunks, parsed, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("PCA covariance Gramian aggregates in-buffer, no explode feeds it (q86)") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val helper = new AdaptiveSparkPlanHelper {}
    val p = physical("q86_pca_covariance")
    // round-16: the Gramian accumulates in a d(d+1)/2 buffer aggregate
    // (UpperTriSums) — the old shape exploded rows*2080 terms into the
    // partial aggregate, so no Generate may sit anywhere below it. The
    // Generates left are the struct unpack above it and the means legs'
    // posexplode beside it.
    val gramian = helper.collect(p) {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == Partial &&
            e.aggregateFunction.isInstanceOf[graft.functions.UpperTriSums]) => a
    }
    assert(gramian.size == 1, p.treeString)
    assert(helper.collect(gramian.head.child) { case g: GenerateExec => g }.isEmpty,
      gramian.head.treeString)
    // the two mean joins broadcast; no window, no cartesian product
    assert(helper.collect(p) { case j: BroadcastHashJoinExec => j }.nonEmpty, p.treeString)
    assert(helper.collect(p) { case w: WindowExec => w }.isEmpty, p.treeString)
    assert(helper.collect(p) { case c: CartesianProductExec => c }.isEmpty, p.treeString)
  }

  test("quality features keep q77's shapes: keyed joins, no windows (q87)") {
    val p = plan("q87_quality_features")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("doc-granularity postings retrieval pushes the term IN filter (q61)") {
    val p = plan("q61_keyword_postings")
    // the query terms reach the postings side as a literal IN filter and
    // the lookup join broadcasts; negation is an anti join, not a filter scan
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.toLowerCase.contains("leftanti"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("boilerplate stripping stays explode+groupBy: no windows, no cartesian (q76)") {
    val p = plan("q76_strip_boilerplate")
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("bigram LM broadcasts the vocab-sized sides, shuffles only the bigram key (q77)") {
    val p = plan("q77_bigram_lm")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
  }

  test("hard-negative mining broadcasts the anchor batch (q78)") {
    val p = plan("q78_hard_negatives")
    // inequality-only join: must be a nested-loop with the BOUNDED anchor
    // side broadcast, never a cartesian of corpus x corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("semdedup pairs join on the bucket key, not all-pairs (q79)") {
    val p = plan("q79_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    // global top-50 must be TakeOrdered, not a single-partition window/sort
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("tf-idf ranking windows per source and broadcasts the N scalar (q80)") {
    val p = plan("q80_tfidf_terms")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the per-source window partitions by source — never a global window
    assert(p.contains("partitionspec=[source") ||
      p.contains("PartitionSpec: [source") || p.contains("[source#"), p.take(1600))
  }

  test("DSIR scoring joins on the token key with map-side partial aggs (q81)") {
    val p = plan("q81_dsir_weights")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial"), p.take(1200))
  }

  test("heavy-hitters recount joins the broadcast candidate set (q84)") {
    val p = plan("q84_heavy_hitters")
    // second pass must join tokens against the SMALL sketch-survivor set,
    // never shuffle a vocab-wide aggregation of all tokens
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial"), p.take(1200))
  }

  test("WARC pipeline shuffles once for sharding, then stays narrow (q91)") {
    val p = plan("q91_warc_pipeline")
    // one hash Exchange builds the shard files (real deployments skip it —
    // shards arrive as files); extraction + metrics must add NO shuffle
    // besides the final presentation sort
    val hashEx = "hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.toLowerCase.contains("sortmergejoin"),
      p.take(1500))
  }

  test("corpus pipeline composes without extra passes: keyed shuffles only (q100)") {
    val p = plan("q100_corpus_pipeline")
    // the 4 stages must fuse into one plan: scalar stages (NFC, gates,
    // hashes) pipeline into the scan; the only shuffles are the two
    // keyed windows (content_key dedup, lang/shard packing), the final
    // groupBy, and the presentation sort — never a cartesian/nested-loop
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).length <= 3, p.take(1500))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(1500))
  }

  test("salted two-phase aggregate really salts (q107)") {
    val p = plan("q107_salted_token_counts")
    // phase 1 keys on (tok, _salt): the hot-key spread must survive into
    // the physical plan, not get optimized back into a single-key agg
    assert(p.contains("_salt"), p.take(1500))
    // two keyed shuffles: (tok,_salt) partial merge + (tok) final merge
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).length >= 2, p.take(1500))
    // both phases keep map-side partial aggregation
    assert(p.contains("partial_sum"), p.take(1500))
  }

  test("as-of join plans as ONE keyed window — no join operator at all (q112)") {
    val p = plan("q112_asof_join")
    // the operator's whole claim: latest-click-at-or-before is a union +
    // running window, so the physical plan must contain a Window and NO
    // join of any kind (a theta/as-of join would be quadratic per user)
    assert(p.contains("Window"), p.take(1500))
    assert(!p.toLowerCase.contains("join"), p.take(1500))
    // one keyed shuffle on user_id feeds the window
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(1500))
  }

  test("BM25 plans with broadcast stats — no window, no self-join (q124)") {
    val p = plan("q124_bm25")
    // the scale claim: idf/avgdl come from ONE broadcast stats row and
    // a term-sized df aggregate; ranking never windows the corpus and
    // never self-joins it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // the term IN filter runs map-side, beneath the (doc, term) aggregate
    assert(p.contains("partial_count"), p.take(1500))
  }

  test("constellation matching joins on the landmark hash, not clip-pairs (q123)") {
    val p = plan("q123_audio_constellation")
    // the Wang-histogram claim: candidates come from an equi-join on the
    // packed hash (work ~ colliding landmarks); a cartesian/broadcast
    // nested loop over clips would be the quadratic anti-shape
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // offset votes + per-pair max are map-side partial aggregates
    assert(p.contains("partial_count") || p.contains("partial_max"), p.take(1500))
  }

  test("PSI drift is bin-sized after the scan: keyed aggs + broadcast bin sets (q122)") {
    val p = plan("q122_drift_psi")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
  }

  test("funnel stages are conditional-min columns: one keyed agg, no joins, no window (q134)") {
    val p = plan("q134_funnel")
    assert(!p.toLowerCase.contains("join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(p.contains("partial_min"), p.take(1500))
  }

  test("cohort retention is two keyed aggs + one equi-join — no window, no cartesian (q136)") {
    val p = plan("q136_retention_cohorts")
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("partial_min") || p.contains("partial_count"), p.take(1500))
  }

  test("snippet extraction rides the scan: no shuffle before the top-k (q138)") {
    val p = plan("q138_snippets")
    // per-row HOF arithmetic ending in TakeOrderedAndProject — the only
    // exchange allowed is the top-k's own singlePartition gather. (The
    // check targets join OPERATORS: the literal query term "join" sits
    // inside the plan's IN-list, so a substring probe would self-trip.)
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "CartesianProduct", "BroadcastNestedLoopJoin").foreach(op =>
      assert(!p.contains(op), s"unexpected $op\n" + p.take(1500)))
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).isEmpty, p.take(1500))
  }

  test("PII redaction is pure per-row regexp riding the scan: no UDF, no shuffle before the sort (q142)") {
    val p = plan("q142_pii_redact")
    // detectors must stay codegen'd regexp columns — a UDF here would
    // break whole-stage codegen on every corpus row at 100 TB
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(1500))
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "CartesianProduct").foreach(op =>
      assert(!p.contains(op), s"unexpected $op\n" + p.take(1500)))
    // only the presentation sort's range exchange
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
  }

  test("boilerplate removal is keyed aggs + anti-join — no window, no cartesian (q143)") {
    val p = plan("q143_boilerplate")
    // the strip is a LeftAnti equi-join on (source, line); detection is
    // keyed aggregation — nothing quadratic, no per-doc window
    assert(p.contains("LeftAnti"), p.take(1500))
    Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window").foreach(op =>
      assert(!p.contains(op), s"unexpected $op\n" + p.take(1500)))
    assert(p.contains("partial_count") || p.contains("partial_"), p.take(1500))
  }

  test("typed twin scans parquet with NO JSON in the query path (q141 vs q133)") {
    // q133 (schema-on-read) carries from_json per row; the typed twin
    // must not — the parse happened once at build time
    val p133 = plan("q133_json_extract")
    assert(p133.contains("from_json"), p133.take(800))
    val p141 = plan("q141_json_typed")
    assert(!p141.contains("from_json"), p141.take(1500))
  }

  test("MaxSim is broadcast tokens + partial max/sum aggregates — corpus never re-partitions (q149)") {
    val p = plan("q149_maxsim_colbert")
    // the query-token side broadcasts (the non-equi exclusion makes it a
    // broadcast nested-loop — intentional: that side is a handful of
    // rows); the token-max and doc-sum fold as partial hash aggregates,
    // so the shuffle carries candidates, never token pairs
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    assert(p.contains("partial_max"), p.take(1500))
    assert(p.contains("partial_sum"), p.take(1500))
    Seq("SortMergeJoin", "CartesianProduct").foreach(op =>
      assert(!p.contains(op), s"unexpected $op\n" + p.take(1500)))
  }

  test("hard-negative mining broadcasts queries with the label anti-predicate in the join (q150)") {
    val p = plan("q150_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    Seq("SortMergeJoin", "CartesianProduct").foreach(op =>
      assert(!p.contains(op), s"unexpected $op\n" + p.take(1500)))
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // SCALE.md's skew story has two tiers: the KNOWN-hot-key path salts
    // deterministically (q107), and UNKNOWN skew is left to AQE's runtime
    // re-plan. This pins the second tier actually firing: a shuffle join
    // whose one hot key dwarfs the median partition must execute with the
    // skew-split reader (thresholds lowered to test scale — the decision
    // logic is size-ratio-based and identical at 100 TB).
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val left = spark.range(0, 200000)
        .select(when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 7).as("w"))
      val j = left.join(right, "k")
      // run it: AQE decides from RUNTIME shuffle stats, so the final plan
      // exists only after an action
      val n = j.queryExecution.toRdd.count()
      // key 0: 100000 left rows x 1 right row; odd left keys 1..1999: 1000
      assert(n == 101000L, s"join row count $n")
      val p = j.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("skew"), p.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SparkSessionExtensions registers cosine_sim + dot_product for SQL users") {
    new graft.functions.GraftExtensions()
    // function injection is builder-time; validate the registry path used
    // by the extension directly
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.DotProduct.register(spark)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "poly_hash", exprs => graft.functions.PolyHash(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => graft.text.NfcNormalize(exprs(0)), "built-in")
    import spark.implicits._
    Seq((Array(1f, 0f), Array(1f, 0f), "x", "é")).toDF("a", "b", "s", "dec")
      .createOrReplaceTempView("ext_v")
    val r = spark.sql(
      "SELECT cosine_sim(a, b) s, dot_product(a, b) d, poly_hash(s) h, nfc_normalize(dec) n FROM ext_v").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 1.0)
    assert(r.getLong(2) == (7L * 31 + 'x') % graft.functions.PolyHash.P)
    assert(r.getString(3) == "\u00e9")
  }
}
