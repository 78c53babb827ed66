package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted postings as a batch operator (SURVEY §4.3; the GIN-index
  * analog): the keyword leg as an equi-join against a term-keyed frame,
  * so work scales with the posting lists of the queried terms, not the
  * corpus. q61 builds postings over its documents and answers through
  * [[leg]]; the product's keyword index is the serving cache
  * (`HybridSearch.servingIndex`), and nothing stores postings.
  *
  * Rows: (container_id, config, term, chunk_id, positions array<int>).
  */
object PostingsIndex {

  /** Build postings from the chunks table (tokens_simple / tokens_english
    * are positional — english keeps empty slots for stopwords, so both
    * configs share the position space).
    */
  def build(chunks: DataFrame): DataFrame =
    // ONE pass over the chunk rows (round-15 optimization): the two
    // config arrays are positional twins (tokens_english =
    // IndexBuild.positionalEnglish(tokens_simple), same length by
    // construction), so zip them and explode once, fanning each position
    // into its config rows in-row — the prior per-config posexplode +
    // union scanned and exploded every chunk twice. Identical output
    // (PostingsSpec leg-equivalence + the q61 end-to-end oracle).
    chunks
      .select(col("container_id"), col("chunk_id"),
        posexplode(arrays_zip(col("tokens_simple"), col("tokens_english")))
          .as(Seq("pos", "t")))
      .select(col("container_id"), col("chunk_id"), col("pos"), explode(array(
        struct(lit("simple").as("config"), col("t.tokens_simple").as("term")),
        struct(lit("english").as("config"), col("t.tokens_english").as("term"))))
        .as("ct"))
      .select(col("container_id"), col("chunk_id"), col("pos"),
        col("ct.config").as("config"), col("ct.term").as("term"))
      .filter(col("term") =!= "")
      .groupBy("container_id", "config", "term", "chunk_id")
      .agg(sort_array(collect_list("pos")).as("positions"))

  /** Keyword leg over postings: single-term atoms, OR-groups, negation,
    * AND phrase atoms — adjacency is computed FROM the stored position
    * lists (phrase start positions = positions(w1) ∩ (positions(w2)−1)
    * ∩ … on the simple config, the same consecutive-simple-positions
    * rule as the scan leg's `atomPositions`), so phrase queries no
    * longer fall back to scanning the corpus: a phrase costs its words'
    * posting lists plus a per-chunk intersection.
    *
    * Shape: tiny lookup table of the query's (config, term, group) →
    * broadcast equi-join into postings → per-(chunk, group) position union
    * → AND check (all groups present) → cover-density rank → top-k.
    *
    * An explicit `term IN (...)` filter on the postings side prunes the
    * probe: a broadcast join alone cannot, and the literal IN pushes
    * beneath the build aggregation when postings are composed in-plan.
    */
  def leg(
      postings: DataFrame,
      chunks: DataFrame,
      query: WebsearchParser.ParsedQuery,
      k: Int,
      rankFn: String = "cover_density"): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    // stopword-only groups vanish (the to_tsquery('english') behavior the
    // scan leg's english config applies); remaining groups AND together
    val effective = query.groups.filter(_.exists(_.english.nonEmpty))
    val nGroups = effective.length

    val lookups = effective.zipWithIndex.flatMap { case (g, gi) =>
      g.flatMap { a =>
        if (a.isPhrase) Seq.empty
        else Seq((a.simple.head, "simple", gi)) ++
          a.english.headOption.map(t => (t, "english", gi))
      }
    }
    // phrase atoms: one lookup row per word, tagged with a phrase id and
    // the word's offset inside the phrase
    val phrases = effective.zipWithIndex.flatMap { case (g, gi) =>
      g.filter(_.isPhrase).zipWithIndex.map { case (a, pi) =>
        (gi, s"$gi:$pi", a.simple)
      }
    }
    val negPhrases = query.negated.filter(_.isPhrase).zipWithIndex
      .map { case (a, pi) => (s"n:$pi", a.simple) }
    val phraseLookups = phrases.flatMap { case (gi, pid, words) =>
      words.zipWithIndex.map { case (w, j) => (w, "simple", gi, pid, j, words.length) }
    } ++ negPhrases.flatMap { case (pid, words) =>
      words.zipWithIndex.map { case (w, j) => (w, "simple", -1, pid, j, words.length) }
    }
    val negLookups = query.negated.flatMap { a =>
      if (a.isPhrase) Seq.empty
      else Seq((a.simple.head, "simple")) ++ a.english.headOption.map((_, "english"))
    }
    if (lookups.isEmpty && phrases.isEmpty) return spark.emptyDataFrame

    val allTerms = (lookups.map(_._1) ++ negLookups.map(_._1) ++
      phraseLookups.map(_._1)).distinct
    val scoped = postings.filter(col("term").isin(allTerms: _*))

    // phrase start positions per (chunk, gi, pid): intersect each word's
    // positions shifted by its offset; chunks missing any word drop at
    // the matched-word count
    val phraseRows: Option[DataFrame] =
      if (phraseLookups.isEmpty) None
      else {
        val plDf = broadcast(phraseLookups
          .toDF("term", "config", "gi", "pid", "widx", "nwords"))
        val intersectUdf = udf { (words: Seq[org.apache.spark.sql.Row]) =>
          // rows of (widx, positions); same adjacency rule as the scan
          // leg's atomPositions: start p matches iff word j sits at p+j
          val byIdx = words.map(r => r.getInt(0) -> r.getSeq[Int](1).toSet).toMap
          val first = byIdx(0)
          first.filter(p => byIdx.forall { case (j, ps) => ps.contains(p + j) })
            .toSeq.sorted
        }
        Some(scoped.join(plDf, Seq("term", "config"))
          .groupBy("chunk_id", "gi", "pid")
          .agg(
            countDistinct("widx").as("mw"),
            first(col("nwords")).as("nw"),
            collect_list(struct(col("widx"), col("positions"))).as("wordpos"))
          .filter(col("mw") === col("nw"))
          .withColumn("pos", intersectUdf(col("wordpos")))
          .filter(size(col("pos")) > 0)
          .select("chunk_id", "gi", "pid", "pos"))
      }

    val lookupDf = broadcast(lookups.toDF("term", "config", "gi"))
    val base = scoped.join(lookupDf, Seq("term", "config"))
    // phrase groups join the same per-(chunk, group) position union: a
    // phrase's START positions behave exactly like a term's positions
    val groupRows = phraseRows match {
      case Some(pr) =>
        base.select(col("chunk_id"), col("gi"), col("positions"))
          .unionByName(pr.filter(col("gi") >= 0)
            .select(col("chunk_id"), col("gi"), col("pos").as("positions")))
      case None => base.select(col("chunk_id"), col("gi"), col("positions"))
    }
    val candidates = groupRows
      .groupBy("chunk_id", "gi")
      .agg(array_sort(array_distinct(flatten(collect_list("positions")))).as("pos"))
      .groupBy("chunk_id")
      .agg(collect_list(struct(col("gi"), col("pos"))).as("groups"),
        countDistinct("gi").as("matched"))
      .filter(col("matched") === nGroups)

    val negChunkSets = Seq(
      if (negLookups.isEmpty) None
      else Some(scoped
        .join(broadcast(negLookups.toDF("term", "config")), Seq("term", "config"))
        .select("chunk_id")),
      phraseRows.filter(_ => negPhrases.nonEmpty)
        .map(_.filter(col("gi") === -1).select("chunk_id"))
    ).flatten
    val filtered =
      if (negChunkSets.isEmpty) candidates
      else candidates.join(
        negChunkSets.reduce(_.unionByName(_)).distinct(),
        Seq("chunk_id"), "left_anti")

    val rankUdf = udf { groups: Seq[org.apache.spark.sql.Row] =>
      val positions = groups
        .map(r => r.getSeq[Int](1).toVector)
        .filter(_.nonEmpty)
      CoverDensityRank.rank32(positions.toVector)
    }
    val covered = filtered
      .withColumn("raw_k", rankUdf(col("groups")))
      // tf: total matched positions across groups (positions are distinct
      // per group and terms are distinct tokens, so this equals the scan
      // leg's plain term-frequency count) — the oracle-checkable
      // projection of the rank (q21's discipline; q61 pins it)
      .withColumn("tf",
        expr("aggregate(transform(groups, g -> size(g.pos)), 0, (a, s) -> a + s)"))
    // rankFn="bm25": the MATCH pipeline above is untouched (candidates,
    // negation, phrase adjacency); only the score column is replaced by
    // the shared BM25 computed over the same scoped chunks frame as the
    // scan leg — leg scores stay bit-identical (PostingsSpec pins it)
    val ranked =
      if (rankFn == "bm25") KeywordSearch.bm25Rank(covered, chunks, query, "raw_k")
      else covered
    ranked
      .select("chunk_id", "raw_k", "tf")
      .orderBy(desc("raw_k"), col("chunk_id"))
      .limit(k)
      .join(chunks.select("chunk_id", "document_id", "content", "metadata"), Seq("chunk_id"))
  }
}
