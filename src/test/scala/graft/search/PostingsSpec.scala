package graft.search

import graft.TestSpark
import graft.ingest.IndexBuild
import graft.model.ChunkingConfig
import org.scalatest.funsuite.AnyFunSuite

class PostingsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val chunks = {
    val docs = Seq(
      IndexBuild.RawDoc("d1", "c1", "/a.txt", "a.txt",
        "spark shuffle tuning guide. spark partitions matter."),
      IndexBuild.RawDoc("d2", "c1", "/b.txt", "b.txt",
        "running jobs with shuffle services enabled."),
      IndexBuild.RawDoc("d3", "c1", "/c.txt", "c.txt",
        "nothing relevant in this one at all."),
      IndexBuild.RawDoc("d4", "c2", "/d.txt", "d.txt",
        "spark shuffle in another container."))
    val wh = java.nio.file.Files.createTempDirectory("graft-post").toString
    graft.TestWarehouse.build(wh, docs,
      cfg = ChunkingConfig(maxChunkSize = 50, overlap = 0, minChunkSize = 2))
    graft.store.TxLog.read(spark, wh, "chunks")
  }
  private lazy val postings = PostingsIndex.build(chunks)

  test("postings carry per-config positional lists") {
    val spark1 = postings.filter($"term" === "spark" && $"config" === "simple" &&
      $"chunk_id" === "d1:0").select("positions").as[Seq[Int]].head()
    assert(spark1 == Seq(0, 4)) // "spark" at token positions 0 and 4
    // stemmed config: "running" -> "run"
    assert(postings.filter($"term" === "run" && $"config" === "english").count() == 1)
    // stopword slots are absent from the english config
    assert(postings.filter($"config" === "english" && $"term" === "the").count() == 0)
  }

  test("postings leg agrees with the scan leg on non-phrase queries") {
    Seq("spark shuffle", "shuffle", "running", "spark -partitions",
      "spark OR running", "spark absentterm").foreach { q =>
      val parsed = WebsearchParser.parse(q)
      val viaPostings = PostingsIndex.leg(postings, chunks, parsed, 10)
        .select("chunk_id", "raw_k").as[(String, Double)].collect().toMap
      val viaScan = KeywordSearch.leg(chunks, q, 10)
        .select("chunk_id", "raw_k").as[(String, Double)].collect().toMap
      assert(viaPostings.keySet == viaScan.keySet, s"query '$q'")
      viaPostings.foreach { case (id, r) =>
        assert(math.abs(r - viaScan(id)) < 1e-12, s"query '$q' chunk $id")
      }
    }
  }

  test("bm25 rankFn: postings leg == scan leg bit-for-bit; match set unchanged") {
    Seq("spark shuffle", "shuffle", "running", "spark -partitions",
      "spark OR running", "\"spark shuffle\"").foreach { q =>
      val parsed = WebsearchParser.parse(q)
      val viaPostings = PostingsIndex.leg(postings, chunks, parsed, 10, rankFn = "bm25")
        .select("chunk_id", "raw_k").as[(String, Double)].collect().toMap
      val viaScan = KeywordSearch.leg(chunks, q, 10, rankFn = "bm25")
        .select("chunk_id", "raw_k").as[(String, Double)].collect().toMap
      assert(viaPostings.keySet == viaScan.keySet, s"query '$q'")
      viaPostings.foreach { case (id, r) =>
        assert(math.abs(r - viaScan(id)) < 1e-12, s"query '$q' chunk $id")
      }
      // the rank function changes SCORES only — the websearch match set
      // (AND/OR/negation/phrases) is identical under both
      val cd = KeywordSearch.leg(chunks, q, 10)
        .select("chunk_id").as[String].collect().toSet
      assert(viaScan.keySet == cd, s"query '$q': match set drifted")
      // matched chunks containing a query term carry a positive BM25 score
      assert(viaScan.values.forall(_ >= 0.0), s"query '$q'")
    }
  }

  test("phrase queries run on postings and agree with the scan leg (round 7)") {
    Seq(
      "\"spark shuffle\"",          // matching phrase
      "\"shuffle spark\"",          // reversed: adjacency must fail
      "\"spark partitions\"",       // non-adjacent words: no match
      "\"shuffle services\" running", // phrase AND term
      "spark -\"shuffle services\"",  // negated phrase excludes d2... and others
      "\"spark shuffle\" OR running").foreach { q =>
      val parsed = WebsearchParser.parse(q)
      val viaPostings = PostingsIndex.leg(postings, chunks, parsed, 10)
        .select("chunk_id", "raw_k").as[(String, Double)].collect().toMap
      val viaScan = KeywordSearch.leg(chunks, q, 10)
        .select("chunk_id", "raw_k").as[(String, Double)].collect().toMap
      assert(viaPostings.keySet == viaScan.keySet, s"query '$q'")
      viaPostings.foreach { case (id, r) =>
        assert(math.abs(r - viaScan(id)) < 1e-12, s"query '$q' chunk $id")
      }
    }
    // sanity on the fixture: the matching phrase finds d1, the reversal none
    assert(PostingsIndex.leg(postings, chunks,
        WebsearchParser.parse("\"spark shuffle\""), 10)
      .select("chunk_id").as[String].collect().forall(_.startsWith("d")))
    assert(PostingsIndex.leg(postings, chunks,
        WebsearchParser.parse("\"shuffle spark\""), 10).count() == 0)
  }

  test("container scoping via partition column") {
    val parsed = WebsearchParser.parse("spark shuffle")
    val hits = PostingsIndex.leg(
      postings.filter($"container_id" === "c1"), chunks, parsed, 10)
      .select("chunk_id").as[String].collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.startsWith("d1")))
  }
}
