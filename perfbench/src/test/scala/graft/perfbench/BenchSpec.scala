package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {

  test("nearest-rank percentiles are real samples with exact counts beyond") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0, 4.0), 50) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.rank(10, 50) == 5)
    assert(Stats.rank(10, 51) == 6)
    assert(Stats.rank(3, 0.1) == 1)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 400).map(_.toDouble)
    val (p, v, beyond) = Stats.tail(xs)
    assert(p == 97 && v == 388.0 && beyond == 12)
    // p98 would leave only 8 samples beyond
    assert(400 - Stats.rank(400, 98) < 10)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90, 90.0, 10)))
    // too few samples for any tail: falls back to the median
    assert(Stats.tailPercentile(12) == 50)
    assert(Stats.tail(Seq(5.0, 1.0, 3.0))._1 == 50)
    assert(Stats.tailPercentile(0) == 50)
  }

  test("slice medians ignore a burst inside one slice") {
    // four 1 s slices, 20 ops each; slice 3 is slow and CPU-heavy
    val s = 1000000000L
    val bounds = (0 to 4).map(k => (k * s, k * 2000L * 1000000L + (if (k >= 3) 50000000000L else 0L)))
    val ends = (0 until 80).map(i => (i / 20) * s + (i % 20) * (s / 20))
    val lat = (0 until 80).map(i => if (i / 20 == 2) 500.0 else 10.0 + i % 20)
    val Some((p50, perS, cpu)) = Stats.sliceMedians(ends, lat, bounds)
    assert(p50 == 19.0)
    assert(perS == 20.0)
    assert(cpu == 100.0)
    // too few ops in a slice: no slice statistics
    assert(Stats.sliceMedians(ends.take(30), lat.take(30), bounds).isEmpty)
  }

  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      Span(1, "root", 0, 100, 0, 1),
      Span(2, "a", 10, 40, 1, 1),
      Span(3, "b", 30, 60, 1, 1), // overlaps a: 10..60 counted once
      Span(4, "c", 90, 130, 1, 1), // clipped to the parent's end
      Span(5, "grandchild", 12, 20, 2, 1))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 8)
    assert(self(3) == 30)
    assert(self(4) == 40)
    assert(self(5) == 8)
    assert(Trace.coveredNs(Nil, 0, 10) == 0)
    assert(Trace.coveredNs(Seq((0L, 5L), (5L, 10L)), 0, 10) == 10)
  }

  test("the tracer records nested spans with their parent and runs the body") {
    val t = new Tracer
    assert(t.span("x")(_ => 41) + 1 == 42)
    t.span("outer", reqId = 7) { id => t.span("inner", id, 7)(_ => ()) }
    val Seq(_, inner, outer) = t.all
    assert(inner.parent == outer.id && outer.parent == 0L && inner.reqId == 7)
    assert(outer.startNs <= inner.startNs && inner.endNs <= outer.endNs)
    assert(Trace.spanCostNs(n = 1000, reps = 3) > 0)
  }

  test("application-thread CPU keeps the CPU of a benchmark thread that ended") {
    val a0 = Proc.appCpu()
    val t = Proc.thread("burn") {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      var x = 0L
      while (mx.getCurrentThreadCpuTime < 200000000L) x += 1
    }
    t.start(); t.join()
    assert(!t.isAlive)
    val a1 = Proc.appCpu()
    assert(a1.since(a0) >= 150000000L, s"ended thread's CPU lost: ${a1.since(a0)} ns")
    // counted once, not again as a live thread
    assert(Proc.appCpu().since(a1) < 150000000L)
    // a thread missing from the later sample drops out with its earlier CPU
    assert(CpuSample(Map(1L -> 50L, 2L -> 7L)).since(CpuSample(Map(1L -> 20L, 3L -> 900L))) == 37L)
  }

  test("the generator is deterministic per seed and sentinels are unique") {
    def inputs(seed: Long) = {
      val g = new Gen(seed)
      val docs = g.corpus(200, 20, 120)
      (docs, g.requests(0, 320) ++ g.sentinelQueries(20, 180), g.writes(40, 200, 180, 20, 120))
    }
    val a = inputs(7)
    val b = inputs(7)
    assert(Gen.fingerprint(a._1, a._2, a._3) == Gen.fingerprint(b._1, b._2, b._3))
    val c = inputs(8)
    assert(Gen.fingerprint(a._1, a._2, a._3) != Gen.fingerprint(c._1, c._2, c._3))

    val docs = a._1
    val toks = docs.map(d => graft.text.Tokenizer.simple(d.content))
    docs.zip(toks).foreach { case (d, ts) =>
      assert(ts.count(_ == d.sentinel) == 1, d.path)
      assert(ts.length >= 20 && ts.length <= 120)
    }
    assert(docs.map(_.sentinel).distinct.length == docs.length)
    val all = toks.flatten.groupBy(identity).map { case (k, v) => k -> v.length }
    docs.foreach(d => assert(all(d.sentinel) == 1))
    // thousands of distinct terms, Zipf-skewed
    assert(new Gen(7).vocab.distinct.length == 4000)
    assert(all.size > 1000)
    // sentinel queries hit distinct documents of the read-only head
    val sentinels = a._2.flatMap(_.sentinelOf)
    assert(sentinels.length == 20 && sentinels.distinct.length == 20 && sentinels.forall(_ < 180))
  }

  test("reader streams are sessions that page deeper and refine") {
    val reqs = new Gen(11).requests(0, 160)
    assert(reqs.forall(_.sentinelOf.isEmpty))
    reqs.grouped(Gen.SessionLen).foreach { case Seq(a, b, c, d) =>
      assert(Seq(a, b, c, d).map(_.topK) == Seq(5, 10, 10, 20))
      assert(Seq(a, b, c, d).map(_.mode).distinct.length == 1)
      assert(b.query == a.query && d.query == c.query)
      assert(c.query.startsWith(a.query + " ") && c.query.split(' ').length == a.query.split(' ').length + 1)
      assert(Seq(a, b, c).forall(r => r.snippetTokens.isEmpty && r.mmrLambda.isEmpty))
      assert(d.snippetTokens.isDefined != d.mmrLambda.isDefined)
    }
    // every block of four sessions has the same composition
    reqs.grouped(4 * Gen.SessionLen).foreach { blk =>
      val firsts = blk.grouped(Gen.SessionLen).map(_.head).toSeq
      assert(firsts.map(_.mode).sorted == Seq("hybrid", "hybrid", "keyword", "semantic"))
      assert(firsts.map(_.query.split(' ').length).sorted == Seq(1, 1, 2, 2))
      assert(blk.count(_.mmrLambda.isDefined) == 1 && blk.count(_.snippetTokens.isDefined) == 3)
    }
    assert(reqs != new Gen(11).requests(1, 160))
  }

  test("writer stream: fixed new/upsert/new/delete pattern over the tail") {
    val ops = new Gen(3).writes(12, 100, 90, 20, 60)
    assert(ops.map(_.getClass.getSimpleName).take(4) ==
      Seq("NewDocs", "Upsert", "NewDocs", "Delete"))
    ops.foreach {
      case Upsert(o, f) => assert(o.path == f.path && o.sentinel != f.sentinel && o.idx >= 90)
      case Delete(ds) => assert(ds.forall(_.idx >= 90))
      case NewDocs(ds) => assert(ds.forall(_.idx >= 100))
    }
  }

  test("listener windows attribute jobs and tasks by time") {
    val c = new SparkCounters
    c.recordJobStart(0, 100); c.recordTask(101, 5, 1, 0); c.recordJobEnd(0)
    c.recordJobStart(1, 200); c.recordTask(201, 7, 2, 1); c.recordTask(202, 3, 0, 0)
    c.recordJobEnd(1)
    assert(c.window(100, 150) == Counts(1, 1, 0.005, 0.001, 0.0))
    assert(c.window(190, 300) == Counts(1, 2, 0.010, 0.002, 0.001))
    assert(c.window(0, 99).jobs == 0)
    assert(c.window(0, 1000).jobs == 2)
  }

  test("listener windows around real Spark calls count exactly their jobs") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      val (_, f1, t1) = SparkCounters.windowed(spark.sparkContext.parallelize(1 to 100, 4).count())
      val (_, f2, t2) = SparkCounters.windowed(())
      val (_, f3, t3) = SparkCounters.windowed {
        spark.sparkContext.parallelize(1 to 10, 3).count()
        spark.sparkContext.parallelize(1 to 10, 2).count()
      }
      c.quiesce()
      assert(c.window(f1, t1).jobs == 1 && c.window(f1, t1).tasks == 4)
      assert(c.window(f2, t2) == Counts(0, 0, 0, 0, 0))
      assert(c.window(f3, t3).jobs == 2)
      assert(c.window(f3, t3).tasks == 5)
    } finally spark.stop()
  }

  test("the result object is plain JSON with exactly the contract's keys") {
    val r = new Report
    r.put("setup_s", 1.25, "s")
    r.put("p50_ms", 0.1 + 0.2, "ms")
    r.count(10, 0)
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.json(Seq("setup_s", "p50_ms")))
    assert(n.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(n.get("correct").asBoolean() && n.get("attempted").asLong() == 10)
    assert(n.get("metrics").get("p50_ms").get("value").asDouble() == 0.1 + 0.2)
    assert(n.get("metrics").get("setup_s").get("unit").asText() == "s")
    assertThrows[IllegalStateException](r.json(Seq("missing")))
    r.fail("wrong answer")
    val bad = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.json(Seq("setup_s")))
    assert(!bad.get("correct").asBoolean() && bad.get("failed").asLong() == 1)
  }
}
