package graft.perfbench

import graft.ingest.IndexBuild
import graft.search.HybridSearch
import graft.store.TxLog
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What every workload runner gets. */
final case class Ctx(spark: SparkSession, counters: SparkCounters, seed: Long,
    seconds: Int, root: File, report: Report)

/** search_hot and search_spill: closed-loop REST clients, each on its own
  * keep-alive connection, against one serving stack. */
object ServingWorkload {
  val SetupReps = 5
  /** Documents of the unmeasured first set-up, which loads and compiles
    * the set-up path once. */
  val ColdSetupDocs = 40
  val WarmupS = 3
  val SliceS = 1

  def untraced(ctx: Ctx, spec: ServingSpec): Unit = {
    import ctx._
    val gen = new Gen(seed)
    val corpus = spec.corpus(gen)

    // set-up = ingest the corpus into a fresh warehouse, open the store,
    // start the server and answer the first search (which builds the
    // serving index). A first set-up on a small corpus loads and compiles
    // that path; then SetupReps set-ups of the corpus, median reported.
    // setup_s is the CPU of the application threads, which time slices
    // lost to other tenants of the host do not move; wall time is noted.
    val (_, coldMs) = Proc.timed {
      val c = new Stack(spark, new File(root, "wh-cold"), corpus.take(ColdSetupDocs), spec)
      firstSearch(c, corpus, report)
      c.stop()
    }
    report.note("cold_setup_wall_s", coldMs / 1000, "s")
    val setupWall = ArrayBuffer[Double]()
    val setupCpu = ArrayBuffer[Double]()
    var st: Stack = null
    (0 until SetupReps).foreach { k =>
      if (st != null) st.stop()
      val c0 = Proc.appCpu()
      val t0 = System.nanoTime()
      st = new Stack(spark, new File(root, s"wh$k"), corpus, spec)
      firstSearch(st, corpus, report)
      setupWall += (System.nanoTime() - t0) / 1e9
      setupCpu += Proc.appCpu().since(c0) / 1e9
      Proc.phase(f"set-up ${k + 1}: ${setupWall.last}%.3f s wall, ${setupCpu.last}%.3f s cpu")
    }
    report.put("setup_s", Stats.median(setupCpu.toSeq), "s")
    report.note("setup_wall_s", Stats.median(setupWall.toSeq), "s")
    Proc.phase("set-up done")

    // set-up garbage and the cleaner's work on the dropped stacks go now,
    // not in the measured phase
    System.gc()
    // warm-up: the same client mix on other streams, not measured, so
    // JIT compilation of the search path stays out of the measured phase
    val warmStop = System.nanoTime() + WarmupS * 1000000000L
    val warm = (0 until ServingSpec.Readers).map(i => Proc.thread(s"warm-$i")(
      Serving.reader(st, corpus, gen, spec, 100 + i, warmStop, new Rec)))
    warm.foreach(_.start())
    warm.foreach(_.join())

    val cpu0 = Proc.cpuNs()
    val app0 = Proc.appCpu()
    val t0 = System.nanoTime()
    val stopAt = t0 + seconds * 1000000000L
    val recs = (0 until ServingSpec.Readers).map(_ => new Rec)
    val threads = recs.zipWithIndex.map { case (rec, i) =>
      Proc.thread(s"reader-$i")(Serving.reader(st, corpus, gen, spec, i, stopAt, rec))
    }
    threads.foreach(_.start())
    // slice edges every SliceS seconds: (wall, application-thread CPU
    // since t0, summed slice by slice)
    var prev = app0
    var cum = 0L
    val bounds = (0 to seconds / SliceS).map { k =>
      if (k == 0) (t0, 0L)
      else {
        val at = t0 + k * SliceS * 1000000000L
        // one wake-up per edge: this thread's CPU counts in the slices
        var left = at - System.nanoTime()
        while (left > 0) {
          Thread.sleep(left / 1000000L, (left % 1000000L).toInt)
          left = at - System.nanoTime()
        }
        val now = Proc.appCpu()
        cum += now.since(prev)
        prev = now
        (System.nanoTime(), cum)
      }
    }
    threads.foreach(_.join())
    Proc.phase("measured phase done")
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuMs = Proc.ms(Proc.cpuNs() - cpu0)
    val appCpuMs = Proc.ms(Proc.appCpu().since(app0))

    recs.foreach { r =>
      report.count(r.attempted, r.failed)
      r.errors.foreach(report.explain)
    }
    val reads = recs.flatMap(_.lat)
    if (reads.isEmpty) report.fail("no search completed")
    else {
      val (tp, tv, beyond) = Stats.tail(reads)
      // slice medians where every slice has enough ops, else whole phase
      val (p50, perS, cpuPerOp) =
        Stats.sliceMedians(recs.flatMap(_.ends), reads, bounds)
          .getOrElse((Stats.median(reads), reads.length / wallS, appCpuMs / reads.length))
      report.put("p50_ms", p50, "ms")
      report.put("tail_ms", tv, "ms")
      report.put("ops_per_s", perS, "1/s")
      // CPU per search moves with the host's load (on a shared 4-vCPU VM
      // its spread over ten runs of search_hot reached 22%), so it is
      // reported, not gated
      report.note("cpu_ms_per_op", cpuPerOp, "ms")
      report.note("tail_percentile", tp, "pct")
      report.note("tail_samples_beyond", beyond, "count")
      report.note("searches", reads.length, "count")
    }
    report.note("cpu_s", cpuMs / 1000, "s")
    report.note("app_cpu_s", appCpuMs / 1000, "s")

    Serving.sentinelPass(st, corpus, gen, spec, report)
    Serving.verify(spark, st, recs.flatMap(_.samples), spec.docs.toLong, report)
    Proc.phase("checks done")
    report.put("live_heap_mb", Proc.liveHeapMb(), "MB")
    st.stop()
  }

  /** The first search of a fresh stack, checked like any other. */
  def firstSearch(st: Stack, corpus: IndexedSeq[Doc], report: Report): Unit = {
    val c = new Client(st.port)
    try Serving.search(c, st, corpus,
        Req(corpus(0).sentinel, "keyword", 5, None, None, Some(0))) match {
      case Left(e) => report.fail(e)
      case Right(_) => report.pass()
    } finally c.close()
  }

  /** Traced run: one client, so every Spark job and span belongs to
    * exactly one call. Measures the api/search/embed/ingest/store layers
    * on a fresh stack, then checks the stack's answers. */
  def traced(ctx: Ctx, spec: ServingSpec, tracer: Tracer): Unit = {
    import ctx._
    val gen = new Gen(seed)
    val corpus = spec.corpus(gen)
    val st = new Stack(spark, new File(root, "wh-trace"), corpus, spec)
    firstSearch(st, corpus, report)
    val c = new Client(st.port)
    val reqs = gen.requests(0, 4096)
    var next = 0
    def nextReq(): Req = { val r = reqs(next % reqs.length); next += 1; r }

    val runFrom = System.currentTimeMillis()
    val windows = ArrayBuffer[(String, Long, Long)]()
    def call[T](name: String, parent: Long, req: Long)(f: => T): T = {
      val (r, from, to) = SparkCounters.windowed(tracer.span(name, parent, req)(_ => f))
      windows += ((name, from, to))
      r
    }

    // request stream: REST and direct calls are sibling measurements of
    // the same request, grouped under one root span
    val stop = System.nanoTime() + math.max(1.5, seconds * 0.45) * 1e9
    var reqId = 0L
    while (System.nanoTime() < stop) {
      val r = nextReq()
      reqId += 1
      val sr = Serving.request(st.store, st.cid, r)
      tracer.span("request", 0L, reqId) { root =>
        call("api.rest_search", root, reqId)(Serving.search(c, st, corpus, r)) match {
          case Left(e) => report.fail(e)
          case Right(_) => report.pass()
        }
        call("api.store_search", root, reqId)(st.store.search(sr))
        val ix = st.store.currentIndex
        call(s"search.hybrid.${r.mode}", root, reqId)(HybridSearch.search(ix, sr, st.embedder))
        val plain = sr.copy(mmrLambda = None, snippetTokens = None)
        call("search.keyword_leg", root, reqId)(
          HybridSearch.search(ix, plain.copy(mode = "keyword"), st.embedder))
        call("search.vector_leg", root, reqId)(
          HybridSearch.search(ix, plain.copy(mode = "semantic"), st.embedder))
        call("embed.query", root, reqId)(st.embedder.embed(sr.query))
      }
    }

    // transport calibration: keep-alive vs fresh connection
    (0 until 30).foreach { _ =>
      tracer.span("api.health")(_ => c.send("GET", "/health"))
      tracer.span("api.health_fresh")(_ => Client.freshGet(st.port, "/health"))
    }

    // serving index build over the current snapshot, as the store does it
    val sv = st.store.effectiveSettings("serving")
    def build(maxRows: Int): HybridSearch.Index = HybridSearch.servingIndex(
      TxLog.read(spark, st.dir.getPath, "chunks"), TxLog.read(spark, st.dir.getPath, "vectors"),
      partitions = 8, keywordDriverCacheMaxRows = maxRows,
      driverCacheMaxBytes = sv("driver_cache_max_bytes").toLong)
    def drop(ix: HybridSearch.Index): Unit = {
      ix.serving.foreach(_.unpersist()); ix.chunks.unpersist(); ix.vectors.unpersist()
    }
    (0 until 2).foreach { _ =>
      drop(call("search.index_build", 0L, 0L)(build(sv("keyword_driver_cache_max_rows").toInt)))
    }
    // one block of sessions on a spilled index of the same snapshot, so
    // the per-query Spark work of the spilled path shows on every workload
    val spill = build(ServingSpec.SpillRows)
    reqs.take(16).foreach { r =>
      call("search.spill_query", 0L, 0L)(
        HybridSearch.search(spill, Serving.request(st.store, st.cid, r), st.embedder))
    }
    drop(spill)
    (0 until 5).foreach(_ => call("store.snapshot", 0L, 0L)(TxLog.snapshot(spark, st.dir.getPath)))

    // writer calls through REST: new, upsert, new, delete; each upload's
    // batch then again through the ingest stages directly
    val ops = spec.writes(gen, 4)
    val bytesRatio = ArrayBuffer[Double]()
    val files = ArrayBuffer[Double]()
    val cycles = ArrayBuffer[Serving.Cycle]()
    var chunks = 0L
    ops.zipWithIndex.foreach { case (op, i) =>
      val before = Proc.dirBytes(st.dir)
      val v0 = TxLog.currentVersion(spark, st.dir.getPath)
      val name = if (op.isInstanceOf[Delete]) "store.delete" else "store.upload"
      call(name, 0L, -1L - i)(Serving.writeCycle(c, st, op)) match {
        case Left(e) => report.fail(e)
        case Right(_) if name == "store.delete" => report.pass()
        case Right(cy) =>
          report.pass()
          cycles += cy
          bytesRatio += (Proc.dirBytes(st.dir) - before).toDouble / math.max(1L, cy.userBytes)
          val hist = TxLog.history(spark, st.dir.getPath)
            .filter(s"version > $v0").selectExpr("sum(added_files + removed_files)", "count(*)")
            .head()
          files += hist.getLong(0).toDouble / math.max(1L, hist.getLong(1))
      }
      val docs = op match { case NewDocs(ds) => ds; case Upsert(_, f) => Seq(f); case _ => Nil }
      if (docs.nonEmpty) {
        import spark.implicits._
        val ds = spark.createDataset(docs.map(d => IndexBuild.RawDoc(st.docId(d.path), st.cid,
          d.path, d.path.substring(d.path.lastIndexOf('/') + 1), d.content)))
        val built = call("ingest.chunk", 0L, 0L) {
          val b = IndexBuild.chunkDocs(ds, graft.chunk.RecursiveChunker, graft.model.ChunkingConfig())
            .persist()
          b.count(); b
        }
        chunks += call("ingest.embed", 0L, 0L)(
          IndexBuild.embedChunks(built, None, st.embedder).count())
        built.unpersist()
      }
    }
    val runTo = System.currentTimeMillis()
    counters.quiesce()

    val spans = tracer.all
    def durs(name: String): Seq[Double] = spans.filter(_.name == name).map(s => Proc.ms(s.durNs))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def put(n: String, v: Double): Unit = report.put(n, v, Layers.all.toMap.apply(n))
    val byReq = spans.filter(_.reqId > 0).groupBy(_.reqId)
    def reqMs(ss: Seq[Span], prefix: String) =
      ss.find(_.name.startsWith(prefix)).map(s => Proc.ms(s.durNs))
    put("api.health_ms", med(durs("api.health")))
    put("api.health_fresh_ms", med(durs("api.health_fresh")))
    put("api.rest_search_ms", med(durs("api.rest_search")))
    put("api.store_search_ms", med(durs("api.store_search")))
    put("api.rest_self_ms", med(byReq.values.toSeq.flatMap(ss =>
      for (a <- reqMs(ss, "api.rest_search"); b <- reqMs(ss, "api.store_search")) yield a - b)))
    put("api.upload_call_ms", med(cycles.map(_.callMs).toSeq))
    put("api.first_search_after_write_ms", med(cycles.map(_.firstSearchMs).toSeq))
    put("search.hybrid_ms", med(spans.filter(_.name.startsWith("search.hybrid.")).map(s => Proc.ms(s.durNs))))
    put("search.keyword_leg_ms", med(durs("search.keyword_leg")))
    put("search.vector_leg_ms", med(durs("search.vector_leg")))
    put("search.fuse_self_ms", med(byReq.values.toSeq.flatMap(ss =>
      for (h <- reqMs(ss, "search.hybrid.hybrid"); k <- reqMs(ss, "search.keyword_leg");
           v <- reqMs(ss, "search.vector_leg")) yield h - math.max(k, v))))
    def perCall(name: String)(f: Counts => Double): Double = {
      val ws = windows.filter(_._1.startsWith(name))
      if (ws.isEmpty) 0.0 else ws.map(w => f(counters.window(w._2, w._3))).sum / ws.length
    }
    put("search.spill_jobs_per_query", perCall("search.spill_query")(_.jobs))
    put("search.spill_tasks_per_query", perCall("search.spill_query")(_.tasks))
    // the store's live index: 0 jobs per query on search_hot by design
    report.note("search.live_jobs_per_query", perCall("search.hybrid")(_.jobs), "count")
    put("search.index_build_ms", med(durs("search.index_build")))
    put("search.index_build_jobs", perCall("search.index_build")(_.jobs))
    put("embed.query_ms", med(durs("embed.query")))
    val chunkMs = durs("ingest.chunk").sum
    val embedMs = durs("ingest.embed").sum
    put("ingest.chunk_ms", med(durs("ingest.chunk")))
    put("ingest.embed_ms", med(durs("ingest.embed")))
    put("ingest.chunks_per_s", if (chunkMs + embedMs > 0) chunks / ((chunkMs + embedMs) / 1000) else 0.0)
    val phases = cycles.toSeq.flatMap(_.batchId).map { b =>
      val evs = st.log.events(Some(b))
      def at(p: String): Option[Long] = evs.find(_.phase == p).map(_.tsMs)
      (for (r <- at("received"); u <- at("upsert_probe")) yield (u - r).toDouble,
       for (u <- at("upsert_probe"); c <- at("chunked")) yield (c - u).toDouble,
       for (e <- at("embedded"); d <- at("ready")) yield (d - e).toDouble)
    }
    put("ingest.probe_ms", med(phases.flatMap(_._1)))
    put("ingest.commit_ms", med(phases.flatMap(_._2)))
    put("ingest.writeback_ms", med(phases.flatMap(_._3)))
    put("store.jobs_per_upload", perCall("store.upload")(_.jobs))
    put("store.tasks_per_upload", perCall("store.upload")(_.tasks))
    put("store.files_per_commit", med(files.toSeq))
    put("store.bytes_per_user_byte", med(bytesRatio.toSeq))
    put("store.snapshot_ms", med(durs("store.snapshot")))
    val total = counters.window(runFrom, runTo)
    put("spark.jobs", total.jobs)
    put("spark.tasks", total.tasks)
    put("spark.task_run_s", total.taskRunS)
    put("spark.sched_delay_s", total.schedDelayS)
    put("spark.gc_s", total.gcS)
    // all a traced request adds to the untraced one is recording its spans
    val spansPerReq = byReq.values.map(_.length).sum.toDouble / math.max(1, byReq.size)
    put("trace.overhead_frac", Trace.spanCostNs() / 1e6 * spansPerReq / med(durs("request")))
    c.close()

    Serving.sentinelPass(st, corpus, gen, spec, report)
    val added = ops.map { case _: NewDocs => 1; case _: Delete => -1; case _ => 0 }.sum
    Serving.verify(spark, st, Nil, spec.docs.toLong + added, report)
    st.stop()
  }
}
