package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}

import graft.index._
import graft.search._

object Workloads {

  private def now: Long = System.nanoTime()

  /** Run `tasks` on `threads` threads and wait for all of them. */
  private def inParallel(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Callable[Unit] { def call(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }
  private def deadline(ctx: Ctx, share: Double = 1.0): Long =
    now + (ctx.opts.seconds * share * 1e9).toLong

  private def p50(ctx: Ctx, name: String, unit: String, xs: Seq[Double]): Metric = {
    val m = Metric(Stats.median(xs), unit, xs.size)
    ctx.named(name) = m
    m
  }

  /** The highest percentile named by the issue, only when the sample
    * supports it; otherwise a note saying why it is missing.
    */
  private def p95(ctx: Ctx, name: String, xs: Seq[Double]): Unit =
    Stats.percentile(xs, 95) match {
      case Some(v) => ctx.named(name) = Metric(v, "ms", xs.size)
      case None => ctx.notes += s"$name not reported: ${xs.size} samples, p95 needs " +
          s">= ${Stats.MinBeyond * 20} so that ${Stats.MinBeyond} lie beyond it"
    }

  /** Compare two top-k lists that may number docs differently: scores must
    * be equal rank by rank, and the urls above the k-th score must match
    * (ties at the k-th score may legitimately pick different docs).
    */
  private def sameTopK(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean =
    a.map(_._2) == b.map(_._2) && {
      val kth = if (a.isEmpty) 0.0 else a.last._2
      a.filter(_._2 > kth).map(_._1).toSet == b.filter(_._2 > kth).map(_._1).toSet
    }

  private def withUrls(s: IndexSearcher, hits: Array[ScoredDoc]): Seq[(String, Double)] = {
    val urls = if (hits.isEmpty) Map.empty[Long, String]
      else s.docsForIds(hits.map(_.docId).toSeq).select("docId", "url").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.toSeq.map(h => (urls.getOrElse(h.docId, "?"), h.score))
  }

  // ----------------------------------------------------------- build_bulk

  /** One corpus built into one segment, and the same corpus split by url
    * hash into two segments that are merged; each repeated until the window
    * closes.
    */
  def buildBulk(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val n = ctx.sizes.bulkDocs
    var docs: Dataset[(String, String)] = null
    ctx.setup(3) { _ =>
      if (docs != null) docs.unpersist(true)
      docs = Layers.corpus(ctx, n)
    }
    ctx.mark("setup")
    val half = (r: Int) => docs.where(pmod(xxhash64($"_1"), lit(2)) === r).as[(String, String)]
    val (ha, _) = Layers.build(ctx, half(0), ctx.dir("half-a"))
    val (hb, _) = Layers.build(ctx, half(1), ctx.dir("half-b"))
    ctx.check("halves partition the corpus", ha.docCount + hb.docCount == n)
    // one unmeasured build and merge: the first operations of a JVM run
    // several times slower than the steady state
    Layers.build(ctx, docs, ctx.dir("warm-build"))
    SegmentMerger.merge(spark, Seq(ha.dir, hb.dir), ctx.dir("warm-merge"), ctx.cfg)
    Seq("warm-build", "warm-merge").foreach(d => ctx.rmrf(ctx.dir(d)))
    ctx.mark("fixture")

    val buildMs = mutable.ArrayBuffer[Double]()
    val mergeMs = mutable.ArrayBuffer[Double]()
    var full: SegmentManifest = null
    var merged: SegmentManifest = null
    val end = deadline(ctx)
    var i = 0
    var last = 0L
    // at least two iterations; another only if it can end inside the window
    while (i < 2 || now + last < end) {
      val t0 = now
      if (i > 0) { ctx.rmrf(ctx.dir(s"full-${i - 1}")); ctx.rmrf(ctx.dir(s"merged-${i - 1}")) }
      val (m, tb) = Layers.build(ctx, docs, ctx.dir(s"full-$i"))
      buildMs += tb
      ctx.check("single build holds every doc", m.docCount == n)
      val (mm, tm) = ctx.tracer.span("index", "merge")(
        ctx.ms(SegmentMerger.merge(spark, Seq(ha.dir, hb.dir), ctx.dir(s"merged-$i"), ctx.cfg)))
      mergeMs += tm
      ctx.sample("index.merge_s", tm / 1000)
      ctx.sample("index.merge_bytes_rewritten", ctx.dirBytes(mm.dir).toDouble)
      ctx.check("merged docCount and sumTotalTermFreq equal the single build's",
        mm.docCount == m.docCount && mm.sumTotalTermFreq == m.sumTotalTermFreq)
      full = m; merged = mm
      last = now - t0
      i += 1
    }

    ctx.mark("window")
    // gates outside the window
    val (_, inputBytes) = Layers.analysisGate(ctx, docs, full)
    val (single, mergedS) = ctx.tracer.span("search", "open")(
      (new IndexSearcher(spark, Seq(full)), new IndexSearcher(spark, Seq(merged))))
    Gen.queries(ctx.opts.seed, n, ctx.sizes.gateQueries).foreach { q =>
      val (a, ta) = Layers.topK(ctx, single, q)
      val (b, _) = Layers.topK(ctx, mergedS, q)
      ctx.check(s"merged top-10 == single top-10 for $q",
        sameTopK(withUrls(single, a), withUrls(mergedS, b)))
      if (ctx.tracer.enabled) Layers.probe(ctx, single, q, 10, ta, a)
    }

    ctx.mark("gates")
    p50(ctx, "build_docs_per_s", "docs/s", buildMs.map(t => n / (t / 1000)).toSeq)
    p50(ctx, "merge_docs_per_s", "docs/s", mergeMs.map(t => n / (t / 1000)).toSeq)
    val bytes = Metric(ctx.dirBytes(full.dir).toDouble / inputBytes, "B/B")
    ctx.named("index_bytes_per_input_byte") = bytes
    // docs through every build and merge of the window, over their time
    ctx.endToEnd("throughput_per_s") =
      Metric(n * (buildMs.size + mergeMs.size) / ((buildMs.sum + mergeMs.sum) / 1000), "1/s", i)
    ctx.endToEnd("latency_p50_ms") = Metric(Stats.median(mergeMs.toSeq), "ms", mergeMs.size)
    ctx.endToEnd("latency2_p50_ms") = Metric(Stats.median(buildMs.toSeq), "ms", buildMs.size)
    ctx.endToEnd("index_bytes_per_input_byte") = bytes
    ctx.raw("build_ms") = buildMs.toSeq
    ctx.raw("merge_ms") = mergeMs.toSeq
  }

  // ---------------------------------------------------------- query_serve

  /** Closed-loop BM25 top-10 serving over a warm single-segment index: one
    * client for latency, then one client per core for throughput. Every
    * answer is checked against the exhaustive (pruning off) top-10.
    */
  def queryServe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val n = ctx.sizes.serveDocs
    val docs = Layers.corpus(ctx, n)
    val idx = ctx.dir("serve")
    val (m, _) = Layers.build(ctx, docs, s"$idx/seg0")
    val (_, inputBytes) = Layers.analysisGate(ctx, docs, m)
    docs.unpersist(true)
    ctx.mark("fixture")

    // no query repeats within a run: each index of `qs` is used once
    val qs = Gen.queries(ctx.opts.seed, n, 4000)
    val next = new AtomicInteger(0)
    var searcher: IndexSearcher = null
    ctx.setup(3) { _ =>
      searcher = ctx.tracer.span("search", "open")(IndexSearcher.open(spark, idx))
      Layers.topK(ctx, searcher, qs(next.getAndIncrement()))
    }
    // unmeasured warm-up, nproc clients: the first queries of a JVM are
    // slower than the steady state
    inParallel(ctx.cores, Seq.fill(6 * ctx.cores)(next.getAndIncrement()).map { i =>
      () => Layers.topK(ctx, searcher, qs(i)): Unit
    })
    val firstTimed = next.get()
    ctx.mark("setup")
    val answers = new java.util.concurrent.ConcurrentHashMap[Int, Array[ScoredDoc]]()

    // phase 1: one client
    val lat1 = mutable.ArrayBuffer[Double]()
    val end1 = deadline(ctx, 0.6)
    while (lat1.size < 3 || now < end1) {
      val i = next.getAndIncrement()
      val (hits, t) = Layers.topK(ctx, searcher, qs(i))
      answers.put(i, hits)
      lat1 += t
    }
    val lastSerial = next.get()

    // phase 2: one client per core, each waiting for its reply
    val latN = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val end2 = deadline(ctx, 0.4)
    val t0 = now
    inParallel(ctx.cores, Seq.fill(ctx.cores) { () =>
      while (now < end2) {
        val i = next.getAndIncrement()
        val (hits, t) = Layers.topK(ctx, searcher, qs(i))
        answers.put(i, hits)
        latN.add(t)
      }
    })
    val wall = (now - t0) / 1e9
    val done = latN.size
    ctx.mark("window")

    // the oracle: exhaustive top-10 for every timed query, outside timing
    inParallel(ctx.cores, (firstTimed until next.get()).map { i => () =>
      val want = searcher.topK(qs(i), 10, pruning = false).collect()
      ctx.check(s"top-10 == exhaustive top-10 for ${qs(i)}", answers.get(i).sameElements(want))
    })

    if (ctx.tracer.enabled)
      (firstTimed until math.min(lastSerial, firstTimed + 10)).foreach { i =>
        Layers.probe(ctx, searcher, qs(i), 10, lat1(i - firstTimed), answers.get(i))
      }

    ctx.mark("gates")
    val q50 = p50(ctx, "query_p50_ms", "ms", lat1.toSeq)
    p95(ctx, "query_p95_ms", lat1.toSeq)
    val qps = Metric(done / wall, "1/s", done)
    ctx.named("query_qps") = qps
    ctx.endToEnd("throughput_per_s") = qps
    ctx.endToEnd("latency_p50_ms") = q50
    import scala.jdk.CollectionConverters._
    val ln = latN.asScala.toSeq
    ctx.endToEnd("latency2_p50_ms") = Metric(Stats.median(ln), "ms", ln.size)
    ctx.endToEnd("index_bytes_per_input_byte") = Metric(ctx.dirBytes(idx).toDouble / inputBytes, "B/B")
    ctx.raw("query_1client_ms") = lat1.toSeq
    ctx.raw("query_nclient_ms") = ln
  }

  // ------------------------------------------------------------ nrt_mixed

  private def marker(seed: Long, step: Int): String =
    s"zzmark${java.lang.Long.toString(seed & 0xffffffL, 36)}s$step"

  /** Writes beside reads on one thread: each step updates a batch (half
    * replaced urls, half new), refreshes, checks the batch is visible, runs
    * the saved queries, and merges whenever the merge policy asks.
    */
  def nrtMixed(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val sz = ctx.sizes
    val seed = ctx.opts.seed
    val idx = ctx.dir("nrt")
    val base = Layers.corpus(ctx, sz.nrtBaseDocs)
    val (bm, _) = Layers.build(ctx, base, s"$idx/base")
    val (_, baseBytes) = Layers.analysisGate(ctx, base, bm)
    base.unpersist(true)
    LiveSet.add(idx, Seq("base"))
    ctx.mark("fixture")

    val saved = Gen.queries(seed + 1, sz.nrtBaseDocs, sz.savedQueries + 3)
    var mgr: SearcherManager = null
    ctx.setup(3) { i =>
      mgr = ctx.tracer.span("search", "open")(new SearcherManager(spark, idx))
      Layers.topK(ctx, mgr.acquire(), saved(sz.savedQueries + i))
    }

    val seen = mutable.HashMap[String, Long]()
    def newBytes(): Long = {
      var added = 0L
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (!seen.contains(f.getPath)) { seen(f.getPath) = f.length(); added += f.length() }
      walk(new File(idx))
      added
    }
    newBytes()
    ctx.mark("setup")

    val liveBytes = mutable.HashMap[String, Long]() // url -> text bytes, batch docs
    var prevBatch = Seq.empty[String]
    var nextId = sz.nrtBaseDocs.toLong
    val updRate, visMs, qMs = mutable.ArrayBuffer[Double]()
    var written = 0L
    var inputBytes = 0L
    var merges = 0
    val rng = new Gen.Rng(Gen.mix(seed ^ 0x6a09e667L))
    val end = deadline(ctx)
    var step = 0
    while (step < 2 || now < end) {
      val replaced = new scala.util.Random(rng.nextLong()).shuffle(prevBatch).take(sz.nrtBatch / 2)
      val fresh = (0 until sz.nrtBatch - replaced.size).map { _ => nextId += 1; Gen.url(nextId - 1, seed) }
      val batch = (replaced ++ fresh).map { u =>
        u -> (Gen.text(Gen.idOfUrl(u), seed, step + 1) + " " + marker(seed, step))
      }
      batch.foreach { case (u, t) => liveBytes(u) = t.getBytes("UTF-8").length.toLong }
      inputBytes += batch.map(_._2.getBytes("UTF-8").length.toLong).sum
      val ds = spark.createDataset(batch)
      val t0 = now
      ctx.tracer.span("index", "updateByUrls")(
        Updater.updateByUrls(spark, idx, f"u$step%05d", ds, ctx.cfg))
      val t1 = now
      ctx.tracer.span("search", "maybeRefresh") {
        val (_, t) = ctx.ms(mgr.maybeRefresh())
        ctx.sample("search.refresh_ms", t)
      }
      val t2 = now
      updRate += batch.size / ((t1 - t0) / 1e9)
      visMs += (t2 - t0) / 1e6
      ctx.sample("index.update_s", (t1 - t0) / 1e9)

      // visibility gate: this batch's marker finds exactly its docs, the
      // previous batch's finds only its urls that were not replaced now
      val s = mgr.acquire()
      val expect = (batch.map(_._1) ++ prevBatch.filterNot(replaced.toSet)).toSet
      val q = if (step == 0) TermQuery(marker(seed, 0))
        else Query.or(marker(seed, step), marker(seed, step - 1))
      val (hits, _) = Layers.topK(ctx, s, q, expect.size + 10)
      val urls = withUrls(s, hits).map(_._1)
      ctx.check(s"step $step: markers return exactly the live batch docs",
        urls.size == expect.size && urls.toSet == expect)

      saved.take(sz.savedQueries).foreach { sq =>
        val (answer, t) = Layers.topK(ctx, s, sq)
        ctx.check("saved query answered", true)
        qMs += t
        if (ctx.tracer.enabled) Layers.probe(ctx, s, sq, 10, t, answer)
      }

      TieredMergePolicy.findMerges(LiveSet.manifests(idx)).headOption.foreach { group =>
        val name = f"m$step%05d"
        val (mm, t) = ctx.tracer.span("index", "merge")(
          ctx.ms(SegmentMerger.merge(spark, group, s"$idx/$name", ctx.cfg)))
        LiveSet.swap(idx, group.map(d => new File(d).getName), Seq(name))
        ctx.tracer.span("search", "maybeRefresh")(mgr.maybeRefresh())
        group.foreach(ctx.rmrf)
        ctx.sample("index.merge_s", t / 1000)
        ctx.sample("index.merge_bytes_rewritten", ctx.dirBytes(mm.dir).toDouble)
        merges += 1
      }
      written += newBytes()
      ctx.sample("index.segments_live", LiveSet.manifests(idx).size.toDouble)
      prevBatch = batch.map(_._1)
      step += 1
    }

    ctx.mark("window")
    val upd = p50(ctx, "nrt_update_docs_per_s", "docs/s", updRate.toSeq)
    val vis = p50(ctx, "nrt_visible_p50_ms", "ms", visMs.toSeq)
    val q50 = p50(ctx, "nrt_query_p50_ms", "ms", qMs.toSeq)
    p95(ctx, "nrt_query_p95_ms", qMs.toSeq)
    ctx.endToEnd("throughput_per_s") = upd.copy(unit = "1/s")
    ctx.endToEnd("latency_p50_ms") = q50
    ctx.endToEnd("latency2_p50_ms") = vis
    val liveInput = baseBytes + liveBytes.values.sum
    ctx.endToEnd("index_bytes_per_input_byte") = Metric(ctx.dirBytes(idx).toDouble / liveInput, "B/B")
    ctx.sample("index.write_amplification", written.toDouble / inputBytes)
    ctx.raw("update_docs_per_s") = updRate.toSeq
    ctx.raw("visible_ms") = visMs.toSeq
    ctx.raw("query_ms") = qMs.toSeq
    ctx.inputs("steps") = step
    ctx.inputs("merges") = merges
  }
}
