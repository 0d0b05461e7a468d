package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    size: String, out: String, work: String)

object Opts {
  val Workloads = Seq("build_bulk", "query_serve", "nrt_mixed")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("size", "full"), need("out"), need("work"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(Set("full", "tiny").contains(o.size), s"unknown size ${o.size}")
    o
  }
}

object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Metric => obj(Seq("value" -> m.value, "unit" -> m.unit, "n" -> m.n))
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** One workload run in its own JVM and Spark session. Writes the result
  * document to `--out` and the spans of a traced run beside it.
  */
object Main {

  private def session(o: Opts, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(o, cores)
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val listener = new JobListener
    if (o.trace) sc.addSparkListener(listener)
    val tracer = new Tracer(o.trace,
      (r => sc.setLocalProperty(JobListener.ReqProperty, r.toString),
        () => sc.setLocalProperty(JobListener.ReqProperty, null)))
    val ctx = new Ctx(spark, o, tracer, cores)
    ctx.mark("session")
    val gc0 = Jvm.gcMs()
    val crash = try {
      o.workload match {
        case "build_bulk"  => Workloads.buildBulk(ctx)
        case "query_serve" => Workloads.queryServe(ctx)
        case "nrt_mixed"   => Workloads.nrtMixed(ctx)
      }
      None
    } catch { case e: Throwable => Some(e) }
    ctx.mark("workload")
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val heap = tracer.span("jvm", "heapAfterGc")(Jvm.heapAfterGcMb())
    val gcS = (Jvm.gcMs() - gc0) / 1000.0
    spark.stop() // drains the listener bus
    val wall = (System.nanoTime() - t0) / 1e9

    crash.foreach { e =>
      ctx.check(s"workload crashed: $e", ok = false)
      e.printStackTrace()
    }
    ctx.endToEnd("driver_heap_mb") = Metric(heap, "MB")
    ctx.named("setup_s") = ctx.endToEnd.getOrElse("setup_s", Metric(Double.NaN, "s", 0))
    ctx.named("driver_heap_mb") = ctx.endToEnd("driver_heap_mb")
    val failRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    ctx.named("fail_ratio") = Metric(failRatio, "ratio", ctx.attempted.toInt)

    val spans = tracer.all
    val layer =
      if (o.trace) PerLayer(ctx, spans, listener.work, gcS, heap)
      else mutable.LinkedHashMap.empty[String, Metric]

    val doc = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "size" -> o.size, "cores" -> cores, "wall_s" -> wall,
      "correct" -> (ctx.failed == 0 && crash.isEmpty),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "end_to_end" -> ctx.endToEnd, "named" -> ctx.named, "per_layer" -> layer,
      "inputs" -> ctx.inputs, "samples" -> ctx.raw, "timeline_s" -> ctx.timeline, "failures" -> ctx.failures, "notes" -> ctx.notes.toSeq))
    write(o.out, doc)
    if (o.trace) write(o.out.stripSuffix(".json") + ".spans.json",
      spans.map(s => Json.obj(Seq("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "req" -> s.req)))
        .mkString("[\n", ",\n", "\n]"))
    if (crash.isDefined) sys.exit(3)
  }

  private def write(path: String, text: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
  }
}

/** Per-layer metrics of a traced run: medians of per-operation samples,
  * per-request Spark work from the listener, and self time per layer.
  */
object PerLayer {
  def apply(ctx: Ctx, spans: Seq[Span], work: Map[Long, ReqWork], gcS: Double,
      heap: Double): mutable.LinkedHashMap[String, Metric] = {
    val out = mutable.LinkedHashMap[String, Metric]()
    def med(name: String, unit: String): Unit = {
      val xs = ctx.samplesOf(name)
      out(name) = Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), unit, xs.size)
    }
    def total(name: String, unit: String): Unit =
      out(name) = Metric(Option(ctx.counters.get(name)).map(_.doubleValue).getOrElse(0.0), unit)
    def reqs(layer: String, name: String) = spans.filter(s => s.parent == -1 && s.layer == layer && s.name == name)
    def perReq(ss: Seq[Span], f: (Span, ReqWork) => Double): Seq[Double] =
      ss.map(s => f(s, work.getOrElse(s.req, Work.Empty)))
    def medOf(name: String, unit: String, xs: Seq[Double]): Unit =
      out(name) = Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), unit, xs.size)

    med("corpus.gen_docs_per_s", "docs/s")
    med("analysis.tokens_per_s", "1/s")
    total("analysis.tokens", "count")
    med("codec.encode_ints_per_s", "1/s")
    med("codec.decode_ints_per_s", "1/s")
    med("codec.bytes_per_posting", "B")

    Seq("tokenize", "postings", "termstats", "commit").foreach(p => med(s"index.${p}_s", "s"))
    val builds = reqs("index", "buildSegment")
    medOf("index.build_jobs", "count", perReq(builds, (_, w) => w.jobs.toDouble))
    medOf("index.build_tasks", "count", perReq(builds, (_, w) => w.tasks.toDouble))
    medOf("index.shuffle_write_bytes", "B", perReq(builds, (_, w) => w.shuffleWriteBytes.toDouble))
    medOf("index.shuffle_read_bytes", "B", perReq(builds, (_, w) => w.shuffleReadBytes.toDouble))
    medOf("index.spill_bytes", "B", perReq(builds, (_, w) => w.spillBytes.toDouble))
    medOf("index.task_skew", "ratio", perReq(builds, (_, w) => Work.skew(w)))
    medOf("index.executor_busy_frac", "ratio", perReq(builds, (s, w) =>
      w.taskMs / (ctx.cores * math.max(1.0, (s.end - s.start) / 1e6))))
    med("index.merge_s", "s")
    med("index.merge_bytes_rewritten", "B")
    med("index.update_s", "s")
    med("index.segments_live", "count")
    med("index.write_amplification", "B/B")

    med("search.dict_lookup_ms", "ms")
    med("search.block_fetch_ms", "ms")
    total("search.blocks_fetched", "count")
    total("search.block_bytes_fetched", "B")
    med("search.score_ms", "ms")
    med("search.competitive_block_ratio", "ratio")
    med("search.unaccounted_ms", "ms")
    val queries = reqs("search", "topK")
    medOf("search.jobs_per_query", "count", perReq(queries, (_, w) => w.jobs.toDouble))
    medOf("search.stages_per_query", "count", perReq(queries, (_, w) => w.stages.toDouble))
    medOf("search.tasks_per_query", "count", perReq(queries, (_, w) => w.tasks.toDouble))
    medOf("search.sched_wait_ms", "ms", perReq(queries, (_, w) => w.schedWaitMs.toDouble))
    medOf("search.open_ms", "ms", spans.filter(_.name == "open").map(s => (s.end - s.start) / 1e6))
    med("search.refresh_ms", "ms")
    med("search.segments_per_query", "count")

    out("jvm.gc_s") = Metric(gcS, "s")
    out("jvm.heap_after_gc_mb") = Metric(heap, "MB")

    val self = Trace.layerSelfSeconds(spans)
    Seq("corpus", "analysis", "codec", "index", "search", "jvm").foreach { l =>
      out(s"$l.self_s") = Metric(self.getOrElse(l, 0.0), "s")
    }
    ctx.endToEnd.foreach { case (k, m) => out(s"traced.$k") = m }
    out
  }
}
