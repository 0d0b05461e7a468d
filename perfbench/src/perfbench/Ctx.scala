package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.index.IndexConfig

final case class Metric(value: Double, unit: String, n: Int = 1)

/** Sizes of one workload run. `full` is what the benchmark measures;
  * `tiny` is the self-test smoke size.
  */
final case class Sizes(bulkDocs: Int, serveDocs: Int, nrtBaseDocs: Int, nrtBatch: Int,
    savedQueries: Int, gateQueries: Int)

object Sizes {
  val Full = Sizes(bulkDocs = 2500, serveDocs = 3000, nrtBaseDocs = 2000, nrtBatch = 40,
    savedQueries = 2, gateQueries = 2)
  val Tiny = Sizes(bulkDocs = 300, serveDocs = 300, nrtBaseDocs = 300, nrtBatch = 8,
    savedQueries = 2, gateQueries = 2)
}

/** State of one run: session, options, tracer, and what the run reports. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer, val cores: Int) {
  val sizes: Sizes = if (opts.size == "tiny") Sizes.Tiny else Sizes.Full

  /** One config for every workload: positions on (Lucene's default for
    * text fields), 512-doc buckets.
    */
  val cfg: IndexConfig = IndexConfig(bucketShift = 9, numPostingPartitions = 2 * cores,
    numDocPartitions = 2 * cores, storePositions = true)

  /** Metrics under the issue's names (and the generic gate names). */
  val named = mutable.LinkedHashMap[String, Metric]()
  val endToEnd = mutable.LinkedHashMap[String, Metric]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  /** Raw per-operation timings behind the end-to-end medians. */
  val raw = mutable.LinkedHashMap[String, Seq[Double]]()
  val notes = mutable.ArrayBuffer[String]()
  private val checks = mutable.ArrayBuffer[(String, Boolean)]()

  /** Traced-run counters (codec ints, blocks, ...), summed. */
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def count(name: String, v: Double): Unit =
    if (tracer.enabled) counters.merge(name, v, (a, b) => a + b)

  /** Per-operation samples for traced-run medians. */
  val samples = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
  def sample(name: String, v: Double): Unit =
    if (tracer.enabled)
      samples.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(v)
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  private val t0 = System.nanoTime()
  val timeline = mutable.LinkedHashMap[String, Double]()
  /** Seconds since the run started, recorded under `name`. */
  def mark(name: String): Unit = timeline(name) = (System.nanoTime() - t0) / 1e9

  @volatile var attempted = 0L
  @volatile var failed = 0L

  /** Record one checked outcome: it counts as attempted, and as failed when
    * `ok` is false.
    */
  def check(name: String, ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (checks.count(!_._2) < 50) checks += ((name, ok)) }
  }
  def failures: Seq[String] = synchronized(checks.filter(!_._2).map(_._1).toSeq)

  def dir(name: String): String = new File(opts.work, name).getPath

  def ms[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Median of `reps` timed set-ups, reported as `setup_s`. */
  def setup(reps: Int)(unit: Int => Unit): Unit = {
    val secs = (0 until reps).map(i => ms(unit(i))._2 / 1000)
    endToEnd("setup_s") = Metric(Stats.median(secs), "s", reps)
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def rmrf(path: String): Unit = {
    val f = new File(path)
    Option(f.listFiles()).foreach(_.foreach(c => rmrf(c.getPath)))
    f.delete()
  }
}
