package graft

import org.apache.spark.sql.SparkSession

import graft.search.{IndexSearcher, Query}

/** Pruned-vs-exhaustive micro-benchmark: times `topK(q, 10)` with dynamic
  * pruning on and off over an existing index, for a set of query shapes
  * (pure OR → WAND, pure AND → block-max conjunction, mixed MUST+SHOULD →
  * the block-max req-opt path). Results are asserted identical before
  * timing — this measures the pruning win, not a behavior change.
  *
  * Dynamic pruning only has something to skip when one scorer owns a
  * large posting volume: per-(segment, bucket) scorers over small buckets
  * decode in microseconds and the wall time is all job scheduling. The
  * `--build` mode constructs that regime on purpose — N synthetic pages in
  * ONE docID bucket (bucketShift 21), so the per-task scan is the dominant
  * term, exactly like a 10^12-doc bucket on a real cluster.
  *
  * Usage: runMain graft.PruneBench <indexDir> [trials] [--build <nDocs>]
  */
object PruneBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: PruneBench <indexDir> [trials] [--build n]"))
    val trials = args.lift(1).map(_.toInt).getOrElse(3)
    val buildN = if (args.contains("--build"))
      Some(args(args.indexOf("--build") + 1).toLong) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    buildN.foreach { n =>
      import spark.implicits._
      // one docID bucket regardless of n: the per-task posting volume IS
      // the experiment variable
      val shift = math.max(21, 64 - java.lang.Long.numberOfLeadingZeros(n - 1))
      val pages = graft.corpus.Corpus.pages(spark, n).map(p => (p.url, p.text))
      graft.index.IndexBuilder.buildSegment(pages, s"$dir/seg0",
        graft.index.IndexConfig(bucketShift = shift, numPostingPartitions = 32,
          numDocPartitions = 32))
      println(s"[prune] built $n-doc single-bucket segment at $dir/seg0 (shift $shift)")
    }
    val se = IndexSearcher.open(spark, dir)
    val queries = Seq(
      "the OR of OR court"       -> "pure OR (WAND)",
      "the AND of AND court"     -> "pure AND (block-max conjunction)",
      "the AND court OR law"     -> "mixed MUST+SHOULD (req-opt)",
      "the AND of OR court OR law" -> "mixed 2+2 (req-opt)")
    for ((qs, label) <- queries) {
      val q = Query.parse(qs)
      // warm + identity check
      val a = se.topK(q, 10, pruning = true).collect().toSeq
      val b = se.topK(q, 10, pruning = false).collect().toSeq
      require(a == b, s"pruning changed results for $qs")
      def best(pruning: Boolean): Double =
        (1 to trials).map { _ =>
          val t0 = System.nanoTime()
          se.topK(q, 10, pruning = pruning).collect()
          (System.nanoTime() - t0) / 1e3 / 1e3
        }.min
      val on = best(true)
      val off = best(false)
      println(f"[prune] $label%-34s pruned ${on}%7.0f ms   exhaustive ${off}%7.0f ms   speedup ${off / on}%.2fx  ($qs)")
    }
    spark.stop()
  }
}
