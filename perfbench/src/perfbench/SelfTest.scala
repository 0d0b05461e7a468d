package perfbench

import org.apache.spark.sql.SparkSession

/** Harness self-tests: the percentile rule, span self time, and seeded
  * determinism of the generated inputs. Exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def percentileRule(): Unit = {
    val rng = new Gen.Rng(1L)
    check("p95 of 199 samples is not reported", Stats.percentile(Seq.fill(199)(rng.nextDouble()), 95).isEmpty)
    check("p95 of 200 samples is reported", Stats.percentile(Seq.fill(200)(rng.nextDouble()), 95).isDefined)
    val kept = (1 to 600).forall { n =>
      val xs = Seq.fill(n)(rng.nextInt(50).toDouble) // with ties
      Seq(50.0, 90.0, 95.0, 99.0).forall { p =>
        Stats.percentile(xs, p) match {
          case Some(v) =>
            val sorted = xs.sorted
            val rank = math.ceil(p / 100 * n).toInt
            sorted(rank - 1) == v && n - rank >= Stats.MinBeyond
          case None => n - math.ceil(p / 100 * n).toInt < Stats.MinBeyond
        }
      }
    }
    check("every reported percentile keeps >= 10 samples beyond it", kept)
    check("median of even and odd counts", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  def selfTime(): Unit = {
    // parent [0,100); children [10,40) and [30,60) overlap, [80,120) runs
    // past the parent's end; a grandchild inside [10,40) must not count
    val spans = Seq(
      Span(1, "search", "parent", 0, 100, -1, 1),
      Span(2, "codec", "a", 10, 40, 1, 1),
      Span(3, "codec", "b", 30, 60, 1, 1),
      Span(4, "index", "c", 80, 120, 1, 1),
      Span(5, "codec", "grandchild", 15, 35, 2, 1))
    val self = Trace.selfTimes(spans)
    check("parent self time = 100 - |[10,60) u [80,100)| = 30", self(1) == 30)
    check("child self time excludes its own child", self(2) == 10)
    check("leaf self time = duration", self(3) == 30 && self(4) == 40 && self(5) == 20)
    check("layer self seconds sum the spans' self times",
      Trace.layerSelfSeconds(spans)("codec") == (10 + 30 + 20) / 1e9)
    check("nested and disjoint intervals",
      Trace.coveredLength(Seq((0L, 10L), (2L, 5L), (20L, 30L)), 0, 25) == 15)
  }

  def determinism(spark: SparkSession): Unit = {
    def hash(seed: Long) = Gen.corpusHash(Gen.corpus(spark, 200, seed))
    check("same seed, same corpus hash", hash(11) == hash(11))
    check("other seed, other corpus hash", hash(11) != hash(12))
    check("same seed, same query list", Gen.queries(11, 200, 300) == Gen.queries(11, 200, 300))
    check("other seed, other query list", Gen.queries(11, 200, 300) != Gen.queries(12, 200, 300))
    check("query list has no repeats", Gen.queries(11, 200, 300).distinct.size == 300)
    check("long-tail tokens are single analyzer terms", {
      val toks = Gen.tailRanks(5, 11).map(Gen.tailToken)
      toks.forall(t => graft.analysis.StandardAnalyzer.Default.tokens(t).map(_.term) == Vector(t))
    })
  }

  def main(args: Array[String]): Unit = {
    percentileRule()
    selfTime()
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", args.headOption.getOrElse(System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try determinism(spark) finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
