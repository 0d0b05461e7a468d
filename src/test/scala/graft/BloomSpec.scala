package graft

import graft.index.{IndexBuilder, IndexConfig, Manifest, SegmentMerger, TermBloom}
import graft.search.{IndexSearcher, Query}

/** Per-segment term-dictionary Bloom filters (ref
  * `codecs/bloom/BloomFilteringPostingsFormat.java`, `FuzzySet.java`):
  * no false negatives ever, segments skipped by the pre-test leave
  * results rank-identical, and the sidecar
  * survives merge/split exactly when every input carried it.
  */
class BloomSpec extends SparkTestBase {

  private val cfg = IndexConfig(bucketShift = 4, numPostingPartitions = 4,
    numDocPartitions = 2, bloomTerms = true)

  private def corpus(prefix: String, n: Int): Seq[(String, String)] =
    (0 until n).map { i =>
      val words = (0 to i % 4).map(j => s"$prefix${(i + j) % 9}")
      (f"$prefix$i%04d", words.mkString(" "))
    }

  test("no false negatives: every committed term tests positive") {
    import spark.implicits._
    val dir = tmpDir("bloom1")
    IndexBuilder.buildSegment(spark.createDataset(corpus("aa", 40)), s"$dir/seg", cfg)
    val bf = TermBloom.read(spark, s"$dir/seg").get
    val vocab = spark.read.parquet(s"$dir/seg/terms")
      .select($"term").as[String].collect()
    assert(vocab.nonEmpty)
    vocab.foreach(t => assert(bf.mayContain(t), s"false negative for $t"))
    // sizing invariant: power of two, >= 2^10
    assert(bf.m >= (1 << 10) && Integer.bitCount(bf.m) == 1)
  }

  test("absent terms mostly test negative (sizing holds the fp rate down)") {
    import spark.implicits._
    val dir = tmpDir("bloom2")
    IndexBuilder.buildSegment(spark.createDataset(corpus("bb", 40)), s"$dir/seg", cfg)
    val bf = TermBloom.read(spark, s"$dir/seg").get
    val probes = (0 until 500).map(i => s"absent-term-$i")
    val fp = probes.count(bf.mayContain)
    // 10 bits/term, k=7 → ~1% expected; 5% is a generous determinism-safe bound
    assert(fp <= 25, s"false-positive rate too high: $fp/500")
  }

  private def pagesOf(rows: Seq[(String, String)]): Seq[graft.corpus.Page] =
    rows.map { case (u, t) =>
      graft.corpus.Page(u, new java.sql.Timestamp(0L), Array.emptyByteArray, t, "en")
    }

  test("multi-segment probe skips bloom-rejected segments, rank-identical") {
    import spark.implicits._
    val d1 = tmpDir("bloom3a"); val d2 = tmpDir("bloom3b"); val d3 = tmpDir("bloom3c")
    // disjoint vocabularies: "cc*" lives only in segment 1
    val c1 = corpus("cc", 25); val c2 = corpus("dd", 25); val c3 = corpus("ee", 25)
    IndexBuilder.buildSegment(spark.createDataset(c1), s"$d1/seg", cfg)
    IndexBuilder.buildSegment(spark.createDataset(c2), s"$d2/seg", cfg)
    IndexBuilder.buildSegment(spark.createDataset(c3), s"$d3/seg", cfg)
    val manifests = Seq(d1, d2, d3).map(d => Manifest.read(s"$d/seg").get)
    val se = new IndexSearcher(spark, manifests)
    val before = se.bloomSkips.get()
    val hits = se.topK(se.parse("cc3"), 10).collect().toSeq
    assert(se.bloomSkips.get() > before, "bloom never engaged")
    // duel: brute-force BM25 over the union corpus (docId = global url rank
    // == base + local rank here: urls are segment-ordered and dense)
    val oracle = new BruteForceOracle(pagesOf(c1 ++ c2 ++ c3),
      graft.analysis.StandardAnalyzer.Default)
    val want = oracle.topK(se.parse("cc3"), 10)
    assert(hits.map(_.docId) == want.map(_._1),
      s"got=${hits.map(_.docId)} want=${want.map(_._1)}")
    assert(hits.nonEmpty)
  }

  test("all-absent query returns empty without scanning any segment") {
    import spark.implicits._
    val d1 = tmpDir("bloom4a"); val d2 = tmpDir("bloom4b")
    IndexBuilder.buildSegment(spark.createDataset(corpus("ff", 20)), s"$d1/seg", cfg)
    IndexBuilder.buildSegment(spark.createDataset(corpus("gg", 20)), s"$d2/seg", cfg)
    val se = new IndexSearcher(spark,
      Seq(Manifest.read(s"$d1/seg").get, Manifest.read(s"$d2/seg").get))
    val before = se.bloomSkips.get()
    assert(se.topK(se.parse("nonexistent-term-xyz"), 10).collect().isEmpty)
    assert(se.bloomSkips.get() >= before + 2, "both segments should skip")
  }

  test("merge keeps the sidecar iff every input had one; split rebuilds per part") {
    import spark.implicits._
    val d1 = tmpDir("bloom5a"); val d2 = tmpDir("bloom5b")
    val m1 = tmpDir("bloom5m"); val m2 = tmpDir("bloom5n")
    IndexBuilder.buildSegment(spark.createDataset(corpus("hh", 20)), s"$d1/seg", cfg)
    IndexBuilder.buildSegment(spark.createDataset(corpus("ii", 20)), s"$d2/seg", cfg)
    SegmentMerger.merge(spark, Seq(s"$d1/seg", s"$d2/seg"), s"$m1/seg", cfg)
    assert(TermBloom.exists(s"$m1/seg"), "merge of bloom inputs keeps bloom")
    val bf = TermBloom.read(spark, s"$m1/seg").get
    spark.read.parquet(s"$m1/seg/terms").select($"term").as[String].collect()
      .foreach(t => assert(bf.mayContain(t), s"merged false negative $t"))

    // one input without bloom → merged segment has none
    val d3 = tmpDir("bloom5c")
    IndexBuilder.buildSegment(spark.createDataset(corpus("jj", 20)), s"$d3/seg",
      cfg.copy(bloomTerms = false))
    SegmentMerger.merge(spark, Seq(s"$d1/seg", s"$d3/seg"), s"$m2/seg", cfg)
    assert(!TermBloom.exists(s"$m2/seg"), "mixed inputs must drop the sidecar")
  }
}
