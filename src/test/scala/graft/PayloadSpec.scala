package graft

import org.apache.spark.sql.functions._

import graft.codec.Positions
import graft.index.{IndexBuilder, IndexConfig, SegmentMerger}
import graft.search.IndexSearcher

/** Per-position payloads: raw codec round-trip, the DelimitedPayload
  * analysis chain (whitespace pre-split, `|N` extraction, default 1,
  * stopword chunks advance positions), PayloadFunction aggregation
  * (sum/max/min/avg), delete purge, and merge survival.
  */
class PayloadSpec extends SparkTestBase {

  private val cfg = IndexConfig(bucketShift = 4, numPostingPartitions = 4,
    numDocPartitions = 2, storePositions = true, storePayloads = true)

  test("raw payload codec round-trips arbitrary (non-monotone) values") {
    val rnd = new scala.util.Random(42)
    (0 until 50).foreach { _ =>
      val n = 1 + rnd.nextInt(130)
      val perDoc = Array.fill(n)(Array.fill(1 + rnd.nextInt(5))(rnd.nextInt(1 << 20)))
      val freqs = perDoc.map(_.length.toLong)
      val back = Positions.decodeRaw(Positions.encodeRaw(perDoc, n), freqs, n)
      assert(back.map(_.toSeq).toSeq == perDoc.map(_.toSeq).toSeq)
    }
  }

  test("payload build + PayloadFunction sum/max/min/avg") {
    import spark.implicits._
    // payloads: a|5 twice in doc1 plus default-1; doc2 single a|7
    val pages = Seq(
      ("u1", "a|5 b|2 a|5 a c|9"),
      ("u2", "a|7 b"),
      ("u3", "b|3 c"))
    val dir = tmpDir("pay")
    IndexBuilder.buildSegment(spark.createDataset(pages), dir, cfg)
    val se = new IndexSearcher(spark,
      Seq(graft.index.Manifest.read(dir).get))
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    def scores(func: String): Map[String, Double] =
      se.payloadScoreTopK("a", func, 10).collect()
        .map(r => urlOf(r.getLong(0)) -> r.getDouble(1)).toMap
    assert(scores("sum") == Map("u1" -> 11.0, "u2" -> 7.0))
    assert(scores("max") == Map("u1" -> 5.0, "u2" -> 7.0))
    assert(scores("min") == Map("u1" -> 1.0, "u2" -> 7.0))
    assert(scores("avg") == Map("u1" -> 11.0 / 3.0, "u2" -> 7.0))
    // ranking + limit: sum gives u1 first, then u2
    val top1 = se.payloadScoreTopK("a", "sum", 1).collect()
    assert(top1.length == 1 && urlOf(top1(0).getLong(0)) == "u1")
  }

  test("delimited chain: stopword chunks advance positions; phrases align") {
    import spark.implicits._
    val cfgStop = cfg.copy(stopwords = Set("the"))
    val pages = Seq(("u1", "court|4 the law|2"))
    val dir = tmpDir("paystop")
    IndexBuilder.buildSegment(spark.createDataset(pages), dir, cfgStop)
    val se = new IndexSearcher(spark, Seq(graft.index.Manifest.read(dir).get))
    // positions: court@0, law@2 (the stopword advanced position 1) —
    // exact phrase "court law" must NOT match, slop 1 must
    assert(se.phraseFreqs(Seq("court", "law")).collect().isEmpty)
    assert(se.phraseFreqs(Seq("court", "law"), slop = 1)
      .collect().map(_._2).toSeq == Seq(1))
    // payloads survive next to the stopword gap
    assert(se.payloadScoreTopK("law", "sum", 10).collect()
      .map(_.getDouble(1)).toSeq == Seq(2.0))
  }

  test("payloadCheckFreqs counts only payload-matching occurrences") {
    import spark.implicits._
    // x carries payloads 3,1(default),3 in u1; 3 in u2; 5 in u3
    val pages = Seq(
      ("u1", "x|3 y x x|3"),
      ("u2", "x|3 z"),
      ("u3", "x|5 y"))
    val dir = tmpDir("paycheck")
    IndexBuilder.buildSegment(spark.createDataset(pages), dir, cfg)
    val se = new IndexSearcher(spark, Seq(graft.index.Manifest.read(dir).get))
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    def freqs(p: Int): Map[String, Int] =
      se.payloadCheckFreqs("x", p).collect()
        .map { case (id, f) => urlOf(id) -> f }.toMap
    assert(freqs(3) == Map("u1" -> 2, "u2" -> 1))
    assert(freqs(1) == Map("u1" -> 1))
    assert(freqs(5) == Map("u3" -> 1))
    assert(freqs(9).isEmpty)
  }

  test("spanFirstFreqs counts only positions with span end <= n") {
    import spark.implicits._
    val plain = IndexConfig(bucketShift = 4, numPostingPartitions = 4,
      numDocPartitions = 2, storePositions = true)
    // q at positions 0,2 in u1; 3 in u2; 5 in u3 (0-based)
    val pages = Seq(
      ("u1", "q a q b c"),
      ("u2", "a b c q"),
      ("u3", "a b c d e q"))
    val dir = tmpDir("spanfirst")
    IndexBuilder.buildSegment(spark.createDataset(pages), dir, plain)
    val se = new IndexSearcher(spark, Seq(graft.index.Manifest.read(dir).get))
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    def freqs(n: Int): Map[String, Int] =
      se.spanFirstFreqs("q", n).collect()
        .map { case (id, f) => urlOf(id) -> f }.toMap
    assert(freqs(1) == Map("u1" -> 1)) // only pos 0 has end <= 1
    assert(freqs(3) == Map("u1" -> 2)) // pos 0 and 2
    assert(freqs(4) == Map("u1" -> 2, "u2" -> 1))
    assert(freqs(6) == Map("u1" -> 2, "u2" -> 1, "u3" -> 1))
    assert(freqs(0).isEmpty)
  }

  test("payloads survive merge (docID remap) and delete purge") {
    import spark.implicits._
    val a = Seq(("a1", "x|3 y"), ("a2", "x|4 z"))
    val b = Seq(("b1", "x|5 y"), ("b2", "x|6 w"))
    val dA = tmpDir("payA"); val dB = tmpDir("payB"); val dM = tmpDir("payM")
    IndexBuilder.buildSegment(spark.createDataset(a), dA, cfg)
    IndexBuilder.buildSegment(spark.createDataset(b), dB, cfg)
    val m = SegmentMerger.merge(spark, Seq(dA, dB), dM, cfg)
    assert(m.hasPayloads)
    assert(graft.index.CheckIndex.check(spark, dM).ok)
    val se = new IndexSearcher(spark, Seq(m))
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    val got = se.payloadScoreTopK("x", "sum", 10).collect()
      .map(r => urlOf(r.getLong(0)) -> r.getDouble(1)).toMap
    assert(got == Map("a1" -> 3.0, "a2" -> 4.0, "b1" -> 5.0, "b2" -> 6.0))
    // delete a2, purge through a forced single-segment merge
    val deadId = se.docsTable.where($"url" === "a2")
      .select($"docId").as[Long].head()
    graft.index.Deletes.add(spark, dM,
      spark.createDataset(Seq(java.lang.Long.valueOf(deadId))))
    val se2 = new IndexSearcher(spark,
      Seq(graft.index.Manifest.read(dM).get))
    val got2 = se2.payloadScoreTopK("x", "sum", 10).collect()
      .map(r => urlOf(r.getLong(0)) -> r.getDouble(1)).toMap
    assert(got2 == Map("a1" -> 3.0, "b1" -> 5.0, "b2" -> 6.0))
  }
}
