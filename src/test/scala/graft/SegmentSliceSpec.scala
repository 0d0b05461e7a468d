package graft

import graft.analysis.StandardAnalyzer
import graft.corpus.{Corpus, Page}
import graft.index.{Deletes, IndexBuilder, IndexConfig, SegmentManifest}
import graft.search.{IndexSearcher, Intervals, PhraseQuery, Query}

/** A resident slice is the unit of query parallelism: each segment loads as
  * several bucket-range slices (a session with a small
  * `spark.sql.files.maxPartitionBytes`), and each slice scores bucket by
  * bucket, in docId order, into one collector. With several slices per
  * segment and tombstones in one segment, the pruned top-10 equals the
  * exhaustive one, the brute-force oracle and a one-segment, one-slice
  * index of the same docs; match sets, scored matches, phrase counts and
  * interval hits equal the one-slice index's.
  */
class SegmentSliceSpec extends SparkTestBase {
  import spark.implicits._

  /** Slices of ~8 KB of postings: several per segment. */
  private lazy val sliced = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    s
  }

  private val cfg = IndexConfig(bucketShift = 4, numPostingPartitions = 4,
    numDocPartitions = 2, storePositions = true)
  private val PerSeg = 160
  // global docId = url rank = base + local rank: the segments split the url order
  private lazy val pages: Seq[Page] = (0L until 3L * PerSeg).map(Corpus.page(_)).sortBy(_.url)
  /** Segment 1 loses every 7th doc; as global docIds. */
  private lazy val deleted: Set[Long] = (0L until PerSeg by 7).map(_ + PerSeg).toSet

  private def build(name: String, ps: Seq[Page]): SegmentManifest =
    IndexBuilder.buildSegment(spark.createDataset(ps.map(p => (p.url, p.text))),
      s"${tmpDir(name)}/seg", cfg)

  private lazy val (multi, single) = {
    val segs = pages.grouped(PerSeg).zipWithIndex.map { case (ps, i) => build(s"slice-$i", ps) }
      .toSeq
    val one = build("slice-one", pages)
    Deletes.add(spark, segs(1).dir, deleted.toSeq.map(d => java.lang.Long.valueOf(d - PerSeg)).toDS())
    Deletes.add(spark, one.dir, deleted.toSeq.map(java.lang.Long.valueOf).toDS())
    (new IndexSearcher(sliced, segs), new IndexSearcher(spark, Seq(one)))
  }

  private lazy val oracle = new BruteForceOracle(pages, StandardAnalyzer.Default)

  private val boolQueries =
    Seq("court", "court AND law", "court OR law", "(court OR law) AND state", "the OR of")
  private val phrases =
    Seq(PhraseQuery(Seq("of", "the")), PhraseQuery(Seq("the", "of"), slop = 2))

  private def hits(ds: org.apache.spark.sql.Dataset[graft.search.ScoredDoc]): Seq[(Long, Double)] =
    ds.collect().toSeq.map(h => (h.docId, h.score))

  /** Each segment's resident slice count, by segment directory. */
  private def slicesOf(se: IndexSearcher): Seq[Int] = se.segments.map { m =>
    spark.sparkContext.getPersistentRDDs.values.filter(_.name == s"slices ${m.dir}")
      .map(_.getNumPartitions).toSeq match { case Seq(n) => n; case ns => sys.error(s"$ns") }
  }

  test("every segment loads as several bucket-range slices holding its exact blocks") {
    val terms = Seq("the", "court")
    val got = multi.blocksFor(terms).collect().toSeq
    assert(single.blocksFor(terms).collect().length > got.length / 2)
    assert(slicesOf(multi).forall(_ >= 3), s"slices per segment: ${slicesOf(multi)}")
    assert(slicesOf(single) == Seq(1))
    def row(term: String, seg: Int, bucket: Long, first: Long, last: Long, n: Int,
        streams: Seq[Array[Byte]]) = (term, seg, bucket, first, last, n, streams.map(Option(_).map(_.toSeq)))
    val want = multi.segments.zipWithIndex.flatMap { case (m, seg) =>
      spark.read.parquet(s"${m.dir}/postings").where($"term".isin(terms: _*)).collect().toSeq.map { r =>
        row(r.getAs[String]("term"), seg, r.getAs[Long]("bucket"), r.getAs[Long]("firstDocId"),
          r.getAs[Long]("lastDocId"), r.getAs[Int]("numDocs"), Seq("docsPacked", "freqsPacked",
            "normsPacked", "impacts", "posPacked").map(r.getAs[Array[Byte]]))
      }
    }
    assert(want.map(r => (r._2, r._3)).distinct.size >= 20, "few buckets: the slicing check is vacuous")
    assert(got.map(b => row(b.term, b.seg, b.bucket, b.firstDocId, b.lastDocId, b.numDocs,
      Seq(b.docsPacked, b.freqsPacked, b.normsPacked, b.impacts, b.posPacked))).sortBy(r => (r._1, r._2, r._4)) ==
      want.sortBy(r => (r._1, r._2, r._4)))
  }

  test("top-10: pruned == exhaustive == oracle == one segment, tombstones honoured") {
    assert(boolQueries.exists(s => oracle.topK(multi.parse(s), 10).exists(h => deleted(h._1))),
      "no deleted doc would rank: the tombstone check is vacuous")
    for (s <- boolQueries) {
      val q = multi.parse(s)
      val got = hits(multi.topK(q, 10))
      assert(got.size == 10, s"'$s': ${got.size} hits")
      assert(hits(multi.topK(q, 10, pruning = false)) == got, s"pruning changed '$s'")
      assert(hits(single.topK(q, 10)) == got, s"3 segments != 1 segment for '$s'")
      val want = oracle.topK(q, 10 + deleted.size).filterNot(h => deleted(h._1)).take(10)
      assert(got == want, s"engine != oracle for '$s'")
    }
    for (q <- phrases) {
      val got = hits(multi.topK(q, 10))
      assert(got.nonEmpty, s"vacuous phrase check for $q")
      assert(hits(multi.topK(q, 10, pruning = false)) == got, s"pruning changed $q")
      assert(hits(single.topK(q, 10)) == got, s"3 segments != 1 segment for $q")
    }
  }

  test("matching and scoreMatches: the oracle's live match set, one segment's scores") {
    for (s <- boolQueries) {
      val q = multi.parse(s)
      val want = oracle.matching(q).filterNot(deleted).toSet
      assert(multi.matching(q).collect().toSet == want, s"matching('$s')")
      val scored = hits(multi.scoreMatches(q))
      assert(scored.map(_._1).toSet == want && scored.size == want.size, s"scoreMatches('$s')")
      assert(scored.toMap == want.map(d => d -> oracle.eval(q, d.toInt).get).toMap,
        s"scoreMatches('$s') scores")
    }
    for (q <- phrases) {
      val docs = multi.matching(q).collect().toSet
      assert(docs.nonEmpty && docs == single.matching(q).collect().toSet, s"matching($q)")
      assert(hits(multi.scoreMatches(q)).toMap == hits(single.scoreMatches(q)).toMap,
        s"scoreMatches($q)")
    }
  }

  test("phrase counts and interval hits equal the one-segment index's") {
    def same[A](label: String, f: IndexSearcher => org.apache.spark.sql.Dataset[A]): Unit = {
      val got = f(multi).collect().toSet
      assert(got.nonEmpty, s"vacuous $label")
      assert(got == f(single).collect().toSet, label)
    }
    same("exact phrase", _.phraseFreqs(Seq("of", "the")))
    same("sloppy phrase", _.phraseFreqs(Seq("the", "of"), slop = 2))
    import Intervals._
    same("ordered intervals", _.intervalHits(Ordered(Seq(Term("the"), Term("of")))))
    same("disjunctive intervals", _.intervalHits(Or(Seq(Term("court"), Term("law")))))
    same("bounded unordered intervals",
      _.intervalHits(MaxWidth(Unordered(Seq(Term("the"), Term("court"))), 6)))
    assert(multi.phraseFreqs(Seq("of", "the")).collect().forall(h => !deleted(h._1)))
  }

  test("a query term absent from some segments still scores one slice per segment") {
    // a hapax lives in one slice of one segment
    import scala.jdk.CollectionConverters._
    val hapax = oracle.docTf.iterator.flatMap(_._1.keySet.asScala)
      .find(t => oracle.docFreq(t) == 1).get
    val q: Query = Query.or(hapax, "court")
    val got = hits(multi.topK(q, 10))
    assert(got.nonEmpty && got == hits(single.topK(q, 10)))
    assert(got == oracle.topK(q, 10 + deleted.size).filterNot(h => deleted(h._1)).take(10))
  }
}
