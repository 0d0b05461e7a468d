package graft

import graft.analysis.StandardAnalyzer
import graft.corpus.{Corpus, Page}
import graft.index.{Deletes, IndexBuilder, IndexConfig, SegmentManifest, SegmentWriter}
import graft.index.Schema.PostingBlock
import graft.search._

/** A resident slice is the unit of query parallelism: each segment loads as
  * several bucket-range slices (a session with a small
  * `spark.sql.files.maxPartitionBytes`), and each slice is scored as one
  * doc range, by one scorer tree into one collector; a posting block that
  * runs into the next slice is cut at the boundary. With several slices
  * per segment and tombstones in one segment, the pruned top-10 equals the
  * exhaustive one, the brute-force oracle, a one-segment, one-slice index
  * of the same docs, and the same blocks scored bucket by bucket; match
  * sets, scored matches, phrase counts and interval hits equal the
  * one-slice index's.
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

  /** Segment `m`'s Parquet blocks of `terms` as its `n` slices hold them:
    * a block whose docs run into the next slice cut at the boundary, each
    * piece tagged (as `blocksFor` tags it) with its slice's first bucket.
    * Also returns how many blocks straddle a slice boundary.
    */
  private def sliced(m: SegmentManifest, n: Int, terms: Seq[String]): (Seq[PostingBlock], Int) = {
    val buckets = (m.maxDocId >> m.bucketShift) + 1
    def slice(docId: Long): Int = ((docId >>> m.bucketShift) * n / buckets).toInt
    def first(s: Int): Long = ((s * buckets + n - 1) / n) << m.bucketShift
    val rows = spark.read.parquet(s"${m.dir}/postings").where($"term".isin(terms: _*))
      .as[PostingBlock].collect().toSeq
    (rows.flatMap { b =>
      (slice(b.firstDocId) to slice(b.lastDocId)).flatMap { s =>
        SegmentWriter.clip(b, first(s), first(s + 1), m.bucketShift)
          .map(_.copy(bucket = first(s) >>> m.bucketShift))
      }
    }, rows.count(b => slice(b.firstDocId) != slice(b.lastDocId)))
  }

  test("every segment loads as several bucket-range slices holding its exact blocks") {
    val terms = Seq("the", "court")
    val got = multi.blocksFor(terms).collect().toSeq
    // three segments, cut at slice boundaries: more blocks than one segment
    assert(single.blocksFor(terms).collect().length < got.length)
    assert(slicesOf(multi).forall(_ >= 3), s"slices per segment: ${slicesOf(multi)}")
    assert(slicesOf(single) == Seq(1))
    def row(term: String, seg: Int, bucket: Long, first: Long, last: Long, n: Int,
        streams: Seq[Array[Byte]]) = (term, seg, bucket, first, last, n, streams.map(Option(_).map(_.toSeq)))
    val cut = multi.segments.zip(slicesOf(multi)).map { case (m, n) => sliced(m, n, terms) }
    assert(cut.map(_._2).sum > 0, "no block straddles a slice: the clip check is vacuous")
    val want = cut.zipWithIndex.flatMap { case ((bs, _), seg) =>
      bs.map(b => row(b.term, seg, b.bucket, b.firstDocId, b.lastDocId, b.numDocs,
        Seq(b.docsPacked, b.freqsPacked, b.normsPacked, b.impacts, b.posPacked)))
    }
    assert(want.map(r => (r._2, r._3)).distinct.size >= 9, "few slices: the slicing check is vacuous")
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

  /** `q`'s top-k scored the way perfbench's traced probe scores it: `se`'s
    * `blocksFor` blocks grouped by their (segment, bucket) tag — one group
    * per slice — each group by its own scorer tree into its own collector,
    * the groups' hits merged by (score desc, docId asc).
    */
  private def perBucketTopK(se: IndexSearcher, q: Query, k: Int): Seq[(Long, Double)] = {
    val sims = oracle.simScorers(q)
    val tombs = se.segments.map(m => Deletes.readTombstones(spark, m.dir, m.maxDocId))
    se.blocksFor(q.terms.toSeq).collect().groupBy(b => (b.seg, b.bucket)).toSeq.flatMap {
      case ((seg, _), bs) =>
        val byTerm = bs.groupBy(_.term).map { case (t, arr) =>
          t -> arr.sortBy(_.firstDocId).map(b => BlockView(b.firstDocId, b.lastDocId,
            b.numDocs, b.docsPacked, b.freqsPacked, b.normsPacked, b.impacts, b.posPacked))
        }
        val c = new TopKCollector(k, tombs(seg))
        Executor.search(q, byTerm, sims, c, pruning = true)
        c.results.map { case (d, sc) => (d + se.bases(seg), sc) }
    }.sortBy(h => (-h._2, h._1)).take(k)
  }

  test("a slice is one doc range: topK == per-bucket scoring == oracle") {
    def t(s: String) = TermQuery(s)
    import Occur._
    val court = ConstScoreQuery(t("court"))
    val queries: Seq[Query] = Seq(
      t("court"),
      BoolQuery(Seq(t("court") -> Must, t("law") -> Must)),
      BoolQuery(Seq(t("court") -> Should, t("law") -> Should)),
      BoolQuery(Seq(BoolQuery(Seq(t("court") -> Should, t("law") -> Should)) -> Must,
        t("state") -> Should)),
      BoolQuery(Seq(t("court") -> Should, t("law") -> Should, t("state") -> Should,
        t("of") -> Should), minimumShouldMatch = 2),
      BoolQuery(Seq(t("the") -> Should, t("of") -> Should, t("court") -> MustNot)),
      BoolQuery(Seq(t("court") -> Should, t("law") -> Should, t("the") -> Filter)),
      BoostQuery(t("court"), 2.5),
      SynonymQuery(Seq("court", "law")),
      DisMaxQuery(Seq(t("court"), t("law")), 0.2),
      PhraseQuery(Seq("of", "the")),
      IntervalQuery(Intervals.Ordered(Seq(Intervals.Term("the"), Intervals.Term("of")))),
      court)
    // every match of `court` ties, so its top-10 is its 10 lowest live
    // docIds: they must cross a bucket boundary for the tie check to bite
    val tied = oracle.topK(court, 10 + deleted.size).filterNot(h => deleted(h._1)).take(10)
    assert(tied.size == 10 && tied.map(_._1 >>> cfg.bucketShift).distinct.size >= 2,
      s"tied hits in one bucket: ${tied.map(_._1)}")
    assert(oracle.matching(court).count(d => !deleted(d)) > 10, "no tie cut at k")
    // the multi-slice index has blocks that straddle a slice boundary
    val terms = queries.flatMap(_.terms).distinct
    assert(multi.segments.zip(slicesOf(multi)).map { case (m, n) => sliced(m, n, terms)._2 }.sum > 0,
      "no block straddles a slice: the multi-slice check is vacuous")
    for (se <- Seq(single, multi); q <- queries) {
      val got = hits(se.topK(q, 10))
      assert(got.nonEmpty, s"vacuous check for $q")
      assert(got == perBucketTopK(se, q, 10), s"slice != buckets for $q")
      assert(got == oracle.topK(q, 10 + deleted.size).filterNot(h => deleted(h._1)).take(10),
        s"engine != oracle for $q")
    }
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
