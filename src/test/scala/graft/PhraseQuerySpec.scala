package graft

import graft.index.{IndexBuilder, IndexConfig, Manifest}
import graft.search._

/** First-class PhraseQuery in the scorer tree: duels vs brute force over
  * analyzer tokens (double and float-exact), boolean composition, parser syntax (quoted phrases, slop, ranges,
  * wildcard, fuzzy), percolator phrase clauses, explain parity.
  */
class PhraseQuerySpec extends SparkTestBase {

  private val pages = Seq(
    "doc0" -> "data query runs fast here",       // exact phrase
    "doc1" -> "data x query table",              // slop-1 window (span 2)
    "doc2" -> "query data adjacent",             // wrong order
    "doc3" -> "data alone table stream",         // term data only
    "doc4" -> "data query data query table",     // phrase freq 2
    "doc5" -> "nothing relevant stream"
  )

  private lazy val searcher: IndexSearcher = {
    import spark.implicits._
    val dir = tmpDir("phq")
    IndexBuilder.buildSegment(spark.createDataset(pages), dir,
      IndexConfig(bucketShift = 9, numPostingPartitions = 4,
        numDocPartitions = 2, storePositions = true))
    new IndexSearcher(spark, Seq(Manifest.read(dir).get),
      precision = Precision.DoubleOracle)
  }

  /** Brute force over the analyzer's tokens: (docId → phrase freq) of an
    * exact phrase, and the BM25 inputs — per-term docFreq, doc lengths.
    */
  private lazy val toks = pages.map { case (_, t) =>
    graft.analysis.StandardAnalyzer.Default.tokens(t).map(k => (k.position, k.term)) }
  private def bruteFreqs(phrase: Seq[String]): Map[Long, Int] =
    toks.zipWithIndex.flatMap { case (ts, d) =>
      val at = ts.toMap
      val f = ts.count { case (p, _) => phrase.indices.forall(i => at.get(p + i).contains(phrase(i))) }
      if (f > 0) Some(d.toLong -> f) else None
    }.toMap
  private def docFreq(t: String): Long = toks.count(_.exists(_._2 == t)).toLong
  private def normOf(d: Long): Int =
    graft.codec.SmallFloat.intToByte4(toks(d.toInt).size) & 0xff

  test("phrase node duels brute-force phrase scoring (same docs, same scores)") {
    val phrase = Seq("data", "query")
    val viaNode = searcher.topK(PhraseQuery(phrase), 10)
      .collect().map(s => s.docId -> s.score).toMap
    val n = toks.size.toLong
    val sim = new Bm25DoubleScorer(1.2, 0.75, phrase.map(t => Bm25.idfD(docFreq(t), n)).sum,
      toks.map(_.size).sum / n.toDouble)
    val brute = bruteFreqs(phrase).map { case (d, f) => d -> sim.score(f, normOf(d)) }
    assert(brute.keySet == Set(0L, 4L))
    assert(viaNode == brute)
  }

  test("float-exact boosted phrase: Σ idf narrows to float before the boost") {
    // BM25Similarity#idfExplain(CollectionStatistics, TermStatistics[]) sums
    // the float idfs in double and narrows; BM25Scorer then weighs boost *
    // idf in float — not (boost * Σ idf) narrowed once
    val fe = new IndexSearcher(spark, searcher.segments)
    val (phrase, boost) = (Seq("data", "query"), 0.3)
    val n = toks.size.toLong
    val idfSum = phrase.map(t => Bm25.idf(docFreq(t), n).toDouble).sum
    val avgdl = (toks.map(_.size).sum / n.toDouble).toFloat
    def scores(weight: Float): Map[Long, Double] = {
      val sim = new Bm25FloatScorer(1.2f, 0.75f, weight, avgdl)
      bruteFreqs(phrase).map { case (d, f) => d -> sim.score(f, normOf(d)) }
    }
    val lucene = scores(boost.toFloat * idfSum.toFloat)
    // the terms and boost are picked so the two narrowings disagree
    assert(scores((boost * idfSum).toFloat) != lucene, "non-discriminating fixture")
    val got = fe.topK(BoostQuery(PhraseQuery(phrase), boost), 10).collect()
      .map(s => s.docId -> s.score).toMap
    assert(got == lucene)
    got.foreach { case (d, v) => assert(fe.explain(BoostQuery(PhraseQuery(phrase), boost), d).value == v) }
  }

  test("exact phrase matches adjacency only; sloppy widens, order matters") {
    def docs(q: Query) = searcher.topK(q, 10).collect().map(_.docId).toSet
    assert(docs(PhraseQuery(Seq("data", "query"))) == Set(0L, 4L))
    assert(docs(PhraseQuery(Seq("data", "query"), slop = 1)) == Set(0L, 1L, 4L))
    // ordered-window semantics: reversed order in doc2 never matches
    assert(!docs(PhraseQuery(Seq("data", "query"), slop = 3)).contains(2L))
    // doc2 ("query data ...") and doc4 ("... query data query ..." at 1-2)
    assert(docs(PhraseQuery(Seq("query", "data"))) == Set(2L, 4L))
  }

  test("phrase freq drives the score (doc4 over doc0)") {
    val hits = searcher.topK(PhraseQuery(Seq("data", "query")), 10).collect()
    val by = hits.map(h => h.docId -> h.score).toMap
    // doc4 has freq 2 but is also longer; same norm bucket -> higher score
    assert(by(4L) > by(0L))
  }

  test("phrase composes in booleans: conjunction scores add") {
    val phrase = PhraseQuery(Seq("data", "query"))
    val both = BoolQuery(Seq(
      phrase -> (Occur.Must: Occur), TermQuery("table") -> (Occur.Must: Occur)))
    val hits = searcher.topK(both, 10).collect().map(h => h.docId -> h.score).toMap
    assert(hits.keySet == Set(4L)) // doc1 lacks adjacency, doc0 lacks 'table'
    val pOnly = searcher.topK(phrase, 10).collect().map(h => h.docId -> h.score).toMap
    val tOnly = searcher.topK(TermQuery("table"), 10).collect()
      .map(h => h.docId -> h.score).toMap
    assert(math.abs(hits(4L) - (pOnly(4L) + tOnly(4L))) < 1e-12)
  }

  test("phrase as SHOULD clause and under MUST_NOT") {
    val q = BoolQuery(Seq(
      TermQuery("stream") -> (Occur.Should: Occur),
      PhraseQuery(Seq("data", "query")) -> (Occur.Should: Occur)))
    val ids = searcher.topK(q, 10).collect().map(_.docId).toSet
    assert(ids == Set(0L, 3L, 4L, 5L)) // doc1: no 'stream', no exact phrase
    val not = BoolQuery(Seq(
      TermQuery("data") -> (Occur.Must: Occur),
      PhraseQuery(Seq("data", "query")) -> (Occur.MustNot: Occur)))
    assert(searcher.topK(not, 10).collect().map(_.docId).toSet == Set(1L, 2L, 3L))
  }

  test("matching/count/cache handle phrase nodes") {
    val pq = PhraseQuery(Seq("data", "query"))
    assert(searcher.matching(pq).collect().toSet == Set(0L, 4L))
    assert(searcher.count(pq) == 2L)
    assert(searcher.matchingCached(pq).collect().toSet == Set(0L, 4L))
  }

  test("explain root equals search score for phrase and mixed queries") {
    val q = BoolQuery(Seq(
      PhraseQuery(Seq("data", "query"), slop = 1) -> (Occur.Must: Occur),
      TermQuery("table") -> (Occur.Should: Occur)))
    val hits = searcher.topK(q, 10).collect()
    assert(hits.nonEmpty)
    hits.foreach { h =>
      val e = searcher.explain(q, h.docId)
      assert(e.matched, s"doc ${h.docId}")
      assert(math.abs(e.value - h.score) < 1e-9, s"doc ${h.docId}")
    }
    val miss = searcher.explain(PhraseQuery(Seq("data", "query")), 2L)
    assert(!miss.matched)
  }

  test("multiphrase: slot alternation, gap offsets, degenerate equality") {
    def docs(q: Query) = searcher.topK(q, 10).collect().map(_.docId).toSet
    // data followed by (query | table)
    val alt = MultiPhraseQuery(Seq(0 -> Seq("data"), 1 -> Seq("query", "table")))
    assert(docs(alt) == Set(0L, 4L))
    // explicit gap: data at p, query at p+2 (doc1 "data x query table")
    val gap = MultiPhraseQuery(Seq(0 -> Seq("data"), 2 -> Seq("query")))
    assert(docs(gap) == Set(1L))
    // single-term slots at consecutive offsets == PhraseQuery, scores too
    val viaMulti = searcher.topK(
      MultiPhraseQuery(Seq(0 -> Seq("data"), 1 -> Seq("query"))), 10)
      .collect().map(h => h.docId -> h.score).toMap
    val viaPhrase = searcher.topK(PhraseQuery(Seq("data", "query")), 10)
      .collect().map(h => h.docId -> h.score).toMap
    assert(viaMulti == viaPhrase)
  }

  test("multiphrase: sloppy mode, boolean composition, explain parity") {
    val mq = MultiPhraseQuery(
      Seq(0 -> Seq("data"), 1 -> Seq("query", "stream")), slop = 1)
    // ordered window span <= 2 over merged slot lists:
    // doc0 data@0,query@1; doc1 data@0,query@2; doc3 data@0,stream@3? span 4 no
    val hits = searcher.topK(mq, 10).collect()
    assert(hits.map(_.docId).toSet == Set(0L, 1L, 4L))
    hits.foreach { h =>
      val e = searcher.explain(mq, h.docId)
      assert(e.matched && math.abs(e.value - h.score) < 1e-9, s"doc ${h.docId}")
    }
    val combined = BoolQuery(Seq(
      mq -> (Occur.Must: Occur), TermQuery("table") -> (Occur.MustNot: Occur)))
    assert(searcher.topK(combined, 10).collect().map(_.docId).toSet == Set(0L))
  }

  test("percolator evaluates multiphrase via the broadcast path") {
    import spark.implicits._
    val docs = pages.zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
    val stored = Seq("q_alt" ->
      (MultiPhraseQuery(Seq(0 -> Seq("data"), 1 -> Seq("query", "table"))): Query))
    val got = graft.streaming.Streaming
      .percolate(docs, "doc_id", "text", stored)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("q_alt", 0L), ("q_alt", 4L)))
  }

  test("interval query: saturation scoring matches the reference formula") {
    import graft.search.Intervals.{MaxWidth, Term, Unordered}
    val iq = IntervalQuery(MaxWidth(Unordered(Seq(Term("data"), Term("query"))), 8))
    // minimal unordered intervals (minExtent 2, f = sum 1/max(len-1, 1)):
    //   doc0 [0,1] -> f=1 -> 0.5 ; doc1 [0,2] -> f=1/2 -> 1/3
    //   doc2 [0,1] -> 0.5 ; doc4 [0,1],[1,2],[2,3] -> f=3 -> 0.75
    val hits = searcher.topK(iq, 10).collect().map(h => h.docId -> h.score).toMap
    assert(hits.keySet == Set(0L, 1L, 2L, 4L))
    assert(math.abs(hits(4L) - 0.75) < 1e-9)
    assert(math.abs(hits(0L) - 0.5) < 1e-9)
    assert(math.abs(hits(1L) - 1.0 / 3) < 1e-9)
    // boost scales the saturation; explain agrees with search
    val boosted = searcher.topK(BoostQuery(iq, 2.0), 10).collect()
      .map(h => h.docId -> h.score).toMap
    assert(math.abs(boosted(4L) - 1.5) < 1e-9)
    hits.keys.foreach { d =>
      val e = searcher.explain(iq, d)
      assert(e.matched && math.abs(e.value - hits(d)) < 1e-9, s"doc $d")
    }
    // composes in booleans
    val both = BoolQuery(Seq(
      iq -> (Occur.Must: Occur), TermQuery("table") -> (Occur.Must: Occur)))
    assert(searcher.topK(both, 10).collect().map(_.docId).toSet == Set(1L, 4L))
    assert(searcher.count(iq) == 4L)
  }

  test("percolator evaluates interval queries via the broadcast path") {
    import spark.implicits._
    import graft.search.Intervals.{MaxWidth, Term, Unordered}
    val docs = pages.zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
    val stored = Seq("q_iv" ->
      (IntervalQuery(MaxWidth(Unordered(Seq(Term("data"), Term("query"))), 3)): Query))
    val got = graft.streaming.Streaming.percolate(docs, "doc_id", "text", stored)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("q_iv", 0L), ("q_iv", 1L), ("q_iv", 2L), ("q_iv", 4L)))
  }

  // ------------------------------------------------------- parser syntax

  test("parser: quoted phrase, slop, boost, field scope") {
    assert(Query.parse("\"a b\"") == PhraseQuery(Seq("a", "b")))
    assert(Query.parse("\"a b c\"~2") == PhraseQuery(Seq("a", "b", "c"), 2))
    assert(Query.parse("\"a b\"^2") == BoostQuery(PhraseQuery(Seq("a", "b")), 2.0))
    assert(Query.parse("t:\"a b\"") == PhraseQuery(Seq(
      graft.index.FieldKey.encode("t", "a"), graft.index.FieldKey.encode("t", "b"))))
    // single-word phrase degrades to a term
    assert(Query.parse("\"a\"") == TermQuery("a"))
    assert(Query.parse("x AND \"a b\"") ==
      BoolQuery(Seq(TermQuery("x") -> (Occur.Must: Occur),
        PhraseQuery(Seq("a", "b")) -> (Occur.Must: Occur))))
    intercept[IllegalArgumentException](Query.parse("\"a b"))
  }

  test("parser: +required / -prohibited prefix operators") {
    // +a b -c in implicit-OR context: a required, b optional, c prohibited
    assert(Query.parse("+a b -c") == BoolQuery(Seq(
      TermQuery("a") -> (Occur.Must: Occur),
      TermQuery("b") -> (Occur.Should: Occur),
      TermQuery("c") -> (Occur.MustNot: Occur))))
    // +term survives an explicit AND context unchanged
    assert(Query.parse("+a AND b") == BoolQuery(Seq(
      TermQuery("a") -> (Occur.Must: Occur),
      TermQuery("b") -> (Occur.Must: Occur))))
    // prefix operators compose with phrases and boosts
    assert(Query.parse("+\"a b\" -c^2") == BoolQuery(Seq(
      PhraseQuery(Seq("a", "b")) -> (Occur.Must: Occur),
      BoostQuery(TermQuery("c"), 2.0) -> (Occur.MustNot: Occur))))
    // a bare negative number term is a prohibited clause (Lucene semantics)
    assert(Query.parse("a -5") == BoolQuery(Seq(
      TermQuery("a") -> (Occur.Should: Occur),
      TermQuery("5") -> (Occur.MustNot: Occur))))
  }

  test("parser: backslash escapes make syntax chars literal") {
    // escaped operators at token start are term text
    assert(Query.parse("\\+a \\-b") == BoolQuery(Seq(
      TermQuery("+a") -> (Occur.Should: Occur),
      TermQuery("-b") -> (Occur.Should: Occur))))
    // escaped metachars don't trigger multi-term routing (no dictionary needed)
    assert(Query.parse("a\\*b") == TermQuery("a*b"))
    assert(Query.parse("a\\?b") == TermQuery("a?b"))
    assert(Query.parse("a\\~2") == TermQuery("a~2"))
    assert(Query.parse("a\\^2") == TermQuery("a^2"))
    // escaped colon is not a field separator; escaped backslash is literal
    assert(Query.parse("f\\:x") == TermQuery("f:x"))
    assert(Query.parse("a\\\\b") == TermQuery("a\\b"))
    // unescaped syntax still works next to escapes
    assert(Query.parse("a\\*b^2") == BoostQuery(TermQuery("a*b"), 2.0))
    // escaped quote inside a phrase stays in the word
    assert(Query.parse("\"a\\\" b\"") == PhraseQuery(Seq("a\"", "b")))
  }

  test("parser: multi-term atoms route through the rewriter") {
    var seen = List.empty[MultiTerm]
    val rw: MultiTerm => Query = { mt => seen ::= mt; TermQuery("sentinel") }
    Query.parse("pre* w?ld term~1 fuzz~ [aa TO bb] {cc TO dd}", rewrite = rw)
    assert(seen.reverse == List(
      MultiTerm.Prefix("pre"), MultiTerm.Wildcard("w?ld"),
      MultiTerm.Fuzzy("term", 1), MultiTerm.Fuzzy("fuzz", 2),
      MultiTerm.Range("aa", "bb", includeLo = true, includeHi = true),
      MultiTerm.Range("cc", "dd", includeLo = false, includeHi = false)))
    // pure parser rejects multi-term syntax without a dictionary
    intercept[IllegalArgumentException](Query.parse("pre*"))
  }

  test("parseFull: dictionary-backed expansion end to end") {
    // 'dat*' -> prefix expansion (constant score); 'tble~1' -> fuzzy 'table'
    val hits = searcher.topK(searcher.parseFull("\"data query\"~1 AND tbl~2"), 10)
      .collect().map(_.docId).toSet
    assert(hits == Set(1L, 4L)) // phrase-window docs that also match ~table
    val wild = searcher.topK(searcher.parseFull("quer?"), 10).collect().map(_.docId).toSet
    assert(wild == Set(0L, 1L, 2L, 4L))
    val range = searcher.topK(searcher.parseFull("[table TO tablf]"), 10)
      .collect().map(_.docId).toSet
    assert(range == Set(1L, 3L, 4L))
  }

  // ------------------------------------------------------- percolator

  test("percolator evaluates phrase clauses on both paths") {
    import spark.implicits._
    val docs = pages.zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
    val stored = Seq(
      "q_exact" -> Query.parse("\"data query\""),
      "q_slop" -> Query.parse("\"data query\"~1"),
      "q_mix" -> Query.parse("table AND \"data query\""))
    // sloppy and exact phrases in one stored set
    val got = graft.streaming.Streaming
      .percolate(docs, "doc_id", "text", stored)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(
      ("q_exact", 0L), ("q_exact", 4L),
      ("q_slop", 0L), ("q_slop", 1L), ("q_slop", 4L),
      ("q_mix", 4L)))
    // a set of exact phrases only agrees
    val exactOnly = graft.streaming.Streaming
      .percolate(docs, "doc_id", "text",
        Seq("q_exact" -> Query.parse("\"data query\""),
          "q_mix" -> Query.parse("table AND \"data query\"")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(exactOnly == Set(("q_exact", 0L), ("q_exact", 4L), ("q_mix", 4L)))
  }

  test("field-scoped phrase: per-field positions, no cross-field match") {
    import spark.implicits._
    val dir = tmpDir("phq-fields")
    val pages = Seq(
      "doc0" -> Seq("title" -> "alpha beta", "body" -> "gamma delta"),
      "doc1" -> Seq("title" -> "x beta", "body" -> "beta gamma here"),
      "doc2" -> Seq("title" -> "x y", "body" -> "gamma beta"))
    graft.index.IndexBuilder.buildSegmentFields(
      spark.createDataset(pages), dir,
      graft.index.IndexConfig(bucketShift = 9, numPostingPartitions = 4,
        numDocPartitions = 2, storePositions = true))
    val se = new IndexSearcher(spark,
      Seq(graft.index.Manifest.read(dir).get), precision = Precision.DoubleOracle)
    def docs(q: String) = se.parse(q) match {
      case p => se.topK(p, 10).collect().map(_.docId).toSet
    }
    // beta@title-end + gamma@body-start must NOT form a body phrase (doc0:
    // fields are separate streams; doc1 has it inside body)
    assert(docs("body:\"beta gamma\"") == Set(1L))
    assert(docs("body:\"gamma delta\"") == Set(0L))
    assert(docs("title:\"alpha beta\"") == Set(0L))
    // same words in the wrong field never match
    assert(docs("title:\"gamma delta\"") == Set.empty)
  }

  test("phrase on a positions-free index fails fast in parseFull") {
    import spark.implicits._
    val dir = tmpDir("phq-nopos")
    IndexBuilder.buildSegment(
      spark.createDataset(Seq("d0" -> "a b")), dir,
      IndexConfig(bucketShift = 9, numPostingPartitions = 2, numDocPartitions = 1))
    val s2 = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    intercept[IllegalArgumentException](s2.parseFull("\"a b\""))
  }

  test("a positions-free index fails every phrase path loudly, before any job") {
    import spark.implicits._
    import graft.search.Intervals.{Ordered, Term}
    val dir = tmpDir("phq-nopos2")
    IndexBuilder.buildSegment(
      spark.createDataset(Seq("d0" -> "a b", "d1" -> "b a")), dir,
      IndexConfig(bucketShift = 9, numPostingPartitions = 2, numDocPartitions = 1))
    val s2 = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    val phrase = PhraseQuery(Seq("a", "b"))
    val (errors, log) = countJobs(Seq[() => Any](
      () => s2.phraseFreqs(Seq("a", "b")),
      () => s2.phraseFreqs(Seq("a", "b"), slop = 1),
      () => s2.topK(phrase, 10),
      () => s2.topK(BoolQuery(Seq(TermQuery("a") -> (Occur.Must: Occur),
        phrase -> (Occur.Should: Occur))), 10),
      () => s2.explain(phrase, 0L),
      () => s2.matching(phrase),
      () => s2.intervalHits(Ordered(Seq(Term("a"), Term("b"))))
    ).map(f => intercept[IllegalArgumentException](f()).getMessage))
    errors.foreach(m => assert(m.contains("need an index built with storePositions"), m))
    assert(log.jobs == 0, s"a job ran before the check: ${log.executions}")
    // term queries still run on the same index
    assert(s2.topK(TermQuery("a"), 10).collect().length == 2)
  }

  test("complex phrase: wildcard/fuzzy atoms expand into MultiPhrase slots") {
    // "data quer*" -> slot {data}, slot {query} (dictionary expansion)
    searcher.parseComplexPhrase("data quer*") match {
      case MultiPhraseQuery(slots, 0) =>
        assert(slots == Seq(0 -> Seq("data"), 1 -> Seq("query")))
      case q => fail(s"unexpected $q")
    }
    // fuzzy atom: 1-edit neighbors of 'quary' in THIS corpus = {query}
    searcher.parseComplexPhrase("data quary~1") match {
      case MultiPhraseQuery(slots, 0) =>
        assert(slots == Seq(0 -> Seq("data"), 1 -> Seq("query")))
      case q => fail(s"unexpected $q")
    }
    // wildcard with several expansions keeps them all as one slot
    searcher.parseComplexPhrase("data ta*") match {
      case MultiPhraseQuery(slots, 0) =>
        assert(slots.head == (0 -> Seq("data")))
        assert(slots(1)._2.toSet == Set("table"))
      case q => fail(s"unexpected $q")
    }
    // no dictionary match for an atom -> unmatchable phrase
    assert(searcher.parseComplexPhrase("data zz*") == MatchNoneQuery)
    // wildcard + fuzzy on one atom is rejected loudly, never silently
    // re-interpreted as a plain wildcard
    intercept[IllegalArgumentException](searcher.parseComplexPhrase("data quer*~1"))
    // matches behave like the expanded MultiPhrase (doc0, doc4 adjacency)
    val got = searcher.topK(searcher.parseComplexPhrase("data quer*"), 10)
      .collect().map(_.docId).toSet
    assert(got == Set(0L, 4L))
    // a stopword atom leaves a position gap (default analyzer keeps
    // stopwords, so build a stopword-filtering searcher view)
    val stopSearcher = new IndexSearcher(spark, searcher.segments,
      precision = Precision.DoubleOracle,
      analyzer = new graft.analysis.StandardAnalyzer(stopwords = Set("the")))
    stopSearcher.parseComplexPhrase("data the quer*") match {
      case MultiPhraseQuery(slots, 0) =>
        assert(slots.map(_._1) == Seq(0, 2))
      case q => fail(s"unexpected $q")
    }
  }

  test("surround queries match through the intervals algebra") {
    def docs(q: Query) = searcher.matching(q).collect().toSet
    // W(data, query): ordered adjacent (width <= 2) -> doc0, doc4
    assert(docs(searcher.parseSurround("W(data, query)")) == Set(0L, 4L))
    // 2W: width <= 3 admits doc1's "data x query"
    assert(docs(searcher.parseSurround("2W(data, query)")) == Set(0L, 1L, 4L))
    // N unordered: doc2's "query data" now matches at distance 1
    assert(docs(searcher.parseSurround("N(data, query)")) == Set(0L, 2L, 4L))
    // boolean composition over the distance op
    assert(docs(searcher.parseSurround("W(data, query) NOT table")) == Set(0L))
    // wildcard inside the distance op: quer* expands against the dictionary
    assert(docs(searcher.parseSurround("2W(data, quer*)")) == Set(0L, 1L, 4L))
  }

  test("nested distance operators: width honors child extents") {
    def docs(q: Query) = searcher.matching(q).collect().toSet
    // N(runs, W(data, query)): the nested pair occupies 2 positions, so a
    // distance-1 envelope needs width 3 (slop 0 + extents 1 + 2) — doc0's
    // "data query runs" matches; a per-child width (2) would match nothing
    assert(docs(searcher.parseSurround("N(runs, W(data, query))")) == Set(0L))
    assert(docs(searcher.parseSurround("runs N data W query")) == Set(0L))
    // doc4 "data query data query table": W hits [2,3], table at 4 -> [2,4]
    assert(docs(searcher.parseSurround("table N W(data, query)")) == Set(4L))
  }
}
