package graft

import graft.index.{IndexBuilder, IndexConfig, Manifest}
import graft.search._

/** Complete multi-term rewrites past the expansion cap — the reference's
  * CONSTANT_SCORE bitset rewrite (`search/MultiTermQuery.java`,
  * `MultiTermQueryConstantScoreWrapper.java`) and docFreq-capped top-terms
  * scoring rewrite (`search/TopTermsRewrite.java`): a pattern matching far
  * more dictionary terms than `maxExpansions` must return the SAME result
  * set as an uncapped enumeration — never a silent alphabetical prefix of
  * it.
  */
class MultiTermDictSpec extends SparkTestBase {

  private val NDocs = 1400
  private val cfg = IndexConfig(bucketShift = 9, numPostingPartitions = 8,
    numDocPartitions = 4)

  // every doc: a shared term, a UNIQUE pre#### term (so "pre*" expands to
  // NDocs distinct dictionary terms — far past any test cap), a small tail
  // class, and fz-family terms with strictly decreasing docFreq for the
  // top-terms fuzzy cap
  private def text(i: Long): String = {
    val fz = (0 until 10).filter(j => i % (j + 2) == 0).map(j => s"fz$j")
    (Seq("common", f"pre$i%04d", s"tail${i % 7}") ++ fz).mkString(" ")
  }
  // zero-padded urls: docId = global url-sort rank, so docId == i
  private lazy val pages: Seq[(String, String)] =
    (0L until NDocs.toLong).map(i => (f"https://d$i%05d.example/", text(i)))

  private lazy val segDir: String = {
    import spark.implicits._
    val dir = tmpDir("mtd")
    IndexBuilder.buildSegment(spark.createDataset(pages), dir, cfg)
    dir
  }
  private lazy val searcher: IndexSearcher =
    new IndexSearcher(spark, Seq(Manifest.read(segDir).get))

  private def ids(q: Query): Set[Long] = searcher.matching(q).collect().toSet

  test("prefix past the cap: complete rewrite == uncapped enumeration") {
    // cap 100 << 1400 matching terms: the old path silently kept the
    // alphabetically-first 100; the complete rewrite must match every doc
    val capped = searcher.parseFull("pre* AND common", maxExpansions = 100)
    val full = searcher.parseFull("pre* AND common", maxExpansions = 10000)
    assert(ids(capped) == (0L until NDocs.toLong).toSet)
    assert(ids(capped) == ids(full))
    // top-k agrees too (constant-score filter + scored MUST)
    val k1 = searcher.topK(capped, 10).collect().map(s => (s.docId, s.score)).toSeq
    val k2 = searcher.topK(full, 10).collect().map(s => (s.docId, s.score)).toSeq
    assert(k1 == k2)
  }

  test("range past the cap: complete rewrite == uncapped enumeration") {
    val capped = searcher.parseFull("[pre0000 TO pre9999] AND tail3",
      maxExpansions = 50)
    val full = searcher.parseFull("[pre0000 TO pre9999] AND tail3",
      maxExpansions = 10000)
    val expect = (0L until NDocs.toLong).filter(_ % 7 == 3).toSet
    assert(ids(capped) == expect)
    assert(ids(capped) == ids(full))
  }

  test("trailing wildcard past the cap: complete rewrite == enumeration") {
    val capped = searcher.parseFull("pre0*", maxExpansions = 10)
    val full = searcher.parseFull("pre0*", maxExpansions = 10000)
    // pre0000..pre0999: the first 1000 docs
    val expect = (0L until 1000L).toSet
    assert(ids(capped) == expect && ids(full) == expect)
  }

  test("leading wildcard past the cap: complete rewrite == uncapped enumeration") {
    // *7: pre0007, pre0017, ... (140 terms) plus fz7 and tail-free — cap 20
    val capped = searcher.parseFull("*7", maxExpansions = 20)
    val full = searcher.parseFull("*7", maxExpansions = 10000)
    val expect = pages.zipWithIndex.collect {
      case ((_, t), i) if t.split(" ").exists(_.endsWith("7")) => i.toLong
    }.toSet
    assert(ids(capped) == expect)
    assert(ids(capped) == ids(full))
  }

  test("under the cap keeps the enumerated constant-score OR") {
    // tail* matches 7 terms — a 10-term cap must NOT produce a dict node
    // (count shortcut: enumerated OR matches, and scores equal const 1)
    val q = searcher.parseFull("tail0", maxExpansions = 10)
    assert(ids(q) == (0L until NDocs.toLong).filter(_ % 7 == 0).toSet)
    val qq = searcher.parseFull("tail*", maxExpansions = 10)
    assert(ids(qq) == (0L until NDocs.toLong).toSet)
  }

  test("fuzzy cap keeps the HIGHEST-docFreq candidates, not alphabetical") {
    // fz0..fz9 all within 1 edit of "fz0"; docFreq(fzj) = |{i : i % (j+2) = 0}|
    // strictly decreases with j — a cap of 3 must keep fz0, fz1, fz2
    val kept = searcher.expandFuzzy("fz0", maxEdits = 1, max = 3)
    assert(kept.toSet == Set("fz0", "fz1", "fz2"),
      s"expected top-docFreq candidates, got $kept")
    // and the scoring query over them matches exactly their doc union
    val q = searcher.parseFull("fz0~1", maxExpansions = 3)
    val expect = (0L until NDocs.toLong)
      .filter(i => i % 2 == 0 || i % 3 == 0 || i % 4 == 0).toSet
    assert(ids(q) == expect)
  }

  test("fuzzy dict node past the cap == the enumerated OR") {
    // pre0000~2 matches every pre#### term with at most two non-zero
    // digits (hundreds of terms, far past a cap of 100); the dict node
    // reads them from the resident dictionary with no cap at all
    val terms = searcher.expandFuzzy("pre0000", maxEdits = 2, max = 10000)
    assert(terms.size > 100, s"expected a large expansion, got ${terms.size}")
    val dict = ConstScoreQuery(MultiTermDictQuery(MultiTerm.Fuzzy("pre0000", 2)), 1.0)
    val enumerated = ConstScoreQuery(Query.or(terms: _*), 1.0)
    val expect = (0L until NDocs.toLong).filter(i => f"$i%04d".count(_ != '0') <= 2).toSet
    assert(ids(dict) == expect)
    assert(ids(dict) == ids(enumerated))
    val k1 = searcher.topK(dict, 10).collect().map(s => (s.docId, s.score)).toSeq
    val k2 = searcher.topK(enumerated, 10).collect().map(s => (s.docId, s.score)).toSeq
    assert(k1 == k2)
    // a spec no dictionary term matches contributes no blocks
    assert(ids(MultiTermDictQuery(MultiTerm.Fuzzy("zzzzzz", 1))).isEmpty)
  }

  test("dict node composes: MUST_NOT and FILTER slots") {
    import Occur._
    val dict = MultiTermDictQuery(MultiTerm.Prefix("pre0"))
    // docs NOT carrying a pre0* term
    val not = BoolQuery(Seq(TermQuery("common") -> Must, dict -> MustNot))
    assert(ids(not) == (1000L until NDocs.toLong).toSet)
    // FILTER slot: non-scoring, intersected
    val filt = BoolQuery(Seq(TermQuery("tail1") -> Must, dict -> Filter))
    assert(ids(filt) == (0L until 1000L).filter(_ % 7 == 1).toSet)
    // count path
    assert(searcher.count(ConstScoreQuery(dict, 1.0)) == 1000L)
  }

  test("dict postings scan pushes the range to Parquet (no enumeration)") {
    // the semi-join plan: the dictionary range lands in the postings scan's
    // PushedFilters — no In(term, [...]) list, no driver term collection
    val plan = searcher.matching(MultiTermDictQuery(MultiTerm.Prefix("pre0")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(term,pre0") &&
      plan.contains("LessThan(term,pre1"),
      s"expected pushed term-range conjuncts in:\n$plan")
    assert(!plan.contains("In(term"),
      "complete rewrite must not enumerate terms into an In() filter")
  }

  test("explain reports dict membership") {
    val dict = ConstScoreQuery(MultiTermDictQuery(MultiTerm.Prefix("pre0")), 1.0)
    assert(searcher.explain(dict, 5L).matched)
    assert(!searcher.explain(dict, 1200L).matched)
  }
}
