package graft

import graft.search.Similarity

/** The entry index registry: clearing an sfDir's cache drops every variant
  * and every scoring view of it, so the next call rebuilds instead of
  * reading deleted segment files; and a scoring view reuses its BM25
  * searcher's segment readers, so it loads no dictionary of its own.
  */
class SparkEntrySpec extends SparkTestBase {

  /** A 300-doc `documents` table over the entries' query vocabulary. */
  private lazy val Sf: String = {
    import spark.implicits._
    val dir = tmpDir("entry-sf")
    val words = Array("data", "query", "stream", "table", "spark", "index", "web", "filter")
    val docs = (0L until 300L).map { id =>
      val text = (0 until 5 + (id % 13).toInt)
        .map(i => words(((id * 7 + i * 5) % words.length).toInt)).mkString(" ")
      (id, text, text.length.toLong)
    }
    docs.toDF("doc_id", "text", "n_chars").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String) =
    SparkEntry.queries(name)(spark, Sf).collect().toSeq

  test("clearIndexCache: variants and scoring views rebuild, same answers") {
    // a scoring view (sweetspot, tfidf) and two non-plain variants (dv, payload)
    val names = Seq("ft_sweetspot_topk", "ft_dv_update", "ft_payload_topk", "ft_tfidf_topk")
    val before = names.map(n => n -> run(n)).toMap
    assert(before.values.forall(_.nonEmpty), before.map { case (n, rows) => n -> rows.size })
    SparkEntry.clearIndexCache(Sf)
    SparkEntry.searcherFor(spark, Sf)
    for (n <- names) assert(run(n) == before(n), n)
  }

  test("a scoring view shares its BM25 searcher's readers: no job for term stats") {
    SparkEntry.clearIndexCache(Sf)
    val terms = Seq("data", "query", "stream")
    val base = SparkEntry.searcherFor(spark, Sf)
    val stats = base.termStats(terms)
    val (viewStats, log) = countJobs {
      SparkEntry.searcherFor(spark, Sf, sim = Similarity.Classic).termStats(terms)
    }
    assert(log.jobs == 0, log)
    assert(viewStats == stats)
  }
}
