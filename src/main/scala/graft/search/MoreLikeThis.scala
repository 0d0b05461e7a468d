package graft.search

/** Knobs for "more like this" interesting-term selection — the reference's
  * defaults (ref `queries/mlt/MoreLikeThis.java:157-274`): a source-doc term
  * is a candidate when its tf >= minTermFreq and its corpus docFreq lies in
  * [minDocFreq, maxDocFreq]; word-length bounds <= 0 are off (the reference's
  * DEFAULT_MIN/MAX_WORD_LENGTH = 0).
  */
final case class MltParams(
    minTermFreq: Int = 2,
    minDocFreq: Long = 5L,
    maxDocFreq: Long = Long.MaxValue,
    maxQueryTerms: Int = 25,
    minWordLen: Int = 0,
    maxWordLen: Int = 0,
    boostTerms: Boolean = false)

/** "More like this" query generation (ref `queries/mlt/MoreLikeThis.java`,
  * createQueue/createQuery at :589-741): analyze the source text, keep terms
  * passing the [[MltParams]] frequency gates, score each tf * idf with
  * ClassicSimilarity's idf = ln((N+1)/(df+1)) + 1
  * (ref `search/similarities/ClassicSimilarity.java`), take the top
  * maxQueryTerms, and OR them as SHOULD clauses scored by the searcher's
  * normal similarity (BM25 by default — the reference hands its generated
  * BooleanQuery to whatever IndexSearcher runs it). With boostTerms each
  * clause is weighted score/bestScore (`MoreLikeThis.java:593-617`).
  *
  * Term-frequency sources, both of the reference's `retrieveTerms` arms:
  * stored term vectors when the index persisted them
  * ([[interestingTermsFromVector]] over IndexConfig.storeTermVectors —
  * no stored-text fetch, no re-analysis), else re-analysis of the stored
  * text (the reference's fallback for vector-less fields). One
  * deliberate divergence: the reference's PriorityQueue visits candidates in
  * hash-map iteration order, so equal-score terms at the maxQueryTerms cut
  * are selected nondeterministically; here ties break deterministically
  * (score desc, term asc), which the DuckDB oracle replicates.
  *
  * Scale shape: tf comes from ONE driver-side analysis of one document (the
  * same cost the reference pays), and the df lookups are binary searches of
  * the driver-resident term dictionary ([[IndexSearcher.termStats]], no
  * Spark job); the generated query then runs the ordinary distributed WAND
  * path.
  */
object MoreLikeThis {

  /** Selected interesting terms with their tf*idf selection scores, best
    * first (the reference's `retrieveInterestingTerms`).
    */
  def interestingTerms(searcher: IndexSearcher, text: String,
      p: MltParams = MltParams()): Seq[(String, Double)] = {
    val terms = searcher.analyzer.tokens(text).map(_.term)
    val tf = terms.groupBy(identity).view.mapValues(_.size).toMap
    selectFromTf(searcher, tf, p)
  }

  /** Term-vector path (ref `MoreLikeThis.java retrieveTerms(int docNum)`
    * when the field stores term vectors): tf comes straight from the
    * persisted vector — no stored-text fetch, no re-analysis. Identical
    * selection to [[interestingTerms]] by construction (the vector IS the
    * analyzer output of the build pass; TermVectorsSpec asserts).
    */
  def interestingTermsFromVector(searcher: IndexSearcher, docId: Long,
      p: MltParams = MltParams()): Seq[(String, Double)] = {
    val tf = searcher.termVectors(Seq(docId)).collect()
      .map(r => r.getString(1) -> r.getInt(2)).toMap
    selectFromTf(searcher, tf, p)
  }

  private def selectFromTf(searcher: IndexSearcher, tf: Map[String, Int],
      p: MltParams): Seq[(String, Double)] = {
    val cand = tf.filter { case (t, f) =>
      f >= p.minTermFreq &&
        (p.minWordLen <= 0 || t.length >= p.minWordLen) &&
        (p.maxWordLen <= 0 || t.length <= p.maxWordLen)
    }
    if (cand.isEmpty) Seq.empty
    else {
      val stats = searcher.termStats(cand.keys.toSeq.sorted)
      val n = searcher.stats.docCount.toDouble
      cand.toSeq
        .flatMap { case (t, f) =>
          stats.get(t) match {
            case Some(st) if st.docFreq > 0 && st.docFreq >= p.minDocFreq &&
                st.docFreq <= p.maxDocFreq =>
              val idf = math.log((n + 1d) / (st.docFreq + 1d)) + 1d
              // 6-dp round before ranking so an independent double-math
              // oracle (DuckDB ln) selects the identical term set at the
              // maxQueryTerms cut — same convention as
              // IndexSearcher.moreLikeThis
              val w = BigDecimal(f * idf)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              Some(t -> w)
            case _ => None
          }
        }
        .sortBy { case (t, s) => (-s, t) }
        .take(p.maxQueryTerms)
    }
  }

  /** The generated query: SHOULD-of-TermQuery over the interesting terms
    * (`createQuery`), optionally boosted by selection score relative to the
    * best term. Empty selection folds to [[MatchNoneQuery]] (the reference
    * returns an empty BooleanQuery, which matches nothing).
    */
  def query(searcher: IndexSearcher, text: String,
      p: MltParams = MltParams()): Query =
    toQuery(interestingTerms(searcher, text, p), p)

  /** The generated query for an indexed document, preferring the stored
    * term vector when the index carries one (exactly the reference's
    * retrieveTerms dispatch: vectors if present, else stored-text
    * re-analysis).
    */
  def queryForDoc(searcher: IndexSearcher, docId: Long, fallbackText: => String,
      p: MltParams = MltParams()): Query =
    if (searcher.hasTermVectors)
      toQuery(interestingTermsFromVector(searcher, docId, p), p)
    else toQuery(interestingTerms(searcher, fallbackText, p), p)

  private def toQuery(sel: Seq[(String, Double)], p: MltParams): Query = {
    if (sel.isEmpty) MatchNoneQuery
    else if (!p.boostTerms) Query.or(sel.map(_._1): _*)
    else {
      val best = sel.head._2
      BoolQuery(sel.map { case (t, s) =>
        (BoostQuery(TermQuery(t), s / best): Query) -> (Occur.Should: Occur)
      })
    }
  }

  /** Like-this-document: fetch the stored text of `docId`, generate the
    * query, search top-k excluding the source itself (the reference's
    * canonical usage — `TestMoreLikeThis.java` filters the seed doc).
    */
  def likeDoc(searcher: IndexSearcher, text: String, srcDocId: Long, k: Int,
      p: MltParams = MltParams()): org.apache.spark.sql.Dataset[ScoredDoc] = {
    import searcher.spark.implicits._
    searcher.topK(query(searcher, text, p), k + 1)
      .filter(_.docId != srcDocId)
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }
}
