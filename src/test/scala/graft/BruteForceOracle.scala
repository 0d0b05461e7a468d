package graft

import graft.analysis.StandardAnalyzer
import graft.codec.SmallFloat
import graft.corpus.Page
import graft.search._

/** Driver-side brute-force BM25 scorer over a small corpus — the duel oracle
  * (pattern from the reference's `TestWANDScorer.java:729+` randomized duels).
  * Same float formula chain, exhaustive evaluation, no index.
  */
final class BruteForceOracle(
    pages: Seq[Page], analyzer: StandardAnalyzer,
    similarity: Similarity = Similarity.Bm25
) {

  /** docId = rank of url in sorted order (the engine's assignment spec). */
  val sorted: Vector[Page] = pages.sortBy(_.url).toVector
  val docTf: Vector[(java.util.HashMap[String, Int], Int)] =
    sorted.map(p => analyzer.termFreqs(p.text))
  val docCount: Long = sorted.size.toLong
  val sumTtf: Long = docTf.map(_._2.toLong).sum
  val avgdl: Float = (sumTtf / docCount.toDouble).toFloat

  def docFreq(term: String): Long = docTf.count(_._1.containsKey(term)).toLong
  def totalTermFreq(term: String): Long =
    docTf.map(d => if (d._1.containsKey(term)) d._1.get(term).toLong else 0L).sum

  private def tfNormParams(nz: Similarity.TfNorm, ttf: Long): TfNormParams = nz match {
    case Similarity.TfNorm.H1(c)  => TfNormParams(0, c, 0)
    case Similarity.TfNorm.H2(c)  => TfNormParams(1, c, 0)
    case Similarity.TfNorm.H3(mu) =>
      TfNormParams(2, mu, ((ttf + 1f) / (sumTtf + 1f)).toDouble)
    case Similarity.TfNorm.Z(z)   => TfNormParams(3, z, 0)
  }

  private def mkScorer(df: Long, ttf: Long, boost: Double): SimScorer =
    mkScorerSim(similarity, df, ttf, boost)

  private def mkScorerSim(sim: Similarity, df: Long, ttf: Long, boost: Double): SimScorer = sim match {
    case Similarity.Bm25 =>
      // boost folds into the float weight, same expression as the engine
      new Bm25FloatScorer(1.2f, 0.75f, boost.toFloat * Bm25.idf(df, docCount), avgdl)
    case Similarity.Classic =>
      new TfIdfFloatScorer(boost.toFloat * TfIdf.idf(df, docCount))
    case Similarity.Bool => new ConstScorer(boost)
    case Similarity.LmDirichlet(mu) =>
      new LmDirichletScorer(mu, boost, (ttf + 1d) / (sumTtf + 1d), floatExact = true)
    case Similarity.LmJelinekMercer(lambda) =>
      new LmJelinekMercerScorer(lambda, boost, (ttf + 1d) / (sumTtf + 1d), floatExact = true)
    case Similarity.Dfr(model, ae, nz) =>
      val a = model match {
        case Similarity.DfrModel.In =>
          math.log((docCount + 1) / (df + 0.5)) / DfrScorer.Log2
        case Similarity.DfrModel.IF =>
          math.log(1 + (docCount + 1) / (ttf + 0.5)) / DfrScorer.Log2
      }
      val aeV = ae match {
        case Similarity.DfrAfterEffect.B => (ttf + 1.0) / df
        case Similarity.DfrAfterEffect.L => 1.0
      }
      new DfrScorer(a, aeV, tfNormParams(nz, ttf),
        sumTtf / docCount.toDouble, boost, floatExact = true)
    case Similarity.Ib(dist, lam, nz) =>
      var l = (lam match {
        case Similarity.IbLambda.DF  => (df + 1.0) / (docCount + 1.0)
        case Similarity.IbLambda.TTF => (ttf + 1.0) / (docCount + 1.0)
      }).toFloat.toDouble
      if (l == 1.0)
        l = lam match {
          case Similarity.IbLambda.DF  => math.nextDown(1.0)
          case Similarity.IbLambda.TTF => math.nextUp(1.0)
        }
      new IbScorer(dist == Similarity.IbDist.SPL, l, tfNormParams(nz, ttf),
        sumTtf / docCount.toDouble, boost, floatExact = true)
    case Similarity.Dfi(m) =>
      val ord = m match {
        case Similarity.DfiMeasure.Standardized => 0
        case Similarity.DfiMeasure.Saturated    => 1
        case Similarity.DfiMeasure.ChiSquared   => 2
      }
      new DfiScorer(ord, ttf, sumTtf, boost, floatExact = true)
    case ax: Similarity.Axiomatic =>
      AxiomaticScorer(ax, df, docCount, sumTtf, boost, floatExact = true)
    case Similarity.RawTf => new RawTfScorer(boost, floatExact = true)
    case Similarity.SweetSpot(lnMin, lnMax, steep, tfBase, tfMin) =>
      new SweetSpotScorer(boost * TfIdf.idfD(df, docCount),
        lnMin, lnMax, steep, tfBase, tfMin, floatExact = true)
    case Similarity.Multi(subs) =>
      new SumSimScorer(subs.map(mkScorerSim(_, df, ttf, boost)), floatExact = true)
    case pf: Similarity.PerField => // single-field oracle: default field
      mkScorerSim(Similarity.forField(pf, graft.index.FieldKey.DefaultField),
        df, ttf, boost)
  }

  private val scorerCache = scala.collection.mutable.HashMap[(String, Double), SimScorer]()
  private def scorer(term: String, boost: Double): SimScorer =
    scorerCache.getOrElseUpdate((term, boost),
      mkScorer(docFreq(term), totalTermFreq(term), boost))

  private def synScorer(sq: SynonymQuery, boost: Double): SimScorer =
    mkScorer(sq.synonyms.map(docFreq).max, sq.synonyms.map(totalTermFreq).sum, boost)

  /** An exact phrase's scorer: BM25 over the summed idf of its terms, as
    * the reference's `PhraseWeight` weighs it (BM25 only).
    */
  private def phraseScorer(pq: PhraseQuery, boost: Double): SimScorer = {
    require(similarity == Similarity.Bm25, "the oracle scores phrases under BM25 only")
    new Bm25FloatScorer(1.2f, 0.75f,
      boost.toFloat * pq.phraseTerms.map(t => Bm25.idf(docFreq(t), docCount).toDouble).sum.toFloat,
      avgdl)
  }

  /** Each term's positions in each doc, from the analyzer's tokens. */
  private lazy val docPos: Vector[Map[String, Array[Int]]] = sorted.map { p =>
    analyzer.tokens(p.text).groupBy(_.term).map { case (t, ts) => t -> ts.map(_.position).toArray }
  }

  /** The scorers `q` reads in the engine, keyed as [[Executor.scorerKeys]]
    * keys them: terms, synonyms and exact phrases.
    */
  def simScorers(q: Query, boost: Double = 1.0): Map[String, SimScorer] = q match {
    case TermQuery(t) => Map(Executor.skey(t, boost) -> scorer(t, boost))
    case BoostQuery(q2, b2) => simScorers(q2, boost * b2)
    case sq: SynonymQuery => Map(Executor.skey(sq.key, boost) -> synScorer(sq, boost))
    case pq: PhraseQuery => Map(Executor.skey(pq.key, boost) -> phraseScorer(pq, boost))
    case dm: DisMaxQuery => dm.disjuncts.flatMap(simScorers(_, boost)).toMap
    case cs: ConstScoreQuery => simScorers(cs.query, boost)
    case bq: BoolQuery => bq.clauses.flatMap(c => simScorers(c._1, boost)).toMap
    case _: IntervalQuery => Map.empty
  }

  /** None = no match; Some(score). */
  def eval(q: Query, doc: Int): Option[Double] = {
    val (tf, len) = docTf(doc)
    val norm = java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(len))
    def pos(t: String): Array[Int] = docPos(doc).getOrElse(t, Array.emptyIntArray)
    def go(q: Query, boost: Double): Option[Double] = q match {
      case TermQuery(t) =>
        if (tf.containsKey(t) && docFreq(t) > 0)
          Some(scorer(t, boost).score(tf.get(t), norm))
        else None
      case pq: PhraseQuery if pq.slop == 0 =>
        val starts = pos(pq.phraseTerms.head)
        val f = starts.count(p => pq.phraseTerms.indices.forall(i => pos(pq.phraseTerms(i)).contains(p + i)))
        if (f == 0) None else Some(phraseScorer(pq, boost).score(f, norm))
      case iq: IntervalQuery =>
        // the minimal intervals of the doc's positions, saturated as the
        // reference's IntervalScorer saturates them
        val ivs = Intervals.eval(iq.source, pos)
        val minExtent = Intervals.minExtent(iq.source)
        val f = ivs.iterator.map(iv =>
          1.0 / math.max(Intervals.endOf(iv) - Intervals.startOf(iv) + 1 - minExtent + 1, 1)).sum
        if (ivs.isEmpty) None else Some(boost * f / (f + iq.pivot))
      case BoostQuery(q2, b2) => go(q2, boost * b2)
      case sq: SynonymQuery =>
        val f = sq.synonyms.map(t => tf.getOrDefault(t, 0)).sum
        if (f == 0) None else Some(synScorer(sq, boost).score(f, norm))
      case dm: DisMaxQuery =>
        val kids = dm.disjuncts.flatMap(go(_, boost))
        if (kids.isEmpty) None
        else Some(kids.max + dm.tieBreaker * (kids.sum - kids.max))
      case cs: ConstScoreQuery =>
        go(cs.query, 1.0).map(_ => cs.score * boost)
      case bq: BoolQuery =>
        val must = bq.must.map(go(_, boost))
        val filt = bq.filter.map(go(_, boost))
        if (must.exists(_.isEmpty) || filt.exists(_.isEmpty)) return None
        if (bq.mustNot.exists(go(_, boost).isDefined)) return None
        val shouldScores = bq.should.flatMap(go(_, boost))
        if (bq.minimumShouldMatch > 0 &&
            shouldScores.size < bq.minimumShouldMatch) return None
        if (bq.must.isEmpty && bq.filter.isEmpty && shouldScores.isEmpty) return None
        Some(must.flatten.sum + shouldScores.sum)
    }
    go(q, 1.0)
  }

  def matching(q: Query): Seq[Long] =
    sorted.indices.flatMap(d => eval(q, d).map(_ => d.toLong))

  def topK(q: Query, k: Int): Seq[(Long, Double)] =
    sorted.indices
      .flatMap(d => eval(q, d).map(s => (d.toLong, s)))
      .sortBy { case (d, s) => (-s, d) }
      .take(k)
}
