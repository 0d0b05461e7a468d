package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Dataset

import graft.codec.{BlockCodec, Impacts}
import graft.index.{Deletes, IndexBuilder, SegmentManifest}
import graft.search._

/** The benchmark's calls into each engine layer, wrapped in spans. */
object Layers {

  // ------------------------------------------------------------------ corpus

  /** Generate and materialize `n` docs; returns the cached dataset. */
  def corpus(ctx: Ctx, n: Long, start: Long = 0L): Dataset[(String, String)] =
    ctx.tracer.span("corpus", "generate") {
      val (ds, t) = ctx.ms {
        val d = Gen.corpus(ctx.spark, n, ctx.opts.seed, start).cache()
        d.count()
        d
      }
      ctx.sample("corpus.gen_docs_per_s", n / (t / 1000))
      ds
    }

  // ---------------------------------------------------------------- analysis

  /** Driver-side analysis of `docs` with the build's analyzer; returns
    * (tokens, postings, distinct terms, input text bytes).
    */
  def analyze(ctx: Ctx, docs: Seq[(String, String)]): (Long, Long, Int, Long) =
    ctx.tracer.span("analysis", "termFreqs") {
      val an = ctx.cfg.analyzer
      val dict = new java.util.HashSet[String]()
      var tokens = 0L
      var postings = 0L
      var bytes = 0L
      val (_, t) = ctx.ms(docs.foreach { case (_, text) =>
        val (m, len) = an.termFreqs(text)
        tokens += len
        postings += m.size
        bytes += text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        dict.addAll(m.keySet())
      })
      ctx.sample("analysis.tokens_per_s", tokens / (t / 1000))
      ctx.count("analysis.tokens", tokens.toDouble)
      (tokens, postings, dict.size, bytes)
    }

  /** Gate: the analyzer's token count equals the manifest's
    * sumTotalTermFreq. Also records the dictionary size and bytes/posting.
    */
  def analysisGate(ctx: Ctx, docs: Dataset[(String, String)], m: SegmentManifest): (Long, Long) = {
    val (tokens, postings, distinct, bytes) = analyze(ctx, docs.collect().toSeq)
    ctx.check("analysis.tokens == manifest.sumTotalTermFreq", tokens == m.sumTotalTermFreq)
    ctx.check("distinct analyzed terms == manifest.termCount", distinct.toLong == m.termCount)
    val postingBytes = ctx.dirBytes(s"${m.dir}/postings")
    ctx.sample("codec.bytes_per_posting", postingBytes.toDouble / postings)
    ctx.inputs.getOrElseUpdate("docs", m.docCount)
    ctx.inputs.getOrElseUpdate("distinct_terms", m.termCount)
    ctx.inputs.getOrElseUpdate("dictionary_bytes", ctx.dirBytes(s"${m.dir}/terms"))
    ctx.inputs.getOrElseUpdate("postings", postings)
    ctx.inputs.getOrElseUpdate("input_text_bytes", bytes)
    (tokens, bytes)
  }

  // ------------------------------------------------------------------- index

  /** `IndexBuilder.buildSegment` as one traced request. */
  def build(ctx: Ctx, docs: Dataset[(String, String)], dir: String): (SegmentManifest, Double) =
    ctx.tracer.span("index", "buildSegment") {
      val t0 = System.currentTimeMillis()
      val (m, t) = ctx.ms(IndexBuilder.buildSegment(docs, dir, ctx.cfg))
      recordPhases(ctx, dir, t0, System.currentTimeMillis())
      (m, t)
    }

  /** Build phases from the commit markers the build leaves: tokenize ends
    * when `docs` commits, postings when `postings` commits, term stats when
    * `rterms` commits; the rest is the manifest commit.
    */
  private def recordPhases(ctx: Ctx, dir: String, t0: Long, t1: Long): Unit =
    if (ctx.tracer.enabled) {
      def done(sub: String): Option[Long] = {
        val p = Paths.get(dir, sub, "_SUCCESS")
        if (Files.exists(p)) Some(Files.getLastModifiedTime(p).toMillis) else None
      }
      for (d <- done("docs"); p <- done("postings"); r <- done("rterms")) {
        ctx.sample("index.tokenize_s", (d - t0) / 1000.0)
        ctx.sample("index.postings_s", (p - d) / 1000.0)
        ctx.sample("index.termstats_s", (r - p) / 1000.0)
        ctx.sample("index.commit_s", (t1 - r) / 1000.0)
      }
    }

  // ------------------------------------------------------------------ search

  /** `topK(q, 10)` as one traced request; returns (hits, ms). */
  def topK(ctx: Ctx, s: IndexSearcher, q: Query, k: Int = 10): (Array[ScoredDoc], Double) =
    ctx.tracer.span("search", "topK") {
      ctx.sample("search.segments_per_query", s.segments.size.toDouble)
      ctx.ms(s.topK(q, k).collect())
    }

  /** Traced-run decomposition of one query into the engine's public steps:
    * dictionary lookup (`termStats`), block fetch (`blocksFor`), decode and
    * re-encode of every fetched block (`BlockCodec`/`Impacts`), and scoring
    * (`Executor.search` + `TopKCollector` per (segment, bucket) group, as
    * `topK` runs them). Returns the locally scored top-k, which must equal
    * `topK`'s answer.
    */
  def probe(ctx: Ctx, s: IndexSearcher, q0: Query, k: Int, topKMs: Double,
      answer: Array[ScoredDoc]): Unit = ctx.tracer.span("search", "probe") {
    val q = Query.rewrite(q0)
    val terms = q.terms.toSeq.sorted
    val (ts, dictMs) = ctx.tracer.span("search", "termStats")(ctx.ms(s.termStats(terms)))
    val present = terms.filter(ts.contains)
    val (blocks, fetchMs) =
      if (present.isEmpty) (Array.empty[QBlock], 0.0)
      else ctx.tracer.span("search", "blocksFor")(ctx.ms(s.blocksFor(present).collect()))
    ctx.count("search.blocks_fetched", blocks.length.toDouble)
    ctx.count("search.block_bytes_fetched", blocks.map(b =>
      b.docsPacked.length + b.freqsPacked.length + b.normsPacked.length + b.impacts.length +
        Option(b.posPacked).map(_.length).getOrElse(0)).sum.toDouble)

    // codec: decode every fetched block, then re-encode what was decoded
    val decoded = ctx.tracer.span("codec", "decode") {
      val (d, t) = ctx.ms(blocks.map { b =>
        val gaps = BlockCodec.forDecode(b.docsPacked)
        val docs = BlockCodec.deltaDecode(gaps, b.firstDocId)
        (gaps, docs, BlockCodec.pforDecode(b.freqsPacked), BlockCodec.forDecode(b.normsPacked))
      })
      val ints = d.map(x => x._2.length + x._3.length + x._4.length).sum
      if (ints > 0) ctx.sample("codec.decode_ints_per_s", ints / (t / 1000))
      d
    }
    ctx.tracer.span("codec", "encode") {
      val (_, t) = ctx.ms(decoded.foreach { case (_, docs, freqs, norms) =>
        BlockCodec.forEncode(BlockCodec.deltaEncode(docs, docs(0)))
        BlockCodec.pforEncode(freqs)
        BlockCodec.forEncode(norms)
      })
      val ints = decoded.map(x => x._2.length + x._3.length + x._4.length).sum
      if (ints > 0) ctx.sample("codec.encode_ints_per_s", ints / (t / 1000))
    }

    // scoring over the fetched blocks, per (segment, bucket) group
    val scorers = bm25Scorers(q, ts, s.stats)
    val tombs = s.segments.map(m => Deletes.readTombstones(ctx.spark, m.dir, m.maxDocId))
    val (local, scoreMs) = ctx.tracer.span("search", "score")(ctx.ms {
      blocks.groupBy(b => (b.seg, b.bucket)).toSeq.flatMap { case ((seg, _), bs) =>
        val byTerm = bs.groupBy(_.term).map { case (t, arr) =>
          t -> arr.sortBy(_.firstDocId).map(b => BlockView(b.firstDocId, b.lastDocId,
            b.numDocs, b.docsPacked, b.freqsPacked, b.normsPacked, b.impacts, b.posPacked))
        }
        val c = new TopKCollector(k, tombs(seg))
        Executor.search(q, byTerm, scorers, c, true)
        c.results.map { case (d, sc) => ScoredDoc(d + s.bases(seg), sc) }
      }.sortBy(h => (-h.score, h.docId)).take(k).toArray
    })
    ctx.check("probe: local Executor.search top-k == topK", local.sameElements(answer))

    // blocks whose block-max bound, plus the other terms' maxima, reaches
    // the final k-th score (term scorers only: a phrase has no per-term bound)
    if (blocks.nonEmpty && answer.length == k && blocks.forall(b => scorers.contains(b.term))) {
      val kth = answer.last.score
      def bound(b: QBlock): Double =
        scorers.get(b.term).map(sc => Impacts.maxScore(Impacts.decode(b.impacts), sc.score))
          .getOrElse(0.0)
      val termMax = blocks.groupBy(_.term).map { case (t, bs) => t -> bs.map(bound).max }
      val total = termMax.values.sum
      val competitive = blocks.count(b => bound(b) + (total - termMax(b.term)) >= kth)
      ctx.sample("search.competitive_block_ratio", competitive.toDouble / blocks.length)
    }
    ctx.sample("search.dict_lookup_ms", dictMs)
    ctx.sample("search.block_fetch_ms", fetchMs)
    ctx.sample("search.score_ms", scoreMs)
    ctx.sample("search.unaccounted_ms", topKMs - dictMs - fetchMs - scoreMs)
  }

  /** Float-exact BM25 scorers as `IndexSearcher` builds them for the
    * benchmark's query shapes (terms and exact phrases, boost 1).
    */
  private def bm25Scorers(q: Query, ts: Map[String, graft.index.Schema.TermStat],
      st: graft.index.Schema.CollectionStats): Map[String, SimScorer] = {
    val avgdl = Bm25.avgFieldLength(st)
    def sc(idf: Float): SimScorer = new Bm25FloatScorer(1.2f, 0.75f, idf, avgdl)
    def walk(x: Query): Map[String, SimScorer] = x match {
      case TermQuery(t) =>
        Map(t -> ts.get(t).map(s => sc(Bm25.idf(s.docFreq, st.docCount))).getOrElse(new ConstScorer(0.0)))
      case pq: PhraseQuery =>
        val sim =
          if (pq.phraseTerms.exists(t => !ts.contains(t))) new ConstScorer(0.0)
          else sc(pq.phraseTerms.map(t => Bm25.idf(ts(t).docFreq, st.docCount).toDouble).sum.toFloat)
        Map(pq.key -> sim)
      case bq: BoolQuery => bq.clauses.flatMap(c => walk(c._1)).toMap
      case _ => Map.empty
    }
    walk(q)
  }
}
