package graft

import graft.analysis.StandardAnalyzer
import graft.corpus.Corpus
import graft.index.{CheckIndex, Deletes, IndexBuilder, IndexConfig, Manifest, SegmentMerger}
import graft.index.Schema.PostingBlock
import graft.codec.BlockCodec
import graft.search._

/** End-to-end index-build + search duels against the brute-force oracle
  * (rank-identity hard gate), multi-segment equivalence, merge, resume, and
  * CheckIndex-style invariants.
  */
class IndexSearchSpec extends SparkTestBase {

  private val NDocs = 1500
  private val cfg = IndexConfig(bucketShift = 9, numPostingPartitions = 8, numDocPartitions = 4)
  private lazy val pagesLocal = (0L until NDocs.toLong).map(Corpus.page(_))
  private lazy val oracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default)

  private lazy val segDir: String = {
    import spark.implicits._
    val dir = tmpDir("seg")
    val ds = spark.createDataset(pagesLocal.map(p => (p.url, p.text)))
    IndexBuilder.buildSegment(ds, dir, cfg)
    dir
  }

  private lazy val searcher: IndexSearcher =
    new IndexSearcher(spark, Seq(Manifest.read(segDir).get))

  /** Every term of the segment's dictionary table, sorted — the brute
    * side of the expansion duels.
    */
  private lazy val dictionary: Seq[String] =
    spark.read.parquet(s"$segDir/terms").select("term").collect()
      .map(_.getString(0)).distinct.sorted.toSeq

  private val queryStrings = Seq(
    "the",                        // head stopword-like term
    "court",                      // mid head word
    "court AND law",
    "court OR law",
    "the AND of AND court",
    "(court OR law) AND state",
    "court OR law OR state OR time",
    "court NOT law",
    "data AND web",
    "bebe",                       // tail synthetic term
    "bebe OR court",
    "zzzznothere",                // absent term
    "the OR of"                   // two head terms — heavy postings
  )

  test("profile: stage breakdown is complete, consistent with topK") {
    val q = searcher.parse("court AND law")
    val prof = searcher.profile(q, 10)
    assert(prof.map(_.stage) == Seq("rewrite", "term_stats", "scorer_setup",
      "block_plan", "score_collect"))
    assert(prof.forall(_.seconds >= 0.0))
    // the plan stage's block count covers both terms' postings
    val planDetail = prof.find(_.stage == "block_plan").get.detail
    assert(planDetail.matches("\\d+ candidate posting blocks in \\d+ .*") &&
      !planDetail.startsWith("0 "), planDetail)
    // score_collect reports the same hits topK returns
    val hits = searcher.topK(q, 10).collect()
    val scoreDetail = prof.find(_.stage == "score_collect").get.detail
    assert(scoreDetail.contains(s"${hits.length} hits"))
    assert(scoreDetail.contains(s"best=${hits.head.score}"))
  }

  test("stats match oracle") {
    val m = Manifest.read(segDir).get
    assert(m.docCount == oracle.docCount)
    assert(m.sumTotalTermFreq == oracle.sumTtf)
    assert(m.lineage.nonEmpty)
    assert(m.lineage.map(_.rows).sum == oracle.docCount)
  }

  test("term stats match oracle docFreqs") {
    val terms = Seq("the", "court", "law", "bebe")
    val ts = searcher.termStats(terms)
    terms.foreach { t =>
      assert(ts.get(t).map(_.docFreq).getOrElse(0L) == oracle.docFreq(t), s"term $t")
    }
  }

  test("duel: pruned top-k == exhaustive top-k == oracle (rank identity)") {
    for (qs <- queryStrings) {
      val q = Query.parse(qs)
      val expected = oracle.topK(q, 10)
      val pruned = searcher.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = searcher.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"pruning changed results for: $qs")
      assert(pruned == expected, s"engine != oracle for: $qs")
    }
  }

  test("duel: mixed required+optional (block-max req-opt) == exhaustive == oracle") {
    import Occur._
    val shapes: Seq[BoolQuery] = Seq(
      BoolQuery(Seq(TermQuery("court") -> Must, TermQuery("law") -> Should)),
      BoolQuery(Seq(TermQuery("court") -> Must, TermQuery("law") -> Should,
        TermQuery("state") -> Should)),
      BoolQuery(Seq(TermQuery("the") -> Must, TermQuery("of") -> Must,
        TermQuery("court") -> Should)),
      BoolQuery(Seq(TermQuery("court") -> Filter, TermQuery("law") -> Should)),
      BoolQuery(Seq(TermQuery("court") -> Must, TermQuery("law") -> Should,
        TermQuery("state") -> MustNot)),
      BoolQuery(Seq(TermQuery("court") -> Must,
        BoolQuery(Seq(TermQuery("law") -> Should, TermQuery("state") -> Should)) -> Should)),
      BoolQuery(Seq(TermQuery("court") -> Must, TermQuery("zzzznothere") -> Should)),
      // duplicate scoring clauses: the engine rewrites to a summed boost
      // (BooleanQuery#rewrite) while the oracle evaluates the raw tree —
      // scores must still agree exactly (weight linearity)
      BoolQuery(Seq(TermQuery("court") -> Should, TermQuery("court") -> Should,
        TermQuery("law") -> Should)),
      BoolQuery(Seq(TermQuery("court") -> Must, TermQuery("court") -> Must,
        TermQuery("law") -> Should)),
      BoolQuery(Seq(TermQuery("court") -> Should, TermQuery("court") -> Filter,
        TermQuery("law") -> Should)))
    for (q <- shapes) {
      val expected = oracle.topK(q, 10)
      val pruned = searcher.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = searcher.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"req-opt pruning changed results for: $q")
      assert(pruned == expected, s"req-opt engine != oracle for: $q")
      assert(expected.nonEmpty, s"vacuous req-opt duel for $q")
    }
  }

  test("spellCorrect morePopular mode: only strictly-more-frequent suggestions") {
    val dfCourt = oracle.docFreq("court")
    val popular = searcher.spellCorrect("court", maxEdits = 1, n = 10, morePopular = true)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(popular.forall { case (t, df) => t != "court" && df > dfCourt },
      s"morePopular must exclude the term and anything <= df($dfCourt): ${popular.mkString(",")}")
    // the default mode still returns the exact term at distance 0
    val dflt = searcher.spellCorrect("court", maxEdits = 1, n = 10)
      .collect().map(_.getString(0))
    assert(dflt.contains("court"))
  }

  test("word breaks: segmentations == brute force; multi-change recursion") {
    // brute: one-break segmentations of 'courtlaw' over the oracle's dfs
    val q = "courtlaw"
    val brute = (1 until q.length).flatMap { i =>
      val (a, b) = (q.substring(0, i), q.substring(i))
      val (da, db) = (oracle.docFreq(a), oracle.docFreq(b))
      if (da > 0 && db > 0) Some((s"$a $b", da + db)) else None
    }.sortBy { case (s, f) => (-f, s) }.take(5)
    val got = searcher.wordBreaks(q, maxChanges = 1, n = 5)
      .select("suggestion", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == brute)
    assert(brute.nonEmpty, "vacuous word-break duel")
    // three-part segmentation needs maxChanges = 2
    val three = searcher.wordBreaks("thecourtlaw", maxChanges = 2, n = 20)
      .select("suggestion").collect().map(_.getString(0)).toSeq
    assert(three.contains("the court law"))
    assert(searcher.wordBreaks("thecourtlaw", maxChanges = 1, n = 20)
      .collect().forall(_.getString(0).count(_ == ' ') == 1))
    // combination direction: adjacent fragments whose concat is a word
    val comb = searcher.wordCombinations(Seq("the", "cou", "rt", "law"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(4)))
    assert(comb.exists { case (c, s, e, f) =>
      c == "court" && s == 1 && e == 2 && f == oracle.docFreq("court") })
    // a 3-term combine needs maxChanges >= 2
    val comb3 = searcher.wordCombinations(Seq("c", "our", "t"), maxChanges = 2)
      .collect().map(_.getString(0))
    assert(comb3.contains("court"))
    assert(!searcher.wordCombinations(Seq("c", "our", "t"), maxChanges = 1)
      .collect().map(_.getString(0)).contains("court"))
  }

  test("fuzzy suggest duel: prefix-edit-distance completions == brute force") {
    import graft.functions.EditDistance
    for (q <- Seq("stae", "cort", "lwa", "st")) {
      val got = searcher.fuzzySuggest(q, maxEdits = 1, n = 10).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      // brute force over the oracle's dictionary: min prefix distance <= 1,
      // first char exact, exact prefix below minFuzzyLength
      val df = scala.collection.mutable.Map[String, Long]()
      oracle.docTf.foreach(_._1.keySet.forEach(t => df(t) = df.getOrElse(t, 0L) + 1))
      val expected = df.toSeq
        .filter { case (t, _) =>
          t.startsWith(q.take(1)) && {
            if (q.length < 3) t.startsWith(q)
            else (math.max(1, q.length - 1) to (q.length + 1))
              .exists(k => k <= t.length &&
                EditDistance.damerauWithin(q, t.substring(0, k), 1) >= 0)
          }
        }
        .sortBy { case (t, n) => (-n, t) }.take(10)
      assert(got == expected, s"fuzzy suggest mismatch for '$q': $got vs $expected")
      assert(expected.nonEmpty, s"vacuous fuzzy suggest duel for '$q'")
    }
  }

  test("classic (TF-IDF) similarity duel: engine == oracle, pruned == exhaustive") {
    val classic = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = Similarity.Classic)
    val classicOracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default,
      similarity = Similarity.Classic)
    for (qs <- queryStrings :+ "court^2 OR law") {
      val q = Query.parse(qs)
      val expected = classicOracle.topK(q, 10)
      val pruned = classic.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = classic.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"classic pruning changed results for: $qs")
      assert(pruned == expected, s"classic engine != oracle for: $qs")
    }
  }

  test("LM Dirichlet similarity duel: engine == oracle, pruned == exhaustive") {
    val lm = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = Similarity.LmDirichlet(2000.0))
    val lmOracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default,
      similarity = Similarity.LmDirichlet(2000.0))
    for (qs <- queryStrings :+ "court^2 OR law") {
      val q = Query.parse(qs)
      val expected = lmOracle.topK(q, 10)
      val pruned = lm.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = lm.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"LM pruning changed results for: $qs")
      assert(pruned == expected, s"LM engine != oracle for: $qs")
    }
    // a small mu punishes long docs harder; ranking differs from BM25
    val lmSmall = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = Similarity.LmDirichlet(50.0))
    val got = lmSmall.topK(Query.parse("court"), 10).collect().toSeq
    val smallOracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default,
      similarity = Similarity.LmDirichlet(50.0))
    assert(got.map(s => (s.docId, s.score)) == smallOracle.topK(Query.parse("court"), 10))
  }

  test("LM Jelinek-Mercer similarity duel: engine == oracle, pruned == exhaustive") {
    val jm = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = Similarity.LmJelinekMercer(0.1))
    val jmOracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default,
      similarity = Similarity.LmJelinekMercer(0.1))
    for (qs <- queryStrings :+ "court^2 OR law") {
      val q = Query.parse(qs)
      val expected = jmOracle.topK(q, 10)
      val pruned = jm.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = jm.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"JM pruning changed results for: $qs")
      assert(pruned == expected, s"JM engine != oracle for: $qs")
    }
  }

  test("SweetSpot similarity duel: engine == oracle, pruned == exhaustive " +
    "(non-antitone length norm, plateau bound)") {
    // plateau chosen inside the corpus length distribution so both sides
    // of the sweet spot occur — the case where a naive skyline bound
    // (score at the pair's own norm) could under-bound and break pruning
    val ss = Similarity.SweetSpot(lnMin = 20, lnMax = 60, steepness = 0.5,
      tfBase = 0.5, tfMin = 2.0)
    val se = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = ss)
    val oracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default,
      similarity = ss)
    for (qs <- queryStrings :+ "court^2 OR law") {
      val q = Query.parse(qs)
      val expected = oracle.topK(q, 10)
      val pruned = se.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = se.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"SweetSpot pruning changed results: $qs")
      assert(pruned == expected, s"SweetSpot engine != oracle for: $qs")
    }
  }

  test("DFR, IB, DFI and Axiomatic similarity duels: engine == oracle, pruned == exhaustive") {
    // every component combination: {In, IF} x {L, B} x {H1, H2} for DFR,
    // {LL, SPL} x {DF, TTF} x {H1, H2} for IB, the 3 DFI measures, and the
    // 6 axiomatic F{1,2,3}{EXP,LOG} variants
    val norms: Seq[Similarity.TfNorm] = Seq(Similarity.TfNorm.H1(1.0),
      Similarity.TfNorm.H2(1.0), Similarity.TfNorm.H3(), Similarity.TfNorm.Z())
    val sims: Seq[Similarity] = (for {
      m <- Seq(Similarity.DfrModel.In, Similarity.DfrModel.IF)
      a <- Seq(Similarity.DfrAfterEffect.L, Similarity.DfrAfterEffect.B)
      n <- norms
    } yield Similarity.Dfr(m, a, n)) ++ (for {
      d <- Seq(Similarity.IbDist.LL, Similarity.IbDist.SPL)
      l <- Seq(Similarity.IbLambda.DF, Similarity.IbLambda.TTF)
      n <- norms
    } yield Similarity.Ib(d, l, n)) ++
      Seq(Similarity.DfiMeasure.Standardized, Similarity.DfiMeasure.Saturated,
        Similarity.DfiMeasure.ChiSquared).map(Similarity.Dfi(_)) ++
      Seq(Similarity.AxVariant.F1EXP, Similarity.AxVariant.F1LOG,
        Similarity.AxVariant.F2EXP, Similarity.AxVariant.F2LOG,
        Similarity.AxVariant.F3EXP, Similarity.AxVariant.F3LOG)
        .map(v => Similarity.Axiomatic(v)) ++
      Seq(
        Similarity.RawTf,
        // MultiSimilarity: double-summed sub-scores (ref MultiSimilarity.java)
        Similarity.Multi(Seq(Similarity.Bm25, Similarity.Classic)),
        Similarity.Multi(Seq(Similarity.LmDirichlet(), Similarity.RawTf)),
        // PerField resolves the default field's model on a bare-term corpus
        Similarity.PerField(Map("text" -> Similarity.LmDirichlet()),
          default = Similarity.Classic),
        Similarity.PerField(Map("title" -> Similarity.Classic),
          default = Similarity.Dfi()))
    for (sim <- sims) {
      val se = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
        similarity = sim)
      val simOracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default,
        similarity = sim)
      for (qs <- Seq("court", "court AND law", "court^2 OR law")) {
        val q = Query.parse(qs)
        val expected = simOracle.topK(q, 10)
        val pruned = se.topK(q, 10, pruning = true).collect()
          .map(s => (s.docId, s.score)).toSeq
        val exhaustive = se.topK(q, 10, pruning = false).collect()
          .map(s => (s.docId, s.score)).toSeq
        assert(pruned == exhaustive, s"$sim pruning changed results for: $qs")
        assert(pruned == expected, s"$sim engine != oracle for: $qs")
        assert(pruned.nonEmpty, s"vacuous duel for $sim / $qs")
      }
    }
  }

  test("boolean similarity: every match scores its boost") {
    val bool = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = Similarity.Bool)
    val boolOracle = new BruteForceOracle(pagesLocal, StandardAnalyzer.Default,
      similarity = Similarity.Bool)
    for (qs <- Seq("court", "court AND law", "court^2 OR law")) {
      val q = Query.parse(qs)
      val got = bool.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq
      assert(got == boolOracle.topK(q, 10), s"bool engine != oracle for: $qs")
      assert(got.nonEmpty)
    }
  }

  test("synonym query duel: engine == oracle, pruned == exhaustive") {
    for (syns <- Seq(Seq("court", "law"), Seq("the", "data"), Seq("bebe", "state"))) {
      val q = SynonymQuery(syns)
      val expected = oracle.topK(q, 10)
      val pruned = searcher.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = searcher.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"pruning changed synonym results: $syns")
      assert(pruned == expected, s"synonym engine != oracle: $syns")
    }
  }

  test("boost duel: boosted clauses == oracle, pruned == exhaustive") {
    val queries = Seq(
      Query.parse("court^2 OR law"),
      Query.parse("court^0.5 OR law^3 OR state"),
      Query.parse("court^2 AND law"),
      BoostQuery(Query.parse("court OR law"), 2.5),
      BoostQuery(BoostQuery(TermQuery("court"), 2.0), 1.5), // nested boosts multiply
      Query.parse("court^2 NOT law"))
    for (q <- queries) {
      val expected = oracle.topK(q, 10)
      val pruned = searcher.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = searcher.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"pruning changed boosted results for: $q")
      assert(pruned == expected, s"boosted engine != oracle for: $q")
    }
  }

  test("minimumShouldMatch duel: msm filtering == oracle, all msm values") {
    val shoulds = Seq("court", "law", "state", "time").map(t =>
      TermQuery(t) -> (Occur.Should: Occur))
    for (msm <- 1 to 4) {
      val q = BoolQuery(shoulds, minimumShouldMatch = msm)
      val expected = oracle.topK(q, 10)
      val got = searcher.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq
      assert(got == expected, s"msm=$msm engine != oracle")
      // count side: every match has >= msm matching terms
      val ids = searcher.matching(q).collect().toSet
      val expIds = oracle.matching(q).toSet
      assert(ids == expIds, s"msm=$msm matching set")
    }
    // msm alongside MUST: doc must match the must AND >= msm shoulds
    val q = BoolQuery((TermQuery("of") -> (Occur.Must: Occur)) +: shoulds,
      minimumShouldMatch = 2)
    val expected = oracle.topK(q, 10)
    val got = searcher.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq
    assert(got == expected, "msm+must engine != oracle")
  }

  test("dismax duel: max + tieBreaker combine == oracle, pruned == exhaustive") {
    val queries = Seq(
      DisMaxQuery(Seq(TermQuery("court"), TermQuery("law")), 0.0),
      DisMaxQuery(Seq(TermQuery("court"), TermQuery("law"), TermQuery("state")), 0.3),
      DisMaxQuery(Seq(Query.and("court", "law"), TermQuery("state")), 0.5),
      DisMaxQuery(Seq(BoostQuery(TermQuery("court"), 2.0), TermQuery("law")), 0.1))
    for (q <- queries) {
      val expected = oracle.topK(q, 10)
      val pruned = searcher.topK(q, 10, pruning = true).collect()
        .map(s => (s.docId, s.score)).toSeq
      val exhaustive = searcher.topK(q, 10, pruning = false).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(pruned == exhaustive, s"pruning changed dismax results for: $q")
      assert(pruned == expected, s"dismax engine != oracle for: $q")
    }
  }

  test("constant-score duel: every match scores the constant") {
    val queries = Seq(
      ConstScoreQuery(Query.parse("court AND law"), 1.0),
      ConstScoreQuery(Query.parse("court OR law"), 2.5),
      BoostQuery(ConstScoreQuery(TermQuery("court"), 1.0), 3.0))
    for (q <- queries) {
      val expected = oracle.topK(q, 10)
      val got = searcher.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq
      assert(got == expected, s"const-score engine != oracle for: $q")
      assert(got.map(_._2).distinct.size == 1, "all matches share the constant")
    }
    // nested combinators inside booleans: const-score as a MUST conjunct
    // (scores 2.0 + BM25 rider), dismax as a SHOULD clause
    val nested = Seq(
      BoolQuery(Seq(
        ConstScoreQuery(TermQuery("court"), 2.0) -> Occur.Must,
        TermQuery("law") -> Occur.Should)),
      BoolQuery(Seq(
        DisMaxQuery(Seq(TermQuery("court"), TermQuery("law")), 0.2) -> Occur.Should,
        TermQuery("state") -> Occur.Should)),
      BoolQuery(Seq(
        ConstScoreQuery(Query.parse("court OR law"), 1.5) -> Occur.Filter,
        TermQuery("state") -> Occur.Must)))
    for (q <- nested) {
      val expected = oracle.topK(q, 10)
      val got = searcher.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq
      assert(got == expected, s"nested combinator engine != oracle for: $q")
    }
  }

  test("regex with top-level alternation expands BOTH branches (no prefix bound)") {
    // '^court$|^law$' — the old literal-prefix extraction bounded the scan
    // to [court, couru) and silently dropped the second branch
    val both = searcher.expandRegex("^court$|^law$")
    assert(both.contains("court") && both.contains("law"), s"got $both")
    // alternation inside parens does not disable a preceding literal
    // prefix, and a GROUPED alternation's shared prefix is factored (the
    // automaton common-prefix shape): ^(stream|strong) bounds [str, sts)
    assert(RegexPrefix.of("^st[a-z]*m$") == "st")
    assert(RegexPrefix.of("^(stream|strong)$") == "str")
    // each bounded walk keeps exactly the terms a brute filter of the
    // whole dictionary keeps
    for (re <- Seq("^court$|^law$", "^s[a-z]*e$", "^(state|site)$", "^co[a-z]*t$")) {
      val p = java.util.regex.Pattern.compile(re)
      val brute = dictionary.filter(p.matcher(_).find())
      assert(brute.nonEmpty, s"vacuous regex check for $re")
      assert(searcher.expandRegex(re, Int.MaxValue) == brute,
        s"$re: bounded ${searcher.expandRegex(re)} != brute $brute")
    }
  }

  test("leading wildcard walks the whole dictionary: same terms as a brute filter") {
    for (pat <- Seq("*aw", "?ourt", "*urt", "*t")) {
      val re = "^" + pat.flatMap {
        case '*' => ".*"; case '?' => "."; case c => c.toString
      } + "$"
      val got = searcher.expandWildcard(pat, Int.MaxValue)
      val brute = dictionary.filter(_.matches(re))
      assert(got == brute, s"$pat: walk $got != brute $brute")
      assert(got.nonEmpty, s"vacuous leading-wildcard check for $pat")
    }
  }

  test("explain: boosted SynonymQuery root equals the search score") {
    val q = BoostQuery(SynonymQuery(Seq("court", "law")), 2.0)
    val hits = searcher.topK(q, 5).collect()
    assert(hits.nonEmpty)
    for (hit <- hits) {
      val e = searcher.explain(q, hit.docId)
      assert(e.matched, s"boosted synonym explain no-match for doc ${hit.docId}")
      assert(e.value == hit.score,
        s"boosted synonym explain ${e.value} != score ${hit.score}")
    }
  }

  test("explain: root value equals the search score for every top-10 hit") {
    val queries = Seq("court", "court AND law", "court OR law OR state",
      "court^2 OR law", "court NOT law", "(court OR law) AND state")
    for (qs <- queries) {
      val q = Query.parse(qs)
      for (hit <- searcher.topK(q, 10).collect()) {
        val e = searcher.explain(q, hit.docId)
        assert(e.matched, s"explain says no-match for a hit: $qs doc ${hit.docId}")
        assert(e.value == hit.score,
          s"explain value ${e.value} != score ${hit.score} for $qs doc ${hit.docId}")
        assert(e.format().nonEmpty)
      }
    }
    // a non-matching doc explains as no-match with zero value
    val q = Query.parse("zzzznothere")
    val e = searcher.explain(q, 0L)
    assert(!e.matched && e.value == 0.0)
    // msm failure is explained
    val msmQ = BoolQuery(Seq("court", "law", "state").map(t =>
      TermQuery(t) -> (Occur.Should: Occur)), minimumShouldMatch = 3)
    searcher.matching(Query.parse("court NOT law")).collect().headOption.foreach { d =>
      val em = searcher.explain(msmQ, d)
      assert(!em.matched && em.description.contains("SHOULD"))
    }
  }

  test("fuzzy/prefix/range expansion against the term dictionary") {
    val fz = searcher.expandFuzzy("cout", maxEdits = 1)
    assert(fz.contains("court"))
    val pre = searcher.expandPrefix("cou")
    assert(pre.contains("court") && pre.forall(_.startsWith("cou")))
    val rng = searcher.expandRange("court", "couru")
    assert(rng == Seq("court"))
  }

  test("fuzzy counts a transposition as ONE edit (reference FuzzyQuery default)") {
    // 'ocurt' is one transposition from 'court' — plain Levenshtein says 2
    val dam = searcher.expandFuzzy("ocurt", maxEdits = 1)
    assert(dam.contains("court"), s"Damerau expansion missed the transposed term: $dam")
    val lev = searcher.expandFuzzy("ocurt", maxEdits = 1, transpositions = false)
    assert(!lev.contains("court"), "transpositions=false should be plain Levenshtein")
    // spellCorrect ranks the transposed term at distance 1
    val sc = searcher.spellCorrect("ocurt", maxEdits = 2, n = 5).collect()
    val court = sc.find(_.getString(0) == "court")
    assert(court.exists(_.getLong(1) == 1L),
      s"spellCorrect should rank 'court' at Damerau distance 1: ${sc.mkString(", ")}")
  }

  test("configurable index sort: docIDs follow the sort key; scoring invariant") {
    import spark.implicits._
    val dir = tmpDir("sortedseg")
    val ds = spark.createDataset(pagesLocal.map(p => (p.url, p.text)))
    IndexBuilder.buildSegment(ds, dir, cfg.copy(indexSortExpr = "length(text)"))
    val sse = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    val lenByUrl = pagesLocal.map(p => p.url -> p.text.length).toMap
    // (a) docID order == (char length, url) order
    val urls = sse.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().sortBy(_._1).map(_._2)
    val keys = urls.map(u => (lenByUrl(u), u)).toSeq
    assert(keys == keys.sorted, "docIDs must follow (length(text), url) order")
    // (b) scoring is assignment-invariant: same stats, same top-10 scores
    assert(sse.stats == searcher.stats)
    for (qs <- Seq("court", "court AND law", "court OR law OR state")) {
      val q = Query.parse(qs)
      val a = sse.topK(q, 10).collect().map(_.score).toSeq
      val b = searcher.topK(q, 10).collect().map(_.score).toSeq
      assert(a == b, s"score sequence differs on the sorted index for: $qs")
    }
    // (c) on a length-sorted index, docID-order take-k IS the field-sorted
    // top-k (the early-termination shape the reference's index sort buys)
    val matchLens = sse.matching(Query.parse("court")).toDF("docId")
      .join(sse.docsTable.select($"docId", $"url"), "docId")
      .orderBy($"docId").limit(10)
      .select($"url").as[String].collect().map(lenByUrl).toSeq
    val expectedLens = searcher.matching(Query.parse("court")).toDF("docId")
      .join(searcher.docsTable.select($"docId", $"url"), "docId")
      .select($"url").as[String].collect().map(lenByUrl).sorted.take(10).toSeq
    assert(matchLens == expectedLens,
      "docID-order take-10 on the sorted index != 10 shortest matching docs")
  }

  test("infix suggester: gram-table lookup == dictionary contains scan, pruned") {
    import org.apache.spark.sql.functions.{col => c, length => len, sum => sumC}
    val idx = tmpDir("infix")
    graft.search.InfixSuggester.build(searcher, idx)
    for (frag <- Seq("ar", "our", "ta")) {
      val got = graft.search.InfixSuggester.lookup(spark, idx, frag, 10).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val expected = spark.read.parquet(s"$segDir/terms")
        .where(c("term").contains(frag))
        .groupBy(c("term")).agg(sumC(c("docFreq")).as("doc_freq"))
        .orderBy(c("doc_freq").desc, c("term").asc).limit(10).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == expected, s"infix lookup != contains scan for '$frag'")
      assert(got.nonEmpty, s"vacuous infix check for '$frag'")
    }
    // the leading gram is a PushedFilter on the gram-sorted table
    val plan = spark.read.parquet(s"$idx/grams")
      .where(c("gram") === "ar")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("EqualTo(gram,ar"), s"gram lookup not pushed down:\n$plan")
  }

  test("pushdown: point lookups and bounded expansions reach the parquet scan") {
    import org.apache.spark.sql.execution.ExplainMode
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // stored-fields point lookup: docId IN (...) pushed to the docs scan
    val docsPlan = planOf(searcher.docsForIds(Seq(3L, 17L, 42L)))
    assert(docsPlan.contains("PushedFilters") && docsPlan.contains("In(docId"),
      s"docs point lookup not pushed down:\n$docsPlan")
    // a complete prefix rewrite ships its term range into the postings scan
    val dictPlan = planOf(searcher.matching(MultiTermDictQuery(MultiTerm.Prefix("st"))).toDF())
    assert(dictPlan.contains("GreaterThanOrEqual(term,st") &&
      dictPlan.contains("LessThan(term,su"), s"prefix range not pushed down:\n$dictPlan")
    // dictionary reads walk the resident dictionaries: every spec expands
    // to the terms a brute filter of the whole dictionary keeps
    val specs = Seq(MultiTerm.Prefix("st"), MultiTerm.Range("qa", "ri", true, false),
      MultiTerm.Range("court", "law", false, true), MultiTerm.Wildcard("s?te*"),
      MultiTerm.Wildcard("*aw"), MultiTerm.Fuzzy("cort", 2))
    for (spec <- specs) {
      val brute = dictionary.filter(MultiTerm.matches(spec, _))
      assert(brute.nonEmpty, s"vacuous expansion check for $spec")
      assert(searcher.expandTerms(spec, Int.MaxValue) == brute, s"$spec expansion")
    }
    // the fuzzy walk keeps every term within the edit distance, whatever
    // its length
    assert(searcher.expandFuzzy("cort", maxEdits = 2, max = Int.MaxValue) ==
      dictionary.filter(graft.functions.EditDistance.damerauWithin("cort", _, 2) >= 0))
    // term stats equal the dictionary table's rows
    import org.apache.spark.sql.functions.col
    val statRows = spark.read.parquet(s"$segDir/terms").where(col("term").isin("court", "law"))
      .select("term", "docFreq", "totalTermFreq").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(statRows.size == 2 && searcher.termStats(Seq("court", "law")).map {
      case (t, st) => t -> ((st.docFreq, st.totalTermFreq))
    } == statRows)
  }

  test("rescore combines first and second pass scores") {
    import spark.implicits._
    val q1 = Query.parse("court OR law")
    val q2 = Query.parse("state OR time")
    val cand = searcher.topK(q1, 20)
    val rescored = searcher.rescore(cand, q2, 1.0, 2.0).collect()
      .map(r => r.getAs[Long]("docId") -> r.getAs[Double]("score")).toMap
    val first = cand.collect().map(s => s.docId -> s.score).toMap
    first.foreach { case (d, s1) =>
      val s2 = oracle.eval(q2, d.toInt).getOrElse(0.0)
      assert(math.abs(rescored(d) - (s1 + 2.0 * s2)) < 1e-9, s"doc $d")
    }
  }

  test("singleton-doc fast path: docFreq==1 terms rank-identical to oracle") {
    // hunt a hapax term in the corpus (iterate doc term maps)
    import scala.jdk.CollectionConverters._
    val counts = scala.collection.mutable.HashMap[String, Int]()
    oracle.docTf.foreach(_._1.keySet().asScala.foreach(t =>
      counts.update(t, counts.getOrElse(t, 0) + 1)))
    val hapaxes = counts.filter(_._2 == 1).keys.toSeq.sorted.take(3)
    assert(hapaxes.nonEmpty, "corpus has no docFreq==1 term — enlarge it")
    for (h <- hapaxes) {
      val ts = searcher.termStats(Seq(h))
      assert(ts(h).docFreq == 1L)
      // term dictionary row carries the inline posting
      val q = Query.parse(h)
      val got = searcher.topK(q, 5).collect().map(s => (s.docId, s.score)).toSeq
      assert(got == oracle.topK(q, 5), s"hapax $h")
      assert(searcher.matching(q).collect().length == 1)
      // mixed query: hapax OR head term still rank-identical
      val mixed = Query.parse(s"$h OR court")
      val gotM = searcher.topK(mixed, 10).collect().map(s => (s.docId, s.score)).toSeq
      assert(gotM == oracle.topK(mixed, 10), s"mixed $h OR court")
    }
  }

  test("phrase: two-phase match == brute-force positional scan") {
    import spark.implicits._
    val pagesDs = spark.createDataset(pagesLocal.map(p => (p.url, p.text)))
      .toDF("url", "text")
    val txt = searcher.docsTable.select($"docId", $"url")
      .join(pagesDs, "url").select($"docId", $"text").as[(Long, String)]
    val phrase = Seq("the", "of")
    val got = searcher.phraseFreqs(phrase, txt).collect().toMap

    val idOf = pagesLocal.map(_.url).sorted.zipWithIndex
      .map { case (u, i) => u -> i.toLong }.toMap
    val an = StandardAnalyzer.Default
    val expected = pagesLocal.flatMap { p =>
      val toks = an.tokens(p.text)
      var f = 0
      var i = 0
      while (i < toks.size - 1) {
        if (toks(i).term == phrase(0) && toks(i + 1).term == phrase(1) &&
            toks(i + 1).position == toks(i).position + 1) f += 1
        i += 1
      }
      if (f > 0) Some(idOf(p.url) -> f) else None
    }.toMap
    assert(expected.nonEmpty, "test phrase never occurs — pick another")
    assert(got == expected)

    // scored variant: ranked by (score desc, docId asc), docs ⊆ match set
    val top = searcher.phraseTopK(phrase, txt, 10).collect()
    assert(top.nonEmpty)
    assert(top.sortBy(s => (-s.score, s.docId)).toSeq == top.toSeq)
    assert(top.forall(s => expected.contains(s.docId)))
  }

  /** Brute-force phrase frequencies keyed by url (docId-layout independent). */
  private def phraseByUrl(
      phrase: Seq[String],
      an: StandardAnalyzer = StandardAnalyzer.Default
  ): Map[String, Int] = {
    pagesLocal.flatMap { p =>
      val toks = an.tokens(p.text)
      val byPos = toks.map(t => t.position -> t.term).toMap
      var f = 0
      toks.foreach { t =>
        if (t.term == phrase.head) {
          var ok = true
          var i = 1
          while (ok && i < phrase.length) {
            if (!byPos.get(t.position + i).contains(phrase(i))) ok = false
            i += 1
          }
          if (ok) f += 1
        }
      }
      if (f > 0) Some(p.url -> f) else None
    }.toMap
  }

  test("positional index: indexed phrase == stored-text phrase == brute force") {
    import spark.implicits._
    val dir = tmpDir("posseg")
    val ds = spark.createDataset(pagesLocal.map(p => (p.url, p.text)))
    IndexBuilder.buildSegment(ds, dir, cfg.copy(storePositions = true))
    val se = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    assert(se.segments.head.hasPositions)

    val pagesDs = spark.createDataset(pagesLocal.map(p => (p.url, p.text)))
      .toDF("url", "text")
    val txt = se.docsTable.select($"docId", $"url")
      .join(pagesDs, "url").select($"docId", $"text").as[(Long, String)]
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap

    for (phrase <- Seq(Seq("the", "of"), Seq("the", "of", "the"))) {
      val indexed = se.phraseFreqsIndexed(phrase).collect()
        .map { case (d, f) => urlOf(d) -> f }.toMap
      val stored = se.phraseFreqsStored(phrase, txt).collect()
        .map { case (d, f) => urlOf(d) -> f }.toMap
      val brute = phraseByUrl(phrase)
      assert(indexed == brute, s"indexed != brute for $phrase")
      assert(stored == brute, s"stored != brute for $phrase")
    }
    assert(phraseByUrl(Seq("the", "of")).nonEmpty)

    // the dispatcher picks the positional path on positional segments, and
    // scoring on a positional segment stays rank-identical
    val q = Query.parse("court AND law")
    assert(se.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq ==
      oracle.topK(q, 10))

    // sloppy phrase: indexed path == stored-text duel at every slop; slop=0
    // degenerates to the exact phrase; counts grow monotonically with slop
    for (phrase <- Seq(Seq("the", "of"), Seq("court", "law"))) {
      var prevTotal = -1L
      for (slop <- 0 to 3) {
        val indexed = se.phraseFreqsSloppy(phrase, slop).collect()
          .map { case (d, f) => urlOf(d) -> f }.toMap
        val stored = se.phraseFreqsSloppyStored(phrase, slop, txt).collect()
          .map { case (d, f) => urlOf(d) -> f }.toMap
        assert(indexed == stored, s"sloppy indexed != stored for $phrase slop=$slop")
        if (slop == 0)
          assert(indexed == se.phraseFreqsIndexed(phrase).collect()
            .map { case (d, f) => urlOf(d) -> f }.toMap,
            s"slop=0 != exact phrase for $phrase")
        val total = indexed.values.map(_.toLong).sum
        assert(total >= prevTotal, s"sloppy count not monotone in slop for $phrase")
        prevTotal = total
      }
      assert(prevTotal > 0, s"no sloppy matches at slop=3 for $phrase")
    }
  }

  test("stopword analyzer: rank-identity + position gaps break phrase adjacency") {
    import spark.implicits._
    val dir = tmpDir("stopseg")
    val cfgS = cfg.copy(
      stopwords = StandardAnalyzer.EnglishStopwords, storePositions = true)
    IndexBuilder.buildSegment(
      spark.createDataset(pagesLocal.map(p => (p.url, p.text))), dir, cfgS)
    val se = new IndexSearcher(spark, Seq(Manifest.read(dir).get),
      analyzer = StandardAnalyzer.English)
    val oracleS = new BruteForceOracle(pagesLocal, StandardAnalyzer.English)

    // norms count post-filter tokens; scores must still be rank-identical
    for (qs <- Seq("court AND law", "court OR law OR state", "court NOT law")) {
      val q = Query.parse(qs)
      assert(se.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq ==
        oracleS.topK(q, 10), s"query $qs")
    }

    // phrase adjacency respects stopword gaps: "court law" only matches
    // where no (removed) token sat between them — the FilteringTokenFilter
    // position-increment contract, end to end
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    val got = se.phraseFreqsIndexed(Seq("court", "law")).collect()
      .map { case (d, f) => urlOf(d) -> f }.toMap
    val brute = phraseByUrl(Seq("court", "law"), StandardAnalyzer.English)
    assert(got == brute)
    // sanity: the corpus genuinely contains gapped near-misses
    // (court <stop> law) that a position-IGNORANT matcher (adjacency in the
    // filtered token sequence) would overcount — so the equality above is
    // meaningful
    val naive = pagesLocal.map { p =>
      val terms = StandardAnalyzer.English.tokens(p.text).map(_.term)
      (0 until math.max(0, terms.size - 1))
        .count(i => terms(i) == "court" && terms(i + 1) == "law")
    }.sum
    assert(naive > brute.values.sum, "fixture lacks gapped near-misses")
  }

  test("positional merge: positions survive the docID remap") {
    import spark.implicits._
    val cfgP = cfg.copy(storePositions = true)
    val (evens, odds) = pagesLocal.partition(p => (p.url.hashCode & 1) == 0)
    val dA = tmpDir("posA"); val dB = tmpDir("posB"); val dM = tmpDir("posM")
    IndexBuilder.buildSegment(
      spark.createDataset(evens.map(p => (p.url, p.text))), dA, cfgP)
    IndexBuilder.buildSegment(
      spark.createDataset(odds.map(p => (p.url, p.text))), dB, cfgP)
    val m = SegmentMerger.merge(spark, Seq(dA, dB), dM, cfgP)
    assert(m.hasPositions)
    val se = new IndexSearcher(spark, Seq(m))
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    val got = se.phraseFreqsIndexed(Seq("the", "of")).collect()
      .map { case (d, f) => urlOf(d) -> f }.toMap
    assert(got == phraseByUrl(Seq("the", "of")))
  }

  test("filter cache: cached matching == uncached, and the plan is cached") {
    val q = Query.parse("court AND law")
    val first = searcher.matchingCached(q)
    assert(first.storageLevel.useMemory, "filter result should be persisted")
    val second = searcher.matchingCached(q)
    assert(first eq second, "second lookup should hit the LRU cache")
    assert(first.collect().sorted.toSeq ==
      searcher.matching(q).collect().sorted.toSeq)
  }

  test("matching set and counts match oracle") {
    for (qs <- Seq("court AND law", "court NOT law", "(court OR law) AND state")) {
      val q = Query.parse(qs)
      assert(searcher.matching(q).collect().sorted.toSeq == oracle.matching(q),
        s"match set for: $qs")
    }
    assert(searcher.count(TermQuery("court")) == oracle.docFreq("court"))
  }

  test("searchDocs joins stored fields") {
    val rows = searcher.searchDocs(Query.parse("court AND law"), 5).collect()
    assert(rows.nonEmpty)
    val urls = oracle.sorted.map(_.url)
    rows.foreach { r =>
      val docId = r.getAs[Long]("docId")
      assert(r.getAs[String]("url") == urls(docId.toInt))
    }
  }

  test("resume: second buildSegment call is a no-op returning the manifest") {
    import spark.implicits._
    val m1 = Manifest.read(segDir).get
    val ds = spark.createDataset(pagesLocal.map(p => (p.url, p.text)))
    val m2 = IndexBuilder.buildSegment(ds, segDir, cfg)
    assert(m1.segmentId == m2.segmentId && m1.blockCount == m2.blockCount)
  }

  test("multi-segment search == single-segment (url, score) ranking") {
    import spark.implicits._
    val dirA = tmpDir("segA"); val dirB = tmpDir("segB")
    val (pa, pb) = pagesLocal.sortBy(_.url).splitAt(NDocs / 3)
    IndexBuilder.buildSegment(spark.createDataset(pa.map(p => (p.url, p.text))), dirA, cfg)
    IndexBuilder.buildSegment(spark.createDataset(pb.map(p => (p.url, p.text))), dirB, cfg)
    val multi = new IndexSearcher(spark,
      Seq(Manifest.read(dirA).get, Manifest.read(dirB).get))
    for (qs <- Seq("court AND law", "court OR law OR state", "the")) {
      val q = Query.parse(qs)
      val single = searcher.searchDocs(q, 10).select("url", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val m = multi.searchDocs(q, 10).select("url", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(m == single, s"multi-segment ranking differs for: $qs")
    }
    // merge the two segments and search again
    val dirM = tmpDir("segM")
    SegmentMerger.merge(spark, Seq(dirA, dirB), dirM, cfg)
    val merged = new IndexSearcher(spark, Seq(Manifest.read(dirM).get))
    for (qs <- Seq("court AND law", "court OR law OR state", "the", "bebe OR court")) {
      val q = Query.parse(qs)
      val single = searcher.searchDocs(q, 10).select("url", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val m = merged.searchDocs(q, 10).select("url", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(m == single, s"merged ranking differs for: $qs")
    }
    // merged collection stats intact
    val mm = Manifest.read(dirM).get
    assert(mm.docCount == oracle.docCount)
    assert(mm.sumTotalTermFreq == oracle.sumTtf)
  }

  test("deletes: liveDocs hide tombstoned docs; merge purges them physically") {
    import spark.implicits._
    val dir = tmpDir("delseg")
    IndexBuilder.buildSegment(
      spark.createDataset(pagesLocal.map(p => (p.url, p.text))), dir, cfg)
    val victims = pagesLocal.map(_.url).sorted.zipWithIndex
      .collect { case (u, i) if i % 30 == 0 => u }
    assert(Deletes.deleteByUrls(spark, dir, victims) == victims.size)

    val se = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    assert(se.hasDeletes)
    val seFull = searcher // pristine segment from the shared fixture
    val victimIds = seFull.docsTable.where($"url".isin(victims: _*))
      .select($"docId").as[Long].collect().toSet

    // matching excludes exactly the tombstoned docs
    val q = Query.parse("court OR law")
    assert(se.matching(q).collect().toSet ==
      seFull.matching(q).collect().toSet -- victimIds)

    // top-k = pristine ranking with victims removed — surviving docs keep
    // their scores (stats stay stale until merge, the reference semantics)
    for (qs <- Seq("the", "court AND law", "court OR law OR state")) {
      val qq = Query.parse(qs)
      val expect = seFull.topK(qq, 10 + victimIds.size).collect()
        .filterNot(s => victimIds.contains(s.docId))
        .take(10).map(s => (s.docId, s.score)).toSeq
      val got = se.topK(qq, 10).collect().map(s => (s.docId, s.score)).toSeq
      assert(got == expect, s"query $qs")
    }

    // counts fall back from the docFreq shortcut and respect liveDocs
    assert(se.count(Query.parse("the")) ==
      (seFull.matching(Query.parse("the")).collect().toSet -- victimIds).size)

    // merge purges physically: result == a fresh index over surviving pages
    val outDir = tmpDir("delmerged")
    val m = SegmentMerger.merge(spark, Seq(dir), outDir, cfg)
    val seM = new IndexSearcher(spark, Seq(m))
    assert(!seM.hasDeletes)
    val kept = pagesLocal.filterNot(p => victims.contains(p.url))
    val freshDir = tmpDir("delfresh")
    IndexBuilder.buildSegment(
      spark.createDataset(kept.map(p => (p.url, p.text))), freshDir, cfg)
    val fresh = Manifest.read(freshDir).get
    assert(m.docCount == kept.size)
    assert(m.sumTotalTermFreq == fresh.sumTotalTermFreq)

    // stats now exact again ⇒ scores bit-identical to the fresh build;
    // docId holes don't reorder ties because url-rank order is preserved
    val seF = new IndexSearcher(spark, Seq(fresh))
    val urlOfM = seM.docsTable.select($"docId", $"url").as[(Long, String)].collect().toMap
    val urlOfF = seF.docsTable.select($"docId", $"url").as[(Long, String)].collect().toMap
    for (qs <- Seq("court AND law", "court OR law OR state", "the OR of")) {
      val qq = Query.parse(qs)
      val a = seM.topK(qq, 10).collect().map(s => (urlOfM(s.docId), s.score)).toSeq
      val b = seF.topK(qq, 10).collect().map(s => (urlOfF(s.docId), s.score)).toSeq
      assert(a == b, s"query $qs")
    }
    val rep = CheckIndex.check(spark, outDir)
    assert(rep.ok, rep.violations.mkString("; "))
  }

  test("head-term salting: a Zipf-head term's postings span multiple buckets") {
    import spark.implicits._
    // the north rule's skew evidence: 'the' (corpus head) must not collapse
    // into one reducer key — its blocks split across docID-range buckets,
    // so the (term, bucket) shuffle spreads them over the cluster
    val blocks = spark.read.parquet(s"$segDir/postings")
      .where($"term" === "the")
      .select($"bucket").distinct().as[Long].collect()
    assert(blocks.length > 1, s"head term landed in ${blocks.length} bucket(s)")
    // and a tail term stays compact (no pointless splitting)
    val tailBuckets = spark.read.parquet(s"$segDir/postings")
      .where($"term" === "bebe")
      .select($"bucket").distinct().count()
    assert(tailBuckets <= blocks.length)
  }

  test("deletes + positions: phrase path hides tombstones; purge keeps positions") {
    import spark.implicits._
    val dir = tmpDir("delpos")
    IndexBuilder.buildSegment(
      spark.createDataset(pagesLocal.map(p => (p.url, p.text))), dir,
      cfg.copy(storePositions = true))
    val phrase = Seq("the", "of")
    val all = phraseByUrl(phrase)
    assert(all.nonEmpty)
    // tombstone half the phrase-matching docs
    val victims = all.keys.toSeq.sorted.zipWithIndex
      .collect { case (u, i) if i % 2 == 0 => u }
    assert(Deletes.deleteByUrls(spark, dir, victims) == victims.size)
    val se = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    val urlOf = se.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    val got = se.phraseFreqsIndexed(phrase).collect()
      .map { case (d, f) => urlOf(d) -> f }.toMap
    assert(got == all -- victims, "phrase path must hide tombstoned docs")

    // purge merge: positions survive, phrase == brute force on survivors
    val outDir = tmpDir("delposM")
    val m = SegmentMerger.merge(spark, Seq(dir), outDir,
      cfg.copy(storePositions = true))
    assert(m.hasPositions)
    val seM = new IndexSearcher(spark, Seq(m))
    val urlOfM = seM.docsTable.select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    val gotM = seM.phraseFreqsIndexed(phrase).collect()
      .map { case (d, f) => urlOfM(d) -> f }.toMap
    assert(gotM == all -- victims)
  }

  test("CheckIndex invariants: block order, doc order, stats consistency") {
    import spark.implicits._
    val blocks = spark.read.parquet(s"$segDir/postings").as[PostingBlock].collect()
    // per (term, bucket): blocks sorted, disjoint, within-bucket; docs ascending
    blocks.groupBy(b => (b.term, b.bucket)).foreach { case ((t, bkt), bs) =>
      val sortedB = bs.sortBy(_.firstDocId)
      sortedB.foreach { b =>
        assert(b.firstDocId >>> cfg.bucketShift == bkt, s"block outside bucket: $t")
        assert(b.lastDocId >>> cfg.bucketShift == bkt, s"block spans bucket: $t")
        val ids = BlockCodec.deltaDecode(BlockCodec.forDecode(b.docsPacked), b.firstDocId)
        assert(ids.length == b.numDocs)
        assert(ids.head == b.firstDocId && ids.last == b.lastDocId)
        assert(ids.sliding(2).forall { case Array(x, y) => x < y; case _ => true })
        val fs = BlockCodec.pforDecode(b.freqsPacked)
        assert(fs.forall(_ >= 1), "freq must be >= 1")
        assert(fs.sum == b.freqSum)
      }
      sortedB.sliding(2).foreach {
        case Array(x, y) => assert(x.lastDocId < y.firstDocId, s"overlapping blocks: $t")
        case _ =>
      }
    }
    // term stats equal oracle df/ttf for sampled terms
    val ts = searcher.termStats(Seq("the", "court", "bebe"))
    assert(ts("court").totalTermFreq ==
      oracle.docTf.map(_._1.getOrDefault("court", 0).toLong).sum)
  }
}
