package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.codec.{BlockCodec, Impacts}
import graft.search._

/** Scorer-level executable specs: the WAND golden fixture ported from the
  * reference (`/root/reference/lucene/core/src/test/org/apache/lucene/search/TestWANDScorer.java:87-263`,
  * FIXTURES.md F3) plus randomized pruned-vs-exhaustive duels
  * (`TestWANDScorer.java:729+` pattern).
  */
class ScorerSpec extends AnyFunSuite with PropHelpers {

  /** Build BlockViews from raw postings (docId, freq, norm), `blockSize` docs
    * per block — small sizes force multi-block pruning paths.
    */
  private def blocks(postings: Seq[(Long, Int, Int)], blockSize: Int = 128): Array[BlockView] = {
    postings.sortBy(_._1).grouped(blockSize).map { grp =>
      val ids = grp.map(_._1).toArray
      val fs = grp.map(_._2.toLong).toArray
      val ns = grp.map(_._3.toLong).toArray
      BlockView(
        firstDocId = ids.head,
        lastDocId = ids.last,
        numDocs = ids.length,
        docsPacked = BlockCodec.forEncode(BlockCodec.deltaEncode(ids, ids.head)),
        freqsPacked = BlockCodec.pforEncode(fs),
        normsPacked = BlockCodec.forEncode(ns),
        impacts = Impacts.encode(Impacts.skyline(grp.map(p => (p._2, p._3))))
      )
    }.toArray
  }

  /** Build BlockViews from positional postings (docId, positions, norm):
    * freq is the positions' count.
    */
  private def posBlocks(postings: Seq[(Long, Array[Int], Int)], blockSize: Int): Array[BlockView] =
    blocks(postings.map(p => (p._1, p._2.length, p._3)), blockSize).map { b =>
      val inBlock = postings.filter(p => p._1 >= b.firstDocId && p._1 <= b.lastDocId).sortBy(_._1)
      b.copy(posPacked = graft.codec.Positions.encode(inBlock.map(_._2).toArray, b.numDocs))
    }

  private def term(postings: Seq[(Long, Int, Int)], score: Double, blockSize: Int = 128) =
    new TermScorer(blocks(postings, blockSize), new ConstScorer(score))

  // F3: 6 docs, term sets [A,B], [A], [], [A,B,C], [B], [B,C]; scores A=2,B=1,C=3
  private def fixtureScorers(blockSize: Int = 128): Map[String, Seq[(Long, Int, Int)]] = Map(
    "A" -> Seq((0L, 1, 1), (1L, 1, 1), (3L, 1, 1)),
    "B" -> Seq((0L, 1, 1), (3L, 1, 1), (4L, 1, 1), (5L, 1, 1)),
    "C" -> Seq((3L, 1, 1), (5L, 1, 1))
  )

  private val fixtureWeights = Map("A" -> 2.0, "B" -> 1.0, "C" -> 3.0)

  test("WAND fixture: pure disjunction top-5 (TestWANDScorer.testBasics)") {
    for (bs <- Seq(1, 2, 128)) {
      val ps = fixtureScorers(bs)
      val scorers = Array[DocScorer](
        term(ps("A"), 2.0, bs), term(ps("B"), 1.0, bs), term(ps("C"), 3.0, bs))
      val c = new TopKCollector(10)
      Wand.run(scorers, None, c)
      assert(c.results.toSeq == Seq((3L, 6.0), (5L, 4.0), (0L, 3.0), (1L, 2.0), (4L, 1.0)))
    }
  }

  test("WAND fixture: top-2 threshold prunes to (3,6),(5,4)") {
    for (bs <- Seq(1, 2, 128)) {
      val ps = fixtureScorers(bs)
      val scorers = Array[DocScorer](
        term(ps("A"), 2.0, bs), term(ps("B"), 1.0, bs), term(ps("C"), 3.0, bs))
      val c = new TopKCollector(2)
      Wand.run(scorers, None, c)
      assert(c.results.toSeq == Seq((3L, 6.0), (5L, 4.0)))
    }
  }

  test("WAND fixture: (A OR B) FILTER C scores only A+B on docs 3,5") {
    val ps = fixtureScorers()
    val blocksMap = Map(
      "A" -> blocks(ps("A")), "B" -> blocks(ps("B")), "C" -> blocks(ps("C")))
    val scorers: Map[String, SimScorer] = fixtureWeights.map { case (k, v) => k -> new ConstScorer(v) }
    val q = BoolQuery(Seq(
      TermQuery("A") -> Occur.Should, TermQuery("B") -> Occur.Should,
      TermQuery("C") -> Occur.Filter))
    val c = new TopKCollector(10)
    Executor.search(q, blocksMap, scorers, c, pruning = true)
    assert(c.results.toSeq == Seq((3L, 3.0), (5L, 1.0)))
  }

  test("conjunction A AND B") {
    val ps = fixtureScorers()
    val a = term(ps("A"), 2.0)
    val b = term(ps("B"), 1.0)
    val conj = new ConjunctionScorer(Array(a, b), Array.empty)
    val c = new TopKCollector(10)
    Wand.drain(conj, c)
    assert(c.results.toSeq == Seq((0L, 3.0), (3L, 3.0)))
  }

  test("exclusion (A OR B) NOT C") {
    val ps = fixtureScorers()
    val c = new TopKCollector(10)
    Wand.run(
      Array(term(ps("A"), 2.0), term(ps("B"), 1.0)),
      Some(term(ps("C"), 3.0)), c)
    assert(c.results.toSeq == Seq((0L, 3.0), (1L, 2.0), (4L, 1.0)))
  }

  test("tie-break: equal scores order by ascending docId and k cuts ties") {
    val ps = Seq((1L, 1, 1), (5L, 1, 1), (9L, 1, 1))
    val c = new TopKCollector(2)
    Wand.run(Array(term(ps, 1.0)), None, c)
    assert(c.results.toSeq == Seq((1L, 1.0), (5L, 1.0)))
  }

  test("randomized duel: WAND top-k == exhaustive top-k (rank-identity gate)") {
    val genCorpus = for {
      nDocs <- Gen.choose(20, 400)
      nTerms <- Gen.choose(2, 5)
      density <- Gen.choose(2, 10)
    } yield (nDocs, nTerms, density)

    forAll(genCorpus, n = 60) { case (nDocs, nTerms, density) =>
      val rnd = new scala.util.Random(nDocs * 1000 + nTerms * 10 + density)
      val termPostings = (0 until nTerms).map { t =>
        val ps = (0 until nDocs).flatMap { d =>
          if (rnd.nextInt(density) == 0)
            Some((d.toLong, 1 + rnd.nextInt(5), 1 + rnd.nextInt(200)))
          else None
        }
        t.toString -> ps
      }.filter(_._2.nonEmpty)
      if (termPostings.nonEmpty) {
        val weights = termPostings.map { case (t, _) => t -> (0.5 + rnd.nextInt(10)) }.toMap
        // real BM25-shaped scorers exercise freq/norm-dependent impacts
        val sims: Map[String, SimScorer] = weights.map { case (t, w) =>
          t -> (new Bm25FloatScorer(1.2f, 0.75f, w.toFloat, 120.0f): SimScorer)
        }
        val bs = 1 + rnd.nextInt(16)
        def mkScorers() = termPostings.map { case (t, ps) =>
          new TermScorer(blocks(ps, bs), sims(t)): DocScorer
        }.toArray
        for (k <- Seq(1, 3, 10)) {
          val pruned = new TopKCollector(k)
          Wand.run(mkScorers(), None, pruned, pruning = true)
          val exact = new TopKCollector(k)
          Wand.run(mkScorers(), None, exact, pruning = false)
          assert(pruned.results.toSeq == exact.results.toSeq,
            s"pruning changed results k=$k blockSize=$bs")
        }
      }
    }
  }

  test("randomized duel: block-max conjunction == exhaustive") {
    val genCorpus = for {
      nDocs <- Gen.choose(20, 400)
      nTerms <- Gen.choose(2, 4)
      density <- Gen.choose(2, 6)
    } yield (nDocs, nTerms, density)

    forAll(genCorpus, n = 40) { case (nDocs, nTerms, density) =>
      val rnd = new scala.util.Random(nDocs * 7919 + nTerms * 31 + density)
      val termPostings = (0 until nTerms).map { t =>
        val ps = (0 until nDocs).flatMap { d =>
          if (rnd.nextInt(density) == 0)
            Some((d.toLong, 1 + rnd.nextInt(5), 1 + rnd.nextInt(200)))
          else None
        }
        t.toString -> ps
      }.filter(_._2.nonEmpty)
      if (termPostings.size >= 2) {
        val sims: Map[String, SimScorer] = termPostings.map { case (t, _) =>
          t -> (new Bm25FloatScorer(1.2f, 0.75f,
            (0.5f + rnd.nextInt(10)), 120.0f): SimScorer)
        }.toMap
        val bs = 1 + rnd.nextInt(16)
        val blocksMap = termPostings.map { case (t, ps) => t -> blocks(ps, bs) }.toMap
        val q = BoolQuery(termPostings.map { case (t, _) =>
          TermQuery(t) -> (Occur.Must: Occur)
        })
        for (k <- Seq(1, 3, 10)) {
          val pruned = new TopKCollector(k)
          Executor.search(q, blocksMap, sims, pruned, pruning = true)
          val exact = new TopKCollector(k)
          Executor.search(q, blocksMap, sims, exact, pruning = false)
          assert(pruned.results.toSeq == exact.results.toSeq,
            s"conjunction pruning changed results k=$k blockSize=$bs")
        }
      }
    }
  }

  test("single-scorer shapes: Executor.search == build + WAND == exhaustive drain") {
    import graft.index.FeatureIndexer
    val feature = FeatureIndexer.featureTerm("rank")
    val cf = CombinedFieldQuery("a", Seq("title" -> 2.0, "body" -> 1.0))
    val shapes: Seq[Query] = Seq(
      TermQuery("a"),
      SynonymQuery(Seq("a", "b")),
      cf,
      FeatureQuery("rank", FeatureFunction.Saturation(3.0)),
      PhraseQuery(Seq("a", "b")),
      MultiPhraseQuery(Seq(0 -> Seq("a", "c"), 1 -> Seq("b"))),
      IntervalQuery(Intervals.Ordered(Seq(Intervals.Term("a"), Intervals.Term("c")))),
      BoostQuery(TermQuery("b"), 2.5),
      DisMaxQuery(Seq(TermQuery("a"), TermQuery("c")), 0.3),
      ConstScoreQuery(TermQuery("c"), 2.0))
    forAll(Gen.choose(20, 300), n = 20) { nDocs =>
      val rnd = new scala.util.Random(nDocs)
      val bs = 1 + rnd.nextInt(16)
      // each doc: a run of 3-12 tokens over a 4-word vocabulary
      val docs = (0 until nDocs).map { d =>
        d.toLong -> Array.fill(3 + rnd.nextInt(10))("abcd"(rnd.nextInt(4)).toString)
      }
      val text = Seq("a", "b", "c", "d").map { t =>
        t -> posBlocks(docs.flatMap { case (d, toks) =>
          val ps = toks.indices.filter(toks(_) == t).toArray
          if (ps.isEmpty) None else Some((d, ps, toks.length))
        }, bs)
      }
      def sparse(f: Int => Int) = blocks(docs.flatMap { case (d, _) =>
        if (rnd.nextInt(3) == 0) Some((d, f(rnd.nextInt(20)), 1 + rnd.nextInt(200))) else None
      }, bs)
      val blocksMap = (text ++ cf.fieldTerms.map { case (t, _) => t -> sparse(1 + _) } :+
        (feature -> sparse(v => FeatureIndexer.encodeValue(1f + v)))).toMap
      for (q <- shapes) {
        val sims: Map[String, SimScorer] = Executor.scorerKeys(q).iterator.map { k =>
          k -> (if (k.startsWith("feat:"))
            new FeatureSimScorer(FeatureFunction.Saturation(3.0), 1.0, floatExact = true)
          else new Bm25FloatScorer(1.2f, 0.75f, 0.5f + rnd.nextInt(10), 120.0f): SimScorer)
        }.toMap
        for (k <- Seq(1, 3, 10)) {
          val viaSearch = new TopKCollector(k)
          Executor.search(q, blocksMap, sims, viaSearch, pruning = true)
          val viaWand = new TopKCollector(k)
          Executor.build(q, blocksMap, sims).foreach(s => Wand.run(Array(s), None, viaWand))
          val exact = new TopKCollector(k)
          Executor.build(q, blocksMap, sims).foreach(Wand.drain(_, exact))
          assert(exact.results.nonEmpty, s"$q matched nothing")
          assert(viaSearch.results.toSeq == viaWand.results.toSeq, s"$q k=$k bs=$bs")
          assert(viaSearch.results.toSeq == exact.results.toSeq, s"$q k=$k bs=$bs")
        }
      }
    }
  }

  test("TermScorer advance skips blocks by metadata") {
    val ps = (0 until 1000).map(i => (i * 3L, 1, 10))
    val t = term(ps, 1.0, blockSize = 64)
    assert(t.advance(901L) == 901L + (3 - 901 % 3) % 3)
    assert(t.advance(2997L) == 2997L)
    assert(t.advance(3000L) == DocScorer.NoMoreDocs)
  }
}
