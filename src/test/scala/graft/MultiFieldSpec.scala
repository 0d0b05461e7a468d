package graft

import graft.analysis.StandardAnalyzer
import graft.codec.SmallFloat
import graft.corpus.Corpus
import graft.index.{FieldKey, IndexBuilder, IndexConfig, Manifest}
import graft.search._

/** Multi-field indexing + field-scoped queries: per-field norms, per-field
  * BM25 collection stats, field-scoped dictionary keys, and rank-identity
  * duels against a per-field brute force (the reference's per-field
  * FieldInvertState/CollectionStatistics semantics,
  * `/root/reference/lucene/core/src/java/org/apache/lucene/index/IndexingChain.java:553-616`).
  */
class MultiFieldSpec extends SparkTestBase {

  private val NDocs = 800
  private val an = StandardAnalyzer.Default

  /** title = first 5 tokens, body = the rest — every doc has both fields. */
  private lazy val pagesLocal = (0L until NDocs.toLong).map(Corpus.page(_))
  private def fieldsOf(text: String): Seq[(String, String)] = {
    val toks = text.split(" ")
    Seq("title" -> toks.take(5).mkString(" "), "body" -> toks.drop(5).mkString(" "))
  }

  private lazy val segDir: String = {
    import spark.implicits._
    val dir = tmpDir("mfseg")
    val ds = spark.createDataset(pagesLocal.map(p => (p.url, fieldsOf(p.text))))
    IndexBuilder.buildSegmentFields(ds, dir,
      IndexConfig(bucketShift = 9, numPostingPartitions = 8, numDocPartitions = 4))
    dir
  }

  private lazy val searcher: IndexSearcher =
    new IndexSearcher(spark, Seq(Manifest.read(segDir).get))

  // ---- local per-field brute force (float-exact, same formula chain)

  private lazy val sorted = pagesLocal.sortBy(_.url).toVector
  private lazy val fieldTf: Map[String, Vector[(java.util.HashMap[String, Int], Int)]] =
    Seq("title", "body").map { f =>
      f -> sorted.map { p =>
        an.termFreqs(fieldsOf(p.text).toMap.apply(f))
      }
    }.toMap

  private def fDocCount(f: String): Long = fieldTf(f).count(_._2 > 0).toLong
  private def fSttf(f: String): Long = fieldTf(f).map(_._2.toLong).sum
  private def fDocFreq(f: String, t: String): Long =
    fieldTf(f).count(_._1.containsKey(t)).toLong

  private def bruteScore(f: String, t: String, doc: Int): Option[Double] = {
    val (tf, len) = fieldTf(f)(doc)
    if (!tf.containsKey(t)) None
    else {
      val avgdl = (fSttf(f) / fDocCount(f).toDouble).toFloat
      val sc = new Bm25FloatScorer(1.2f, 0.75f,
        Bm25.idf(fDocFreq(f, t), fDocCount(f)), avgdl)
      val norm = java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(len))
      Some(sc.score(tf.get(t), norm))
    }
  }

  private def bruteTopK(clauses: Seq[(String, String)], k: Int): Seq[(Long, Double)] =
    sorted.indices.flatMap { d =>
      val ss = clauses.flatMap { case (f, t) => bruteScore(f, t, d) }
      if (ss.isEmpty) None else Some((d.toLong, ss.sum))
    }.sortBy { case (d, s) => (-s, d) }.take(k)

  test("manifest carries per-field stats matching the corpus") {
    val m = Manifest.read(segDir).get
    val fs = m.fieldStats.map(f => f.field -> f).toMap
    assert(fs.keySet == Set("body", "title"))
    for (f <- Seq("title", "body")) {
      assert(fs(f).docCount == fDocCount(f), s"docCount $f")
      assert(fs(f).sumTotalTermFreq == fSttf(f), s"sttf $f")
    }
    assert(m.sumTotalTermFreq == fSttf("title") + fSttf("body"))
  }

  test("dictionary holds field-scoped keys; expansion stays field-bounded") {
    val titleTerms = searcher.expandPrefix("title" + FieldKey.Sep + "cou")
    assert(titleTerms.nonEmpty)
    assert(titleTerms.forall(_.startsWith("title" + FieldKey.Sep)))
  }

  test("field-scoped top-k == per-field brute force (rank identity)") {
    val cases = Seq(
      Seq("title" -> "court"),
      Seq("body" -> "court"),
      Seq("title" -> "court", "body" -> "law"),
      Seq("title" -> "the", "body" -> "of", "body" -> "state"))
    for (cl <- cases) {
      val qs = cl.map { case (f, t) => s"$f:$t" }.mkString(" OR ")
      val expected = bruteTopK(cl, 10)
      val got = searcher.topK(searcher.parse(qs), 10).collect()
        .map(s => (s.docId, s.score)).toSeq
      assert(got == expected, s"multi-field engine != brute force for: $qs")
    }
  }

  test("same term scores differently per field (per-field stats + norms)") {
    val t = searcher.topK(searcher.parse("title:court"), 5).collect().map(_.score).toSeq
    val b = searcher.topK(searcher.parse("body:court"), 5).collect().map(_.score).toSeq
    assert(t.nonEmpty && b.nonEmpty)
    assert(t != b, "title and body scoring should differ (different stats/norms)")
  }

  test("cross-field conjunction matches intersection semantics") {
    val q = searcher.parse("title:court AND body:law")
    val got = searcher.matching(q).collect().toSet
    val expected = sorted.indices.filter { d =>
      fieldTf("title")(d)._1.containsKey("court") && fieldTf("body")(d)._1.containsKey("law")
    }.map(_.toLong).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "fixture should have cross-field matches")
  }

  test("explain on field-scoped queries matches the search score") {
    val q = searcher.parse("title:court OR body:law")
    for (hit <- searcher.topK(q, 5).collect()) {
      val e = searcher.explain(q, hit.docId)
      assert(e.matched && e.value == hit.score,
        s"field explain ${e.value} != ${hit.score} for doc ${hit.docId}")
    }
  }

  test("field-scoped phrase over a positional multi-field index") {
    import spark.implicits._
    val dir = tmpDir("mfpos")
    val n = 400
    val ds = spark.createDataset(pagesLocal.take(n).map(p => (p.url, fieldsOf(p.text))))
    IndexBuilder.buildSegmentFields(ds, dir,
      IndexConfig(bucketShift = 9, numPostingPartitions = 4, numDocPartitions = 2,
        storePositions = true))
    val se = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    assert(se.segments.head.hasPositions)

    val phrase = Seq("the", "of")
    val encoded = phrase.map(FieldKey.encode("body", _))
    val got = se.phraseFreqs(encoded).collect().toMap
    // brute force: adjacency over the BODY field's analyzer positions only
    val sortedN = pagesLocal.take(n).sortBy(_.url).toVector
    val expected = sortedN.zipWithIndex.flatMap { case (p, d) =>
      val toks = an.tokens(fieldsOf(p.text).toMap.apply("body"))
      val byPos = toks.map(t => t.position -> t.term).toMap
      val f = toks.count(t => t.term == phrase.head &&
        byPos.get(t.position + 1).contains(phrase(1)))
      if (f > 0) Some(d.toLong -> f) else None
    }.toMap
    assert(got == expected)
    assert(expected.nonEmpty, "fixture should contain body phrases")
    // a title-scoped phrase never matches body adjacency spilling over
    val titleGot = se.phraseFreqs(phrase.map(FieldKey.encode("title", _)))
      .collect().toMap
    val titleExpected = sortedN.zipWithIndex.flatMap { case (p, d) =>
      val toks = an.tokens(fieldsOf(p.text).toMap.apply("title"))
      val byPos = toks.map(t => t.position -> t.term).toMap
      val f = toks.count(t => t.term == phrase.head &&
        byPos.get(t.position + 1).contains(phrase(1)))
      if (f > 0) Some(d.toLong -> f) else None
    }.toMap
    assert(titleGot == titleExpected)
  }

  test("multi-valued field: position gap, combined length, summed freqs") {
    import spark.implicits._
    val dir = tmpDir("mvpos")
    // one doc with TWO values of `tags` plus a body; w2/w3 are adjacent
    // across the value boundary in concatenation order
    val docs = Seq(
      ("u0", Seq("tags" -> "w1 w2", "tags" -> "w3 w4", "body" -> "alpha beta")),
      ("u1", Seq("tags" -> "w2 w3", "body" -> "alpha")),
      ("u2", Seq("tags" -> "w5 w1", "tags" -> "w1 w6", "body" -> "beta")))
    val ds = spark.createDataset(docs)
    IndexBuilder.buildSegmentFields(ds, dir,
      IndexConfig(bucketShift = 9, numPostingPartitions = 2, numDocPartitions = 1,
        storePositions = true, positionIncrementGap = 100))
    val se = new IndexSearcher(spark, Seq(Manifest.read(dir).get))
    def phraseDocs(terms: Seq[String]): Set[Long] =
      se.phraseFreqs(terms.map(FieldKey.encode("tags", _)))
        .collect().map(_._1).toSet
    // docIds are url rank: u0 -> 0, u1 -> 1, u2 -> 2
    assert(phraseDocs(Seq("w2", "w3")) == Set(1L),
      "phrase must not cross a value boundary (u0) but matches within one value (u1)")
    assert(phraseDocs(Seq("w1", "w2")) == Set(0L))
    assert(phraseDocs(Seq("w3", "w4")) == Set(0L))
    // same term in both values -> ONE posting with freq 2, combined norm
    val ts = se.termStats(Seq(FieldKey.encode("tags", "w1")))
    assert(ts(FieldKey.encode("tags", "w1")).docFreq == 2L) // u0 and u2
    assert(ts(FieldKey.encode("tags", "w1")).totalTermFreq == 3L) // 1 + 2
    // combined field length: u0 tags = 4 tokens -> same norm byte as one
    // 4-token value
    val m = Manifest.read(dir).get
    val tagStats = m.fieldStats.find(_.field == "tags")
    assert(tagStats.exists(_.sumTotalTermFreq == 10L),
      s"tags sttf should be 4+2+4=10, got ${m.fieldStats}")
    assert(tagStats.exists(_.docCount == 3L))
  }

  test("multi-field merge: per-field stats sum; field ranking == single-segment") {
    import spark.implicits._
    val cfg2 = IndexConfig(bucketShift = 9, numPostingPartitions = 4, numDocPartitions = 2)
    val root = tmpDir("mfmerge")
    // two segments over disjoint halves of the corpus
    val (h1, h2) = pagesLocal.splitAt(pagesLocal.length / 2)
    // url-disjoint halves: docIDs remain the sorted-url rank within each seg
    IndexBuilder.buildSegmentFields(
      spark.createDataset(h1.map(p => (p.url, fieldsOf(p.text)))), s"$root/a", cfg2)
    IndexBuilder.buildSegmentFields(
      spark.createDataset(h2.map(p => (p.url, fieldsOf(p.text)))), s"$root/b", cfg2)
    val merged = graft.index.SegmentMerger.merge(spark,
      Seq(s"$root/a", s"$root/b"), s"$root/m", cfg2)
    // fieldStats merged by summation
    val fs = merged.fieldStats.map(f => f.field -> f).toMap
    for (f <- Seq("title", "body")) {
      assert(fs(f).docCount == fDocCount(f), s"merged docCount $f")
      assert(fs(f).sumTotalTermFreq == fSttf(f), s"merged sttf $f")
    }
    // field-scoped ranking on the merged segment == the one-segment index
    // (compare by url — docID layouts differ between the two builds)
    val seM = new IndexSearcher(spark, Seq(Manifest.read(s"$root/m").get))
    val q = "title:court OR body:law"
    def byUrl(se: IndexSearcher): Seq[(String, Double)] = {
      val hits = se.topK(se.parse(q), 10).collect()
      val urls = se.docsForIds(hits.map(_.docId).toSeq)
        .select("docId", "url").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      hits.map(h => urls(h.docId) -> h.score).toSeq
    }
    assert(byUrl(seM) == byUrl(searcher), "merged ranking != single-segment ranking")
  }

  test("PerField similarity: field picks its model (PerFieldSimilarityWrapper)") {
    import graft.search.Similarity
    // title scored Classic, everything else BM25: a title-scoped query under
    // the wrapper must equal the same query under a plain Classic searcher,
    // and a body-scoped one must equal plain BM25 — same segments throughout
    val wrapped = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = Similarity.PerField(Map("title" -> Similarity.Classic)))
    val classic = new IndexSearcher(spark, Seq(Manifest.read(segDir).get),
      similarity = Similarity.Classic)
    val bm25 = searcher
    def top(se: IndexSearcher, q: String): Seq[(Long, Double)] =
      se.topK(se.parse(q), 10).collect().map(s => (s.docId, s.score)).toSeq
    for (q <- Seq("title:court", "title:court OR title:law")) {
      assert(top(wrapped, q) == top(classic, q), s"wrapper != classic for $q")
      assert(top(wrapped, q).nonEmpty)
    }
    for (q <- Seq("body:court", "body:court AND body:law")) {
      assert(top(wrapped, q) == top(bm25, q), s"wrapper != bm25 default for $q")
      assert(top(wrapped, q).nonEmpty)
    }
    // mixed-field OR: each clause scores under its own field's model, the
    // doc score is the clause sum — checked against COMPLETE per-model
    // score maps (k = corpus size, nothing truncated)
    def full(se: IndexSearcher, q: String): Map[Long, Double] =
      se.topK(se.parse(q), NDocs).collect().map(s => s.docId -> s.score).toMap
    val c = full(classic, "title:court")
    val b = full(bm25, "body:law")
    val mixed = top(wrapped, "title:court OR body:law")
    assert(mixed.nonEmpty)
    mixed.foreach { case (id, s) =>
      val sum = c.getOrElse(id, 0.0) + b.getOrElse(id, 0.0)
      assert(math.abs(s - sum) < 1e-9,
        s"doc $id: wrapper OR score $s != per-model clause sum $sum")
    }
  }

  test("parseMultiField: unscoped terms expand across fields (MultiFieldQueryParser)") {
    // ranking == the hand-written per-field disjunction
    val q = searcher.parseMultiField("court law", Seq("title" -> 1.0, "body" -> 1.0))
    val manual = searcher.parse("title:court OR body:court OR title:law OR body:law")
    val got = searcher.topK(q, 10).collect().map(s => (s.docId, s.score)).toSeq
    val expected = searcher.topK(manual, 10).collect().map(s => (s.docId, s.score)).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // per-field boosts wrap the scoped clause; explicit scoping is preserved
    val qb = searcher.parseMultiField("court", Seq("title" -> 2.0, "body" -> 1.0))
    val manualB = searcher.parse("title:court^2 OR body:court")
    assert(searcher.topK(qb, 10).collect().toSeq ==
      searcher.topK(manualB, 10).collect().toSeq)
    val scoped = searcher.parseMultiField("title:court", Seq("title" -> 1.0, "body" -> 1.0))
    assert(searcher.topK(scoped, 10).collect().toSeq ==
      searcher.topK(searcher.parse("title:court"), 10).collect().toSeq)
  }

  test("unscoped query on a multi-field index hits the default field only") {
    // bare terms address FieldKey.DefaultField; this index has no default
    // field, so an unscoped term matches nothing
    assert(searcher.count(searcher.parse("court")) == 0L)
  }
}
