package graft

import org.apache.spark.sql.functions._

import graft.analysis.StandardAnalyzer
import graft.index.IndexConfig
import graft.pipeline.{Dedup, Multimodal, Similarity, TextOps}
import graft.search.{IndexSearcher, Query}
import graft.streaming.Streaming

/** Pipeline-operator tests: dedup families against exact Jaccard, LSH ANN
  * recall against brute force, multimodal stub plumbing, percolation vs a
  * driver-side predicate, and the analyzer/split equivalence that underpins
  * the SQL oracles.
  */
class PipelineSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("documents corpus: StandardAnalyzer == whitespace split (oracle premise)") {
    val texts = docs.select("text").collect().map(_.getString(0))
    val an = StandardAnalyzer.Default
    texts.foreach { t =>
      assert(an.tokens(t).map(_.term) == t.split(" ").toSeq, s"mismatch on: ${t.take(60)}")
    }
  }

  test("exact dedup finds no false groups; md5 fingerprints are distinct per text") {
    val fps = TextOps.fingerprintMd5(docs, "doc_id", "text").collect()
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byFp = fps.groupBy(_.getString(1))
    byFp.foreach { case (_, rows) =>
      val distinctTexts = rows.map(r => texts(r.getLong(0))).distinct
      assert(distinctTexts.size == 1)
    }
  }

  test("streaming NRT ingest: per-batch segments, searchable, resumable") {
    import spark.implicits._
    val n = 3000
    val src = tmpDir("nrt-src")
    graft.corpus.Corpus.pages(spark, n.toLong).map(p => (p.url, p.text))
      .toDF("url", "text").repartition(6).write.mode("overwrite").parquet(src)
    val idx = tmpDir("nrt-idx")
    val ckpt = tmpDir("nrt-ckpt")
    val cfg = IndexConfig(bucketShift = 10, numPostingPartitions = 4, numDocPartitions = 2)
    val nb = Streaming.indexStream(spark, src, idx, cfg, ckpt, maxFilesPerTrigger = 2)
    assert(nb >= 2, s"expected multiple micro-batches, got $nb")

    val se = IndexSearcher.open(spark, idx)
    assert(se.segments.map(_.docCount).sum == n)
    val an = StandardAnalyzer.Default
    val expected = (0L until n.toLong)
      .count(id => an.tokens(graft.corpus.Corpus.page(id).text).exists(_.term == "court"))
    assert(se.count(Query.parse("court")) == expected)

    // restart against the same checkpoint: nothing to replay, index unchanged
    val nb2 = Streaming.indexStream(spark, src, idx, cfg, ckpt, maxFilesPerTrigger = 2)
    assert(nb2 == 0)
    assert(IndexSearcher.open(spark, idx).segments.map(_.docCount).sum == n)
  }

  test("jaccard strategies agree: count-based == PPJoin-prefix (both exact)") {
    for (t <- Seq(0.5, 0.8)) {
      val a = Dedup.jaccardPairs(docs, "doc_id", "text", w = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val b = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", w = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a == b, s"threshold $t")
      assert(a.nonEmpty, "fixture should contain near-dups")
    }
  }

  test("jaccard auto-selection: candidate estimate routes correctly, results identical") {
    import spark.implicits._
    // full-sample estimate on the fixture equals the true candidate volume
    val est = Dedup.jaccardCandidateEstimate(docs, "text", w = 2, sampleFraction = 1.0)
    val truePairs = {
      val dfs = docs.select(explode(Dedup.shingles(col("text"), 2)).as("s"))
        .groupBy(col("s")).count().collect().map(_.getLong(1))
      dfs.map(d => d * (d - 1) / 2.0).sum
    }
    assert(math.abs(est - truePairs) < 1e-6, s"est $est != true $truePairs")
    // Zipf-head fixture: every doc shares a run of head shingles — the
    // candidate volume explodes past a small budget and routes to prefix
    val head = (1 to 30).map(i => s"head$i").mkString(" ")
    val skewed = (0 until 300).map(i =>
      (i.toLong, s"$head unique${i}a unique${i}b unique${i}c")).toDF("doc_id", "text")
    val estSkew = Dedup.jaccardCandidateEstimate(skewed, "text", w = 2, sampleFraction = 1.0)
    assert(estSkew > 1e5, s"skewed corpus candidate volume should be large, got $estSkew")
    // auto == count-based on both corpora, whichever branch it takes
    // (force each branch with the budget knob)
    for ((d, budget) <- Seq((docs, 1e12), (docs, 1.0), (skewed, 1e5))) {
      def collectPairs(x: org.apache.spark.sql.DataFrame) =
        x.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val auto = collectPairs(Dedup.jaccardPairsAuto(d, "doc_id", "text", 2, 0.5,
        sampleFraction = 1.0, maxCandidatePairs = budget))
      val cnt = collectPairs(Dedup.jaccardPairs(d, "doc_id", "text", 2, 0.5))
      assert(auto == cnt)
    }
  }

  test("minhash-LSH recovers all high-jaccard pairs (recall vs exact)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", w = 2, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", w = 2,
        bands = 8, rowsPerBand = 4, minSigSim = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(exact.subsetOf(lsh), s"LSH missed pairs: ${exact -- lsh}")
  }

  test("simhash: near-dup pairs have smaller hamming distance than random pairs") {
    val sims = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearDups = Dedup.jaccardPairs(docs, "doc_id", "text", w = 2, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearDups.nonEmpty)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val dupDist = nearDups.map { case (a, b) => ham(sims(a), sims(b)) }
    val ids = sims.keys.toArray.sorted
    val rndDist = (0 until 200).map { i =>
      ham(sims(ids(i % ids.length)), sims(ids((i * 37 + 11) % ids.length)))
    }.filter(_ > 0)
    assert(dupDist.map(_.toDouble).sum / dupDist.length <
      rndDist.map(_.toDouble).sum / rndDist.length / 2,
      "near-dups should be much closer in hamming space")
  }

  test("simhash pairs: band bucketing == brute-force hamming<=3 on signatures") {
    val sims = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pigeonhole banding is exact at the signature level: recall AND
    // precision 1 vs the all-pairs hamming scan
    val expected = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b, java.lang.Long.bitCount(sims(a) ^ sims(b)))).toSet
    val got = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture should contain simhash near-dups")
  }

  test("embedding LSH dedup: precision 1 vs exact; high recall on planted dups") {
    import spark.implicits._
    // planted fixture: 60 seeded base vectors + a jittered near-dup each
    // (cos ~0.95+) — the regime the LSH path is built for
    val rnd = new scala.util.Random(7)
    val dim = 32
    val rows = (0 until 60).flatMap { i =>
      val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val dup = base.map(x => x + 0.12f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, dup))
    }
    val df = rows.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingPairs(df, "vec_id", "embedding", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairsLsh(df, "vec_id", "embedding", 0.8,
        dim = dim, planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact verification must make precision 1")
    assert(exact.size >= 50, s"fixture should plant >=50 near-dup pairs, got ${exact.size}")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall on planted near-dups too low: $recall")
  }

  test("semanticDedup: planted dups pruned keep-lowest-id inside found clusters") {
    import spark.implicits._
    // fixture: 4 well-separated direction archetypes x 20 members (small
    // jitter) — k-medians must co-cluster members; each archetype carries
    // 5 planted near-exact dups that the cosine prune must collapse
    val rnd = new scala.util.Random(11)
    val dim = 16
    val arch = Array.fill(4) {
      val a = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum); a.map(x => x / n * 4.0)
    }
    val rows = (0 until 80).map { i =>
      val base = arch(i % 4)
      val jitter = if (i < 20) 0.001 else 0.3 // first 5 per archetype ~exact
      (i.toLong, base.map(x => (x + jitter * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
      k = 4, iters = 4, tau = 0.995)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    // clusters align with archetypes: members of one archetype share a label
    val byArch = kept.groupBy(_._1 % 4).view.mapValues(_.map(_._2).toSet).toMap
    byArch.foreach { case (a, cs) =>
      assert(cs.size == 1, s"archetype $a split across clusters $cs")
    }
    assert(byArch.values.flatten.toSet.size == 4, "archetypes must not merge")
    // the ~exact dups (ids 0..19, 5 per archetype at jitter 0.001) collapse
    // to ONE survivor each — the lowest id of the archetype
    val keptIds = kept.map(_._1).toSet
    (0 until 4).foreach { a =>
      val nearExact = (0 until 20).filter(_ % 4 == a).map(_.toLong)
      assert((keptIds & nearExact.toSet) == Set(nearExact.min),
        s"archetype $a: want only ${nearExact.min} of $nearExact kept")
    }
    // loose members (jitter 0.3 → cos well under 0.995) all survive
    assert((20 until 80).forall(i => keptIds.contains(i.toLong)))
    // partition-independence
    val again = Dedup.semanticDedup(df.repartition(7), "vec_id", "embedding",
      k = 4, iters = 4, tau = 0.995)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(again.sortBy(_._1).toSeq == kept.sortBy(_._1).toSeq)
    // degenerate-clustering guard fails fast
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(df, "vec_id", "embedding", k = 1, iters = 1,
        tau = 0.9, maxPairsPerCluster = 10)
    }
    assert(e.getMessage.contains("degenerate"))
  }

  test("langIdNgram: rank profiles separate real character distributions") {
    import spark.implicits._
    // three synthetic "languages" with disjoint-ish character inventories —
    // the regime char-bigram rank profiles are built for
    val vocab = Map(
      "aa" -> Array("the", "and", "with", "that", "have", "there", "what"),
      "bb" -> Array("über", "größe", "straße", "müde", "schön", "für", "zäh"),
      "cc" -> Array("niño", "mañana", "señor", "años", "así", "también", "aquí"))
    def text(lang: String, salt: Long) =
      (0 until 30).map(i => vocab(lang)(((salt + i * 13) % 7).toInt)).mkString(" ")
    val rows = (0L until 90L).map { i =>
      val lang = Seq("aa", "bb", "cc")((i % 3).toInt)
      (i, text(lang, i), lang)
    }
    val df = rows.toDF("doc_id", "text", "lang")
    val train = df.where($"doc_id" % 10 =!= 0)
    val test0 = df.where($"doc_id" % 10 === 0)
    val pred = TextOps.langIdNgram(train, test0, "doc_id", "text", "lang", k = 30)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = rows.filter(_._1 % 10 == 0).map(r => r._1 -> r._3).toMap
    assert(pred.keySet == truth.keySet)
    assert(pred == truth, s"misclassified: ${pred.filter(kv => truth(kv._1) != kv._2)}")
    // partition-independence (window ranks + integer distances are pure)
    val again = TextOps.langIdNgram(train.repartition(7), test0.repartition(3),
      "doc_id", "text", "lang", k = 30)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == pred)
    // a doc whose bigrams miss every profile entry still classifies
    // deterministically (all-distance ties -> lowest language code)
    val odd = Seq((1000L, "qq qq qq", "zz")).toDF("doc_id", "text", "lang")
    val p = TextOps.langIdNgram(train, odd, "doc_id", "text", "lang", k = 30)
      .head()
    assert(p.getString(1) == "aa" && p.getLong(2) == 3L * 30L)
  }

  test("gopherRules: each rule fails on its own counterexample; clean doc passes") {
    import spark.implicits._
    val goodBody = ("the quick brown fox jumps over lazy dogs with " * 8).trim
    val fixtures = Seq(
      (1L, goodBody),                                  // all rules pass
      (2L, "the of and with just a few words here"),   // too short
      (3L, ("supercalifragilistic " * 60).trim),       // mean word len > 10
      (4L, (("12345 9876 " * 30).trim)),               // alpha frac 0 + no stops
      (5L, ("aa bb cc dd " * 15).trim)                 // no required stopwords
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRules(fixtures, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    assert(got(1L) == ((true, true, true, true, true)))
    assert(got(2L)._1 == false && got(2L)._5 == false)        // words_ok fails
    assert(got(3L)._2 == false && got(3L)._5 == false)        // len_ok fails
    assert(got(4L)._3 == false && got(4L)._4 == false)        // alpha + stops fail
    assert(got(5L)._4 == false && got(5L)._5 == false)        // stops_ok fails
    // measured values: distinct-stopword count, not total occurrences
    val vals = TextOps.gopherRules(fixtures, "doc_id", "text")
      .where($"doc_id" === 1L).head()
    assert(vals.getLong(4) == 2L, "the + with → distinct gopher stops = 2")
    assert(vals.getLong(1) == 72L)
  }

  test("gopherRepetition: hand-computed fractions, overlap counted once, clean doc passes") {
    import spark.implicits._
    val fixtures = Seq(
      (1L, "a b a b a b"),              // top fractions from overlapping repeats
      (2L, "a a a a a a"),              // duplicate 5-grams overlap -> union, not 2x
      (3L, "v w x y z v w x y z"),      // disjoint repeated 5-gram covers everything
      (4L, (0 until 60).map(i => f"w$i%02d").mkString(" ")) // all distinct: passes
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRepetition(fixtures, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    // doc 1: "a b" x3 of 6 chars -> 1.0; 3-gram tie ("a b a"/"b a b" both x2)
    // breaks to the smaller gram, same fraction; "a b a b" x2 overlapping ->
    // occurrences x chars may exceed the doc (Gopher's own definition)
    assert(got(1L).getDouble(1) == 1.0, "top2")
    assert(got(1L).getDouble(2) == 1.0, "top3")
    assert(got(1L).getDouble(3) == 1.3333, "top4 overlap-inflated")
    assert((4 to 9).forall(i => got(1L).getDouble(i) == 0.0), "no dup 5..10-grams")
    assert(!got(1L).getBoolean(10), "pass false")

    // doc 2: both 5-gram occurrences overlap on positions 1..4 -> the union
    // is the whole 6-word doc, 1.0 (a per-occurrence count would say 10/6)
    assert(got(2L).getDouble(4) == 1.0, "dup5 union")
    assert(got(2L).getDouble(5) == 0.0, "single 6-gram is no duplicate")

    // doc 3: "v w x y z" at positions 0 and 5 -> full coverage; 6..10-grams
    // all distinct; "v w" is the only repeated 2-gram
    assert(got(3L).getDouble(4) == 1.0, "dup5 disjoint")
    assert((5 to 9).forall(i => got(3L).getDouble(i) == 0.0))
    assert(got(3L).getDouble(1) == 0.4, "top2 = 2 x 2 chars / 10")

    // doc 4: 60 distinct 3-char words -> every fraction under its threshold
    assert(got(4L).getDouble(1) == 0.0333 && got(4L).getDouble(4) == 0.0)
    assert(got(4L).getBoolean(10), "clean doc passes")

    // partition independence: windows are per-doc, counts are global
    val again = TextOps.gopherRepetition(fixtures.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(again == got.map { case (k, r) => k -> r.toSeq })
  }

  test("rrfFuse: hand-computed fusion, both-legs dominance, tie-break by id") {
    import spark.implicits._
    // lex ranks: A=1 B=2 C=3 ; vec ranks: B=1 D=2 A=3
    val lex = Seq(("A", 1), ("B", 2), ("C", 3)).toDF("id", "r")
    val vec = Seq(("B", 1), ("D", 2), ("A", 3)).toDF("id", "r")
    val fused = Similarity.rrfFuse(Seq(lex, vec), "id", "r", kConst = 60, k = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    def rr(rs: Int*) = BigDecimal(rs.map(r => 1.0 / (60 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map("A" -> rr(1, 3), "B" -> rr(2, 1), "C" -> rr(3), "D" -> rr(2))
    assert(fused.toMap == want)
    // both-legs docs outrank single-leg docs of comparable rank
    val order = fused.map(_._1).toList
    assert(order.take(2).toSet == Set("A", "B"))
    assert(order.indexOf("C") > order.indexOf("D"), "vec rank 2 beats lex rank 3")
    // equal contributions tie-break by id ascending
    val l2 = Seq(("X", 1), ("Y", 2)).toDF("id", "r")
    val v2 = Seq(("Y", 1), ("X", 2)).toDF("id", "r")
    val t = Similarity.rrfFuse(Seq(l2, v2), "id", "r", k = 2)
      .collect().map(_.getString(0)).toList
    assert(t == List("X", "Y"))
  }

  test("embeddingPairs scale guard refuses corpora above maxRows") {
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, Array.fill(4)(i.toFloat + 1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingPairs(df, "vec_id", "embedding", 0.3, maxRows = 10)
    }
    assert(e.getMessage.contains("embeddingPairsLsh"))
    // under the ceiling it runs
    assert(Dedup.embeddingPairs(df, "vec_id", "embedding", 0.99, maxRows = 20).count() >= 0)
  }

  test("LSH ANN: top-1 neighbor from brute force is recovered for most queries") {
    import spark.implicits._
    val exact = Similarity.allPairsTopK(emb, "vec_id", "embedding", 1)
      .select($"id", $"nbr").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // these embeddings are near-random (max pairwise cos ~0.51), so true
    // top-1 neighbors sit at ~60-70 deg — few planes + many tables needed;
    // clustered real-world embeddings tolerate far more planes
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", dim = 64, k = 5,
        nPlanes = 4, tables = 16)
      .select($"id", $"nbr").collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    val hits = exact.count { case (id, nbr) => lsh.get(id).exists(_.contains(nbr)) }
    val recall = hits.toDouble / exact.size
    assert(recall > 0.6, s"LSH top-1-in-top-5 recall too low: $recall")
  }

  test("IVF ANN index: full probe == exact; partial probe recalls planted clusters") {
    import graft.pipeline.AnnIndex
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    // 8 well-separated cluster prototypes, 40 members each
    val protos = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 320).map { i =>
      val p = protos(i % 8)
      (i.toLong, p.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val idx = tmpDir("ivf")
    AnnIndex.build(df, "vec_id", "embedding", dim, idx, nCenters = 8, lloydIters = 2)
    // idempotent rebuild
    AnnIndex.build(df, "vec_id", "embedding", dim, idx, nCenters = 8, lloydIters = 2)

    def localTopK(q: Array[Float], k: Int, exclude: Long): Seq[Long] = {
      def norm(a: Array[Double]) = { val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n) }
      val qn = norm(q.map(_.toDouble))
      rows.filter(_._1 != exclude).map { case (id, v) =>
        val vn = norm(v.map(_.toDouble))
        var d = 0.0; var j = 0
        while (j < dim) { d += vn(j) * qn(j); j += 1 }
        (id, BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }

    val q0 = rows.head._2
    // full probe degenerates to exact brute force
    val full = AnnIndex.topK(spark, idx, q0, 10, nprobe = 8, excludeId = Some(0L))
      .select($"id").as[Long].collect().toSeq
    assert(full == localTopK(q0, 10, 0L), "nprobe = nCenters must be exact")
    // single-cell probe still recovers the planted cluster (top-10 are all
    // same-cluster members: ids ≡ 0 mod 8)
    val one = AnnIndex.topK(spark, idx, q0, 10, nprobe = 1, excludeId = Some(0L))
      .select($"id").as[Long].collect().toSeq
    val sameCluster = one.count(_ % 8 == 0)
    assert(sameCluster >= 9, s"1-probe should stay in-cluster, got $sameCluster/10")
  }

  test("decontaminate: planted n-gram overlap drops exactly the leaking docs") {
    import spark.implicits._
    val evalDf = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")
    val train = Seq(
      (1L, "alpha beta gamma here"),      // shares "alpha beta gamma"
      (2L, "x y alpha beta z"),           // shares only a 2-gram, no 3-gram
      (3L, "beta gamma delta end start"), // shares "beta gamma delta"
      (4L, "completely different words"), // clean
      (5L, "al pha beta gam ma")          // clean at w=3
    ).toDF("id", "text")
    val kept = Dedup.decontaminate(train, "id", "text", evalDf, "text", w = 3)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L), s"kept $kept")
    // maxShared tolerance: doc 1 and 3 each share ONE distinct 3-shingle
    val tolerant = Dedup.decontaminate(train, "id", "text", evalDf, "text",
      w = 3, maxShared = 1)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(tolerant == Set(1L, 2L, 3L, 4L, 5L), s"tolerant kept $tolerant")
  }

  test("streaming dedup: duplicated delivery == single delivery == batch truth") {
    import spark.implicits._
    val events = s"$sfDir/events.parquet"
    def run(deliveries: Int): Seq[(String, Long, Double)] = {
      val ckpt = tmpDir(s"dedup-ckpt-$deliveries")
      Streaming.dedupedEventCounts(spark, events, "event_id", ckpt, deliveries)
        .orderBy($"event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val once = run(1)
    val twice = run(2)
    val thrice = run(3)
    assert(once == twice && twice == thrice,
      "redelivered events leaked through the streaming dedup")
    val batch = spark.read.parquet(events)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(sum($"value".cast("decimal(30,6)")).cast("double"), 4).as("s"))
      .orderBy($"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(once == batch, "streaming dedup counts != batch truth")
  }

  test("scalar quantization: byte storage, bounded error, rescore == exact") {
    import graft.pipeline.Quantize
    import spark.implicits._
    val (lo, hi) = Quantize.fit(emb, "embedding")
    assert(hi > lo)
    val alpha = (hi - lo) / 127.0

    // persisted form is 1 byte/component; reconstruction error <= alpha/2
    val enc = emb.select($"vec_id", Quantize.encode($"embedding", lo, hi).as("q"),
      $"embedding")
    assert(enc.schema("q").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
    val maxErr = enc
      .select(array_max(zip_with(
        Quantize.dequantize($"q", lo, hi),
        transform($"embedding", x => x.cast("double")),
        (a, b) => abs(a - b))).as("e"))
      .agg(max($"e")).head().getDouble(0)
    assert(maxErr <= alpha / 2 + 1e-12, s"max reconstruction error $maxErr > alpha/2 ${alpha / 2}")

    // two-stage quantized search with a modest rescore pool equals the
    // exact brute force (ids and sims)
    val qv = emb.where($"vec_id" === 0).select($"embedding").as[Array[Float]].head()
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 10,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rescored = Quantize.topKRescored(emb, "vec_id", "embedding", 0L, 10, c = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rescored == exact, "rescored quantized top-10 != exact top-10")

    // official recall row shape + floor
    val r = Quantize.recall(emb, "vec_id", "embedding", 0L, 10, recallFloor = 0.8)
      .head()
    assert(r.getLong(1) == 10 && r.getDouble(2) >= 0.8)
  }

  test("multimodal: binary plumbing + stub decode matches formula") {
    val meta = Multimodal.extractMeta(spark,
      Multimodal.withBinary(docs, "text", "payload"), "doc_id", "payload").collect()
    val lens = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).length).toMap
    meta.foreach { m =>
      val n = lens(m.id)
      assert(m.n_bytes == n && m.width == n % 640 && m.height == (n * 7) % 480 &&
        m.frames == n % 16)
    }
  }

  test("percolate handles combined-field / feature / match-none stored queries") {
    import graft.search._
    // a percolated doc has no fields or feature postings: the combined
    // union is the token stream (term presence); a feature term is never
    // present; MatchNone never fires
    val stored = Seq(
      "cf"   -> (CombinedFieldQuery("spark", Seq("title" -> 1.0)): Query),
      "feat" -> (FeatureQuery("pagerank", FeatureFunction.Linear): Query),
      "none" -> (MatchNoneQuery: Query),
      "mix"  -> (BoolQuery(Seq(
        (CombinedFieldQuery("data", Seq("body" -> 1.0)): Query) -> (Occur.Should: Occur),
        TermQuery("vector") -> (Occur.Should: Occur))): Query))
    val got = graft.streaming.Streaming.percolate(docs, "doc_id", "text", stored)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSet))
    // cf: a percolated doc has no fields, so the combined-field union IS
    // the token stream — the match condition is BARE-term presence; a
    // feature term is FieldKey-encoded and can never appear in a plain
    // token stream; MatchNone never fires
    val featTerm = graft.index.FeatureIndexer.featureTerm("pagerank")
    val expected = (for {
      (id, toks) <- texts
      (qid, ok) <- Seq(
        "cf" -> toks.contains("spark"),
        "feat" -> toks.contains(featTerm),
        "none" -> false,
        "mix" -> (toks.contains("data") || toks.contains("vector")))
      if ok
    } yield (qid, id)).toSet
    assert(got == expected)
    assert(expected.exists(_._1 == "cf"), "cf should fire on bare-term presence")
    assert(!expected.exists(_._1 == "feat"))
    assert(!expected.exists(_._1 == "none"))
  }

  test("percolate (static) == per-doc predicate evaluation") {
    val stored = Seq(
      "q1" -> Query.parse("spark AND data"),
      "q2" -> Query.parse("vector OR merge"),
      "q3" -> Query.parse("customer NOT batch"))
    val got = Streaming.percolate(docs, "doc_id", "text", stored)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSet))
    val expected = (for {
      (id, toks) <- texts
      (qid, q) <- stored
      if evalQ(q, toks)
    } yield (qid, id)).toSet
    assert(got == expected)
  }

  private def evalQ(q: Query, toks: Set[String]): Boolean = q match {
    case graft.search.TermQuery(t) => toks.contains(t)
    case graft.search.BoostQuery(q2, _) => evalQ(q2, toks)
    case sq: graft.search.SynonymQuery => sq.synonyms.exists(toks.contains)
    case bq: graft.search.BoolQuery =>
      val shouldOk =
        if (bq.should.isEmpty) true
        else if (bq.minimumShouldMatch > 1)
          bq.should.count(evalQ(_, toks)) >= bq.minimumShouldMatch
        else bq.should.exists(evalQ(_, toks))
      bq.must.forall(evalQ(_, toks)) && bq.filter.forall(evalQ(_, toks)) &&
        shouldOk && !bq.mustNot.exists(evalQ(_, toks))
  }

  test("percolation == per-doc evalQuery on a large query set") {
    import graft.search.{BoolQuery, BoostQuery, Occur, SynonymQuery, TermQuery}
    val words = Seq("spark", "data", "query", "court", "law", "state", "vector",
      "merge", "batch", "customer", "stream", "table", "web", "time")
    // 90 queries of varied shape
    val stored: Seq[(String, Query)] = (0 until 90).map { i =>
      val a = words(i % words.length); val b = words((i + 3) % words.length)
      val c = words((i + 7) % words.length)
      val q: Query = i % 6 match {
        case 0 => TermQuery(a)
        case 1 => Query.and(a, b)
        case 2 => Query.or(a, b, c)
        case 3 => BoolQuery(Seq(TermQuery(a) -> Occur.Must, TermQuery(b) -> Occur.MustNot))
        case 4 => BoolQuery(Seq(a, b, c).map(t => TermQuery(t) -> (Occur.Should: Occur)),
          minimumShouldMatch = 2)
        case 5 => BoolQuery(Seq(BoostQuery(TermQuery(a), 2.0) -> Occur.Should,
          SynonymQuery(Seq(b, c)) -> Occur.Should))
      }
      s"q$i" -> q
    }
    val got = Streaming.percolate(docs, "doc_id", "text", stored)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = (for {
      r <- docs.select("doc_id", "text").collect()
      (qid, q) <- stored
      if Streaming.evalQuery(q, r.getString(1).split(" ").toSet)
    } yield (qid, r.getLong(0))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("taxonomy rollup counts every prefix of ragged-depth paths") {
    import spark.implicits._
    val df = Seq(Seq("a"), Seq("a", "x"), Seq("a", "x", "1"),
      Seq("b", "y"), Seq("a", "x", "2")).toDF("path")
    val got = graft.search.Facets.taxonomyRollup(df, col("path")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 4, "a/x" -> 3, "a/x/1" -> 1, "a/x/2" -> 1,
      "b" -> 1, "b/y" -> 1))
  }

  test("percolator prunes OR-only stored queries via disjunct trigger terms") {
    import graft.search.TermQuery
    // 1000 OR queries; most reference vocabulary absent from the corpus, so
    // with disjunct-term indexing only a small fraction triggers per doc
    val present = Seq("data", "query", "court", "law")
    val stored: Seq[(String, Query)] = (0 until 1000).map { i =>
      val q: Query =
        if (i % 50 == 0) Query.or(present(i % present.length), s"zz_rare_$i")
        else Query.or(s"zz_absent_${i}_a", s"zz_absent_${i}_b")
      s"q$i" -> q
    }
    val counter = spark.sparkContext.longAccumulator("percolator-evals")
    val got = Streaming.percolate(docs, "doc_id", "text", stored, Some(counter))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val nDocs = docs.count()
    // correctness: equals per-doc brute evaluation
    val toksByDoc = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet)
    val expected = (for {
      (id, toks) <- toksByDoc
      (qid, q) <- stored
      if Streaming.evalQuery(q, toks)
    } yield (qid, id)).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture should produce some matches")
    // pruning: evaluations << nDocs * |queries| (OR-only queries no longer
    // run against every doc)
    assert(counter.value < nDocs * stored.size / 20,
      s"per-doc evaluations not pruned: ${counter.value} of ${nDocs * stored.size}")
  }

  test("percolator prunes 10k multi-term stored queries by dictionary range") {
    import graft.search.{BoolQuery, ConstScoreQuery, MultiTerm,
      MultiTermDictQuery, Occur, TermQuery}
    // 10k stored prefix/range/wildcard queries over a mostly-absent
    // vocabulary: range triggers must keep evaluations near the true match
    // count, nowhere near docs x queries
    val stored: Seq[(String, Query)] = (0 until 10000).map { i =>
      val q: Query = i % 4 match {
        case 0 => ConstScoreQuery(MultiTermDictQuery(
          MultiTerm.Prefix(if (i % 500 == 0) "dat" else f"zzq$i%05d")), 1.0)
        case 1 => ConstScoreQuery(MultiTermDictQuery(
          MultiTerm.Range(f"zza$i%05d", f"zza$i%05dx", true, false)), 1.0)
        case 2 => ConstScoreQuery(MultiTermDictQuery(
          MultiTerm.Wildcard(if (i % 500 == 1) "cour*" else f"zzw$i%05d*")), 1.0)
        case 3 => BoolQuery(Seq(
          MultiTermDictQuery(MultiTerm.Prefix(f"zzp$i%05d")) -> Occur.Must,
          TermQuery("data") -> Occur.Must))
      }
      s"q$i" -> q
    }
    val counter = spark.sparkContext.longAccumulator("percolator-mtd-evals")
    val got = Streaming.percolate(docs, "doc_id", "text", stored, Some(counter))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val toksByDoc = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet)
    val expected = (for {
      (id, toks) <- toksByDoc
      (qid, q) <- stored
      if Streaming.evalQuery(q, toks)
    } yield (qid, id)).toSet
    assert(got == expected)
    assert(got.nonEmpty, "the dat/cour* seeds should match")
    val nDocs = toksByDoc.length
    // evaluations << docs x queries: the zz-prefixed 9,9xx queries never
    // evaluate (their range triggers miss every doc's token set — including
    // the conjunctive %4==3 family, whose required dict clause's range is
    // its cover); only the seeded "dat"/"cour*" prefixes remain
    assert(counter.value < nDocs.toLong * stored.size / 100,
      s"range triggers not pruning: ${counter.value} of ${nDocs.toLong * stored.size}")
  }

  test("best-passage snippet == brute-force window argmax") {
    val w = 7
    val terms = Set("data", "query")
    val got = docs.select(col("doc_id"),
        TextOps.bestSnippet(col("text"), terms.toSeq, w).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val id = r.getLong(0)
      val toks = r.getString(1).split(" ")
      val nStarts = math.max(1, toks.length - w + 1)
      val counts = (0 until nStarts).map(i =>
        toks.slice(i, math.min(i + w, toks.length)).count(terms.contains))
      val expected =
        if (counts.max == 0) None
        else Some(toks.slice(counts.indexOf(counts.max),
          math.min(counts.indexOf(counts.max) + w, toks.length)).mkString(" "))
      assert(got(id) == expected, s"doc $id")
    }
  }

  test("driver flagship entry: rows > 0 at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("quality + langid emit sane ranges") {
    val q = TextOps.quality(docs, "doc_id", "text").collect()
    q.foreach { r =>
      assert(r.getDouble(1) > 0 && r.getDouble(2) >= 0 && r.getDouble(2) <= 1 &&
        r.getDouble(3) > 0 && r.getDouble(3) <= 1)
    }
    val l = TextOps.langId(docs, "doc_id", "text").collect()
    assert(l.map(_.getString(1)).toSet.subsetOf(Set("en", "und")))
  }

  test("url canonicalization: case, ports, slashes, params, fragments") {
    import spark.implicits._
    val cases = Seq(
      // scheme/host case folding; path case preserved
      "HTTP://WWW.Example.COM/A/B" -> "http://www.example.com/A/B",
      // default ports stripped per scheme; explicit others survive
      "http://a.com:80/x" -> "http://a.com/x",
      "https://a.com:443/x" -> "https://a.com/x",
      "http://a.com:443/x" -> "http://a.com:443/x",
      "https://a.com:8080/x" -> "https://a.com:8080/x",
      // empty path -> /; trailing slashes stripped otherwise
      "https://a.com" -> "https://a.com/",
      "https://a.com/" -> "https://a.com/",
      "https://a.com/x///" -> "https://a.com/x",
      // tracking params dropped, survivors sorted, empties dropped
      "https://a.com/x?utm_source=s&b=2&a=1" -> "https://a.com/x?a=1&b=2",
      "https://a.com/x?b=2&a=1&gclid=g&fbclid=f" -> "https://a.com/x?a=1&b=2",
      "https://a.com/x?utm_campaign=c" -> "https://a.com/x",
      "https://a.com/x?&&a=1" -> "https://a.com/x?a=1",
      // fragment dropped, with and without query
      "https://a.com/x#frag" -> "https://a.com/x",
      "https://a.com/x?a=1#frag" -> "https://a.com/x?a=1",
      // query-order insensitivity
      "https://a.com/x?b=2&a=1" -> "https://a.com/x?a=1&b=2")
    val got = cases.map(_._1).toDF("url")
      .select(graft.pipeline.UrlOps.canonicalUrl(col("url")))
      .collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) => assert(g == want) }
  }

  test("lineDedup drops repeated boilerplate lines, keeps body in order") {
    import spark.implicits._
    import java.security.MessageDigest
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // line length 3, boilerplate shared by 3 docs, threshold 2
    val boiler = "aa bb cc"
    val pages = Seq(
      (1L, s"$boiler d1 e1 f1 g1 h1 i1"),
      (2L, s"$boiler d2 e2 f2"),
      (3L, s"$boiler d3 e3 f3"),
      (4L, "xx yy zz d4 e4 f4")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(pages, "doc_id", "text",
        lineLen = 3, maxDocFreq = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, md5hex("d1 e1 f1 g1 h1 i1")),
      (2L, 1L, 1L, md5hex("d2 e2 f2")),
      (3L, 1L, 1L, md5hex("d3 e3 f3")),
      (4L, 2L, 0L, md5hex("xx yy zz d4 e4 f4"))))
  }

  test("substringDedup: planted repeated span covered exactly; residue in order") {
    import spark.implicits._
    import java.security.MessageDigest
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // w=3: "p q r s" repeats in docs 1 and 2 (starts offset differently),
    // so its two 3-windows cover exactly those 4 tokens in both docs;
    // doc 3 shares no 3-window; doc 4 repeats a window WITHIN itself;
    // doc 5 is too short for any window
    val pages = Seq(
      (1L, "p q r s a1 b1 c1"),
      (2L, "x2 p q r s y2"),
      (3L, "p q z3 r s w3"),
      (4L, "m n o t m n o"),
      (5L, "u v")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(pages, "doc_id", "text", w = 3)
      .orderBy("id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 7L, 4L, md5hex("a1 b1 c1")),
      (2L, 6L, 4L, md5hex("x2 y2")),
      (3L, 6L, 0L, md5hex("p q z3 r s w3")),
      // "m n o" occurs twice within doc 4 -> both occurrences drop
      (4L, 7L, 6L, md5hex("t")),
      (5L, 2L, 0L, md5hex("u v"))))
  }

  test("substringDedup: fully duplicated doc collapses to md5(empty)") {
    import spark.implicits._
    import java.security.MessageDigest
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pages = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "f g h i j")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(pages, "doc_id", "text", w = 5)
      .orderBy("id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 5L, md5hex("")),
      (2L, 5L, 5L, md5hex("")),
      (3L, 5L, 0L, md5hex("f g h i j"))))
  }

  test("lineDedup: short tail lines chunk correctly; all-dropped doc stays") {
    import spark.implicits._
    // two docs that are pure boilerplate (every line repeats), one with a
    // 1-token tail line
    val pages = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb cc dd"),
      (3L, "aa bb cc dd"),
      (4L, "uu vv ww x")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(pages, "doc_id", "text",
        lineLen = 3, maxDocFreq = 2)
      .orderBy("doc_id").collect()
    // docs 1-3: lines "aa bb cc" (df=3, dropped) and "dd" (df=3, dropped)
    assert(got.length == 4)
    val d1 = got(0)
    assert(d1.getLong(1) == 0L && d1.getLong(2) == 2L)
    val d4 = got(3)
    assert(d4.getLong(1) == 2L && d4.getLong(2) == 0L)
  }

  test("latestCapture keeps max-ts capture per canonical url") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.com/x?b=2&a=1", 10L, 1L),
      ("https://a.com/x?a=1&b=2&utm_source=s", 30L, 2L),
      ("HTTPS://A.COM/x/?a=1&b=2#f", 20L, 3L),
      ("https://a.com/y", 5L, 4L)).toDF("url", "warc_ts", "id")
    val got = graft.pipeline.UrlOps
      .latestCapture(pages, "url", "warc_ts", "id")
      .orderBy("curl")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("https://a.com/x?a=1&b=2", 2L, 3L),
      ("https://a.com/y", 4L, 1L)))
  }

  test("domainStats: registrable-domain rollup with exact-sum means") {
    import spark.implicits._
    val pages = Seq(
      // two hosts, three captures of two canonical urls on example.com
      ("https://www.a.example.com/p?utm_source=s", 10L, "en"),
      ("https://www.a.example.com/p", 20L, "en"),
      ("HTTP://b.example.com:80/q/", 30L, "de"),
      // single-label host falls back to itself
      ("https://localhost/x", 40L, "en"),
      ("https://other.org/y", 50L, "fr")).toDF("url", "n_chars", "lang")
    val got = graft.pipeline.UrlOps
      .domainStats(pages, "url", "n_chars", "lang")
      .orderBy("domain")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("example.com", 3L, 2L, 2L, 2L, 20.0),
      ("localhost", 1L, 1L, 1L, 1L, 40.0),
      ("other.org", 1L, 1L, 1L, 1L, 50.0)))
    // host/domain column helpers
    val hd = Seq("https://www.x.co.uk:8080/p").toDF("u")
      .select(graft.pipeline.UrlOps.hostOf(col("u")).as("h"))
      .select(col("h"), graft.pipeline.UrlOps.registrableDomain(col("h")))
      .as[(String, String)].head()
    assert(hd == ("www.x.co.uk", "co.uk")) // PSL simplification, documented
  }

  test("PublicSuffix: PSL registrable domains (multi-label, wildcard, exception)") {
    import spark.implicits._
    val hosts = Seq(
      "www.site.co.uk",      // co.uk rule -> site.co.uk (never co.uk)
      "a.b.com.au",          // com.au rule -> b.com.au
      "deep.www.site.co.uk", // still site.co.uk
      "foo.example.com",     // com rule -> example.com
      "x.github.io",         // private-registry rule -> x.github.io
      "pages.x.github.io",   // -> x.github.io
      "a.wild.ck",           // *.ck wildcard: wild.ck is a public suffix
      "www.ck",              // !www.ck exception: ck is the suffix -> www.ck
      "b.www.ck",            // exception: registrable is www.ck
      "co.uk",               // host IS a public suffix -> maps to itself
      "localhost",           // no dot, no rule: default '*' -> itself
      "x.unknowntld"         // unlisted TLD: default '*' -> x.unknowntld
    ).toDF("host")
    val got = graft.pipeline.PublicSuffix.registrableDomainTable(hosts)
      .as[(String, String)].collect().toMap
    assert(got("www.site.co.uk") == "site.co.uk")
    assert(got("a.b.com.au") == "b.com.au")
    assert(got("deep.www.site.co.uk") == "site.co.uk")
    assert(got("foo.example.com") == "example.com")
    assert(got("x.github.io") == "x.github.io")
    assert(got("pages.x.github.io") == "x.github.io")
    assert(got("a.wild.ck") == "a.wild.ck") // wildcard: *.ck, ps = wild.ck
    assert(got("www.ck") == "www.ck")       // exception shortens to ck + 1
    assert(got("b.www.ck") == "www.ck")
    assert(got("co.uk") == "co.uk")
    assert(got("localhost") == "localhost")
    assert(got("x.unknowntld") == "x.unknowntld")
    // domainStats' default path groups by PSL semantics now
    val pages = Seq(
      (1L, "https://www.shop.co.uk/a", "en", 10L),
      (2L, "https://blog.shop.co.uk/b", "en", 20L),
      (3L, "https://other.co.uk/c", "en", 30L)).toDF("id", "u", "lang", "n")
    val doms = graft.pipeline.UrlOps.domainStats(pages, "u", "n", "lang")
      .select($"domain", $"pages").as[(String, Long)].collect().toMap
    assert(doms == Map("shop.co.uk" -> 2L, "other.co.uk" -> 1L))
  }

  test("capPerKey: small groups pass whole, big groups rate-cap deterministically") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, if (i < 30) "small" else "big"))
      .toDF("id", "key")
    val kept = graft.pipeline.Sampling.capPerKey(df, "key", "id", 100L)
      .select($"id").as[Long].collect().toSet
    // the small group survives intact
    assert((0L until 30L).forall(kept.contains))
    // the big group (970 rows) downsamples to ~100 (rate cap, not exact)
    val bigKept = kept.count(_ >= 30L)
    assert(bigKept > 60 && bigKept < 140, s"bigKept=$bigKept")
    // deterministic and partition-independent
    val again = graft.pipeline.Sampling
      .capPerKey(df.repartition(7), "key", "id", 100L)
      .select($"id").as[Long].collect().toSet
    assert(again == kept)
  }

  test("anchorPairs: malformed link drops alone, never misaligns the rest") {
    import spark.implicits._
    val pages = Seq(
      // good, malformed (unterminated), good — the bad one must not shift
      // the third link's pairing
      (1L, "<p>x</p><a href=\"https://a.com/1\">one</a>" +
        "<a href=\"https://bad.com/x\">oops<em>no close</em>" +
        "<a href=\"https://b.com/2\" rel=\"nofollow\">two</a>"),
      (2L, "<body>no links at all</body>")).toDF("id", "html")
    val got = graft.pipeline.UrlOps.anchorPairs(pages, "html")
      .select($"id", $"href", $"anchor")
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, "https://a.com/1", "one"),
      (1L, "https://b.com/2", "two")))
  }

  test("anchorTexts: canonical-target rollup with sorted distinct anchors") {
    import spark.implicits._
    val pages = Seq(
      // three spellings of the same target, two distinct anchor texts
      (1L, "<a href=\"HTTPS://A.com:443/p/\">zebra</a>"),
      (2L, "<a href=\"https://a.com/p?utm_source=s\">apple</a>" +
        "<a href=\"https://a.com/p\">zebra</a>"),
      (3L, "<a href=\"https://other.org/q\">only</a>")).toDF("id", "html")
    val got = graft.pipeline.UrlOps.anchorTexts(pages, "html", "id")
      .orderBy("target")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      ("https://a.com/p", 3L, 2L, "apple|zebra"),
      ("https://other.org/q", 1L, 1L, "only")))
  }

  test("pageRank: DataFrame fixed-point == driver brute force " +
    "(dangling node, hub, parallel edges)") {
    import spark.implicits._
    val n = 12
    // node 0 dangling, node 1 a hub, 3->5 a parallel edge, 7-8-9 a cycle
    val es = Seq((1, 2), (2, 1), (3, 5), (3, 5), (4, 1), (5, 1), (6, 1),
      (7, 8), (8, 9), (9, 7), (10, 11), (11, 10), (2, 0), (4, 0))
    val got = graft.pipeline.WebGraph
      .pageRank((0 until n).toDF("id"), "id", es.toDF("src", "dst"),
        "src", "dst", iters = 7, checkpointEvery = 3)
      .as[(Long, Double)].collect().toMap
    var pr = Array.fill(n)(1.0 / n)
    val out = es.groupBy(_._1).view.mapValues(_.size).toMap
    for (_ <- 1 to 7) {
      val next = Array.fill(n)((1.0 - 0.85) / n)
      val dang = (0 until n).filterNot(out.contains).map(pr).sum
      for ((s2, d2) <- es) next(d2) += 0.85 * pr(s2) / out(s2)
      for (v <- 0 until n) next(v) += 0.85 * dang / n
      pr = next
    }
    for (v <- 0 until n)
      assert(math.abs(got(v.toLong) - pr(v)) < 1e-9, s"node $v")
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // probability mass conserved
    assert(got(1L) > got(2L)) // the hub outranks its satellites
  }

  test("hits: DataFrame iterations == driver brute force (L2-normalized)") {
    import spark.implicits._
    val n = 10
    val es = Seq((1, 2), (2, 1), (3, 5), (3, 5), (4, 1), (5, 1), (6, 1),
      (7, 8), (8, 9), (9, 7))
    val got = graft.pipeline.WebGraph
      .hits((0 until n).toDF("id"), "id", es.toDF("src", "dst"),
        "src", "dst", iters = 4, checkpointEvery = 2)
      .as[(Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    var auth = Array.fill(n)(1.0)
    var hub = Array.fill(n)(1.0)
    for (_ <- 1 to 4) {
      val a = Array.fill(n)(0.0)
      for ((s2, d2) <- es) a(d2) += hub(s2)
      val an = math.sqrt(a.map(x => x * x).sum)
      for (v <- 0 until n) a(v) /= an
      val h = Array.fill(n)(0.0)
      for ((s2, d2) <- es) h(s2) += a(d2)
      val hn = math.sqrt(h.map(x => x * x).sum)
      for (v <- 0 until n) h(v) /= hn
      auth = a; hub = h
    }
    for (v <- 0 until n) {
      assert(math.abs(got(v.toLong)._1 - auth(v)) < 1e-9, s"auth $v")
      assert(math.abs(got(v.toLong)._2 - hub(v)) < 1e-9, s"hub $v")
    }
    assert(got(1L)._1 > got(3L)._1) // the in-link magnet is the authority
  }

  test("robots noindex: token-boundary match, either attribute order") {
    import spark.implicits._
    val pages = Seq(
      (1L, "<meta name=\"robots\" content=\"noindex,follow\">"),
      (2L, "<meta content=\"noarchive, noindex\" name=\"robots\">"),
      (3L, "<meta name=\"robots\" content=\"index,nofollow\">"), // survives
      (4L, "<meta name=\"robots\" content=\"index\">"),
      (5L, "no meta at all")).toDF("id", "html")
    val kept = graft.pipeline.UrlOps.dropNoindex(pages, "html")
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L))
  }

  test("anchorPairs dropNofollow: nofollow links carry no endorsement") {
    import spark.implicits._
    val pages = Seq(
      (1L, "<a href=\"https://a.com/1\">one</a>" +
        "<a href=\"https://b.com/2\" rel=\"nofollow\">two</a>"))
      .toDF("id", "html")
    val all = graft.pipeline.UrlOps.anchorPairs(pages, "html")
      .select($"anchor").as[String].collect().toSet
    val followed = graft.pipeline.UrlOps
      .anchorPairs(pages, "html", dropNofollow = true)
      .select($"anchor").as[String].collect().toSet
    assert(all == Set("one", "two") && followed == Set("one"))
  }

  test("dropNofollow: multi-token rel drops; anchor-text literal survives") {
    import spark.implicits._
    val pages = Seq(
      // multi-token rel values containing nofollow: both must drop
      (1L, "<a href=\"https://a.com/1\" rel=\"ugc nofollow\">multi</a>" +
        "<a href=\"https://a.com/2\" rel=\"nofollow noopener\">multi2</a>" +
        // substring of another token: must NOT drop
        "<a href=\"https://a.com/3\" rel=\"nonofollowish\">oddrel</a>" +
        // the literal in the anchor TEXT, not the tag: must NOT drop
        "<a href=\"https://a.com/4\">about rel=\"nofollow\" semantics</a>"))
      .toDF("id", "html")
    val followed = graft.pipeline.UrlOps
      .anchorPairs(pages, "html", dropNofollow = true)
      .select($"href").as[String].collect().toSet
    assert(followed == Set("https://a.com/3", "https://a.com/4"),
      s"got $followed")
  }

  test("foldCanonical: declared target wins, spelling canonicalized") {
    import spark.implicits._
    val pages = Seq(
      (1L, "<link rel=\"canonical\" href=\"HTTPS://A.com:443/p/\">",
        "https://a.com/p?print=1"),
      (2L, "no declaration", "https://b.com/q/")).toDF("id", "html", "url")
    val got = graft.pipeline.UrlOps.foldCanonical(pages, "html", "url")
      .select($"id", $"eff_url").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "https://a.com/p", 2L -> "https://b.com/q"))
  }

  test("recrawl diff drives the NRT update: changed re-indexed, gone " +
    "tombstoned, unchanged untouched") {
    import spark.implicits._
    import graft.index.{Deletes, IndexBuilder, LiveSet}
    // snapshot 1 indexed as the live set
    val pages1 = Seq(
      ("https://a.com/p/0", "alpha data one"),
      ("https://a.com/p/1", "beta query two"),
      ("https://a.com/p/2", "gamma table three"),
      ("https://a.com/p/3", "delta stream four"))
    val dir = tmpDir("recrawl-idx")
    val cfg = IndexConfig(bucketShift = 9, numPostingPartitions = 2,
      numDocPartitions = 1)
    IndexBuilder.buildSegment(spark.createDataset(pages1), s"$dir/seg0", cfg)
    LiveSet.add(dir, Seq("seg0"))
    // snapshot 2: p1 changed (messy recrawl spelling), p2 gone, p4 new
    val pages2 = Seq(
      ("https://a.com/p/0", "alpha data one"),
      ("HTTPS://A.com:443/p/1/", "zeta query two"),
      ("https://a.com/p/3", "delta stream four"),
      ("https://a.com/p/4", "epsilon vector five"))
    val prev = pages1.toDF("url", "text").withColumn("fp", md5($"text"))
    val next = pages2.toDF("url", "text").withColumn("fp", md5($"text"))
    val diff = graft.pipeline.UrlOps.recrawlDiff(
      prev.select($"url", $"fp"), next.select($"url", $"fp"), "url", "fp")
    // gone + changed tombstone the old docs (stored urls are canonical)
    val stale = diff.where($"status".isin("gone", "changed"))
      .select($"curl").as[String].collect().toSeq
    LiveSet.manifests(dir).foreach(m =>
      Deletes.deleteByUrls(spark, m.dir, stale))
    // new + changed re-index as a fresh NRT segment under canonical urls
    val fresh = next
      .withColumn("curl", graft.pipeline.UrlOps.canonicalUrl($"url"))
      .join(diff.where($"status".isin("new", "changed")).select($"curl"),
        "curl")
      .select($"curl", $"text").as[(String, String)]
    IndexBuilder.buildSegment(fresh, s"$dir/seg1", cfg)
    LiveSet.add(dir, Seq("seg1"))
    val se = IndexSearcher.open(spark, dir)
    assert(se.count(Query.parse("beta")) == 0) // changed page's old body
    assert(se.count(Query.parse("zeta")) == 1) // changed page's new body
    assert(se.count(Query.parse("gamma")) == 0) // gone page
    assert(se.count(Query.parse("epsilon")) == 1) // new page
    assert(se.count(Query.parse("alpha")) == 1) // unchanged, exactly once
    assert(se.count(Query.parse("delta")) == 1)
  }

  test("recrawlDiff: canonical join classifies new/gone/changed/unchanged") {
    import spark.implicits._
    val prev = Seq(("HTTPS://A.com:443/p/1/", "f1"),
      ("https://a.com/p/2", "f2"), ("https://a.com/p/3", "f3"))
      .toDF("url", "fp")
    val next = Seq(("https://a.com/p/1", "f1"),
      ("https://a.com/p/2", "f2x"), ("https://a.com/p/4", "f4"))
      .toDF("url", "fp")
    val got = graft.pipeline.UrlOps.recrawlDiff(prev, next, "url", "fp")
      .select("curl", "status").as[(String, String)].collect().toMap
    assert(got == Map(
      "https://a.com/p/1" -> "unchanged",
      "https://a.com/p/2" -> "changed",
      "https://a.com/p/3" -> "gone",
      "https://a.com/p/4" -> "new"))
  }

  test("binary quantization: packed code == per-component signs; hamming == brute force") {
    import spark.implicits._
    import graft.pipeline.Quantize
    val raw = Seq(
      0L -> Array(0.9f, -0.5f, 0.1f, -0.1f),
      1L -> Array(0.8f, 0.5f, -0.3f, -0.2f),
      2L -> Array(-0.9f, -0.6f, 0.4f, 0.3f),
      3L -> Array(0.7f, -0.4f, 0.2f, -0.3f),
      4L -> Array(-0.8f, 0.6f, -0.4f, 0.2f))
    val vecs = raw.toDF("vec_id", "embedding")
    val cent = Quantize.bqCentroid(vecs, "embedding")
    raw.head._2.indices.foreach { i =>
      val xs = raw.map(_._2(i).toDouble)
      assert(cent(i) == (xs.min + xs.max) / 2.0, s"midrange at $i")
    }
    def bits(v: Array[Float]): Array[Boolean] =
      v.zip(cent).map { case (x, m) => x.toDouble >= m }
    val codes = vecs
      .select($"vec_id", Quantize.bqCode($"embedding", cent).as("code"))
      .as[(Long, Long)].collect().toMap
    for ((id, v) <- raw; (b, i) <- bits(v).zipWithIndex)
      assert(((codes(id) >> i) & 1L) == (if (b) 1L else 0L), s"bit $i of $id")
    // hamming ranking == per-component disagreement brute force
    val got = Quantize.bqTopK(vecs, "vec_id", "embedding", 0L, 4)
      .as[(Long, Int)].collect().toSeq
    val q = bits(raw.head._2)
    val bf = raw.tail
      .map { case (id, v) => (id, bits(v).zip(q).count(p => p._1 != p._2)) }
      .sortBy { case (id, h) => (h, id) }
    assert(got == bf)
    // rescored top-k at full pool == exact cosine top-k
    val rescored = Quantize.bqTopKRescored(vecs, "vec_id", "embedding", 0L, 3, 4)
      .select($"vec_id").as[Long].collect().toSeq
    val exact = graft.pipeline.Similarity
      .bruteForceTopK(vecs, "vec_id", "embedding", raw.head._2, 3, excludeId = Some(0L))
      .select($"vec_id").as[Long].collect().toSeq
    assert(rescored == exact)
  }

  test("intervalJoinPairs: stream-stream interval join == batch truth") {
    import spark.implicits._
    val dir = tmpDir("ivjoin")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    Seq(
      (1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(30), 1L, "purchase", 1.0, "{}"), // within the hour
      (3L, ts(90), 1L, "purchase", 1.0, "{}"), // outside the hour
      (4L, ts(10), 2L, "view", 0.0, "{}"),
      (5L, ts(20), 2L, "purchase", 1.0, "{}"),
      (6L, ts(5), 3L, "purchase", 1.0, "{}")   // purchase with no prior view
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = Streaming.intervalJoinPairs(spark, s"$dir/events.parquet",
        "view", "purchase", "1 hour", tmpDir("ivjoin-ckpt"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (4L, 5L, 2L)))
  }

  test("resolveRedirects: pointer doubling == driver brute force; cycles unresolved") {
    import spark.implicits._
    // chains of several lengths, a 2-cycle, a 3-cycle, and a chain feeding
    // into a cycle — the map is a function (one dst per src)
    val edges = Seq(
      1L -> 2L, 2L -> 3L, 3L -> 4L,              // 3-chain ending at 4
      10L -> 11L,                                // 1-hop
      20L -> 21L, 21L -> 20L,                    // 2-cycle
      30L -> 31L, 31L -> 32L, 32L -> 30L,        // 3-cycle
      40L -> 20L                                 // chain into the 2-cycle
    )
    val got = graft.pipeline.UrlOps
      .resolveRedirects(edges.toDF("src", "dst"), "src", "dst", maxHops = 16)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // driver brute force: follow exactly min(chainLen, 16) steps
    val m = edges.toMap
    edges.map(_._1).foreach { s =>
      var cur = s; var hops = 0L
      while (hops < 16 && m.contains(cur)) { cur = m(cur); hops += 1 }
      assert(got(s) == ((cur, hops, !m.contains(cur))), s"src $s")
    }
    assert(got(1L) == ((4L, 3L, true)))
    assert(!got(20L)._3 && got(20L)._2 == 16L, "2-cycle saturates at maxHops")
    assert(!got(40L)._3, "chain into a cycle stays unresolved")
  }

  test("robotsDecisions: longest match wins, tie -> allow, no match -> allow") {
    import spark.implicits._
    val rules = Seq(
      "/admin/" -> false, "/admin/public/" -> true,
      "/*.json$" -> false, "/p/1" -> false, "/p/12" -> true,
      "/tie" -> false, "/ti*" -> true) // equal length 4: allow wins
    val paths = Seq(
      (0L, "/p/5"), (1L, "/admin/x"), (2L, "/admin/public/x"),
      (3L, "/data/f.json"), (4L, "/p/10"), (5L, "/p/12"),
      (6L, "/tie"), (7L, "nohit")).toDF("id", "path")
    val got = graft.pipeline.UrlOps
      .robotsDecisions(paths, "id", "path", rules)
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> true, 3L -> false,
      4L -> false, 5L -> true, 6L -> true, 7L -> true))
  }
}
