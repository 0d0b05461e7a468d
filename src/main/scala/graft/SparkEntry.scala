package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.StandardAnalyzer
import graft.index.{IndexBuilder, IndexConfig, Manifest, SegmentManifest}
import graft.pipeline.{Bpe, Dedup, Multimodal, Quantize, Similarity, TextOps}
import graft.search._
// scoring models; graft.pipeline.Similarity holds the vector-similarity ops
import graft.search.{Similarity => Sim}
import graft.streaming.Streaming

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-equivalent `oracleSql` where the
  * semantics are SQL-expressible. Fulltext entries run the REAL engine path
  * (tokenize → posting blocks → term dict → block-max WAND) in
  * double-precision oracle mode; the float-exact rank-identity path is gated
  * by `sbt -batch test` (IndexSearchSpec duels).
  */
object SparkEntry {

  private val K1 = 1.2d
  private val B = 0.75d

  // ------------------------------------------------------- index registry

  private def indexDirFor(sfDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-idx-v6", // vN = segment format/config rev (v6: reversed-term dictionary)
      java.lang.Integer.toHexString(sfDir.hashCode))

  /** A corpus variant of `documents`: its segment directory under the
    * sfDir's index root, how its segments are built there (given the
    * session, the sfDir and that directory), and the analyzer its queries
    * parse with.
    */
  final class Variant private (
      private[SparkEntry] val seg: String,
      private[SparkEntry] val build: (SparkSession, String, String) => Seq[SegmentManifest],
      private[SparkEntry] val analyzer: StandardAnalyzer = StandardAnalyzer.Default
  )

  object Variant {

    /** The base index: positions on, so phrase, span and highlight entries
      * share it.
      */
    val Plain = new Variant("seg0", single(Cfg.copy(storePositions = true)))

    /** Two fields (title/body): title = first 8 tokens, body = the rest —
      * the multi-field engine path (per-field norms + stats).
      */
    val Fields = new Variant("segf", (spark, sfDir, dir) => {
      import spark.implicits._
      val fielded = pages(spark, sfDir).map { case (url, text) =>
        val toks = text.split(" ")
        (url, Seq("title" -> toks.take(8).mkString(" "),
          "body" -> toks.drop(8).mkString(" ")))
      }
      IndexBuilder.buildSegmentFields(fielded, dir, Cfg.copy(storePositions = true))
      committed(dir)
    })

    /** [[Plain]] plus stored term vectors (IndexConfig.storeTermVectors) —
      * identical collection stats, so vector-path MLT scores equal the
      * re-analysis path's.
      */
    val Tv = new Variant("segtv",
      single(Cfg.copy(storePositions = true, storeTermVectors = true)))

    /** Three bloom-enabled segments over contiguous doc_id thirds — the
      * NRT-tail shape the reference aims its bloom postings layer at
      * (`codecs/bloom/BloomFilteringPostingsFormat.java`): every
      * term-stats/postings probe consults each segment's bloom sidecar and
      * skips segments that definitely lack the term. docIDs stay the global
      * url rank and collection stats sum across segments, so scores equal
      * the single-segment searcher's — the oracle is the plain BM25 SQL.
      * Segment directories are `segbl0`..`segbl2`.
      */
    val Bloom = new Variant("segbl", (spark, sfDir, dir) => {
      val n = docsDf(spark, sfDir).count()
      val cuts = Seq(0L, n / 3, 2 * n / 3, n)
      (0 until 3).map { i =>
        val third = col("doc_id") >= cuts(i) && col("doc_id") < cuts(i + 1)
        IndexBuilder.buildSegment(pages(spark, sfDir, where = third),
          s"$dir$i", Cfg.copy(bloomTerms = true))
      }
    })

    /** Positions AND character offsets in the postings (ref
      * `index/IndexOptions.java` DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS)
      * — the offset-based highlighter's source.
      */
    val Offs = new Variant("segoffs",
      single(Cfg.copy(storePositions = true, storeOffsets = true)))

    /** An in-place numeric doc-values update applied (ref
      * `index/IndexWriter.java#updateNumericDocValue`): the stored `length`
      * of every doc_id % 10 == 0 doc is patched to length+1000 WITHOUT
      * reindexing — a fixed-generation sparse patch overlaid at read time
      * ([[graft.index.DocValues]]). Fixed gen 1 + deterministic patch
      * content make the update idempotent across cached-index reruns.
      */
    val Dv = new Variant("segdv", single(Cfg, after = (spark, _, dir) => {
      val patch = spark.read.parquet(s"$dir/docs")
        .where(substring(col("url"), 4, 12).cast("bigint") % 10 === 0)
        .select(col("docId"), (col("length") + 1000L).as("value"))
      graft.index.DocValues.update(spark, dir, "length", patch, gen = Some(1)): Unit
    }))

    /** Index-time synonym rules (ref
      * `analysis/synonym/SynonymGraphFilter.java`): the multi-word variant
      * "data stream" injects `datastream` and the single token "vector"
      * injects `embedding`, both as position-increment-0 overlap tokens — a
      * query for the canonical term finds docs containing only the variant.
      */
    val Syn = new Variant("segsyn", single(Cfg.copy(
      synonyms = Seq(List("data", "stream") -> "datastream",
        List("vector") -> "embedding"))))

    /** Payloads (ref the analysis payloads package): every doc gets one
      * injected `data|<doc_id%7+1>` delimited-payload token appended; the
      * natural `data` occurrences carry the default payload 1.
      */
    val Pay = new Variant("segpay",
      single(Cfg.copy(storePositions = true, storePayloads = true),
        text = concat(col("text"), lit(" data|"),
          ((col("doc_id") % 7) + 1).cast("string"))))

    /** Two-field web index: body text + an `anchor` field holding the
      * anchor-text tokens of the doc's INLINKS from the [[webEdges]] graph
      * (token = "data" for even sources, "query" for odd — body vocabulary,
      * so BM25F genuinely blends the fields). The anchor corpus feeding a
      * combined-field ranker is the classic web-search loop (body + anchor
      * signal).
      */
    val Web = new Variant("segweb", (spark, sfDir, dir) => {
      import spark.implicits._
      val docs = docsDf(spark, sfDir).select($"doc_id", $"text")
      val (_, edges) = webEdges(docs.select($"doc_id"))
      val anchors = edges
        .select($"dst", when($"src" % 2 === 0, lit("data"))
          .otherwise(lit("query")).as("tok"))
        .groupBy($"dst")
        .agg(array_join(array_sort(collect_list($"tok")), " ").as("anchor"))
      val fielded = docs
        .join(anchors, docs("doc_id") === anchors("dst"), "left")
        .select(urlOf($"doc_id"), $"text", coalesce($"anchor", lit("")).as("anchor"))
        .as[(String, String, String)]
        .map { case (u, t, a) => (u, Seq("body" -> t, "anchor" -> a)) }
      IndexBuilder.buildSegmentFields(fielded, dir, Cfg)
      committed(dir)
    })

    /** A static `pagerank` feature (value = n_chars mod 400 + 1 — integers
      * ≤ 512 are exactly 17-bit-encodable, so the index round-trips the
      * oracle's arithmetic losslessly) appended as feature postings (ref
      * `document/FeatureField.java`). batchId makes the append a no-op when
      * a cached segment from a prior process already carries this batch.
      */
    val Feat = new Variant("segfeat", single(Cfg, after = (spark, sfDir, dir) => {
      val features = docsDf(spark, sfDir)
        .select(urlOf(col("doc_id")), lit("pagerank").as("feature"),
          (pmod(col("n_chars"), lit(400)) + 1).cast("float").as("value"))
      graft.index.FeatureIndexer.addFeatures(spark, dir, features,
        batchId = Some("pagerank-v1")): Unit
    }))

    /** The mixed-script derivation ([[cjkTextOf]]) with CJK bigram analysis
      * (ref `analysis/cjk/CJKBigramFilter.java`): Han/Katakana/Hangul runs
      * index as overlapping character bigrams; query analysis uses the same
      * chain, so `数据库` searches as the bigram conjunction 数据+据库.
      */
    val Cjk = new Variant("segcjk",
      single(Cfg.copy(cjkBigrams = true), text = cjkTextOf(col("doc_id"))),
      new StandardAnalyzer(cjkBigrams = true))

    /** A deterministically pluralized derivation ('query' → 'queries';
      * every 3rd token '-s', every 3rd+1 '-es'), built AND queried through
      * the `minimal` stemming filter
      * (ref `analysis/common/.../en/EnglishMinimalStemFilter.java`):
      * morphological variants conflate to one posting on both paths, so
      * `queries` finds docs that only contain `querys`/`query`.
      */
    val Stem = new Variant("segstem",
      single(Cfg.copy(termFilter = "minimal"),
        text = array_join(transform(split(col("text"), " "), (w, i) =>
          when(w === "query", lit("queries"))
            .when(i % 3 === 1, concat(w, lit("s")))
            .when(i % 3 === 2, concat(w, lit("es")))
            .otherwise(w)), " ")),
      new StandardAnalyzer(filter = graft.analysis.EnglishMinimalStemmer))
  }

  /** The build config every variant starts from. */
  private val Cfg = IndexConfig(bucketShift = 8, numPostingPartitions = 8,
    numDocPartitions = 4)

  /** urls are zero-padded doc_ids, so docID rank order == doc_id order. */
  private def urlOf(id: Column): Column = format_string("doc%012d", id).as("url")

  /** `documents` rows matching `where` as (url, text) pages. */
  private def pages(
      spark: SparkSession, sfDir: String,
      text: Column = col("text"), where: Column = lit(true)
  ): Dataset[(String, String)] = {
    import spark.implicits._
    docsDf(spark, sfDir).where(where)
      .select(urlOf($"doc_id"), text.as("text")).as[(String, String)]
  }

  /** The committed manifest at `dir`, re-read after any post-build patch. */
  private def committed(dir: String): Seq[SegmentManifest] = Seq(Manifest.read(dir).get)

  /** A one-segment variant: the pages with `text`, built with `cfg`;
    * `after` runs on the committed segment (given session, sfDir and the
    * segment directory) before its manifest is read.
    */
  private def single(
      cfg: IndexConfig, text: Column = col("text"),
      after: (SparkSession, String, String) => Unit = (_, _, _) => ()
  ): (SparkSession, String, String) => Seq[SegmentManifest] = (spark, sfDir, dir) => {
    IndexBuilder.buildSegment(pages(spark, sfDir, text), dir, cfg)
    after(spark, sfDir, dir)
    committed(dir)
  }

  /** Every open searcher, keyed by (sfDir, variant, scoring model). */
  private val searchers = TrieMap[(String, Variant, Sim), IndexSearcher]()

  /** The searcher over `variant`'s index of `sfDir`'s `documents`, built
    * once per sfDir. A non-BM25 `sim` is a view over the BM25 searcher of
    * the same variant (ref `IndexSearcher#setSimilarity`): it shares that
    * searcher's segment readers, so no dictionary is loaded again.
    */
  def searcherFor(
      spark: SparkSession, sfDir: String,
      variant: Variant = Variant.Plain, sim: Sim = Sim.Bm25
  ): IndexSearcher =
    searchers.getOrElseUpdate((sfDir, variant, sim),
      if (sim != Sim.Bm25) searcherFor(spark, sfDir, variant).withSimilarity(sim)
      else {
        val dir = java.nio.file.Files.createDirectories(indexDirFor(sfDir))
          .resolve(variant.seg).toString
        new IndexSearcher(spark, variant.build(spark, sfDir, dir), variant.analyzer,
          precision = Precision.DoubleOracle, k1 = K1, b = B)
      })

  /** Drop every cached searcher of `sfDir`, unpersist their resident
    * slices and delete its indexes (benchmarks call this so a timed build
    * is a real build, never a manifest resume from a prior process).
    */
  def clearIndexCache(sfDir: String): Unit = {
    searchers.keys.filter(_._1 == sfDir).foreach(searchers.remove(_).foreach(_.release()))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val d = indexDirFor(sfDir).toFile
    if (d.exists()) rm(d)
  }

  private def docIdOf(url: Column) =
    substring(url, 4, 12).cast("bigint").as("doc_id")

  /** Synthetic link multigraph for the web-graph entries, pure doc_id
    * arithmetic (every 10th page dangling, every 3rd page a third
    * out-link, doc 6 a parallel edge) so the SQL oracle rebuilds the edge
    * multiset independently. Returns (node count, edges(src,dst)).
    */
  private def webEdges(docs: DataFrame): (Long, DataFrame) = {
    val n = docs.count()
    val id = col("doc_id")
    val linked = docs.where(id % 10 =!= 0)
    val edges = linked.select(id.as("src"), ((id + 1) % n).as("dst"))
      .union(linked.select(id.as("src"), ((id * 2 + 1) % n).as("dst")))
      .union(linked.where(id % 3 === 0)
        .select(id.as("src"), ((id + 7) % n).as("dst")))
    (n, edges)
  }

  /** robots.txt rule group for `web_robots` (pattern, allow): exercises
    * longest-match precedence (`/admin/public/` over `/admin/`, `/p/12`
    * over `/p/1`), the `*`+`$` wildcard form, and the everything-matches
    * `/` fallback.
    */
  private val RobotRules: Seq[(String, Boolean)] = Seq(
    "/admin/" -> false,
    "/admin/public/" -> true,
    "/*.json$" -> false,
    "/p/1" -> false,
    "/p/12" -> true,
    "/" -> true)

  /** Synthetic page HTML for the anchor entries: two well-formed links
    * (messy hrefs — case, default port, trailing slash, tracking param;
    * the %3 topic link carries rel="nofollow") and one unterminated link,
    * all pure functions of doc_id.
    */
  private def anchorHtmlOf(id: Column) =
    concat(
      lit("<html><body><p>intro</p><a href=\"HTTPS://Site"),
      ((id + 1) % 7).cast("string"),
      lit(".Example.com:443/p/"), (id % 40).cast("string"),
      lit("/\">page "), (id % 40).cast("string"), lit(" overview</a>"),
      when(id % 3 === 0, concat(
        lit("<a href=\"https://webcrawl.org/t/"), (id % 9).cast("string"),
        lit("?utm_source=x&z=1\" rel=\"nofollow\">topic "),
        (id % 9).cast("string"), lit("</a>"))).otherwise(lit("")),
      when(id % 5 === 0,
        lit("<a href=\"https://broken.example.com/x\">unterminated"))
        .otherwise(lit("")),
      lit("</body></html>"))

  /** Deterministic messy-crawl URL for the web_* entries: 3 registrable
    * domains, 7 site labels, optional www/tracking-param variants — all
    * pure functions of doc_id so the DuckDB oracle rebuilds them exactly.
    */
  private def webUrlOf(id: Column) =
    concat(
      lit("https://"),
      when(id % 4 === 0, lit("www.")).otherwise(lit("")),
      lit("site"), (id % 7).cast("string"), lit("."),
      when(id % 3 === 0, lit("example.com"))
        .when(id % 3 === 1, lit("webcrawl.org"))
        .otherwise(lit("dataset.net")),
      lit("/p/"), (id % 100).cast("string"),
      when(id % 5 === 0, lit("?utm_source=x&a=1")).otherwise(lit("")))

  /** Top-k hits with VERIFIED rounding-tie slack: the oracle compares
    * 6-dp-rounded scores, so the engine must fetch enough raw hits that no
    * uncollected doc could round into the top k. Sufficiency check: the
    * weakest collected raw score, rounded, must fall strictly below the
    * k-th rounded score (every uncollected doc scores <= the weakest
    * collected). On failure the slack escalates 10x instead of silently
    * diverging.
    */
  private def topKVerified(
      se: IndexSearcher, q: Query, k: Int
  ): Array[ScoredDoc] = {
    var slack = 50
    while (slack <= 500000) {
      val hits = se.topK(q, k + slack).collect()
      if (hits.length < k + slack) return hits // collector exhausted all matches
      val kthRounded = hits
        .map(h => (BigDecimal(h.score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, h.docId))
        .sortBy { case (s, d) => (-s, d) }
        .apply(k - 1)._1
      val weakest = BigDecimal(hits.map(_.score).min)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (weakest < kthRounded) return hits
      slack *= 10
    }
    throw new IllegalStateException(s"tie slack insufficient at $slack for $q")
  }

  /** Engine top-k → (doc_id, score) with 6-dp rounding; selection order is
    * (rounded score desc, doc_id asc) on BOTH sides so rounding ties cut
    * identically. Stored fields come by point lookup (isin pushdown on the
    * docId-sorted docs table), not a docs-table scan + join per query.
    */
  private def topKDf(se: IndexSearcher, q: Query, k: Int): DataFrame =
    se.fetchDocs(topKVerified(se, q, k))
      .select(docIdOf(col("url")), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  private def ftTopK(spark: SparkSession, sfDir: String, queryStr: String, k: Int): DataFrame = {
    val se = searcherFor(spark, sfDir)
    topKDf(se, se.parse(queryStr), k)
  }

  /** Deterministic mixed-script page text for the CJK entry: Latin + Han +
    * Katakana + Hangul words, all pure functions of doc_id so the DuckDB
    * oracle rebuilds the exact byte stream.
    */
  private def cjkTextOf(id: Column) =
    concat(
      lit("web "),
      when(id % 3 === 0, lit("数据库"))
        .when(id % 3 === 1, lit("数据")).otherwise(lit("查询")),
      lit(" "),
      when(id % 4 === 0, lit("データ")).otherwise(lit("検索")),
      when(id % 5 === 0, lit(" 한국어")).otherwise(lit("")),
      when(id % 7 === 0, lit(" index")).otherwise(lit("")))

  private def ftMatch(spark: SparkSession, sfDir: String, q: Query): DataFrame = {
    val s = searcherFor(spark, sfDir)
    import spark.implicits._
    s.matchingCached(q).toDF("docId")
      .join(s.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"))
      .orderBy($"doc_id")
  }

  private def docsDf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private val bpeModels = TrieMap[String, Bpe.BpeModel]()

  /** One 8-merge BPE model per sfDir (training is deterministic, so the
    * merges and encode entries share it).
    */
  private def bpeModelFor(spark: SparkSession, sfDir: String): Bpe.BpeModel =
    bpeModels.getOrElseUpdate(sfDir, Bpe.train(docsDf(spark, sfDir), "text", 8))

  // ------------------------------------------------------- flagship

  /** Flagship: end-to-end index + BM25 WAND top-10 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    ftTopK(spark, "/root/testdata/sf0.001", "data OR query OR stream", 10)

  // ------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- fulltext: the engine path (W1-W11 build + Q1-Q12 search)
    "ft_term_topk" -> ((s, d) => ftTopK(s, d, "spark", 10)),
    "ft_bloom_topk" -> ((s, d) => {
      // 3-segment bloom-enabled searcher: results must equal the plain BM25
      // oracle (bloom has no false negatives, segments sum to one corpus)
      val se = searcherFor(s, d, Variant.Bloom)
      val q = se.parse("filter OR query")
      topKDf(se, q, 10)
    }),
    "ft_and_topk" -> ((s, d) => ftTopK(s, d, "data AND query", 10)),
    "ft_or_topk" -> ((s, d) => ftTopK(s, d, "data OR query OR stream", 10)),
    "ft_nested_topk" -> ((s, d) => ftTopK(s, d, "(data OR query) AND table", 10)),
    "ft_tfidf_topk" -> ((s, d) => {
      val se = searcherFor(s, d, sim = Sim.Classic)
      val q = se.parse("data OR query OR stream")
      topKDf(se, q, 10)
    }),
    "ft_filter_topk" -> ((s, d) => {
      val se = searcherFor(s, d)
      val q = BoolQuery(Seq(
        TermQuery("data") -> Occur.Should, TermQuery("query") -> Occur.Should,
        TermQuery("table") -> Occur.Filter))
      topKDf(se, q, 10)
    }),
    "ft_synonym_topk" -> ((s, d) => {
      val se = searcherFor(s, d)
      topKDf(se, SynonymQuery(Seq("data", "stream")), 10)
    }),
    "ft_fuzzy_like" -> ((s, d) => {
      // FuzzyLikeThisQuery (ref lucene/sandbox sandbox/queries/
      // FuzzyLikeThisQuery.java): each like-text token "fuzzifies" against
      // the live dictionary (maxEdits=1) and the variant set scores as ONE
      // pseudo-term — the SynonymQuery blend (summed tf, group df = max
      // member df) — summed across token groups
      val se = searcherFor(s, d)
      val groups = Seq("quer", "strem")
        .map(t => se.expandFuzzy(t, maxEdits = 1))
        .filter(_.nonEmpty)
      val q = BoolQuery(groups.map(g =>
        (SynonymQuery(g): Query) -> (Occur.Should: Occur)))
      topKDf(se, q, 10)
    }),
    "ft_field_topk" -> ((s, d) => {
      // field-scoped BM25: per-field docCount/avgdl/norms (title = first 8
      // tokens, body = rest); cross-field disjunction sums per-field scores
      val se = searcherFor(s, d, Variant.Fields)
      topKDf(se, se.parse("title:data OR body:query"), 10)
    }),
    "ft_multisim_topk" -> ((s, d) => {
      // MultiSimilarity (ref MultiSimilarity.java): per-term score = BM25 +
      // ClassicSimilarity, double-accumulated
      val se = searcherFor(s, d, sim = Sim.Multi(Seq(Sim.Bm25, Sim.Classic)))
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_perfield_topk" -> ((s, d) => {
      // per-field similarity (ref PerFieldSimilarityWrapper): the title
      // clause scores under ClassicSimilarity (tf-idf), the body clause
      // under BM25 — one boolean query, two scoring models, clause-summed
      val se = searcherFor(s, d, Variant.Fields,
        Sim.PerField(Map("title" -> Sim.Classic)))
      topKDf(se, se.parse("title:data OR body:query"), 10)
    }),
    "ft_feature_rank" -> ((s, d) => {
      // FeatureField static ranking signal: BM25(data) + a saturation
      // transform of the doc's pagerank feature, composed as SHOULD clauses
      // (ref document/FeatureField.java newSaturationQuery usage)
      val se = searcherFor(s, d, Variant.Feat)
      val q = BoolQuery(Seq(
        TermQuery("data") -> (Occur.Should: Occur),
        FeatureQuery("pagerank", FeatureFunction.Saturation(500.0), 0.8) ->
          (Occur.Should: Occur)))
      topKDf(se, q, 10)
    }),
    "ft_lm_topk" -> ((s, d) => {
      // Dirichlet-smoothed language model ranking (ref
      // LMDirichletSimilarity): per-term score = max(0, ln(1 + tf/(mu*p))
      // + ln(mu/(dl+mu))), p = (ttf+1)/(sttf+1), mu = 2000
      val se = searcherFor(s, d, sim = Sim.LmDirichlet(2000.0))
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_lmjm_topk" -> ((s, d) => {
      // Jelinek-Mercer language model (ref LMJelinekMercerSimilarity):
      // per-term score = ln(1 + ((1-lambda)*tf/dl)/(lambda*p)), lambda 0.1
      val se = searcherFor(s, d, sim = Sim.LmJelinekMercer(0.1))
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_synonym_index" -> ((s, d) => {
      // index-time synonym graphs (ref SynonymGraphFilter): querying the
      // canonical terms finds docs containing only the variants — tf counts
      // injections, norms don't (discountOverlaps), sttf does
      val se = searcherFor(s, d, Variant.Syn)
      topKDf(se, Query.or("datastream", "embedding"), 10)
    }),
    "ft_payload_topk" -> ((s, d) => {
      // payload-score ranking (ref queries/payloads/PayloadScoreQuery.java,
      // PayloadFunction Sum): docs ranked by the sum of 'data' payloads —
      // the injected |N token plus default-1 natural occurrences
      val se = searcherFor(s, d, Variant.Pay)
      import s.implicits._
      val hits = se.payloadScoreTopK("data", "sum", 10).collect()
        .map(r => graft.search.ScoredDoc(r.getLong(0), r.getDouble(1)))
      se.fetchDocs(hits)
        .select(docIdOf($"url"), $"score".cast("bigint").as("payload_sum"))
        .orderBy($"payload_sum".desc, $"doc_id".asc)
    }),
    "ft_payload_check" -> ((s, d) => {
      // payload-filtered matching (ref queries/payloads/
      // SpanPayloadCheckQuery.java): 'data' occurrences count only where
      // the stored payload equals 1 — the natural occurrences (default
      // payload) plus the injected token on doc_id%7==0 docs
      val se = searcherFor(s, d, Variant.Pay)
      import s.implicits._
      se.payloadCheckFreqs("data", 1)
        .toDF("docId", "check_freq")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"check_freq".cast("bigint").as("check_freq"))
        .orderBy($"doc_id")
    }),
    "ft_span_first" -> ((s, d) => {
      // position-bounded matching (ref spans/SpanFirstQuery.java): 'data'
      // occurrences whose span end (pos+1) is within the first 5 positions
      val se = searcherFor(s, d)
      import s.implicits._
      se.spanFirstFreqs("data", 5)
        .toDF("docId", "first_freq")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"first_freq".cast("bigint").as("first_freq"))
        .orderBy($"doc_id")
    }),
    "ft_span_range" -> ((s, d) => {
      // position-range matching (ref spans/SpanPositionRangeQuery.java):
      // 'data' occurrences whose span lies within positions [3, 12)
      val se = searcherFor(s, d)
      import s.implicits._
      se.spanRangeFreqs("data", 3, 12)
        .toDF("docId", "range_freq")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"range_freq".cast("bigint").as("range_freq"))
        .orderBy($"doc_id")
    }),
    "ft_covering" -> ((s, d) => {
      // per-doc minimum-should-match (ref sandbox search/CoveringQuery.java):
      // four SHOULD clauses; each doc requires nmatch >= (doc_id % 3) + 1 of
      // them (the per-doc LongValuesSource), scores as the matching sum
      val se = searcherFor(s, d)
      import s.implicits._
      val clauses = Seq("data", "query", "stream", "table")
        .map(t => TermQuery(t): Query)
      val minM = substring($"url", 4, 12).cast("bigint") % 3 + 1
      se.coveringMatches(clauses, minM)
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), round($"score", 6).as("score"),
          $"nmatch".cast("bigint").as("nmatch"))
        .orderBy($"doc_id")
    }),
    "ft_common_terms" -> ((s, d) => {
      // dynamic-stopword query (ref queries/CommonTermsQuery.java): terms
      // in > 50% of docs demote to scoring-only; a rare term is required
      val se = searcherFor(s, d)
      val q = se.commonTermsQuery(Seq("dup", "data", "query"), maxTermFrequency = 0.5)
      topKDf(se, q, 10)
    }),
    "ft_dv_update" -> ((s, d) => {
      // in-place numeric doc-values update (ref
      // IndexWriter#updateNumericDocValue): stored `length` patched to
      // +1000 for doc_id % 10 == 0 without reindexing; the field sort over
      // the patched segment reflects the updated values
      val se = searcherFor(s, d, Variant.Dv)
      import s.implicits._
      se.matching(se.parse("data AND query")).toDF("docId")
        .join(se.docsTable.select($"docId", $"url", $"length"), "docId")
        .select(docIdOf($"url"), $"length".cast("bigint").as("dl"))
        .orderBy($"dl".desc, $"doc_id".asc)
        .limit(15)
    }),
    "ft_spell_phonetic" -> ((s, d) => {
      // phonetic suggestions (ref analysis/phonetic/PhoneticFilter.java):
      // dictionary terms sounding like the typo 'stram' (Soundex S365),
      // ranked by docFreq
      searcherFor(s, d).phoneticSuggest("stram", 5)
    }),
    "text_soundex" -> ((s, d) => {
      // the Soundex chain over the whole corpus vocabulary — every distinct
      // token's code computed by the codegen'd column chain, differentially
      // gated against the independent DuckDB replica
      import s.implicits._
      s.read.parquet(s"$d/documents.parquet")
        .select(explode(split($"text", " ")).as("term")).distinct()
        .select($"term", graft.analysis.Phonetic.soundex($"term").as("code"))
        .orderBy($"term")
    }),
    "ft_dfr_topk" -> ((s, d) => {
      // divergence from randomness, the classic InL2 combination (ref
      // DFRSimilarity): per-term score = log2((N+1)/(n+0.5)) *
      // (1 - 1/(1 + tfn)), tfn = tf * log2(1 + avgdl/dl)
      val se = searcherFor(s, d, sim = Sim.Dfr())
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_ib_topk" -> ((s, d) => {
      // information-based model, LL-D-H1 (ref IBSimilarity): per-term
      // score = -ln(lambda/(tfn+lambda)), lambda = (n+1)/(N+1),
      // tfn = tf * avgdl/dl
      val se = searcherFor(s, d, sim = Sim.Ib())
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_dfi_topk" -> ((s, d) => {
      // divergence from independence (ref DFISimilarity, standardized
      // measure): expected = (F+1)*dl/(sttf+1); score = log2(1 +
      // (tf-expected)/sqrt(expected)) when tf > expected, else 0
      val se = searcherFor(s, d, sim = Sim.Dfi())
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_axiomatic_topk" -> ((s, d) => {
      // axiomatic F2EXP (ref AxiomaticF2EXP): per-term score =
      // freq/(freq + s + s*dl/avgdl) * ((N+1)/df)^k, s=0.25, k=0.35
      val se = searcherFor(s, d, sim = Sim.Axiomatic())
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_sweetspot_topk" -> ((s, d) => {
      // sweet-spot classic TF-IDF (ref misc/SweetSpotSimilarity): plateau
      // length norm 1/sqrt(0.5*(|dl-8|+|dl-40|-32)+1) (flat at 1 inside
      // [8,40], short docs penalized too — NOT antitone in the norm, so
      // the block-max bound uses the plateau value) and baseline tf
      // (freq<=2 -> 0.5, else sqrt(freq+0.25-2))
      val se = searcherFor(s, d, sim = Sim.SweetSpot(
        lnMin = 8, lnMax = 40, steepness = 0.5, tfBase = 0.5, tfMin = 2.0))
      topKDf(se, Query.or("data", "query"), 10)
    }),
    "ft_wordbreak" -> ((s, d) => {
      // word-break suggestions for a run-together term (ref
      // suggest/spell/WordBreakSpellChecker.java): one break, both parts
      // dictionary words, ranked by summed docFreq
      val se = searcherFor(s, d)
      import s.implicits._
      se.wordBreaks("dataquery", maxChanges = 1, n = 5)
        .select($"suggestion", $"freq")
    }),
    "ft_wordcombine" -> ((s, d) => {
      // combination direction of WordBreakSpellChecker: adjacent query
      // fragments whose concatenation is a dictionary word
      val se = searcherFor(s, d)
      import s.implicits._
      se.wordCombinations(Seq("da", "ta", "query"), maxChanges = 2, n = 5)
        .select($"combined", $"start", $"end", $"changes", $"freq")
    }),
    "ft_feature_sort" -> ((s, d) => {
      // sort by static feature value desc (ref FeatureField.newFeatureSort):
      // the linear feature scorer at weight 1 IS the decoded value, so the
      // sort is a scoreMatches + ORDER BY — no docs-table column needed
      val se = searcherFor(s, d, Variant.Feat)
      import s.implicits._
      val q = FeatureQuery("pagerank", FeatureFunction.Linear, 1.0)
      se.scoreMatches(q).toDF("docId", "pagerank")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"pagerank")
        .orderBy($"pagerank".desc, $"doc_id".asc).limit(15)
    }),
    "ft_combined_topk" -> ((s, d) => {
      // BM25F: one term scored against the weighted union of title+body as
      // a synthetic combined field — pseudo df = max over fields, weighted
      // avgdl, freq = sum weight*tf, additive re-encoded norms (ref
      // search/CombinedFieldQuery.java + MultiNormsLeafSimScorer.java)
      val se = searcherFor(s, d, Variant.Fields)
      val q = CombinedFieldQuery("data", Seq("title" -> 2.0, "body" -> 1.0))
      topKDf(se, q, 10)
    }),
    "ft_boost_topk" -> ((s, d) =>
      // per-clause boost: weight = boost * idf (ref search/BoostQuery.java)
      ftTopK(s, d, "data^2 OR query", 10)),
    "ft_dismax_topk" -> ((s, d) => {
      // dismax: best clause + 0.3 x the rest (ref DisjunctionMaxQuery)
      val se = searcherFor(s, d)
      val q = DisMaxQuery(Seq("data", "query", "stream").map(TermQuery(_)), 0.3)
      topKDf(se, q, 10)
    }),
    "ft_constscore" -> ((s, d) => {
      // constant-score wrapper: every match scores 2.5 (ref ConstantScoreQuery)
      val se = searcherFor(s, d)
      import s.implicits._
      val q = ConstScoreQuery(se.parse("data AND query"), 2.5)
      se.scoreMatches(q).toDF("docId", "score")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .orderBy($"doc_id")
    }),
    "ft_spell" -> ((s, d) => {
      // spell correction (ref suggest/spell/DirectSpellChecker): dictionary
      // candidates within 2 edits of the misspelling, ranked by
      // (distance, docFreq desc, term)
      searcherFor(s, d).spellCorrect("parl", maxEdits = 2, n = 5)
    }),
    "ft_spell_jaro" -> ((s, d) =>
      // Jaro-Winkler-ranked corrections (ref suggest/spell/
      // JaroWinklerDistance as the SpellChecker's StringDistance);
      // accuracy 0.55 so the ranking + boost + tie-break paths all engage
      // on this corpus's vocabulary
      searcherFor(s, d).spellCorrectJaro("qurey", n = 5, accuracy = 0.55)),
    "ft_msm_topk" -> ((s, d) => {
      // minimumShouldMatch=2 of three SHOULD clauses (ref BooleanQuery msm)
      val se = searcherFor(s, d)
      val q = BoolQuery(Seq("data", "query", "stream").map(t =>
        TermQuery(t) -> (Occur.Should: Occur)), minimumShouldMatch = 2)
      topKDf(se, q, 10)
    }),
    "ft_fuzzy_match" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      val terms = se.expandFuzzy("quer", maxEdits = 2)
      if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
      else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
    }),
    "ft_rescore" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      val q1 = se.parse("data OR query")
      val q2 = se.parse("table OR stream")
      val cand = se.topK(q1, 80)
        .orderBy(round($"score", 6).desc, $"docId".asc).limit(30).as[ScoredDoc]
      val rescored = se.rescore(cand, q2, 1.0, 2.0).as[ScoredDoc].collect()
      se.fetchDocs(rescored)
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .orderBy($"score".desc, $"doc_id".asc).limit(10)
    }),
    "ft_hybrid_rrf" -> ((s, d) => {
      // hybrid lexical+vector search: BM25 top-50 for "data stream" fused
      // with the exact-cosine top-50 around the vec_id-0 embedding by
      // reciprocal-rank fusion (1/(60+rank) per leg). Rank windows run on
      // the 50-row legs only; the premise is the testdata's shared id space
      // (embeddings are keyed by document id).
      val se = searcherFor(s, d)
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val lexHits = topKVerified(se, Query.parse("data stream"), 50)
      val lex = se.fetchDocs(lexHits)
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .withColumn("r", row_number().over(
          Window.orderBy($"score".desc, $"doc_id".asc)))
        .where($"r" <= 50) // topKVerified returns k + tie slack
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .as[Array[Float]].head()
      val vec = Similarity
        .bruteForceTopK(emb, "vec_id", "embedding", qv, 50, excludeId = Some(0L))
        .select($"vec_id".as("doc_id"), $"sim")
        .withColumn("r", row_number().over(
          Window.orderBy($"sim".desc, $"doc_id".asc)))
      Similarity.rrfFuse(Seq(lex, vec), "doc_id", "r", kConst = 60, k = 10)
    }),
    "ft_not_match" -> ((s, d) =>
      ftMatch(s, d, Query.parse("data NOT stream"))),
    "ft_prefix_match" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      val terms = se.expandPrefix("qu")
      if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
      else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
    }),
    "ft_inset_match" -> ((s, d) =>
      ftMatch(s, d, Query.or("spark", "merge", "vector"))),
    "ft_range_match" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      val terms = se.expandRange("qa", "ri", max = 4096)
      if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
      else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
    }),
    "ft_regex_match" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      // anchored like the reference's RegexpQuery full-match automaton
      val terms = se.expandRegex("^st[a-z]*m$", max = 4096)
      if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
      else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
    }),
    "ft_wildcard_match" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      val terms = se.expandWildcard("s?ar*", max = 4096)
      if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
      else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
    }),
    "ft_wildcard_lead" -> ((s, d) => {
      // leading wildcard (*am): no literal prefix bounds the dictionary
      // walk, so every term is checked against the pattern (ref
      // index/AutomatonTermsEnum.java with no common prefix)
      val se = searcherFor(s, d)
      import s.implicits._
      val terms = se.expandWildcard("*am", max = 4096)
      if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
      else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
    }),
    "ft_phrase_match" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      se.phraseFreqs(Seq("data", "query"))
        .toDF("docId", "phrase_freq")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"phrase_freq".cast("bigint").as("phrase_freq"))
        .orderBy($"doc_id")
    }),
    "ft_phrase_topk" -> ((s, d) =>
      topKDf(searcherFor(s, d), PhraseQuery(Seq("data", "query")), 10)),
    "ft_phrase_slop" -> ((s, d) => {
      // sloppy phrase at slop=2 (ref search/SloppyPhraseMatcher.java —
      // ordered-window variant; see PhraseScorer)
      val se = searcherFor(s, d)
      import s.implicits._
      se.phraseFreqs(Seq("data", "query"), slop = 2)
        .toDF("docId", "sloppy_freq")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"sloppy_freq".cast("bigint").as("sloppy_freq"))
        .orderBy($"doc_id")
    }),
    "ft_classic_parse" -> ((s, d) => {
      // classic QueryParser syntax end to end: a sloppy quoted phrase as a
      // first-class scoring clause (PhraseScorer in the conjunction tree)
      // AND a prefix atom rewritten against the dictionary to constant
      // score (the MultiTermQuery CONSTANT_SCORE rewrite)
      val se = searcherFor(s, d)
      val q = se.parseFull("\"data query\"~1 AND tab*")
      topKDf(se, q, 10)
    }),
    "ft_simple_parse" -> ((s, d) => {
      // end-user simple syntax (ref queryparser/simple/SimpleQueryParser):
      // '+' AND binds tighter than '|' OR, '-' raises MUST_NOT into the
      // enclosing boolean — (data AND query) OR stream, excluding dup-docs
      val se = searcherFor(s, d)
      val q = se.parseSimple("data + query | stream -dup")
      topKDf(se, q, 10)
    }),
    "ft_field_phrase" -> ((s, d) => {
      // field-scoped phrase over the two-field index: per-field positions
      // (restart per field) + per-field stats/norms drive the PhraseScorer
      val se = searcherFor(s, d, Variant.Fields)
      val q = se.parse("body:\"data query\"")
      topKDf(se, q, 10)
    }),
    "ft_multiphrase_topk" -> ((s, d) => {
      // MultiPhraseQuery: 'data' followed by (query | stream) — per-slot
      // term alternation scored over merged slot positions (ref
      // search/MultiPhraseQuery.java union postings)
      val se = searcherFor(s, d)
      val q = MultiPhraseQuery(Seq(0 -> Seq("data"), 1 -> Seq("query", "stream")))
      topKDf(se, q, 10)
    }),
    "ft_surround" -> ((s, d) => {
      // surround query language (ref queryparser/surround): infix AND/NOT
      // over a prefix distance op — "4N(data, s*) AND table NOT slow" =
      // unordered (data, s*-expansion) within width 5, must contain table,
      // must not contain slow; the distance op runs on the intervals
      // algebra (MaxWidth over Unordered)
      val se = searcherFor(s, d)
      ftMatch(s, d, se.parseSurround("4N(data, s*) AND table NOT slow"))
    }),
    "ft_complex_phrase" -> ((s, d) => {
      // ComplexPhraseQueryParser: wildcard and fuzzy atoms INSIDE a quoted
      // phrase (ref queryparser/complexPhrase) — "data s* quary~1" becomes
      // a 3-slot MultiPhraseQuery with the s*-prefix and 1-edit dictionary
      // expansions as slot alternations
      val se = searcherFor(s, d)
      val q = se.parseComplexPhrase("data s* quary~1")
      topKDf(se, q, 10)
    }),
    "ft_interval_topk" -> ((s, d) => {
      // SCORED interval query (ref queries/intervals/IntervalQuery):
      // saturation of the sloppy interval frequency, f/(f+1) with
      // f = sum 1/max(len-minExtent+1, 1) over minimal intervals
      val se = searcherFor(s, d)
      import graft.search.Intervals.{MaxWidth, Term, Unordered}
      val q = IntervalQuery(MaxWidth(Unordered(Seq(Term("data"), Term("query"))), 8))
      topKDf(se, q, 10)
    }),
    "ft_automaton_topk" -> ((s, d) => {
      // TermAutomatonQuery (ref sandbox/search/TermAutomatonQuery.java):
      // NFA accepting the token paths "data stream" and "data ANY stream",
      // compiled onto the intervals algebra (paths → contiguous phrases,
      // ANY → position gap, union Or-minimized) and scored as an
      // IntervalQuery
      val se = searcherFor(s, d)
      val ta = new graft.search.TermAutomaton
      val s1 = ta.createState(); val s2 = ta.createState(); val s3 = ta.createState()
      ta.addTransition(0, s1, "data")
      ta.addTransition(s1, s3, "stream")
      ta.addAnyTransition(s1, s2)
      ta.addTransition(s2, s3, "stream")
      ta.setAccept(s3)
      val q = IntervalQuery(ta.toIntervals())
      topKDf(se, q, 10)
    }),
    "ft_near_topk" -> ((s, d) => {
      // interval query: unordered near(data, query) within a width-8 window
      // (ref queries/intervals/Intervals.java), ranked by best proximity —
      // min_width is identical over minimal intervals and over all pairs,
      // so DuckDB reproduces it independently
      val se = searcherFor(s, d)
      import s.implicits._
      import graft.search.Intervals._
      se.intervalHits(MaxWidth(Unordered(Seq(Term("data"), Term("query"))), 8))
        .toDF("docId", "n", "minWidth")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"minWidth".cast("bigint").as("min_width"))
        .orderBy($"min_width".asc, $"doc_id".asc).limit(15)
    }),
    "ft_near_ordered" -> ((s, d) => {
      // ordered near: 'data' before 'stream' within a width-10 window
      val se = searcherFor(s, d)
      import s.implicits._
      import graft.search.Intervals._
      se.intervalHits(MaxWidth(Ordered(Seq(Term("data"), Term("stream"))), 10))
        .toDF("docId", "n", "minWidth")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url")).distinct()
        .orderBy($"doc_id")
    }),
    "ft_near_prefix" -> ((s, d) => {
      // multi-term interval source: unordered near(data, quer*) within a
      // width-8 window (ref Intervals.java prefix() — dictionary-expanded
      // OR source), ranked by best proximity
      val se = searcherFor(s, d)
      import s.implicits._
      import graft.search.Intervals._
      se.intervalHits(MaxWidth(Unordered(Seq(Term("data"), se.intervalPrefix("quer"))), 8))
        .toDF("docId", "n", "minWidth")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"minWidth".cast("bigint").as("min_width"))
        .orderBy($"min_width".asc, $"doc_id".asc).limit(15)
    }),
    "ft_near_phrase" -> ((s, d) => {
      // composed intervals: near(phrase(data query), stream) within width 12
      // — the combinator nesting a flat sloppy phrase cannot express
      val se = searcherFor(s, d)
      import s.implicits._
      import graft.search.Intervals._
      se.intervalHits(MaxWidth(Unordered(Seq(
          Phrase(Seq(Term("data"), Term("query"))), Term("stream"))), 12))
        .toDF("docId", "n", "minWidth")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url")).distinct()
        .orderBy($"doc_id")
    }),
    "ft_near_not" -> ((s, d) => {
      // negated interval: unordered(data, stream) windows within width 8
      // that do NOT contain 'query' (ref Intervals.notContaining) — the
      // oracle reproduces minimal-interval semantics via an anti-nesting
      // pair filter
      val se = searcherFor(s, d)
      import s.implicits._
      import graft.search.Intervals._
      se.intervalHits(NotContaining(
          MaxWidth(Unordered(Seq(Term("data"), Term("stream"))), 8), Term("query")))
        .toDF("docId", "n", "minWidth")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url")).distinct()
        .orderBy($"doc_id")
    }),
    "ft_near_before" -> ((s, d) => {
      // positional ordering constraint (ref Intervals.before): unordered
      // (data, stream) windows within width 8 that end before a later
      // 'query' occurrence
      val se = searcherFor(s, d)
      import s.implicits._
      import graft.search.Intervals._
      se.intervalHits(Before(
          MaxWidth(Unordered(Seq(Term("data"), Term("stream"))), 8), Term("query")))
        .toDF("docId", "n", "minWidth")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url")).distinct()
        .orderBy($"doc_id")
    }),
    "ft_sort_topk" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      // TopFieldCollector semantics: hits of a query ordered by a stored
      // field (doc length) instead of relevance
      ftMatch(s, d, Query.parse("data AND query"))
        .join(se.docsTable
          .select(docIdOf($"url"), $"length".cast("bigint").as("dl")), "doc_id")
        .orderBy($"dl".desc, $"doc_id".asc)
        .limit(15)
    }),
    "ft_counts" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      Seq(
        ("q_spark", se.count(TermQuery("spark"))),
        ("q_and", se.count(Query.parse("data AND query"))),
        ("q_not", se.count(Query.parse("data NOT stream")))
      ).toDF("qid", "cnt").orderBy($"qid")
    }),
    "ft_termstats" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      IndexSearcher.byDocFreq(se.dictTerms()).take(20)
        .map(t => (t.term, t.docFreq, t.totalTermFreq))
        .toDF("term", "doc_freq", "total_term_freq")
    }),
    "ft_norms" -> ((s, d) => {
      val se = searcherFor(s, d)
      import s.implicits._
      // decode the stored norm byte back to the quantized length via the
      // SmallFloat table folded into the plan as an array literal
      val table = array(graft.codec.SmallFloat.lengthTable.map(v => lit(v.toLong)): _*)
      se.docsTable
        .select(docIdOf($"url"), $"length".cast("bigint").as("dl"),
          element_at(table, $"norm" + 1).as("qdl"))
        .orderBy($"doc_id")
    }),
    "ft_searchafter" -> ((s, d) => {
      import s.implicits._
      val full = ftTopK(s, d, "data OR query OR stream", 30)
      import org.apache.spark.sql.expressions.Window
      // constant-valued partition key (non-foldable): the window input is
      // the k=30 hit list (top-k collector output), provably bounded — the
      // explicit single group documents that and avoids the
      // unpartitioned-window warning
      val w = Window.partitionBy(pmod($"doc_id", lit(1L)))
        .orderBy($"score".desc, $"doc_id".asc)
      full.withColumn("rn", row_number().over(w))
        .where($"rn" > 10 && $"rn" <= 20)
        .select($"doc_id", $"score")
    }),
    "ft_facet_source" -> ((s, d) => {
      import s.implicits._
      val m = ftMatch(s, d, Query.parse("data OR query"))
      m.join(docsDf(s, d), "doc_id")
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),
    "ft_facet_sampled" -> ((s, d) => {
      // sampled facet counts (ref facet/RandomSamplingFacetsCollector):
      // a deterministic hashed 25% sample of the matching docs, counts
      // scaled back by 1/fraction — at 100 TB the facet pass touches a
      // quarter of the hit list for ~2% relative error on big counts
      import s.implicits._
      ftMatch(s, d, Query.parse("data OR query"))
        .where(graft.pipeline.Sampling.hashBucket($"doc_id", 100) < 25)
        .join(docsDf(s, d), "doc_id")
        .groupBy($"source").agg((count(lit(1)) * 4).cast("bigint").as("est_count"))
        .orderBy($"source")
    }),
    "ft_facet_assoc" -> ((s, d) => {
      // association facets (ref TaxonomyFacetIntAssociations): sum each
      // matching doc's n_chars under every prefix of its source/lang path
      import s.implicits._
      val j = ftMatch(s, d, Query.parse("data OR query"))
        .join(docsDf(s, d), "doc_id")
      graft.search.Facets
        .taxonomyAssociations(j, array($"source", $"lang"),
          $"n_chars".cast("long"))
        .orderBy($"path")
    }),
    "ft_highlight" -> ((s, d) => {
      // highlighter module: snippet = window around the first hit term in
      // the stored text of matching docs
      import s.implicits._
      ftMatch(s, d, Query.parse("data"))
        .orderBy($"doc_id").limit(20)
        .join(docsDf(s, d).select($"doc_id", $"text"), "doc_id")
        .select($"doc_id", TextOps.snippet($"text", "data", 2).as("snippet"))
        .orderBy($"doc_id")
    }),
    "ft_highlight_best" -> ((s, d) => {
      // best-passage highlighter: window with the most query-term hits
      // (ref UnifiedHighlighter passage selection), not just the first hit
      import s.implicits._
      ftMatch(s, d, Query.parse("data AND query"))
        .orderBy($"doc_id").limit(20)
        .join(docsDf(s, d).select($"doc_id", $"text"), "doc_id")
        .select($"doc_id",
          TextOps.bestSnippet($"text", Seq("data", "query"), 7).as("snippet"))
        .orderBy($"doc_id")
    }),
    "ft_highlight_offsets" -> ((s, d) => {
      // offset-based highlighter (ref uhighlight/UnifiedHighlighter.java
      // OffsetSource.POSTINGS): hit spans come from offset postings — a
      // pushed point lookup per term — and snippet extraction touches only
      // O(snippet) chars around the span; the stored text is never
      // re-tokenized. Output identical to ft_highlight's re-analysis path.
      val se = searcherFor(s, d, Variant.Offs)
      import s.implicits._
      val hits = se.matchingCached(TermQuery("data")).toDF("docId")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select($"docId", docIdOf($"url"))
        .orderBy($"doc_id").limit(20)
        .as[(Long, Long)].collect()
      val offs = se.offsetsForDocs("data", hits.map(_._1).toSeq)
      val texts = docsDf(s, d)
        .where($"doc_id".isin(hits.map(_._2).toSeq: _*))
        .select($"doc_id", $"text").as[(Long, String)].collect().toMap
      hits.toSeq.map { case (engId, docId) =>
        val o = offs(engId) // first occurrence = first (start, end) pair
        (docId, TextOps.snippetByOffset(texts(docId), o(0), o(1), 2))
      }.toDF("doc_id", "snippet").orderBy($"doc_id")
    }),
    "ft_parent_join" -> ((s, d) => {
      // ToParentBlockJoin re-expression (ref lucene/join
      // ToParentBlockJoinQuery, ScoreMode.Max): children = docs grouped
      // under their source parent; a parent scores as the max of its
      // matching children, carrying the child count
      val se = searcherFor(s, d)
      import s.implicits._
      val scored = se.scoreMatches(se.parse("data OR query"))
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
      graft.search.BlockJoin
        .parentScores(scored, "source", graft.search.BlockJoin.ScoreMode.Max)
        .orderBy($"parent_score".desc, $"source".asc)
        .limit(5)
    }),
    "ft_parent_join_avg" -> ((s, d) => {
      // the same block-join shape under ScoreMode.Avg (ref join/ScoreMode
      // .java Avg): a parent scores as the MEAN of its matching children
      val se = searcherFor(s, d)
      import s.implicits._
      val scored = se.scoreMatches(se.parse("data OR query"))
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
      graft.search.BlockJoin
        .parentScores(scored, "source", graft.search.BlockJoin.ScoreMode.Avg)
        .orderBy($"parent_score".desc, $"source".asc)
        .limit(5)
    }),
    "ft_child_join" -> ((s, d) => {
      // ToChildBlockJoin re-expression (ref lucene/join
      // ToChildBlockJoinQuery): parents matched by the query (parent score
      // = max of matching children) fan back out to ALL their children,
      // each child carrying its parent's score
      val se = searcherFor(s, d)
      import s.implicits._
      val childScores = se.scoreMatches(se.parse("data AND query"))
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"score")
      val topParents = childScores
        .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
        .groupBy($"source")
        .agg(round(max($"score"), 6).as("parent_score"))
        .orderBy($"parent_score".desc, $"source".asc)
        .limit(3)
      docsDf(s, d).select($"doc_id", $"source")
        .join(broadcast(topParents), "source")
        .select($"doc_id", $"parent_score")
        .orderBy($"doc_id")
    }),
    "ft_distance_rank" -> ((s, d) => {
      // distance feature (ref document/LongField.newDistanceFeatureQuery /
      // search/LongDistanceFeatureQuery): boost docs whose numeric value
      // is near an origin — score = text + w * pivot/(pivot + |v - origin|)
      val se = searcherFor(s, d)
      import s.implicits._
      val scored = se.scoreMatches(se.parse("data OR query"))
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"score")
      scored.join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
        .select($"doc_id",
          round($"score" + lit(0.6) * (lit(200.0) /
            (lit(200.0) + abs($"n_chars" - 500).cast("double"))), 6).as("rank"))
        .orderBy($"rank".desc, $"doc_id".asc)
        .limit(15)
    }),
    "ft_expr_rank" -> ((s, d) => {
      // expressions module re-expression: a scalar ranking formula over
      // (score, doc-value) columns — Catalyst codegen instead of the
      // reference's compiled JS expressions (lucene/expressions)
      val se = searcherFor(s, d)
      import s.implicits._
      val scored = se.scoreMatches(se.parse("data OR query"))
        .join(se.docsTable.select($"docId", $"url", $"length"), "docId")
      scored
        .select(docIdOf($"url"),
          round($"score" * 0.7 + log(lit(1.0) + $"length".cast("double")) * 0.3, 6)
            .as("rank_expr"))
        .orderBy($"rank_expr".desc, $"doc_id".asc)
        .limit(15)
    }),
    "ft_suggest" -> ((s, d) => {
      // suggest module re-expression: prefix autocomplete ranked by docFreq
      // (ref lucene/suggest FST lookups -> sorted-dictionary prefix walk)
      val se = searcherFor(s, d)
      import s.implicits._
      IndexSearcher.byDocFreq(se.specTerms(MultiTerm.Prefix("st"))).take(10)
        .map(t => (t.term, t.docFreq)).toDF("term", "doc_freq")
    }),
    "ft_suggest_weighted" -> ((s, d) => {
      // weighted completion suggest (ref suggest/analyzing/
      // AnalyzingSuggester.java FST weight outputs): rank by a curated
      // per-term weight table, docFreq only as tiebreak. The weight table
      // here is collection frequency over the prefix's completions — a
      // deterministic stand-in for a curated completions list.
      import s.implicits._
      val weights = docsDf(s, d)
        .select(explode(split($"text", " ")).as("term"))
        .where($"term".startsWith("st"))
        .groupBy($"term").agg(count(lit(1)).as("weight"))
      searcherFor(s, d).suggestWeighted("st", weights, 10)
    }),
    "ft_suggest_context" -> ((s, d) => {
      // context-filtered completion (ref suggest/document/
      // ContextSuggestField + ContextQuery): completions carry context
      // labels (here: parity of the term's collection frequency — a
      // deterministic stand-in for per-tenant/per-category contexts);
      // only the accepted context competes, best accepted weight wins
      import s.implicits._
      val weights = docsDf(s, d)
        .select(explode(split($"text", " ")).as("term"))
        .where($"term".startsWith("s"))
        .groupBy($"term").agg(count(lit(1)).as("weight"))
        .select($"term", $"weight",
          when($"weight" % 2 === 0, lit("even")).otherwise(lit("odd"))
            .as("context"))
      searcherFor(s, d).suggestWithContexts("s", weights, Set("even"), 10)
    }),
    "ft_suggest_freetext" -> ((s, d) =>
      // free-text next-word suggestion (ref suggest/analyzing/
      // FreeTextSuggester.java): bigram-LM continuations of 'data'
      TextOps.nextWordSuggest(docsDf(s, d), "text", "data", 10)),
    "ft_fuzzy_suggest" -> ((s, d) => {
      // fuzzy-prefix autocomplete (ref suggest/analyzing/FuzzySuggester):
      // 'sca' -> completions of any prefix within 1 Damerau edit
      // (scan exact, small via c->m, spark via c->p)
      searcherFor(s, d).fuzzySuggest("sca", maxEdits = 1, n = 10)
    }),
    "ft_knn_classify" -> ((s, d) => {
      // classification module re-expression (KNearestNeighborClassifier):
      // BM25 top-k neighbors of the query text vote by their source label
      val se = searcherFor(s, d)
      import s.implicits._
      val cand = se.topK(se.parse("data OR query OR stream"), 80)
        .orderBy(round($"score", 6).desc, $"docId".asc).limit(25)
        .as[ScoredDoc].collect()
      se.fetchDocs(cand)
        .select(docIdOf($"url"))
        .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
        .groupBy($"source").agg(count(lit(1)).as("votes"))
        .orderBy($"votes".desc, $"source".asc)
    }),
    "ft_drill_sideways" -> ((s, d) => {
      // facets drill-sideways (ref lucene/facet DrillSideways): for each
      // dimension, count facet values applying every OTHER dimension's
      // drill-down filter but not its own
      import s.implicits._
      val m = ftMatch(s, d, Query.parse("data"))
        .join(docsDf(s, d).select($"doc_id", $"source", $"lang"), "doc_id")
      val bySource = m.where($"lang" === "en")
        .groupBy($"source").agg(count(lit(1)).as("n"))
        .select(lit("source").as("dim"), $"source".as("value"), $"n")
      val byLang = m.where($"source" === "src3")
        .groupBy($"lang").agg(count(lit(1)).as("n"))
        .select(lit("lang").as("dim"), $"lang".as("value"), $"n")
      bySource.unionByName(byLang).orderBy($"dim", $"value")
    }),
    "ft_group_top2" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val se = searcherFor(s, d)
      val q = se.parse("data OR query")
      val scored = se.scoreMatches(q)
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), round($"score", 6).as("score"))
      val withSrc = scored.join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
      val w = Window.partitionBy($"source").orderBy($"score".desc, $"doc_id".asc)
      withSrc.withColumn("rank", row_number().over(w))
        .where($"rank" <= 2)
        .select($"source", $"rank", $"doc_id", $"score")
        .orderBy($"source", $"rank")
    }),
    "ft_group_distinct" -> ((s, d) => {
      // distinct-values grouping (ref grouping/DistinctValuesCollector.java
      // two-pass shape): first pass picks the top groups by best hit score,
      // second counts DISTINCT values of another field over each group's
      // match set — both passes are one agg each, no per-group state
      import s.implicits._
      val se = searcherFor(s, d)
      val scored = se.scoreMatches(se.parse("data OR query"))
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .join(docsDf(s, d).select($"doc_id", $"source", $"lang"), "doc_id")
      val top = scored.groupBy($"source")
        .agg(max($"score").as("best"))
        .orderBy($"best".desc, $"source".asc).limit(3)
      scored.join(broadcast(top), "source")
        .groupBy($"source", $"best")
        .agg(countDistinct($"lang").as("n_langs"), count(lit(1)).as("n_hits"))
        .select($"source", $"best", $"n_langs", $"n_hits")
        .orderBy($"source")
    }),
    "ft_diversified_topk" -> ((s, d) => {
      // diversified top-k (ref lucene/misc DiversifiedTopDocsCollector.java:
      // global top-k with at most maxHitsPerKey hits per key): declaratively,
      // a hit survives iff it is among its key's maxHitsPerKey best by the
      // collector's (score desc, docId asc) order, then the global top-k of
      // the survivors — one keyed window + one TakeOrderedAndProject, no
      // per-key driver state
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val se = searcherFor(s, d)
      val scored = se.scoreMatches(se.parse("data OR query OR stream"))
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
      val w = Window.partitionBy($"source").orderBy($"score".desc, $"doc_id".asc)
      scored.withColumn("krank", row_number().over(w))
        .where($"krank" <= 2)
        .select($"doc_id", $"source", $"score")
        .orderBy($"score".desc, $"doc_id".asc)
        .limit(10)
    }),
    "ft_multirange" -> ((s, d) => {
      // DocValuesMultiRangeQuery (ref sandbox/search): term match AND the
      // numeric doc value in ANY of the requested ranges — overlapping /
      // adjacent ranges coalesce before the scan probes them. The oracle
      // ORs the ORIGINAL ranges: identical results prove the coalescing
      // preserves semantics on real data (the spec proves the fold itself).
      import s.implicits._
      val pred = graft.index.DocValues.multiRangePredicate($"n_chars",
        Seq((120L, 180L), (181L, 240L), (150L, 260L), (400L, 520L)))
      ftMatch(s, d, Query.parse("data"))
        .join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
        .where(pred).select($"doc_id", $"n_chars").orderBy($"doc_id")
    }),
    "ft_dv_stats" -> ((s, d) => {
      // doc-values stats over query matches (ref lucene/misc
      // misc/search/DocValuesStats.java LongDocValuesStats: count/missing/
      // min/max/mean/variance accumulated per matching doc). Mean/variance
      // are derived from EXACT integer sums (count, Σv, Σv²) with the same
      // final double expression on both sides, so the 6-dp rounding never
      // sits on an accumulation-order boundary; variance is population
      // (sumOfSquares/count - mean²), the reference's formula.
      import s.implicits._
      val m = ftMatch(s, d, Query.parse("data"))
        .join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
      val a = m.agg(
        count(lit(1)).as("cnt"),
        sum(when($"n_chars".isNull, 1L).otherwise(0L)).as("missing"),
        min($"n_chars").cast("long").as("min_v"),
        max($"n_chars").cast("long").as("max_v"),
        sum($"n_chars").cast("long").as("s1"),
        sum($"n_chars" * $"n_chars").cast("long").as("s2"))
      a.select(
        $"cnt", $"missing", $"min_v", $"max_v",
        round($"s1".cast("double") / $"cnt", 6).as("mean_v"),
        round($"s2".cast("double") / $"cnt" -
          ($"s1".cast("double") / $"cnt") * ($"s1".cast("double") / $"cnt"), 6)
          .as("variance_v"))
    }),

    // ---- dedup family
    "dedup_exact" -> ((s, d) =>
      // fingerprint on the leading 120 chars (leading-content dedup — the
      // full-text variant is vacuously empty on this corpus; the prefix
      // fingerprint has real duplicate groups to verify against)
      Dedup.exactGroups(
        docsDf(s, d).withColumn("head_text", substring(col("text"), 1, 120)),
        "doc_id", "head_text")
        .orderBy(col("fingerprint"))),
    "dedup_jaccard" -> ((s, d) =>
      // adaptive exact join: sampled Σdf² sketch picks count-based (uniform
      // corpora) vs PPJoin prefix-filter (Zipf heads) — identical results
      // either way (PipelineSpec proves variant equality)
      Dedup.jaccardPairsAuto(docsDf(s, d), "doc_id", "text", w = 2, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_clusters" -> ((s, d) => {
      // cluster formation after pair generation: connected components over
      // the exact-Jaccard pairs via distributed min-label propagation with
      // per-round compression (never a driver union-find)
      val pairs = Dedup.jaccardPairsAuto(docsDf(s, d), "doc_id", "text",
        w = 2, threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy(col("doc_id"))
    }),
    "pipe_split" -> ((s, d) =>
      // deterministic hashed-id train/val/test split, audited per stratum —
      // stable under reruns and upstream row changes (pure function of id)
      graft.pipeline.Sampling.splitCounts(docsDf(s, d), "doc_id", "lang")
        .orderBy(col("split"), col("lang"))),
    "dedup_lines" -> ((s, d) => {
      // CCNet-style boilerplate-line removal: two deterministic 12-token
      // boilerplate lines injected ahead of the body (subscribe banner on
      // even ids, promo line on ids % 3), dropped because their line
      // doc-frequency exceeds the threshold while every body line survives
      val id = col("doc_id")
      val injected = concat(
        when(id % 2 === 0, lit(
          "follow us on social media and subscribe now to our daily newsletter "))
          .otherwise(lit("")),
        when(id % 3 === 0, lit(
          "click here to sign up for premium access and exclusive content today "))
          .otherwise(lit("")),
        col("text"))
      graft.pipeline.Dedup
        .lineDedup(docsDf(s, d).select(id, injected.as("text")),
          "doc_id", "text", lineLen = 12, maxDocFreq = 50)
        .orderBy(col("doc_id"))
    }),
    "dedup_substring" -> ((s, d) => {
      // exact duplicated-substring removal (Lee et al. ACL'22; see
      // Dedup.substringDedup): a fixed 10-token disclaimer prepended on
      // doc_id%4==0 docs duplicates corpus-wide, so every 5-token window
      // inside it drops while the per-doc boundary windows and unique
      // bodies survive; naturally duplicated documents collapse whole
      val id = col("doc_id")
      val injected = concat(
        when(id % 4 === 0, lit(
          "this content is provided as is without any warranty whatsoever "))
          .otherwise(lit("")),
        col("text"))
      graft.pipeline.Dedup
        .substringDedup(docsDf(s, d).select(id, injected.as("text")),
          "doc_id", "text", w = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "dedup_substring_keep" -> ((s, d) => {
      // keep-one-copy substring dedup (Lee et al.'s own policy): the first
      // occurrence — min (doc_id, start) — of each duplicated window stays,
      // so the disclaimer survives in exactly one document and corpus
      // statistics are preserved; same shuffle count as drop-all
      val id = col("doc_id")
      val injected = concat(
        when(id % 4 === 0, lit(
          "this content is provided as is without any warranty whatsoever "))
          .otherwise(lit("")),
        col("text"))
      graft.pipeline.Dedup
        .substringDedup(docsDf(s, d).select(id, injected.as("text")),
          "doc_id", "text", w = 5, keepFirst = true)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "pipe_url_dedup" -> ((s, d) => {
      // canonical-URL capture dedup: messy crawl spellings (scheme/host
      // case, default ports, trailing slashes, tracking params, query
      // order, fragments) synthesized deterministically per doc_id,
      // collapsed by UrlOps.canonicalUrl (pure codegen'd columns), latest
      // capture kept — ONE hash shuffle on the canonical key
      val id = col("doc_id")
      val url = concat(
        when(id % 3 === 0, lit("HTTP://")).otherwise(lit("https://")),
        lit("Site"), (id % 50).cast("string"), lit(".Example.com"),
        when(id % 4 === 0, lit(":443"))
          .when(id % 7 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), (id % 200).cast("string"),
        when(id % 5 === 0, lit("/")).otherwise(lit("")),
        when(id % 2 === 0,
          concat(lit("?utm_source=feed&b=2&a="), (id % 4).cast("string")))
          .when(id % 9 === 0,
            concat(lit("?a="), (id % 4).cast("string"), lit("&b=2")))
          .otherwise(lit("")),
        when(id % 11 === 0, lit("#frag")).otherwise(lit("")))
      graft.pipeline.UrlOps
        .latestCapture(docsDf(s, d).select(id, url.as("url")),
          "url", "doc_id", "doc_id")
        .orderBy(col("curl"))
    }),
    "web_domain_stats" -> ((s, d) => {
      // per-domain crawl rollup (head-domain skew report): registrable
      // domain = last two host labels after canonicalization; pages,
      // distinct canonical urls/hosts/langs, exact-sum mean text length —
      // ONE hash shuffle on the domain key
      val pages = s.read.parquet(s"$d/documents.parquet")
        .withColumn("u", webUrlOf(col("doc_id")))
      graft.pipeline.UrlOps.domainStats(pages, "u", "n_chars", "lang")
        .select(col("domain"), col("pages").cast("bigint").as("pages"),
          col("n_urls").cast("bigint").as("n_urls"),
          col("n_hosts").cast("bigint").as("n_hosts"),
          col("n_langs").cast("bigint").as("n_langs"),
          round(col("avg_len"), 4).as("avg_len"))
        .orderBy(col("domain"))
    }),
    "web_domain_cap" -> ((s, d) => {
      // head-domain rate capping: domains over 120 pages downsample to
      // ~120 by hashed-id residue — deterministic, partition-independent,
      // no per-group ranking task (Sampling.capPerKey)
      import s.implicits._
      val u = graft.pipeline.UrlOps
      val pages = s.read.parquet(s"$d/documents.parquet")
        .withColumn("domain", u.registrableDomain(
          u.hostOf(u.canonicalUrl(webUrlOf(col("doc_id"))))))
      graft.pipeline.Sampling.capPerKey(pages, "domain", "doc_id", 120L)
        .select($"doc_id", $"domain").orderBy($"doc_id")
    }),
    "web_domain_psl" -> ((s, d) => {
      // PSL registrable domains over a corpus that actually exercises
      // multi-label public suffixes: co.uk / com.au hosts must group by
      // registrant (site7.co.uk), private-registry suffixes (github.io)
      // by their subdomain, and the *.ck wildcard family with its !www.ck
      // exception per the published rule algebra. Rule table broadcasts;
      // the host dimension joins by hash.
      import s.implicits._
      val id = col("doc_id")
      val host = concat(
        when(id % 4 === 0, lit("www.")).otherwise(lit("")),
        lit("site"), (id % 9).cast("string"), lit("."),
        when(id % 5 === 0, lit("co.uk"))
          .when(id % 5 === 1, lit("com.au"))
          .when(id % 5 === 2, lit("example.com"))
          .when(id % 5 === 3, lit("github.io"))
          .otherwise(lit("wild.ck")))
      val pages = s.read.parquet(s"$d/documents.parquet")
        .select($"doc_id", host.as("host"))
      graft.pipeline.PublicSuffix.withRegistrableDomain(pages, "host")
        .groupBy($"domain").agg(count(lit(1)).as("pages"))
        .orderBy($"domain")
    }),
    "web_anchor_texts" -> ((s, d) => {
      // anchor-text corpus: per-doc HTML with two well-formed links (messy
      // hrefs — case, default port, trailing slash, tracking param) and one
      // unterminated link, synthesized as pure functions of doc_id; pairs
      // extracted by ONE whole-link regex (malformed tag drops only its own
      // pair), hrefs canonicalized, rollup per link target — one explode +
      // one hash shuffle on the target
      val id = col("doc_id")
      graft.pipeline.UrlOps
        .anchorTexts(docsDf(s, d).select(id, anchorHtmlOf(id).as("html")),
          "html", "doc_id")
        .orderBy(col("target"))
    }),
    "web_noindex" -> ((s, d) => {
      // robots-directive gate: meta robots in either attribute order,
      // token-boundary noindex match ("index,nofollow" must survive);
      // zero-shuffle filter
      val id = col("doc_id")
      val html = concat(lit("<html><head>"),
        when(id % 6 === 0,
          lit("<meta name=\"robots\" content=\"noindex,follow\">"))
          .when(id % 9 === 0,
            lit("<meta content=\"noarchive, noindex\" name=\"robots\">"))
          .when(id % 7 === 0,
            lit("<meta name=\"robots\" content=\"index,nofollow\">"))
          .otherwise(lit("")),
        lit("</head><body>x</body></html>"))
      graft.pipeline.UrlOps
        .dropNoindex(docsDf(s, d).select(id, html.as("html")), "html")
        .select(id).orderBy(id)
    }),
    "web_nofollow_anchors" -> ((s, d) => {
      // anchor rollup with rel="nofollow" links dropped (no ranking
      // endorsement): same synthesized pages as web_anchor_texts — the
      // %3 topic link carries rel="nofollow" and must vanish
      val id = col("doc_id")
      graft.pipeline.UrlOps
        .anchorTexts(docsDf(s, d).select(id, anchorHtmlOf(id).as("html")),
          "html", "doc_id", dropNofollow = true)
        .orderBy(col("target"))
    }),
    "web_canonical_fold" -> ((s, d) => {
      // canonical-link folding: every 4th page declares a (messy-spelled)
      // canonical target; effective identity = canonicalized declared
      // target, else own URL — the group sizes per effective URL gate the
      // fold; one hash shuffle on eff_url
      val id = col("doc_id")
      val html = concat(lit("<html><head>"),
        when(id % 4 === 0, concat(
          lit("<link rel=\"canonical\" href=\"HTTPS://Site"),
          (id % 30).cast("string"), lit(".Example.com:443/p/"),
          (id % 40).cast("string"), lit("/\">"))).otherwise(lit("")),
        lit("</head><body>x</body></html>"))
      val own = concat(lit("https://site"), (id % 30).cast("string"),
        lit(".example.com/p/self/"), id.cast("string"))
      graft.pipeline.UrlOps
        .foldCanonical(docsDf(s, d)
          .select(id, html.as("html"), own.as("url")), "html", "url")
        .groupBy(col("eff_url"))
        .agg(count(lit(1)).cast("bigint").as("n_pages"))
        .orderBy(col("eff_url"))
    }),
    "web_anchor_search" -> ((s, d) => {
      // anchor-boosted web search: BM25F over body (weight 1) + inlink
      // anchor text (weight 2) from the link graph — the anchor corpus
      // feeding the ranker, the classic web-search signal loop
      val se = searcherFor(s, d, Variant.Web)
      val q = CombinedFieldQuery("data", Seq("anchor" -> 2.0, "body" -> 1.0))
      topKDf(se, q, 10)
    }),
    "web_pagerank" -> ((s, d) => {
      // link-graph PageRank (5 iterations, d=0.85): synthetic multigraph
      // from doc_id arithmetic — every 10th page dangling (exercises the
      // redistribution term), every 3rd page a third out-link, doc 6 a
      // parallel edge; per iteration ONE edges⋈ranks join + ONE dst agg,
      // dangling mass as a 1-row broadcast, one materializing barrier per
      // iteration (Pregel superstep — lazy fixed points triple the plan
      // per round); output scaled by N so 6-dp rounding is well-conditioned
      val docs = docsDf(s, d).select(col("doc_id"))
      val (n, edges) = webEdges(docs)
      graft.pipeline.WebGraph
        .pageRank(docs, "doc_id", edges, "src", "dst", iters = 5)
        .select(col("id").as("doc_id"),
          round(col("pr") * n, 6).as("pr_n"))
        .orderBy(col("doc_id"))
    }),
    "web_hits" -> ((s, d) => {
      // HITS hubs & authorities (3 iterations, L2-normalized) on the same
      // synthetic multigraph as web_pagerank; two join+agg pairs per
      // iteration, norms as 1-row broadcasts, one barrier per iteration
      val docs = docsDf(s, d).select(col("doc_id"))
      val (_, edges) = webEdges(docs)
      graft.pipeline.WebGraph
        .hits(docs, "doc_id", edges, "src", "dst", iters = 3)
        .select(col("id").as("doc_id"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
        .orderBy(col("doc_id"))
    }),
    "web_recrawl_diff" -> ((s, d) => {
      // incremental-crawl snapshot diff: previous capture under messy URL
      // spellings, current under clean ones (the join must go through
      // canonicalization); every 13th page gone, every 7th changed, every
      // 17th spawns a new page — new/changed feed NRT re-index, gone feeds
      // tombstones; one full-outer hash join on the canonical key
      val id = col("doc_id")
      val urlMessy = concat(lit("HTTPS://Site"), (id % 30).cast("string"),
        lit(".Example.com:443/p/"), id.cast("string"), lit("/"))
      val urlClean = concat(lit("https://site"), (id % 30).cast("string"),
        lit(".example.com/p/"), id.cast("string"))
      val docs = docsDf(s, d)
      val prev = docs.select(urlMessy.as("url"), md5(col("text")).as("fp"))
      val next = docs.where(id % 13 =!= 0)
        .select(urlClean.as("url"),
          when(id % 7 === 0, md5(concat(col("text"), lit("v2"))))
            .otherwise(md5(col("text"))).as("fp"))
        .union(docs.where(id % 17 === 0)
          .select(concat(urlClean, lit("-new")).as("url"),
            md5(concat(col("text"), lit("new"))).as("fp")))
      graft.pipeline.UrlOps.recrawlDiff(prev, next, "url", "fp")
        .orderBy(col("curl"))
    }),
    "web_redirect_fold" -> ((s, d) => {
      // 3xx redirect-chain folding: a deterministic redirect map over
      // doc_ids (two-hop chains on the %5∈{1,2} band, a genuine 2-cycle on
      // every %50∈{48,49} pair) resolved by pointer doubling — log2(16) = 4
      // balanced self-joins, cycle rows saturate at maxHops and report
      // resolved = false; the oracle walks the same map with a bounded
      // recursive CTE
      val id = col("doc_id")
      val docs = docsDf(s, d)
      val n = docs.count()
      val edges = docs.where((id % 5 === 1 || id % 5 === 2) && id + 1 < n)
        .select(id.as("src"), (id + 1).as("dst"))
        .union(docs.where(id % 50 === 48 && id + 1 < n)
          .select(id.as("src"), (id + 1).as("dst")))
        .union(docs.where(id % 50 === 49)
          .select(id.as("src"), (id - 1).as("dst")))
      graft.pipeline.UrlOps.resolveRedirects(edges, "src", "dst", maxHops = 16)
        .orderBy(col("src"))
    }),
    "web_robots" -> ((s, d) => {
      // robots.txt longest-match decisions (RFC 9309 §2.2.2: longest
      // pattern wins, tie -> Allow, no match -> allowed) over a
      // deterministic path family; the rule group broadcasts, one hash agg
      val id = col("doc_id")
      val path = when(id % 6 === 0, concat(lit("/p/"), (id % 40).cast("string")))
        .when(id % 6 === 1, concat(lit("/admin/"), (id % 7).cast("string")))
        .when(id % 6 === 2, concat(lit("/admin/public/"), (id % 5).cast("string")))
        .when(id % 6 === 3, concat(lit("/files/f"), (id % 9).cast("string"), lit(".json")))
        .when(id % 6 === 4, concat(lit("/p/1"), (id % 3).cast("string")))
        .otherwise(lit("/"))
      val paths = docsDf(s, d).select(id.as("doc_id"), path.as("path"))
      graft.pipeline.UrlOps.robotsDecisions(paths, "doc_id", "path", RobotRules)
        .orderBy(col("doc_id"))
    }),
    "pipe_token_budget" -> ((s, d) => {
      // token-budget selection in deterministic hash order: a global
      // ordered cumsum by semantics, executed as range-bucket totals +
      // driver prefix-sum + one boundary-bucket window (never a global
      // window — the 100 TB shape)
      import s.implicits._
      val docs = docsDf(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("bigint").as("ntok"))
      graft.pipeline.Sampling.takeTokenBudget(docs, "doc_id", "ntok", 12000L)
        .select($"doc_id", $"ntok").orderBy($"doc_id")
    }),
    "pipe_pack" -> ((s, d) => {
      // sequence packing (concat-and-chunk): global token offsets in
      // deterministic hash order, cut into 2048-token training windows —
      // executed as bucket totals + driver prefix-sum + per-bucket window
      // (largest single-task sort = corpus/2^16, never the corpus)
      import s.implicits._
      val docs = docsDf(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("bigint").as("ntok"))
      graft.pipeline.Sampling.packSequences(docs, "doc_id", "ntok", seqLen = 2048L)
        .orderBy($"doc_id")
    }),
    "pipe_decontaminate" -> ((s, d) => {
      // benchmark decontamination: train docs sharing any distinct
      // 3-shingle with the eval set (doc_id % 50 == 0) are dropped; the
      // eval shingle set broadcasts — the train corpus never self-joins
      import s.implicits._
      val docs = docsDf(s, d)
      val evalDf = docs.where($"doc_id" % 50 === 0)
      val train = docs.where($"doc_id" % 50 =!= 0)
      Dedup.decontaminate(train, "doc_id", "text", evalDf, "text", w = 3)
        .select($"doc_id").orderBy($"doc_id")
    }),
    "pipe_mix" -> ((s, d) => {
      // deterministic data-mixture resampling: sources weighted 0.5/0.3/0.2,
      // scarcest source caps the mixture, hashed-id threshold keeps a
      // rerun-stable subset
      import s.implicits._
      graft.pipeline.Sampling.resampleMixture(docsDf(s, d), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select($"doc_id", $"source").orderBy($"doc_id")
    }),
    "pipe_dsir" -> ((s, d) => {
      // DSIR importance resampling (Xie et al. NeurIPS'23): hashed
      // unigram+bigram models over the en slice (target) vs the rest
      // (raw pool); keep the top 25% of raw docs by log-likelihood ratio
      import s.implicits._
      graft.pipeline.Sampling.dsirSelect(docsDf(s, d), "doc_id", "text",
        isTarget = $"lang" === "en", buckets = 1024, keepFrac = 0.25)
        .orderBy($"doc_id")
    }),
    "dedup_minhash_lsh" -> ((s, d) => // no SQL oracle: seeded-hash approximation
      Dedup.minHashLshPairs(docsDf(s, d), "doc_id", "text", w = 2,
        bands = 8, rowsPerBand = 4, minSigSim = 0.5)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_simhash" -> ((s, d) => // no SQL oracle: seeded-hash signature
      // hamming<=3 near-dup pairs via pigeonhole band bucketing (4x16-bit)
      Dedup.simHashPairs(docsDf(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_semantic" -> ((s, d) =>
      // SemDeDup: deterministic k-medians clustering + within-cluster
      // keep-lowest-id cosine prune; full unrolled-Lloyd DuckDB oracle
      Dedup.semanticDedup(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", k = 8, iters = 3, tau = 0.4)),
    "dedup_embed" -> ((s, d) => // no SQL oracle: LSH recall < 1 by design
      // the scale path: SRP-bucketed candidates + exact cosine verify
      Dedup.embeddingPairsLsh(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0.3,
        dim = 64, planes = 6, tables = 8)
        .orderBy(col("id_a"), col("id_b"))),
    "mm_decode" -> ((s, d) => {
      // REAL image decode, no stub: deterministic PNGs rendered per doc
      // (JDK ImageIO), shipped as a binary column, header-parsed back in a
      // batched per-partition pass — dimensions/format from the ACTUAL
      // bytes. The oracle recomputes the deterministic dimensions from ids.
      import s.implicits._
      val imgs = docsDf(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticPng((id % 64 + 16).toInt,
            ((id * 7) % 48 + 16).toInt, id))
        }).toDF("id", "png")
      Multimodal.decodeImages(s, imgs, "id", "png")
        .toDF("id", "width", "height", "format")
        .orderBy($"id")
    }),
    "mm_audio" -> ((s, d) => {
      // REAL audio decode (JDK javax.sound): deterministic 16-bit mono
      // WAVs, header-parsed back to (frames, sample_rate, channels)
      import s.implicits._
      val wavs = docsDf(s, d).select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticWav((id % 1000 + 100).toInt,
            (8000 + (id % 4) * 4000).toInt, id))
        }).toDF("id", "wav")
      Multimodal.decodeAudio(s, wavs, "id", "wav")
        .toDF("id", "frames", "sample_rate", "channels")
        .orderBy($"id")
    }),
    "dedup_minhash_recall" -> ((s, d) =>
      // official recall row for the minhash-LSH family: the portable md5
      // hash family makes signatures, banding, verification AND recall
      // independently computable by the DuckDB oracle. Standard LSH
      // evaluation — pipeline operates at J=0.5, the guarantee is stated
      // for the J>=0.8 band it targets (recall at the operating threshold
      // itself decays by construction: the S-curve midpoint). Floor
      // asserted in-entry; measured 1.0 at sf0.01/0.1 and >=0.97 at sf1.0.
      Dedup.minHashRecall(docsDf(s, d), "doc_id", "text", w = 2,
        threshold = 0.5, truthThreshold = 0.8, bands = 8, rowsPerBand = 2,
        minSigSim = 0.5, recallFloor = 0.95)),
    "dedup_simhash_recall" -> ((s, d) =>
      // hamming<=3 of 64 targets near-identical docs: recall stated for
      // the J>=0.9 band under the portable token-hash family
      Dedup.simHashRecall(docsDf(s, d), "doc_id", "text", w = 2,
        truthThreshold = 0.9, maxHamming = 3, recallFloor = 0.4)),
    "dedup_embed_recall" -> ((s, d) =>
      // SRP-LSH recall vs the exact cosine>=0.3 pair set at the production
      // parameters. The testdata embeddings are structureless (max pairwise
      // cos ~0.5), so this is LSH's theoretical floor case — recall ~0.35,
      // floor 0.3; the planted-dup spec measures the near-dup regime
      Dedup.embeddingRecall(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", 0.3, dim = 64, planes = 6, tables = 8,
        recallFloor = 0.3)),
    "ann_lsh_recall" -> ((s, d) =>
      // lshTopK recall vs exact all-pairs top-5 at production parameters
      // (8 planes x 4 tables). Random vectors make true top-5 neighbors
      // barely-correlated (cos ~0.3-0.4) — collision probability and hence
      // recall (~0.08) are the documented floor case; floor 0.05
      Similarity.lshRecall(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", dim = 64, k = 5, recallFloor = 0.05)),
    "dedup_embed_exact" -> ((s, d) =>
      // exact all-pairs validation baseline (threshold joins over
      // unstructured embeddings are Ω(n²) exact; see embeddingPairsLsh)
      Dedup.embeddingPairs(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- similarity search
    "ann_topk" -> ((s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .as[Array[Float]].head()
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 10, excludeId = Some(0L))
    }),
    "ann_sq_topk" -> ((s, d) =>
      // int7 scalar-quantized cosine top-k (ref ScalarQuantizer.java:50-51):
      // byte = round((x-lo)*127/(hi-lo)), x^ = lo + byte*(hi-lo)/127; the
      // fit is the exact global [min,max] so the ranking is a pure function
      // the DuckDB oracle replicates
      Quantize.topK(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10)),
    "ann_sq_rescore" -> ((s, d) =>
      // two-stage quantized search: top-50 by quantized sim, exact rescore
      // of the 50 (ref Lucene99ScalarQuantizedVectorScorer quantized
      // scoring + rescore) — equals the exact top-10 (oracle asserts)
      Quantize.topKRescored(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10, c = 50)),
    "ann_sq_recall" -> ((s, d) =>
      // (found, total, recall): exact top-10 recovered by the PURE quantized
      // ranking (no rescore) — both sides deterministic, full SQL oracle
      Quantize.recall(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10, recallFloor = 0.8)),
    "ann_bq_topk" -> ((s, d) =>
      // 1-bit binary-quantized ranking (ref lucene102
      // Lucene102BinaryQuantizedVectorsFormat): sign bits of
      // midrange-centered components packed into ONE long (32x smaller
      // than float32), ranked by popcount(xor) Hamming distance — a pure
      // function the oracle replicates from the raw floats
      Quantize.bqTopK(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10)),
    "ann_bq_rescore" -> ((s, d) => {
      // two-stage 1-bit search: top-c candidates by the ASYMMETRIC
      // estimator (full-precision centered query · sign vector, the
      // reference's asymmetric-comparison shape), exact float rescore of
      // only those c. The pool is CORPUS-PROPORTIONAL, c = max(200, n/25):
      // a fixed pool dilutes as the corpus grows (measured 0.9 -> 0.6
      // recall from 5k to 20k vectors at c=200; 4% restores 0.9). The
      // oracle replicates the full pipeline, same dynamic cut.
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      Quantize.bqTopKRescored(emb, "vec_id", "embedding", queryId = 0L,
        k = 10, c = math.max(200L, emb.count() / 25).toInt)
    }),
    "ann_bq_recall" -> ((s, d) => {
      // (found, total, recall): exact top-10 recovered by the rescored
      // 1-bit ranking at pool max(200, n/25) (measured 0.9-1.0 from 500
      // to 20k vectors — the worst case, near-random uniform components) —
      // official quality row, floor asserted in-entry
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      Quantize.bqRecall(emb, "vec_id", "embedding", queryId = 0L, k = 10,
        c = math.max(200L, emb.count() / 25).toInt, recallFloor = 0.85)
    }),
    "ann_lsh_topk" -> ((s, d) => // no SQL oracle: LSH bucketing approximation
      Similarity.lshTopK(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", dim = 64, k = 5)
        .select(col("id"), col("nbr"), col("sim"), col("rank"))
        .orderBy(col("id"), col("rank"))),
    "ann_ivf_topk" -> ((s, d) => { // no SQL oracle: nprobe < nCenters approximation
      // persistent IVF index: built once per corpus, queries probe 4/16
      // cells with a cell IN pushdown (row-group pruning)
      import s.implicits._
      val idx = indexDirFor(d).resolve("ann_ivf").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      graft.pipeline.AnnIndex.build(emb, "vec_id", "embedding", dim = 64,
        outDir = idx, nCenters = 16, lloydIters = 2)
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .as[Array[Float]].head()
      graft.pipeline.AnnIndex.topK(s, idx, qv, k = 10, nprobe = 4, excludeId = Some(0L))
    }),
    "ann_ivf_exact" -> ((s, d) => {
      // IVF with nprobe = nCenters: exact by construction (probes every
      // cell) — gives the AnnIndex build/topK path an official SQL oracle
      import s.implicits._
      val idx = indexDirFor(d).resolve("ann_ivf").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      graft.pipeline.AnnIndex.build(emb, "vec_id", "embedding", dim = 64,
        outDir = idx, nCenters = 16, lloydIters = 2)
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .as[Array[Float]].head()
      graft.pipeline.AnnIndex.topK(s, idx, qv, k = 10, nprobe = 16, excludeId = Some(0L))
        .select(col("id").as("vec_id"), col("sim"))
    }),
    "ann_hnsw_topk" -> ((s, d) => { // no SQL oracle: graph-pruned approximation
      // per-partition HNSW graphs, fan-out search, global top-k merge —
      // the reference's per-segment sharding (Lucene99HnswVectorsFormat)
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .as[Array[Float]].head()
      graft.pipeline.Hnsw.topK(emb, "vec_id", "embedding", qv, 10,
          excludeId = Some(0L))
        .select(col("id").as("vec_id"), col("sim"))
    }),
    "ann_hnsw_exact" -> ((s, d) => {
      // efSearch = MaxValue clamps to partition size = exhaustive traversal
      // of the spanning-tree-connected layer 0: exact by construction, so
      // the whole graph build + search machinery gets a full SQL oracle
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .as[Array[Float]].head()
      graft.pipeline.Hnsw.topK(emb, "vec_id", "embedding", qv, 10,
          efSearch = Int.MaxValue, excludeId = Some(0L))
        .select(col("id").as("vec_id"), col("sim"))
    }),
    "ann_hnsw_join" -> ((s, d) => {
      // batch kNN join in the oracle-gated exact mode: one graph build per
      // partition answers the whole broadcast query batch (the
      // training-pipeline retrieval shape); efSearch = MaxValue makes the
      // layer-0 traversal exhaustive, so DuckDB's windowed cross join is
      // the exact truth
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val qs = emb.where(col("vec_id") < 5)
      graft.pipeline.Hnsw.knnJoin(emb, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10,
          efSearch = Int.MaxValue, excludeSelf = true)
        .select(col("qid"), col("id").as("vec_id"), col("sim"))
    }),
    "ann_hnsw_recall" -> ((s, d) => {
      // production-parameter recall vs the exact brute force, floor
      // asserted in-entry (companion gate for ann_hnsw_topk)
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .as[Array[Float]].head()
      graft.pipeline.Hnsw.recall(emb, "vec_id", "embedding", qv, 10,
        excludeId = Some(0L), recallFloor = 0.8)
    }),

    // ---- text analysis
    "text_tokens" -> ((s, d) =>
      TextOps.tokenCounts(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_quality" -> ((s, d) =>
      TextOps.quality(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_langid" -> ((s, d) =>
      TextOps.langId(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_pii_scrub" -> ((s, d) => {
      // PII redaction audit: deterministic synthetic PII (email, IPv4,
      // phone, all functions of doc_id) injected into the corpus text,
      // scrubbed by the codegen'd regexp_replace chain; per-doc category
      // counts + scrubbed-text fingerprint. No shuffle — one projection.
      val id = col("doc_id")
      val injected = concat(col("text"),
        lit(" contact user"), id.cast("string"),
        lit("@mail"), (id % 10).cast("string"), lit(".example.com"),
        lit(" from 10."), (id % 256).cast("string"),
        lit(".0."), (id % 100).cast("string"),
        lit(" call "), (id % 900 + 100).cast("string"),
        lit("-"), (id % 900 + 100).cast("string"),
        lit("-"), (id % 9000 + 1000).cast("string"))
      TextOps.piiStats(docsDf(s, d).select(id, injected.as("text")),
        "doc_id", "text").orderBy(col("doc_id"))
    }),
    "text_langid_ngram" -> ((s, d) => {
      // Cavnar–Trenkle rank-profile language ID over char bigrams:
      // profiles fit on the 90% train slice, out-of-place distance
      // classifies the held-out 10% (same split as ft_nb_classify)
      import s.implicits._
      val docs = docsDf(s, d)
      TextOps.langIdNgram(
        docs.where($"doc_id" % 10 =!= 0), docs.where($"doc_id" % 10 === 0),
        "doc_id", "text", "lang", k = 40)
        .orderBy($"doc_id")
    }),
    "text_gopher" -> ((s, d) =>
      // Gopher/MassiveText composite quality rules: word-count band, mean
      // word length, alphabetic fraction, distinct-required-stopword count
      TextOps.gopherRules(docsDf(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "text_gopher_rep" -> ((s, d) =>
      // Gopher repetition rules: top n-gram char fraction (n=2..4) +
      // duplicate n-gram char coverage with overlap counted once (n=5..10)
      TextOps.gopherRepetition(docsDf(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "text_bpe_merges" -> ((s, d) =>
      // BPE training (Sennrich ACL'16): 8 most frequent adjacent-pair
      // merges over the distinct-word histogram, deterministic tie-break
      bpeModelFor(s, d).merges.orderBy(col("merge_rank"))),
    "text_bpe_encode" -> ((s, d) =>
      // per-doc BPE token counts: final symbol table joined to doc words
      Bpe.encode(docsDf(s, d), "doc_id", "text", bpeModelFor(s, d))
        .orderBy(col("doc_id"))),
    "text_unigram_xent" -> ((s, d) =>
      // CCNet-style unigram LM quality score: model fit + per-doc
      // cross-entropy, vocabulary-sized broadcast join back
      TextOps.unigramCrossEntropy(docsDf(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "text_fingerprint" -> ((s, d) =>
      TextOps.fingerprintMd5(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_termstats" -> ((s, d) =>
      TextOps.termStats(docsDf(s, d), "doc_id", "text")
        .orderBy(col("doc_freq").desc, col("term").asc).limit(25)),
    "text_repetition" -> ((s, d) =>
      // duplicated-3-gram ratio (boilerplate / degenerate-text filter)
      TextOps.repetition(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_shingles" -> ((s, d) =>
      // 2-gram shingle stats (ref analysis/shingle/ShingleFilter): narrow
      // codegen'd window expansion + partial-agg count
      TextOps.shingleStats(docsDf(s, d), "doc_id", "text", n = 2)
        .orderBy(col("n").desc, col("shingle").asc).limit(25)),
    "text_stem_minimal" -> ((s, d) => {
      // differential stemmer check: the Scala rule table
      // (EnglishMinimalStemmer) vs an independent SQL CASE replica in the
      // oracle, over every corpus term x 6 suffix variants
      import s.implicits._
      docsDf(s, d).select(explode(split($"text", " ")).as("term"))
        .distinct().as[String]
        .flatMap(t => Seq("", "s", "es", "ies", "ss", "us").map { sfx =>
          val v = t + sfx
          (t, v, graft.analysis.EnglishMinimalStemmer(v))
        })
        .toDF("term", "variant", "stemmed")
        .orderBy($"term", $"variant")
    }),
    "text_fold" -> ((s, d) => {
      // accent folding: Scala NFD-decompose-and-strip vs DuckDB's
      // independent ICU strip_accents, over accent-injected corpus terms
      import s.implicits._
      docsDf(s, d).select(explode(split($"text", " ")).as("term"))
        .distinct()
        .select(col("term"), translate(col("term"), "aeiou", "áéíóü").as("accented"))
        .as[(String, String)]
        .map { case (t, a) => (t, a, graft.analysis.AsciiFolding(a)) }
        .toDF("term", "accented", "folded")
        .orderBy($"term")
    }),
    "ft_stem_topk" -> ((s, d) => {
      // stemmed-analyzer engine path: build + query through the minimal
      // stemmer; 'queries OR tables' matches the conflated postings
      val se = searcherFor(s, d, Variant.Stem)
      val q = se.parse("queries OR tables")
      topKDf(se, q, 10)
    }),
    "ft_cjk_topk" -> ((s, d) => {
      // CJK bigram analysis chain end-to-end (ref CJKBigramFilter): the
      // mixed-script corpus indexes Han/Katakana/Hangul runs as character
      // bigrams; the query string analyzes through the SAME chain, so
      // "数据库 web" scores as the bigram disjunction 数据+据库+web with
      // full BM25 (double-oracle precision)
      val se = searcherFor(s, d, Variant.Cjk)
      val qTerms = se.analyzer.tokens("数据库 web").map(_.term)
      val q = Query.or(qTerms: _*)
      topKDf(se, q, 10)
    }),
    "ft_nb_classify" -> ((s, d) => {
      // Naive Bayes classification (ref SimpleNaiveBayesClassifier): train
      // on 90% of docs (doc_id % 10 != 0), predict lang for the rest
      val docs = docsDf(s, d)
      graft.pipeline.Classify.naiveBayes(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", "lang")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal plumbing (stubbed decode, real schema/batching)
    "mm_meta" -> ((s, d) =>
      Multimodal.extractMeta(s,
        Multimodal.withBinary(docsDf(s, d), "text", "payload"), "doc_id", "payload")
        .orderBy(col("id")).toDF()),

    // ---- streaming
    "stream_percolate" -> ((s, d) => {
      val stored = Seq(
        "alert_sd" -> Query.parse("spark AND data"),
        "alert_vm" -> Query.parse("vector OR merge"),
        "alert_cb" -> Query.parse("customer NOT batch"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      Streaming.percolateParquetStream(s, s"$d/documents.parquet",
        "doc_id", "text", stored, ckpt)
        .orderBy(col("query_id"), col("doc"))
    }),
    "stream_session" -> ((s, d) => {
      // per-user session windows at a 30-minute inactivity gap
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      Streaming.sessionWindows(s, s"$d/events.parquet", "30 minutes", "0 seconds", ckpt)
        .orderBy(col("user_id"), col("session_start"))
    }),
    "stream_dedup" -> ((s, d) => {
      // exactly-once under at-least-once delivery: every event arrives
      // TWICE (duplicated source files); streaming dropDuplicates on the
      // event key restores single-delivery counts
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      Streaming.dedupedEventCounts(s, s"$d/events.parquet", "event_id", ckpt)
        .orderBy(col("event_type"))
    }),
    "stream_window_agg" -> ((s, d) => {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      Streaming.windowedEventCounts(s, s"$d/events.parquet", "1 hour", "0 seconds", ckpt)
        .orderBy(col("window_start"), col("event_type"))
    }),
    "stream_join" -> ((s, d) => {
      // stream-stream interval join (attribution: purchases within 1 hour
      // after a view by the same user); watermarks bound the join state to
      // one window per side, inner-append emits matches immediately
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      Streaming.intervalJoinPairs(s, s"$d/events.parquet",
          "view", "purchase", "1 hour", ckpt)
        .orderBy(col("left_id"), col("right_id"))
    }),

    "ft_facet_range" -> ((s, d) => {
      // range facets (ref facet LongRangeFacetCounts): doc-length buckets
      // over the match set of a drill-down query
      val se = searcherFor(s, d)
      import s.implicits._
      val m = se.matchingCached(se.parse("data")).toDF("docId")
      val bucket = when($"length" < 30, "short")
        .when($"length" < 60, "medium").otherwise("long")
      m.join(se.docsTable.select($"docId", $"length"), "docId")
        .groupBy(bucket.as("len_range")).agg(count(lit(1)).as("n_docs"))
        .orderBy($"len_range")
    }),
    "ft_facet_dynrange" -> ((s, d) => {
      // dynamic (equi-weight) range facets (ref facet
      // facet/range/DynamicRangeUtil.java: split matching docs' values into
      // B ranges of ~equal doc weight). ntile(4) over the TOTAL order
      // (n_chars, doc_id) — but with NO global window: a per-VALUE count
      // aggregate (domain-sized, not corpus-sized) feeds a driver prefix
      // sum; each row's global rank = its value's offset + a row_number
      // inside the KEYED value window; the tile is then closed-form ntile —
      // the same bucket-totals + prefix-sum shape as sequence packing
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val m = ftMatch(s, d, Query.parse("data"))
        .join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
      val counts = m.groupBy($"n_chars").agg(count(lit(1)).as("c"))
        .orderBy($"n_chars").collect()
      val n = counts.map(_.getLong(1)).sum
      val offsets = counts.map(_.getLong(1)).scanLeft(0L)(_ + _).init
      val offMap = counts.map(_.getLong(0)).zip(offsets).toMap
      val bTiles = 4L
      val size = n / bTiles
      val rem = n % bTiles
      val w = Window.partitionBy($"n_chars").orderBy($"doc_id".asc)
      val rank = element_at(typedLit(offMap), $"n_chars") +
        row_number().over(w).cast("long")
      val tile = when(lit(rem) > 0 && rank <= lit((size + 1) * rem),
          (rank - 1) / lit(size + 1) + 1)
        .otherwise(lit(rem) + (rank - 1 - lit((size + 1) * rem)) / lit(size) + 1)
      m.withColumn("tile", tile.cast("int"))
        .groupBy($"tile")
        .agg(min($"n_chars").as("lo"), max($"n_chars").as("hi"),
          count(lit(1)).as("n_docs"))
        .orderBy($"tile")
    }),
    "ft_mlt_topk" -> ((s, d) => {
      // MoreLikeThis: top tf-idf terms of doc 0's text drive a disjunction
      val se = searcherFor(s, d)
      import s.implicits._
      val srcText = docsDf(s, d).where($"doc_id" === 0)
        .select($"text").as[String].head()
      val q = se.moreLikeThis(srcText, maxTerms = 5)
      topKDf(se, q, 10)
    }),
    "ft_mlt_like" -> ((s, d) => {
      // df-gated MoreLikeThis (ref queries/mlt/MoreLikeThis.java): doc 0's
      // terms with tf>=minTermFreq and df>=minDocFreq ranked by
      // tf*ClassicSimilarity idf, top-8 as boosted SHOULD clauses
      // (boostTerms), seed doc excluded from the hits
      val se = searcherFor(s, d)
      import s.implicits._
      val srcText = docsDf(s, d).where($"doc_id" === 0)
        .select($"text").as[String].head()
      val p = graft.search.MltParams(minTermFreq = 2, minDocFreq = 5,
        maxQueryTerms = 8, boostTerms = true)
      val q = graft.search.MoreLikeThis.query(se, srcText, p)
      se.fetchDocs(topKVerified(se, q, 11))
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .where($"doc_id" =!= 0)
        .orderBy($"score".desc, $"doc_id".asc).limit(10)
    }),
    "ft_termvectors" -> ((s, d) => {
      // stored per-doc term vectors (ref index/TermVectors.java /
      // Lucene90TermVectorsFormat): docId-isin point lookup of the
      // persisted (terms, freqs) arrays; the oracle recomputes the same
      // frequency map from the corpus text
      val se = searcherFor(s, d, Variant.Tv)
      import s.implicits._
      val ids = se.docsTable
        .where(substring($"url", 4, 12).cast("bigint") < 10)
        .select($"docId").as[Long].collect().toSeq
      se.termVectors(ids)
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"), $"term", $"freq")
        .orderBy($"doc_id", $"term")
    }),
    "ft_mlt_tv" -> ((s, d) => {
      // MoreLikeThis fed by the STORED TERM VECTOR (the reference's
      // primary retrieveTerms arm) — no stored-text fetch, no re-analysis;
      // must equal ft_mlt_like's table, and shares its oracle SQL verbatim
      val se = searcherFor(s, d, Variant.Tv)
      import s.implicits._
      val srcId = se.docsTable
        .where(substring($"url", 4, 12).cast("bigint") === 0)
        .select($"docId").as[Long].head()
      val p = graft.search.MltParams(minTermFreq = 2, minDocFreq = 5,
        maxQueryTerms = 8, boostTerms = true)
      val q = graft.search.MoreLikeThis.queryForDoc(se, srcId,
        sys.error("ft_mlt_tv must take the term-vector path"), p)
      se.fetchDocs(topKVerified(se, q, 11))
        .select(docIdOf($"url"), round($"score", 6).as("score"))
        .where($"doc_id" =!= 0)
        .orderBy($"score".desc, $"doc_id".asc).limit(10)
    }),
    "ft_facet_hierarchy" -> ((s, d) => {
      // arbitrary-depth taxonomy facet counts (ref lucene/facet taxonomy
      // rollup): every prefix of the 3-level source/lang/size path gets a
      // count — one prefix-explode + one groupBy, any depth
      val se = searcherFor(s, d)
      import s.implicits._
      val m = se.matchingCached(se.parse("data")).toDF("docId")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"))
        .join(docsDf(s, d).select($"doc_id", $"source", $"lang", $"n_chars"), "doc_id")
        .withColumn("size_bucket",
          when($"n_chars" < 500, "small").when($"n_chars" < 1000, "mid").otherwise("large"))
      graft.search.Facets
        .taxonomyRollup(m, array($"source", $"lang", $"size_bucket"))
        .orderBy($"path")
    }),
    "ft_suggest_infix" -> ((s, d) => {
      // infix autocomplete via the persistent gram table (ref suggest
      // AnalyzingInfixSuggester): the fragment's leading 2-gram bounds the
      // scan — no full-dictionary contains() pass
      val se = searcherFor(s, d)
      val idx = indexDirFor(d).resolve("infix").toString
      graft.search.InfixSuggester.build(se, idx)
      graft.search.InfixSuggester.lookup(s, idx, "ar", 10)
    }),
    "rel_json" -> ((s, d) => {
      // JSON property extraction over the event props column
      import s.implicits._
      s.read.parquet(s"$d/events.parquet")
        .select($"event_type",
          get_json_object($"props", "$.k").cast("bigint").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
        .orderBy($"event_type")
    }),

    // ---- relational parity (facets/grouping/join modules, SURVEY.md §2.3)
    "rel_agg" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          // exact decimal summation, ONE double conversion at the end:
          // order-dependent double partial sums drift ~1e-4 at 1e10
          // magnitude over 10^6-row groups — enough to flip the 4-dp
          // rounding against any independent oracle at sf >= 1.0
          round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
            .cast("decimal(30,6)")).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),
    "rel_join_topk" -> ((s, d) => {
      import s.implicits._
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
      o.join(broadcast(c), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_name", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
    }),
    "rel_window_top2" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      s.read.parquet(s"$d/orders.parquet")
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= 2 && $"o_custkey" < 50)
        .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"rn")
    }),
    "rel_semijoin" -> ((s, d) => {
      import s.implicits._
      val c = s.read.parquet(s"$d/customer.parquet")
      val o = s.read.parquet(s"$d/orders.parquet")
      c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey").orderBy($"c_custkey")
    }),

    // ---- spatial (LatLonPoint query family; graft.spatial.Geo)
    "geo_box" -> ((s, d) =>
      // bounding box CROSSING the antimeridian — the two-range split path
      // (ref document/LatLonPoint.java:220 newBoxQuery)
      graft.spatial.Geo.boxQuery(
          graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"),
          minLat = 10.0, maxLat = 45.0, minLon = 170.0, maxLon = -170.0)
        .select(col("id").as("doc_id"), col("lat"), col("lon"))
        .orderBy(col("doc_id"))),
    "geo_distance" -> ((s, d) =>
      // radius match (ref LatLonPoint.java:296 newDistanceQuery): pruned
      // bbox scan + exact haversine refine; float-cast output absorbs
      // last-ulp libm differences vs the oracle
      graft.spatial.Geo.distanceQuery(
          graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"),
          qLat = 48.8566, qLon = 2.3522, radiusMeters = 3.0e6)
        .select(col("id").as("doc_id"), col("dist_m").cast("float").as("dist_m"))
        .orderBy(col("doc_id"))),
    "geo_knn" -> ((s, d) =>
      // k-nearest by great-circle distance (ref LatLonPointSortField
      // distance sort): two-phase grid-pruned exact kNN, identical to
      // brute force by construction (GeoSpec asserts; oracle re-verifies)
      graft.spatial.Geo.distanceTopK(
          graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"),
          qLat = 37.7749, qLon = -122.4194, k = 20)
        .select(col("id").as("doc_id"), col("dist_m").cast("float").as("dist_m"))),
    "geo_polygon" -> ((s, d) =>
      // point-in-polygon via even-odd crossing number (ref
      // LatLonPoint.java:310 newPolygonQuery): the identical unrolled
      // arithmetic runs on both sides (Geo.polygonContains / polygonContainsSql)
      graft.spatial.Geo.polygonQuery(
          graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"), geoPoly)
        .select(col("id").as("doc_id"), col("lat"), col("lon"))
        .orderBy(col("doc_id"))),
    "geo_grid_agg" -> ((s, d) =>
      // geo-grid facet counts + mean position per 15-degree cell
      graft.spatial.Geo.gridAgg(
          graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"), 15.0)
        .orderBy(col("cell_lat"), col("cell_lon"))),
    "geo_ft_distance" -> ((s, d) => {
      // fulltext match + distance sort — the reference's canonical
      // "restaurants matching <query> nearest me" plan (TermQuery hits
      // joined to the point table, TakeOrderedAndProject on haversine)
      val se = searcherFor(s, d)
      import s.implicits._
      val hits = se.matchingCached(se.parse("data")).toDF("docId")
        .join(se.docsTable.select($"docId", $"url"), "docId")
        .select(docIdOf($"url"))
      val pts = graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id")
        .withColumnRenamed("id", "doc_id")
      hits.join(pts, "doc_id")
        .withColumn("dist_m", graft.spatial.Geo.haversineMeters(
          lit(52.52), lit(13.405), col("lat"), col("lon")))
        .orderBy(col("dist_m").asc, col("doc_id").asc)
        .limit(10)
        .select(col("doc_id"), col("dist_m").cast("float").as("dist_m"))
    })
  )

  /** Shared polygon for geo_polygon: both engines evaluate the identical
    * crossing-number arithmetic over it.
    */
  private val geoPoly: Seq[(Double, Double)] = Seq(
    (35.0, -10.0), (60.0, -5.0), (55.0, 20.0), (40.0, 25.0), (45.0, 5.0))

  /** Shared by ft_mlt_like (re-analysis path) and ft_mlt_tv (stored
    * term-vector path): the two MUST produce the identical table.
    */
  private lazy val mltLikeSql: String = {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |qlen AS (SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
         |doc0 AS (SELECT term, count(*)::DOUBLE AS tf0 FROM tok WHERE doc_id = 0 GROUP BY term),
         |alldf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
         |mlt AS (SELECT d.term,
         |          round(d.tf0 * (ln(((SELECT n FROM stats) + 1) / (a.df + 1)) + 1), 6) AS w
         |        FROM doc0 d JOIN alldf a USING (term)
         |        WHERE d.tf0 >= 2 AND a.df >= 5
         |        ORDER BY w DESC, d.term ASC LIMIT 8),
         |bst AS (SELECT term, w / (SELECT max(w) FROM mlt) AS b FROM mlt),
         |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |       WHERE term IN (SELECT term FROM mlt) GROUP BY doc_id, term),
         |idf AS (SELECT term, ln(1 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
         |        FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |  bst.b * (idf.idf - idf.idf / (1 + tf.freq *
         |    (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats)))))) AS s
         |  FROM tf JOIN idf USING (term) JOIN bst USING (term)
         |  JOIN qlen ON qlen.doc_id = tf.doc_id),
         |scored AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |WHERE doc_id <> 0
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  // ------------------------------------------------------- oracles

  import OracleSql._

  def oracleSql: Map[String, String] = Map(
    "ft_term_topk" -> bm25TopK(Seq("spark"), "TRUE", 10),
    "ft_bloom_topk" -> bm25TopK(Seq("filter", "query"), "TRUE", 10),
    "ft_and_topk" -> bm25TopK(Seq("data", "query"), "nmatch = 2", 10),
    "ft_or_topk" -> bm25TopK(Seq("data", "query", "stream"), "TRUE", 10),
    "ft_nested_topk" -> bm25TopK(Seq("data", "query", "table"),
      s"${hasTerm("table")} AND (${hasTerm("data")} OR ${hasTerm("query")})", 10),
    "ft_tfidf_topk" -> tfidfTopK(Seq("data", "query", "stream"), 10),
    "ft_filter_topk" -> bm25TopK(Seq("data", "query"),
      hasTerm("table"), 10),
    "ft_synonym_topk" ->
      s"""${bm25Ctes(Seq("data", "stream"))}, syn AS (
         |  SELECT doc_id, sum(freq) AS freq FROM tf GROUP BY doc_id
         |), syndf AS (
         |  SELECT max(df) AS df FROM (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |), synidf AS (
         |  SELECT ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS idf FROM syndf
         |)
         |SELECT doc_id, round(score, 6) AS score FROM (
         |  SELECT syn.doc_id,
         |    (SELECT idf FROM synidf) - (SELECT idf FROM synidf) / (1 + syn.freq *
         |      (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
         |  FROM syn JOIN qlen ON qlen.doc_id = syn.doc_id
         |)
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_field_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tfld AS (SELECT doc_id, list_slice(ts, 1, 8) AS toks FROM base),
         |bfld AS (SELECT doc_id, list_slice(ts, 9, len(ts)) AS toks FROM base),
         |tlen AS (SELECT doc_id, len(toks) AS dl FROM tfld),
         |blen AS (SELECT doc_id, len(toks) AS dl FROM bfld),
         |tq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM tlen),
         |bq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
         |tstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
         |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl FROM tlen),
         |bstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
         |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl FROM blen),
         |ttf AS (SELECT doc_id, count(*)::DOUBLE AS freq
         |        FROM (SELECT doc_id, unnest(toks) AS term FROM tfld)
         |        WHERE term = 'data' GROUP BY doc_id),
         |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
         |        FROM (SELECT doc_id, unnest(toks) AS term FROM bfld)
         |        WHERE term = 'query' GROUP BY doc_id),
         |tidf AS (SELECT ln(1 + ((SELECT n FROM tstats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf FROM ttf),
         |bidf AS (SELECT ln(1 + ((SELECT n FROM bstats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf FROM btf),
         |tsc AS (SELECT ttf.doc_id,
         |  (SELECT idf FROM tidf) - (SELECT idf FROM tidf) / (1 + ttf.freq *
         |    (1.0 / (1.2 * (0.25 + 0.75 * tq.qdl / (SELECT avgdl FROM tstats))))) AS s
         |  FROM ttf JOIN tq USING (doc_id)),
         |bsc AS (SELECT btf.doc_id,
         |  (SELECT idf FROM bidf) - (SELECT idf FROM bidf) / (1 + btf.freq *
         |    (1.0 / (1.2 * (0.25 + 0.75 * bq.qdl / (SELECT avgdl FROM bstats))))) AS s
         |  FROM btf JOIN bq USING (doc_id)),
         |scored AS (SELECT doc_id, sum(s) AS score
         |           FROM (SELECT * FROM tsc UNION ALL SELECT * FROM bsc)
         |           GROUP BY doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_multisim_topk" ->
      (OracleSql.bm25Ctes(Seq("data", "query")) +
        """, cidf AS (
          |  SELECT term, ln(((SELECT n FROM stats) + 1) / (count(*) + 1)) + 1 AS idf
          |  FROM tf GROUP BY term
          |), csc AS (
          |  SELECT tf.doc_id, sqrt(tf.freq) * cidf.idf * (1.0 / sqrt(qlen.qdl)) AS s
          |  FROM tf JOIN cidf USING (term) JOIN qlen ON qlen.doc_id = tf.doc_id
          |), scored AS (
          |  SELECT doc_id, sum(s) AS score FROM
          |    (SELECT doc_id, s FROM sc UNION ALL SELECT doc_id, s FROM csc)
          |  GROUP BY doc_id
          |)
          |SELECT doc_id, round(score, 6) AS score FROM scored
          |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin),
    "ft_perfield_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tfld AS (SELECT doc_id, list_slice(ts, 1, 8) AS toks FROM base),
         |bfld AS (SELECT doc_id, list_slice(ts, 9, len(ts)) AS toks FROM base),
         |tlen AS (SELECT doc_id, len(toks) AS dl FROM tfld),
         |blen AS (SELECT doc_id, len(toks) AS dl FROM bfld),
         |tq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM tlen),
         |bq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
         |tstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n FROM tlen),
         |bstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
         |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl FROM blen),
         |ttf AS (SELECT doc_id, count(*)::DOUBLE AS freq
         |        FROM (SELECT doc_id, unnest(toks) AS term FROM tfld)
         |        WHERE term = 'data' GROUP BY doc_id),
         |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
         |        FROM (SELECT doc_id, unnest(toks) AS term FROM bfld)
         |        WHERE term = 'query' GROUP BY doc_id),
         |tidf AS (SELECT ln(((SELECT n FROM tstats) + 1) / (count(*) + 1.0)) + 1.0 AS idf FROM ttf),
         |bidf AS (SELECT ln(1 + ((SELECT n FROM bstats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf FROM btf),
         |tsc AS (SELECT ttf.doc_id,
         |  sqrt(ttf.freq) * (SELECT idf FROM tidf) * (1.0 / sqrt(tq.qdl)) AS s
         |  FROM ttf JOIN tq USING (doc_id)),
         |bsc AS (SELECT btf.doc_id,
         |  (SELECT idf FROM bidf) - (SELECT idf FROM bidf) / (1 + btf.freq *
         |    (1.0 / (1.2 * (0.25 + 0.75 * bq.qdl / (SELECT avgdl FROM bstats))))) AS s
         |  FROM btf JOIN bq USING (doc_id)),
         |scored AS (SELECT doc_id, sum(s) AS score
         |           FROM (SELECT * FROM tsc UNION ALL SELECT * FROM bsc)
         |           GROUP BY doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_feature_rank" ->
      (bm25Ctes(Seq("data")) +
        """, feat AS (
          |  SELECT doc_id, 0.8 * (1 - 500.0 / ((n_chars % 400 + 1) + 500.0)) AS fs
          |  FROM documents
          |), scored AS (
          |  SELECT f.doc_id, coalesce(sc.s, 0) + f.fs AS score
          |  FROM feat f LEFT JOIN sc ON sc.doc_id = f.doc_id
          |)
          |SELECT doc_id, round(score, 6) AS score FROM scored
          |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin),
    "ft_lm_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT sum(dl)::DOUBLE AS sttf FROM dlen
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
         |), ttf AS (
         |  SELECT term, count(*)::DOUBLE AS ttf FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id, greatest(0.0,
         |    ln(1 + tf.freq / (2000.0 * ((ttf.ttf + 1.0) / ((SELECT sttf FROM stats) + 1.0))))
         |    + ln(2000.0 / (qlen.qdl + 2000.0))) AS s
         |  FROM tf JOIN ttf USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_lmjm_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT sum(dl)::DOUBLE AS sttf FROM dlen
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
         |), ttf AS (
         |  SELECT term, count(*)::DOUBLE AS ttf FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id,
         |    ln(1 + ((1 - 0.1) * tf.freq / qlen.qdl) /
         |       (0.1 * ((ttf.ttf + 1.0) / ((SELECT sttf FROM stats) + 1.0)))) AS s
         |  FROM tf JOIN ttf USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_synonym_index" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH base AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents
         |), nxt AS (
         |  SELECT doc_id, term,
         |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
         |  FROM base
         |), tok AS (
         |  SELECT doc_id, term FROM base
         |  UNION ALL
         |  SELECT doc_id, 'datastream' FROM nxt WHERE term = 'data' AND nt = 'stream'
         |  UNION ALL
         |  SELECT doc_id, 'embedding' FROM base WHERE term = 'vector'
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM base GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT (SELECT count(*) FROM dlen)::DOUBLE AS n,
         |         (SELECT count(*) FROM tok)::DOUBLE /
         |           (SELECT count(*) FROM dlen)::DOUBLE AS avgdl
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('datastream', 'embedding') GROUP BY doc_id, term
         |), idf AS (
         |  SELECT term, ln(1 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
         |  FROM tf GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id,
         |    idf.idf - idf.idf / (1 + tf.freq *
         |      (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS s
         |  FROM tf JOIN idf USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_payload_topk" ->
      """SELECT doc_id,
        |  (len(list_filter(string_split(text, ' '), x -> x = 'data'))
        |   + (doc_id % 7 + 1))::BIGINT AS payload_sum
        |FROM documents
        |ORDER BY payload_sum DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_payload_check" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (len(list_filter(string_split(text, ' '), x -> x = 'data'))
        |     + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS f
        |  FROM documents)
        |SELECT doc_id, f::BIGINT AS check_freq FROM m WHERE f > 0
        |ORDER BY doc_id""".stripMargin,
    "ft_span_first" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents)
        |SELECT doc_id, count(*)::BIGINT AS first_freq
        |FROM t WHERE term = 'data' AND pos <= 5
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // engine positions are 0-based, generate_subscripts 1-based: span start
    // pos0 >= 3 <=> pos >= 4; span end pos0+1 <= 12 <=> pos <= 12
    "ft_span_range" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents)
        |SELECT doc_id, count(*)::BIGINT AS range_freq
        |FROM t WHERE term = 'data' AND pos >= 4 AND pos <= 12
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ft_covering" -> {
      s"""${OracleSql.bm25Ctes(Seq("data", "query", "stream", "table"))}, scored AS (
         |  SELECT doc_id, sum(s) AS score, count(*) AS nmatch FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score, nmatch::BIGINT AS nmatch
         |FROM scored WHERE nmatch >= (doc_id % 3) + 1
         |ORDER BY doc_id""".stripMargin
    },
    "ft_common_terms" -> {
      s"""${OracleSql.bm25Ctes(Seq("dup", "data", "query"))}, df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), lowterms AS (
         |  SELECT term FROM df WHERE df <= 0.5 * (SELECT n FROM stats)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |WHERE doc_id IN (SELECT doc_id FROM tok
         |                 WHERE term IN (SELECT term FROM lowterms))
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_dv_update" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |patched AS (SELECT doc_id,
         |  CASE WHEN doc_id % 10 = 0 THEN dl + 1000 ELSE dl END AS dl FROM dlen)
         |SELECT doc_id, dl FROM patched
         |WHERE ${hasTerm("data")} AND ${hasTerm("query")}
         |ORDER BY dl DESC, doc_id ASC LIMIT 15""".stripMargin,
    "ft_spell_phonetic" -> {
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), d AS (
         |  SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term
         |)
         |SELECT term, doc_freq::BIGINT AS doc_freq FROM d
         |WHERE ${OracleSql.soundexSql("term")} = ${OracleSql.soundexSql("'stram'")}
         |ORDER BY doc_freq DESC, term ASC LIMIT 5""".stripMargin
    },
    "text_soundex" -> {
      s"""WITH t AS (
         |  SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents
         |)
         |SELECT term, ${OracleSql.soundexSql("term")} AS code FROM t
         |ORDER BY term""".stripMargin
    },
    "ft_dfr_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT count(*)::DOUBLE AS n_docs,
         |         (SELECT sum(dl)::DOUBLE FROM dlen) / count(*)::DOUBLE AS avgdl
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id,
         |    (ln(((SELECT n_docs FROM stats) + 1) / (df.n + 0.5)) / ln(2)) *
         |    (1 - 1 / (1 + tf.freq *
         |      (ln(1 + (SELECT avgdl FROM stats) / qlen.qdl) / ln(2)))) AS s
         |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    // SweetSpot: classic idf x baseline tf x plateau length norm, all on
    // the quantized byte4 doc length (same as the engine's norm byte)
    "ft_sweetspot_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT count(*)::DOUBLE AS n_docs FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id,
         |    (ln(((SELECT n_docs FROM stats) + 1) / (df.n + 1)) + 1) *
         |    (CASE WHEN tf.freq <= 2.0 THEN 0.5
         |          ELSE sqrt(tf.freq + 0.25 - 2.0) END) *
         |    (1 / sqrt(0.5 * (abs(qlen.qdl - 8) + abs(qlen.qdl - 40) - 32)
         |              + 1)) AS s
         |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_ib_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT count(*)::DOUBLE AS n_docs,
         |         (SELECT sum(dl)::DOUBLE FROM dlen) / count(*)::DOUBLE AS avgdl
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id,
         |    -ln(((df.n + 1.0) / ((SELECT n_docs FROM stats) + 1.0)) /
         |        (tf.freq * (SELECT avgdl FROM stats) / qlen.qdl +
         |         (df.n + 1.0) / ((SELECT n_docs FROM stats) + 1.0))) AS s
         |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_dfi_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT (SELECT sum(dl) FROM dlen)::DOUBLE AS sttf
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
         |), ttf AS (
         |  SELECT term, count(*)::DOUBLE AS f FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id,
         |    CASE WHEN tf.freq <= (ttf.f + 1) * qlen.qdl / ((SELECT sttf FROM stats) + 1)
         |         THEN 0.0
         |         ELSE ln(1 + (tf.freq - (ttf.f + 1) * qlen.qdl / ((SELECT sttf FROM stats) + 1))
         |                    / sqrt((ttf.f + 1) * qlen.qdl / ((SELECT sttf FROM stats) + 1))) / ln(2)
         |    END AS s
         |  FROM tf JOIN ttf USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id HAVING sum(s) > 0
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_axiomatic_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), dlen AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         |), qlen AS (
         |  SELECT doc_id,
         |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |  FROM dlen
         |), stats AS (
         |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         |         (SELECT sum(dl) FROM dlen)::DOUBLE
         |           / (SELECT count(*) FROM documents) AS avgdl
         |), tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
         |  WHERE term IN ('data', 'query') GROUP BY term
         |), sc AS (
         |  SELECT tf.doc_id,
         |    (tf.freq / (tf.freq + 0.25 + 0.25 * qlen.qdl / (SELECT avgdl FROM stats)))
         |      * pow(((SELECT n_docs FROM stats) + 1.0) / df.n, 0.35) AS s
         |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
         |), scored AS (
         |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_wordbreak" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), dict AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
        |), splits AS (
        |  SELECT substr('dataquery', 1, i::INT) AS a,
        |         substr('dataquery', i::INT + 1) AS b
        |  FROM generate_series(1, len('dataquery') - 1) t(i)
        |)
        |SELECT a || ' ' || b AS suggestion, (da.df + db.df)::BIGINT AS freq
        |FROM splits JOIN dict da ON da.term = a JOIN dict db ON db.term = b
        |ORDER BY freq DESC, suggestion ASC LIMIT 5""".stripMargin,
    "ft_wordcombine" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), dict AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
        |), cands(combined, s, e, ch) AS (
        |  VALUES ('data', 0, 1, 1), ('dataquery', 0, 2, 2), ('taquery', 1, 2, 1)
        |)
        |SELECT c.combined, c.s AS "start", c.e AS "end", c.ch AS changes,
        |       d.df::BIGINT AS freq
        |FROM cands c JOIN dict d ON d.term = c.combined
        |ORDER BY changes ASC, freq DESC, combined ASC LIMIT 5""".stripMargin,
    "ft_feature_sort" ->
      """SELECT doc_id, (n_chars % 400 + 1)::DOUBLE AS pagerank FROM documents
        |ORDER BY pagerank DESC, doc_id ASC LIMIT 15""".stripMargin,
    "ft_combined_topk" -> {
      // BM25F replica: title (first 8 tokens, weight 2) + body (rest,
      // weight 1) as one pseudo-field. Pseudo docCount = max over fields,
      // sttf = 2*sttf_title + sttf_body, df = max per-field df; per doc
      // freq = 2*tf_t + tf_b and the norm is the byte4 re-quantization of
      // 2*qdl_t + qdl_b summed over MATCHED fields only (the engine reads
      // norms off the matched postings).
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tlen AS (SELECT doc_id, len(list_slice(ts, 1, 8)) AS dl FROM base),
         |blen AS (SELECT doc_id, len(list_slice(ts, 9, len(ts))) AS dl FROM base),
         |tq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM tlen),
         |bq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
         |pseudo AS (SELECT
         |  greatest((SELECT count(*) FILTER (dl > 0) FROM tlen),
         |           (SELECT count(*) FILTER (dl > 0) FROM blen))::DOUBLE AS n,
         |  (2 * (SELECT sum(dl) FROM tlen) + (SELECT sum(dl) FROM blen))::DOUBLE AS sttf),
         |ttf AS (SELECT doc_id, count(*)::DOUBLE AS freq
         |        FROM (SELECT doc_id, unnest(list_slice(ts, 1, 8)) AS term FROM base)
         |        WHERE term = 'data' GROUP BY doc_id),
         |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
         |        FROM (SELECT doc_id, unnest(list_slice(ts, 9, len(ts))) AS term FROM base)
         |        WHERE term = 'data' GROUP BY doc_id),
         |dfp AS (SELECT greatest((SELECT count(*) FROM ttf), (SELECT count(*) FROM btf)) AS df),
         |idf AS (SELECT ln(1 + ((SELECT n FROM pseudo) - df + 0.5) / (df + 0.5)) AS idf FROM dfp),
         |perdoc AS (SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
         |  2 * coalesce(t.freq, 0) + coalesce(b.freq, 0) AS f,
         |  (CASE WHEN t.doc_id IS NOT NULL THEN 2 * tq.qdl ELSE 0 END) +
         |  (CASE WHEN b.doc_id IS NOT NULL THEN bq.qdl ELSE 0 END) AS lensum
         |  FROM ttf t FULL OUTER JOIN btf b ON t.doc_id = b.doc_id
         |  LEFT JOIN tq ON tq.doc_id = coalesce(t.doc_id, b.doc_id)
         |  LEFT JOIN bq ON bq.doc_id = coalesce(t.doc_id, b.doc_id)),
         |normq AS (SELECT doc_id, f,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= round(lensum)) AS qn
         |  FROM perdoc),
         |scored AS (SELECT doc_id,
         |  (SELECT idf FROM idf) - (SELECT idf FROM idf) / (1 + f *
         |    (1.0 / (1.2 * (0.25 + 0.75 * qn / ((SELECT sttf FROM pseudo) / (SELECT n FROM pseudo)))))) AS score
         |  FROM normq)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_boost_topk" ->
      (bm25Ctes(Seq("data", "query")) +
        """, scored AS (
          |  SELECT doc_id, sum(s * CASE WHEN term = 'data' THEN 2.0 ELSE 1.0 END) AS score
          |  FROM sc GROUP BY doc_id
          |)
          |SELECT doc_id, round(score, 6) AS score FROM scored
          |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin),
    "ft_msm_topk" -> bm25TopK(Seq("data", "query", "stream"), "nmatch >= 2", 10),
    "ft_dismax_topk" ->
      (bm25Ctes(Seq("data", "query", "stream")) +
        """, scored AS (
          |  SELECT doc_id, max(s) + 0.3 * (sum(s) - max(s)) AS score
          |  FROM sc GROUP BY doc_id
          |)
          |SELECT doc_id, round(score, 6) AS score FROM scored
          |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin),
    "ft_constscore" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |d AS (SELECT DISTINCT doc_id FROM documents)
         |SELECT doc_id, 2.5 AS score FROM d
         |WHERE ${hasTerm("data")} AND ${hasTerm("query")}
         |ORDER BY doc_id""".stripMargin,
    "ft_spell" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term)
        |SELECT term, damerau_levenshtein(term, 'parl')::BIGINT AS distance, doc_freq
        |FROM df WHERE damerau_levenshtein(term, 'parl') <= 2
        |ORDER BY distance ASC, doc_freq DESC, term ASC LIMIT 5""".stripMargin,
    "ft_fuzzy_match" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT DISTINCT doc_id FROM tok WHERE damerau_levenshtein(term, 'quer') <= 2
        |ORDER BY doc_id""".stripMargin,
    // Jaro-Winkler reconstructed with the reference's quirks from DuckDB's
    // raw jaro_similarity: boost only at j >= 0.7, scale min(0.1, 1/maxLen)
    // (not fixed 0.1), UNCAPPED common prefix computed positionally
    "ft_spell_jaro" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term),
        |pos AS (SELECT term,
        |          unnest(range(1, least(length(term), length('qurey')) + 1)) AS i
        |        FROM df),
        |mism AS (SELECT term, min(i) AS fd FROM pos
        |         WHERE substring(term, i::INT, 1) <> substring('qurey', i::INT, 1)
        |         GROUP BY term),
        |pref AS (SELECT d.term,
        |           coalesce(m.fd - 1, least(length(d.term), length('qurey'))) AS prefix
        |         FROM df d LEFT JOIN mism m USING (term)),
        |jw AS (SELECT d.term, d.doc_freq,
        |         CASE WHEN jaro_similarity(d.term, 'qurey') < 0.7
        |              THEN jaro_similarity(d.term, 'qurey')
        |              ELSE jaro_similarity(d.term, 'qurey')
        |                + least(0.1, 1.0 / greatest(length(d.term), length('qurey')))
        |                  * p.prefix * (1 - jaro_similarity(d.term, 'qurey')) END AS sim
        |       FROM df d JOIN pref p USING (term))
        |SELECT term, round(sim, 6) AS similarity, doc_freq FROM jw
        |WHERE round(sim, 6) >= 0.55 AND term <> 'qurey'
        |ORDER BY round(sim, 6) DESC, doc_freq DESC, term ASC LIMIT 5""".stripMargin,
    "ft_fuzzy_like" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |qlen AS (SELECT doc_id, dl,
        |  (SELECT max(v) FROM (VALUES __B4__) b4(v) WHERE v <= dl) AS qdl FROM dlen),
        |stats AS (SELECT count(*)::DOUBLE AS n,
        |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
        |vocab AS (SELECT DISTINCT term FROM tok),
        |g AS (
        |  SELECT 0 AS gid, term FROM vocab WHERE damerau_levenshtein(term, 'quer') <= 1
        |  UNION ALL
        |  SELECT 1 AS gid, term FROM vocab WHERE damerau_levenshtein(term, 'strem') <= 1
        |),
        |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
        |       WHERE term IN (SELECT term FROM g) GROUP BY doc_id, term),
        |gtf AS (SELECT g.gid, tf.doc_id, sum(tf.freq) AS freq
        |        FROM tf JOIN g USING (term) GROUP BY g.gid, tf.doc_id),
        |gdf AS (SELECT gid, max(df) AS df FROM (
        |          SELECT g.gid, tf.term, count(*) AS df FROM tf JOIN g USING (term)
        |          GROUP BY g.gid, tf.term) GROUP BY gid),
        |gidf AS (SELECT gid,
        |           ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS idf
        |         FROM gdf),
        |sc AS (SELECT gtf.doc_id,
        |  gidf.idf - gidf.idf / (1 + gtf.freq *
        |    (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS s
        |  FROM gtf JOIN gidf USING (gid) JOIN qlen ON qlen.doc_id = gtf.doc_id),
        |scored AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
        |SELECT doc_id, round(score, 6) AS score FROM scored
        |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
        .replace("__B4__", OracleSql.byte4Values.map(v => s"($v)").mkString(",")),
    "ft_hybrid_rrf" ->
      (OracleSql.bm25Scored(Seq("data", "stream"), "TRUE") +
        """, lex AS (
          |  SELECT doc_id, r FROM (
          |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
          |    FROM ranked) WHERE r <= 50),
          |emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          |        FROM embeddings),
          |sims AS (SELECT e.vec_id, round(list_cosine_similarity(e.v,
          |           (SELECT v FROM emb WHERE vec_id = 0)), 4) AS sim
          |         FROM emb e WHERE e.vec_id <> 0),
          |vec AS (
          |  SELECT doc_id, r FROM (
          |    SELECT vec_id AS doc_id,
          |           row_number() OVER (ORDER BY sim DESC, vec_id) AS r
          |    FROM sims) WHERE r <= 50),
          |u AS (SELECT doc_id, 1.0 / (60 + r) AS c FROM lex
          |      UNION ALL SELECT doc_id, 1.0 / (60 + r) FROM vec),
          |f AS (SELECT doc_id, round(sum(c), 6) AS rrf FROM u GROUP BY doc_id)
          |SELECT doc_id, rrf FROM f
          |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin),
    "ft_rescore" ->
      (bm25Ctes(Seq("data", "query", "stream", "table")) +
        """, s1 AS (
          |  SELECT doc_id, sum(s) AS score1 FROM sc WHERE term IN ('data', 'query') GROUP BY doc_id
          |), cand AS (
          |  SELECT doc_id, score1 FROM s1 ORDER BY round(score1, 6) DESC, doc_id ASC LIMIT 30
          |), s2 AS (
          |  SELECT doc_id, sum(s) AS score2 FROM sc WHERE term IN ('table', 'stream') GROUP BY doc_id
          |)
          |SELECT doc_id, round(score1 * 1.0 + coalesce(score2, 0.0) * 2.0, 6) AS score
          |FROM cand LEFT JOIN s2 USING (doc_id)
          |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin),
    "ft_not_match" -> matchIds(Seq("data", "stream"),
      s"${hasTerm("data")} AND NOT ${hasTerm("stream")}"),
    "ft_prefix_match" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'qu%' ORDER BY doc_id""".stripMargin,
    "ft_inset_match" -> matchIds(Seq("spark", "merge", "vector"),
      s"${hasTerm("spark")} OR ${hasTerm("merge")} OR ${hasTerm("vector")}"),
    "ft_range_match" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT DISTINCT doc_id FROM tok WHERE term >= 'qa' AND term < 'ri'
        |ORDER BY doc_id""".stripMargin,
    "ft_regex_match" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT DISTINCT doc_id FROM tok WHERE regexp_full_match(term, 'st[a-z]*m')
        |ORDER BY doc_id""".stripMargin,
    "ft_wildcard_match" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT DISTINCT doc_id FROM tok WHERE term LIKE 's_ar%'
        |ORDER BY doc_id""".stripMargin,
    "ft_wildcard_lead" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT DISTINCT doc_id FROM tok WHERE term LIKE '%am'
        |ORDER BY doc_id""".stripMargin,
    "ft_phrase_match" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents)
        |SELECT a.doc_id, count(*) AS phrase_freq
        |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.term = 'data' AND b.term = 'query'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "ft_phrase_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tokp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |                     generate_subscripts(string_split(text, ' '), 1) AS pos
         |              FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tokp GROUP BY doc_id),
         |qlen AS (SELECT doc_id,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokp
         |       WHERE term IN ('data', 'query') GROUP BY term),
         |widf AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS w FROM df),
         |pf AS (SELECT a.doc_id, count(*)::DOUBLE AS freq
         |       FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       WHERE a.term = 'data' AND b.term = 'query' GROUP BY a.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM (
         |  SELECT pf.doc_id,
         |    (SELECT w FROM widf) - (SELECT w FROM widf) / (1 + pf.freq *
         |      (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
         |  FROM pf JOIN qlen ON qlen.doc_id = pf.doc_id)
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_simple_parse" -> {
      s"""${OracleSql.bm25Ctes(Seq("data", "query", "stream"))}, agg AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'data' THEN s END) AS sd,
         |    max(CASE WHEN term = 'query' THEN s END) AS sq,
         |    max(CASE WHEN term = 'stream' THEN s END) AS ss
         |  FROM sc GROUP BY doc_id
         |), scored AS (
         |  SELECT doc_id,
         |    (CASE WHEN sd IS NOT NULL AND sq IS NOT NULL
         |          THEN sd + sq ELSE 0 END + coalesce(ss, 0)) AS score,
         |    (sd IS NOT NULL AND sq IS NOT NULL) AS andmatch,
         |    (ss IS NOT NULL) AS smatch
         |  FROM agg
         |)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |WHERE (andmatch OR smatch)
         |  AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'dup')
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_classic_parse" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      // phrase score: tf = ordered-window freq (span <= 2 at slop 1),
      // idf = idf(data) + idf(query); +1.0 constant for the tab* clause
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |             generate_subscripts(string_split(text, ' '), 1) AS pos
         |      FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |qlen AS (SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
         |       WHERE term IN ('data', 'query') GROUP BY term),
         |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS idf
         |           FROM df),
         |pf AS (SELECT a.doc_id, count(*)::DOUBLE AS f
         |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 2
         |       WHERE a.term = 'data' AND b.term = 'query' GROUP BY a.doc_id),
         |wild AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'tab%'),
         |sc AS (SELECT pf.doc_id,
         |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
         |           (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats)))))
         |         + 1.0 AS score
         |       FROM pf JOIN wild USING (doc_id) JOIN qlen ON qlen.doc_id = pf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_field_phrase" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      // body field = tokens 9..len; per-field stats over docs with a body;
      // phrase freq = adjacent (data, query) within the body slice
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |bfld AS (SELECT doc_id, list_slice(ts, 9, len(ts)) AS toks FROM base),
         |blen AS (SELECT doc_id, len(toks) AS dl FROM bfld),
         |bq AS (SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
         |bstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
         |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl
         |           FROM blen),
         |btok AS (SELECT doc_id, unnest(toks) AS term,
         |                generate_subscripts(toks, 1) AS pos FROM bfld),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM btok
         |       WHERE term IN ('data', 'query') GROUP BY term),
         |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM bstats) - df + 0.5) / (df + 0.5))) AS idf
         |           FROM df),
         |pf AS (SELECT a.doc_id, count(*)::DOUBLE AS f
         |       FROM btok a JOIN btok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       WHERE a.term = 'data' AND b.term = 'query' GROUP BY a.doc_id),
         |sc AS (SELECT pf.doc_id,
         |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
         |           (1.0 / (1.2 * (0.25 + 0.75 * bq.qdl / (SELECT avgdl FROM bstats))))) AS score
         |       FROM pf JOIN bq ON bq.doc_id = pf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM t),
        |g AS (SELECT doc_id,
        |        w || '_' || lead(w, 1) OVER win || '_' || lead(w, 2) OVER win AS s
        |      FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |gg AS (SELECT doc_id, s FROM g WHERE s IS NOT NULL),
        |agg AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT s) AS n_unique
        |        FROM gg GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |       coalesce(n_unique, 0) AS n_unique,
        |       round(CASE WHEN coalesce(n_grams, 0) > 0
        |                  THEN 1.0 - n_unique::DOUBLE / n_grams
        |                  ELSE 0.0 END, 4) AS dup_ratio
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "ft_multiphrase_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      // tf = base positions p with data@p and (query|stream)@p+1;
      // idf = idf(data) + idf(query) + idf(stream) (stats union)
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |             generate_subscripts(string_split(text, ' '), 1) AS pos
         |      FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |qlen AS (SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
         |       WHERE term IN ('data', 'query', 'stream') GROUP BY term),
         |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS idf
         |           FROM df),
         |pf AS (SELECT a.doc_id, count(DISTINCT a.pos)::DOUBLE AS f
         |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       WHERE a.term = 'data' AND b.term IN ('query', 'stream')
         |       GROUP BY a.doc_id),
         |sc AS (SELECT pf.doc_id,
         |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
         |           (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
         |       FROM pf JOIN qlen ON qlen.doc_id = pf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_surround" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |nearset AS (SELECT DISTINCT a.doc_id
        |            FROM t a JOIN t b ON b.doc_id = a.doc_id
        |            WHERE a.term = 'data' AND b.term LIKE 's%'
        |              AND greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 <= 5)
        |SELECT DISTINCT doc_id FROM nearset
        |WHERE doc_id IN (SELECT doc_id FROM t WHERE term = 'table')
        |  AND doc_id NOT IN (SELECT doc_id FROM t WHERE term = 'slow')
        |ORDER BY doc_id""".stripMargin,
    // complex phrase: slot expansions derived in SQL from the same corpus
    // vocabulary (prefix LIKE, levenshtein<=1 — no adjacent-transposition
    // terms exist for 'quary', so Damerau == Levenshtein here); BM25 with
    // idf summed over every expanded term, tf = distinct phrase starts
    "ft_complex_phrase" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |             generate_subscripts(string_split(text, ' '), 1) AS pos
         |      FROM documents),
         |exp2 AS (SELECT DISTINCT term FROM tok WHERE term LIKE 's%'),
         |exp3 AS (SELECT DISTINCT term FROM tok
         |         WHERE levenshtein(term, 'quary') <= 1),
         |qterms AS (SELECT 'data' AS term UNION SELECT term FROM exp2
         |           UNION SELECT term FROM exp3),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |qlen AS (SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
         |df AS (SELECT tok.term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
         |       JOIN qterms q ON q.term = tok.term GROUP BY tok.term),
         |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS idf
         |           FROM df),
         |pf AS (SELECT a.doc_id, count(DISTINCT a.pos)::DOUBLE AS f
         |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |                JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
         |       WHERE a.term = 'data' AND b.term IN (SELECT term FROM exp2)
         |         AND c.term IN (SELECT term FROM exp3)
         |       GROUP BY a.doc_id),
         |sc AS (SELECT pf.doc_id,
         |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
         |           (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
         |       FROM pf JOIN qlen ON qlen.doc_id = pf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_phrase_slop" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents)
        |SELECT a.doc_id, count(*) AS sloppy_freq
        |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 3
        |WHERE a.term = 'data' AND b.term = 'query'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "ft_interval_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |             generate_subscripts(string_split(text, ' '), 1) AS pos
        |      FROM documents),
        |a AS (SELECT doc_id, pos FROM t WHERE term = 'data'),
        |b AS (SELECT doc_id, pos FROM t WHERE term = 'query'),
        |iv AS (SELECT DISTINCT a.doc_id, least(a.pos, b.pos) AS s,
        |              greatest(a.pos, b.pos) AS e
        |       FROM a JOIN b ON b.doc_id = a.doc_id),
        |mini AS (SELECT i.doc_id, i.s, i.e FROM iv i WHERE NOT EXISTS (
        |          SELECT 1 FROM iv j WHERE j.doc_id = i.doc_id
        |            AND j.s >= i.s AND j.e <= i.e AND (j.s <> i.s OR j.e <> i.e))),
        |fil AS (SELECT * FROM mini WHERE e - s + 1 <= 8),
        |fr AS (SELECT doc_id, sum(1.0 / greatest(e - s, 1)) AS f
        |       FROM fil GROUP BY doc_id)
        |SELECT doc_id, round(f / (f + 1), 6) AS score FROM fr
        |ORDER BY round(f / (f + 1), 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_automaton_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |             generate_subscripts(string_split(text, ' '), 1) AS pos
        |      FROM documents),
        |a AS (SELECT doc_id, pos FROM t WHERE term = 'data'),
        |b AS (SELECT doc_id, pos FROM t WHERE term = 'stream'),
        |iv AS (SELECT DISTINCT a.doc_id, a.pos AS s, b.pos AS e
        |       FROM a JOIN b ON b.doc_id = a.doc_id
        |        AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)),
        |mini AS (SELECT i.doc_id, i.s, i.e FROM iv i WHERE NOT EXISTS (
        |          SELECT 1 FROM iv j WHERE j.doc_id = i.doc_id
        |            AND j.s >= i.s AND j.e <= i.e AND (j.s <> i.s OR j.e <> i.e))),
        |fr AS (SELECT doc_id, sum(1.0 / greatest(e - s, 1)) AS f
        |       FROM mini GROUP BY doc_id)
        |SELECT doc_id, round(f / (f + 1), 6) AS score FROM fr
        |ORDER BY round(f / (f + 1), 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_near_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |p AS (SELECT a.doc_id,
        |             greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 AS w
        |      FROM t a JOIN t b ON b.doc_id = a.doc_id
        |      WHERE a.term = 'data' AND b.term = 'query'
        |        AND greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 <= 8)
        |SELECT doc_id, min(w)::BIGINT AS min_width FROM p GROUP BY doc_id
        |ORDER BY min_width ASC, doc_id ASC LIMIT 15""".stripMargin,
    "ft_near_prefix" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |p AS (SELECT a.doc_id,
        |             greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 AS w
        |      FROM t a JOIN t b ON b.doc_id = a.doc_id
        |      WHERE a.term = 'data' AND b.term LIKE 'quer%'
        |        AND greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 <= 8)
        |SELECT doc_id, min(w)::BIGINT AS min_width FROM p GROUP BY doc_id
        |ORDER BY min_width ASC, doc_id ASC LIMIT 15""".stripMargin,
    "ft_near_ordered" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents)
        |SELECT DISTINCT a.doc_id AS doc_id
        |FROM t a JOIN t b ON b.doc_id = a.doc_id
        |WHERE a.term = 'data' AND b.term = 'stream'
        |  AND b.pos > a.pos AND b.pos - a.pos + 1 <= 10
        |ORDER BY 1""".stripMargin,
    "ft_near_not" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |pairs AS (SELECT a.doc_id, least(a.pos, b.pos) AS s,
        |                 greatest(a.pos, b.pos) AS e
        |          FROM t a JOIN t b ON b.doc_id = a.doc_id
        |          WHERE a.term = 'data' AND b.term = 'stream'),
        |minimal AS (SELECT DISTINCT p.doc_id, p.s, p.e FROM pairs p
        |            WHERE NOT EXISTS (SELECT 1 FROM pairs q
        |                              WHERE q.doc_id = p.doc_id
        |                                AND q.s >= p.s AND q.e <= p.e
        |                                AND (q.s > p.s OR q.e < p.e)))
        |SELECT DISTINCT m.doc_id AS doc_id FROM minimal m
        |WHERE m.e - m.s + 1 <= 8
        |  AND NOT EXISTS (SELECT 1 FROM t c
        |                  WHERE c.doc_id = m.doc_id AND c.term = 'query'
        |                    AND c.pos BETWEEN m.s AND m.e)
        |ORDER BY 1""".stripMargin,
    "ft_near_before" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |pairs AS (SELECT a.doc_id, least(a.pos, b.pos) AS s,
        |                 greatest(a.pos, b.pos) AS e
        |          FROM t a JOIN t b ON b.doc_id = a.doc_id
        |          WHERE a.term = 'data' AND b.term = 'stream'),
        |minimal AS (SELECT DISTINCT p.doc_id, p.s, p.e FROM pairs p
        |            WHERE NOT EXISTS (SELECT 1 FROM pairs q
        |                              WHERE q.doc_id = p.doc_id
        |                                AND q.s >= p.s AND q.e <= p.e
        |                                AND (q.s > p.s OR q.e < p.e)))
        |SELECT DISTINCT m.doc_id AS doc_id FROM minimal m
        |WHERE m.e - m.s + 1 <= 8
        |  AND EXISTS (SELECT 1 FROM t c
        |              WHERE c.doc_id = m.doc_id AND c.term = 'query'
        |                AND c.pos > m.e)
        |ORDER BY 1""".stripMargin,
    "ft_near_phrase" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |                  generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |ph AS (SELECT a.doc_id, a.pos AS s, b.pos AS e
        |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |       WHERE a.term = 'data' AND b.term = 'query'),
        |c AS (SELECT doc_id, pos FROM t WHERE term = 'stream')
        |SELECT DISTINCT ph.doc_id AS doc_id
        |FROM ph JOIN c ON c.doc_id = ph.doc_id
        |WHERE greatest(ph.e, c.pos) - least(ph.s, c.pos) + 1 <= 12
        |ORDER BY 1""".stripMargin,
    "ft_sort_topk" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
         |SELECT doc_id, dl FROM dlen
         |WHERE ${hasTerm("data")} AND ${hasTerm("query")}
         |ORDER BY dl DESC, doc_id ASC LIMIT 15""".stripMargin,
    "ft_counts" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |d AS (SELECT DISTINCT doc_id FROM documents)
         |SELECT 'q_and' AS qid, (SELECT count(*) FROM d WHERE ${hasTerm("data")} AND ${hasTerm("query")}) AS cnt
         |UNION ALL
         |SELECT 'q_not', (SELECT count(*) FROM d WHERE ${hasTerm("data")} AND NOT ${hasTerm("stream")})
         |UNION ALL
         |SELECT 'q_spark', (SELECT count(*) FROM d WHERE ${hasTerm("spark")})
         |ORDER BY qid""".stripMargin,
    "ft_termstats" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_term_freq
        |FROM tok GROUP BY term ORDER BY doc_freq DESC, term ASC LIMIT 20""".stripMargin,
    "ft_norms" -> "", // replaced below after map build (placeholder)
    "ft_searchafter" ->
      (bm25Scored(Seq("data", "query", "stream"), "TRUE") +
        """
          |SELECT doc_id, score FROM (
          |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
          |  FROM ranked
          |) WHERE rn > 10 AND rn <= 20""".stripMargin),
    "ft_highlight" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents
         |      WHERE ${hasTerm("data")}) ORDER BY doc_id LIMIT 20)
         |SELECT m.doc_id,
         |  array_to_string(
         |    list_slice(string_split(d.text, ' '),
         |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2),
         |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2) + 4),
         |    ' ') AS snippet
         |FROM m JOIN documents d USING (doc_id) ORDER BY m.doc_id""".stripMargin,
    "ft_highlight_offsets" -> // offset path must equal the re-analysis path
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents
         |      WHERE ${hasTerm("data")}) ORDER BY doc_id LIMIT 20)
         |SELECT m.doc_id,
         |  array_to_string(
         |    list_slice(string_split(d.text, ' '),
         |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2),
         |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2) + 4),
         |    ' ') AS snippet
         |FROM m JOIN documents d USING (doc_id) ORDER BY m.doc_id""".stripMargin,
    "ft_highlight_best" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tokp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |                generate_subscripts(string_split(text, ' '), 1) AS pos
         |         FROM documents),
         |m AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents
         |      WHERE ${hasTerm("data")} AND ${hasTerm("query")}) ORDER BY doc_id LIMIT 20),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tokp GROUP BY doc_id),
         |hits AS (SELECT t.doc_id, t.pos FROM tokp t JOIN m USING (doc_id)
         |         WHERE t.term IN ('data', 'query')),
         |starts AS (SELECT m.doc_id, unnest(generate_series(1, greatest(1, d.dl - 6))) AS i
         |           FROM m JOIN dlen d USING (doc_id)),
         |counts AS (SELECT s.doc_id, s.i, count(h.pos) AS c
         |           FROM starts s LEFT JOIN hits h
         |             ON h.doc_id = s.doc_id AND h.pos >= s.i AND h.pos < s.i + 7
         |           GROUP BY s.doc_id, s.i),
         |best AS (SELECT doc_id, min(i) AS i FROM (
         |           SELECT doc_id, i, c, max(c) OVER (PARTITION BY doc_id) AS mc
         |           FROM counts) WHERE c = mc AND mc > 0 GROUP BY doc_id)
         |SELECT b.doc_id,
         |  array_to_string(list_slice(string_split(d.text, ' '), b.i, b.i + 6), ' ') AS snippet
         |FROM best b JOIN documents d ON d.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "ft_parent_join" ->
      (bm25Scored(Seq("data", "query"), "TRUE") +
        """
          |SELECT d.source, max(r.score) AS parent_score, count(*) AS n_children
          |FROM ranked r JOIN documents d USING (doc_id)
          |GROUP BY d.source
          |ORDER BY parent_score DESC, d.source ASC LIMIT 5""".stripMargin),
    "ft_parent_join_avg" ->
      (bm25Scored(Seq("data", "query"), "TRUE") +
        """
          |SELECT d.source, round(avg(r.score), 6) AS parent_score, count(*) AS n_children
          |FROM ranked r JOIN documents d USING (doc_id)
          |GROUP BY d.source
          |ORDER BY parent_score DESC, d.source ASC LIMIT 5""".stripMargin),
    "ft_child_join" ->
      (bm25Ctes(Seq("data", "query")) +
        """, scored AS (
          |  SELECT doc_id, sum(s) AS score, count(*) AS nmatch FROM sc GROUP BY doc_id
          |), m AS (
          |  SELECT doc_id, score FROM scored WHERE nmatch = 2
          |), p AS (
          |  SELECT d.source, round(max(m.score), 6) AS parent_score
          |  FROM m JOIN documents d USING (doc_id) GROUP BY d.source
          |  ORDER BY parent_score DESC, d.source ASC LIMIT 3
          |)
          |SELECT d.doc_id, p.parent_score
          |FROM documents d JOIN p ON d.source = p.source
          |ORDER BY d.doc_id""".stripMargin),
    "ft_distance_rank" ->
      (bm25Ctes(Seq("data", "query")) +
        """, scored AS (
          |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
          |)
          |SELECT doc_id,
          |  round(score + 0.6 * (200.0 / (200.0 + abs(n_chars - 500)::DOUBLE)), 6) AS rank
          |FROM scored JOIN documents USING (doc_id)
          |ORDER BY rank DESC, doc_id ASC LIMIT 15""".stripMargin),
    "ft_expr_rank" ->
      (bm25Ctes(Seq("data", "query")) +
        """, scored AS (
          |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
          |)
          |SELECT doc_id, round(score * 0.7 + ln(1 + dl) * 0.3, 6) AS rank_expr
          |FROM scored JOIN dlen USING (doc_id)
          |ORDER BY round(score * 0.7 + ln(1 + dl) * 0.3, 6) DESC, doc_id ASC
          |LIMIT 15""".stripMargin),
    "ft_suggest" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
        |WHERE term LIKE 'st%' GROUP BY term
        |ORDER BY doc_freq DESC, term ASC LIMIT 10""".stripMargin,
    "ft_suggest_weighted" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |w AS (SELECT term, count(*) AS weight FROM tok WHERE term LIKE 'st%' GROUP BY term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
        |       WHERE term LIKE 'st%' GROUP BY term)
        |SELECT df.term, coalesce(w.weight, 0)::BIGINT AS weight, df.doc_freq
        |FROM df LEFT JOIN w USING (term)
        |ORDER BY weight DESC, doc_freq DESC, term ASC LIMIT 10""".stripMargin,
    "ft_suggest_context" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |w AS (SELECT term, count(*) AS weight FROM tok WHERE term LIKE 's%' GROUP BY term),
        |acc AS (SELECT term, max(weight) AS weight FROM w WHERE weight % 2 = 0 GROUP BY term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
        |       WHERE term LIKE 's%' GROUP BY term)
        |SELECT df.term, acc.weight::BIGINT AS weight, df.doc_freq
        |FROM df JOIN acc USING (term)
        |ORDER BY weight DESC, doc_freq DESC, term ASC LIMIT 10""".stripMargin,
    "ft_suggest_freetext" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM t),
        |b AS (SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS nw FROM w)
        |SELECT nw AS suggestion, count(*) AS freq FROM b
        |WHERE w = 'data' AND nw IS NOT NULL
        |GROUP BY nw ORDER BY freq DESC, suggestion ASC LIMIT 10""".stripMargin,
    "ft_fuzzy_suggest" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term)
        |SELECT term, doc_freq FROM df
        |WHERE term LIKE 's%'
        |  AND (damerau_levenshtein('sca', substring(term, 1, 2)) <= 1
        |    OR damerau_levenshtein('sca', substring(term, 1, 3)) <= 1
        |    OR damerau_levenshtein('sca', substring(term, 1, 4)) <= 1)
        |ORDER BY doc_freq DESC, term ASC LIMIT 10""".stripMargin,
    "ft_knn_classify" ->
      (bm25Scored(Seq("data", "query", "stream"), "TRUE") +
        """, knn AS (
          |  SELECT doc_id FROM ranked ORDER BY score DESC, doc_id ASC LIMIT 25
          |)
          |SELECT d.source, count(*) AS votes
          |FROM knn JOIN documents d USING (doc_id)
          |GROUP BY d.source ORDER BY votes DESC, d.source ASC""".stripMargin),
    "ft_drill_sideways" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
         |j AS (SELECT m.doc_id, d.source, d.lang FROM m JOIN documents d USING (doc_id))
         |SELECT 'lang' AS dim, lang AS value, count(*) AS n FROM j
         |WHERE source = 'src3' GROUP BY lang
         |UNION ALL
         |SELECT 'source', source, count(*) FROM j WHERE lang = 'en' GROUP BY source
         |ORDER BY dim, value""".stripMargin,
    "ft_facet_source" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents
         |      WHERE ${hasTerm("data")} OR ${hasTerm("query")})
         |SELECT d.source, count(*) AS n_docs FROM m JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "ft_facet_sampled" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents
         |      WHERE ${hasTerm("data")} OR ${hasTerm("query")}),
         |sampled AS (SELECT doc_id FROM m
         |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 25)
         |SELECT d.source, (count(*) * 4)::BIGINT AS est_count
         |FROM sampled JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "ft_facet_assoc" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents
         |      WHERE ${hasTerm("data")} OR ${hasTerm("query")}),
         |j AS (SELECT d.source, d.lang, d.n_chars
         |      FROM m JOIN documents d USING (doc_id)),
         |pref AS (
         |  SELECT source AS path, n_chars FROM j
         |  UNION ALL
         |  SELECT source || '/' || lang AS path, n_chars FROM j)
         |SELECT path, sum(n_chars)::BIGINT AS sum_assoc, count(*) AS n_docs
         |FROM pref GROUP BY path ORDER BY path""".stripMargin,
    "ft_group_top2" ->
      (bm25Scored(Seq("data", "query"), "TRUE") +
        """
          |SELECT source, rank, doc_id, score FROM (
          |  SELECT d.source, r.doc_id, r.score,
          |         row_number() OVER (PARTITION BY d.source ORDER BY r.score DESC, r.doc_id ASC) AS rank
          |  FROM ranked r JOIN documents d USING (doc_id)
          |) WHERE rank <= 2 ORDER BY source, rank""".stripMargin),
    "ft_group_distinct" ->
      (bm25Scored(Seq("data", "query"), "TRUE") +
        """
          |, top AS (
          |  SELECT d.source, max(r.score) AS best
          |  FROM ranked r JOIN documents d USING (doc_id)
          |  GROUP BY d.source ORDER BY best DESC, source ASC LIMIT 3)
          |SELECT t.source, t.best, count(DISTINCT d.lang) AS n_langs,
          |       count(*) AS n_hits
          |FROM ranked r JOIN documents d USING (doc_id)
          |JOIN top t ON d.source = t.source
          |GROUP BY t.source, t.best ORDER BY t.source""".stripMargin),
    "ft_diversified_topk" ->
      (bm25Scored(Seq("data", "query", "stream"), "TRUE") +
        """
          |SELECT doc_id, source, score FROM (
          |  SELECT r.doc_id, d.source, r.score,
          |         row_number() OVER (PARTITION BY d.source ORDER BY r.score DESC, r.doc_id ASC) AS krank
          |  FROM ranked r JOIN documents d USING (doc_id)
          |) WHERE krank <= 2 ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin),
    "ft_multirange" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")})
         |SELECT d.doc_id, d.n_chars FROM m JOIN documents d USING (doc_id)
         |WHERE (n_chars BETWEEN 120 AND 180) OR (n_chars BETWEEN 181 AND 240)
         |   OR (n_chars BETWEEN 150 AND 260) OR (n_chars BETWEEN 400 AND 520)
         |ORDER BY doc_id""".stripMargin,
    "ft_dv_stats" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
         |j AS (SELECT d.n_chars FROM m JOIN documents d USING (doc_id)),
         |a AS (SELECT count(*)::BIGINT AS cnt,
         |             sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing,
         |             min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
         |             sum(n_chars)::BIGINT AS s1, sum(n_chars*n_chars)::BIGINT AS s2
         |      FROM j)
         |SELECT cnt, missing, min_v, max_v,
         |       round(s1::DOUBLE / cnt, 6) AS mean_v,
         |       round(s2::DOUBLE / cnt - (s1::DOUBLE / cnt) * (s1::DOUBLE / cnt), 6) AS variance_v
         |FROM a""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(substr(text, 1, 120)) AS fingerprint, min(doc_id) AS canonical_id, count(*) AS group_size
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin,
    "dedup_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |), big AS (
        |  SELECT doc_id AS id,
        |         term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS s
        |  FROM t
        |), sh AS (SELECT DISTINCT id, s FROM big WHERE s IS NOT NULL),
        |n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |       round(inter::DOUBLE / (na.n + nb.n - inter), 4) AS jaccard
        |FROM pairs JOIN n na ON na.id = id_a JOIN n nb ON nb.id = id_b
        |WHERE round(inter::DOUBLE / (na.n + nb.n - inter), 4) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |), big AS (
        |  SELECT doc_id AS id,
        |         term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS s
        |  FROM t
        |), sh AS (SELECT DISTINCT id, s FROM big WHERE s IS NOT NULL),
        |n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
        |),
        |jp AS (
        |  SELECT id_a, id_b FROM pairs
        |  JOIN n na ON na.id = id_a JOIN n nb ON nb.id = id_b
        |  WHERE round(inter::DOUBLE / (na.n + nb.n - inter), 4) >= 0.5
        |),
        |e AS (SELECT id_a AS a, id_b AS b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
        |)
        |SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin,
    "pipe_split" ->
      """WITH s AS (
        |  SELECT lang, CASE WHEN b < 80 THEN 'train'
        |                    WHEN b < 90 THEN 'val'
        |                    ELSE 'test' END AS split
        |  FROM (SELECT lang,
        |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        |        FROM documents)
        |)
        |SELECT split, lang, count(*) AS n FROM s GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin,
    "dedup_lines" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN 'follow us on social media and subscribe now to our daily newsletter '
        |      ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |      THEN 'click here to sign up for premium access and exclusive content today '
        |      ELSE '' END)
        |    || text AS text
        |  FROM documents),
        |ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
        |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM ts),
        |lines AS (SELECT doc_id, (i - 1) // 12 AS li,
        |            string_agg(w, ' ' ORDER BY i) AS line
        |          FROM w GROUP BY doc_id, li),
        |df AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line)
        |SELECT l.doc_id,
        |  sum(CASE WHEN line_df <= 50 THEN 1 ELSE 0 END)::BIGINT AS kept_lines,
        |  sum(CASE WHEN line_df > 50 THEN 1 ELSE 0 END)::BIGINT AS dropped_lines,
        |  md5(coalesce(string_agg(CASE WHEN line_df <= 50 THEN l.line END,
        |                          ' ' ORDER BY l.li), '')) AS new_md5
        |FROM lines l JOIN df USING (line)
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,
    "dedup_substring" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0
        |      THEN 'this content is provided as is without any warranty whatsoever '
        |      ELSE '' END) || text AS text
        |  FROM documents),
        |ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
        |w0 AS (SELECT doc_id, ts,
        |         unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS s
        |       FROM ts),
        |w AS (SELECT doc_id, s,
        |        substr(md5(array_to_string(ts[s:s+4], ' ')), 1, 16) AS k
        |      FROM w0),
        |dup AS (SELECT k FROM w GROUP BY k HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, s + d AS p
        |        FROM (SELECT w.doc_id, w.s FROM w JOIN dup USING (k)),
        |             generate_series(0, 4) gs(d)),
        |tok AS (SELECT doc_id, unnest(ts) AS tok,
        |               generate_subscripts(ts, 1) AS i FROM ts)
        |SELECT t2.doc_id,
        |  count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS dup_tokens,
        |  md5(coalesce(string_agg(CASE WHEN c.p IS NULL THEN t2.tok END,
        |                          ' ' ORDER BY t2.i), '')) AS clean_fp
        |FROM tok t2 LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.p = t2.i
        |GROUP BY t2.doc_id ORDER BY t2.doc_id""".stripMargin,
    // keep-one-copy variant: each duplicated key's min (doc_id, start)
    // occurrence stays uncovered
    "dedup_substring_keep" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0
        |      THEN 'this content is provided as is without any warranty whatsoever '
        |      ELSE '' END) || text AS text
        |  FROM documents),
        |ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
        |w0 AS (SELECT doc_id, ts,
        |         unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS s
        |       FROM ts),
        |w AS (SELECT doc_id, s,
        |        substr(md5(array_to_string(ts[s:s+4], ' ')), 1, 16) AS k
        |      FROM w0),
        |dup AS (SELECT k, min(row(doc_id, s)) AS keep FROM w GROUP BY k
        |        HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, s + d AS p
        |        FROM (SELECT w.doc_id, w.s FROM w JOIN dup USING (k)
        |              WHERE row(w.doc_id, w.s) <> dup.keep),
        |             generate_series(0, 4) gs(d)),
        |tok AS (SELECT doc_id, unnest(ts) AS tok,
        |               generate_subscripts(ts, 1) AS i FROM ts)
        |SELECT t2.doc_id,
        |  count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS dup_tokens,
        |  md5(coalesce(string_agg(CASE WHEN c.p IS NULL THEN t2.tok END,
        |                          ' ' ORDER BY t2.i), '')) AS clean_fp
        |FROM tok t2 LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.p = t2.i
        |GROUP BY t2.doc_id ORDER BY t2.doc_id""".stripMargin,
    "pipe_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END
        |     || 'Site' || (doc_id % 50)::VARCHAR || '.Example.com'
        |     || CASE WHEN doc_id % 4 = 0 THEN ':443'
        |             WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
        |     || '/p/' || (doc_id % 200)::VARCHAR
        |     || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
        |     || CASE WHEN doc_id % 2 = 0
        |             THEN '?utm_source=feed&b=2&a=' || (doc_id % 4)::VARCHAR
        |             WHEN doc_id % 9 = 0
        |             THEN '?a=' || (doc_id % 4)::VARCHAR || '&b=2'
        |             ELSE '' END
        |     || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q
        |  FROM u),
        |c AS (
        |  SELECT doc_id,
        |    scheme || '://'
        |    || (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |             WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |             ELSE hostport END)
        |    || (CASE WHEN rtrim(rawpath, '/') = '' THEN '/'
        |             ELSE rtrim(rawpath, '/') END)
        |    || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS curl
        |  FROM (SELECT doc_id, scheme, hostport, rawpath,
        |          coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
        |            x -> x <> '' AND NOT regexp_matches(x,
        |              '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|igshid|ref_src)='))),
        |            '&'), '') AS qs
        |        FROM p))
        |SELECT curl, max(doc_id) AS kept_id, count(*) AS n_captures
        |FROM c GROUP BY curl ORDER BY curl""".stripMargin,
    // PSL registrable-domain semantics, independently restated: co.uk /
    // com.au / github.io keep the registrant label (rule-length 2 suffixes),
    // bare-gTLD hosts collapse to registrant.com, and *.ck wildcards make
    // wild.ck itself a public suffix
    "web_domain_psl" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'site' || (doc_id % 9)::VARCHAR || '.co.uk'
        |         WHEN doc_id % 5 = 1 THEN 'site' || (doc_id % 9)::VARCHAR || '.com.au'
        |         WHEN doc_id % 5 = 2 THEN 'example.com'
        |         WHEN doc_id % 5 = 3 THEN 'site' || (doc_id % 9)::VARCHAR || '.github.io'
        |         ELSE 'site' || (doc_id % 9)::VARCHAR || '.wild.ck' END AS domain
        |  FROM documents)
        |SELECT domain, count(*)::BIGINT AS pages
        |FROM h GROUP BY domain ORDER BY domain""".stripMargin,
    "web_domain_stats" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |    ('https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
        |     || 'site' || (doc_id % 7)::VARCHAR || '.'
        |     || CASE WHEN doc_id % 3 = 0 THEN 'example.com'
        |             WHEN doc_id % 3 = 1 THEN 'webcrawl.org'
        |             ELSE 'dataset.net' END
        |     || '/p/' || (doc_id % 100)::VARCHAR
        |     || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&a=1' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_chars,
        |    replace(url, '?utm_source=x&a=1', '?a=1') AS curl
        |  FROM u),
        |d AS (
        |  SELECT doc_id, lang, n_chars, curl,
        |    regexp_extract(curl, '://([^/:?#]+)', 1) AS host,
        |    regexp_extract(regexp_extract(curl, '://([^/:?#]+)', 1),
        |                   '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM c)
        |SELECT domain, count(*)::BIGINT AS pages,
        |  count(DISTINCT curl)::BIGINT AS n_urls,
        |  count(DISTINCT host)::BIGINT AS n_hosts,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  round(sum(n_chars)::BIGINT::DOUBLE / count(*)::DOUBLE, 4) AS avg_len
        |FROM d GROUP BY domain ORDER BY domain""".stripMargin,
    "web_domain_cap" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'example.com'
        |         WHEN doc_id % 3 = 1 THEN 'webcrawl.org'
        |         ELSE 'dataset.net' END AS domain
        |  FROM documents),
        |n AS (SELECT domain, count(*) AS n FROM d GROUP BY domain)
        |SELECT doc_id, domain FROM d JOIN n USING (domain)
        |WHERE n <= 120
        |   OR ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % n < 120
        |ORDER BY doc_id""".stripMargin,
    // independent derivation: the oracle rebuilds the (target, anchor)
    // pairs from doc_id arithmetic (what the synthesized links MUST
    // extract+canonicalize to), gating the whole regex+canonicalUrl chain
    // without sharing any of its code; the unterminated %5 link appears in
    // the html but must contribute nothing
    "web_anchor_texts" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'https://site' || ((doc_id + 1) % 7)::VARCHAR
        |      || '.example.com/p/' || (doc_id % 40)::VARCHAR AS target,
        |    'page ' || (doc_id % 40)::VARCHAR || ' overview' AS anchor
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    'https://webcrawl.org/t/' || (doc_id % 9)::VARCHAR || '?z=1' AS target,
        |    'topic ' || (doc_id % 9)::VARCHAR AS anchor
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT target, count(*)::BIGINT AS n_links,
        |  count(DISTINCT doc_id)::BIGINT AS n_sources,
        |  array_to_string(list_sort(list(DISTINCT anchor)), '|') AS anchors
        |FROM p GROUP BY target ORDER BY target""".stripMargin,
    // keep = pages whose synthesized robots directive lacks a noindex
    // token (drop rules: %6 name-first noindex, else %9 content-first
    // "noarchive, noindex"; %7's "index,nofollow" survives)
    "web_noindex" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id % 6 <> 0 AND doc_id % 9 <> 0
        |ORDER BY doc_id""".stripMargin,
    // nofollow-aware anchors: only the followed %-all link survives (the
    // %3 topic link carries rel="nofollow", the %5 link is malformed)
    "web_nofollow_anchors" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'https://site' || ((doc_id + 1) % 7)::VARCHAR
        |      || '.example.com/p/' || (doc_id % 40)::VARCHAR AS target,
        |    'page ' || (doc_id % 40)::VARCHAR || ' overview' AS anchor
        |  FROM documents)
        |SELECT target, count(*)::BIGINT AS n_links,
        |  count(DISTINCT doc_id)::BIGINT AS n_sources,
        |  array_to_string(list_sort(list(DISTINCT anchor)), '|') AS anchors
        |FROM p GROUP BY target ORDER BY target""".stripMargin,
    "web_canonical_fold" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      'https://site' || (doc_id % 30)::VARCHAR
        |        || '.example.com/p/' || (doc_id % 40)::VARCHAR
        |    ELSE
        |      'https://site' || (doc_id % 30)::VARCHAR
        |        || '.example.com/p/self/' || doc_id::VARCHAR
        |    END AS eff_url
        |  FROM documents)
        |SELECT eff_url, count(*)::BIGINT AS n_pages
        |FROM e GROUP BY eff_url ORDER BY eff_url""".stripMargin,
    // BM25F over body + inlink anchors: the anchor field is re-derived in
    // SQL from the same edge arithmetic (token 'data' for even sources,
    // 'query' for odd); pseudo-stats per CombinedFieldQuery — docCount =
    // max over fields, sttf = 2*sttf_anchor + sttf_body, df = max
    // per-field df, freq = 2*tf_a + tf_b, norm = byte4 re-quantization of
    // the weighted MATCHED-field quantized lengths
    "web_anchor_search" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH e AS (
         |  SELECT doc_id AS src,
         |         (doc_id + 1) % (SELECT count(*) FROM documents) AS dst
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 2 + 1) % (SELECT count(*) FROM documents)
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, (doc_id + 7) % (SELECT count(*) FROM documents)
         |  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0),
         |atoks AS (SELECT dst AS doc_id,
         |            CASE WHEN src % 2 = 0 THEN 'data' ELSE 'query' END AS term
         |          FROM e),
         |alen AS (SELECT d.doc_id, coalesce(c.n, 0) AS dl
         |         FROM documents d LEFT JOIN (
         |           SELECT doc_id, count(*) AS n FROM atoks GROUP BY doc_id) c
         |         USING (doc_id)),
         |blen AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |aq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM alen WHERE dl > 0),
         |bq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
         |pseudo AS (SELECT
         |  greatest((SELECT count(*) FILTER (dl > 0) FROM alen),
         |           (SELECT count(*) FILTER (dl > 0) FROM blen))::DOUBLE AS n,
         |  (2 * (SELECT sum(dl) FROM alen) + (SELECT sum(dl) FROM blen))::DOUBLE AS sttf),
         |atf AS (SELECT doc_id, count(*)::DOUBLE AS freq FROM atoks
         |        WHERE term = 'data' GROUP BY doc_id),
         |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
         |        WHERE term = 'data' GROUP BY doc_id),
         |dfp AS (SELECT greatest((SELECT count(*) FROM atf), (SELECT count(*) FROM btf)) AS df),
         |idf AS (SELECT ln(1 + ((SELECT n FROM pseudo) - df + 0.5) / (df + 0.5)) AS idf FROM dfp),
         |perdoc AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  2 * coalesce(a.freq, 0) + coalesce(b.freq, 0) AS f,
         |  (CASE WHEN a.doc_id IS NOT NULL THEN 2 * aq.qdl ELSE 0 END) +
         |  (CASE WHEN b.doc_id IS NOT NULL THEN bq.qdl ELSE 0 END) AS lensum
         |  FROM atf a FULL OUTER JOIN btf b ON a.doc_id = b.doc_id
         |  LEFT JOIN aq ON aq.doc_id = coalesce(a.doc_id, b.doc_id)
         |  LEFT JOIN bq ON bq.doc_id = coalesce(a.doc_id, b.doc_id)),
         |normq AS (SELECT doc_id, f,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= round(lensum)) AS qn
         |  FROM perdoc),
         |scored AS (SELECT doc_id,
         |  (SELECT idf FROM idf) - (SELECT idf FROM idf) / (1 + f *
         |    (1.0 / (1.2 * (0.25 + 0.75 * qn / ((SELECT sttf FROM pseudo) / (SELECT n FROM pseudo)))))) AS score
         |  FROM normq)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    // the 5 PageRank iterations unroll into chained CTEs — same edge
    // multiset, outdegrees, dangling redistribution and damping as the
    // engine, derived independently from doc_id arithmetic
    "web_pagerank" -> {
      def it(k: Int) =
        s"""d${k - 1} AS (SELECT coalesce(sum(pr), 0.0) AS m
           |  FROM r${k - 1} WHERE id NOT IN (SELECT src FROM od)),
           |r$k AS (SELECT d.doc_id AS id,
           |    0.15/(SELECT n FROM nn) + 0.85*(coalesce(c.s, 0.0)
           |      + (SELECT m FROM d${k - 1})/(SELECT n FROM nn)) AS pr
           |  FROM documents d LEFT JOIN (
           |    SELECT e.dst AS id2, sum(p.pr/o.deg) AS s
           |    FROM e JOIN r${k - 1} p ON e.src = p.id
           |           JOIN od o ON o.src = e.src
           |    GROUP BY e.dst) c ON d.doc_id = c.id2)""".stripMargin
      s"""WITH nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |e AS (
         |  SELECT doc_id AS src,
         |         (doc_id + 1) % (SELECT count(*) FROM documents) AS dst
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 2 + 1) % (SELECT count(*) FROM documents)
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, (doc_id + 7) % (SELECT count(*) FROM documents)
         |  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0),
         |od AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
         |r0 AS (SELECT doc_id AS id, 1.0/(SELECT n FROM nn) AS pr
         |       FROM documents),
         |${(1 to 5).map(it).mkString(",\n")}
         |SELECT id AS doc_id, round(pr * (SELECT n FROM nn), 6) AS pr_n
         |FROM r5 ORDER BY doc_id""".stripMargin
    },
    // HITS: 3 unrolled iterations, same independently-derived edge
    // multiset; each auth/hub pass L2-normalizes via a scalar subquery
    "web_hits" -> {
      def it(k: Int) =
        s"""a${k}r AS (SELECT d.doc_id AS id, coalesce(c.s, 0.0) AS va
           |  FROM documents d LEFT JOIN (
           |    SELECT e.dst AS id2, sum(p.hub) AS s
           |    FROM e JOIN h${k - 1} p ON e.src = p.id GROUP BY e.dst) c
           |  ON d.doc_id = c.id2),
           |a$k AS (SELECT id, va/(SELECT sqrt(sum(va*va)) FROM a${k}r) AS auth
           |  FROM a${k}r),
           |h${k}r AS (SELECT d.doc_id AS id, coalesce(c.s, 0.0) AS vh
           |  FROM documents d LEFT JOIN (
           |    SELECT e.src AS id3, sum(p.auth) AS s
           |    FROM e JOIN a$k p ON e.dst = p.id GROUP BY e.src) c
           |  ON d.doc_id = c.id3),
           |h$k AS (SELECT id, vh/(SELECT sqrt(sum(vh*vh)) FROM h${k}r) AS hub
           |  FROM h${k}r)""".stripMargin
      s"""WITH e AS (
         |  SELECT doc_id AS src,
         |         (doc_id + 1) % (SELECT count(*) FROM documents) AS dst
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 2 + 1) % (SELECT count(*) FROM documents)
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id, (doc_id + 7) % (SELECT count(*) FROM documents)
         |  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0),
         |h0 AS (SELECT doc_id AS id, 1.0 AS hub FROM documents),
         |${(1 to 3).map(it).mkString(",\n")}
         |SELECT a3.id AS doc_id, round(a3.auth, 6) AS auth,
         |       round(h3.hub, 6) AS hub
         |FROM a3 JOIN h3 ON a3.id = h3.id ORDER BY doc_id""".stripMargin
    },
    "web_recrawl_diff" ->
      """WITH prev AS (
        |  SELECT 'https://site' || (doc_id % 30)::VARCHAR
        |    || '.example.com/p/' || doc_id::VARCHAR AS curl,
        |    md5(text) AS old_fp FROM documents),
        |nxt AS (
        |  SELECT 'https://site' || (doc_id % 30)::VARCHAR
        |    || '.example.com/p/' || doc_id::VARCHAR AS curl,
        |    CASE WHEN doc_id % 7 = 0 THEN md5(text || 'v2')
        |         ELSE md5(text) END AS new_fp
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT 'https://site' || (doc_id % 30)::VARCHAR
        |    || '.example.com/p/' || doc_id::VARCHAR || '-new',
        |    md5(text || 'new')
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT coalesce(p.curl, n.curl) AS curl, old_fp, new_fp,
        |  CASE WHEN old_fp IS NULL THEN 'new'
        |       WHEN new_fp IS NULL THEN 'gone'
        |       WHEN old_fp = new_fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM prev p FULL OUTER JOIN nxt n ON p.curl = n.curl
        |ORDER BY curl""".stripMargin,
    "web_redirect_fold" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        |r AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents, nn
        |  WHERE doc_id % 5 IN (1, 2) AND doc_id + 1 < nn.n
        |  UNION ALL
        |  SELECT doc_id, doc_id + 1 FROM documents, nn
        |  WHERE doc_id % 50 = 48 AND doc_id + 1 < nn.n
        |  UNION ALL
        |  SELECT doc_id, doc_id - 1 FROM documents WHERE doc_id % 50 = 49
        |),
        |walk(src, cur, hops) AS (
        |  SELECT src, dst, 1 FROM r
        |  UNION ALL
        |  SELECT w.src, r2.dst, w.hops + 1 FROM walk w JOIN r r2 ON r2.src = w.cur
        |  WHERE w.hops < 16
        |),
        |f AS (SELECT src, max_by(cur, hops) AS target, max(hops)::BIGINT AS hops
        |      FROM walk GROUP BY src),
        |srcs AS (SELECT DISTINCT src AS target FROM r)
        |SELECT f.src, f.target, f.hops, (srcs.target IS NULL) AS resolved
        |FROM f LEFT JOIN srcs USING (target)
        |ORDER BY src""".stripMargin,
    "web_robots" -> {
      val ruleArms = RobotRules.map { case (p, a) =>
        s"SELECT '$p' AS pattern, '${graft.pipeline.UrlOps.robotsPatternRegex(p)}' AS re, " +
          s"${p.length} AS plen, ${if (a) 1 else 0} AS allow_i"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH rules AS (
         |  $ruleArms
         |),
         |p AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 6 = 0 THEN '/p/' || (doc_id % 40)::VARCHAR
         |         WHEN doc_id % 6 = 1 THEN '/admin/' || (doc_id % 7)::VARCHAR
         |         WHEN doc_id % 6 = 2 THEN '/admin/public/' || (doc_id % 5)::VARCHAR
         |         WHEN doc_id % 6 = 3 THEN '/files/f' || (doc_id % 9)::VARCHAR || '.json'
         |         WHEN doc_id % 6 = 4 THEN '/p/1' || (doc_id % 3)::VARCHAR
         |         ELSE '/' END AS path
         |  FROM documents
         |),
         |sel AS (
         |  SELECT p.doc_id, r.allow_i,
         |         row_number() OVER (PARTITION BY p.doc_id
         |                            ORDER BY r.plen DESC, r.allow_i DESC) AS rn
         |  FROM p JOIN rules r ON regexp_matches(p.path, r.re)
         |)
         |SELECT p.doc_id, p.path, coalesce(s.allow_i = 1, TRUE) AS allowed
         |FROM p LEFT JOIN (SELECT doc_id, allow_i FROM sel WHERE rn = 1) s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    "pipe_token_budget" ->
"""WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ntok,
        |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, ntok,
        |         sum(ntok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, ntok FROM c WHERE cum <= 12000 ORDER BY doc_id""".stripMargin,
    "pipe_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |wd AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts,1) AS i FROM t),
        |sh AS (SELECT DISTINCT doc_id,
        |         w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
        |           || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
        |       FROM wd),
        |shn AS (SELECT doc_id, s FROM sh WHERE s IS NOT NULL),
        |ev AS (SELECT DISTINCT s FROM shn WHERE doc_id % 50 = 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (
        |  SELECT DISTINCT doc_id FROM shn
        |  WHERE doc_id % 50 <> 0 AND s IN (SELECT s FROM ev))
        |ORDER BY doc_id""".stripMargin,
    "pipe_mix" ->
      """WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |tw AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) t(source, wt)),
        |cap AS (SELECT min(n / wt) AS c FROM cnt JOIN tw USING (source)),
        |fr AS (SELECT source, least(1.0, (SELECT c FROM cap) * wt / n) AS f
        |       FROM cnt JOIN tw USING (source))
        |SELECT d.doc_id, d.source FROM documents d JOIN fr USING (source)
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000
        |        < round(f * 1000000)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_semantic" ->
      OracleSql.semanticDedupSql(k = 8, iters = 3, tau = 0.4, dim = 64),
    "pipe_dsir" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |                  string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT doc_id, tgt,
        |         unnest(ts || list_transform(range(2, len(ts) + 1),
        |                                     i -> ts[i-1] || '_' || ts[i])) AS g
        |  FROM t),
        |bk AS (SELECT doc_id, tgt,
        |              ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b
        |       FROM grams),
        |model AS (SELECT b,
        |                 sum(CASE WHEN tgt THEN 1 ELSE 0 END)::DOUBLE AS tc,
        |                 sum(CASE WHEN tgt THEN 0 ELSE 1 END)::DOUBLE AS rc
        |          FROM bk GROUP BY b),
        |tot AS (SELECT sum(tc) AS tt, sum(rc) AS tr FROM model),
        |lr AS (SELECT b,
        |              ln((tc + 1.0) / ((SELECT tt FROM tot) + 1024.0))
        |            - ln((rc + 1.0) / ((SELECT tr FROM tot) + 1024.0)) AS lr
        |       FROM model),
        |w AS (SELECT doc_id, round(sum(lr), 4) AS logw
        |      FROM bk JOIN lr USING (b) WHERE NOT tgt GROUP BY doc_id),
        |k AS (SELECT ceil(0.25 * count(*))::BIGINT AS k FROM w)
        |SELECT doc_id, logw FROM w
        |ORDER BY logw DESC, doc_id LIMIT (SELECT k FROM k)""".stripMargin,
    "pipe_pack" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ntok,
        |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, ntok,
        |         sum(ntok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
        |           - ntok AS start_off
        |  FROM t
        |)
        |SELECT doc_id, ntok, start_off,
        |       start_off // 2048 AS bin_first,
        |       (start_off + ntok - 1) // 2048 AS bin_last
        |FROM c ORDER BY doc_id""".stripMargin,
    "mm_decode" ->
      """SELECT doc_id AS id, (doc_id % 64 + 16)::INT AS width,
        |       ((doc_id * 7) % 48 + 16)::INT AS height, 'png' AS format
        |FROM documents ORDER BY id""".stripMargin,
    "mm_audio" ->
      """SELECT doc_id AS id, (doc_id % 1000 + 100)::BIGINT AS frames,
        |       (8000 + (doc_id % 4) * 4000)::INT AS sample_rate, 1 AS channels
        |FROM documents ORDER BY id""".stripMargin,
    "dedup_minhash_recall" ->
      s"""WITH ${jaccardExactCtes(0.8)},
         |mh AS (
         |  SELECT id, i, min(('0x' || substr(md5(s || ':' || i), 1, 8))::BIGINT) AS h
         |  FROM sh CROSS JOIN generate_series(0, 15) g(i) GROUP BY id, i
         |), band AS (
         |  SELECT id, i // 2 AS band, string_agg(h::VARCHAR, ',' ORDER BY i) AS bucket
         |  FROM mh GROUP BY id, i // 2
         |), cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM band a JOIN band b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
         |), sim AS (
         |  SELECT c.id_a, c.id_b,
         |         round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END)::DOUBLE / 16, 4) AS ss
         |  FROM cand c JOIN mh ma ON ma.id = c.id_a
         |              JOIN mh mb ON mb.id = c.id_b AND mb.i = ma.i
         |  GROUP BY c.id_a, c.id_b
         |), approx AS (SELECT id_a, id_b FROM sim WHERE ss >= 0.5),
         |${recallTail}""".stripMargin,
    "dedup_simhash_recall" ->
      s"""WITH ${jaccardExactCtes(0.9)},
         |tokw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |th AS (
         |  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hi,
         |         ('0x' || substr(md5(w), 9, 8))::BIGINT AS lo
         |  FROM tokw
         |), vote AS (
         |  SELECT doc_id, j,
         |    sum((CASE WHEN j < 32 THEN (lo >> j) & 1 ELSE (hi >> (j - 32)) & 1 END) * 2 - 1) AS v
         |  FROM th CROSS JOIN generate_series(0, 63) g(j) GROUP BY doc_id, j
         |), sig AS ( -- signature as two 32-bit halves (2^63 would overflow BIGINT)
         |  SELECT doc_id,
         |    sum(CASE WHEN v > 0 AND j < 32 THEN 1 << j ELSE 0 END) AS slo,
         |    sum(CASE WHEN v > 0 AND j >= 32 THEN 1 << (j - 32) ELSE 0 END) AS shi
         |  FROM vote GROUP BY doc_id
         |), banded AS ( -- the pigeonhole 4x16-bit banding, like the engine
         |  SELECT doc_id, slo, shi, 0 AS band, slo & 65535 AS bits FROM sig
         |  UNION ALL SELECT doc_id, slo, shi, 1, (slo >> 16) & 65535 FROM sig
         |  UNION ALL SELECT doc_id, slo, shi, 2, shi & 65535 FROM sig
         |  UNION ALL SELECT doc_id, slo, shi, 3, (shi >> 16) & 65535 FROM sig
         |), approx AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi)) <= 3
         |),
         |${recallTail}""".stripMargin,
    "dedup_embed_recall" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |bk AS (
         |${srpBucketArms(dim = 64, nPlanes = 6, tables = 8)}
         |), cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM bk a JOIN bk b
         |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
         |), approx AS (
         |  SELECT c.id_a, c.id_b FROM cand c
         |  JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
         |  WHERE round(list_cosine_similarity(va.v, vb.v), 4) >= 0.3
         |), exact AS (
         |  SELECT a.id AS id_a, b.id AS id_b FROM v a JOIN v b ON a.id < b.id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
         |),
         |${recallTail}""".stripMargin,
    "ann_lsh_recall" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |ap AS (
         |  SELECT a.id AS id, b.id AS nbr,
         |         round(list_cosine_similarity(a.v, b.v), 4) AS sim
         |  FROM v a JOIN v b ON a.id <> b.id
         |), exact AS (
         |  SELECT id AS id_a, nbr AS id_b FROM (
         |    SELECT id, nbr, row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr ASC) AS rn
         |    FROM ap) WHERE rn <= 5
         |), bk AS (
         |${srpBucketArms(dim = 64, nPlanes = 8, tables = 4)}
         |), cand AS (
         |  SELECT DISTINCT a.id AS id, b.id AS nbr FROM bk a JOIN bk b
         |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id
         |), scored AS (
         |  SELECT c.id, c.nbr, round(list_cosine_similarity(va.v, vb.v), 4) AS sim
         |  FROM cand c JOIN v va ON va.id = c.id JOIN v vb ON vb.id = c.nbr
         |), approx AS (
         |  SELECT id AS id_a, nbr AS id_b FROM (
         |    SELECT id, nbr, row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr ASC) AS rn
         |    FROM scored) WHERE rn <= 5
         |),
         |${recallTail}""".stripMargin,
    "dedup_embed_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_topk" ->
      """SELECT b.vec_id,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        |WHERE a.vec_id = 0
        |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    "ann_sq_topk" ->
      """WITH bounds AS (
        |  SELECT min(list_aggregate(embedding::DOUBLE[], 'min')) AS lo,
        |         max(list_aggregate(embedding::DOUBLE[], 'max')) AS hi
        |  FROM embeddings
        |), deq AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> lo + round((x - lo) * (127.0/(hi - lo))) * ((hi - lo)/127.0)) AS v
        |  FROM embeddings, bounds
        |)
        |SELECT b.vec_id, round(list_cosine_similarity(a.v, b.v), 4) AS sim
        |FROM deq a JOIN deq b ON b.vec_id <> 0
        |WHERE a.vec_id = 0
        |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    "ann_sq_rescore" ->
      """SELECT b.vec_id,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        |WHERE a.vec_id = 0
        |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    "ann_sq_recall" ->
      """WITH bounds AS (
        |  SELECT min(list_aggregate(embedding::DOUBLE[], 'min')) AS lo,
        |         max(list_aggregate(embedding::DOUBLE[], 'max')) AS hi
        |  FROM embeddings
        |), deq AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> lo + round((x - lo) * (127.0/(hi - lo))) * ((hi - lo)/127.0)) AS v
        |  FROM embeddings, bounds
        |), approx AS (
        |  SELECT b.vec_id AS id_a, 0 AS id_b,
        |         round(list_cosine_similarity(a.v, b.v), 4) AS sim
        |  FROM deq a JOIN deq b ON b.vec_id <> 0
        |  WHERE a.vec_id = 0
        |  ORDER BY sim DESC, b.vec_id ASC LIMIT 10
        |), exact AS (
        |  SELECT b.vec_id AS id_a, 0 AS id_b,
        |         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        |  WHERE a.vec_id = 0
        |  ORDER BY sim DESC, b.vec_id ASC LIMIT 10
        |),
        |fnd AS (SELECT count(*) AS f FROM exact JOIN approx USING (id_a, id_b)),
        |tot AS (SELECT count(*) AS t FROM exact)
        |SELECT f::BIGINT AS found, t::BIGINT AS total,
        |       round(CASE WHEN t = 0 THEN 1.0 ELSE f::DOUBLE / t END, 4) AS recall
        |FROM fnd, tot""".stripMargin,
    "ann_bq_topk" ->
      (bqHamCtes +
        """
          |SELECT vec_id, hamming FROM ham
          |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin),
    "ann_bq_rescore" ->
      (bqEstCtes +
        """,
          |cand AS (SELECT vec_id FROM est ORDER BY est DESC, vec_id ASC
          |         LIMIT (SELECT greatest(200, count(*) // 25) FROM embeddings))
          |SELECT b.vec_id,
          |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
          |FROM embeddings a
          |JOIN embeddings b ON b.vec_id IN (SELECT vec_id FROM cand)
          |WHERE a.vec_id = 0
          |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin),
    "ann_bq_recall" ->
      (bqEstCtes +
        """,
          |cand AS (SELECT vec_id FROM est ORDER BY est DESC, vec_id ASC
          |         LIMIT (SELECT greatest(200, count(*) // 25) FROM embeddings)),
          |approx AS (
          |  SELECT b.vec_id AS id_a, 0 AS id_b
          |  FROM embeddings a
          |  JOIN embeddings b ON b.vec_id IN (SELECT vec_id FROM cand)
          |  WHERE a.vec_id = 0
          |  ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
          |           b.vec_id ASC LIMIT 10
          |), exact AS (
          |  SELECT b.vec_id AS id_a, 0 AS id_b
          |  FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
          |  WHERE a.vec_id = 0
          |  ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
          |           b.vec_id ASC LIMIT 10
          |),
          |fnd AS (SELECT count(*) AS f FROM exact JOIN approx USING (id_a, id_b)),
          |tot AS (SELECT count(*) AS t FROM exact)
          |SELECT f::BIGINT AS found, t::BIGINT AS total,
          |       round(CASE WHEN t = 0 THEN 1.0 ELSE f::DOUBLE / t END, 4) AS recall
          |FROM fnd, tot""".stripMargin),
    "ann_ivf_exact" ->
      """SELECT b.vec_id,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        |WHERE a.vec_id = 0
        |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    "ann_hnsw_join" ->
      """SELECT q.vec_id AS qid, b.vec_id,
        |       round(list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
        |WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
        |           b.vec_id ASC) <= 10""".stripMargin,
    "ann_hnsw_exact" ->
      """SELECT b.vec_id,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        |WHERE a.vec_id = 0
        |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |       len(list_distinct(string_split(text, ' '))) AS n_unique,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" -> "", // replaced below
    "text_langid" -> "",  // replaced below
    "text_fingerprint" ->
      "SELECT doc_id, md5(text) AS fingerprint FROM documents ORDER BY doc_id",
    "text_termstats" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_term_freq
        |FROM tok GROUP BY term ORDER BY doc_freq DESC, term ASC LIMIT 25""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id AS id, length(text)::BIGINT AS n_bytes,
        |       (length(text) % 640)::INT AS width,
        |       ((length(text) * 7) % 480)::INT AS height,
        |       (length(text) % 16)::INT AS frames
        |FROM documents ORDER BY id""".stripMargin,
    "stream_percolate" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |d AS (SELECT DISTINCT doc_id FROM documents)
         |SELECT 'alert_cb' AS query_id, doc_id AS doc FROM d
         |WHERE ${hasTerm("customer")} AND NOT ${hasTerm("batch")}
         |UNION ALL
         |SELECT 'alert_sd', doc_id FROM d WHERE ${hasTerm("spark")} AND ${hasTerm("data")}
         |UNION ALL
         |SELECT 'alert_vm', doc_id FROM d WHERE ${hasTerm("vector")} OR ${hasTerm("merge")}
         |ORDER BY query_id, doc""".stripMargin,
    "ft_facet_range" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
         |SELECT CASE WHEN dl < 30 THEN 'short' WHEN dl < 60 THEN 'medium' ELSE 'long' END AS len_range,
         |       count(*) AS n_docs
         |FROM m JOIN dlen USING (doc_id)
         |GROUP BY 1 ORDER BY len_range""".stripMargin,
    "ft_facet_dynrange" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
         |j AS (SELECT d.doc_id, d.n_chars FROM m JOIN documents d USING (doc_id)),
         |tiled AS (SELECT n_chars,
         |            ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS tile
         |          FROM j)
         |SELECT tile, min(n_chars) AS lo, max(n_chars) AS hi, count(*) AS n_docs
         |FROM tiled GROUP BY tile ORDER BY tile""".stripMargin,
    "ft_mlt_topk" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |qlen AS (SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
         |doc0 AS (SELECT term, count(*)::DOUBLE AS tf0 FROM tok WHERE doc_id = 0 GROUP BY term),
         |alldf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
         |mlt AS (SELECT d.term,
         |          round(d.tf0 * ln(1 + ((SELECT n FROM stats) - a.df + 0.5) / (a.df + 0.5)), 6) AS w
         |        FROM doc0 d JOIN alldf a USING (term)
         |        ORDER BY w DESC, d.term ASC LIMIT 5),
         |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |       WHERE term IN (SELECT term FROM mlt) GROUP BY doc_id, term),
         |idf AS (SELECT term, ln(1 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
         |        FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |  idf.idf - idf.idf / (1 + tf.freq *
         |    (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS s
         |  FROM tf JOIN idf USING (term) JOIN qlen ON qlen.doc_id = tf.doc_id),
         |scored AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "ft_mlt_like" -> mltLikeSql,
    "ft_mlt_tv" -> mltLikeSql,
    "ft_termvectors" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT doc_id, term, count(*) AS freq FROM tok WHERE doc_id < 10
        |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,
    "ft_facet_hierarchy" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT d.doc_id, d.source, d.lang,
         |             CASE WHEN d.n_chars < 500 THEN 'small'
         |                  WHEN d.n_chars < 1000 THEN 'mid'
         |                  ELSE 'large' END AS size_bucket
         |      FROM documents d
         |      WHERE d.doc_id IN (SELECT doc_id FROM tok WHERE term = 'data'))
         |SELECT source AS path, count(*) AS n_docs FROM m GROUP BY 1
         |UNION ALL
         |SELECT source || '/' || lang, count(*) FROM m GROUP BY 1
         |UNION ALL
         |SELECT source || '/' || lang || '/' || size_bucket, count(*) FROM m GROUP BY 1
         |ORDER BY path""".stripMargin,
    "ft_suggest_infix" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
        |WHERE term LIKE '%ar%' GROUP BY term
        |ORDER BY doc_freq DESC, term ASC LIMIT 10""".stripMargin,
    "rel_json" ->
      """SELECT event_type, count(*) AS n,
        |       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_session" ->
      """WITH d AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
        |  FROM d
        |)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |       round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        |       round(sum(value::DECIMAL(30,6))::DOUBLE, 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_window_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream_join" ->
      """WITH v AS (SELECT event_id AS left_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT event_id AS right_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT v.left_id, p.right_id, v.user_id
        |FROM v JOIN p ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY left_id, right_id""".stripMargin,
    "rel_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,6))::DOUBLE, 4) AS revenue,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rel_join_topk" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "rel_window_top2" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders
        |) WHERE rn <= 2 AND o_custkey < 50 ORDER BY o_custkey, rn""".stripMargin,
    "rel_semijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""".stripMargin
  ) ++ Map(
    "ft_norms" -> {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
         |SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
         |FROM dlen ORDER BY doc_id""".stripMargin
    },
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  round(length(text)::DOUBLE / len(toks), 4) AS chars_per_token,
        |  round(len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x)))::DOUBLE / len(toks), 4) AS stop_ratio,
        |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |r AS (SELECT doc_id,
        |  len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x)))::DOUBLE / len(toks) AS ratio
        |  FROM t)
        |SELECT doc_id, CASE WHEN ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred,
        |       round(ratio, 4) AS stop_ratio
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_pii_scrub" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR
        |         || '@mail' || (doc_id % 10)::VARCHAR || '.example.com'
        |         || ' from 10.' || (doc_id % 256)::VARCHAR
        |         || '.0.' || (doc_id % 100)::VARCHAR
        |         || ' call ' || (doc_id % 900 + 100)::VARCHAR
        |         || '-' || (doc_id % 900 + 100)::VARCHAR
        |         || '-' || (doc_id % 9000 + 1000)::VARCHAR AS text
        |  FROM documents),
        |s1 AS (SELECT doc_id, text,
        |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                 '<EMAIL>', 'g') AS t1 FROM t),
        |s2 AS (SELECT doc_id, text, t1,
        |  regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |                 '<IP>', 'g') AS t2 FROM s1)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t1,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(t2, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phones,
        |  md5(regexp_replace(t2, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'))
        |    AS scrubbed_md5
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "text_langid_ngram" ->
      """WITH bg AS (
        |  SELECT doc_id, lang,
        |         unnest(flatten(list_transform(string_split(text, ' '), w ->
        |           list_transform(range(1, length('_' || w || '_')),
        |             i -> substr('_' || w || '_', i::INT, 2))))) AS bg
        |  FROM documents),
        |lp AS (SELECT lang, bg, rl FROM (
        |    SELECT lang, bg, row_number() OVER (PARTITION BY lang
        |             ORDER BY count(*) DESC, bg ASC) AS rl
        |    FROM bg WHERE doc_id % 10 <> 0 GROUP BY lang, bg)
        |  WHERE rl <= 40),
        |dp AS (SELECT doc_id, bg, rd FROM (
        |    SELECT doc_id, bg, row_number() OVER (PARTITION BY doc_id
        |             ORDER BY count(*) DESC, bg ASC) AS rd
        |    FROM bg WHERE doc_id % 10 = 0 GROUP BY doc_id, bg)
        |  WHERE rd <= 40),
        |langs AS (SELECT DISTINCT lang FROM lp),
        |d AS (SELECT dp.doc_id, l.lang,
        |             sum(coalesce(abs(dp.rd - lp.rl), 40)) AS dist
        |      FROM dp CROSS JOIN langs l
        |      LEFT JOIN lp ON lp.lang = l.lang AND lp.bg = dp.bg
        |      GROUP BY dp.doc_id, l.lang),
        |r AS (SELECT doc_id, lang, dist, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS rn FROM d)
        |SELECT doc_id, lang AS pred, dist FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "text_bpe_merges" -> bpeMerges(8),
    "text_bpe_encode" -> bpeEncode(8),
    "text_gopher" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |m AS (SELECT doc_id, len(ts)::BIGINT AS n_words,
        |        round(list_sum(list_transform(ts, w -> length(w)))::DOUBLE
        |              / len(ts), 4) AS mean_word_len,
        |        round(len(list_filter(ts, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
        |              / len(ts), 4) AS alpha_frac,
        |        len(list_intersect(ts,
        |          ['the','be','to','of','and','that','have','with']))::BIGINT AS stop_hits
        |      FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
        |  (n_words BETWEEN 50 AND 100000) AS words_ok,
        |  (mean_word_len BETWEEN 3.0 AND 10.0) AS len_ok,
        |  (alpha_frac >= 0.8) AS alpha_ok,
        |  (stop_hits >= 2) AS stops_ok,
        |  ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |   AND alpha_frac >= 0.8 AND stop_hits >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_gopher_rep" ->
      """WITH w AS (
        |  SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)),
        |dc AS (SELECT doc_id, sum(length(w)) AS doc_chars FROM w GROUP BY 1),
        |l AS (SELECT doc_id, pos, w,
        |        lead(w,1) OVER win AS w1, lead(w,2) OVER win AS w2,
        |        lead(w,3) OVER win AS w3, lead(w,4) OVER win AS w4,
        |        lead(w,5) OVER win AS w5, lead(w,6) OVER win AS w6,
        |        lead(w,7) OVER win AS w7, lead(w,8) OVER win AS w8,
        |        lead(w,9) OVER win AS w9
        |      FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |g AS (
        |  SELECT doc_id, pos, 2 AS n, concat_ws(' ', w, w1) AS gram,
        |         length(w)+length(w1) AS gchars FROM l WHERE w1 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 3, concat_ws(' ', w, w1, w2),
        |         length(w)+length(w1)+length(w2) FROM l WHERE w2 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 4, concat_ws(' ', w, w1, w2, w3),
        |         length(w)+length(w1)+length(w2)+length(w3) FROM l WHERE w3 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 5, concat_ws(' ', w, w1, w2, w3, w4),
        |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)
        |         FROM l WHERE w4 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 6, concat_ws(' ', w, w1, w2, w3, w4, w5),
        |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
        |         FROM l WHERE w5 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 7, concat_ws(' ', w, w1, w2, w3, w4, w5, w6),
        |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
        |         +length(w6) FROM l WHERE w6 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 8, concat_ws(' ', w, w1, w2, w3, w4, w5, w6, w7),
        |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
        |         +length(w6)+length(w7) FROM l WHERE w7 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 9, concat_ws(' ', w, w1, w2, w3, w4, w5, w6, w7, w8),
        |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
        |         +length(w6)+length(w7)+length(w8) FROM l WHERE w8 IS NOT NULL
        |  UNION ALL SELECT doc_id, pos, 10, concat_ws(' ', w, w1, w2, w3, w4, w5, w6, w7, w8, w9),
        |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
        |         +length(w6)+length(w7)+length(w8)+length(w9) FROM l WHERE w9 IS NOT NULL),
        |o AS (SELECT *, count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt FROM g),
        |top AS (SELECT doc_id, n, cnt * gchars AS topchars FROM o WHERE n <= 4
        |        QUALIFY row_number() OVER (
        |          PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) = 1),
        |tops AS (SELECT doc_id,
        |          max(CASE WHEN n=2 THEN topchars END) AS t2,
        |          max(CASE WHEN n=3 THEN topchars END) AS t3,
        |          max(CASE WHEN n=4 THEN topchars END) AS t4 FROM top GROUP BY 1),
        |cov AS (SELECT DISTINCT doc_id, n, cpos FROM (
        |          SELECT doc_id, n, pos + unnest(generate_series(0, n - 1)) AS cpos
        |          FROM o WHERE n >= 5 AND cnt >= 2)),
        |dup AS (SELECT cov.doc_id, cov.n, sum(length(w.w)) AS dupchars
        |        FROM cov JOIN w ON w.doc_id = cov.doc_id AND w.pos = cov.cpos
        |        GROUP BY 1, 2),
        |dups AS (SELECT doc_id,
        |          max(CASE WHEN n=5 THEN dupchars END) AS d5,
        |          max(CASE WHEN n=6 THEN dupchars END) AS d6,
        |          max(CASE WHEN n=7 THEN dupchars END) AS d7,
        |          max(CASE WHEN n=8 THEN dupchars END) AS d8,
        |          max(CASE WHEN n=9 THEN dupchars END) AS d9,
        |          max(CASE WHEN n=10 THEN dupchars END) AS d10 FROM dup GROUP BY 1)
        |SELECT dc.doc_id,
        |  round(coalesce(t2, 0)::DOUBLE / doc_chars, 4) AS top2_frac,
        |  round(coalesce(t3, 0)::DOUBLE / doc_chars, 4) AS top3_frac,
        |  round(coalesce(t4, 0)::DOUBLE / doc_chars, 4) AS top4_frac,
        |  round(coalesce(d5, 0)::DOUBLE / doc_chars, 4) AS dup5_frac,
        |  round(coalesce(d6, 0)::DOUBLE / doc_chars, 4) AS dup6_frac,
        |  round(coalesce(d7, 0)::DOUBLE / doc_chars, 4) AS dup7_frac,
        |  round(coalesce(d8, 0)::DOUBLE / doc_chars, 4) AS dup8_frac,
        |  round(coalesce(d9, 0)::DOUBLE / doc_chars, 4) AS dup9_frac,
        |  round(coalesce(d10, 0)::DOUBLE / doc_chars, 4) AS dup10_frac,
        |  (round(coalesce(t2, 0)::DOUBLE / doc_chars, 4) <= 0.20
        |   AND round(coalesce(t3, 0)::DOUBLE / doc_chars, 4) <= 0.18
        |   AND round(coalesce(t4, 0)::DOUBLE / doc_chars, 4) <= 0.16
        |   AND round(coalesce(d5, 0)::DOUBLE / doc_chars, 4) <= 0.15
        |   AND round(coalesce(d6, 0)::DOUBLE / doc_chars, 4) <= 0.14
        |   AND round(coalesce(d7, 0)::DOUBLE / doc_chars, 4) <= 0.13
        |   AND round(coalesce(d8, 0)::DOUBLE / doc_chars, 4) <= 0.12
        |   AND round(coalesce(d9, 0)::DOUBLE / doc_chars, 4) <= 0.11
        |   AND round(coalesce(d10, 0)::DOUBLE / doc_chars, 4) <= 0.10) AS pass
        |FROM dc LEFT JOIN tops USING (doc_id) LEFT JOIN dups USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_unigram_xent" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |model AS (SELECT tok, count(*) AS ttf FROM toks GROUP BY tok),
        |n AS (SELECT sum(ttf)::DOUBLE AS total FROM model)
        |SELECT doc_id,
        |  round(avg(ln((SELECT total FROM n)) - ln(ttf)), 4) AS xent,
        |  count(*) AS n_toks
        |FROM toks JOIN model USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_shingles" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM t),
        |nx AS (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS nw FROM w)
        |SELECT w || '_' || nw AS shingle, count(*) AS n FROM nx WHERE nw IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, shingle ASC LIMIT 25""".stripMargin,
    "text_stem_minimal" ->
      s"""WITH t AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents),
         |v AS (SELECT term, term || s AS variant
         |      FROM t, (VALUES (''),('s'),('es'),('ies'),('ss'),('us')) sfx(s))
         |SELECT term, variant, ${OracleSql.minimalStemCase("variant")} AS stemmed
         |FROM v ORDER BY term, variant""".stripMargin,
    "text_fold" ->
      """WITH t AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, translate(term, 'aeiou', 'áéíóü') AS accented,
        |       strip_accents(translate(term, 'aeiou', 'áéíóü')) AS folded
        |FROM t ORDER BY term""".stripMargin,
    "ft_stem_topk" -> bm25TopK(Seq("query", "table"), "TRUE", 10, OracleSql.stemTok),
    "ft_cjk_topk" -> bm25TopK(Seq("数据", "据库", "web"), "TRUE", 10, OracleSql.cjkTok),
    "ft_nb_classify" ->
      """WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0),
        |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM train),
        |ctf AS (SELECT lang, term, count(*)::DOUBLE AS ctf FROM ttok GROUP BY 1, 2),
        |ctot AS (SELECT lang, sum(ctf) AS tot FROM ctf GROUP BY 1),
        |nd AS (SELECT lang, count(*)::DOUBLE AS ndocs FROM train GROUP BY 1),
        |tn AS (SELECT count(*)::DOUBLE AS n FROM train),
        |voc AS (SELECT DISTINCT term FROM ctf),
        |vs AS (SELECT count(*)::DOUBLE AS v FROM voc),
        |qtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM test),
        |qtf AS (SELECT doc_id, term, count(*)::DOUBLE AS tfd
        |        FROM qtok JOIN voc USING (term) GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, sum(tfd) AS dlen FROM qtf GROUP BY 1),
        |hit AS (SELECT doc_id, lang, sum(tfd * ln(ctf + 1)) AS hit
        |        FROM qtf JOIN ctf USING (term) GROUP BY 1, 2),
        |cconst AS (SELECT lang, ln(ndocs / (SELECT n FROM tn)) AS lprior,
        |                  ln(tot + (SELECT v FROM vs)) AS ldenom
        |           FROM nd JOIN ctot USING (lang)),
        |scored AS (SELECT d.doc_id, c.lang,
        |                  c.lprior + coalesce(h.hit, 0) - d.dlen * c.ldenom AS score
        |           FROM dlen d CROSS JOIN cconst c
        |           LEFT JOIN hit h ON h.doc_id = d.doc_id AND h.lang = c.lang),
        |ranked AS (SELECT doc_id, lang, score,
        |                  row_number() OVER (PARTITION BY doc_id
        |                    ORDER BY round(score, 6) DESC, lang ASC) AS rn
        |           FROM scored)
        |SELECT doc_id, lang AS pred, round(score, 6) AS score
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // ---- spatial
    "geo_box" ->
      s"""WITH $geoPts
         |SELECT doc_id, lat, lon FROM pts
         |WHERE lat >= 10.0 AND lat <= 45.0 AND (lon >= 170.0 OR lon <= -170.0)
         |ORDER BY doc_id""".stripMargin,
    "geo_distance" ->
      s"""WITH $geoPts,
         |d AS (SELECT doc_id, ${havSql(48.8566, 2.3522)} AS dist FROM pts)
         |SELECT doc_id, CAST(dist AS FLOAT) AS dist_m FROM d
         |WHERE dist <= 3000000.0 ORDER BY doc_id""".stripMargin,
    "geo_knn" ->
      s"""WITH $geoPts,
         |d AS (SELECT doc_id, ${havSql(37.7749, -122.4194)} AS dist FROM pts)
         |SELECT doc_id, CAST(dist AS FLOAT) AS dist_m FROM d
         |ORDER BY dist ASC, doc_id ASC LIMIT 20""".stripMargin,
    "geo_polygon" ->
      s"""WITH $geoPts
         |SELECT doc_id, lat, lon FROM pts
         |WHERE ${graft.spatial.Geo.polygonContainsSql(geoPoly)}
         |ORDER BY doc_id""".stripMargin,
    "geo_grid_agg" ->
      s"""WITH $geoPts
         |SELECT CAST(floor(lat/15.0) AS BIGINT) AS cell_lat,
         |       CAST(floor(lon/15.0) AS BIGINT) AS cell_lon,
         |       count(*) AS n, round(avg(lat), 6) AS mean_lat,
         |       round(avg(lon), 6) AS mean_lon
         |FROM pts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "geo_ft_distance" ->
      s"""WITH $geoPts,
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'data'),
         |d AS (SELECT p.doc_id, ${havSql(52.52, 13.405)} AS dist
         |      FROM pts p JOIN hits h ON p.doc_id = h.doc_id)
         |SELECT doc_id, CAST(dist AS FLOAT) AS dist_m FROM d
         |ORDER BY dist ASC, doc_id ASC LIMIT 10""".stripMargin
  )
}
