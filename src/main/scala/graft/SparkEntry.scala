package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.StandardAnalyzer
import graft.entries._
import graft.index.{IndexBuilder, IndexConfig, Manifest, SegmentManifest}
import graft.search._
// scoring models; graft.pipeline.Similarity holds the vector-similarity ops
import graft.search.{Similarity => Sim}

/** Driver contract: one entry per implemented operator (SURVEY.md §2),
  * declared once in its family's file under `graft/entries/` with its
  * DuckDB-equivalent oracle SQL where the semantics are SQL-expressible.
  * `queries` and `oracleSql` are views over that one list. Fulltext entries
  * run the REAL engine path (tokenize → posting blocks → term dict →
  * block-max WAND) in double-precision oracle mode; the float-exact
  * rank-identity path is gated by `sbt -batch test` (IndexSearchSpec duels).
  * This object keeps the index registry the entries share ([[Variant]],
  * [[searcherFor]], [[clearIndexCache]]) and their shared helpers.
  */
object SparkEntry {

  private val K1 = 1.2d
  private val B = 0.75d

  // ------------------------------------------------------- index registry

  private[graft] def indexDirFor(sfDir: String): java.nio.file.Path =
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

  private[graft] def docIdOf(url: Column) =
    substring(url, 4, 12).cast("bigint").as("doc_id")

  /** Synthetic link multigraph for the web-graph entries, pure doc_id
    * arithmetic (every 10th page dangling, every 3rd page a third
    * out-link, doc 6 a parallel edge) so the SQL oracle rebuilds the edge
    * multiset independently. Returns (node count, edges(src,dst)).
    */
  private[graft] def webEdges(docs: DataFrame): (Long, DataFrame) = {
    val n = docs.count()
    val id = col("doc_id")
    val linked = docs.where(id % 10 =!= 0)
    val edges = linked.select(id.as("src"), ((id + 1) % n).as("dst"))
      .union(linked.select(id.as("src"), ((id * 2 + 1) % n).as("dst")))
      .union(linked.where(id % 3 === 0)
        .select(id.as("src"), ((id + 7) % n).as("dst")))
    (n, edges)
  }

  /** Top-k hits with VERIFIED rounding-tie slack: the oracle compares
    * 6-dp-rounded scores, so the engine must fetch enough raw hits that no
    * uncollected doc could round into the top k. Sufficiency check: the
    * weakest collected raw score, rounded, must fall strictly below the
    * k-th rounded score (every uncollected doc scores <= the weakest
    * collected). On failure the slack escalates 10x instead of silently
    * diverging.
    */
  private[graft] def topKVerified(
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
  private[graft] def topKDf(se: IndexSearcher, q: Query, k: Int): DataFrame =
    se.fetchDocs(topKVerified(se, q, k))
      .select(docIdOf(col("url")), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  private[graft] def ftTopK(
      spark: SparkSession, sfDir: String, queryStr: String, k: Int): DataFrame = {
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

  private[graft] def docsDf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  // ------------------------------------------------------- flagship

  /** Flagship: end-to-end index + BM25 WAND top-10 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    ftTopK(spark, "/root/testdata/sf0.001", "data OR query OR stream", 10)

  // ------------------------------------------------------- entries

  /** Every entry, each declared once in its family's file. */
  lazy val entries: Seq[Entry] = Entry.registry(Seq(
    FulltextEntries, WebEntries, DedupEntries, AnnEntries, TextEntries,
    MultimodalEntries, StreamingEntries, RelationalEntries, SpatialEntries
  ).flatMap(_.declared))

  /** Each entry's Spark body by name: what Verify dumps. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  /** Each oracle-paired entry's DuckDB SQL by name: Verify's oracle_sql.json. */
  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(sql => e.name -> sql())).toMap
}

/** One driver-contract entry: its Spark body over an sfDir's tables, its
  * DuckDB oracle (None for an approximation with no exact SQL answer) and
  * whether [[Bench]] times it.
  */
final case class Entry(
    name: String, run: (SparkSession, String) => DataFrame,
    oracle: Option[() => String], bench: Boolean)

object Entry {

  /** `entries` as given; a name declared twice fails here, naming it. */
  def registry(entries: Seq[Entry]): Seq[Entry] = {
    val twice = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"entry declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    entries
  }
}

/** A family of entries, each declared by one call in the object's body. */
abstract class EntryFamily {
  private val buf = scala.collection.mutable.ArrayBuffer[Entry]()

  /** The family's entries in declaration order. */
  final def declared: Seq[Entry] = buf.toSeq

  /** An entry whose exact answer the DuckDB `oracle` computes. */
  protected final def exact(name: String, bench: Boolean = false)(
      run: (SparkSession, String) => DataFrame)(oracle: => String): Unit =
    buf += Entry(name, run, Some(() => oracle), bench)

  /** An approximation (seeded hashing, pruned search): no exact SQL answer. */
  protected final def approximate(name: String, bench: Boolean = false)(
      run: (SparkSession, String) => DataFrame): Unit =
    buf += Entry(name, run, None, bench)
}
