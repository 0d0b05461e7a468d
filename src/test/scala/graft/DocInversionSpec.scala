package graft

import org.apache.spark.sql.Dataset

import graft.analysis.{StandardAnalyzer, SynonymInjector}
import graft.codec.SmallFloat
import graft.index.{FieldKey, IndexBuilder, IndexConfig}
import graft.index.Schema.DocTokens

/** Pins what the build's per-doc inverter hands the segment writer. Each
  * [[DocTokens]] of `assignAndTokenize` / `assignAndTokenizeFields` must
  * equal an inversion built here from `cfg.analyzer.tokens`, the config's
  * [[SynonymInjector]] and this spec's own whitespace-and-`|N` payload
  * chunking: per term (freq, positions, offsets, payloads, norm), per doc
  * (length, norm) and per field (name -> length), compared as maps, since
  * the order of a doc's terms is not part of the contract. The docIds must
  * be the dense rank of the docs in index-sort order.
  */
class DocInversionSpec extends SparkTestBase {
  import SegmentCommitSpec.{fieldPages, pages, payloadPages, small}

  /** One term of a doc: (freq, positions, offsets, payloads, norm). */
  private type Inv = (Int, Seq[Int], Seq[Int], Seq[Int], Int)

  /** One doc: (length, norm, field -> length, term -> inversion). */
  private type Doc = (Int, Int, Map[String, Int], Map[String, Inv])

  /** One occurrence of a term: (term, position, startOffset, endOffset, payload). */
  private type Occ = (String, Int, Int, Int, Int)

  private def norm(length: Int): Int = java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(length))

  private def got(d: DocTokens): Doc = {
    def at(xs: Array[Array[Int]], i: Int): Seq[Int] = if (xs == null) null else xs(i).toSeq
    val terms = d.terms.indices.map { i =>
      d.terms(i) -> ((d.freqs(i), at(d.positions, i), at(d.offsets, i), at(d.payloads, i),
        if (d.termNorms == null) d.norm else d.termNorms(i)))
    }
    assert(terms.map(_._1).distinct.size == terms.size, s"${d.url} repeats a term")
    val fields =
      if (d.fieldNames == null) { assert(d.fieldLengths == null); null }
      else {
        assert(d.fieldNames.distinct.length == d.fieldNames.length, s"${d.url} repeats a field")
        d.fieldNames.zip(d.fieldLengths).toMap
      }
    (d.length, d.norm, fields, terms.toMap)
  }

  /** The occurrences of a field's terms, grouped by term, each term's in
    * position order (a stable sort: an injected synonym follows a literal
    * occurrence at its position), kept as far as `cfg` stores them.
    */
  private def grouped(occs: Seq[Occ], cfg: IndexConfig, fieldNorm: Int): Map[String, Inv] =
    occs.groupBy(_._1).map { case (t, os0) =>
      val os = os0.sortBy(_._2)
      def kept(on: Boolean, f: Occ => Seq[Int]): Seq[Int] = if (on) os.flatMap(f) else null
      t -> ((os.size, kept(cfg.storePositions, o => Seq(o._2)),
        kept(cfg.storeOffsets, o => Seq(o._3, o._4)), kept(cfg.storePayloads, o => Seq(o._5)),
        fieldNorm))
    }

  /** Whitespace chunks of `text`, each with its trailing `|<digits>`
    * payload split off (1 when it has none).
    */
  private def payloadChunks(text: String): Seq[(String, Int)] = {
    val tail = "(?s)(.+)\\|([0-9]+)".r
    text.map(c => if (Character.isWhitespace(c)) ' ' else c).split(' ').toSeq.filter(_.nonEmpty)
      .map {
        case tail(body, pay) => (body, pay.toInt)
        case chunk => (chunk, 1)
      }
  }

  /** A single-field doc's inversion: its analyzed tokens plus the synonyms
    * they inject (which do not count toward the length), or with payloads
    * the tokens of each whitespace chunk, stacked at the chunk's position.
    */
  private def wantText(text: String, cfg: IndexConfig): Doc = {
    val an = cfg.analyzer
    val (occs, length) =
      if (cfg.storePayloads) {
        val occs = payloadChunks(text).zipWithIndex.flatMap { case ((body, pay), ci) =>
          an.tokens(body).map(t => (t.term, ci, t.startOffset, t.endOffset, pay))
        }
        (occs, occs.size)
      } else {
        val toks = an.tokens(text)
        val all = toks ++ new SynonymInjector(cfg.synonymRules).injected(toks)
        (all.map(t => (t.term, t.position, t.startOffset, t.endOffset, 1)), toks.size)
      }
    (length, norm(length), null, grouped(occs, cfg, norm(length)))
  }

  /** A multi-field doc's inversion: the values of a field make one token
    * stream, each value's positions following the last token of the value
    * before by `positionIncrementGap`; terms are field-keyed and carry
    * their field's norm; the doc's length is its `text` field's.
    */
  private def wantFields(fields: Seq[(String, String)], cfg: IndexConfig): Doc = {
    val an = cfg.analyzer
    val perField = fields.map(_._1).distinct.map { f =>
      var next = 0
      val occs = fields.filter(_._1 == f).flatMap { case (_, v) =>
        val toks = an.tokens(v)
        val shifted = toks.map(t => (FieldKey.encode(f, t.term), next + t.position, 0, 0, 1))
        if (toks.nonEmpty) next += toks.last.position + 1 + cfg.positionIncrementGap
        shifted
      }
      (f, occs.size, grouped(occs, cfg, norm(occs.size)))
    }
    val length = perField.collectFirst { case (FieldKey.DefaultField, n, _) => n }.getOrElse(0)
    (length, norm(length), perField.map(f => f._1 -> f._2).toMap,
      perField.flatMap(_._3).toMap)
  }

  /** Checks every doc of an inversion against `want`, and the docIds
    * against the order of `sortKey` (then url).
    */
  private def check(docs: Seq[DocTokens], input: Map[String, Doc],
      sortKey: String => Int): Unit = {
    assert(docs.size == input.size)
    assert(docs.map(_.url).toSet == input.keySet)
    val order = input.keys.toSeq.sortBy(u => (sortKey(u), u))
    assert(docs.sortBy(_.docId).map(d => (d.docId, d.url)) ==
      order.zipWithIndex.map { case (u, i) => (i.toLong, u) })
    docs.foreach(d => assert(got(d) == input(d.url), s"doc ${d.docId} (${d.url})"))
  }

  /** `pages(n)` with every fifth word swapped for a CJK run (Han,
    * Hiragana, Katakana, Hangul, alone and mixed), a mixed-case or
    * punctuated word, or a 300-letter word the analyzer chops at 255.
    */
  private def mixedPages(n: Int): Dataset[(String, String)] = {
    import spark.implicits._
    val odd = Array("数据库", "データ", "한국어", "数", "数の字", "web数据", "O'Neil", "3.14",
      "U.S.A.", "Straße", "x_y", "___", "ÉCOLE", "a" * 300, "ｗｅｂ")
    pages(spark, n).map { case (u, t) =>
      (u, t.split(' ').zipWithIndex.map { case (w, i) =>
        if (i % 5 == 2) odd((i / 5 + u.length) % odd.length) else w
      }.mkString(" "))
    }
  }

  private val synonyms = Seq((List("court"), "tribunal"), (List("state", "law"), "statute"))

  private val textConfigs: Seq[(String, IndexConfig, Int => Dataset[(String, String)])] =
    SegmentCommitSpec.configs.filterNot(_._2.multiField).map { case (name, cfg) =>
      (name, cfg, if (cfg.storePayloads) payloadPages(spark, _: Int, messy = true)
                  else pages(spark, _: Int))
    } ++ Seq(
      ("English stopwords, positions, offsets and synonyms",
        small.copy(stopwords = StandardAnalyzer.EnglishStopwords, storePositions = true,
          storeOffsets = true, synonyms = synonyms), pages(spark, _: Int)),
      ("synonyms without positions", small.copy(synonyms = synonyms), pages(spark, _: Int)),
      ("CJK bigrams, positions and offsets",
        small.copy(cjkBigrams = true, storePositions = true, storeOffsets = true), mixedPages _),
      ("minimal stemmer", small.copy(termFilter = "minimal"), mixedPages _),
      ("index sort on text length", small.copy(indexSortExpr = "length(text)",
        storePositions = true), pages(spark, _: Int)))

  textConfigs.foreach { case (name, cfg, corpus) =>
    test(s"inverter pin: $name") {
      val input = corpus(200).collect().toMap
      val docs = IndexBuilder.assignAndTokenize(corpus(200), cfg).collect().toSeq
      val want = input.map { case (u, t) => u -> wantText(t, cfg) }
      val key: String => Int =
        if (cfg.indexSortExpr == "url") _ => 0
        else u => input(u).codePointCount(0, input(u).length)
      check(docs, want, key)
      if (cfg.synonyms.nonEmpty) assert(docs.exists(_.terms.contains("statute")))
    }
  }

  Seq(
    "multi-field with positions" -> small.copy(multiField = true, storePositions = true),
    "multi-field without positions" -> small.copy(multiField = true),
    "multi-field, English stopwords" -> small.copy(multiField = true, storePositions = true,
      stopwords = StandardAnalyzer.EnglishStopwords)
  ).foreach { case (name, cfg) =>
    test(s"inverter pin: $name (repeated title values)") {
      val input = fieldPages(spark, 200).collect().toMap
      val docs = IndexBuilder.assignAndTokenizeFields(fieldPages(spark, 200), cfg).collect().toSeq
      check(docs, input.map { case (u, fs) => u -> wantFields(fs, cfg) }, _ => 0)
      assert(docs.forall(_.fieldNames.toSeq == Seq("title", "text")))
    }
  }
}
