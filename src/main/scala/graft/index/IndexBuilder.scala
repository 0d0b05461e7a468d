package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.storage.StorageLevel

import graft.analysis.{StandardAnalyzer, SynonymInjector, SynonymRule, TermFilter, TokenSink}
import graft.codec.SmallFloat
import graft.index.Schema._

/** Index-build configuration.
  *
  * @param bucketShift  docID bucket size: bucket = docId >>> shift. It sets
  *                     each posting block's `bucket` tag (its first doc's
  *                     bucket), the grain at which `Slice.load` cuts a
  *                     segment into resident slices, and the alignment of
  *                     the docID bases a merge gives its inputs and of the
  *                     cut points a split makes. It does not partition the
  *                     build: a term's postings go to one writer task.
  * @param numPostingPartitions  term-range partitions of the postings
  *                     writer — how many files the postings are written in.
  * @param stopwords    analyzer stopword set (reference default: empty).
  */
final case class IndexConfig(
    bucketShift: Int = 20,
    numPostingPartitions: Int = 32,
    numDocPartitions: Int = 32,
    stopwords: Set[String] = Set.empty,
    maxTokenLength: Int = 255,
    storePositions: Boolean = false, // index analyzer positions (phrase path)
    // per-position character offsets in the postings (ref
    // `index/IndexOptions.java` DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS):
    // the offset-based highlighter reads exact source spans instead of
    // re-tokenizing stored text. Requires storePositions.
    storeOffsets: Boolean = false,
    multiField: Boolean = false, // FieldKey-encoded terms + per-term field norms
    // position gap between multiple values of one field (ref
    // `analysis/Analyzer.java` getPositionIncrementGap; 100 is the common
    // production setting — phrases and modest slops cannot cross values)
    positionIncrementGap: Int = 100,
    // docID order: sort key SQL expression over (url, text) — ref
    // `index/IndexWriterConfig.java` setIndexSort. Default: global url
    // rank. docIDs are the global rank in (key, url) order either way,
    // so assignment stays deterministic and resume-safe. Multi-field
    // builds (no text column) take url only.
    indexSortExpr: String = "url",
    // tail-of-chain term filter (ref `analysis/TokenFilter.java` pipelines):
    // none | minimal (Harman S-stemmer) | porter | fold (accent folding).
    // A name, not a closure, so configs serialize into executor closures
    // and manifests cleanly.
    termFilter: String = "none",
    // index-time synonym rules (ref analysis/synonym/SynonymGraphFilter
    // .java): each (variant tokens, output) injects `output` as an overlap
    // token at the variant match's first position — multi-word variants
    // supported ("new york" -> "nyc"). Injected tokens add postings and
    // count toward sumTotalTermFreq, but NOT toward document length /
    // norms (the reference's discountOverlaps default). Plain string data,
    // so configs keep serializing into executor closures. Single-field
    // builds only.
    synonyms: Seq[(List[String], String)] = Seq.empty,
    // per-position payloads (ref analysis/payloads/DelimitedPayloadToken
    // Filter.java + queries/payloads/PayloadScoreQuery.java): tokens carry
    // a trailing `|<int>` payload (default 1 when absent). Payload mode
    // whitespace-pre-splits the text — the tokenizer the reference pairs
    // delimited payloads with (UAX#29 would break at '|') — then runs each
    // chunk through the standard lowercase/stop/filter chain; all
    // sub-tokens of a chunk stack at the chunk's position with its
    // payload. Requires storePositions; mutually exclusive with
    // storeOffsets (source offsets shift when the `|N` suffix is
    // stripped).
    storePayloads: Boolean = false,
    // CJK bigram analysis (ref analysis/cjk/CJKBigramFilter.java): maximal
    // Han/Hiragana/Katakana/Hangul runs index as overlapping character
    // bigrams — the reference's own 80% answer for unsegmented scripts
    // without a per-language morphological tokenizer.
    cjkBigrams: Boolean = false,
    // per-doc term vectors (ref index/TermVectors.java,
    // codecs/lucene90/Lucene90TermVectorsFormat): persist each doc's
    // (terms, freqs) arrays — already computed in the single tokenize
    // pass — as a docId-sorted side table, so per-doc term-frequency
    // access (MoreLikeThis, highlight weighting) is an isin point lookup
    // instead of a stored-text re-analysis.
    storeTermVectors: Boolean = false,
    // per-segment Bloom filter over the term dictionary (ref
    // codecs/bloom/BloomFilteringPostingsFormat.java): term-stats probes
    // skip segments that definitely lack the term before launching any
    // scan. Opt-in like the reference's — pays off on many-small-segments
    // (NRT tails), vocabulary-proportional driver memory when loaded.
    bloomTerms: Boolean = false
) {
  def analyzer: StandardAnalyzer =
    new StandardAnalyzer(stopwords, maxTokenLength, TermFilter.byName(termFilter), cjkBigrams)

  def synonymRules: Seq[SynonymRule] = synonyms.map { case (v, o) => SynonymRule(v, o) }
}

/** Builds an inverted-index segment from a corpus of (docKey, text) rows.
  *
  * Pipeline (one analysis pass, one exchange to posting order):
  * {{{
  * input --repartitionByRange(indexSortExpr, url) + sort--> docId
  *         assignment (global rank in sort order, one count job)
  *       --mapPartitions: one Inverter per task analyzes each field value
  *         once--> cached DocTokens, one contiguous docId range per partition
  *       --write docs (the same tasks sample term range bounds)
  *       --invert in the doc task--> one posting fragment per term
  *       --ONE range exchange on term, sorted by (term, firstDocId)-->
  *         a term's fragments concatenated in docId order, cut every 128
  *         docs into PostingBlocks (delta + FOR/PFor packed, competitive
  *         impacts), as Lucene's postings writer cuts a term's postings
  *       --the writing tasks report their term stats--> terms, rterms
  * }}}
  *
  * This is the Spark re-expression of the reference indexing chain
  * (`index/IndexingChain.java:553-616` invert → `FreqProxTermsWriter.java:83-135`
  * flush → `Lucene103PostingsWriter.java:256-530` block encode): each doc
  * task inverts its docs in RAM like a DWPT, the exchange plays the role of
  * the flush sort, and the commit tail ([[SegmentWriter]]) writes postings,
  * terms and stats in one pass. Single-field and multi-field builds share
  * the docId assignment and the [[Inverter]]: a single-field doc is a doc
  * with one [[FieldKey.DefaultField]] value.
  */
object IndexBuilder {

  /** Assign dense deterministic docIDs and tokenize, in ONE pass over the
    * sorted shuffle output (see [[assigned]]).
    */
  def assignAndTokenize(
      pages: Dataset[(String, String)], // (url, text)
      cfg: IndexConfig
  ): Dataset[DocTokens] =
    assigned(pages.toDF("url", "text"), cfg) { (inv, docId, row) =>
      inv.doc(docId, row.getString(0), Seq(FieldKey.DefaultField -> row.getString(1)))
    }

  /** Multi-field variant of [[assignAndTokenize]]: each doc is
    * `(url, Seq((fieldName, fieldText)))`, docIds follow url order. Every
    * field inverts on its own (its own length → its own norm byte, ref
    * per-field `FieldInvertState`); the values of one field are one token
    * stream with `positionIncrementGap` between them. Term keys are
    * [[FieldKey]]-encoded so all fields share one sorted posting space, and
    * the per-TERM norm array carries each key's field norm into the posting
    * rows.
    */
  def assignAndTokenizeFields(
      pages: Dataset[(String, Seq[(String, String)])],
      cfg: IndexConfig
  ): Dataset[DocTokens] =
    assigned(pages.toDF("url", "fields"), cfg) { (inv, docId, row) =>
      val fields = row.getArray(1)
      inv.doc(docId, row.getString(0), (0 until fields.numElements()).map { f =>
        val st = fields.getStruct(f, 2)
        st.getUTF8String(0).toString -> st.getUTF8String(1).toString
      })
    }

  /** Sorts `docs` (columns `url` and one more) on `cfg.indexSortExpr`, url
    * as tiebreak (ref `index/IndexWriterConfig.java` setIndexSort: a
    * sorted index lets field-sorted top-k stop after the first k matches in
    * docID order), and inverts each row with `docId = partitionOffset +
    * rowRank`, one [[Inverter]] per task.
    *
    * Two jobs share one shuffle stage (same RDD lineage → Spark reuses the
    * shuffle map output): a count job over the sorted InternalRows sizes
    * each range partition without materializing any strings, then the
    * inverting pass. This is the only safe, re-runnable assignment at
    * 10^12 docs (`monotonically_increasing_id` is partitioning-dependent; a
    * global window would single-partition). docIDs are independent of the
    * sampled range boundaries — rank in sort order is global.
    */
  private def assigned(docs: DataFrame, cfg: IndexConfig)(
      invert: (Inverter, Long, InternalRow) => DocTokens): Dataset[DocTokens] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = cfg.numDocPartitions
    val sortedRows = {
      val sorted =
        if (cfg.indexSortExpr == "url")
          docs.repartitionByRange(parts, $"url").sortWithinPartitions($"url")
        else
          docs.withColumn("_k", expr(cfg.indexSortExpr))
            .repartitionByRange(parts, $"_k", $"url")
            .sortWithinPartitions($"_k", $"url")
            .select(docs.columns.map(col).toIndexedSeq: _*) // projection preserves the sort
      sorted.queryExecution.toRdd
    }
    val counts = sortedRows
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator((pid, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    spark.createDataset(sortedRows.mapPartitionsWithIndex { (pid, it) =>
      val inv = new Inverter(cfg)
      var id = offsets(pid) - 1
      it.map { row => id += 1; invert(inv, id, row) }
    })
  }

  /** End-to-end: build and atomically commit one segment at `dir`. Resumable:
    * if the segment manifest already exists the build is skipped (the
    * re-expression of the reference's two-phase `segments_N` commit,
    * `index/SegmentInfos.java`) — unless that segment was built under
    * another layout, which fails the call.
    */
  def buildSegment(
      pages: Dataset[(String, String)],
      dir: String,
      cfg: IndexConfig = IndexConfig()
  ): SegmentManifest =
    resumed(dir, cfg).getOrElse {
      require(!cfg.multiField, "use buildSegmentFields for multiField configs")
      commitSegment(pages.sparkSession, dir, cfg)(assignAndTokenize(pages, _))
    }

  /** Multi-field segment build: docs are `(url, Seq((field, text)))`; the
    * committed manifest carries per-field BM25 stats (docCount = docs with
    * >=1 token in the field, sumTotalTermFreq = field token total).
    */
  def buildSegmentFields(
      pages: Dataset[(String, Seq[(String, String)])],
      dir: String,
      cfg: IndexConfig
  ): SegmentManifest =
    resumed(dir, cfg.copy(multiField = true)).getOrElse {
      commitSegment(pages.sparkSession, dir, cfg.copy(multiField = true))(
        assignAndTokenizeFields(pages, _))
    }

  /** The committed segment at `dir`, if any. A build resumes it only when
    * it has the layout `cfg` asks for — bucketShift, positions, offsets,
    * payloads and multi-field terms — and refuses it otherwise, before any
    * Spark job.
    */
  private def resumed(dir: String, cfg: IndexConfig): Option[SegmentManifest] =
    Manifest.read(dir).map { m =>
      def same[T](what: String, have: T, want: T): Unit =
        require(have == want, s"segment at $dir was built with $what = $have, the build asks for $want")
      same("bucketShift", m.bucketShift, cfg.bucketShift)
      same("storePositions", m.hasPositions, cfg.storePositions)
      same("storeOffsets", m.hasOffsets, cfg.storeOffsets)
      same("storePayloads", m.hasPayloads, cfg.storePayloads)
      same("multiField", m.fieldStats.nonEmpty, cfg.multiField)
      m
    }

  /** The configs a build refuses, checked before any Spark job. */
  private def validate(cfg: IndexConfig): Unit = {
    require(!cfg.storeOffsets || cfg.storePositions, "storeOffsets requires storePositions")
    require(!cfg.storePayloads || cfg.storePositions, "storePayloads requires storePositions")
    require(!(cfg.storePayloads && cfg.storeOffsets),
      "storePayloads is mutually exclusive with storeOffsets")
    if (cfg.multiField) {
      require(cfg.synonyms.isEmpty,
        "index-time synonyms are single-field only (documented subset)")
      require(!cfg.storeOffsets && !cfg.storePayloads,
        "storeOffsets and storePayloads are single-field only")
      require(cfg.indexSortExpr == "url",
        "indexSortExpr is SQL over (url, text); multi-field docs sort by url only")
    }
  }

  /** What one docs-writing task saw: its rows, tokens (every field's) and
    * largest docId, per field (docs with a token, tokens), its postings and
    * a uniform sample of their terms.
    */
  private final case class DocsPart(pid: Int, rows: Long, tokens: Long, maxId: Long,
      fields: Map[String, (Long, Long)], postings: Long, samples: Array[String])

  private def commitSegment(spark: SparkSession, dir: String, cfg: IndexConfig)(
      tokenize: IndexConfig => Dataset[DocTokens]): SegmentManifest = {
    import spark.implicits._
    validate(cfg)
    val t0 = System.nanoTime()
    val docTokens = tokenize(cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // docs: the tasks that write them count them, and sample the
      // terms of their postings for the exchange's bounds
      val acc = spark.sparkContext.collectionAccumulator[DocsPart]("docs written")
      val perPart = 20 * cfg.numPostingPartitions
      spark.createDataset(docTokens
        .select($"docId", $"url", $"length", $"norm", $"terms", $"fieldNames", $"fieldLengths")
        .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          var rows, tokens, postings = 0L
          var maxId = -1L
          val fields = scala.collection.mutable.HashMap[String, (Long, Long)]()
          val samples = new Array[String](perPart)
          val rnd = new java.util.Random(pid)
          it.map { r =>
            val docId = r.getLong(0)
            rows += 1
            maxId = docId
            if (r.isNullAt(5)) tokens += r.getInt(2)
            else (0 until r.getArray(5).numElements()).foreach { f =>
              val name = r.getArray(5).getUTF8String(f).toString
              val len = r.getArray(6).getInt(f).toLong
              val (dc, sttf) = fields.getOrElse(name, (0L, 0L))
              fields(name) = (dc + (if (len > 0) 1 else 0), sttf + len)
              tokens += len
            }
            val terms = r.getArray(4)
            var i = 0
            while (i < terms.numElements()) { // reservoir sample of the postings
              val j = if (postings < perPart) postings else rnd.nextLong(postings + 1)
              if (j < perPart) samples(j.toInt) = terms.getUTF8String(i).toString
              postings += 1
              i += 1
            }
            DocEntry(docId, if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
              r.getInt(2), r.getInt(3))
          } ++ {
            acc.add(DocsPart(pid, rows, tokens, maxId, fields.toMap, postings,
              samples.take(math.min(postings, perPart.toLong).toInt)))
            Iterator.empty
          }
        }).write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
      val docs = acc.value.asScala.toSeq.filter(_.rows > 0).sortBy(_.pid)

      // term vectors ride the same docId-sorted layout as the row store —
      // one extra column projection of the cached tokenize pass
      if (cfg.storeTermVectors)
        docTokens.select($"docId", $"terms", $"freqs")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/tvec")

      val bounds = SegmentWriter.rangeBounds(docs.flatMap(p =>
        p.samples.toSeq.map(_ -> p.postings.toDouble / p.samples.length)), cfg.numPostingPartitions)
      val (withPos, withOffs, withPays) = (cfg.storePositions, cfg.storeOffsets, cfg.storePayloads)
      val written = SegmentWriter.writePostings(spark,
        docTokens.select($"docId", $"terms", $"freqs", $"norm", $"termNorms", $"positions",
          $"offsets", $"payloads").queryExecution.toRdd
          .mapPartitions(SegmentWriter.invert(_, withPos, withOffs, withPays)),
        new SegmentWriter.TermPartitioner(bounds), s"$dir/postings")(
        SegmentWriter.cut(_, cfg.bucketShift, withPos, withOffs, withPays))
      SegmentWriter.writeDictionary(spark, dir, written, cfg.numPostingPartitions / 4,
        cfg.bloomTerms)

      // per-field BM25 stats (multiField only): docCount counts docs with
      // >=1 token in the field (ref Terms#getDocCount semantics). The
      // manifest's sumTotalTermFreq is Σ block freqSums, the merger's and
      // CheckIndex's definition: with index-time synonyms the injected
      // overlap tokens count there — like the reference's
      // SumTotalTermFreq — while norms, lengths and the lineage token
      // metric exclude them (discountOverlaps).
      val fieldStats = docs.flatMap(_.fields).groupBy(_._1).toSeq.map { case (f, xs) =>
        FieldStat(f, xs.map(_._2._1).sum, xs.map(_._2._2).sum)
      }.sortBy(_.field)
      SegmentWriter.commit(dir, t0, docs.map(_.rows).sum,
        if (docs.isEmpty) -1L else docs.map(_.maxId).max, written, cfg.bucketShift,
        docs.map(p => PartitionLineage(p.pid, p.rows, p.tokens)), cfg.storePositions,
        cfg.storeOffsets, cfg.storePayloads, fieldStats)
    } finally docTokens.unpersist()
  }
}

/** The one per-doc inverter of the build (the reference's
  * `IndexingChain.invertTokenStream`, one per doc task): analyzes each field
  * value once through `cfg.analyzer` and groups its tokens by term into
  * freq, positions, offsets and payloads as the config stores them.
  *
  *  - The values of one field are one token stream: a value's positions
  *    follow the last token of the value before by `positionIncrementGap`
  *    (ref `analysis/Analyzer.java` getPositionIncrementGap), so phrases
  *    cannot cross values, and the field has one length and one norm.
  *  - Index-time synonyms ([[SynonymInjector]]) stack overlap tokens onto
  *    the analyzed stream; they add postings but not length
  *    (discountOverlaps).
  *  - With payloads, the text is first cut at whitespace runs (ref
  *    `analysis/payloads/DelimitedPayloadTokenFilter.java`, paired with a
  *    whitespace tokenizer, since UAX#29 would break at `|`): each chunk's
  *    trailing `|<digits>` is its payload (1 when absent), and every token
  *    the analyzer makes of the rest stacks at the chunk's position.
  */
private[index] final class Inverter(cfg: IndexConfig) {
  import Inverter._

  private val analyzer = cfg.analyzer
  private val injector = new SynonymInjector(cfg.synonymRules)
  private val (withPos, withOffs, withPays) = (cfg.storePositions, cfg.storeOffsets, cfg.storePayloads)

  // the field being inverted: its terms in first-appearance order, its
  // length (analyzer tokens), the position its next value starts at, and
  // the position its last token took
  private val byTerm = new java.util.HashMap[String, Acc]()
  private val order = mutable.ArrayBuffer[Acc]()
  private var length, base, lastPos = 0

  private def add(term: String, position: Int, start: Int, end: Int, payload: Int): Unit = {
    var a = byTerm.get(term)
    if (a == null) {
      a = new Acc(term, withPos, withOffs, withPays)
      byTerm.put(term, a)
      order += a
    }
    a.freq += 1
    if (withPos) a.pos += position
    if (withOffs) { a.offs += start; a.offs += end }
    if (withPays) a.pays += payload
  }

  private val literal: TokenSink = (term, position, start, end) => {
    length += 1
    lastPos = base + position
    add(term, lastPos, start, end, 1)
  }

  private def value(text: String): Unit = {
    lastPos = -1
    if (withPays) {
      // strip() trims what the pattern matches, so no chunk is empty
      // unless the whole value is
      val chunks = Whitespace.split(text.strip())
      chunks.indices.foreach { ci =>
        val raw = chunks(ci)
        val bar = raw.lastIndexOf('|')
        val digits = bar > 0 && bar < raw.length - 1 &&
          (bar + 1 until raw.length).forall(k => raw.charAt(k) >= '0' && raw.charAt(k) <= '9')
        val pay = if (digits) raw.substring(bar + 1).toInt else 1
        val position = base + ci
        analyzer.analyze(if (digits) raw.substring(0, bar) else raw) { (term, _, _, _) =>
          length += 1
          lastPos = position
          add(term, position, 0, 0, pay)
        }
      }
    } else if (injector.isEmpty) analyzer.analyze(text)(literal)
    else {
      val toks = analyzer.tokens(text)
      toks.foreach(t => literal(t.term, t.position, t.startOffset, t.endOffset))
      injector.injected(toks).foreach(t => add(t.term, base + t.position, t.startOffset, t.endOffset, 1))
    }
    if (lastPos >= 0) base = lastPos + 1 + cfg.positionIncrementGap
  }

  /** One doc's [[DocTokens]]. Its `length`/`norm` are its
    * [[FieldKey.DefaultField]]'s; a multi-field config adds field-keyed
    * terms, per-term field norms and per-field lengths.
    */
  def doc(docId: Long, url: String, fields: Seq[(String, String)]): DocTokens = {
    val names = fields.map(_._1).distinct.toArray
    val accs = mutable.ArrayBuffer[Acc]()
    val termNorms = new mutable.ArrayBuilder.ofInt
    val lengths = new Array[Int](names.size)
    names.indices.foreach { f =>
      byTerm.clear(); order.clear()
      length = 0; base = 0
      fields.foreach { case (name, text) => if (name == names(f)) value(text) }
      lengths(f) = length
      val fieldNorm = norm(length)
      order.foreach { a =>
        a.key = FieldKey.encode(names(f), a.key)
        termNorms += fieldNorm
      }
      accs ++= order
    }
    val defLength = names.indexOf(FieldKey.DefaultField) match { case -1 => 0; case f => lengths(f) }
    val arrays = if (withPos || withOffs || withPays) accs.map(_.result()) else null
    def per(on: Boolean, i: Int): Array[Array[Int]] = if (on) arrays.map(_(i)).toArray else null
    DocTokens(docId, url, defLength, norm(defLength), accs.map(_.key).toArray,
      accs.map(_.freq).toArray, per(withPos, 0),
      if (cfg.multiField) termNorms.result() else null,
      if (cfg.multiField) names else null,
      if (cfg.multiField) lengths else null,
      per(withOffs, 1), per(withPays, 2))
  }
}

private object Inverter {

  private val Whitespace = java.util.regex.Pattern.compile("\\p{javaWhitespace}+")

  private def norm(length: Int): Int = java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(length))

  /** One term's occurrences in one field. */
  private final class Acc(var key: String, withPos: Boolean, withOffs: Boolean, withPays: Boolean) {
    var freq = 0
    val pos = if (withPos) new mutable.ArrayBuilder.ofInt else null
    val offs = if (withOffs) new mutable.ArrayBuilder.ofInt else null
    val pays = if (withPays) new mutable.ArrayBuilder.ofInt else null

    /** (positions, offsets, payloads) in position order: a stable sort, as
      * injected synonyms were added after the analyzer's own tokens.
      */
    def result(): Array[Array[Int]] = {
      val p = if (pos == null) null else pos.result()
      val (o, y) = (if (offs == null) null else offs.result(), if (pays == null) null else pays.result())
      if (p == null || (1 until p.length).forall(i => p(i - 1) <= p(i))) Array(p, o, y)
      else {
        val at = p.indices.sortBy(p(_))
        Array(at.map(p).toArray, if (o == null) null else at.flatMap(i => Seq(o(2 * i), o(2 * i + 1))).toArray,
          if (y == null) null else at.map(y).toArray)
      }
    }
  }
}
