package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.storage.StorageLevel

import graft.analysis.StandardAnalyzer
import graft.codec.SmallFloat
import graft.index.Schema._

/** Index-build configuration.
  *
  * @param bucketShift  docID-space salt granularity: bucket = docId >>> shift.
  *                     At 10^12 docs the default (2^20-doc buckets) yields
  *                     ~10^6 scoring partitions; local tests use smaller
  *                     shifts. Head-term skew is bounded by bucket span.
  * @param numPostingPartitions  range partitions for (term, bucket) — the
  *                     term-dictionary layout.
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
    // so assignment stays deterministic and resume-safe.
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
    new StandardAnalyzer(stopwords, maxTokenLength,
      graft.analysis.TermFilter.byName(termFilter), cjkBigrams)

  def synonymRules: Seq[graft.analysis.SynonymRule] =
    synonyms.map { case (v, o) => graft.analysis.SynonymRule(v, o) }
}

/** Builds an inverted-index segment from a corpus of (docKey, text) rows.
  *
  * Pipeline (one tokenize pass, one exchange to posting order):
  * {{{
  * input --repartitionByRange(url) + sort--> docId assignment (global url rank)
  *       --mapPartitions (analyze once)--> cached DocTokens, one contiguous
  *         docId range per partition
  *       --write docs (the same tasks sample (term, bucket) range bounds)
  *       --invert in the doc task--> one posting fragment per (term, bucket)
  *       --ONE range exchange on (term, bucket), sorted by (term, firstDocId)-->
  *         fragments concatenated in docId order, cut into 128-doc
  *         PostingBlocks (delta + FOR/PFor packed, competitive impacts)
  *       --the writing tasks report their term stats--> terms, rterms
  * }}}
  *
  * This is the Spark re-expression of the reference indexing chain
  * (`index/IndexingChain.java:553-616` invert → `FreqProxTermsWriter.java:83-135`
  * flush → `Lucene103PostingsWriter.java:256-530` block encode): each doc
  * task inverts its docs in RAM like a DWPT, the exchange plays the role of
  * the flush sort, and the commit tail ([[SegmentWriter]]) writes postings,
  * terms and stats in one pass.
  */
object IndexBuilder {

  /** Assign dense deterministic docIDs (global rank of `url` in sorted order)
    * and tokenize, in ONE pass over the sorted shuffle output.
    *
    * Two jobs share one shuffle stage (same RDD lineage → Spark reuses the
    * shuffle map output): a count job that sizes each range partition without
    * materializing any strings, then the real pass that assigns
    * `docId = partitionOffset + rowRank` and analyzes each doc. This is the
    * only safe, re-runnable assignment at 10^12 docs
    * (`monotonically_increasing_id` is partitioning-dependent; a global
    * window would single-partition). docIDs are independent of the sampled
    * range boundaries — rank in url order is global.
    */
  def assignAndTokenize(
      pages: Dataset[(String, String)], // (url, text)
      cfg: IndexConfig
  ): Dataset[DocTokens] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val parts = cfg.numDocPartitions
    val stop = cfg.stopwords
    val maxLen = cfg.maxTokenLength
    val filterName = cfg.termFilter
    val cjk = cfg.cjkBigrams
    // InternalRow RDD of the sorted plan: no per-row object allocation in
    // the count job, and one shared shuffle stage across both jobs.
    // Index sorting (ref `index/IndexWriterConfig.java` setIndexSort):
    // docID order follows cfg.indexSortExpr (any SQL expression over
    // url/text), url as tiebreak — a sorted index lets field-sorted top-k
    // terminate after the first k matches in docID order.
    val sortedRows = {
      val df = pages.toDF("url", "text")
      val sorted =
        if (cfg.indexSortExpr == "url")
          df.repartitionByRange(parts, $"url").sortWithinPartitions($"url")
        else
          df.withColumn("_k", expr(cfg.indexSortExpr))
            .repartitionByRange(parts, $"_k", $"url")
            .sortWithinPartitions($"_k", $"url")
            .select($"url", $"text") // projection preserves the sort
      sorted.queryExecution.toRdd
    }
    val counts = sortedRows
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator((pid, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val withPositions = cfg.storePositions
    val withOffsets = cfg.storeOffsets
    val withPayloads = cfg.storePayloads
    val synRules = cfg.synonyms
    val docTokens = sortedRows.mapPartitionsWithIndex { (pid, it) =>
      val analyzer = new StandardAnalyzer(stop, maxLen,
        graft.analysis.TermFilter.byName(filterName), cjk)
      val injector = new graft.analysis.SynonymInjector(
        synRules.map { case (v, o) => graft.analysis.SynonymRule(v, o) })
      var id = offsets(pid)
      it.map { row =>
        val url = row.getString(0)
        val text = row.getString(1)
        val docId = id
        id += 1
        if (withPayloads) {
          // DelimitedPayload chain (ref analysis/payloads/
          // DelimitedPayloadTokenFilter.java): whitespace pre-split —
          // the tokenizer the reference pairs payloads with — trailing
          // `|<int>` extracted (default 1), the remainder through the
          // standard lowercase/stop/filter chain. One position per chunk
          // (whitespace semantics); sub-tokens stack at it with the
          // chunk's payload.
          val chunks = text.split(' ')
          val byTerm = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[(Int, Int)]]()
          var docLen = 0
          var ci = 0
          while (ci < chunks.length) {
            val raw = chunks(ci)
            val bar = raw.lastIndexOf('|')
            var pay = 1
            var body = raw
            if (bar > 0 && bar < raw.length - 1) {
              val suf = raw.substring(bar + 1)
              if (suf.forall(c => c >= '0' && c <= '9')) {
                pay = suf.toInt; body = raw.substring(0, bar)
              }
            }
            val subs = analyzer.tokens(body)
            docLen += subs.size
            subs.foreach { t =>
              var b = byTerm.get(t.term)
              if (b == null) {
                b = new scala.collection.mutable.ArrayBuffer[(Int, Int)](2)
                byTerm.put(t.term, b)
              }
              b += ((ci, pay))
            }
            ci += 1
          }
          val n = byTerm.size
          val terms = new Array[String](n)
          val freqs = new Array[Int](n)
          val positions = new Array[Array[Int]](n)
          val payloads = new Array[Array[Int]](n)
          var i = 0
          val iter = byTerm.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            terms(i) = e.getKey
            val entries = e.getValue
            freqs(i) = entries.size
            positions(i) = entries.map(_._1).toArray
            payloads(i) = entries.map(_._2).toArray
            i += 1
          }
          DocTokens(docId, url, docLen,
            java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(docLen)),
            terms, freqs, positions, payloads = payloads)
        } else if (withPositions) {
          val toks = analyzer.tokens(text)
          // injected synonym tokens stack at their match position and add
          // postings, but doc length / norm counts ONLY the analyzer's own
          // tokens (discountOverlaps)
          val all = if (injector.isEmpty) toks else toks ++ injector.injected(toks)
          // per term: (position, startOffset, endOffset) triples
          val byTerm = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]]()
          all.foreach { t =>
            var b = byTerm.get(t.term)
            if (b == null) { b = new scala.collection.mutable.ArrayBuffer[(Int, Int, Int)](2); byTerm.put(t.term, b) }
            b += ((t.position, t.startOffset, t.endOffset))
          }
          val n = byTerm.size
          val terms = new Array[String](n)
          val freqs = new Array[Int](n)
          val positions = new Array[Array[Int]](n)
          val offsets = if (withOffsets) new Array[Array[Int]](n) else null
          var i = 0
          val iter = byTerm.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            terms(i) = e.getKey
            freqs(i) = e.getValue.size
            // appended overlap tokens can land before a literal occurrence
            // of the same term — re-sort that term's entries by position
            // (offsets stay aligned: they ride in the same triple)
            val entries =
              if (injector.isEmpty) e.getValue.toArray else e.getValue.toArray.sortBy(_._1)
            positions(i) = entries.map(_._1)
            if (withOffsets)
              offsets(i) = entries.flatMap(t3 => Array(t3._2, t3._3))
            i += 1
          }
          val length = toks.size
          DocTokens(docId, url, length,
            java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(length)),
            terms, freqs, positions, offsets = offsets)
        } else if (!injector.isEmpty) {
          // synonym matching needs the ordered stream — aggregate from
          // tokens() instead of the allocation-free termFreqs path
          val toks = analyzer.tokens(text)
          val freqMap = new java.util.HashMap[String, Int]()
          toks.foreach(t => freqMap.merge(t.term, 1, (a, b) => a + b): Unit)
          injector.injected(toks).foreach(t => freqMap.merge(t.term, 1, (a, b) => a + b): Unit)
          val length = toks.size
          val n = freqMap.size
          val terms = new Array[String](n)
          val freqs = new Array[Int](n)
          var i = 0
          val iter = freqMap.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            terms(i) = e.getKey
            freqs(i) = e.getValue
            i += 1
          }
          DocTokens(docId, url, length,
            java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(length)), terms, freqs)
        } else {
          val (freqMap, length) = analyzer.termFreqs(text)
          val n = freqMap.size
          val terms = new Array[String](n)
          val freqs = new Array[Int](n)
          var i = 0
          val iter = freqMap.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            terms(i) = e.getKey
            freqs(i) = e.getValue
            i += 1
          }
          DocTokens(docId, url, length,
            java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(length)), terms, freqs)
        }
      }
    }
    spark.createDataset(docTokens)
  }


  /** Multi-field variant of [[assignAndTokenize]]: each doc is
    * `(url, Seq((fieldName, fieldText)))`. Every field analyzes
    * independently (its own length → its own norm byte, ref per-field
    * `FieldInvertState`); term keys are [[FieldKey]]-encoded so all fields
    * share one sorted posting space, and the per-TERM norm array carries
    * each key's field norm into the posting rows. Same one-pass, two-job
    * docID assignment as the single-field path.
    */
  def assignAndTokenizeFields(
      pages: Dataset[(String, Seq[(String, String)])],
      cfg: IndexConfig
  ): Dataset[DocTokens] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val parts = cfg.numDocPartitions
    val stop = cfg.stopwords
    val maxLen = cfg.maxTokenLength
    val filterName = cfg.termFilter
    val cjk = cfg.cjkBigrams
    val sortedRows = pages
      .toDF("_1", "_2")
      .repartitionByRange(parts, $"_1")
      .sortWithinPartitions($"_1")
      .queryExecution.toRdd
    val counts = sortedRows
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator((pid, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val withPositions = cfg.storePositions
    val posGap = cfg.positionIncrementGap
    val docTokens = sortedRows.mapPartitionsWithIndex { (pid, it) =>
      val analyzer = new StandardAnalyzer(stop, maxLen,
        graft.analysis.TermFilter.byName(filterName), cjk)
      var id = offsets(pid)
      it.map { row =>
        val url = row.getString(0)
        val fields = row.getArray(1)
        val docId = id
        id += 1
        val nf = fields.numElements()
        // group same-name entries in first-appearance order: multiple
        // values of one field are ONE logical field — a concatenated token
        // stream with `positionIncrementGap` between values (ref
        // `analysis/Analyzer.java` getPositionIncrementGap: phrase matches
        // must not cross value boundaries), one combined length/norm, and
        // per-term freqs summed (never duplicate (term, docId) postings)
        val order = scala.collection.mutable.ArrayBuffer[String]()
        val valuesOf = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[String]]()
        var f = 0
        while (f < nf) {
          val st = fields.getStruct(f, 2)
          val fname = st.getUTF8String(0).toString
          val ftext = st.getUTF8String(1).toString
          var vs = valuesOf.get(fname)
          if (vs == null) {
            vs = scala.collection.mutable.ArrayBuffer[String]()
            valuesOf.put(fname, vs)
            order += fname
          }
          vs += ftext
          f += 1
        }
        val termsB = scala.collection.mutable.ArrayBuffer[String]()
        val freqsB = scala.collection.mutable.ArrayBuffer[Int]()
        val normsB = scala.collection.mutable.ArrayBuffer[Int]()
        val posB =
          if (withPositions) scala.collection.mutable.ArrayBuffer[Array[Int]]()
          else null
        val fNames = new Array[String](order.size)
        val fLens = new Array[Int](order.size)
        var defLen = 0
        var g = 0
        while (g < order.size) {
          val fname = order(g)
          val vs = valuesOf.get(fname)
          var flen = 0
          if (withPositions) {
            // per-field analyzer positions (positions restart per FIELD,
            // the reference's per-field FieldInvertState; values within a
            // field continue with the gap)
            val byTerm = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
            var offset = 0
            vs.foreach { ftext =>
              val toks = analyzer.tokens(ftext)
              var maxPos = -1
              toks.foreach { t =>
                var b = byTerm.get(t.term)
                if (b == null) { b = new scala.collection.mutable.ArrayBuffer[Int](2); byTerm.put(t.term, b) }
                b += offset + t.position
                if (t.position > maxPos) maxPos = t.position
              }
              flen += toks.size
              if (maxPos >= 0) offset += maxPos + 1 + posGap
            }
            val fnorm = java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(flen))
            val iter = byTerm.entrySet().iterator()
            while (iter.hasNext) {
              val e = iter.next()
              termsB += FieldKey.encode(fname, e.getKey)
              freqsB += e.getValue.size
              normsB += fnorm
              posB += e.getValue.toArray
            }
          } else {
            val combined = new java.util.LinkedHashMap[String, Integer]()
            vs.foreach { ftext =>
              val (freqMap, vlen) = analyzer.termFreqs(ftext)
              flen += vlen
              val iter = freqMap.entrySet().iterator()
              while (iter.hasNext) {
                val e = iter.next()
                val prev = combined.get(e.getKey)
                combined.put(e.getKey,
                  if (prev == null) e.getValue else prev + e.getValue)
              }
            }
            val fnorm = java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(flen))
            val iter = combined.entrySet().iterator()
            while (iter.hasNext) {
              val e = iter.next()
              termsB += FieldKey.encode(fname, e.getKey)
              freqsB += e.getValue
              normsB += fnorm
            }
          }
          if (fname == FieldKey.DefaultField) defLen = flen
          fNames(g) = fname
          fLens(g) = flen
          g += 1
        }
        DocTokens(docId, url, defLen,
          java.lang.Byte.toUnsignedInt(SmallFloat.intToByte4(defLen)),
          termsB.toArray, freqsB.toArray,
          if (withPositions) posB.toArray else null,
          normsB.toArray, fNames, fLens)
      }
    }
    spark.createDataset(docTokens)
  }

  /** End-to-end: build and atomically commit one segment at `dir`. Resumable:
    * if the segment manifest already exists the build is skipped (the
    * re-expression of the reference's two-phase `segments_N` commit,
    * `index/SegmentInfos.java`).
    */
  def buildSegment(
      pages: Dataset[(String, String)],
      dir: String,
      cfg: IndexConfig = IndexConfig()
  ): SegmentManifest =
    Manifest.read(dir).getOrElse {
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
    Manifest.read(dir).getOrElse {
      commitSegment(pages.sparkSession, dir, cfg.copy(multiField = true))(
        assignAndTokenizeFields(pages, _))
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
    }
  }

  /** What one docs-writing task saw: its rows, tokens (every field's) and
    * largest docId, per field (docs with a token, tokens), its postings and
    * a uniform sample of their (term, bucket) keys.
    */
  private final case class DocsPart(pid: Int, rows: Long, tokens: Long, maxId: Long,
      fields: Map[String, (Long, Long)], postings: Long, samples: Array[(String, Long)])

  private def commitSegment(spark: SparkSession, dir: String, cfg: IndexConfig)(
      tokenize: IndexConfig => Dataset[DocTokens]): SegmentManifest = {
    import spark.implicits._
    validate(cfg)
    val t0 = System.nanoTime()
    val docTokens = tokenize(cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // docs: the tasks that write them count them, and sample the
      // (term, bucket) keys of their postings for the exchange's bounds
      val acc = spark.sparkContext.collectionAccumulator[DocsPart]("docs written")
      val shift = cfg.bucketShift
      val perPart = 20 * cfg.numPostingPartitions
      spark.createDataset(docTokens
        .select($"docId", $"url", $"length", $"norm", $"terms", $"fieldNames", $"fieldLengths")
        .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          var rows, tokens, postings = 0L
          var maxId = -1L
          val fields = scala.collection.mutable.HashMap[String, (Long, Long)]()
          val samples = new Array[(String, Long)](perPart)
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
              if (j < perPart) samples(j.toInt) = (terms.getUTF8String(i).toString, docId >>> shift)
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
          .mapPartitions(SegmentWriter.invert(_, shift, withPos, withOffs, withPays)),
        new SegmentWriter.TermPartitioner(bounds, shift), s"$dir/postings")(
        SegmentWriter.cut(_, shift, withPos, withOffs, withPays))
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
