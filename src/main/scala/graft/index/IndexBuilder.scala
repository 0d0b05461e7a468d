package graft.index

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.analysis.StandardAnalyzer
import graft.codec.{BlockCodec, Impacts, SmallFloat}
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
  * Pipeline (one tokenize pass, one shuffle to posting order):
  * {{{
  * input --sort by url--> docId assignment (global url rank)
  *       --mapPartitions (analyze once)--> DocTokens (terms/freqs arrays)
  *       --posexplode (narrow)--> (term, docId, freq, norm)
  *       --repartitionByRange(term, bucket) + sortWithinPartitions--> 128-doc
  *         PostingBlocks (delta + FOR/PFor packed, competitive impacts)
  *       --partial-agg groupBy(term) over blocks--> TermStats
  * }}}
  *
  * This is the Spark re-expression of the reference indexing chain
  * (`index/IndexingChain.java:553-616` invert → `FreqProxTermsWriter.java:83-135`
  * flush → `Lucene103PostingsWriter.java:256-530` block encode): the shuffle
  * plays the role of the in-RAM `BytesRefHash` + flush sort, and partition
  * parallelism replaces the DWPT thread pool.
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
    require(!withOffsets || withPositions, "storeOffsets requires storePositions")
    require(!withPayloads || withPositions, "storePayloads requires storePositions")
    require(!(withPayloads && withOffsets),
      "storePayloads is mutually exclusive with storeOffsets")
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

  /** Build posting blocks: the single wide shuffle of the index build. */
  def buildPostings(
      docTokens: Dataset[DocTokens],
      cfg: IndexConfig
  ): Dataset[PostingBlock] = {
    val spark = docTokens.sparkSession
    import spark.implicits._
    val shift = cfg.bucketShift
    // narrow explode: (term, bucket, docId, freq, norm[, pos][, offs|pays]),
    // the column order `blockBuilder` reads by ordinal. A multi-field build
    // zips the per-term field norms (FieldKey-encoded terms) instead of
    // taking the doc's scalar norm, and keeps no offsets or payloads.
    val zipped = Seq("terms", "freqs") ++
      (if (cfg.multiField) Seq("termNorms") else Nil) ++
      (if (cfg.storePositions) Seq("positions") else Nil) ++
      (if (cfg.multiField || !cfg.storePositions) Nil
       else if (cfg.storeOffsets) Seq("offsets")
       else if (cfg.storePayloads) Seq("payloads")
       else Nil)
    val asName = Map("terms" -> "term", "freqs" -> "freq", "termNorms" -> "norm",
      "positions" -> "pos", "offsets" -> "offs", "payloads" -> "pays")
    def tf(c: String): Column = col(s"tf.$c").as(asName(c))
    val (docCols, norm, rest) =
      if (cfg.multiField) (Seq($"docId"), tf("termNorms"), zipped.drop(3))
      else (Seq($"docId", $"norm"), $"norm", zipped.drop(2))
    val tokens = docTokens
      .select(docCols :+ explode(arrays_zip(zipped.map(col): _*)).as("tf"): _*)
      .select(Seq(tf("terms"), shiftright($"docId", shift).as("bucket"), $"docId",
        tf("freqs"), norm) ++ rest.map(tf): _*)
    // HASH-shuffle the raw token stream: repartitionByRange would pay a full
    // extra pass over all (term, doc) rows just to sample range boundaries
    // (RangePartitioner reservoir-samples every partition). Hash placement
    // is equivalent for block building — all rows of a (term, bucket) land
    // in one partition, sorted locally. The dictionary's *range* layout is
    // re-established afterwards at the block level (128x fewer rows), where
    // the sampling pass is nearly free — see `rangeLayout`.
    val sortedRows = tokens
      .repartition(cfg.numPostingPartitions, $"term", $"bucket")
      .sortWithinPartitions($"term", $"bucket", $"docId")
      .queryExecution.toRdd
    // InternalRow consumption: no per-row tuple/String allocation — the term
    // string only materializes once per (term, bucket) run (GC matters: this
    // iterator sees every (term, doc) pair in the corpus)
    val withPos = cfg.storePositions
    val withOffs = cfg.storeOffsets
    val withPays = cfg.storePayloads
    spark.createDataset(
      sortedRows.mapPartitions(blockBuilder(_, withPos, withOffs, withPays)))
  }

  /** Final on-disk layout of a posting-block table: range-partitioned and
    * sorted by (term, bucket, firstDocId), so Parquet file/row-group min-max
    * on `term` gives the .tip-style dictionary pruning. Run on block rows
    * (ideally cached) — the range sampling pass is cheap at block granularity.
    */
  def rangeLayout(blocks: Dataset[PostingBlock], cfg: IndexConfig): Dataset[PostingBlock] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks
      .repartitionByRange(cfg.numPostingPartitions, $"term", $"bucket", $"firstDocId")
      .sortWithinPartitions($"term", $"bucket", $"firstDocId")
  }

  /** Streaming 128-doc block builder over InternalRows of
    * (term, bucket, docId, freq, norm) sorted by (term, bucket, docId).
    * O(blockSize) state.
    */
  private def blockBuilder(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      withPos: Boolean = false,
      withOffs: Boolean = false,
      withPays: Boolean = false
  ): Iterator[PostingBlock] = new Iterator[PostingBlock] {
    private val B = BlockCodec.BlockSize
    private val docIds = new Array[Long](B)
    private val freqs = new Array[Long](B)
    private val norms = new Array[Int](B)
    private val poss: Array[Array[Int]] = if (withPos) new Array[Array[Int]](B) else null
    private val offs: Array[Array[Int]] = if (withOffs) new Array[Array[Int]](B) else null
    private val pays: Array[Array[Int]] = if (withPays) new Array[Array[Int]](B) else null
    private var pPos: Array[Int] = null // pending row's positions
    private var pOffs: Array[Int] = null // pending row's offset pairs
    private var pPays: Array[Int] = null // pending row's payloads
    private var n = 0
    private var curTerm: String = null // term of the open block
    private var curTermU8: org.apache.spark.unsafe.types.UTF8String = null
    private var curBucket = 0L
    // row stashed when a (term, bucket, fullness) boundary forces a flush;
    // pTermU8 == null means no pending row
    private var pTermU8: org.apache.spark.unsafe.types.UTF8String = null
    private var pBucket = 0L
    private var pDocId = 0L
    private var pFreq = 0
    private var pNorm = 0
    private var nextBlock: PostingBlock = null

    private def flushBlock(): PostingBlock = {
      val ids = java.util.Arrays.copyOf(docIds, n)
      val fs = java.util.Arrays.copyOf(freqs, n)
      val first = ids(0)
      val deltas = BlockCodec.deltaEncode(ids, first)
      val normsL = new Array[Long](n)
      var i = 0
      var freqSum = 0L
      var maxFreq = 0
      var minNorm = Int.MaxValue
      while (i < n) {
        normsL(i) = norms(i).toLong
        freqSum += fs(i)
        if (fs(i) > maxFreq) maxFreq = fs(i).toInt
        if (norms(i) < minNorm) minNorm = norms(i)
        i += 1
      }
      val block = PostingBlock(
        term = curTerm,
        bucket = curBucket,
        firstDocId = first,
        lastDocId = ids(n - 1),
        numDocs = n,
        docsPacked = BlockCodec.forEncode(deltas),
        freqsPacked = BlockCodec.pforEncode(fs),
        normsPacked = BlockCodec.forEncode(normsL),
        impacts = Impacts.encode(Impacts.skylineInts(fs, norms, n)),
        freqSum = freqSum,
        maxFreq = maxFreq,
        minNorm = minNorm,
        posPacked = if (withPos) graft.codec.Positions.encode(poss, n) else null,
        // offsets reuse the positions codec: per doc the flattened
        // (start, end) pairs are a nondecreasing sequence of 2*freq ints
        offsPacked = if (withOffs) graft.codec.Positions.encode(offs, n) else null,
        // payloads are arbitrary values -> raw VInt, not delta
        paysPacked = if (withPays) graft.codec.Positions.encodeRaw(pays, n) else null
      )
      n = 0
      block
    }

    /** Start a new block keyed (termU8, bucket). `termU8` must already be
      * safe to retain (cloned).
      */
    private def open(
        termU8: org.apache.spark.unsafe.types.UTF8String, bucket: Long
    ): Unit = {
      if (curTermU8 == null || !curTermU8.equals(termU8)) {
        curTermU8 = termU8
        curTerm = termU8.toString
      }
      curBucket = bucket
    }

    private def advance(): Unit = {
      while (nextBlock == null && (pTermU8 != null || rows.hasNext)) {
        if (pTermU8 != null) {
          val t = pTermU8
          pTermU8 = null
          open(t, pBucket)
          docIds(0) = pDocId; freqs(0) = pFreq.toLong; norms(0) = pNorm
          if (withPos) poss(0) = pPos
          if (withOffs) offs(0) = pOffs
          if (withPays) pays(0) = pPays
          n = 1
        } else {
          val row = rows.next()
          val termU8 = row.getUTF8String(0)
          val bucket = row.getLong(1)
          if (n > 0 && n < B && curBucket == bucket && curTermU8.equals(termU8)) {
            docIds(n) = row.getLong(2)
            freqs(n) = row.getInt(3).toLong
            norms(n) = row.getInt(4)
            if (withPos) poss(n) = row.getArray(5).toIntArray()
            if (withOffs) offs(n) = row.getArray(6).toIntArray()
            if (withPays) pays(n) = row.getArray(6).toIntArray()
            n += 1
          } else if (n == 0) { // first row of the partition
            open(termU8.clone(), bucket) // clone: sorter reuses row buffers
            docIds(0) = row.getLong(2)
            freqs(0) = row.getInt(3).toLong
            norms(0) = row.getInt(4)
            if (withPos) poss(0) = row.getArray(5).toIntArray()
            if (withOffs) offs(0) = row.getArray(6).toIntArray()
            if (withPays) pays(0) = row.getArray(6).toIntArray()
            n = 1
          } else { // boundary: stash the row, emit the finished block
            pTermU8 = termU8.clone()
            pBucket = bucket
            pDocId = row.getLong(2)
            pFreq = row.getInt(3)
            pNorm = row.getInt(4)
            if (withPos) pPos = row.getArray(5).toIntArray()
            if (withOffs) pOffs = row.getArray(6).toIntArray()
            if (withPays) pPays = row.getArray(6).toIntArray()
            nextBlock = flushBlock()
          }
        }
      }
      if (nextBlock == null && n > 0) nextBlock = flushBlock()
    }

    override def hasNext: Boolean = { if (nextBlock == null) advance(); nextBlock != null }
    override def next(): PostingBlock = {
      if (!hasNext) throw new NoSuchElementException
      val b = nextBlock; nextBlock = null; b
    }
  }

  /** Term dictionary from block metadata (128× smaller than raw tokens;
    * partial aggregation makes the head-term agg skew-safe).
    */
  def buildTermStats(blocks: Dataset[PostingBlock]): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks
      .groupBy($"term")
      .agg(sum($"numDocs").as("docFreq"), sum($"freqSum").as("totalTermFreq"))
  }

  /** Reversed-term dictionary: (rterm = reverse(term), term), range-sorted
    * by `rterm`. No query path reads it any more — leading wildcards walk
    * the resident term dictionary ([[graft.search.TermDict]]). It is still
    * written because the traced build benchmark
    * (`perfbench/src/perfbench/Layers.scala`) ends its term-stats phase at
    * `rterms/_SUCCESS`; it goes once that marker moves to `terms/_SUCCESS`.
    */
  def writeReversedTerms(spark: SparkSession, dir: String, parts: Int): Unit = {
    import spark.implicits._
    spark.read.parquet(s"$dir/terms")
      .select(reverse($"term").as("rterm"), $"term")
      .distinct()
      .repartitionByRange(math.max(1, parts), $"rterm")
      .sortWithinPartitions($"rterm")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/rterms")
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
    Manifest.read(dir) match {
      case Some(m) => m // resume: segment already committed
      case None =>
        require(!cfg.multiField, "use buildSegmentFields for multiField configs")
        commitSegment(assignAndTokenize(pages, cfg), dir, cfg)
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
    Manifest.read(dir) match {
      case Some(m) => m
      case None =>
        require(cfg.synonyms.isEmpty,
          "index-time synonyms are single-field only (documented subset)")
        commitSegment(assignAndTokenizeFields(pages, cfg.copy(multiField = true)),
          dir, cfg.copy(multiField = true))
    }

  private def commitSegment(
      docTokens0: Dataset[DocTokens],
      dir: String,
      cfg: IndexConfig
  ): SegmentManifest = {
        val spark = docTokens0.sparkSession
        import spark.implicits._
        val t0 = System.nanoTime()
        val docTokens = docTokens0
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val docsOut = docTokens
            .select($"docId", $"url", $"length", $"norm").as[DocEntry]
          docsOut.write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")

          // term vectors ride the same docId-sorted layout as the row
          // store — one extra column projection of the cached tokenize
          // pass, no extra shuffle
          if (cfg.storeTermVectors)
            docTokens.select($"docId", $"terms", $"freqs")
              .write.mode(SaveMode.Overwrite).parquet(s"$dir/tvec")

          val blocks = buildPostings(docTokens, cfg)
            .persist(StorageLevel.MEMORY_AND_DISK)
          // re-establish the dictionary's range layout at block granularity
          // (cheap sampling over the cached blocks), then write — Parquet
          // file/row-group min/max on `term` gives dictionary pruning
          rangeLayout(blocks, cfg)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/postings")

          buildTermStats(blocks)
            .repartitionByRange(math.max(1, cfg.numPostingPartitions / 4), $"term")
            .sortWithinPartitions($"term")
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/terms")
          writeReversedTerms(spark, dir, cfg.numPostingPartitions / 4)
          if (cfg.bloomTerms) TermBloom.write(spark, dir)

          // ONE pass over the cached docTokens yields the per-partition
          // lineage + metrics (north rule: resumable builds with lineage)
          // AND the collection stats (docCount, sumTotalTermFreq, maxDocId).
          // multiField: token totals span ALL fields (blocks' freqSum does),
          // so the lineage token column sums the per-field lengths.
          val tokensCol =
            if (cfg.multiField)
              expr("aggregate(fieldLengths, 0L, (a, x) -> a + CAST(x AS BIGINT))")
            else $"length".cast("long")
          val lineage = docTokens
            .groupBy(spark_partition_id().as("partition"))
            .agg(count(lit(1)).as("rows"), sum(tokensCol).as("tokens"),
              max($"docId").as("maxId"))
            .as[(Int, Long, Long, Long)]
            .collect()
            .sortBy(_._1)
          val docCount = lineage.map(_._2).sum
          // sumTotalTermFreq from what was actually written (Σ block
          // freqSums, the merger's and CheckIndex's definition): with
          // index-time synonyms the injected overlap tokens count here —
          // like the reference's SumTotalTermFreq — while norms/lengths
          // (and the lineage token metric) exclude them (discountOverlaps)
          val sumTtf = {
            val r = blocks.agg(sum($"freqSum")).head()
            if (r.isNullAt(0)) 0L else r.getLong(0)
          }
          val maxDocId = if (lineage.isEmpty) -1L else lineage.map(_._4).max
          val blockCount = blocks.count()
          val termCount = spark.read.parquet(s"$dir/terms").count()
          // per-field BM25 stats (multiField only): docCount counts docs
          // with >=1 token in the field (ref Terms#getDocCount semantics)
          val fieldStats: Seq[FieldStat] =
            if (!cfg.multiField) Seq.empty
            else docTokens
              .select(explode(arrays_zip($"fieldNames", $"fieldLengths")).as("f"))
              .select($"f.fieldNames".as("field"), $"f.fieldLengths".as("len"))
              .groupBy($"field")
              .agg(sum(when($"len" > 0, 1L).otherwise(0L)).as("docCount"),
                sum($"len".cast("long")).as("sumTotalTermFreq"))
              .as[FieldStat].collect().toSeq.sortBy(_.field)
          blocks.unpersist()
          val manifest = SegmentManifest(
            segmentId = java.util.UUID.nameUUIDFromBytes(dir.getBytes).toString,
            dir = dir,
            docCount = docCount,
            maxDocId = maxDocId,
            sumTotalTermFreq = sumTtf,
            termCount = termCount,
            blockCount = blockCount,
            bucketShift = cfg.bucketShift,
            buildWallSec = (System.nanoTime() - t0) / 1e9,
            lineage = lineage.map { case (p, r, t, _) => PartitionLineage(p, r, t) }.toSeq,
            hasPositions = cfg.storePositions,
            fieldStats = fieldStats,
            hasOffsets = cfg.storeOffsets,
            hasPayloads = cfg.storePayloads
          )
          Manifest.commit(dir, manifest)
          manifest
        } finally docTokens.unpersist()
  }
}
