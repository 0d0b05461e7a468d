package graft.index

/** Row schemas of the inverted-index tables. A *segment* is an immutable set
  * of three Parquet tables (`docs/`, `postings/`, `terms/`) plus a JSON
  * manifest — the Spark re-expression of the reference's segment files
  * (`/root/reference/lucene/core/src/java/org/apache/lucene/index/SegmentInfos.java`,
  * `IndexWriter.java:109-133`).
  */
/** Field-scoped term keys — the per-field posting-space encoding (the
  * reference keys postings per field via per-field Terms instances,
  * `/root/reference/lucene/core/src/java/org/apache/lucene/index/IndexingChain.java:553-616`
  * FieldInfos; our single sorted dictionary gets the same separation by
  * prefixing non-default fields: field + U+0001 + term). U+0001 cannot occur
  * in analyzed tokens, and keys of one field cluster contiguously in the
  * sorted dictionary — per-field ranges prune exactly like the bare layout.
  * The default field stays un-prefixed, so single-field indexes and queries
  * are byte-identical to the pre-multi-field format.
  */
object FieldKey {
  val Sep = '\u0001'
  val DefaultField = "text"

  def encode(field: String, term: String): String =
    if (field == DefaultField) term else s"$field$Sep$term"

  /** Field of an encoded key ([[DefaultField]] for bare terms). */
  def fieldOf(key: String): String = {
    val i = key.indexOf(Sep)
    if (i < 0) DefaultField else key.substring(0, i)
  }

  def termOf(key: String): String = {
    val i = key.indexOf(Sep)
    if (i < 0) key else key.substring(i + 1)
  }
}

object Schema {

  /** Per-field collection statistics (ref `search/similarities/BM25Similarity.java:101-108`
    * — docCount and sumTotalTermFreq are per-field in the reference's
    * CollectionStatistics).
    */
  final case class FieldStat(field: String, docCount: Long, sumTotalTermFreq: Long)

  /** Per-document entry (the docID map + norms table).
    *
    * `docId` is the global rank of `url` in sorted order — dense,
    * deterministic, re-runnable (no `monotonically_increasing_id`).
    * `norm` is the unsigned SmallFloat-encoded token count
    * (ref `search/similarities/Similarity.java:152-162`).
    */
  final case class DocEntry(docId: Long, url: String, length: Int, norm: Int)

  /** Intermediate: one doc's analyzed term-frequency vector, computed in a
    * single tokenize pass and inverted into posting fragments by the task
    * that holds it — terms/freqs are parallel arrays.
    */
  final case class DocTokens(
      docId: Long,
      url: String,
      length: Int,
      norm: Int,
      terms: Array[String],
      freqs: Array[Int],
      positions: Array[Array[Int]] = null, // per-term analyzer positions (opt-in)
      // multi-field build: per-term field norm (terms are FieldKey-encoded;
      // the scalar `norm` above is the default field's) + per-field lengths
      // for the manifest's FieldStats
      termNorms: Array[Int] = null,
      fieldNames: Array[String] = null,
      fieldLengths: Array[Int] = null,
      // per-term character offsets, (start, end) pairs flattened in the
      // SAME order as `positions` (IndexConfig.storeOffsets)
      offsets: Array[Array[Int]] = null,
      // per-term per-position payload values in the SAME order as
      // `positions` (IndexConfig.storePayloads)
      payloads: Array[Array[Int]] = null
  )

  /** One block of up to 128 docs of a term's postings: a term's postings
    * over the whole segment are cut every 128 docs, as the reference's
    * postings writer cuts them, so a block may span buckets.
    * `bucket = firstDocId >>> bucketShift` (segments written before this
    * layout cut at every bucket too; they read and merge the same).
    *
    * Within-block docIDs are delta-encoded against `firstDocId` and
    * FOR-packed; freqs are PFor-packed (semantics of
    * `codecs/lucene103/Lucene103PostingsWriter.java:256-433`); per-doc norm
    * bytes are FOR-packed inline — unlike the reference's separate norms file,
    * scoring at 10^12-doc scale must not shuffle-join a norms table per query,
    * so norms ride with the postings. Because the
    * delta base is `firstDocId` (stored as a plain column), merging segments
    * remaps docIDs by column arithmetic alone — no block re-encode.
    *
    * `impacts` = competitive (freq, norm) frontier of the block
    * (ref `codecs/CompetitiveImpactAccumulator.java:65-124`) — the block-max
    * metadata WAND prunes on. `maxFreq`/`minNorm` duplicate the frontier's
    * cheap upper bound for metadata-only pruning without decoding `impacts`.
    */
  final case class PostingBlock(
      term: String,
      bucket: Long,
      firstDocId: Long,
      lastDocId: Long,
      numDocs: Int,
      docsPacked: Array[Byte],
      freqsPacked: Array[Byte],
      normsPacked: Array[Byte],
      impacts: Array[Byte],
      freqSum: Long,
      maxFreq: Int,
      minNorm: Int,
      // optional positional postings (IndexConfig.storePositions): per doc in
      // block order, `freq` delta-VInt-encoded analyzer positions,
      // concatenated — the .pos file re-expression (doc boundaries come from
      // the decoded freqs)
      posPacked: Array[Byte] = null,
      // optional per-position character offsets (IndexConfig.storeOffsets,
      // ref index/IndexOptions.java DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS):
      // per doc, the (start, end) pairs flattened in position order — a
      // nondecreasing int sequence, so the SAME delta-VInt codec as
      // positions applies with 2*freq values per doc
      offsPacked: Array[Byte] = null,
      // optional per-position payloads (IndexConfig.storePayloads, ref
      // analysis/payloads/* + queries/payloads/PayloadScoreQuery.java):
      // per doc, `freq` raw-VInt values in position order — payloads are
      // arbitrary (non-monotone), so the raw codec, not the delta one
      paysPacked: Array[Byte] = null
  )

  /** One term's dictionary stats — the `terms` table row (range-partitioned
    * sorted Parquet, the block-tree/.tim re-expression) and the row every
    * dictionary read returns. Searchers build their dictionary from the
    * postings themselves ([[graft.search.TermDict]]).
    */
  final case class TermStat(term: String, docFreq: Long, totalTermFreq: Long)

  /** Collection statistics for BM25
    * (ref `search/similarities/BM25Similarity.java:101-108`).
    */
  final case class CollectionStats(docCount: Long, sumTotalTermFreq: Long)
}
