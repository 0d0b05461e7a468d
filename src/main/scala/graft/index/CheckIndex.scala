package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.codec.{BlockCodec, Positions}
import graft.index.Schema.PostingBlock

/** Index integrity auditor — the re-expression of the reference's
  * `CheckIndex` tool (`/root/reference/lucene/core/src/java/org/apache/lucene/index/CheckIndex.java:114,2619-2660`:
  * re-read every posting, verify term/doc order, freq/stats consistency):
  * every block lies in its bucket, no (term, docId) posting occurs twice, and
  * the manifest's counts and maxDocId equal the tables'.
  * Runs as distributed aggregations; returns a report of violations
  * (empty = index is sound).
  */
object CheckIndex {

  final case class Report(
      docCount: Long,
      blockCount: Long,
      termCount: Long,
      violations: Seq[String]
  ) {
    def ok: Boolean = violations.isEmpty
  }

  def check(spark: SparkSession, dir: String): Report = {
    import spark.implicits._
    val v = scala.collection.mutable.ArrayBuffer[String]()
    val manifest = Manifest.read(dir).getOrElse {
      return Report(0, 0, 0, Seq(s"no manifest at $dir"))
    }

    val docs = spark.read.parquet(s"$dir/docs")
    val docCount = docs.count()
    if (docCount != manifest.docCount)
      v += s"docs table has $docCount rows, manifest says ${manifest.docCount}"
    // guard the empty-docs case: min/max aggregate to null there, and an
    // auditor must report the anomaly, not NPE on it
    if (docCount > 0) {
      val idStats = docs.agg(min($"docId"), max($"docId"),
        count(lit(1)), countDistinct($"docId")).head()
      if (idStats.getLong(3) != docCount) v += "docIds are not unique"
      if (idStats.getLong(1) != manifest.maxDocId)
        v += s"max docId ${idStats.getLong(1)} != manifest maxDocId ${manifest.maxDocId}"
    } else v += "segment has zero docs"

    val rawBlocks = spark.read.parquet(s"$dir/postings")
    val blocksDs: Dataset[PostingBlock] = {
      var c = rawBlocks
      if (!c.columns.contains("posPacked"))
        c = c.withColumn("posPacked", lit(null).cast("binary"))
      if (!c.columns.contains("offsPacked"))
        c = c.withColumn("offsPacked", lit(null).cast("binary"))
      if (!c.columns.contains("paysPacked"))
        c = c.withColumn("paysPacked", lit(null).cast("binary"))
      c.as[PostingBlock]
    }
    val blockCount = blocksDs.count()
    if (blockCount != manifest.blockCount)
      v += s"postings has $blockCount blocks, manifest says ${manifest.blockCount}"

    // per-block decode invariants (distributed pass over every posting)
    val mustHavePos = manifest.hasPositions
    val shift = manifest.bucketShift
    val blockViolations = blocksDs.flatMap { b =>
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      val ids = BlockCodec.deltaDecode(BlockCodec.forDecode(b.docsPacked), b.firstDocId)
      val fs = BlockCodec.pforDecode(b.freqsPacked)
      val ns = BlockCodec.forDecode(b.normsPacked)
      def key = s"(${b.term}, bucket ${b.bucket}, first ${b.firstDocId})"
      if ((b.firstDocId >>> shift) != b.bucket || (b.lastDocId >>> shift) != b.bucket)
        errs += s"$key: block lies outside its bucket"
      if (ids.length != b.numDocs || fs.length != b.numDocs || ns.length != b.numDocs)
        errs += s"$key: decoded lengths disagree with numDocs"
      else {
        var i = 1
        while (i < ids.length) {
          if (ids(i) <= ids(i - 1)) { errs += s"$key: docIds not strictly ascending"; i = ids.length }
          i += 1
        }
        if (ids.head != b.firstDocId) errs += s"$key: firstDocId mismatch"
        if (ids.last != b.lastDocId) errs += s"$key: lastDocId mismatch"
        if (fs.sum != b.freqSum) errs += s"$key: freqSum mismatch"
        if (fs.max.toInt != b.maxFreq) errs += s"$key: maxFreq mismatch"
        if (ns.min.toInt != b.minNorm) errs += s"$key: minNorm mismatch"
        if (fs.exists(_ < 1)) errs += s"$key: nonpositive freq"
        // feature postings carry no positions even in positional segments
        // (their freq is a value encoding, not an occurrence count)
        val isFeature = b.term.startsWith(FeatureIndexer.Field + FieldKey.Sep.toString)
        if (mustHavePos && b.posPacked == null && !isFeature)
          errs += s"$key: missing positions"
        if (b.posPacked != null) {
          val pos = Positions.decode(b.posPacked, fs, b.numDocs)
          var d = 0
          while (d < b.numDocs) {
            val ps = pos(d)
            if (ps.length != fs(d)) { errs += s"$key: positions/freq disagree"; d = b.numDocs }
            else {
              var j = 1
              while (j < ps.length) {
                if (ps(j) <= ps(j - 1)) { errs += s"$key: positions not ascending"; j = ps.length }
                j += 1
              }
            }
            d += 1
          }
        }
        if (manifest.hasPayloads && b.paysPacked == null && !isFeature)
          errs += s"$key: missing payloads"
        if (b.paysPacked != null) {
          // freq payload values per doc (raw codec; values are arbitrary)
          val pays = Positions.decodeRaw(b.paysPacked, fs, b.numDocs)
          var d = 0
          while (d < b.numDocs) {
            if (pays(d).length != fs(d).toInt) { errs += s"$key: payloads/freq disagree"; d = b.numDocs }
            else d += 1
          }
        }
        if (manifest.hasOffsets && b.offsPacked == null && !isFeature)
          errs += s"$key: missing offsets"
        if (b.offsPacked != null) {
          // 2*freq nondecreasing values per doc: (start, end) pairs
          val offs = Positions.decode(b.offsPacked, fs.map(_ * 2), b.numDocs)
          var d = 0
          while (d < b.numDocs) {
            val os = offs(d)
            if (os.length != 2 * fs(d).toInt) { errs += s"$key: offsets/freq disagree"; d = b.numDocs }
            else {
              var j = 0
              while (j + 1 < os.length) {
                if (os(j + 1) < os(j)) { errs += s"$key: offset end < start"; j = os.length }
                else j += 2
              }
            }
            d += 1
          }
        }
      }
      errs
    }.take(20).toSeq
    v ++= blockViolations

    // no (term, docId) posting twice: within a block docIds ascend (above),
    // so a term's blocks in firstDocId order must not overlap
    val overlaps = blocksDs.select($"term", $"firstDocId", $"lastDocId")
      .withColumn("prevLast", lag($"lastDocId", 1).over(
        Window.partitionBy($"term").orderBy($"firstDocId", $"lastDocId")))
      .where($"prevLast" >= $"firstDocId")
      .count()
    if (overlaps > 0) v += s"$overlaps blocks repeat a (term, docId) posting of an earlier block"

    // term dictionary consistency: per-term stats re-derived from blocks
    val terms = spark.read.parquet(s"$dir/terms")
    val termCount = terms.count()
    if (termCount != manifest.termCount)
      v += s"terms table has $termCount rows, manifest says ${manifest.termCount}"
    val mismatch = blocksDs
      .groupBy($"term")
      .agg(sum($"numDocs").as("df2"), sum($"freqSum").as("ttf2"))
      .join(terms, Seq("term"), "full_outer")
      .where($"df2".isNull || $"docFreq".isNull ||
        $"df2" =!= $"docFreq" || $"ttf2" =!= $"totalTermFreq")
      .count()
    if (mismatch > 0) v += s"$mismatch terms with stats disagreeing between dictionary and blocks"

    // sum() over zero blocks is null — treat as 0 so the manifest comparison
    // below reports the inconsistency instead of throwing. Feature-field
    // postings are excluded: their frequencies are FeatureField value
    // encodings, not token counts, and the manifest's sumTotalTermFreq is
    // the TEXT token total that drives avgdl (FeatureIndexer contract).
    val sttfRow = blocksDs
      .where(!$"term".startsWith(FeatureIndexer.Field + FieldKey.Sep))
      .agg(sum($"freqSum")).head()
    val sttf = if (sttfRow.isNullAt(0)) 0L else sttfRow.getLong(0)
    if (sttf != manifest.sumTotalTermFreq)
      v += s"sumTotalTermFreq $sttf != manifest ${manifest.sumTotalTermFreq}"

    Report(docCount, blockCount, termCount, v.toSeq)
  }
}
