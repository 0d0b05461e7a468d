package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Static per-document ranking features carried inside the inverted index —
  * the re-expression of the reference's `FeatureField`
  * (`/root/reference/lucene/core/src/java/org/apache/lucene/document/FeatureField.java`):
  * a feature is a term in a dedicated pseudo-field whose term FREQUENCY
  * encodes the feature value (the float's top 17 bits,
  * `FeatureField.java:184-186` `floatToIntBits(v) >>> 15` — lossless for
  * integer values up to 512, ~0.4% relative error otherwise). Norms are
  * omitted (the posting's norm byte is a constant 1 and feature scorers
  * ignore it), so features never distort BM25 length normalization, and the
  * postings ride the ordinary block/impact machinery — feature queries get
  * WAND/block-max pruning from the same freq skylines as text terms.
  */
object FeatureIndexer {

  /** Pseudo-field that namespaces feature terms in the shared dictionary. */
  val Field = "features"

  def featureTerm(feature: String): String = FieldKey.encode(Field, feature)

  /** `FeatureField.java:184-186`: freq = top 17 bits of the IEEE754 value.
    * Requires a positive, finite, normal value like the reference's ctor.
    */
  def encodeValue(v: Float): Int = {
    require(java.lang.Float.isFinite(v) && v >= java.lang.Float.MIN_NORMAL,
      s"feature value must be a positive, finite, normal float, got $v")
    java.lang.Float.floatToIntBits(v) >>> 15
  }

  /** `FeatureField.java:239-249`: lossless freq → value. */
  def decodeValue(freq: Int): Float =
    java.lang.Float.intBitsToFloat(freq << 15)

  /** Append feature postings to a committed segment. `features` columns:
    * (url, feature, value); one row per (doc, feature), values positive
    * normal floats. Docs are resolved through the segment's own row store
    * (url → docId), so the pass composes with any index sort. The appended
    * blocks/dictionary rows are ordinary postings — merges, CheckIndex and
    * dictionary pruning treat them like text terms — and the manifest's
    * termCount is bumped atomically. Global sumTotalTermFreq is left
    * untouched: feature frequencies are value encodings, not token counts,
    * and must not distort avgdl (the reference's feature fields likewise
    * live outside text collection stats).
    */
  /** @param batchId replay guard: when set, a completed append drops a
    *   marker file and an identical replay becomes a no-op (streaming-replay
    *   idempotence). A crash in the middle of an un-gated append leaves the
    *   terms table ahead of the manifest's termCount, which CheckIndex
    *   reports — rebuild or roll back the segment then.
    */
  def addFeatures(spark: SparkSession, segDir: String, features: DataFrame,
      batchId: Option[String] = None): SegmentManifest = {
    import spark.implicits._
    val markerPath = batchId.map(id =>
      java.nio.file.Paths.get(segDir, s".features_done_$id"))
    markerPath.foreach { p =>
      if (java.nio.file.Files.exists(p))
        return Manifest.read(segDir).getOrElse(
          throw new IllegalStateException(s"no committed segment at $segDir"))
    }
    val m = Manifest.read(segDir).getOrElse(
      throw new IllegalStateException(s"no committed segment at $segDir"))
    val shift = m.bucketShift
    val docs = new graft.search.SegmentReader(spark, m).docs.select($"docId", $"url")

    // one-doc fragments (norm 1, no positions), cut into blocks as a build
    // cuts its own; hash-partitioned by (term, bucket) like the appended
    // files before, each file sorted by (term, bucket, firstDocId)
    val rows = features
      .select($"url", $"feature".cast("string"), $"value".cast("float"))
      .join(docs, "url")
      .select($"feature", $"docId", $"value")
      .as[(String, Long, Float)]
      .rdd.map { case (f, docId, v) =>
        ((featureTerm(f), docId), SegmentWriter.fragment(encodeValue(v).toLong))
      }
    val written = SegmentWriter.writePostings(spark, rows,
      new SegmentWriter.TermPartitioner(Array.empty, shift,
        hashed = math.max(1, (m.blockCount / 1024).toInt).min(64)),
      s"$segDir/postings", SaveMode.Append)(
      SegmentWriter.cut(_, shift, withPos = false, withOffs = false, withPays = false))
    // keep the reversed dictionary in sync with the appended terms
    SegmentWriter.writeDictionary(spark, segDir, written, 1, bloom = false, SaveMode.Append,
      rterms = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$segDir/rterms")))
    val updated = m.copy(termCount = m.termCount + written.terms.length,
      blockCount = m.blockCount + written.blocks)
    Manifest.commit(segDir, updated)
    markerPath.foreach(p => java.nio.file.Files.createFile(p): Unit)
    updated
  }
}
