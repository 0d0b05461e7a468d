package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, length, lit}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructType}

import graft.index.{SegmentManifest, TermBloom}
import graft.index.Schema.{DocEntry, PostingBlock, TermStat}

/** One committed segment's read state, resolved once and shared by every
  * searcher that still sees the segment — the analogue of the reference's
  * `SegmentReader`, which `DirectoryReader.openIfChanged` carries over to
  * the refreshed reader (`index/StandardDirectoryReader.java`).
  *
  * A committed segment's files do not change, so:
  *  - each table is a Parquet relation read with an explicit schema: no
  *    schema-inference job per query, and no per-call test for columns an
  *    older layout lacks (a missing column reads as null; the old-layout
  *    defaults are applied here, once);
  *  - the term dictionary is collected to the driver on its first lookup
  *    (one job per segment) and then answers term stats by binary search.
  *
  * A relation lists its files when it is resolved: files appended to the
  * segment later (`FeatureIndexer.addFeatures`) are seen by readers made
  * after the append. The append also rewrites the manifest, so a refreshed
  * [[SearcherManager]] builds a new reader for that segment.
  */
final class SegmentReader(spark: SparkSession, val manifest: SegmentManifest) {
  import SegmentReader._

  private def table(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"${manifest.dir}/$name")

  /** The `terms` table as [[TermStat]] rows plus the persisted `len`.
    * Pre-singleton segments read with the singleton fast path off;
    * pre-`len` segments compute the length at read time.
    */
  lazy val terms: DataFrame =
    table("terms", TermsSchema).select(
      col("term"), col("docFreq"), col("totalTermFreq"),
      coalesce(col("singletonDocId"), lit(-1L)).as("singletonDocId"),
      coalesce(col("singletonFreq"), lit(0)).as("singletonFreq"),
      coalesce(col("singletonNorm"), lit(0)).as("singletonNorm"),
      coalesce(col("len"), length(col("term"))).as("len"))

  /** The `postings` table; optional payload columns (`posPacked`,
    * `offsPacked`, `paysPacked`) are null where the layout lacks them.
    */
  lazy val postings: DataFrame = table("postings", Encoders.product[PostingBlock].schema)

  /** The reversed dictionary (rterm, term); only for segments that have one. */
  lazy val rterms: DataFrame = table("rterms", RTermsSchema)

  /** The stored-fields row store, before any doc-values overlay. */
  lazy val docs: DataFrame = table("docs", Encoders.product[DocEntry].schema)

  /** Per-doc term vectors; only for segments built with them. */
  lazy val tvec: DataFrame = table("tvec", TvecSchema)

  /** The Bloom sidecar (`IndexConfig.bloomTerms`), None without one. */
  lazy val bloom: Option[TermBloom] =
    if (TermBloom.exists(manifest.dir)) TermBloom.read(spark, manifest.dir) else None

  /** The term dictionary on the driver, loaded on first use. */
  lazy val dict: TermDict = {
    import spark.implicits._
    TermDict.load(terms.drop("len").as[TermStat])
  }
}

object SegmentReader {
  private val TermsSchema: StructType =
    Encoders.product[TermStat].schema.add("len", IntegerType)
  private val RTermsSchema: StructType =
    new StructType().add("rterm", StringType).add("term", StringType)
  private val TvecSchema: StructType = new StructType()
    .add("docId", LongType)
    .add("terms", ArrayType(StringType))
    .add("freqs", ArrayType(IntegerType))
}

/** A segment's term dictionary held on the driver: the sorted terms with
  * their stats in parallel primitive arrays (no per-term row objects),
  * searched by binary search — the reference keeps a terms index on heap
  * for the same lookup (`codecs/lucene90/blocktree/FieldReader.java`).
  */
final class TermDict private (
    terms: Array[String],
    docFreq: Array[Long],
    totalTermFreq: Array[Long],
    singletonDocId: Array[Long],
    singletonFreq: Array[Int],
    singletonNorm: Array[Int]) {

  /** `term`'s dictionary row tagged with segment ordinal `seg`. */
  def lookup(seg: Int, term: String): Option[SegTermRow] = {
    val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)
    if (i < 0) None
    else Some(SegTermRow(seg, term, docFreq(i), totalTermFreq(i),
      singletonDocId(i), singletonFreq(i), singletonNorm(i)))
  }
}

object TermDict {

  /** Collect a segment's dictionary (one job). Rows of one term — files
    * appended by `FeatureIndexer` can repeat a feature term — merge: the
    * stats add up and the merged term is no singleton.
    */
  def load(rows: Dataset[TermStat]): TermDict = {
    val sorted = rows.collect().sortBy(_.term)
    val merged = scala.collection.mutable.ArrayBuffer[TermStat]()
    sorted.foreach { r =>
      if (merged.nonEmpty && merged.last.term == r.term) {
        val p = merged.last
        merged(merged.length - 1) = TermStat(r.term, p.docFreq + r.docFreq,
          p.totalTermFreq + r.totalTermFreq)
      } else merged += r
    }
    new TermDict(merged.map(_.term).toArray, merged.map(_.docFreq).toArray,
      merged.map(_.totalTermFreq).toArray, merged.map(_.singletonDocId).toArray,
      merged.map(_.singletonFreq).toArray, merged.map(_.singletonNorm).toArray)
  }
}
