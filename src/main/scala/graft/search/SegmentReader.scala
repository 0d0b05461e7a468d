package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
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
  *  - the term dictionary is collected to the driver on its first use
  *    (one job per segment); every dictionary read after that — term
  *    stats, multi-term expansion, spelling and suggest — is a binary
  *    search or a sorted range walk of [[TermDict]], with no Spark job.
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

  /** The `postings` table; optional payload columns (`posPacked`,
    * `offsPacked`, `paysPacked`) are null where the layout lacks them.
    */
  lazy val postings: DataFrame = table("postings", Encoders.product[PostingBlock].schema)

  /** The stored-fields row store, before any doc-values overlay. */
  lazy val docs: DataFrame = table("docs", Encoders.product[DocEntry].schema)

  /** Per-doc term vectors; only for segments built with them. */
  lazy val tvec: DataFrame = table("tvec", TvecSchema)

  /** The Bloom sidecar (`IndexConfig.bloomTerms`), None without one. */
  lazy val bloom: Option[TermBloom] =
    if (TermBloom.exists(manifest.dir)) TermBloom.read(spark, manifest.dir) else None

  /** The term dictionary on the driver, loaded on first use — the only
    * read of the `terms` table. Pre-singleton segments read with the
    * singleton fast path off; a column a later layout dropped (`len`) is
    * not read.
    */
  lazy val dict: TermDict = {
    import spark.implicits._
    TermDict.load(table("terms", Encoders.product[TermStat].schema).select(
      col("term"), col("docFreq"), col("totalTermFreq"),
      coalesce(col("singletonDocId"), lit(-1L)).as("singletonDocId"),
      coalesce(col("singletonFreq"), lit(0)).as("singletonFreq"),
      coalesce(col("singletonNorm"), lit(0)).as("singletonNorm")).as[TermStat])
  }
}

object SegmentReader {
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

  private def search(term: String): Int =
    java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)

  /** `term`'s dictionary row tagged with segment ordinal `seg`. */
  def lookup(seg: Int, term: String): Option[SegTermRow] = {
    val i = search(term)
    if (i < 0) None
    else Some(SegTermRow(seg, term, docFreq(i), totalTermFreq(i),
      singletonDocId(i), singletonFreq(i), singletonNorm(i)))
  }

  /** The terms `t` with `lo <= t < hi` (no upper bound when `hi` is None)
    * that pass `keep`, in term order, with their docFreq and totalTermFreq
    * — a seek to `lo`, then a sequential walk (the reference's
    * `TermsEnum.seekCeil` + `next`, which `AutomatonTermsEnum` drives).
    */
  def walk(lo: String, hi: Option[String], keep: String => Boolean): Iterator[TermStat] = {
    val i = search(lo)
    Iterator.range(if (i >= 0) i else -i - 1, terms.length)
      .takeWhile(j => hi.forall(terms(j) < _))
      .filter(j => keep(terms(j)))
      .map(j => TermStat(terms(j), docFreq(j), totalTermFreq(j)))
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
