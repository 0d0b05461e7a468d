package graft.search

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructType}

import graft.index.{SegmentManifest, TermBloom}
import graft.index.Schema.{DocEntry, PostingBlock, TermStat}

/** One committed segment's read state, opened once and shared by every
  * searcher that still sees the segment — the analogue of the reference's
  * `SegmentReader`, which `DirectoryReader.openIfChanged` carries over to
  * the refreshed reader (`index/StandardDirectoryReader.java`).
  *
  * A committed segment's files do not change, so:
  *  - each table is a Parquet relation read with an explicit schema: no
  *    schema-inference job, and no per-call test for columns an older
  *    layout lacks (a missing column reads as null);
  *  - on its first dictionary or postings use the segment loads, in ONE
  *    Spark job, as resident [[Slice]]s persisted on the executors, and the
  *    same job returns the term stats of the driver's [[TermDict]]. Every
  *    dictionary read after that — term stats, multi-term expansion,
  *    spelling and suggest — is a binary search or a sorted range walk of
  *    the [[TermDict]], with no Spark job, and every postings read of a
  *    query is one RDD pass over the slices, with no Parquet scan. Offset,
  *    payload and explain reads stay point scans of [[postings]].
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

  private var resident: (RDD[Slice], TermDict) = _

  private def loaded: (RDD[Slice], TermDict) = synchronized {
    if (resident == null) resident = Slice.load(spark, manifest, postings)
    resident
  }

  /** The resident slices, one per partition, loaded on first use. */
  def slices: RDD[Slice] = loaded._1

  /** The term dictionary on the driver, loaded with the slices. */
  def dict: TermDict = loaded._2

  /** Unpersist the slices, if loaded. A searcher still holding this reader
    * keeps answering: its slices recompute from Parquet by lineage.
    */
  def release(): Unit = synchronized {
    if (resident != null) resident._1.unpersist(blocking = false)
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
  * Built from the resident slices' stats, so the `terms` table is not read;
  * for a segment of several slices it also records the first and last
  * slice that hold each term's blocks.
  */
final class TermDict private (
    terms: Array[String],
    docFreq: Array[Long],
    totalTermFreq: Array[Long],
    firstSlice: Array[Int], // null: the segment is one slice
    lastSlice: Array[Int]) {

  private def search(term: String): Int =
    java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)

  /** `term`'s dictionary row tagged with segment ordinal `seg`. */
  def lookup(seg: Int, term: String): Option[SegTermRow] = {
    val i = search(term)
    if (i < 0) None
    else if (firstSlice == null) Some(SegTermRow(seg, term, docFreq(i), totalTermFreq(i), 0, 0))
    else Some(SegTermRow(seg, term, docFreq(i), totalTermFreq(i), firstSlice(i), lastSlice(i)))
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

  /** The dictionary of a segment from its slices' (terms, docFreq,
    * totalTermFreq), in slice order. A term held by several slices sums
    * its stats over them.
    */
  private[search] def apply(slices: Array[(Array[String], Array[Long], Array[Long])]): TermDict =
    if (slices.length == 1) {
      val (t, df, ttf) = slices(0)
      new TermDict(t, df, ttf, null, null)
    } else {
      val rows = slices.iterator.zipWithIndex.flatMap { case ((t, df, ttf), s) =>
        t.indices.iterator.map(i => (t(i), s, df(i), ttf(i)))
      }.toArray.sortBy(r => (r._1, r._2))
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Int, Int)]()
      rows.foreach { case (t, s, d, f) =>
        if (out.nonEmpty && out.last._1 == t) {
          val p = out.last
          out(out.length - 1) = (t, p._2 + d, p._3 + f, p._4, s)
        } else out += ((t, d, f, s, s))
      }
      new TermDict(out.map(_._1).toArray, out.map(_._2).toArray, out.map(_._3).toArray,
        out.map(_._4).toArray, out.map(_._5).toArray)
    }
}
