package graft.search

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partition, TaskContext}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.index.{SegmentManifest, SegmentWriter}
import graft.index.Schema.PostingBlock

/** One bucket range of a segment's postings, resident on an executor — the
  * in-memory form of an opened segment, which the reference maps once
  * (`store/MMapDirectory.java`) and a query only seeks into.
  *
  * The terms are sorted, and each term owns a run of blocks ordered by
  * firstDocId. Block metadata sits in primitive arrays, and every packed
  * stream of every block (docs, freqs, norms, impacts, positions) sits in
  * ONE byte array: stream `s` of block `b` is `data[off(5b+s), off(5b+s+1))`.
  * A null `posPacked` is a bit of `noPos`. A slice is thus a handful of
  * objects whatever its size, and a query copies out only its own blocks.
  */
final class Slice private (
    private val terms: Array[String],
    private val termStart: Array[Int], // term i's blocks: termStart(i) until termStart(i + 1)
    private val firstDocId: Array[Long],
    private val lastDocId: Array[Long],
    private val numDocs: Array[Int],
    private val freqSum: Array[Long],
    private val off: Array[Int],
    private val noPos: java.util.BitSet,
    private val data: Array[Byte]
) extends Serializable {
  import Slice.Streams

  private def numTerms: Int = terms.length

  /** Index of the first term `>= t` (`numTerms` when there is none). */
  private def seek(t: String): Int = {
    val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t)
    if (i >= 0) i else -i - 1
  }

  private def stream(b: Int, s: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(data, off(Streams * b + s), off(Streams * b + s + 1))

  /** Block `b` as the scorers read it (its streams copied out). */
  private def view(b: Int): BlockView =
    BlockView(firstDocId(b), lastDocId(b), numDocs(b), stream(b, 0), stream(b, 1),
      stream(b, 2), stream(b, 3), if (noPos.get(b)) null else stream(b, 4))

  /** The block-map keys of a query in this slice, each with its term index:
    * every term of `terms` the slice holds, and for each complete multi-term
    * node `(prefix, spec)` every slice term `spec` matches, keyed
    * `prefix + term` — the sorted terms are walked from the spec's range
    * start, as the driver's [[TermDict]] walks them.
    */
  def keys(terms: Array[String], specs: Array[(String, MultiTerm)]): Array[(String, Int)] = {
    val out = mutable.ArrayBuffer[(String, Int)]()
    terms.foreach { t =>
      val i = seek(t)
      if (i < numTerms && this.terms(i) == t) out += t -> i
    }
    specs.foreach { case (prefix, spec) =>
      val (lo, hi) = IndexSearcher.specRange(spec)
      val keep = MultiTerm.matcher(spec)
      var i = seek(lo)
      while (i < numTerms && hi.forall(this.terms(i) < _)) {
        if (keep(this.terms(i))) out += (prefix + this.terms(i)) -> i
        i += 1
      }
    }
    out.toArray
  }

  /** Each of `keys` with its blocks in this slice, by firstDocId — the
    * order the slice stores them in. The slice is one doc range, so these
    * are every block a scorer tree over it reads.
    */
  def blocks(keys: Array[(String, Int)]): Map[String, Array[BlockView]] =
    keys.iterator.map { case (key, t) =>
      key -> Array.range(termStart(t), termStart(t + 1)).map(view)
    }.toMap

  /** Per term, its docFreq and totalTermFreq in this slice: the block
    * numDocs and freqSum summed.
    */
  def stats: (Array[String], Array[Long], Array[Long]) = {
    val df = new Array[Long](numTerms)
    val ttf = new Array[Long](numTerms)
    var t = 0
    while (t < numTerms) {
      var b = termStart(t)
      while (b < termStart(t + 1)) { df(t) += numDocs(b); ttf(t) += freqSum(b); b += 1 }
      t += 1
    }
    (terms, df, ttf)
  }
}

object Slice {
  private val Streams = 5

  /** Accumulates blocks in any order; [[result]] sorts them by
    * (term, firstDocId) into a compact slice.
    */
  final class Builder {
    private val terms = mutable.ArrayBuffer[String]()
    private val first, last, freqSum = new mutable.ArrayBuilder.ofLong
    private val numDocs = new mutable.ArrayBuilder.ofInt
    private val lens = new mutable.ArrayBuilder.ofInt // Streams per block
    private val noPos = new java.util.BitSet
    private var data = new Array[Byte](1 << 16)
    private var size = 0

    private def put(src: Array[Byte], from: Int, until: Int): Unit = {
      val n = until - from
      require(size.toLong + n <= Int.MaxValue - 16,
        "a slice holds over 2 GB of postings: lower spark.sql.files.maxPartitionBytes")
      if (size + n > data.length)
        data = java.util.Arrays.copyOf(data, math.min(Int.MaxValue - 16L,
          math.max(2L * data.length, size.toLong + n)).toInt)
      System.arraycopy(src, from, data, size, n)
      size += n
      lens += n
    }

    private def push(term: String, f: Long, l: Long, n: Int, fs: Long): Unit = {
      terms += term; first += f; last += l; numDocs += n; freqSum += fs
    }

    /** One postings row; `pos` may be null. */
    def add(term: String, f: Long, l: Long, n: Int, fs: Long, docs: Array[Byte],
        freqs: Array[Byte], norms: Array[Byte], impacts: Array[Byte], pos: Array[Byte]): Unit = {
      if (pos == null) noPos.set(terms.length)
      push(term, f, l, n, fs)
      Seq(docs, freqs, norms, impacts).foreach(a => put(a, 0, a.length))
      if (pos == null) lens += 0 else put(pos, 0, pos.length)
    }

    /** Every block of `s`. */
    def addAll(s: Slice): Unit = {
      var t = 0
      while (t < s.numTerms) {
        var b = s.termStart(t)
        while (b < s.termStart(t + 1)) {
          if (s.noPos.get(b)) noPos.set(terms.length)
          push(s.terms(t), s.firstDocId(b), s.lastDocId(b), s.numDocs(b), s.freqSum(b))
          var k = 0
          while (k < Streams) { put(s.data, s.off(Streams * b + k), s.off(Streams * b + k + 1)); k += 1 }
          b += 1
        }
        t += 1
      }
    }

    def result(): Slice = {
      val n = terms.length
      val (fs, ls, nds, sums, ln) =
        (first.result(), last.result(), numDocs.result(), freqSum.result(), lens.result())
      def before(a: Int, b: Int): Boolean = {
        val c = terms(a).compareTo(terms(b))
        c < 0 || (c == 0 && fs(a) < fs(b))
      }
      val order: Array[Int] =
        if ((1 until n).forall(i => !before(i, i - 1))) Array.range(0, n)
        else Array.range(0, n).sortWith(before)
      val start = new Array[Int](n) // block i's first byte in `data`
      var p = 0
      (0 until n).foreach { i => start(i) = p; (0 until Streams).foreach(k => p += ln(Streams * i + k)) }
      val out = new Array[Byte](size)
      val off = new Array[Int](Streams * n + 1)
      val pos = new java.util.BitSet
      val termStart = mutable.ArrayBuilder.make[Int]
      val distinct = mutable.ArrayBuffer[String]()
      var o = 0
      order.iterator.zipWithIndex.foreach { case (i, j) =>
        if (distinct.isEmpty || distinct.last != terms(i)) { distinct += terms(i); termStart += j }
        if (noPos.get(i)) pos.set(j)
        var k = 0
        while (k < Streams) { off(Streams * j + k) = o; o += ln(Streams * i + k); k += 1 }
        System.arraycopy(data, start(i), out, off(Streams * j), o - off(Streams * j))
      }
      off(Streams * n) = o
      termStart += n
      new Slice(distinct.toArray, termStart.result(), order.map(fs), order.map(ls),
        order.map(nds), order.map(sums), off, pos, out)
    }
  }

  /** The number of buckets of segment `m`. */
  private[search] def numBuckets(m: SegmentManifest): Long =
    math.max(1L, (m.maxDocId >> m.bucketShift) + 1)

  /** The slice, of `nSlices` over `numBuckets` buckets, that holds bucket `b`. */
  private[search] def sliceOf(b: Long, nSlices: Int, numBuckets: Long): Int =
    (b * nSlices / numBuckets).toInt

  /** The first bucket of slice `s` of `nSlices` over `numBuckets` buckets
    * (see [[sliceOf]]), `s = nSlices` giving the end.
    */
  private[search] def firstBucket(s: Int, nSlices: Int, numBuckets: Long): Long =
    (s * numBuckets + nSlices - 1) / nSlices

  /** Load a segment's postings as resident slices, in ONE Spark job.
    *
    * The segment has `S = ceil(postings bytes / spark.sql.files.maxPartitionBytes)`
    * slices (at most one per bucket), and bucket `b` goes to slice
    * `b·S / numBuckets` — Spark's own bound on the bytes one task reads, so
    * a slice's byte array stays far below 2 GB and a large segment loads
    * and scores in several tasks. A block whose docs run into the next
    * slice is cut at the boundary ([[SegmentWriter.clip]]), so each slice
    * holds exactly its doc range. One task per Parquet file partition
    * builds a partial slice per slice id; one shuffle keyed by slice id
    * brings the partials together, and one task per slice merges them by
    * (term, firstDocId) — term ranges of the partials overlap when Spark
    * splits a file or `FeatureIndexer` appended one.
    *
    * The slices persist `MEMORY_AND_DISK` (lineage recomputes a lost one
    * from Parquet); the same job returns each slice's term stats, from
    * which the driver's [[TermDict]] is built.
    */
  private[search] def load(spark: SparkSession, m: SegmentManifest,
      postings: DataFrame): (RDD[Slice], TermDict) = {
    val sc = spark.sparkContext
    val dir = new org.apache.hadoop.fs.Path(s"${m.dir}/postings")
    val bytes = dir.getFileSystem(sc.hadoopConfiguration).getContentSummary(dir).getLength
    val maxBytes = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val buckets = numBuckets(m)
    val nSlices = math.min(buckets, math.max(1L, (bytes + maxBytes - 1) / maxBytes)).toInt
    val shift = m.bucketShift
    val partials = postings.select("term", "firstDocId", "lastDocId", "numDocs", "freqSum",
        "docsPacked", "freqsPacked", "normsPacked", "impacts", "posPacked").queryExecution.toRdd
      .mapPartitions { rows =>
        val bs = new Array[Builder](nSlices)
        def slice(docId: Long): Int = sliceOf(docId >>> shift, nSlices, buckets)
        def add(s: Int, b: PostingBlock): Unit = {
          if (bs(s) == null) bs(s) = new Builder
          bs(s).add(b.term, b.firstDocId, b.lastDocId, b.numDocs, b.freqSum, b.docsPacked,
            b.freqsPacked, b.normsPacked, b.impacts, b.posPacked)
        }
        rows.foreach { r =>
          val (first, last) = (r.getLong(1), r.getLong(2))
          val b = PostingBlock(r.getUTF8String(0).toString, first >>> shift, first, last,
            r.getInt(3), r.getBinary(5), r.getBinary(6), r.getBinary(7), r.getBinary(8),
            r.getLong(4), 0, 0, if (r.isNullAt(9)) null else r.getBinary(9), null, null)
          (slice(first) to slice(last)).foreach { s =>
            SegmentWriter.clip(b, firstBucket(s, nSlices, buckets) << shift,
              firstBucket(s + 1, nSlices, buckets) << shift, shift).foreach(add(s, _))
          }
        }
        bs.iterator.zipWithIndex.collect { case (b, s) if b != null => s -> b.result() }
      }
    val slices = partials.partitionBy(new HashPartitioner(nSlices)).values
      .mapPartitions { ps =>
        val all = ps.toArray
        if (all.length == 1) Iterator(all(0))
        else { val b = new Builder; all.foreach(b.addAll); Iterator(b.result()) }
      }
      .setName(s"slices ${m.dir}")
      .persist(StorageLevel.MEMORY_AND_DISK)
    (slices, TermDict(new Pass(slices, (_, s) => Iterator(s.stats)).collectParts().map(_.head)))
  }

  /** `f(p, slice)` over each partition `p` of `slices` (one slice each): a
    * query's pass over its resident slices.
    *
    * An RDD subclass rather than `mapPartitionsWithIndex`, and collected
    * with [[Collect]] rather than a lambda: Spark's closure cleaner reads
    * and parses the bytecode of the class that declares a lambda on every
    * call (`IndexSearcher`'s is 250 KB; `runJob` wraps a lambda in one of
    * `SparkContext`'s and cleans that too), about 5 ms of every warm query.
    */
  private[search] final class Pass[T: ClassTag](slices: RDD[Slice], f: (Int, Slice) => Iterator[T])
      extends RDD[T](slices) {
    override protected def getPartitions: Array[Partition] = firstParent[Slice].partitions
    override def compute(p: Partition, tc: TaskContext): Iterator[T] =
      f(p.index, firstParent[Slice].iterator(p, tc).next())

    /** Every partition's rows, by partition, in one job. */
    def collectParts(): Array[Array[T]] =
      if (partitions.isEmpty) Array.empty
      else sparkContext.runJob(this, new Collect[T], partitions.indices)
  }

  /** A task's rows as an array; a named class, see [[Pass]]. */
  private final class Collect[T: ClassTag] extends ((TaskContext, Iterator[T]) => Array[T]) with Serializable {
    def apply(tc: TaskContext, it: Iterator[T]): Array[T] = it.toArray
  }
}
