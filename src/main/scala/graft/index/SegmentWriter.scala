package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{count, lit, max}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.codec.{BlockCodec, Impacts, Positions}
import graft.index.Schema._

/** The commit tail every segment writer shares: the build
  * ([[IndexBuilder]]), the merge ([[SegmentMerger]]), the split
  * ([[IndexSplitter]]) and the feature append ([[FeatureIndexer]]).
  *
  * Postings reach the writer through ONE exchange keyed
  * `(term, firstDocId)`, partitioned by `(term, bucket)` and sorted by key
  * on the reduce side. The writing task cuts or compacts its blocks, writes
  * them, and reports what it wrote — block count, Σ freqSum and the term
  * stats of its term range — through a result-stage accumulator, which
  * Spark applies once per partition. So the dictionary (`terms`, `rterms`,
  * the Bloom sidecar) is written from stats already in hand, and no
  * manifest count re-reads a table the commit has just written.
  */
object SegmentWriter {

  /** Postings an inverting task buffers before it flushes its fragments,
    * whatever its bucket: bounds a task's memory and a fragment's size.
    */
  val FlushPostings: Int = 1 << 18

  /** Strings in UTF-8 byte order — the order of Spark's string sort and of
    * Parquet's min/max statistics. It is code-point order, which
    * `String.compareTo` breaks for surrogate pairs against U+E000..U+FFFF.
    */
  val Utf8Order: Ordering[String] = new Ordering[String] {
    private def fix(c: Char): Int =
      if (c < 0xd800) c else if (c >= 0xe000) c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) a.length - b.length else fix(a.charAt(i)) - fix(b.charAt(i))
    }
  }

  /** Order of exchange keys: `(term, firstDocId)`, or `(term, bucket)` in
    * range bounds. Bucket order is firstDocId order, so both sort alike.
    */
  val KeyOrder: Ordering[(String, Long)] = new Ordering[(String, Long)] {
    def compare(x: (String, Long), y: (String, Long)): Int = {
      val c = Utf8Order.compare(x._1, y._1)
      if (c != 0) c else java.lang.Long.compare(x._2, y._2)
    }
  }

  /** Places a key `(term, firstDocId)` by its `(term, bucket)`: every
    * fragment or block of one (term, bucket) meets in one task. With
    * `hashed > 0` partitions hash `(term, bucket)`; otherwise partition `i`
    * holds the keys above `bounds(i - 1)` up to `bounds(i)` — term ranges.
    */
  private[index] final class TermPartitioner(
      bounds: Array[(String, Long)], shift: Int, hashed: Int = 0) extends Partitioner {
    def numPartitions: Int = if (hashed > 0) hashed else bounds.length + 1
    def getPartition(key: Any): Int = {
      val (t, first) = key.asInstanceOf[(String, Long)]
      val k = (t, first >>> shift)
      if (hashed > 0) Math.floorMod(k.hashCode, hashed)
      else {
        var lo = 0
        var hi = bounds.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (KeyOrder.gt(k, bounds(mid))) lo = mid + 1 else hi = mid
        }
        lo
      }
    }
  }

  /** Up to `parts - 1` range bounds from weighted candidate keys: a bound
    * wherever the cumulative weight crosses another `1/parts` of the total
    * (the cut `RangePartitioner` makes from its samples).
    */
  private[index] def rangeBounds(cands: Seq[((String, Long), Double)], parts: Int): Array[(String, Long)] = {
    val ordered = cands.sortBy(_._1)(KeyOrder)
    val step = ordered.map(_._2).sum / math.max(1, parts)
    val out = mutable.ArrayBuffer[(String, Long)]()
    var cum = 0.0
    var target = step
    ordered.foreach { case (k, w) =>
      cum += w
      if (cum >= target && out.size < parts - 1 && out.lastOption.forall(KeyOrder.gt(k, _))) {
        out += k
        target += step
      }
    }
    out.toArray
  }

  /** Range bounds from committed segments' postings files, which are
    * already term ranges: each row group's smallest term, weighted by its
    * rows, read from the Parquet footers on the driver — no sampling job.
    */
  private[index] def footerBounds(spark: SparkSession, dirs: Seq[String], parts: Int): Array[(String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val cands = dirs.flatMap { d =>
      val dir = new Path(s"$d/postings")
      dir.getFileSystem(conf).listStatus(dir).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .flatMap { st =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try r.getFooter.getBlocks.asScala.toSeq.flatMap { rg =>
            rg.getColumns.asScala
              .find(_.getPath.toDotString == "term").map(_.getStatistics)
              .filter(s => s != null && s.hasNonNullValue)
              .map(s => (new String(s.getMinBytes, java.nio.charset.StandardCharsets.UTF_8), -1L) ->
                rg.getRowCount.toDouble)
          } finally r.close()
        }
    }
    rangeBounds(cands, parts)
  }

  // ------------------------------------------------------------- blocks

  /** One posting block from the first `n` docs of the given arrays (copied;
    * the caller may reuse them). Every block writer encodes through here.
    */
  private[index] def encodeBlock(term: String, bucket: Long, ids: Array[Long],
      fs: Array[Long], ns: Array[Long], n: Int, pos: Array[Array[Int]],
      offs: Array[Array[Int]], pays: Array[Array[Int]]): PostingBlock = {
    val docIds = java.util.Arrays.copyOf(ids, n)
    val freqs = java.util.Arrays.copyOf(fs, n)
    val norms = java.util.Arrays.copyOf(ns, n)
    val normsI = new Array[Int](n)
    var freqSum = 0L
    var maxFreq = 0L
    var minNorm = Long.MaxValue
    var i = 0
    while (i < n) {
      normsI(i) = norms(i).toInt
      freqSum += freqs(i)
      if (freqs(i) > maxFreq) maxFreq = freqs(i)
      if (norms(i) < minNorm) minNorm = norms(i)
      i += 1
    }
    PostingBlock(term, bucket, docIds(0), docIds(n - 1), n,
      docsPacked = BlockCodec.forEncode(BlockCodec.deltaEncode(docIds, docIds(0))),
      freqsPacked = BlockCodec.pforEncode(freqs),
      normsPacked = BlockCodec.forEncode(norms),
      impacts = Impacts.encode(Impacts.skylineInts(freqs, normsI, n)),
      freqSum = freqSum, maxFreq = maxFreq.toInt, minNorm = minNorm.toInt,
      posPacked = if (pos != null) Positions.encode(pos, n) else null,
      // offsets reuse the positions codec: per doc the flattened
      // (start, end) pairs are a nondecreasing sequence of 2*freq ints
      offsPacked = if (offs != null) Positions.encode(offs, n) else null,
      // payloads are arbitrary values -> raw VInt, not delta
      paysPacked = if (pays != null) Positions.encodeRaw(pays, n) else null)
  }

  /** A block's docIds, freqs, norms and (null when absent) positions,
    * offset pairs and payloads, per doc.
    */
  private[index] def decode(b: PostingBlock)
      : (Array[Long], Array[Long], Array[Long], Array[Array[Int]], Array[Array[Int]], Array[Array[Int]]) = {
    val fs = BlockCodec.pforDecode(b.freqsPacked)
    (BlockCodec.deltaDecode(BlockCodec.forDecode(b.docsPacked), b.firstDocId), fs,
      BlockCodec.forDecode(b.normsPacked),
      if (b.posPacked == null) null else Positions.decode(b.posPacked, fs, b.numDocs),
      if (b.offsPacked == null) null else Positions.decode(b.offsPacked, fs.map(_ * 2), b.numDocs),
      if (b.paysPacked == null) null else Positions.decodeRaw(b.paysPacked, fs, b.numDocs))
  }

  /** Cuts the postings of one (term, bucket) after another into 128-doc
    * blocks: postings arrive in docId order, [[key]] starts the next
    * (term, bucket), and [[drain]] hands over the blocks cut so far.
    */
  private[index] final class Cutter(withPos: Boolean, withOffs: Boolean, withPays: Boolean) {
    private val B = BlockCodec.BlockSize
    private val ids, fs, ns = new Array[Long](B)
    private val pos, offs, pays = new Array[Array[Int]](B)
    private var n = 0
    private var term: String = null
    private var bucket = 0L
    private val out = mutable.ArrayBuffer[PostingBlock]()

    def key(t: String, b: Long): Unit =
      if (t != term || b != bucket) { flush(); term = t; bucket = b }

    def add(id: Long, f: Long, norm: Long, p: Array[Int], o: Array[Int], y: Array[Int]): Unit = {
      if (n == B) flush()
      ids(n) = id; fs(n) = f; ns(n) = norm; pos(n) = p; offs(n) = o; pays(n) = y
      n += 1
    }

    def flush(): Unit = if (n > 0) {
      out += encodeBlock(term, bucket, ids, fs, ns, n, if (withPos) pos else null,
        if (withOffs) offs else null, if (withPays) pays else null)
      n = 0
    }

    def drain(): Iterator[PostingBlock] = { val r = out.toArray; out.clear(); r.iterator }
  }

  /** A segment's blocks with every docId moved by the bucket-aligned
    * `delta`, keyed for [[writePostings]]; the packed streams move as
    * opaque bytes (their deltas are relative to `firstDocId`).
    */
  private[index] def shifted(postings: DataFrame, delta: Long, shift: Int): RDD[((String, Long), PostingBlock)] = {
    import postings.sparkSession.implicits._
    postings.as[PostingBlock].rdd.map { b =>
      val first = b.firstDocId + delta
      ((b.term, first),
        b.copy(bucket = first >>> shift, firstDocId = first, lastDocId = b.lastDocId + delta))
    }
  }

  // --------------------------------------------------------- fragments

  /** A posting fragment: one (term, bucket)'s postings from one task, in
    * docId order, packed as VInts — per doc the docId delta (the first
    * against the key's firstDocId), freq, norm, then the positions (delta),
    * offset pairs (delta) and payloads (raw) the config stores.
    */
  private final class Fragment(val first: Long) {
    var last: Long = first
    val w = new BlockCodec.ByteWriter(16)
  }

  private def writeDeltas(w: BlockCodec.ByteWriter, xs: ArrayData): Unit = {
    var prev = 0
    var i = 0
    while (i < xs.numElements()) { val x = xs.getInt(i); w.writeVLong((x - prev).toLong); prev = x; i += 1 }
  }

  private def readInts(r: BlockCodec.ByteReader, n: Int, delta: Boolean): Array[Int] = {
    val xs = new Array[Int](n)
    var prev = 0
    var i = 0
    while (i < n) {
      val v = r.readVLong().toInt
      xs(i) = if (delta) prev + v else v
      prev = xs(i)
      i += 1
    }
    xs
  }

  /** Inverts a partition of docs in docId order into posting fragments keyed
    * `(term, firstDocId)`, one per (term, bucket) the docs touch; fragments
    * flush at each bucket boundary and every [[FlushPostings]] postings.
    * Rows are `(docId, terms, freqs, norm, termNorms, positions, offsets,
    * payloads)` of the cached [[DocTokens]]: a term string materializes once
    * per fragment, not once per posting.
    */
  private[index] def invert(docs: Iterator[InternalRow], shift: Int, withPos: Boolean,
      withOffs: Boolean, withPays: Boolean): Iterator[((String, Long), Array[Byte])] = {
    val open = new java.util.HashMap[UTF8String, Fragment]()
    var bucket = -1L
    var buffered = 0
    def drain(): Iterator[((String, Long), Array[Byte])] = {
      val out = open.asScala.iterator.map { case (t, f) => ((t.toString, f.first), f.w.result()) }.toArray
      open.clear()
      buffered = 0
      out.iterator
    }
    docs.flatMap { r =>
      val docId = r.getLong(0)
      val b = docId >>> shift
      val out = if (b != bucket || buffered >= FlushPostings) drain() else Iterator.empty
      bucket = b
      val terms = r.getArray(1)
      val freqs = r.getArray(2)
      val termNorms = if (r.isNullAt(4)) null else r.getArray(4)
      val (pos, offs, pays) = (if (withPos) r.getArray(5) else null,
        if (withOffs) r.getArray(6) else null, if (withPays) r.getArray(7) else null)
      var i = 0
      while (i < terms.numElements()) {
        val t = terms.getUTF8String(i)
        var f = open.get(t)
        if (f == null) { f = new Fragment(docId); open.put(t.clone(), f) }
        f.w.writeVLong(docId - f.last)
        f.last = docId
        f.w.writeVLong(freqs.getInt(i).toLong)
        f.w.writeVLong((if (termNorms != null) termNorms.getInt(i) else r.getInt(3)).toLong)
        if (withPos) writeDeltas(f.w, pos.getArray(i))
        if (withOffs) writeDeltas(f.w, offs.getArray(i))
        if (withPays) {
          val ps = pays.getArray(i)
          var k = 0
          while (k < ps.numElements()) { f.w.writeVLong(ps.getInt(k).toLong); k += 1 }
        }
        i += 1
      }
      buffered += terms.numElements()
      out
    } ++ drain()
  }

  /** One feature posting as a one-doc fragment (norm 1, no positions). */
  private[index] def fragment(freq: Long): Array[Byte] = {
    val w = new BlockCodec.ByteWriter(8)
    w.writeVLong(0L); w.writeVLong(freq); w.writeVLong(1L)
    w.result()
  }

  /** Concatenates a task's fragments, sorted by key, per (term, bucket) in
    * docId order and cuts them into 128-doc blocks.
    */
  private[index] def cut(frags: Iterator[((String, Long), Array[Byte])], shift: Int,
      withPos: Boolean, withOffs: Boolean, withPays: Boolean): Iterator[PostingBlock] = {
    val c = new Cutter(withPos, withOffs, withPays)
    frags.flatMap { case ((t, first), bytes) =>
      c.key(t, first >>> shift)
      val r = new BlockCodec.ByteReader(bytes)
      var id = first
      while (r.remaining > 0) {
        id += r.readVLong()
        val f = r.readVLong().toInt
        val norm = r.readVLong()
        c.add(id, f.toLong, norm, if (withPos) readInts(r, f, delta = true) else null,
          if (withOffs) readInts(r, 2 * f, delta = true) else null,
          if (withPays) readInts(r, f, delta = false) else null)
      }
      c.drain()
    } ++ { c.flush(); c.drain() }
  }

  // ------------------------------------------------------------- commit

  /** What one writing task wrote: its blocks, their Σ freqSum, the stats of
    * its terms in order, and per field (when asked) Σ freqSum and the docs.
    */
  private final case class Part(pid: Int, blocks: Long, sumTtf: Long, terms: Array[String],
      df: Array[Long], ttf: Array[Long], fields: Map[String, (Long, Roaring64Bitmap)])

  /** The written postings of a segment: block count, Σ freqSum, the term
    * dictionary sorted by term, and per-field stats when they were asked for.
    */
  final case class Written(blocks: Long, sumTtf: Long, terms: Array[String],
      df: Array[Long], ttf: Array[Long], fieldStats: Seq[FieldStat])

  private def tap(pid: Int, blocks: Iterator[PostingBlock], fieldDocs: Boolean,
      acc: CollectionAccumulator[Part]): Iterator[PostingBlock] = {
    var n, sumTtf, df, ttf = 0L
    var cur: String = null
    val terms = mutable.ArrayBuffer[String]()
    val dfs, ttfs = new mutable.ArrayBuilder.ofLong
    val fields = mutable.HashMap[String, (Long, Roaring64Bitmap)]()
    def endTerm(): Unit = if (cur != null) { terms += cur; dfs += df; ttfs += ttf }
    blocks.map { b =>
      n += 1
      sumTtf += b.freqSum
      if (b.term != cur) { endTerm(); cur = b.term; df = 0; ttf = 0 }
      df += b.numDocs
      ttf += b.freqSum
      if (fieldDocs) {
        val f = FieldKey.fieldOf(b.term)
        val (s, docs) = fields.getOrElse(f, (0L, new Roaring64Bitmap))
        decode(b)._1.foreach(docs.addLong)
        fields(f) = (s + b.freqSum, docs)
      }
      b
    } ++ {
      endTerm()
      acc.add(Part(pid, n, sumTtf, terms.toArray, dfs.result(), ttfs.result(), fields.toMap))
      Iterator.empty
    }
  }

  /** Brings `keyed` to its writers in ONE exchange (sorted by key in each
    * task), turns each task's records into blocks with `reduce`, writes them
    * to `path` and returns what was written. With `fieldDocs` the per-field
    * docCount and sumTotalTermFreq of the written blocks come back too.
    */
  private[index] def writePostings[V: ClassTag](spark: SparkSession,
      keyed: RDD[((String, Long), V)], part: Partitioner, path: String,
      mode: SaveMode = SaveMode.Overwrite, fieldDocs: Boolean = false)(
      reduce: Iterator[((String, Long), V)] => Iterator[PostingBlock]): Written = {
    val sc = spark.sparkContext
    val acc = sc.collectionAccumulator[Part]("postings written")
    val blocks = new ShuffledRDD[(String, Long), V, V](keyed, part)
      .setKeyOrdering(KeyOrder)
      .setSerializer(new KryoSerializer(sc.getConf))
      .mapPartitionsWithIndex((pid, it) => tap(pid, reduce(it), fieldDocs, acc))
    spark.createDataset(blocks)(org.apache.spark.sql.Encoders.product[PostingBlock])
      .write.mode(mode).parquet(path)
    val parts = acc.value.asScala.toSeq.sortBy(_.pid)
    // a term's buckets may straddle two range partitions (or hash to
    // several): sort the runs by term and sum a term's stats over them
    val rows = parts.iterator.flatMap(p => p.terms.indices.iterator.map(i => (p.terms(i), p.df(i), p.ttf(i))))
      .toArray.sortBy(_._1)(Utf8Order)
    val merged = mutable.ArrayBuffer[(String, Long, Long)]()
    rows.foreach { r =>
      if (merged.nonEmpty && merged.last._1 == r._1) {
        val p = merged.last
        merged(merged.length - 1) = (r._1, p._2 + r._2, p._3 + r._3)
      } else merged += r
    }
    val fieldStats = parts.flatMap(_.fields).groupBy(_._1).toSeq.map { case (f, xs) =>
      val docs = new Roaring64Bitmap
      xs.foreach(x => docs.or(x._2._2))
      FieldStat(f, docs.getLongCardinality, xs.map(_._2._1).sum)
    }.sortBy(_.field)
    Written(parts.map(_.blocks).sum, parts.map(_.sumTtf).sum, merged.map(_._1).toArray,
      merged.map(_._2).toArray, merged.map(_._3).toArray, fieldStats)
  }

  /** The dictionary of written postings: `terms` sorted by term, then
    * `rterms` (reversed term, term) sorted by rterm, each in `parts` files,
    * then the Bloom sidecar when asked. No query reads `rterms` — leading
    * wildcards walk the resident [[graft.search.TermDict]] — but it is still
    * the last table to commit, because the traced build benchmark
    * (`perfbench/src/perfbench/Layers.scala`) ends its term-stats phase at
    * `rterms/_SUCCESS`; it can go once that marker moves to `terms/_SUCCESS`.
    */
  private[index] def writeDictionary(spark: SparkSession, dir: String, w: Written, parts: Int,
      bloom: Boolean, mode: SaveMode = SaveMode.Overwrite, rterms: Boolean = true): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val n = math.max(1, parts)
    spark.createDataset(sc.parallelize(w.terms.indices.map(i => TermStat(w.terms(i), w.df(i), w.ttf(i))), n))
      .write.mode(mode).parquet(s"$dir/terms")
    if (rterms)
      spark.createDataset(sc.parallelize(
        w.terms.map(t => (new java.lang.StringBuilder(t).reverse.toString, t)).sortBy(_._1)(Utf8Order).toSeq, n))
        .toDF("rterm", "term").write.mode(mode).parquet(s"$dir/rterms")
    if (bloom) TermBloom.write(spark, dir, w.terms)
  }

  /** Write a docs (or term-vector) table sorted by docId within each task —
    * its inputs are docId-sorted already, so no range exchange — and return
    * the rows written and their largest docId (-1 for none), observed in
    * the writing tasks.
    */
  private[index] def writeDocs(df: DataFrame, path: String): (Long, Long) = {
    val obs = Observation()
    df.sortWithinPartitions("docId")
      .observe(obs, count(lit(1)).as("n"), max("docId").as("max"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    val r = obs.get
    (r("n").asInstanceOf[Long], Option(r("max")).fold(-1L)(_.asInstanceOf[Long]))
  }

  /** Commit the manifest of a segment whose tables are written. */
  private[index] def commit(dir: String, t0: Long, docCount: Long, maxDocId: Long, w: Written,
      bucketShift: Int, lineage: Seq[PartitionLineage], hasPositions: Boolean,
      hasOffsets: Boolean, hasPayloads: Boolean, fieldStats: Seq[FieldStat]): SegmentManifest = {
    val m = SegmentManifest(
      segmentId = java.util.UUID.nameUUIDFromBytes(dir.getBytes).toString,
      dir = dir, docCount = docCount, maxDocId = maxDocId, sumTotalTermFreq = w.sumTtf,
      termCount = w.terms.length.toLong, blockCount = w.blocks, bucketShift = bucketShift,
      buildWallSec = (System.nanoTime() - t0) / 1e9, lineage = lineage,
      hasPositions = hasPositions, fieldStats = fieldStats, hasOffsets = hasOffsets,
      hasPayloads = hasPayloads)
    Manifest.commit(dir, m)
    m
  }
}
