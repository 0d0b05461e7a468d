package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, udf}

import graft.codec.BlockCodec
import graft.index.Schema._
import graft.search.SegmentReader

/** Hierarchical segment merge (the re-expression of
  * `/root/reference/lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:113-226`
  * + `DocIDMerger.java:32-95`).
  *
  * DocID remap is *column arithmetic only*: each input segment's docIDs shift
  * by a docBase (aligned to the bucket span, so buckets stay whole) and the
  * packed payloads of its blocks stay valid byte-for-byte (within-block
  * deltas are relative to `firstDocId`). The only per-byte work is purging
  * tombstones and fusing runs of partial blocks of one term — an input's
  * last block of a term meets the next input's first — into 128-doc
  * blocks; full blocks pass through undecoded. At 100 TB this is the
  * difference between shuffling metadata and re-encoding the whole index.
  */
object SegmentMerger {

  /** Bucket-aligned docBases for the given segments. */
  def alignedBases(manifests: Seq[SegmentManifest], bucketShift: Int): Array[Long] = {
    val span = 1L << bucketShift
    val bases = new Array[Long](manifests.size)
    var next = 0L
    manifests.zipWithIndex.foreach { case (m, i) =>
      bases(i) = next
      val end = next + m.maxDocId + 1
      next = ((end + span - 1) / span) * span // round up to bucket boundary
    }
    bases
  }

  def merge(
      spark: SparkSession,
      segDirs: Seq[String],
      outDir: String,
      cfg: IndexConfig = IndexConfig()
  ): SegmentManifest = {
    Manifest.read(outDir) match {
      case Some(m) => m // resume: merge already committed
      case None =>
        import spark.implicits._
        val t0 = System.nanoTime()
        val manifests = segDirs.map(d =>
          Manifest.read(d).getOrElse(sys.error(s"no manifest at $d")))
        require(manifests.forall(_.bucketShift == cfg.bucketShift),
          "bucketShift mismatch between segments and merge config")
        val bases = alignedBases(manifests, cfg.bucketShift)

        // tombstones of the inputs, shifted to the merged docId space — the
        // merge PURGES them physically (ref: merges drop deleted docs and
        // collection stats become exact again)
        val deadGlobal: Array[Long] = manifests.zip(bases).flatMap { case (m, base) =>
          Deletes.readSorted(spark, m.dir).map(_ + base)
        }.sorted.toArray
        val live = udf((id: Long) => java.util.Arrays.binarySearch(deadGlobal, id) < 0)
        def remapped(read: SegmentManifest => DataFrame): DataFrame = {
          val all = manifests.zip(bases).map { case (m, base) =>
            read(m).withColumn("docId", $"docId" + lit(base))
          }.reduce(_ unionByName _)
          if (deadGlobal.isEmpty) all else all.where(live($"docId"))
        }

        // docs: union + remap (+ tombstone purge), in docBase order;
        // DocValues.readDocs bakes any doc-values update generations into
        // the merged row store (the reference's DV-generation compaction).
        // maxDocId is the largest docId written, so a purged tail leaves no
        // docId range past the last doc.
        val (docCount, maxDocId) = SegmentWriter.writeDocs(
          remapped(m => DocValues.readDocs(spark, m.dir)), s"$outDir/docs")

        // term vectors: the same remap + purge as the row store, carried
        // through iff EVERY input stores them (mixed inputs would leave holes
        // a reader can't distinguish from "no vector" — the reference
        // requires a consistent field config too)
        if (manifests.forall(m =>
            java.nio.file.Files.exists(java.nio.file.Paths.get(m.dir, "tvec"))))
          SegmentWriter.writeDocs(remapped(m => new SegmentReader(spark, m).tvec),
            s"$outDir/tvec")

        // postings: remap columns, re-bucket; the writing tasks purge
        // tombstoned docs and fuse each term's runs of partial blocks. The
        // inputs' postings files are term ranges already: their footers
        // give the bounds.
        val shift = cfg.bucketShift
        val blocks = manifests.zip(bases).map { case (m, base) =>
          SegmentWriter.shifted(new SegmentReader(spark, m).postings.as[PostingBlock].rdd, base, shift)
        }.reduce(_ union _)
        val purgeFields = deadGlobal.nonEmpty && manifests.exists(_.fieldStats.nonEmpty)
        val written = SegmentWriter.writePostings(spark, blocks,
          new SegmentWriter.TermPartitioner(
            SegmentWriter.footerBounds(spark, segDirs, cfg.numPostingPartitions)),
          s"$outDir/postings", fieldDocs = purgeFields) { it =>
          val bs = it.map(_._2)
          compact(if (deadGlobal.isEmpty) bs else purge(bs, deadGlobal, shift), shift)
        }
        // bloom sidecar survives merging only if every input carried one
        // (mixed inputs mean the option was off for part of the corpus —
        // a filter missing real terms would create false negatives)
        SegmentWriter.writeDictionary(spark, outDir, written, cfg.numPostingPartitions / 4,
          segDirs.forall(TermBloom.exists))

        // per-field stats: summing the inputs' is exact without a purge
        // (disjoint docId spaces); after one, they are the written blocks'
        // (the reference's merges write exact stats of the SURVIVING docs
        // — summing inputs would keep purged docs counted, so
        // CombinedFieldQuery/BM25F idf would diverge from a fresh build of
        // the same live set)
        val fieldStats =
          if (purgeFields) written.fieldStats
          else manifests.flatMap(_.fieldStats).groupBy(_.field).map { case (f, ss) =>
            FieldStat(f, ss.map(_.docCount).sum, ss.map(_.sumTotalTermFreq).sum)
          }.toSeq.sortBy(_.field)
        SegmentWriter.commit(outDir, t0, docCount, maxDocId, written, cfg.bucketShift,
          manifests.flatMap(_.lineage), manifests.forall(_.hasPositions),
          manifests.forall(_.hasOffsets), manifests.forall(_.hasPayloads), fieldStats)
    }
  }

  /** Drop tombstoned docIds from blocks: no-overlap blocks pass through as
    * opaque bytes; overlapping blocks decode, filter and re-encode (impacts
    * and positions recomputed); fully-dead blocks vanish.
    */
  private def purge(it: Iterator[PostingBlock], dead: Array[Long], shift: Int): Iterator[PostingBlock] =
    it.flatMap { b =>
      var lo = java.util.Arrays.binarySearch(dead, b.firstDocId)
      if (lo < 0) lo = -lo - 1
      if (lo >= dead.length || dead(lo) > b.lastDocId) Some(b)
      else SegmentWriter.keep(b, shift)(id => java.util.Arrays.binarySearch(dead, id) < 0)
    }

  /** Stream blocks sorted by (term, firstDocId); each run of adjacent
    * partial blocks (numDocs < 128) of one term is decoded, fused and
    * re-cut every 128 docs; full blocks, and a partial block with no
    * partial neighbour, pass through untouched.
    */
  private def compact(blocks: Iterator[PostingBlock], shift: Int): Iterator[PostingBlock] = {
    val it = blocks.buffered
    def fuse(run: Seq[PostingBlock]): Seq[PostingBlock] =
      if (run.size <= 1) run
      else {
        val c = new SegmentWriter.Cutter(shift, run.forall(_.posPacked != null),
          run.forall(_.offsPacked != null), run.forall(_.paysPacked != null))
        c.key(run.head.term)
        run.foreach { b =>
          val (ids, fs, ns, pos, off, pay) = SegmentWriter.decode(b)
          ids.indices.foreach { i =>
            c.add(ids(i), fs(i), ns(i), if (pos == null) null else pos(i),
              if (off == null) null else off(i), if (pay == null) null else pay(i))
          }
        }
        c.flush()
        c.drain().toSeq
      }
    Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
      // one term: fuse each run of partial blocks
      val term = it.head.term
      val out = scala.collection.mutable.ArrayBuffer[PostingBlock]()
      var run = List.empty[PostingBlock]
      while (it.hasNext && it.head.term == term) {
        val b = it.next()
        if (b.numDocs >= BlockCodec.BlockSize) { out ++= fuse(run.reverse); run = Nil; out += b }
        else run ::= b
      }
      out ++= fuse(run.reverse)
      out
    }
  }
}

/** Driver-side tiered merge planning over the segment manifest — the policy
  * shape of the reference
  * (`/root/reference/lucene/core/src/java/org/apache/lucene/index/TieredMergePolicy.java:317-423`),
  * with blockCount as the size currency:
  *
  *  1. budget: compute the allowed segment count by walking size tiers —
  *     `segsPerTier` segments allowed per tier, each tier `maxMergeAtOnce`×
  *     larger than the last, smallest tier floored (ref `:340-375`);
  *  2. if over budget, score candidate windows over the size-sorted list:
  *     `skew × size^0.05` (smaller is better — prefer balanced merges of
  *     small segments, the shape of the reference's `score()` method);
  *  3. segments larger than half `maxMergedBlocks` never merge (ref
  *     `:76-114` maxMergedSegmentBytes/2 rule).
  *
  * Returns at most one merge per call — the driver loop (the re-expression
  * of `ConcurrentMergeScheduler`) replans after each committed merge.
  */
object TieredMergePolicy {
  val SegsPerTier = 8.0
  val MaxMergeAtOnce = 8
  val FloorBlocks = 1024L

  /** Returns groups of segment dirs to merge (may be empty). */
  def findMerges(manifests: Seq[SegmentManifest], maxMergedBlocks: Long = Long.MaxValue): Seq[Seq[String]] = {
    val eligible = manifests.filter(_.blockCount <= maxMergedBlocks / 2)
    if (eligible.size < 2) return Seq.empty
    val bySizeDesc = eligible.sortBy(m => (-m.blockCount, m.dir))
    val totalBlocks = eligible.map(_.blockCount).sum

    // tier-budget walk (ref :340-375)
    var levelSize = math.max(bySizeDesc.last.blockCount, FloorBlocks).toDouble
    var remaining = totalBlocks.toDouble
    var allowed = 0.0
    while (remaining > 0) {
      val segsAtLevel = remaining / levelSize
      if (segsAtLevel < SegsPerTier) {
        allowed += math.ceil(segsAtLevel)
        remaining = 0
      } else {
        allowed += SegsPerTier
        remaining -= SegsPerTier * levelSize
        levelSize *= MaxMergeAtOnce
      }
    }
    if (eligible.size <= allowed) return Seq.empty

    // scored sliding windows over the size-sorted list (ref :380-423)
    var bestScore = Double.MaxValue
    var best: Seq[SegmentManifest] = Seq.empty
    for (start <- bySizeDesc.indices) {
      val cand = scala.collection.mutable.ArrayBuffer[SegmentManifest]()
      var size = 0L
      var i = start
      while (i < bySizeDesc.size && cand.size < MaxMergeAtOnce &&
             size + bySizeDesc(i).blockCount <= maxMergedBlocks) {
        cand += bySizeDesc(i); size += bySizeDesc(i).blockCount; i += 1
      }
      if (cand.size > 1) {
        val skew = cand.head.blockCount.toDouble / math.max(1L, size)
        val score = skew * math.pow(size.toDouble, 0.05)
        if (score < bestScore) { bestScore = score; best = cand.toSeq }
      }
    }
    if (best.isEmpty) Seq.empty else Seq(best.map(_.dir))
  }
}
