package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{BlockCodec, Impacts}
import graft.index.Schema._

/** Hierarchical segment merge (the re-expression of
  * `/root/reference/lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:113-226`
  * + `DocIDMerger.java:32-95`).
  *
  * DocID remap is *column arithmetic only*: each input segment's docIDs shift
  * by a docBase that is **aligned to the bucket span**, so existing posting
  * blocks never straddle a bucket boundary after the shift and their packed
  * payloads stay valid byte-for-byte (within-block deltas are relative to
  * `firstDocId`). The only per-byte work is compacting fragmented tail blocks
  * (several < 128-doc blocks of one (term, bucket)) — full blocks pass
  * through undecoded. At 100 TB this is the difference between shuffling
  * metadata and re-encoding the whole index.
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

        // docs: union + remap (+ tombstone purge) + rewrite sorted by docId;
        // DocValues.readDocs bakes any doc-values update generations into
        // the merged row store (the reference's DV-generation compaction)
        val docsAll = manifests.zip(bases).map { case (m, base) =>
          DocValues.readDocs(spark, m.dir).withColumn("docId", $"docId" + lit(base))
        }.reduce(_ unionByName _)
        val docsLive =
          if (deadGlobal.isEmpty) docsAll
          else docsAll.join(
            spark.createDataset(deadGlobal.toSeq).toDF("docId"),
            Seq("docId"), "left_anti")
        docsLive
          .repartitionByRange(cfg.numDocPartitions, $"docId")
          .sortWithinPartitions($"docId")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs")

        // term vectors: same remap + purge + docId-sorted rewrite as the
        // row store, carried through iff EVERY input stores them (mixed
        // inputs would leave holes a reader can't distinguish from "no
        // vector" — the reference requires a consistent field config too)
        if (manifests.forall(m =>
            java.nio.file.Files.exists(java.nio.file.Paths.get(m.dir, "tvec")))) {
          val tvAll = manifests.zip(bases).map { case (m, base) =>
            spark.read.parquet(s"${m.dir}/tvec")
              .withColumn("docId", $"docId" + lit(base))
          }.reduce(_ unionByName _)
          val tvLive =
            if (deadGlobal.isEmpty) tvAll
            else tvAll.join(
              spark.createDataset(deadGlobal.toSeq).toDF("docId"),
              Seq("docId"), "left_anti")
          tvLive
            .repartitionByRange(cfg.numDocPartitions, $"docId")
            .sortWithinPartitions($"docId")
            .write.mode(SaveMode.Overwrite).parquet(s"$outDir/tvec")
        }

        // postings: remap columns, re-bucket (exact because bases are
        // bucket-aligned), then compact fragmented tails per (term, bucket)
        val shift = cfg.bucketShift
        // the reader's explicit schema reads a column an older layout
        // lacks (posPacked, offsPacked, paysPacked) as null
        val blocks = manifests.zip(bases).map { case (m, base) =>
          new graft.search.SegmentReader(spark, m).postings
            .withColumn("firstDocId", $"firstDocId" + lit(base))
            .withColumn("lastDocId", $"lastDocId" + lit(base))
            .withColumn("bucket", shiftright($"firstDocId", shift))
        }.reduce(_ unionByName _)

        val typed = blocks
          .select($"term", $"bucket", $"firstDocId", $"lastDocId", $"numDocs",
            $"docsPacked", $"freqsPacked", $"normsPacked", $"impacts",
            $"freqSum", $"maxFreq", $"minNorm", $"posPacked", $"offsPacked",
            $"paysPacked")
          .as[PostingBlock]
        val purged =
          if (deadGlobal.isEmpty) typed
          else typed.mapPartitions(purge(_, deadGlobal))
        val merged = purged
          .repartitionByRange(cfg.numPostingPartitions, $"term", $"bucket")
          .sortWithinPartitions($"term", $"bucket", $"firstDocId")
          .as[PostingBlock]
          .mapPartitions(compact(_))

        merged.write.mode(SaveMode.Overwrite).parquet(s"$outDir/postings")

        val mergedBlocks = spark.read.parquet(s"$outDir/postings").as[PostingBlock]
        IndexBuilder.buildTermStats(mergedBlocks)
          .repartitionByRange(math.max(1, cfg.numPostingPartitions / 4), $"term")
          .sortWithinPartitions($"term")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/terms")
        IndexBuilder.writeReversedTerms(spark, outDir, cfg.numPostingPartitions / 4)
        // bloom sidecar survives merging only if every input carried one
        // (mixed inputs mean the option was off for part of the corpus —
        // a filter missing real terms would create false negatives)
        if (segDirs.forall(TermBloom.exists)) TermBloom.write(spark, outDir)

        // stats recomputed from what was actually written — exact again
        // after a purge (the reference's post-merge behavior)
        val mergedDocCount = spark.read.parquet(s"$outDir/docs").count()
        val mergedSttf = {
          val r = mergedBlocks.agg(sum($"freqSum")).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        val manifest = SegmentManifest(
          segmentId = java.util.UUID.nameUUIDFromBytes(outDir.getBytes).toString,
          dir = outDir,
          docCount = mergedDocCount,
          maxDocId = bases.last + manifests.last.maxDocId,
          sumTotalTermFreq = mergedSttf,
          termCount = spark.read.parquet(s"$outDir/terms").count(),
          blockCount = mergedBlocks.count(),
          bucketShift = cfg.bucketShift,
          buildWallSec = (System.nanoTime() - t0) / 1e9,
          lineage = manifests.flatMap(_.lineage),
          hasPositions = manifests.forall(_.hasPositions),
          hasOffsets = manifests.forall(_.hasOffsets),
          hasPayloads = manifests.forall(_.hasPayloads),
          fieldStats = {
            // no purge: summing inputs is exact (disjoint docId spaces)
            val summed = manifests.flatMap(_.fieldStats)
              .groupBy(_.field).map { case (f, ss) =>
                Schema.FieldStat(f, ss.map(_.docCount).sum, ss.map(_.sumTotalTermFreq).sum)
              }.toSeq.sortBy(_.field)
            if (summed.isEmpty || deadGlobal.isEmpty) summed
            else {
              // purge happened: recompute per-field stats from the merged
              // postings (the reference's merges write exact stats of the
              // SURVIVING docs — summing inputs would keep purged docs
              // counted, so CombinedFieldQuery/BM25F idf would diverge
              // from a fresh build of the same live set)
              val sttf = mergedBlocks
                .map(b => (FieldKey.fieldOf(b.term), b.freqSum))
                .toDF("field", "fs")
                .groupBy($"field").agg(sum($"fs").as("sttf"))
              val dc = mergedBlocks
                .flatMap { b =>
                  BlockCodec
                    .deltaDecode(BlockCodec.forDecode(b.docsPacked), b.firstDocId)
                    .toSeq.map(id => (FieldKey.fieldOf(b.term), id))
                }
                .toDF("field", "docId").distinct()
                .groupBy($"field").agg(count(lit(1)).as("dc"))
              sttf.join(dc, "field")
                .select($"field", $"dc".cast("long").as("docCount"),
                  $"sttf".cast("long").as("sumTotalTermFreq"))
                .as[FieldStat].collect().toSeq.sortBy(_.field)
            }
          }
        )
        Manifest.commit(outDir, manifest)
        manifest
    }
  }

  /** Drop tombstoned docIds from blocks: no-overlap blocks pass through as
    * opaque bytes; overlapping blocks decode, filter and re-encode (impacts
    * and positions recomputed); fully-dead blocks vanish.
    */
  private def purge(
      it: Iterator[PostingBlock], dead: Array[Long]
  ): Iterator[PostingBlock] =
    it.flatMap { b =>
      var lo = java.util.Arrays.binarySearch(dead, b.firstDocId)
      if (lo < 0) lo = -lo - 1
      val overlaps = lo < dead.length && dead(lo) <= b.lastDocId
      if (!overlaps) Some(b)
      else {
        val ids = BlockCodec.deltaDecode(BlockCodec.forDecode(b.docsPacked), b.firstDocId)
        val fs = BlockCodec.pforDecode(b.freqsPacked)
        val ns = BlockCodec.forDecode(b.normsPacked)
        val pos =
          if (b.posPacked != null) graft.codec.Positions.decode(b.posPacked, fs, b.numDocs)
          else null
        val off = // offsets decode with 2*freq values per doc
          if (b.offsPacked != null)
            graft.codec.Positions.decode(b.offsPacked, fs.map(_ * 2), b.numDocs)
          else null
        val pay = // payloads: raw codec, freq values per doc
          if (b.paysPacked != null)
            graft.codec.Positions.decodeRaw(b.paysPacked, fs, b.numDocs)
          else null
        val keep = ids.indices.filter(i =>
          java.util.Arrays.binarySearch(dead, ids(i)) < 0)
        if (keep.isEmpty) None
        else if (keep.size == b.numDocs) Some(b)
        else {
          val ki = keep.map(ids).toArray
          val kf = keep.map(fs).toArray
          val kn = keep.map(ns).toArray
          Some(PostingBlock(
            term = b.term,
            bucket = b.bucket,
            firstDocId = ki.head,
            lastDocId = ki.last,
            numDocs = ki.length,
            docsPacked = BlockCodec.forEncode(BlockCodec.deltaEncode(ki, ki.head)),
            freqsPacked = BlockCodec.pforEncode(kf),
            normsPacked = BlockCodec.forEncode(kn),
            impacts = Impacts.encode(
              Impacts.skylineInts(kf, kn.map(_.toInt), ki.length)),
            freqSum = kf.sum,
            maxFreq = kf.max.toInt,
            minNorm = kn.min.toInt,
            posPacked =
              if (pos != null)
                graft.codec.Positions.encode(keep.map(pos).toArray, ki.length)
              else null,
            offsPacked =
              if (off != null)
                graft.codec.Positions.encode(keep.map(off).toArray, ki.length)
              else null,
            paysPacked =
              if (pay != null)
                graft.codec.Positions.encodeRaw(keep.map(pay).toArray, ki.length)
              else null))
        }
      }
    }

  /** Stream blocks sorted by (term, bucket, firstDocId); adjacent partial
    * blocks (numDocs < 128) of the same (term, bucket) are decoded, fused and
    * re-encoded; full blocks pass through untouched.
    */
  private def compact(it: Iterator[PostingBlock]): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private val B = BlockCodec.BlockSize
      private var pending: PostingBlock = null
      private var out: PostingBlock = null
      private val buf = scala.collection.mutable.ArrayBuffer[PostingBlock]()

      private def fuse(parts: Seq[PostingBlock]): Iterator[PostingBlock] = {
        if (parts.size == 1) return parts.iterator
        val ids = scala.collection.mutable.ArrayBuffer[Long]()
        val fs = scala.collection.mutable.ArrayBuffer[Long]()
        val ns = scala.collection.mutable.ArrayBuffer[Long]()
        val hasPos = parts.forall(_.posPacked != null)
        val hasOff = parts.forall(_.offsPacked != null)
        val hasPay = parts.forall(_.paysPacked != null)
        val pos = scala.collection.mutable.ArrayBuffer[Array[Int]]()
        val off = scala.collection.mutable.ArrayBuffer[Array[Int]]()
        val pay = scala.collection.mutable.ArrayBuffer[Array[Int]]()
        parts.foreach { p =>
          val pFreqs = BlockCodec.pforDecode(p.freqsPacked)
          ids ++= BlockCodec.deltaDecode(BlockCodec.forDecode(p.docsPacked), p.firstDocId)
          fs ++= pFreqs
          ns ++= BlockCodec.forDecode(p.normsPacked)
          if (hasPos)
            pos ++= graft.codec.Positions.decode(p.posPacked, pFreqs, p.numDocs)
          if (hasOff)
            off ++= graft.codec.Positions.decode(p.offsPacked, pFreqs.map(_ * 2), p.numDocs)
          if (hasPay)
            pay ++= graft.codec.Positions.decodeRaw(p.paysPacked, pFreqs, p.numDocs)
        }
        val posArr = pos.toArray
        val offArr = off.toArray
        val payArr = pay.toArray
        var off2 = 0
        ids.toArray.grouped(B).zip(fs.toArray.grouped(B).zip(ns.toArray.grouped(B))).map {
          case (gi, (gf, gn)) =>
            val pairs = gi.indices.map(i => (gf(i).toInt, gn(i).toInt))
            val gPos = if (hasPos) posArr.slice(off2, off2 + gi.length) else null
            val gOff = if (hasOff) offArr.slice(off2, off2 + gi.length) else null
            val gPay = if (hasPay) payArr.slice(off2, off2 + gi.length) else null
            off2 += gi.length
            PostingBlock(
              term = parts.head.term,
              bucket = parts.head.bucket,
              firstDocId = gi.head,
              lastDocId = gi.last,
              numDocs = gi.length,
              docsPacked = BlockCodec.forEncode(BlockCodec.deltaEncode(gi, gi.head)),
              freqsPacked = BlockCodec.pforEncode(gf),
              normsPacked = BlockCodec.forEncode(gn),
              impacts = Impacts.encode(Impacts.skyline(pairs)),
              freqSum = gf.sum,
              maxFreq = gf.max.toInt,
              minNorm = gn.min.toInt,
              posPacked =
                if (hasPos) graft.codec.Positions.encode(gPos, gi.length) else null,
              offsPacked =
                if (hasOff) graft.codec.Positions.encode(gOff, gi.length) else null,
              paysPacked =
                if (hasPay) graft.codec.Positions.encodeRaw(gPay, gi.length) else null
            )
        }
      }

      private def drainBuf(): Iterator[PostingBlock] = {
        if (buf.isEmpty) Iterator.empty
        else {
          // fuse runs of partial blocks, pass through full ones
          val result = scala.collection.mutable.ArrayBuffer[PostingBlock]()
          val run = scala.collection.mutable.ArrayBuffer[PostingBlock]()
          buf.foreach { b =>
            if (b.numDocs >= B) {
              if (run.nonEmpty) { result ++= fuse(run.toSeq); run.clear() }
              result += b
            } else run += b
          }
          if (run.nonEmpty) result ++= fuse(run.toSeq)
          buf.clear()
          result.iterator
        }
      }

      private var drained: Iterator[PostingBlock] = Iterator.empty

      override def hasNext: Boolean = {
        while (!drained.hasNext && (pending != null || it.hasNext)) {
          val b = if (pending != null) { val p = pending; pending = null; p } else it.next()
          if (buf.nonEmpty &&
              (buf.head.term != b.term || buf.head.bucket != b.bucket)) {
            pending = b
            drained = drainBuf()
          } else buf += b
        }
        if (!drained.hasNext && buf.nonEmpty) drained = drainBuf()
        drained.hasNext
      }

      override def next(): PostingBlock = {
        if (!hasNext) throw new NoSuchElementException
        drained.next()
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
