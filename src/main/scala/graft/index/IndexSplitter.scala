package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.index.Schema.PostingBlock

/** Segment splitting by docID range — the re-expression of the reference's
  * `misc/index/MultiPassIndexSplitter.java:36-60` (split an index into N
  * parts by partitioning the docID space, each part a self-contained index)
  * without its N full passes: the inverse of [[SegmentMerger]]'s
  * bucket-aligned docBase trick.
  *
  * Cut points are **bucket-aligned** (multiples of `1 << bucketShift`), and
  * rebasing a part to docID 0 subtracts that constant — the within-block
  * deltas are relative to the block's own `firstDocId`, so the packed
  * payloads (docs, freqs, norms, positions, offsets, payloads, impacts) of
  * a block inside the part move as **opaque bytes**. A term's 128-doc
  * blocks run across buckets, so at most one block per term straddles a
  * cut: it is decoded and re-encoded as two, one per side
  * ([[SegmentWriter.clip]]), and a part holds exactly its doc range. The
  * rest of the per-part work is three column-arithmetic scans (docs, term
  * vectors, blocks), one exchange of the part's blocks to the source's
  * term ranges, and the dictionary written from the stats the writing
  * tasks report.
  *
  * Tombstones are carried (filtered + rebased) into each part, and
  * doc-values patch generations are baked into the part's row store via
  * [[DocValues.readDocs]] (the same DV compaction a merge performs).
  * Opened TOGETHER the parts score rank-identically to the unsplit segment
  * — collection stats are global across segments — and each part is also an
  * independently openable index (the reference's use case: parallel
  * processing / distribution of one oversized segment).
  */
object IndexSplitter {

  /** Split `segDir` into `outDirs.size` parts of ~equal bucket span.
    * Resume-safe per part: a part with a committed manifest is skipped.
    */
  def split(
      spark: SparkSession,
      segDir: String,
      outDirs: Seq[String],
      cfg: IndexConfig = IndexConfig()
  ): Seq[SegmentManifest] = {
    import spark.implicits._
    val m = Manifest.read(segDir).getOrElse(sys.error(s"no manifest at $segDir"))
    require(m.bucketShift == cfg.bucketShift,
      "bucketShift mismatch between segment and split config")
    val n = outDirs.size
    require(n >= 2, "split needs at least 2 output parts")
    val span = 1L << cfg.bucketShift
    val nBuckets = m.maxDocId / span + 1
    require(nBuckets >= n,
      s"segment has $nBuckets bucket(s), cannot split into $n parts")
    // balanced bucket distribution: part i gets buckets
    // [i*nBuckets/n, (i+1)*nBuckets/n) — sizes differ by at most one
    // bucket and no part is empty (nBuckets >= n is required above)
    val cuts = (0 to n).map(i => (i * nBuckets / n) * span)
    val dead = Deletes.readSorted(spark, segDir)

    val bounds = SegmentWriter.footerBounds(spark, Seq(segDir), cfg.numPostingPartitions)
    val source = new graft.search.SegmentReader(spark, m)

    outDirs.zipWithIndex.map { case (out, i) =>
      Manifest.read(out).getOrElse {
        val t0 = System.nanoTime()
        val lo = cuts(i)
        val hi = cuts(i + 1)
        def part(df: DataFrame): DataFrame =
          df.where($"docId" >= lo && $"docId" < hi).withColumn("docId", $"docId" - lit(lo))

        // row store: DV patch generations baked in (merge-style compaction)
        val (docCount, maxDocId) =
          SegmentWriter.writeDocs(part(DocValues.readDocs(spark, segDir)), s"$out/docs")
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(segDir, "tvec")))
          SegmentWriter.writeDocs(part(source.tvec), s"$out/tvec")

        // blocks: range filter, a block straddling a cut clipped to the
        // part, rebase — other packed payloads untouched; the per-field
        // stats (multi-field segments) are the part's blocks'
        val shift = cfg.bucketShift
        val blocks = SegmentWriter.shifted(
          source.postings.where($"lastDocId" >= lo && $"firstDocId" < hi).as[PostingBlock].rdd
            .flatMap(SegmentWriter.clip(_, lo, hi, shift)), -lo, shift)
        val written = SegmentWriter.writePostings(spark, blocks,
          new SegmentWriter.TermPartitioner(bounds), s"$out/postings",
          fieldDocs = m.fieldStats.nonEmpty)(_.map(_._2))
        // parts of a bloom-enabled segment keep the option on (each part's
        // filter rebuilds from its OWN term set — a copy of the source's
        // would be correct but oversized)
        SegmentWriter.writeDictionary(spark, out, written, cfg.numPostingPartitions / 4,
          TermBloom.exists(segDir))

        // carry the part's tombstones, rebased
        val partDead = dead.filter(d => d >= lo && d < hi).map(d => d - lo)
        if (partDead.nonEmpty)
          Deletes.add(spark, out,
            spark.createDataset(partDead.toSeq.map(java.lang.Long.valueOf)))

        SegmentWriter.commit(out, t0, docCount, maxDocId, written, cfg.bucketShift,
          m.lineage, m.hasPositions, m.hasOffsets, m.hasPayloads, written.fieldStats)
      }
    }
  }
}
