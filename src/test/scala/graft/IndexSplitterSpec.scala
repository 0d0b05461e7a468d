package graft

import graft.corpus.Corpus
import org.apache.spark.sql.DataFrame

import graft.index.{Deletes, IndexBuilder, IndexConfig, IndexSplitter, LiveSet, Manifest, SegmentWriter}
import graft.index.Schema.PostingBlock
import graft.search.{IndexSearcher, Query}

/** Segment splitting (ref misc/index/MultiPassIndexSplitter): bucket-aligned
  * cuts move the posting blocks inside a part as opaque bytes and cut a
  * block that straddles a cut at the cut, tombstones carry into their part,
  * the parts opened together are rank-identical to the unsplit segment, and
  * each part is independently openable.
  */
class IndexSplitterSpec extends SparkTestBase {

  private val cfg = IndexConfig(bucketShift = 8, numPostingPartitions = 4,
    numDocPartitions = 2, storePositions = true)

  /** Complete (url, 6-dp score) ranking over an index root. */
  private def ranking(dir: String, q: Query): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val se = IndexSearcher.open(spark, dir)
    se.topK(q, 100000).toDF()
      .join(se.docsTable.select(col("docId"), col("url")), "docId")
      .select(col("url"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(identity).toSeq
  }

  /** (term, numDocs, payload-bytes) multiset — the opaque-bytes probe. */
  private def blockBytes(postings: Seq[DataFrame]): Seq[String] = {
    import org.apache.spark.sql.functions._
    postings.reduce(_ unionByName _)
      .select(concat_ws("|", col("term"), col("numDocs"),
        md5(col("docsPacked")), md5(col("freqsPacked")),
        md5(col("normsPacked"))).as("sig"))
      .collect().map(_.getString(0)).sorted.toSeq
  }

  test("bucket-aligned split: opaque blocks, carried tombstones, rank identity") {
    import spark.implicits._
    val root1 = tmpDir("split-src")
    val root2 = tmpDir("split-dst")
    val pages = Corpus.pages(spark, 1200).map(p => (p.url, p.text))
    IndexBuilder.buildSegment(pages, s"$root1/seg0", cfg)
    LiveSet.add(root1, Seq("seg0"))
    val victims = Seq(17L, 801L).map(Corpus.page(_).url)
    assert(Deletes.deleteByUrls(spark, s"$root1/seg0", victims) == 2)

    val parts = (0 until 3).map(i => s"$root2/part$i")
    val ms = IndexSplitter.split(spark, s"$root1/seg0", parts, cfg)
    LiveSet.add(root2, parts.map(p => new java.io.File(p).getName))

    // parts partition the doc space exactly
    assert(ms.map(_.docCount).sum == 1200)
    assert(ms.forall(_.docCount > 0))
    val orig = Manifest.read(s"$root1/seg0").get
    assert(ms.map(_.sumTotalTermFreq).sum == orig.sumTotalTermFreq)

    // the parts hold the source's blocks clipped to their doc ranges: a
    // block inside a part moves as opaque bytes (rebase only shifts
    // firstDocId/lastDocId/bucket), one straddling a cut is cut there
    val span = 1L << cfg.bucketShift
    val nBuckets = orig.maxDocId / span + 1
    val cuts = (0 to 3).map(i => (i * nBuckets / 3) * span)
    val src = spark.read.parquet(s"$root1/seg0/postings").as[PostingBlock].collect()
    val clipped = for (b <- src.toSeq; i <- 0 until 3;
      c <- SegmentWriter.clip(b, cuts(i), cuts(i + 1), cfg.bucketShift)) yield c
    assert(clipped.size > src.length, "no block straddles a cut: the clip check is vacuous")
    assert(ms.map(_.blockCount).sum == clipped.size)
    assert(blockBytes(parts.map(p => spark.read.parquet(s"$p/postings"))) ==
      blockBytes(Seq(spark.createDataset(clipped).toDF())))

    // opened together: rank-identical to the unsplit index (global
    // collection stats across segments), tombstones honored on both sides
    for (q <- Seq(Query.parse("court"), Query.parse("court AND law"),
        Query.parse("court OR law OR state"))) {
      val r1 = ranking(root1, q)
      val r2 = ranking(root2, q)
      assert(r1 == r2, s"rank divergence for $q")
    }
    val se2 = IndexSearcher.open(spark, root2)
    assert(se2.stats.docCount == 1200)

    // tombstoned docs are dead in the split index too
    val deadUrlHits = ranking(root2, Query.parse("court"))
      .map(_._1).toSet.intersect(victims.toSet)
    assert(deadUrlHits.isEmpty)

    // each part is independently openable and searchable
    ms.foreach { pm =>
      val se = new IndexSearcher(spark, Seq(pm))
      assert(se.count(Query.parse("the")) >= 0)
      assert(se.topK(Query.parse("court"), 5).collect().length > 0)
    }

    // resume-safe: a second split returns the committed manifests
    val ms2 = IndexSplitter.split(spark, s"$root1/seg0", parts, cfg)
    assert(ms2.map(_.segmentId) == ms.map(_.segmentId))
  }
}
