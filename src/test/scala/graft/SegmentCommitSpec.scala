package graft

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.codec.{BlockCodec, Positions}
import graft.corpus.Corpus
import graft.index._
import graft.index.Schema.{DocTokens, PostingBlock}

/** The one-pass segment commit: doc tasks invert their own docs into
  * per-term fragments, one exchange brings a term's fragments to one
  * postings writer, which cuts the term's postings every 128 docs, and
  * every manifest count comes from the tasks that wrote the rows. Duels the
  * written postings against an in-spec inversion of the analyzer's output,
  * checks that merges and splits keep every posting, that a segment of the
  * older per-(term, bucket) blocks still loads, searches and merges, pins
  * the Spark jobs of a build and a merge, and checks that refused configs
  * and resumes fail before any job.
  */
class SegmentCommitSpec extends SparkTestBase {

  /** One decoded block: (term, bucket, docIds, freqs, norms, positions,
    * offsets, payloads), arrays as Seqs so blocks compare by value.
    */
  private type Blk = (String, Long, Seq[Long], Seq[Long], Seq[Long],
    Seq[Seq[Int]], Seq[Seq[Int]], Seq[Seq[Int]])

  /** One posting: (term, docId, freq, norm, positions, offsets, payloads). */
  private type Posting = (String, Long, Long, Long, Seq[Int], Seq[Int], Seq[Int])

  private def decoded(dir: String): Set[Blk] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/postings").as[PostingBlock].collect().map { b =>
      val fs = BlockCodec.pforDecode(b.freqsPacked)
      def per(xs: Array[Array[Int]]): Seq[Seq[Int]] =
        if (xs == null) null else xs.toSeq.map(_.toSeq)
      (b.term, b.bucket,
        BlockCodec.deltaDecode(BlockCodec.forDecode(b.docsPacked), b.firstDocId).toSeq,
        fs.toSeq, BlockCodec.forDecode(b.normsPacked).toSeq,
        per(Option(b.posPacked).map(Positions.decode(_, fs, b.numDocs)).orNull),
        per(Option(b.offsPacked).map(Positions.decode(_, fs.map(_ * 2), b.numDocs)).orNull),
        per(Option(b.paysPacked).map(Positions.decodeRaw(_, fs, b.numDocs)).orNull))
    }.toSet
  }

  /** Every posting of the segment at `dir`, its docId given as its url. */
  private def postingsByUrl(dir: String): Set[(String, String, Long, Long, Seq[Int], Seq[Int], Seq[Int])] = {
    import spark.implicits._
    val url = spark.read.parquet(s"$dir/docs").select($"docId", $"url").as[(Long, String)]
      .collect().toMap
    decoded(dir).flatMap { case (t, _, ids, fs, ns, pos, offs, pays) =>
      def at(xs: Seq[Seq[Int]], i: Int): Seq[Int] = if (xs == null) null else xs(i)
      ids.indices.map(i => (t, url(ids(i)), fs(i), ns(i), at(pos, i), at(offs, i), at(pays, i)))
    }
  }

  /** Every (term, doc) posting of `docs`. */
  private def postings(docs: Seq[DocTokens], cfg: IndexConfig): Seq[Posting] = {
    def opt(xs: Array[Array[Int]], i: Int, on: Boolean): Seq[Int] = if (xs == null || !on) null else xs(i).toSeq
    docs.flatMap { d =>
      d.terms.indices.map { i =>
        (d.terms(i), d.docId, d.freqs(i).toLong,
          (if (d.termNorms != null) d.termNorms(i) else d.norm).toLong,
          opt(d.positions, i, cfg.storePositions), opt(d.offsets, i, cfg.storeOffsets),
          opt(d.payloads, i, cfg.storePayloads))
      }
    }
  }

  /** `ps` cut into blocks: each term's postings in docId order, cut every
    * 128 docs — or, with `perBucket`, the older layout: cut at every
    * (term, bucket) too.
    */
  private def cuts(ps: Seq[Posting], cfg: IndexConfig, perBucket: Boolean): Seq[Seq[Posting]] =
    ps.groupBy(p => (p._1, if (perBucket) p._2 >>> cfg.bucketShift else 0L)).values.toSeq
      .flatMap(_.sortBy(_._2).grouped(BlockCodec.BlockSize))

  /** The blocks a segment of `docs` must hold: every (term, doc) posting,
    * per term in docId order, cut every 128 docs, each block tagged with
    * its first doc's bucket.
    */
  private def inverted(docs: Seq[DocTokens], cfg: IndexConfig): Set[Blk] =
    cuts(postings(docs, cfg), cfg, perBucket = false).map { g =>
      def col(f: Posting => Seq[Int], on: Boolean): Seq[Seq[Int]] = if (on) g.map(f) else null
      (g.head._1, g.head._2 >>> cfg.bucketShift, g.map(_._2), g.map(_._3), g.map(_._4),
        col(_._5, cfg.storePositions), col(_._6, cfg.storeOffsets), col(_._7, cfg.storePayloads))
    }.toSet

  private def pages(n: Int): Dataset[(String, String)] = SegmentCommitSpec.pages(spark, n)

  private def payloadPages(n: Int, messy: Boolean): Dataset[(String, String)] =
    SegmentCommitSpec.payloadPages(spark, n, messy)

  /** `all` split in two by url hash, as the build benchmark splits it. */
  private def halves(all: Dataset[(String, String)]): Seq[Dataset[(String, String)]] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    import spark.implicits._
    Seq(0, 1).map(r => all.where(pmod(xxhash64($"_1"), lit(2)) === r).as[(String, String)])
  }

  private def fieldPages(n: Int): Dataset[(String, Seq[(String, String)])] =
    SegmentCommitSpec.fieldPages(spark, n)

  private def assertSound(dir: String): CheckIndex.Report = {
    val r = CheckIndex.check(spark, dir)
    assert(r.ok, s"$dir: ${r.violations}")
    val m = Manifest.read(dir).get
    assert((r.docCount, r.blockCount, r.termCount) == (m.docCount, m.blockCount, m.termCount))
    r
  }

  private val small = SegmentCommitSpec.small

  SegmentCommitSpec.configs.foreach { case (name, cfg) =>
    test(s"inverter duel: $name postings == an inversion of the analyzer's output") {
      val dir = s"${tmpDir("commit-duel")}/seg"
      val n = if (cfg.bucketShift == 9) 700 else 300
      val docs =
        if (cfg.multiField) {
          IndexBuilder.buildSegmentFields(fieldPages(n), dir, cfg)
          IndexBuilder.assignAndTokenizeFields(fieldPages(n), cfg).collect().toSeq
        } else {
          val corpus = if (cfg.storePayloads) payloadPages(n, messy = true) else pages(n)
          IndexBuilder.buildSegment(corpus, dir, cfg)
          IndexBuilder.assignAndTokenize(corpus, cfg).collect().toSeq
        }
      val want = inverted(docs, cfg)
      if (cfg.storePayloads) { // a whitespace run is one break, as a single space is
        val spaced = IndexBuilder.assignAndTokenize(payloadPages(n, messy = false), cfg)
        assert(inverted(spaced.collect().toSeq, cfg) == want)
      }
      if (cfg.bucketShift == 9) assert(want.exists(_._3.size == BlockCodec.BlockSize))
      // blocks run across buckets: the per-bucket cut would differ
      assert(want.exists(b => (b._3.last >>> cfg.bucketShift) != b._2))
      val got = decoded(dir)
      assert(got.size == want.size)
      assert(got == want)
      assertSound(dir)
    }
  }

  test("CheckIndex is sound on a merge that purges tombstones and on split parts") {
    import spark.implicits._
    val cfg = small.copy(storePositions = true, bucketShift = 5)
    val root = tmpDir("commit-merge")
    val Seq(ha, hb) = halves(pages(400))
    val a = IndexBuilder.buildSegment(ha, s"$root/a", cfg)
    val b = IndexBuilder.buildSegment(hb, s"$root/b", cfg)
    Deletes.add(spark, a.dir, Seq(3L, 4L, 40L, 41L, 42L).map(java.lang.Long.valueOf).toDS())
    Deletes.add(spark, b.dir, Seq(0L, 77L).map(java.lang.Long.valueOf).toDS())
    val m = SegmentMerger.merge(spark, Seq(a.dir, b.dir), s"$root/merged", cfg)
    assert(m.docCount == a.docCount + b.docCount - 7)
    assertSound(m.dir)
    val parts = IndexSplitter.split(spark, m.dir, Seq(s"$root/p0", s"$root/p1", s"$root/p2"), cfg)
    assert(parts.map(_.docCount).sum == m.docCount)
    // a block straddling a cut becomes one block on each side
    assert(parts.map(_.blockCount).sum > m.blockCount)
    parts.foreach(p => assertSound(p.dir))
  }

  test("a merge decodes to the same postings as a single build of the same docs") {
    val cfg = small.copy(storePositions = true, bucketShift = 5)
    val root = tmpDir("commit-same")
    val all = pages(400)
    val Seq(ha, hb) = halves(all)
    val a = IndexBuilder.buildSegment(ha, s"$root/a", cfg)
    val b = IndexBuilder.buildSegment(hb, s"$root/b", cfg)
    val full = IndexBuilder.buildSegment(all, s"$root/full", cfg)
    val m = SegmentMerger.merge(spark, Seq(a.dir, b.dir), s"$root/merged", cfg)
    assertSound(m.dir)
    // an input's last partial block of a term meets the next input's first
    assert(m.blockCount < a.blockCount + b.blockCount)
    val want = postingsByUrl(full.dir)
    assert(want.nonEmpty)
    assert(postingsByUrl(m.dir) == want)
    assert((m.termCount, m.sumTotalTermFreq) == (full.termCount, full.sumTotalTermFreq))
  }

  test("split parts decode to the source's postings, straddling blocks cut") {
    val cfg = small.copy(storePositions = true, storeOffsets = true, bucketShift = 5)
    val root = tmpDir("commit-split")
    val src = IndexBuilder.buildSegment(pages(400), s"$root/src", cfg)
    val outs = Seq(s"$root/p0", s"$root/p1", s"$root/p2")
    val parts = IndexSplitter.split(spark, src.dir, outs, cfg)
    parts.foreach(p => assertSound(p.dir))
    val straddled = parts.map(_.blockCount).sum - src.blockCount
    assert(straddled > 0, "no block straddles a cut: the clip check is vacuous")
    assert(parts.map(_.sumTotalTermFreq).sum == src.sumTotalTermFreq)
    assert(outs.flatMap(postingsByUrl).toSet == postingsByUrl(src.dir))
    assert(outs.map(postingsByUrl(_).size).sum == postingsByUrl(src.dir).size)
  }

  test("a segment of per-(term, bucket) blocks still loads, searches and merges") {
    import spark.implicits._
    import graft.search.{IndexSearcher, PhraseQuery, Query}
    val cfg = small.copy(storePositions = true, bucketShift = 5)
    val root = tmpDir("commit-legacy")
    val corpus = pages(400)
    val fresh = IndexBuilder.buildSegment(corpus, s"$root/new", cfg)
    // the same docs, their postings rewritten in the older layout
    val legacy = IndexBuilder.buildSegment(corpus, s"$root/old", cfg)
    val docs = IndexBuilder.assignAndTokenize(corpus, cfg).collect().toSeq
    val blocks = cuts(postings(docs, cfg), cfg, perBucket = true).map { g =>
      def col(f: Posting => Seq[Int]): Array[Array[Int]] = g.map(p => f(p).toArray).toArray
      SegmentWriter.encodeBlock(g.head._1, cfg.bucketShift, g.map(_._2).toArray,
        g.map(_._3).toArray, g.map(_._4).toArray, g.size, col(_._5), null, null)
    }.sortBy(b => (b.term, b.firstDocId))
    assert(blocks.size > 2 * fresh.blockCount, "the per-bucket layout is not finer")
    spark.createDataset(blocks).write.mode("overwrite").parquet(s"${legacy.dir}/postings")
    Manifest.commit(legacy.dir, legacy.copy(blockCount = blocks.size.toLong))
    val old = Manifest.read(legacy.dir).get
    assertSound(old.dir)
    assert(postingsByUrl(old.dir) == postingsByUrl(fresh.dir))

    val queries: Seq[Query] = Seq(Query.parse("court"), Query.parse("court AND law"),
      Query.parse("(court OR law) AND state"), Query.parse("the OR of"), PhraseQuery(Seq("of", "the")))
    def answers(m: SegmentManifest): Seq[Seq[(Long, Double)]] = {
      val se = new IndexSearcher(spark, Seq(m))
      try queries.map(q => se.topK(q, 10).collect().toSeq.map(h => (h.docId, h.score)))
      finally se.release()
    }
    val want = answers(fresh)
    assert(want.forall(_.nonEmpty))
    assert(answers(old) == want)

    // merged with a new-layout segment of other docs, it equals the merge
    // of two new-layout segments
    val other = IndexBuilder.buildSegment(pages(460).except(corpus).as[(String, String)],
      s"$root/other", cfg)
    val mOld = SegmentMerger.merge(spark, Seq(old.dir, other.dir), s"$root/m-old", cfg)
    val mNew = SegmentMerger.merge(spark, Seq(fresh.dir, other.dir), s"$root/m-new", cfg)
    assertSound(mOld.dir)
    assert(postingsByUrl(mOld.dir) == postingsByUrl(mNew.dir))
    assert(answers(mOld) == answers(mNew))
  }

  test("a build and a two-input merge each run at most 12 Spark jobs") {
    // the benchmark's config shape: positions on, 2 x 4 partitions
    val cfg = IndexConfig(bucketShift = 9, numPostingPartitions = 8, numDocPartitions = 8,
      storePositions = true)
    val root = tmpDir("commit-jobs")
    val all = pages(1500).cache()
    all.count()
    val Seq(ha, hb) = halves(all)
    val a = IndexBuilder.buildSegment(ha, s"$root/a", cfg)
    val b = IndexBuilder.buildSegment(hb, s"$root/b", cfg)
    val (full, buildLog) = countJobs(IndexBuilder.buildSegment(all, s"$root/full", cfg))
    assert(buildLog.jobs <= 12, s"build ran ${buildLog.jobs} jobs: ${buildLog.executions}")
    val (merged, mergeLog) = countJobs(SegmentMerger.merge(spark, Seq(a.dir, b.dir), s"$root/m", cfg))
    assert(mergeLog.jobs <= 12, s"merge ran ${mergeLog.jobs} jobs: ${mergeLog.executions}")
    info(s"build: ${buildLog.jobs} jobs, merge: ${mergeLog.jobs} jobs")
    Seq(a, b, full, merged).foreach(m => assertSound(m.dir))
    assert(merged.docCount == full.docCount && merged.sumTotalTermFreq == full.sumTotalTermFreq)
    assert(merged.termCount == full.termCount)
    all.unpersist()
  }

  test("refused configs fail before any Spark job") {
    val base = IndexConfig(bucketShift = 4, numPostingPartitions = 2, numDocPartitions = 2)
    val refusedFields = Seq(
      base.copy(storeOffsets = true) -> "store",
      base.copy(storePayloads = true) -> "store",
      base.copy(storePositions = true, storeOffsets = true, storePayloads = true) -> "store",
      base.copy(storePositions = true, storeOffsets = true) -> "store",
      base.copy(storePositions = true, storePayloads = true) -> "store",
      // the sort expression is SQL over (url, text): a multi-field row has no text
      base.copy(indexSortExpr = "length(url)") -> "indexSortExpr")
    refusedFields.foreach { case (cfg, what) =>
      val (err, log) = countJobs(intercept[IllegalArgumentException](
        IndexBuilder.buildSegmentFields(fieldPages(20), s"${tmpDir("refuse")}/seg", cfg)))
      assert(log.jobs == 0, s"$cfg ran ${log.jobs} jobs")
      assert(err.getMessage.contains(what), err.getMessage)
    }
    Seq(
      base.copy(storeOffsets = true) -> "storeOffsets requires storePositions",
      base.copy(storePayloads = true) -> "storePayloads requires storePositions",
      base.copy(storePositions = true, storeOffsets = true, storePayloads = true) ->
        "storePayloads is mutually exclusive with storeOffsets",
      // the payload chain injects no synonym: the pair would drop them silently
      base.copy(storePositions = true, storePayloads = true,
        synonyms = Seq((List("court"), "tribunal"))) ->
        "storePayloads is mutually exclusive with index-time synonyms"
    ).foreach { case (cfg, msg) =>
      val (err, log) = countJobs(intercept[IllegalArgumentException](
        IndexBuilder.buildSegment(pages(20), s"${tmpDir("refuse")}/seg", cfg)))
      assert(log.jobs == 0)
      assert(err.getMessage == s"requirement failed: $msg")
    }
  }

  test("a resumed build refuses a segment built under another layout") {
    val cfg = IndexConfig(bucketShift = 4, numPostingPartitions = 2, numDocPartitions = 2,
      storePositions = true)
    val dir = s"${tmpDir("resume")}/seg"
    val m = IndexBuilder.buildSegment(pages(40), dir, cfg)
    val (same, sameLog) = countJobs(IndexBuilder.buildSegment(pages(40), dir,
      cfg.copy(numPostingPartitions = 3)))
    assert(same == m && sameLog.jobs == 0)
    Seq(
      cfg.copy(bucketShift = 5) -> "bucketShift",
      cfg.copy(storePositions = false) -> "storePositions",
      cfg.copy(storeOffsets = true) -> "storeOffsets",
      cfg.copy(storePayloads = true) -> "storePayloads"
    ).foreach { case (other, what) =>
      val (err, log) = countJobs(intercept[IllegalArgumentException](
        IndexBuilder.buildSegment(pages(40), dir, other)))
      assert(log.jobs == 0, s"$what: ${log.jobs} jobs")
      assert(err.getMessage.contains(s"built with $what"), err.getMessage)
    }
    val (err, log) = countJobs(intercept[IllegalArgumentException](
      IndexBuilder.buildSegmentFields(fieldPages(40), dir, cfg)))
    assert(log.jobs == 0 && err.getMessage.contains("built with multiField"), err.getMessage)

    val fdir = s"${tmpDir("resume-fields")}/seg"
    val fm = IndexBuilder.buildSegmentFields(fieldPages(40), fdir, cfg)
    assert(IndexBuilder.buildSegmentFields(fieldPages(40), fdir, cfg) == fm)
    val ferr = intercept[IllegalArgumentException](IndexBuilder.buildSegment(pages(40), fdir, cfg))
    assert(ferr.getMessage.contains("built with multiField"), ferr.getMessage)
  }

  test("CheckIndex flags a wrong bucket, overlapping blocks and a wrong maxDocId") {
    import spark.implicits._
    val cfg = IndexConfig(bucketShift = 4, numPostingPartitions = 3, numDocPartitions = 3)
    def fresh(): (String, SegmentManifest) = {
      val dir = s"${tmpDir("check-broken")}/seg"
      (dir, IndexBuilder.buildSegment(pages(120), dir, cfg))
    }
    def violations(dir: String): String = CheckIndex.check(spark, dir).violations.mkString("; ")

    val (d1, m1) = fresh()
    Manifest.commit(d1, m1.copy(maxDocId = m1.maxDocId + 1))
    assert(violations(d1).contains("!= manifest maxDocId"))

    // one block tagged with the bucket after its first doc's
    val (d2, _) = fresh()
    val blocks = spark.read.parquet(s"$d2/postings").as[PostingBlock].collect()
    val i = blocks.indexWhere(_.numDocs > 1)
    blocks(i) = blocks(i).copy(bucket = blocks(i).bucket + 1)
    spark.createDataset(blocks.toSeq).write.mode("overwrite").parquet(s"$d2/postings")
    val v2 = violations(d2)
    assert(v2.contains("bucket is not its first doc's"), v2)
    assert(!v2.contains("overlap"), v2)

    // every block of one postings file twice
    val (d3, _) = fresh()
    val file = new java.io.File(s"$d3/postings").listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(file.toPath, new java.io.File(file.getParent, "copy-" + file.getName).toPath)
    assert(violations(d3).contains("overlap the block before them"))

    // one block's docs dealt into two blocks whose doc ranges interleave:
    // no posting repeats, but the second starts before the first ends
    val (d4, _) = fresh()
    val bs = spark.read.parquet(s"$d4/postings").as[PostingBlock].collect()
    val x = bs.find(_.numDocs >= 3).get
    val ids = BlockCodec.deltaDecode(BlockCodec.forDecode(x.docsPacked), x.firstDocId)
    val (fs, ns) = (BlockCodec.pforDecode(x.freqsPacked), BlockCodec.forDecode(x.normsPacked))
    val dealt = Seq(0, 1).map { r =>
      val at = ids.indices.filter(_ % 2 == r).toArray
      SegmentWriter.encodeBlock(x.term, cfg.bucketShift, at.map(ids), at.map(fs), at.map(ns),
        at.length, null, null, null)
    }
    spark.createDataset(bs.toSeq.filterNot(_ eq x) ++ dealt).write.mode("overwrite")
      .parquet(s"$d4/postings")
    val v4 = violations(d4)
    assert(v4.contains("1 blocks overlap the block before them"), v4)
    assert(!v4.contains("stats disagreeing"), v4)
  }
}

/** The build configs and corpora the commit duel and the inverter pin
  * ([[DocInversionSpec]]) share.
  */
object SegmentCommitSpec {

  // 7 doc partitions over 16-doc buckets: buckets straddle doc partitions
  val small = IndexConfig(bucketShift = 4, numPostingPartitions = 5, numDocPartitions = 7)

  val configs: Seq[(String, IndexConfig)] = Seq(
    "plain" -> small,
    "positions" -> small.copy(storePositions = true),
    "positions+offsets" -> small.copy(storePositions = true, storeOffsets = true),
    "positions+payloads" -> small.copy(storePositions = true, storePayloads = true),
    "multi-field with positions" -> small.copy(storePositions = true, multiField = true),
    "synonyms" -> small.copy(storePositions = true,
      synonyms = Seq((List("court"), "tribunal"), (List("state", "law"), "statute"))),
    "term vectors" -> small.copy(storeTermVectors = true),
    // 512-doc buckets over 7 doc partitions: common terms fill 128-doc
    // blocks from fragments of several tasks
    "positions, 128-doc cuts" -> small.copy(bucketShift = 9, storePositions = true))

  def pages(spark: SparkSession, n: Int): Dataset[(String, String)] = {
    import spark.implicits._
    Corpus.pages(spark, n).map(p => (p.url, p.text))
  }

  /** `pages(n)` with a `|payload` on every third word. `messy` separates
    * the words by tabs, newlines and runs of whitespace, and puts
    * whitespace at both edges of the text, instead of single spaces.
    */
  def payloadPages(spark: SparkSession, n: Int, messy: Boolean): Dataset[(String, String)] = {
    import spark.implicits._
    val seps = Array(" ", "\t", "\n", "  ", " \t\r\n ")
    pages(spark, n).map { case (u, t) =>
      val ws = t.split("\\s+").zipWithIndex.map { case (w, i) => if (i % 3 == 0) s"$w|${i % 7}" else w }
      (u, if (messy) "\n " + ws.indices.map(i => ws(i) + seps(i % seps.length)).mkString
          else ws.mkString(" "))
    }
  }

  /** Docs of a `title`, the `text` and a second `title` value. */
  def fieldPages(spark: SparkSession, n: Int): Dataset[(String, Seq[(String, String)])] = {
    import spark.implicits._
    Corpus.pages(spark, n).map { p =>
      val words = p.text.split(' ')
      (p.url, Seq("title" -> words.take(4).mkString(" "), "text" -> p.text,
        "title" -> words.slice(4, 7).mkString(" ")))
    }
  }
}
