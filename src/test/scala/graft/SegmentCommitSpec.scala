package graft

import org.apache.spark.sql.Dataset

import graft.codec.{BlockCodec, Positions}
import graft.corpus.Corpus
import graft.index._
import graft.index.Schema.{DocTokens, PostingBlock}

/** The one-pass segment commit: doc tasks invert their own docs into
  * (term, bucket) fragments, one exchange brings them to the postings
  * writer, and every manifest count comes from the tasks that wrote the
  * rows. Duels the written postings against an in-spec inversion of the
  * analyzer's output, pins the Spark jobs of a build and a merge, and checks
  * that refused configs fail before any job.
  */
class SegmentCommitSpec extends SparkTestBase {

  /** One decoded block: (term, bucket, docIds, freqs, norms, positions,
    * offsets, payloads), arrays as Seqs so blocks compare by value.
    */
  private type Blk = (String, Long, Seq[Long], Seq[Long], Seq[Long],
    Seq[Seq[Int]], Seq[Seq[Int]], Seq[Seq[Int]])

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

  /** The blocks a segment of `docs` must hold: every (term, doc) posting,
    * grouped by (term, bucket), in docId order, cut every 128 docs.
    */
  private def inverted(docs: Seq[DocTokens], cfg: IndexConfig): Set[Blk] = {
    def opt(xs: Array[Array[Int]], i: Int): Seq[Int] = if (xs == null) null else xs(i).toSeq
    docs.flatMap { d =>
      d.terms.indices.map { i =>
        (d.terms(i), d.docId, d.freqs(i).toLong,
          (if (d.termNorms != null) d.termNorms(i) else d.norm).toLong,
          opt(d.positions, i), opt(d.offsets, i), opt(d.payloads, i))
      }
    }.groupBy(p => (p._1, p._2 >>> cfg.bucketShift)).toSeq.flatMap { case ((t, b), ps) =>
      ps.sortBy(_._2).grouped(BlockCodec.BlockSize).map { g =>
        def col(f: ((String, Long, Long, Long, Seq[Int], Seq[Int], Seq[Int])) => Seq[Int],
            on: Boolean): Seq[Seq[Int]] = if (on) g.map(f) else null
        (t, b, g.map(_._2), g.map(_._3), g.map(_._4),
          col(_._5, cfg.storePositions), col(_._6, cfg.storeOffsets), col(_._7, cfg.storePayloads))
      }
    }.toSet
  }

  private def pages(n: Int): Dataset[(String, String)] = {
    import spark.implicits._
    Corpus.pages(spark, n).map(p => (p.url, p.text))
  }

  /** `pages(n)` with a `|payload` on every third word. `messy` separates
    * the words by tabs, newlines and runs of whitespace, and puts
    * whitespace at both edges of the text, instead of single spaces.
    */
  private def payloadPages(n: Int, messy: Boolean): Dataset[(String, String)] = {
    import spark.implicits._
    val seps = Array(" ", "\t", "\n", "  ", " \t\r\n ")
    pages(n).map { case (u, t) =>
      val ws = t.split("\\s+").zipWithIndex.map { case (w, i) => if (i % 3 == 0) s"$w|${i % 7}" else w }
      (u, if (messy) "\n " + ws.indices.map(i => ws(i) + seps(i % seps.length)).mkString
          else ws.mkString(" "))
    }
  }

  /** `all` split in two by url hash, as the build benchmark splits it. */
  private def halves(all: Dataset[(String, String)]): Seq[Dataset[(String, String)]] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    import spark.implicits._
    Seq(0, 1).map(r => all.where(pmod(xxhash64($"_1"), lit(2)) === r).as[(String, String)])
  }

  private def fieldPages(n: Int): Dataset[(String, Seq[(String, String)])] = {
    import spark.implicits._
    Corpus.pages(spark, n).map { p =>
      val words = p.text.split(' ')
      (p.url, Seq("title" -> words.take(4).mkString(" "), "text" -> p.text,
        "title" -> words.slice(4, 7).mkString(" ")))
    }
  }

  private def assertSound(dir: String): CheckIndex.Report = {
    val r = CheckIndex.check(spark, dir)
    assert(r.ok, s"$dir: ${r.violations}")
    val m = Manifest.read(dir).get
    assert((r.docCount, r.blockCount, r.termCount) == (m.docCount, m.blockCount, m.termCount))
    r
  }

  // 7 doc partitions over 16-doc buckets: buckets straddle doc partitions
  private val small = IndexConfig(bucketShift = 4, numPostingPartitions = 5,
    numDocPartitions = 7)

  private val configs: Seq[(String, IndexConfig)] = Seq(
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

  configs.foreach { case (name, cfg) =>
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
    assert(parts.map(_.blockCount).sum == m.blockCount)
    parts.foreach(p => assertSound(p.dir))
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
      base.copy(storeOffsets = true),
      base.copy(storePayloads = true),
      base.copy(storePositions = true, storeOffsets = true, storePayloads = true),
      base.copy(storePositions = true, storeOffsets = true),
      base.copy(storePositions = true, storePayloads = true))
    refusedFields.foreach { cfg =>
      val (err, log) = countJobs(intercept[IllegalArgumentException](
        IndexBuilder.buildSegmentFields(fieldPages(20), s"${tmpDir("refuse")}/seg", cfg)))
      assert(log.jobs == 0, s"$cfg ran ${log.jobs} jobs")
      assert(err.getMessage.contains("store"), err.getMessage)
    }
    Seq(
      base.copy(storeOffsets = true) -> "storeOffsets requires storePositions",
      base.copy(storePayloads = true) -> "storePayloads requires storePositions",
      base.copy(storePositions = true, storeOffsets = true, storePayloads = true) ->
        "storePayloads is mutually exclusive with storeOffsets"
    ).foreach { case (cfg, msg) =>
      val (err, log) = countJobs(intercept[IllegalArgumentException](
        IndexBuilder.buildSegment(pages(20), s"${tmpDir("refuse")}/seg", cfg)))
      assert(log.jobs == 0)
      assert(err.getMessage == s"requirement failed: $msg")
    }
  }

  test("CheckIndex flags blocks outside their bucket, repeated postings and a wrong maxDocId") {
    val cfg = IndexConfig(bucketShift = 4, numPostingPartitions = 3, numDocPartitions = 3)
    def fresh(): (String, SegmentManifest) = {
      val dir = s"${tmpDir("check-broken")}/seg"
      (dir, IndexBuilder.buildSegment(pages(120), dir, cfg))
    }
    def violations(dir: String): String = CheckIndex.check(spark, dir).violations.mkString("; ")

    val (d1, m1) = fresh()
    Manifest.commit(d1, m1.copy(maxDocId = m1.maxDocId + 1))
    assert(violations(d1).contains("!= manifest maxDocId"))

    val (d2, m2) = fresh()
    Manifest.commit(d2, m2.copy(bucketShift = 3))
    assert(violations(d2).contains("outside its bucket"))

    val (d3, _) = fresh()
    val file = new java.io.File(s"$d3/postings").listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(file.toPath, new java.io.File(file.getParent, "copy-" + file.getName).toPath)
    assert(violations(d3).contains("repeat a (term, docId) posting"))
  }
}
