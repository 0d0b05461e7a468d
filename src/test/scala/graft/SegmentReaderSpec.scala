package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

import graft.corpus.Corpus
import graft.index.{Deletes, FeatureIndexer, IndexBuilder, IndexConfig, IndexSplitter, LiveSet, Manifest,
  SegmentManifest, SegmentMerger}
import graft.search.{FeatureFunction, FeatureQuery, IndexSearcher, Query, SearcherManager, Similarity}

/** Per-segment read state: a segment loads its resident slices and its
  * dictionary in one job on first use; after that a searcher runs no Spark
  * job for any dictionary read (term stats, expansion, spelling, suggest)
  * and exactly one RDD job, with no SQL execution, per top-k query. The
  * dictionary built from the slices equals the `terms` table for every
  * writer of a segment; segments written before the singleton and
  * positions columns existed still answer identically; a term whose rows
  * were appended in two batches reads as one dictionary entry; an NRT
  * refresh loads only the new segments and releases the dropped ones.
  */
class SegmentReaderSpec extends SparkTestBase {

  private val cfg = IndexConfig(bucketShift = 9, numPostingPartitions = 4, numDocPartitions = 2)
  private val NDocs = 600L

  /** Docs `from until until` of the synthetic corpus as a segment at `dir`. */
  private def build(dir: String, from: Long, until: Long, c: IndexConfig = cfg): SegmentManifest = {
    import spark.implicits._
    val pages = (from until until).map(Corpus.page(_)).map(p => (p.url, p.text))
    IndexBuilder.buildSegment(spark.createDataset(pages), dir, c)
  }

  private lazy val oneSeg: Seq[SegmentManifest] = Seq(build(s"${tmpDir("jobs1")}/seg", 0L, NDocs))
  private lazy val threeSegs: Seq[SegmentManifest] =
    Seq((0L, 200L), (200L, 400L), (400L, NDocs)).zipWithIndex.map {
      case ((a, z), i) => build(s"${tmpDir(s"jobs3-$i")}/seg", a, z)
    }

  private val queries = Seq("court", "court AND law", "court OR law", "(court OR law) AND state")

  for ((label, segs) <- Seq("1 segment" -> (() => oneSeg), "3 segments" -> (() => threeSegs)))
    test(s"warm searcher, $label: termStats runs no job, topK one and no exchange") {
      val se = new IndexSearcher(spark, segs())
      val parsed = queries.map(se.parse)
      parsed.foreach(q => se.topK(q, 10).collect()) // warm: dictionaries load
      val terms = parsed.flatMap(_.terms).distinct
      val (ts, statsLog) = countJobs(se.termStats(terms))
      assert(ts.keySet == terms.toSet, s"missing stats: ${terms.filterNot(ts.contains)}")
      assert(statsLog.jobs == 0, s"termStats ran ${statsLog.jobs} jobs")
      queries.zip(parsed).foreach { case (s, q) =>
        val (ds, log) = countJobs(se.topK(q, 10))
        assert(log.jobs == 1 && log.executions.isEmpty,
          s"topK('$s') ran ${log.jobs} jobs: ${log.executions}")
        val (hits, cLog) = countJobs(ds.collect())
        assert(hits.nonEmpty, s"vacuous job count for '$s'")
        assert(cLog.jobs == 0, s"collecting topK('$s') ran ${cLog.jobs} jobs")
        val plan = ds.queryExecution.executedPlan
        assert(!plan.isInstanceOf[AdaptiveSparkPlanExec] &&
          plan.find(_.isInstanceOf[Exchange]).isEmpty, s"exchange in topK('$s'):\n$plan")
        val (ids, mLog) = countJobs(se.matching(q).collect())
        assert(ids.nonEmpty && mLog.jobs <= 1, s"matching('$s') ran ${mLog.executions}")
        val (all, sLog) = countJobs(se.scoreMatches(q).collect())
        assert(all.nonEmpty && sLog.jobs <= 1, s"scoreMatches('$s') ran ${sLog.executions}")
      }
    }

  test("cold searcher: the first query runs the load job and the query job, then stats run none") {
    val se = new IndexSearcher(spark, Seq(build(s"${tmpDir("cold")}/seg", 0L, NDocs)))
    val q = se.parse("court OR law")
    val (hits, log) = countJobs(se.topK(q, 10).collect())
    assert(hits.nonEmpty && log.jobs == 2 && log.executions.forall(_._2 == 0),
      s"cold topK ran ${log.jobs} jobs: ${log.executions}")
    val (ts, statsLog) = countJobs(se.termStats(Seq("court", "law", "state")))
    assert(ts.size == 3 && statsLog.jobs == 0, s"warm termStats ran ${statsLog.jobs} jobs")
    assert(hits.toSeq == new IndexSearcher(spark, oneSeg).topK(q, 10).collect().toSeq)
  }

  test("warm searchers, 1 and 3 segments: every dictionary read runs no job, both agree") {
    import org.apache.spark.sql.Row
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] = df.collect().toSeq
    val calls: Seq[(String, IndexSearcher => Any)] = Seq(
      "expandPrefix" -> (_.expandPrefix("qu")),
      "expandRange" -> (_.expandRange("qa", "ri")),
      "expandFuzzy" -> (_.expandFuzzy("cort", maxEdits = 2)),
      "expandRegex" -> (_.expandRegex("^s[a-z]*e$")),
      "expandWildcard s?te*" -> (_.expandWildcard("s?te*")),
      "expandWildcard *aw" -> (_.expandWildcard("*aw")),
      "spellCorrect" -> (se => rows(se.spellCorrect("parl", maxEdits = 2))),
      "spellCorrectJaro" -> (se => rows(se.spellCorrectJaro("qurey", accuracy = 0.55))),
      "fuzzySuggest" -> (se => rows(se.fuzzySuggest("sca"))),
      "phoneticSuggest" -> (se => rows(se.phoneticSuggest("cort"))),
      "parseFull tab* AND court" -> (_.parseFull("tab* AND court")),
      "parseFull *am OR qu* OR quer~1" -> (_.parseFull("*am OR qu* OR quer~1")))
    val searchers = Seq(new IndexSearcher(spark, oneSeg), new IndexSearcher(spark, threeSegs))
    val results = searchers.map { se =>
      calls.map { case (name, call) =>
        call(se) // warm: the first read loads the segments' dictionaries
        val (r, log) = countJobs(call(se))
        assert(log.jobs == 0, s"$name ran ${log.jobs} jobs: ${log.executions}")
        r
      }
    }
    calls.map(_._1).zip(results.head.zip(results(1))).foreach { case (name, (one, three)) =>
      assert(one == three, s"$name: 1 segment $one != 3 segments $three")
      assert(one != Nil, s"vacuous check for $name")
    }
  }

  test("old layout: no singleton or len columns, no posPacked — same top-10") {
    val seg = oneSeg.head
    val old = s"${tmpDir("oldlayout")}/seg"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(seg.dir), new java.io.File(old))
    def rewrite(table: String, drop: String*): Unit = {
      val tmp = s"$old/$table.tmp"
      spark.read.parquet(s"$old/$table").drop(drop: _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$old/$table"))
      assert(new java.io.File(tmp).renameTo(new java.io.File(s"$old/$table")))
    }
    rewrite("terms", "singletonDocId", "singletonFreq", "singletonNorm", "len")
    rewrite("postings", "posPacked")
    assert(!spark.read.parquet(s"$old/terms").columns.contains("singletonDocId") &&
      !spark.read.parquet(s"$old/postings").columns.contains("posPacked"))
    Manifest.commit(old, Manifest.read(old).get.copy(dir = old))

    val fresh = new IndexSearcher(spark, oneSeg)
    val legacy = new IndexSearcher(spark, Seq(Manifest.read(old).get))
    // hapax terms: a one-posting block on both layouts
    val hapax = spark.read.parquet(s"${seg.dir}/terms").where(col("docFreq") === 1)
      .orderBy("term").select("term").limit(2).collect().map(_.getString(0)).toSeq
    assert(hapax.size == 2, "corpus has no hapax terms")
    val qs = queries.map(fresh.parse) ++ Seq(
      Query.or(hapax: _*), Query.or(hapax.head, "court"), fresh.parse("state"))
    qs.foreach { q =>
      val want = fresh.topK(q, 10).collect().toSeq
      assert(want.nonEmpty, s"vacuous check for $q")
      assert(legacy.topK(q, 10).collect().toSeq == want, s"old layout differs for $q")
    }
    assert(legacy.termStats(hapax) == fresh.termStats(hapax))
    assert(legacy.expandFuzzy("cort", 1) == fresh.expandFuzzy("cort", 1))
    // both layouts walk a term range like a brute filter of their terms table
    for ((label, se, dir) <- Seq(("fresh", fresh, seg.dir), ("old", legacy, old))) {
      val brute = spark.read.parquet(s"$dir/terms").select("term").collect()
        .map(_.getString(0)).filter(t => t >= "st" && t < "su").sorted.toSeq
      assert(brute.nonEmpty, "vacuous range check")
      assert(se.expandRange("st", "su", Int.MaxValue) == brute, s"$label layout range walk")
    }
    // the merger reads an old-layout input through the reader's schema:
    // merged with a fresh segment, it ranks like two fresh inputs merged
    val other = build(s"${tmpDir("oldlayout-other")}/seg", NDocs, NDocs + 200L)
    def mergedWith(first: String): IndexSearcher = new IndexSearcher(spark, Seq(
      SegmentMerger.merge(spark, Seq(first, other.dir), s"${tmpDir("oldlayout-merge")}/seg", cfg)))
    val (mergedOld, mergedFresh) = (mergedWith(old), mergedWith(seg.dir))
    qs.foreach { q =>
      val want = mergedFresh.topK(q, 10).collect().toSeq
      assert(want.nonEmpty, s"vacuous merge check for $q")
      assert(mergedOld.topK(q, 10).collect().toSeq == want, s"merged old layout differs for $q")
    }
  }

  test("a feature appended in two batches: its dictionary rows add up") {
    import spark.implicits._
    val pages = (0L until 200L).map(Corpus.page(_))
    def feats(ps: Seq[graft.corpus.Page]) =
      ps.map(p => (p.url, "rank", (p.url.hashCode & 0xff) + 1f)).toDF("url", "feature", "value")
    val once = build(s"${tmpDir("feat-once")}/seg", 0L, 200L)
    val twice = build(s"${tmpDir("feat-twice")}/seg", 0L, 200L)
    FeatureIndexer.addFeatures(spark, once.dir, feats(pages))
    FeatureIndexer.addFeatures(spark, twice.dir, feats(pages.take(120)))
    FeatureIndexer.addFeatures(spark, twice.dir, feats(pages.drop(120)))
    val a = new IndexSearcher(spark, Seq(Manifest.read(once.dir).get))
    val b = new IndexSearcher(spark, Seq(Manifest.read(twice.dir).get))
    val t = FeatureIndexer.featureTerm("rank")
    assert(b.termStats(Seq(t)) == a.termStats(Seq(t)))
    assert(a.termStats(Seq(t))(t).docFreq == 200L)
    val q = FeatureQuery("rank", FeatureFunction.Linear)
    assert(b.topK(q, 10).collect().toSeq == a.topK(q, 10).collect().toSeq)
  }

  test("refresh keeps the readers of live segments: only the new one loads") {
    val root = tmpDir("refresh")
    def commit(name: String, from: Long, until: Long): Unit = {
      build(s"$root/$name", from, until)
      LiveSet.add(root, Seq(name))
    }
    val terms = Seq("court", "law", "state")
    commit("s0", 0L, 200L)
    val mgr = new SearcherManager(spark, root)
    mgr.acquire().termStats(terms) // loads s0's dictionary
    commit("s1", 200L, 400L)
    assert(mgr.maybeRefresh())
    val (ts, log) = countJobs(mgr.acquire().termStats(terms))
    assert(log.jobs == 1, s"expected one job (s1's dictionary), saw ${log.executions}")
    assert(ts == IndexSearcher.open(spark, root).termStats(terms))
  }

  test("the dictionary from the slices == the terms table: builder, merger, splitter, appends, old layout") {
    import org.apache.spark.sql.functions.sum
    // 16-doc buckets, and slices of ~8 KB of postings: several per segment
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    val c = cfg.copy(bucketShift = 4)
    val built = build(s"${tmpDir("dict-built")}/seg", 0L, 400L, c)
    val other = build(s"${tmpDir("dict-other")}/seg", 400L, NDocs, c)
    val merged = SegmentMerger.merge(spark, Seq(built.dir, other.dir), s"${tmpDir("dict-merged")}/seg", c)
    val parts = IndexSplitter.split(spark, merged.dir,
      Seq(s"${tmpDir("dict-split0")}/seg", s"${tmpDir("dict-split1")}/seg"), c)
    val appended = build(s"${tmpDir("dict-appended")}/seg", 0L, 200L, c)
    import spark.implicits._
    def feats(ids: Seq[Long]) = ids.map(Corpus.page(_)).map(p =>
      (p.url, "rank", (p.url.hashCode & 0xff) + 1f)).toDF("url", "feature", "value")
    FeatureIndexer.addFeatures(spark, appended.dir, feats(0L until 120L))
    FeatureIndexer.addFeatures(spark, appended.dir, feats(120L until 200L))
    val old = s"${tmpDir("dict-old")}/seg"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(other.dir), new java.io.File(old))
    val tmp = s"$old/terms.tmp"
    spark.read.parquet(s"$old/terms").drop("singletonDocId", "singletonFreq", "singletonNorm", "len")
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$old/terms"))
    assert(new java.io.File(tmp).renameTo(new java.io.File(s"$old/terms")))
    Manifest.commit(old, Manifest.read(old).get.copy(dir = old))
    val segs = Seq("builder" -> built.dir, "merger" -> merged.dir, "splitter 0" -> parts(0).dir,
      "splitter 1" -> parts(1).dir, "two appends" -> appended.dir, "old layout" -> old)
    for ((label, dir) <- segs) {
      val brute = spark.read.parquet(s"$dir/terms").groupBy("term")
        .agg(sum("docFreq"), sum("totalTermFreq")).as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(brute.size > 100, s"vacuous dictionary check for $label")
      val searchers = Seq(spark -> "one slice", small -> "several slices").map {
        case (session, slicing) =>
          val se = new IndexSearcher(session, Seq(Manifest.read(dir).get))
          val got = se.dictTerms().map(t => (t.term, t.docFreq, t.totalTermFreq))
          assert(got == brute, s"$label, $slicing: dictionary differs from the terms table")
          se
      }
      val sliceCount = spark.sparkContext.getPersistentRDDs.values
        .filter(r => r.name == s"slices $dir").map(_.getNumPartitions).toSeq.sorted
      assert(sliceCount.head == 1 && sliceCount.last > 1, s"$label: slices per load $sliceCount")
      searchers.foreach(_.release())
    }
  }

  test("refresh releases the slices of dropped readers: never more resident than live") {
    val root = tmpDir("release")
    def resident: Int = spark.sparkContext.getPersistentRDDs.values
      .filter(r => r.name != null && r.name.startsWith(s"slices $root/")).map(_.getNumPartitions).sum
    val q = Query.or("court", "law")
    var next = 0L
    def add(name: String): Unit = {
      build(s"$root/$name", next, next + 100L)
      next += 100L
      LiveSet.add(root, Seq(name))
    }
    add("s0")
    val mgr = new SearcherManager(spark, root)
    for (i <- 1 to 6) {
      add(s"s$i")
      if (i % 3 == 0) {
        val live = LiveSet.read(root).get._2
        SegmentMerger.merge(spark, live.map(n => s"$root/$n"), s"$root/m$i", cfg)
        LiveSet.swap(root, live, Seq(s"m$i"))
      }
      assert(mgr.maybeRefresh())
      assert(mgr.acquire().topK(q, 10).collect().nonEmpty)
      val live = LiveSet.manifests(root).size
      assert(resident > 0 && resident <= live, s"step $i: $resident slices resident, $live live segments")
    }
  }

  test("a similarity view over a segment with deletes runs no job") {
    val seg = build(s"${tmpDir("view-deletes")}/seg", 0L, 200L)
    import spark.implicits._
    Deletes.add(spark, seg.dir, Seq(3L, 5L, 8L).map(java.lang.Long.valueOf).toDS())
    val base = new IndexSearcher(spark, Seq(Manifest.read(seg.dir).get))
    assert(base.hasDeletes)
    val (view, log) = countJobs(base.withSimilarity(Similarity.Classic))
    assert(log.jobs == 0, s"the Classic view ran ${log.jobs} jobs: ${log.executions}")
    assert(view.hasDeletes)
  }
}
