package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

import graft.corpus.Corpus
import graft.index.{FeatureIndexer, IndexBuilder, IndexConfig, LiveSet, Manifest, SegmentManifest, SegmentMerger}
import graft.search.{FeatureFunction, FeatureQuery, IndexSearcher, Query, SearcherManager}

/** Per-segment read state: a warm searcher runs no Spark job for any
  * dictionary read (term stats, expansion, spelling, suggest) and exactly
  * one, with no exchange, per top-k query, and
  * segments written before the singleton and positions columns existed
  * still answer identically; a term whose rows were appended in two
  * batches reads as one dictionary entry; an NRT refresh reloads only
  * the new segments.
  */
class SegmentReaderSpec extends SparkTestBase {

  private val cfg = IndexConfig(bucketShift = 9, numPostingPartitions = 4, numDocPartitions = 2)
  private val NDocs = 600L

  /** Docs `from until until` of the synthetic corpus as a segment at `dir`. */
  private def build(dir: String, from: Long, until: Long): SegmentManifest = {
    import spark.implicits._
    val pages = (from until until).map(Corpus.page(_)).map(p => (p.url, p.text))
    IndexBuilder.buildSegment(spark.createDataset(pages), dir, cfg)
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
        val (hits, log) = countJobs(se.topK(q, 10).collect())
        assert(hits.nonEmpty, s"vacuous job count for '$s'")
        assert(log.jobs == 1, s"topK('$s') ran ${log.jobs} jobs: ${log.executions}")
        val plan = se.topK(q, 10).queryExecution.executedPlan
        assert(!plan.isInstanceOf[AdaptiveSparkPlanExec] &&
          plan.find(_.isInstanceOf[Exchange]).isEmpty, s"exchange in topK('$s'):\n$plan")
        val (ids, mLog) = countJobs(se.matching(q).collect())
        assert(ids.nonEmpty && mLog.jobs <= 1, s"matching('$s') ran ${mLog.executions}")
        val (all, sLog) = countJobs(se.scoreMatches(q).collect())
        assert(all.nonEmpty && sLog.jobs <= 1, s"scoreMatches('$s') ran ${sLog.executions}")
      }
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
    // hapax terms take the singleton fast path on the fresh segment only
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
}
