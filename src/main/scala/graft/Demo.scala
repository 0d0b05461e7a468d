package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{IndexSearcher, Query}

/** CLI demo — the library's runnable surface, mirroring the reference's
  * demo pair (`/root/reference/lucene/demo/src/java/org/apache/lucene/demo/IndexFiles.java`,
  * `SearchFiles.java`): index a synthetic web corpus, then answer queries.
  *
  * Usage:
  *   runMain graft.Demo index <dir> <nDocs>
  *   runMain graft.Demo search <dir> <query...>
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    args.toList match {
      case "index" :: dir :: n :: rest
          if rest.forall(Set("--positions", "--fields").contains) =>
        val cfg = IndexConfig(bucketShift = 12, numPostingPartitions = cpus.toInt * 2,
          storePositions = rest.contains("--positions"))
        val m =
          if (rest.contains("--fields")) {
            // two-field corpus: title = first 5 tokens, body = the rest;
            // search with `title:term` / `body:term`
            val pages = Corpus.pages(spark, n.toLong).map { p =>
              val toks = p.text.split(" ")
              (p.url, Seq("title" -> toks.take(5).mkString(" "),
                "body" -> toks.drop(5).mkString(" ")))
            }
            IndexBuilder.buildSegmentFields(pages, s"$dir/seg0", cfg)
          } else {
            val pages = Corpus.pages(spark, n.toLong).map(p => (p.url, p.text))
            IndexBuilder.buildSegment(pages, s"$dir/seg0", cfg)
          }
        println(s"[demo] indexed ${m.docCount} docs, ${m.termCount} terms, " +
          f"${m.blockCount} blocks in ${m.buildWallSec}%.1fs " +
          f"(${m.docCount / m.buildWallSec}%.0f docs/sec)" +
          (if (m.hasPositions) " [positions]" else "") +
          (if (m.fieldStats.nonEmpty)
             m.fieldStats.map(f => s"${f.field}:${f.docCount}").mkString(" [fields ", " ", "]")
           else ""))
      case "phrase" :: dir :: rest if rest.nonEmpty =>
        val searcher = IndexSearcher.open(spark, dir)
        val terms = rest.map(t => searcher.parse(t).terms.head)
        val t0 = System.nanoTime()
        val hits = searcher.phraseFreqsIndexed(terms)
          .toDF("docId", "freq")
          .join(searcher.docsTable.select($"docId", $"url"), "docId")
          .orderBy($"freq".desc, $"docId".asc).limit(10).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"""[demo] phrase "${terms.mkString(" ")}": ${hits.length} top hits in $ms%.0f ms""")
        hits.foreach { r =>
          println(f"  doc=${r.getAs[Long]("docId")}%6d freq=${r.getAs[Int]("freq")}%2d ${r.getAs[String]("url")}")
        }
      case "ingest" :: dir :: batches :: perBatch :: Nil =>
        // incremental ingest: one committed segment per batch (NRT-style —
        // each commit is searchable immediately via IndexSearcher.open),
        // then the merge-scheduler loop (the driver-side re-expression of
        // ConcurrentMergeScheduler) replans with TieredMergePolicy until
        // the segment set fits the tier budget
        import graft.index.{LiveSet, SegmentMerger, TieredMergePolicy}
        val nb = batches.toInt
        val n = perBatch.toLong
        val cfg = IndexConfig(bucketShift = 12, numPostingPartitions = cpus.toInt * 2)
        LiveSet.gcOrphans(dir) // crash leftovers from an interrupted swap
        for (b <- 0 until nb) {
          val pages = Corpus.pages(spark, n, start = b * n).map(p => (p.url, p.text))
          val segName = f"seg$b%05d"
          val m = IndexBuilder.buildSegment(pages, s"$dir/$segName", cfg)
          LiveSet.add(dir, Seq(segName))
          println(s"[demo] batch $b committed: ${m.docCount} docs, ${m.blockCount} blocks")
        }
        var round = 0
        var plan = TieredMergePolicy.findMerges(LiveSet.manifests(dir))
        while (plan.nonEmpty) {
          val group = plan.head
          val outName = f"merge_$round%03d"
          val m = SegmentMerger.merge(spark, group, s"$dir/$outName", cfg)
          println(s"[demo] merge $round: ${group.size} segs -> ${m.docCount} docs, ${m.blockCount} blocks")
          // segments_N protocol: swap the live set atomically, THEN
          // collect the inputs through orphan GC (which spares
          // snapshot-pinned segments — an explicit rm would not)
          LiveSet.swap(dir, group.map(d => new java.io.File(d).getName), Seq(outName))
          LiveSet.gcOrphans(dir)
          round += 1
          plan = TieredMergePolicy.findMerges(LiveSet.manifests(dir))
        }
        val finalSegs = LiveSet.manifests(dir)
        println(s"[demo] ingest done: ${finalSegs.size} segments, " +
          s"${finalSegs.map(_.docCount).sum} docs total")
      case "surround" :: dir :: rest if rest.nonEmpty =>
        // surround proximity syntax (ref queryparser/surround): AND/OR/NOT
        // + nW/nN distance ops onto the intervals algebra. Needs a
        // positional index for the distance operators.
        val searcher = IndexSearcher.open(spark, dir)
        val qs = rest.mkString(" ")
        val q = searcher.parseSurround(qs)
        println(s"[demo] surround: $qs -> $q")
        val t0 = System.nanoTime()
        val hits = searcher.searchDocs(q, 10).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[demo] ${hits.length} hits in $ms%.0f ms (count=${searcher.count(q)})")
        hits.foreach { r =>
          println(f"  doc=${r.getAs[Long]("docId")}%6d score=${r.getAs[Double]("score")}%.4f ${r.getAs[String]("url")}")
        }
      case "cphrase" :: dir :: rest if rest.nonEmpty =>
        // complex phrase (ref queryparser/complexPhrase): wildcard/fuzzy
        // atoms inside the quoted phrase; whole CLI tail = one phrase
        val searcher = IndexSearcher.open(spark, dir)
        val qs = rest.mkString(" ")
        val q = searcher.parseComplexPhrase(qs)
        println(s"[demo] complex phrase: \"$qs\" -> $q")
        val t0 = System.nanoTime()
        val hits = searcher.searchDocs(q, 10).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[demo] ${hits.length} hits in $ms%.0f ms")
        hits.foreach { r =>
          println(f"  doc=${r.getAs[Long]("docId")}%6d score=${r.getAs[Double]("score")}%.4f ${r.getAs[String]("url")}")
        }
      case "mlt" :: dir :: rest if rest.nonEmpty =>
        // MoreLikeThis (ref queries/mlt): generate a boosted disjunction
        // from the source text's tf/df-gated top terms, then search.
        //   Demo mlt <dir> [--terms=N] [--mintf=N] [--mindf=N] <text...>
        val (opts, words) = rest.partition(_.startsWith("--"))
        def optOf(k: String, dflt: Int) = opts.collectFirst {
          case o if o.startsWith(s"--$k=") => o.stripPrefix(s"--$k=").toInt
        }.getOrElse(dflt)
        val p = graft.search.MltParams(
          minTermFreq = optOf("mintf", 1),
          minDocFreq = optOf("mindf", 2).toLong,
          maxQueryTerms = optOf("terms", 10),
          boostTerms = true)
        val searcher = IndexSearcher.open(spark, dir)
        val text = words.mkString(" ")
        val sel = graft.search.MoreLikeThis.interestingTerms(searcher, text, p)
        println(s"[demo] mlt interesting terms (tf*idf, best first):")
        sel.foreach { case (t, w) => println(f"  $t%-20s $w%.4f") }
        val q = graft.search.MoreLikeThis.query(searcher, text, p)
        val t0 = System.nanoTime()
        val hits = searcher.searchDocs(q, 10).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[demo] ${hits.length} hits in $ms%.0f ms")
        hits.foreach { r =>
          println(f"  doc=${r.getAs[Long]("docId")}%6d score=${r.getAs[Double]("score")}%.4f ${r.getAs[String]("url")}")
        }
      case "search" :: dir :: rest if rest.nonEmpty =>
        // optional similarity knob (ref IndexSearcher#setSimilarity):
        //   Demo search <dir> --sim=classic|bool|lm|lmjm|dfr|ib|dfi|f1exp..f3log <query...>
        val (simOpt, qrest) = rest.partition(_.startsWith("--sim="))
        val sim = simOpt.lastOption.map(_.stripPrefix("--sim=")).map {
          case "bm25"    => graft.search.Similarity.Bm25
          case "classic" => graft.search.Similarity.Classic
          case "bool"    => graft.search.Similarity.Bool
          case "lm"      => graft.search.Similarity.LmDirichlet()
          case "lmjm"    => graft.search.Similarity.LmJelinekMercer()
          case "dfr"     => graft.search.Similarity.Dfr()
          case "ib"      => graft.search.Similarity.Ib()
          case "dfi"     => graft.search.Similarity.Dfi()
          case "f1exp"   => graft.search.Similarity.Axiomatic(graft.search.Similarity.AxVariant.F1EXP)
          case "f1log"   => graft.search.Similarity.Axiomatic(graft.search.Similarity.AxVariant.F1LOG)
          case "f2exp"   => graft.search.Similarity.Axiomatic(graft.search.Similarity.AxVariant.F2EXP)
          case "f2log"   => graft.search.Similarity.Axiomatic(graft.search.Similarity.AxVariant.F2LOG)
          case "f3exp"   => graft.search.Similarity.Axiomatic(graft.search.Similarity.AxVariant.F3EXP)
          case "f3log"   => graft.search.Similarity.Axiomatic(graft.search.Similarity.AxVariant.F3LOG)
          case other => throw new IllegalArgumentException(s"unknown similarity $other")
        }.getOrElse(graft.search.Similarity.Bm25)
        val searcher = IndexSearcher.open(spark, dir, similarity = sim)
        // full classic syntax: quoted phrases (positions required), pre*,
        // w?ld, fuzzy~1, [lo TO hi] — plus the boolean core. Single quotes
        // double as phrase quotes (CLI convenience: shells and sbt eat ")
        val qs = qrest.mkString(" ").replace('\'', '"')
        val q = searcher.parseFull(qs)
        println(s"[demo] query: $qs -> $q")
        val t0 = System.nanoTime()
        val hits = searcher.searchDocs(q, 10).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[demo] ${hits.length} hits in $ms%.0f ms (count=${searcher.count(q)})")
        hits.foreach { r =>
          println(f"  doc=${r.getAs[Long]("docId")}%6d score=${r.getAs[Double]("score")}%.4f ${r.getAs[String]("url")}")
        }
      case "check" :: dir :: Nil =>
        // CheckIndex over every committed segment under dir
        import graft.index.{CheckIndex, Manifest}
        val segs = new java.io.File(dir).listFiles()
          .filter(f => f.isDirectory && Manifest.read(f.getPath).isDefined)
          .sortBy(_.getName)
        var bad = 0
        segs.foreach { f =>
          val r = CheckIndex.check(spark, f.getPath)
          println(s"[demo] check ${f.getName}: docs=${r.docCount} blocks=${r.blockCount} " +
            s"terms=${r.termCount} -> ${if (r.ok) "OK" else "FAILED"}")
          r.violations.foreach(msg => println(s"  VIOLATION: $msg"))
          if (!r.ok) bad += 1
        }
        if (bad > 0) { System.err.println(s"[demo] $bad segment(s) failed"); sys.exit(1) }
      case "stats" :: dir :: Nil =>
        // disk-usage + composition report per live segment (the
        // luke/IndexDiskUsage observability surface)
        import graft.index.LiveSet
        def du(p: java.io.File): Long =
          if (p.isFile) p.length()
          else if (p.isDirectory) p.listFiles().map(du).sum
          else 0L
        def fmt(b: Long): String =
          if (b >= 1048576L) f"${b / 1048576.0}%.1f MB" else f"${b / 1024.0}%.1f KB"
        val live = LiveSet.manifests(dir)
        for (m <- live) {
          val root = new java.io.File(m.dir)
          val parts = Seq("postings", "terms", "docs")
            .map(t => t -> du(new java.io.File(root, t)))
          val tomb = Option(root.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith("tombstones")).map(du).sum
          val total = du(root)
          println(s"[demo] segment ${root.getName}: docs=${m.docCount} " +
            s"terms=${m.termCount} blocks=${m.blockCount} " +
            (if (m.hasPositions) "[positions] " else "") + s"total=${fmt(total)}")
          parts.foreach { case (t, b) =>
            println(f"    $t%-9s ${fmt(b)}%10s (${100.0 * b / math.max(1L, total)}%.0f%%)")
          }
          if (tomb > 0) println(f"    tombstones ${fmt(tomb)}%9s")
        }
        println(s"[demo] ${live.size} live segment(s), " +
          s"${live.map(_.docCount).sum} docs, " +
          fmt(live.map(m => du(new java.io.File(m.dir))).sum) + " on disk; " +
          s"snapshots pinned: ${LiveSet.snapshots(dir).mkString(",")}")
      case "forcemerge" :: dir :: rest if rest.size <= 1 =>
        // merge down to maxSegments (default 1) regardless of the tier
        // budget, purging tombstoned docs (ref IndexWriter#forceMerge /
        // #forceMergeDeletes)
        import graft.index.{LiveSet, SegmentMerger}
        val maxSegments = rest.headOption.map(_.toInt).getOrElse(1)
        require(maxSegments >= 1, "maxSegments must be >= 1")
        LiveSet.gcOrphans(dir)
        var round = 0
        while (LiveSet.manifests(dir).size > maxSegments) {
          // fold the smallest segments first (fewest bytes rewritten);
          // bucketShift must match the inputs' layout
          val live = LiveSet.manifests(dir).sortBy(_.sizeScore)
          val cfg = IndexConfig(bucketShift = live.head.bucketShift,
            numPostingPartitions = cpus.toInt * 2)
          val group = live.take(math.max(2,
            live.size - maxSegments + 1)).map(_.dir)
          val outName = f"force_$round%03d"
          val m = SegmentMerger.merge(spark, group, s"$dir/$outName", cfg)
          println(s"[demo] forcemerge $round: ${group.size} segs -> " +
            s"${m.docCount} docs, ${m.blockCount} blocks")
          LiveSet.swap(dir, group.map(d => new java.io.File(d).getName), Seq(outName))
          LiveSet.gcOrphans(dir) // spares snapshot-pinned inputs
          round += 1
        }
        val segs = LiveSet.manifests(dir)
        println(s"[demo] forcemerge done: ${segs.size} segment(s), " +
          s"${segs.map(_.docCount).sum} docs")
      case "snapshot" :: dir :: Nil =>
        // pin the current commit point (ref SnapshotDeletionPolicy#snapshot)
        graft.index.LiveSet.snapshot(dir) match {
          case Some(gen) => println(s"[demo] snapshotted generation $gen " +
            s"(pinned: ${graft.index.LiveSet.snapshots(dir).mkString(",")})")
          case None =>
            System.err.println("[demo] no committed generation to snapshot " +
              "(single-build layout — run ingest first)")
            sys.exit(1)
        }
      case "backup" :: dir :: dest :: Nil =>
        // snapshot-pinned hot copy to a self-contained index
        val segs = graft.index.LiveSet.backup(dir, dest)
        println(s"[demo] backed up ${segs.size} segment(s) to $dest: ${segs.mkString(",")}")
      case "split" :: dir :: nStr :: Nil =>
        // split the largest live segment into N parts and swap them in
        // atomically (ref misc/index/MultiPassIndexSplitter) — blocks move
        // as opaque bytes (bucket-aligned cuts), ranking is unchanged
        import graft.index.LiveSet
        val n = nStr.toInt
        val live = LiveSet.manifests(dir)
        require(live.nonEmpty, s"no live segments at $dir")
        val victim = live.maxBy(_.blockCount)
        val name = new java.io.File(victim.dir).getName
        val cfg = IndexConfig(bucketShift = victim.bucketShift)
        val parts = (0 until n).map(i => s"$dir/${name}_p$i")
        val ms = graft.index.IndexSplitter.split(spark, victim.dir, parts, cfg)
        LiveSet.swap(dir, Seq(name), parts.map(p => new java.io.File(p).getName))
        LiveSet.gcOrphans(dir)
        println(s"[demo] split $name into ${ms.size} part(s): " +
          ms.map(m => s"${new java.io.File(m.dir).getName}=${m.docCount}d/${m.blockCount}b")
            .mkString(", "))
      case "replicate" :: dir :: dest :: Nil =>
        // incremental pull replication (ref lucene/replicator): copy only
        // files the replica lacks, publish atomically, GC dropped segments
        val r = graft.index.Replicator.sync(dir, dest)
        println(s"[demo] replicated generation ${r.sourceGeneration} -> $dest: " +
          s"${r.segments.size} segment(s), ${r.filesCopied} file(s) copied " +
          s"(${r.bytesCopied} bytes), ${r.filesSkipped} already present" +
          (if (r.orphansRemoved.nonEmpty)
             s", removed ${r.orphansRemoved.mkString(",")}" else ""))
      case "rollback" :: dir :: gen :: Nil =>
        // restore a pinned commit point as a NEW generation
        val g = graft.index.LiveSet.rollback(dir, gen.toLong)
        println(s"[demo] rolled back to generation ${gen.toLong} " +
          s"(committed as generation $g); orphans: " +
          graft.index.LiveSet.gcOrphans(dir).mkString(","))
      case "explain" :: dir :: rest if rest.nonEmpty =>
        val searcher = IndexSearcher.open(spark, dir)
        val q = searcher.parse(rest.mkString(" "))
        println("=== score explanations (top 3) ===")
        searcher.topK(q, 3).collect().foreach { hit =>
          println(s"--- doc ${hit.docId} ---")
          println(searcher.explain(q, hit.docId).format())
        }
        println("=== topK plan ===")
        searcher.topK(q, 10).explain("formatted")
        println("=== term stats (resident dictionary lookups) ===")
        val stats = searcher.termStats(q.terms.toSeq)
        q.terms.toSeq.sorted.foreach { t =>
          println(stats.get(t).fold(s"$t\tnot in the dictionary")(st =>
            s"$t\tdocFreq=${st.docFreq}\ttotalTermFreq=${st.totalTermFreq}"))
        }
      case "profile" :: dir :: rest if rest.nonEmpty =>
        val searcher = IndexSearcher.open(spark, dir)
        val q = searcher.parse(rest.mkString(" "))
        val prof = searcher.profile(q, 10)
        val total = prof.map(_.seconds).sum
        println("=== query profile (stage / wall / detail) ===")
        prof.foreach(r =>
          println(f"[profile] ${r.stage}%-14s ${r.seconds}%8.3f s  ${r.detail}"))
        println(f"[profile] ${"total"}%-14s $total%8.3f s")
      case _ =>
        System.err.println(
          "usage: Demo index <dir> <nDocs> [--positions] [--fields] " +
            "| search <dir> [--sim=classic|bool|lm|lmjm|dfr|ib|dfi|f1exp..f3log] <query...> " +
            "| phrase <dir> <terms...> | surround <dir> <query...> "+
            "| cphrase <dir> <phrase terms...> | mlt <dir> [--terms=N] [--mintf=N] [--mindf=N] <text...> " +
            "| ingest <dir> <batches> <perBatch> " +
            "| forcemerge <dir> [maxSegments] | split <dir> <nParts> | snapshot <dir> " +
            "| rollback <dir> <gen> | backup <dir> <dest> | replicate <dir> <dest> | stats <dir> " +
            "| check <dir> | explain <dir> <query...> | profile <dir> <query...>")
        sys.exit(2)
    }
    spark.stop()
  }
}
