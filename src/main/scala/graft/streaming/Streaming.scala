package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.search.{BoolQuery, BoostQuery, ConstScoreQuery, DisMaxQuery, IndexSearcher, MultiPhraseQuery, PhraseQuery, Query, SynonymQuery, TermQuery}

/** Streaming surfaces of the engine (SURVEY.md §2.4):
  *
  *  - **Percolation** (the reference's monitor module,
  *    `/root/reference/lucene/monitor/src/java/org/apache/lucene/monitor/Monitor.java`):
  *    a *document stream* matched against a *stored query set* — expressed as
  *    Structured Streaming with the query set broadcast, indexed by trigger
  *    terms, and evaluated per candidate query.
  *  - **Windowed event aggregation** with event-time + watermark: the
  *    standard Structured Streaming shape for NRT metrics over the segment
  *    stream.
  *
  * Both run with `Trigger.AvailableNow` for batch-equivalent, resumable
  * execution (micro-batch appends == the reference's NRT segment publishing).
  */
object Streaming {

  /** Driver-side boolean evaluation of a query against a doc's token set —
    * the semantics [[percolate]] evaluates per candidate. Phrase clauses
    * need positions: use the `pos` thunk overload (the set-only form
    * rejects them).
    */
  def evalQuery(q: Query, toks: Set[String]): Boolean =
    evalQuery(q, toks, () =>
      throw new IllegalArgumentException(
        "phrase evaluation needs token positions — use the (set, pos) overload"))

  /** Evaluation with positional support: `pos` supplies term → ascending
    * positions (computed at most once per doc by the caller) for phrase
    * window checks — the ordered-window semantics of the engine's
    * `PhraseScorer`.
    */
  def evalQuery(q: Query, toks: Set[String],
      pos: () => Map[String, Array[Int]]): Boolean = q match {
    case TermQuery(t)        => toks.contains(t)
    case graft.search.MatchNoneQuery => false
    case BoostQuery(q2, _)   => evalQuery(q2, toks, pos)
    case dm: DisMaxQuery     => dm.disjuncts.exists(evalQuery(_, toks, pos))
    case cs: ConstScoreQuery => evalQuery(cs.query, toks, pos)
    case sq: SynonymQuery    => sq.synonyms.exists(toks.contains)
    case cf: graft.search.CombinedFieldQuery => toks.contains(cf.term)
    case fq: graft.search.FeatureQuery => toks.contains(fq.term)
    case pq: PhraseQuery =>
      pq.phraseTerms.forall(toks.contains) && {
        val p = pos()
        val slotPos = pq.phraseTerms.map(p(_)).toArray
        val f =
          if (pq.slop > 0) IndexSearcher.countSloppy(slotPos, pq.slop)
          else IndexSearcher.countExactOffsets(slotPos, slotPos.indices.toArray)
        f > 0
      }
    case iq: graft.search.IntervalQuery =>
      iq.source.required.forall(toks.contains) && {
        val p = pos()
        graft.search.Intervals
          .eval(iq.source, t => p.getOrElse(t, Array.emptyIntArray))
          .nonEmpty
      }
    case mq: MultiPhraseQuery =>
      mq.slots.forall { case (_, slotTs) => slotTs.exists(toks.contains) } && {
        val p = pos()
        val slotPos = mq.slots.map { case (_, slotTs) =>
          slotTs.flatMap(p.get).flatten.distinct.sorted.toArray
        }.toArray
        val f =
          if (mq.slop > 0) IndexSearcher.countSloppy(slotPos, mq.slop)
          else IndexSearcher.countExactOffsets(slotPos, mq.slots.map(_._1).toArray)
        f > 0
      }
    case dq: graft.search.MultiTermDictQuery =>
      toks.exists(graft.search.MultiTerm.matches(dq.spec, _))
    case bq: BoolQuery =>
      val shouldOk =
        if (bq.should.isEmpty) true
        else if (bq.minimumShouldMatch > 1)
          bq.should.count(evalQuery(_, toks, pos)) >= bq.minimumShouldMatch
        else bq.should.exists(evalQuery(_, toks, pos))
      bq.must.forall(evalQuery(_, toks, pos)) && bq.filter.forall(evalQuery(_, toks, pos)) &&
        shouldOk && !bq.mustNot.exists(evalQuery(_, toks, pos))
  }

  /** Trigger terms: a set such that ANY matching doc must contain at least
    * one of them — the Monitor's QueryIndex idea
    * (ref `/root/reference/lucene/monitor/src/java/org/apache/lucene/monitor/QueryIndex.java`:
    * stored queries are themselves indexed; a doc only evaluates queries
    * whose indexed terms it contains). Conjunctive clauses contribute the
    * smallest single-clause cover; disjunctions (OR / synonym / dismax)
    * contribute the union of their children's covers — so OR-only stored
    * queries are pruned too, not evaluated against every doc. `None` means
    * no cover exists (e.g. a pure negation) — always evaluated.
    */
  /** One trigger of a stored query's cover: an exact term probe or a
    * sorted-order range [lo, hi) (`hi == null` = unbounded) — the
    * dictionary-range analogue for multi-term stored queries, so 10k stored
    * prefix queries prune by range probes instead of evaluating against
    * every doc.
    */
  private[streaming] sealed trait Trig extends Serializable
  private[streaming] final case class TExact(t: String) extends Trig
  private[streaming] final case class TRange(lo: String, hi: String) extends Trig

  private[streaming] def triggers(q: Query): Option[Seq[Trig]] = {
    def unionAll(qs: Seq[Query]): Option[Seq[Trig]] = {
      val cs = qs.map(triggers)
      if (cs.exists(_.isEmpty)) None else Some(cs.flatten.flatten.distinct)
    }
    q match {
      case TermQuery(t)        => Some(Seq(TExact(t)))
      // matches nothing -> empty cover: never a candidate
      case graft.search.MatchNoneQuery => Some(Seq.empty)
      case BoostQuery(q2, _)   => triggers(q2)
      case cs: ConstScoreQuery => triggers(cs.query)
      case sq: SynonymQuery    => Some(sq.synonyms.map(TExact))
      case cf: graft.search.CombinedFieldQuery => Some(Seq(TExact(cf.term)))
      case fq: graft.search.FeatureQuery => Some(Seq(TExact(fq.term)))
      // every phrase term is required — any single one is a cover
      case pq: PhraseQuery     => Some(Seq(TExact(pq.phraseTerms.head)))
      // every slot is required — the smallest slot's term set is a cover
      case mq: MultiPhraseQuery =>
        Some(mq.slots.map(_._2).minBy(_.size).map(TExact))
      // required terms are conjunctive (any one covers); a pure-OR source
      // needs the union of its terms
      case iq: graft.search.IntervalQuery =>
        if (iq.source.required.nonEmpty) Some(Seq(TExact(iq.source.required.head)))
        else Some(iq.source.terms.distinct.map(TExact))
      // the dictionary-range cover: a matching doc must hold SOME token in
      // the spec's sorted range — prefix/range (and prefix-bounded
      // wildcards) prune by one ceiling probe per range; fuzzy and
      // prefix-free wildcards have no sorted bound (the reference's
      // automaton has none either) and stay always-evaluated
      case dq: graft.search.MultiTermDictQuery =>
        import graft.search.{IndexSearcher, MultiTerm}
        dq.spec match {
          case MultiTerm.Prefix(p) if p.nonEmpty =>
            Some(Seq(TRange(p, IndexSearcher.prefixUpper(p).orNull)))
          case MultiTerm.Range(lo, hi, il, ih) =>
            // normalize to [lo2, hi2): the NUL suffix is the exact string
            // successor, so exclusive-lo and inclusive-hi shift without
            // over- or under-matching any token
            val lo2 = if (il) lo else lo + "\u0000"
            val hi2 = if (ih) hi + "\u0000" else hi
            Some(Seq(TRange(lo2, hi2)))
          case MultiTerm.Wildcard(pat) =>
            val litPrefix = IndexSearcher.wildcardParts(pat)._2
            if (litPrefix.nonEmpty)
              Some(Seq(TRange(litPrefix, IndexSearcher.prefixUpper(litPrefix).orNull)))
            else None
          case _ => None
        }
      case dm: DisMaxQuery     => unionAll(dm.disjuncts)
      case bq: BoolQuery =>
        // any MUST/FILTER clause's cover works alone (the clause is
        // required); SHOULD clauses are also required here (>= 1 must
        // match, see evalQuery) so their union is an alternative cover —
        // pick the smallest available
        val conj = (bq.must ++ bq.filter).flatMap(triggers(_))
          .sortBy(_.size).headOption
        val shd = if (bq.should.isEmpty) None else unionAll(bq.should)
        (conj, shd) match {
          case (Some(a), Some(b)) => Some(if (a.size <= b.size) a else b)
          case (a, b)             => a.orElse(b)
        }
    }
  }

  /** Percolate a (static or streaming) document frame against stored
    * queries: emits (query_id, doc id) for every match, in one narrow pass
    * per doc batch, no shuffle. The query set ships once per executor as a
    * broadcast (plan size O(1) regardless of count), with a trigger-term
    * index so each doc only evaluates queries whose trigger it contains
    * (queries without a cover — e.g. pure negations — are always checked).
    * Cost per doc ≈ |tokens| map probes + |candidates| evaluations of
    * [[evalQuery]]. `evalCounter`, when given, counts those evaluations.
    */
  def percolate(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Query)],
      evalCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val covers = queries.zipWithIndex.map { case ((_, q), i) => (i, triggers(q)) }
    val indexed: Map[String, Array[Int]] = covers
      .flatMap { case (i, c) =>
        c.getOrElse(Seq.empty).collect { case TExact(t) => t -> i } }
      .groupBy(_._1).map { case (t, g) => t -> g.map(_._2).toArray }
    // dictionary-range triggers (multi-term stored queries): one sorted-set
    // ceiling probe per range per doc instead of evaluating the query
    // against every doc
    val ranges: Array[(String, String, Int)] = covers
      .flatMap { case (i, c) =>
        c.getOrElse(Seq.empty).collect { case TRange(lo, hi) => (lo, hi, i) } }
      .toArray
    val always: Array[Int] = covers.collect { case (i, None) => i }.toArray
    val bcQueries = spark.sparkContext.broadcast(queries.toArray)
    val bcIndex = spark.sparkContext.broadcast(indexed)
    val bcRanges = spark.sparkContext.broadcast(ranges)
    val bcAlways = spark.sparkContext.broadcast(always)
    docs.select(col(idCol).cast("long").as("doc"), split(col(textCol), " ").as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val qs = bcQueries.value
        val idx = bcIndex.value
        val rng = bcRanges.value
        val alw = bcAlways.value
        it.flatMap { case (id, toks) =>
          val set = toks.toSet
          // positions built at most once per doc, and only if some
          // candidate query actually contains a phrase clause
          var posCache: Map[String, Array[Int]] = null
          val pos: () => Map[String, Array[Int]] = () => {
            if (posCache == null)
              posCache = toks.zipWithIndex.groupBy(_._1)
                .map { case (t, g) => t -> g.map(_._2).toArray }
            posCache
          }
          val cands = new java.util.TreeSet[Integer]()
          alw.foreach(cands.add(_))
          set.foreach(t => idx.get(t).foreach(_.foreach(cands.add(_))))
          if (rng.nonEmpty) {
            // sorted token view: each range trigger is one ceiling probe —
            // a doc token in [lo, hi) makes the query a candidate
            val sorted = new java.util.TreeSet[String]()
            set.foreach(sorted.add(_))
            rng.foreach { case (lo, hi, qi) =>
              val c = sorted.ceiling(lo)
              if (c != null && (hi == null || c < hi)) cands.add(qi): Unit
            }
          }
          val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
          val iter = cands.iterator()
          while (iter.hasNext) {
            val i = iter.next()
            val (qid, q) = qs(i)
            evalCounter.foreach(_.add(1L))
            if (evalQuery(q, set, pos)) out += ((qid, id))
          }
          out
        }
      }.toDF("query_id", "doc")
  }

  /** Stream the documents of a parquet directory through the percolator and
    * collect all matches (AvailableNow → terminates when caught up).
    */
  /** Spark's streaming file source wants a directory; single-file inputs get
    * a symlinked temp dir.
    */
  private def asStreamDir(path: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory) path
    else {
      val d = java.nio.file.Files.createTempDirectory("graft-stream")
      java.nio.file.Files.createSymbolicLink(
        d.resolve(f.getName), f.toPath.toAbsolutePath)
      d.toString
    }
  }

  def percolateParquetStream(
      spark: SparkSession, parquetDir0: String, idCol: String, textCol: String,
      queries: Seq[(String, Query)], checkpointDir: String
  ): DataFrame = {
    val parquetDir = asStreamDir(parquetDir0)
    val schema = spark.read.parquet(parquetDir).schema
    val stream = spark.readStream.schema(schema).parquet(parquetDir)
    val matched = percolate(stream, idCol, textCol, queries)
    val sink = s"percolate_${System.nanoTime()}"
    val q = matched.writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink)
  }

  /** Streaming NRT index ingest — the re-expression of the reference's
    * near-real-time flow (`index/DirectoryReader.openIfChanged`,
    * `search/SearcherManager`): a document stream lands as one committed
    * segment per micro-batch (immediately searchable via
    * `IndexSearcher.open`), with the tiered merge policy applied after each
    * batch. Exactly-once across restarts: the stream checkpoint replays
    * unfinished batches and `buildSegment`'s manifest commit makes the
    * replay a no-op for already-committed segments.
    *
    * @return number of committed batches this invocation processed
    */
  def indexStream(
      spark: SparkSession,
      srcParquetDir0: String,
      indexDir: String,
      cfg: graft.index.IndexConfig,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8
  ): Int = {
    import graft.index.{IndexBuilder, LiveSet, SegmentMerger, TieredMergePolicy}
    val srcDir = asStreamDir(srcParquetDir0)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    // crash leftovers (segments outside the live set) from an interrupted
    // merge swap — safe to drop before the checkpoint replay starts: a
    // replayed batch rebuilds its segment deterministically
    LiveSet.gcOrphans(indexDir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val pages = batch.select(col("url"), col("text")).as[(String, String)]
        val segName = f"seg$id%09d"
        val m = IndexBuilder.buildSegment(pages, s"$indexDir/$segName", cfg)
        LiveSet.add(indexDir, Seq(segName)) // idempotent on replay
        batches.incrementAndGet()
        // merge-scheduler pass (driver-side, after each commit): the live
        // set — not the directory listing — feeds the policy, and each
        // merge swaps the live set atomically BEFORE deleting its inputs
        // (the reference's segments_N protocol; any crash leaves either
        // the old or the new set fully intact)
        var plan = TieredMergePolicy.findMerges(LiveSet.manifests(indexDir))
        var round = 0
        while (plan.nonEmpty) {
          val outName = f"merge_${id}%09d_$round%02d"
          SegmentMerger.merge(spark, plan.head, s"$indexDir/$outName", cfg)
          val inputNames = plan.head.map(d => new java.io.File(d).getName)
          LiveSet.swap(indexDir, inputNames, Seq(outName))
          // orphan GC instead of explicit rm: snapshot-pinned inputs survive
          LiveSet.gcOrphans(indexDir)
          round += 1
          plan = TieredMergePolicy.findMerges(LiveSet.manifests(indexDir))
        }
        val _ = m
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batches.get()
  }

  /** Event-time session windows over a parquet stream: per-user sessions
    * split at `gap` of inactivity (`session_window` stateful aggregation —
    * the Structured Streaming sessionization shape).
    */
  def sessionWindows(
      spark: SparkSession, parquetDir0: String, gap: String,
      watermark: String, checkpointDir: String
  ): DataFrame = {
    val parquetDir = asStreamDir(parquetDir0)
    val schema = spark.read.parquet(parquetDir).schema
    val stream = spark.readStream.schema(schema).parquet(parquetDir)
    val agg = stream
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))
    val sink = s"sess_${System.nanoTime()}"
    val q = agg.writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink)
  }

  /** Streaming exactly-once aggregation under at-least-once delivery: the
    * source redelivers every event (`deliveries` copies of the parquet
    * file, the classic duplicated-delivery failure mode), the stream
    * deduplicates on the event key before aggregating
    * (`dropDuplicates` keyed state — the Structured Streaming dedup
    * operator; at 100 TB the state is bounded with
    * `withWatermark` + `dropDuplicatesWithinWatermark`, same plan shape),
    * so the counts equal the single-delivery truth regardless of how the
    * redelivered files interleave into micro-batches.
    */
  def dedupedEventCounts(
      spark: SparkSession, parquetFile: String, keyCol: String,
      checkpointDir: String, deliveries: Int = 2
  ): DataFrame = {
    require(deliveries >= 1, s"bad deliveries $deliveries")
    val src = new java.io.File(parquetFile)
    // single file or a Spark-written directory of part files
    val parts =
      if (src.isDirectory)
        src.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(src)
    require(parts.nonEmpty, s"no parquet parts under $parquetFile")
    val d = java.nio.file.Files.createTempDirectory("graft-stream-dup")
    for (i <- 0 until deliveries; (p, j) <- parts.zipWithIndex)
      java.nio.file.Files.createSymbolicLink(
        d.resolve(s"delivery_${i}_$j.parquet"), p.toPath.toAbsolutePath)
    val schema = spark.read.parquet(d.toString).schema
    val agg = spark.readStream.schema(schema).parquet(d.toString)
      .dropDuplicates(keyCol)
      .groupBy(col("event_type"))
      // exact decimal summation: double partial sums are order-dependent
      // across micro-batches and would flip the 4-dp round
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,6)")).cast("double"), 4)
          .as("sum_value"))
    val sink = s"dedupagg_${System.nanoTime()}"
    val q = agg.writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink)
  }

  /** Event-time tumbling-window aggregation with a watermark over a parquet
    * stream: (window_start, event_type) -> count, sum(value).
    */
  def windowedEventCounts(
      spark: SparkSession, parquetDir0: String, windowLen: String,
      watermark: String, checkpointDir: String
  ): DataFrame = {
    val parquetDir = asStreamDir(parquetDir0)
    val schema = spark.read.parquet(parquetDir).schema
    val stream = spark.readStream.schema(schema).parquet(parquetDir)
    val agg = stream
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ parquet → event time
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
    val sink = s"winagg_${System.nanoTime()}"
    val q = agg.writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink)
  }

  /** Stream-stream interval join — the Structured Streaming join operator
    * (attribution shape: every `rightType` event by the same user within
    * `windowLen` AFTER a `leftType` event). Both sides carry event-time
    * watermarks and the join condition carries the time-range bound, so the
    * state store evicts rows as the watermark passes — at 100 TB the state
    * held per side is one window's worth of events, never the stream.
    * Inner join in append mode: matches emit as soon as both sides arrive
    * (no end-of-window wait). Returns (left_id, right_id, user_id) pairs.
    */
  def intervalJoinPairs(
      spark: SparkSession, parquetDir0: String,
      leftType: String, rightType: String, windowLen: String,
      checkpointDir: String
  ): DataFrame = {
    val parquetDir = asStreamDir(parquetDir0)
    val schema = spark.read.parquet(parquetDir).schema
    def side(t: String, a: String) =
      spark.readStream.schema(schema).parquet(parquetDir)
        .where(col("event_type") === t)
        .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_user"),
          col("ts").cast("timestamp").as(s"${a}_ts"))
        .withWatermark(s"${a}_ts", windowLen)
    val joined = side(leftType, "l").join(side(rightType, "r"),
      expr(s"l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + interval $windowLen"))
      .select(col("l_id").as("left_id"), col("r_id").as("right_id"),
        col("l_user").as("user_id"))
    val sink = s"ivjoin_${System.nanoTime()}"
    val q = joined.writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink)
  }
}
