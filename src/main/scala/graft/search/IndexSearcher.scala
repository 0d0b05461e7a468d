package graft.search

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{PartitionPruningRDD, RDD, UnionRDD}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.analysis.StandardAnalyzer
import graft.index.{Manifest, SegmentManifest, Tombstones}
import graft.index.Schema.{CollectionStats, TermStat}

/** Scoring precision mode: float-exact reproduces the reference's
  * `BM25Similarity` float semantics (rank-identity); double mode mirrors a
  * double-math SQL brute force (used by the DuckDB oracle entries).
  */
sealed trait Precision extends Serializable
object Precision {
  case object FloatExact extends Precision
  case object DoubleOracle extends Precision
}

/** Pluggable per-field scoring model (ref `IndexSearcher#setSimilarity`,
  * `search/similarities/Similarity.java`): BM25 (default), ClassicSimilarity
  * (TF-IDF), BooleanSimilarity and the LM Dirichlet language model. All
  * share the impacts skyline for block-max pruning — each is non-decreasing
  * in freq and non-increasing in length, so the (freq, norm) competitive
  * frontier bounds any of them.
  */
sealed trait Similarity extends Serializable
object Similarity {
  case object Bm25 extends Similarity
  case object Classic extends Similarity
  case object Bool extends Similarity
  /** Dirichlet-smoothed language model (ref `LMDirichletSimilarity.java`):
    * score = boost·max(0, ln(1 + freq/(μ·p)) + ln(μ/(dl + μ))) with
    * p = (ttf+1)/(sttf+1) (`LMSimilarity.DefaultCollectionModel`).
    */
  final case class LmDirichlet(mu: Double = 2000.0) extends Similarity {
    require(mu >= 0 && java.lang.Double.isFinite(mu), s"illegal mu $mu")
  }
  /** Jelinek-Mercer-smoothed language model (ref
    * `LMJelinekMercerSimilarity.java`): score = boost·ln(1 +
    * ((1−λ)·freq/dl)/(λ·p)).
    */
  final case class LmJelinekMercer(lambda: Double = 0.1) extends Similarity {
    require(lambda > 0 && lambda <= 1, s"illegal lambda $lambda")
  }

  /** DFR basic models (ref `BasicModelIn.java` / `BasicModelIF.java`). */
  sealed trait DfrModel extends Serializable
  object DfrModel { case object In extends DfrModel; case object IF extends DfrModel }

  /** DFR after-effects (ref `AfterEffectL.java` / `AfterEffectB.java`). */
  sealed trait DfrAfterEffect extends Serializable
  object DfrAfterEffect {
    case object L extends DfrAfterEffect; case object B extends DfrAfterEffect
  }

  /** Term-frequency normalizations shared by DFR and IB (ref
    * `NormalizationH1/H2/H3/Z.java`; defaults as the reference: H3 μ=800,
    * Z z=0.30).
    */
  sealed trait TfNorm extends Serializable
  object TfNorm {
    final case class H1(c: Double = 1.0) extends TfNorm
    final case class H2(c: Double = 1.0) extends TfNorm
    final case class H3(mu: Double = 800.0) extends TfNorm {
      require(mu > 0, s"illegal mu $mu")
    }
    final case class Z(z: Double = 0.30) extends TfNorm {
      require(z > 0 && z < 0.5, s"illegal z $z") // NormalizationZ:38-41
    }
  }

  /** Divergence from randomness (ref `DFRSimilarity.java`); the default
    * combination is the classic InL2 (I(n) model, L after-effect, H2).
    */
  final case class Dfr(
      model: DfrModel = DfrModel.In,
      afterEffect: DfrAfterEffect = DfrAfterEffect.L,
      normalization: TfNorm = TfNorm.H2()) extends Similarity

  /** IB distributions (ref `DistributionLL.java` / `DistributionSPL.java`). */
  sealed trait IbDist extends Serializable
  object IbDist { case object LL extends IbDist; case object SPL extends IbDist }

  /** IB lambdas (ref `LambdaDF.java` / `LambdaTTF.java`). */
  sealed trait IbLambda extends Serializable
  object IbLambda { case object DF extends IbLambda; case object TTF extends IbLambda }

  /** Information-based model (ref `IBSimilarity.java`); default LL-D-H1. */
  final case class Ib(
      distribution: IbDist = IbDist.LL,
      lambda: IbLambda = IbLambda.DF,
      normalization: TfNorm = TfNorm.H1()) extends Similarity

  /** DFI independence measures (ref `IndependenceStandardized/Saturated/
    * ChiSquared.java`).
    */
  sealed trait DfiMeasure extends Serializable
  object DfiMeasure {
    case object Standardized extends DfiMeasure
    case object Saturated extends DfiMeasure
    case object ChiSquared extends DfiMeasure
  }

  /** Divergence from independence (ref `DFISimilarity.java`). */
  final case class Dfi(measure: DfiMeasure = DfiMeasure.Standardized)
      extends Similarity

  /** Axiomatic variants (ref `AxiomaticF1EXP/F1LOG/F2EXP/F2LOG/F3EXP/
    * F3LOG.java`): F1 = tf·ln·idf, F2 = tfln·idf, F3 = tf·idf − gamma;
    * EXP/LOG pick the idf form (((N+1)/n)^k vs ln((N+1)/n)).
    */
  sealed trait AxVariant extends Serializable
  object AxVariant {
    case object F1EXP extends AxVariant; case object F1LOG extends AxVariant
    case object F2EXP extends AxVariant; case object F2LOG extends AxVariant
    case object F3EXP extends AxVariant; case object F3LOG extends AxVariant
  }

  /** Axiomatic approaches to IR (ref `search/similarities/Axiomatic.java`,
    * Fang & Zhai SIGIR'05); hyperparameters and defaults as the reference
    * (:38-104): s = growth, k = primitive weighting (EXP only), queryLen
    * feeds F3's gamma.
    */
  final case class Axiomatic(
      variant: AxVariant = AxVariant.F2EXP,
      s: Double = 0.25, k: Double = 0.35, queryLen: Int = 1) extends Similarity {
    require(s >= 0 && s <= 1 && java.lang.Double.isFinite(s), s"illegal s $s")
    require(k >= 0 && k <= 1 && java.lang.Double.isFinite(k), s"illegal k $k")
    require(queryLen >= 0, s"illegal queryLen $queryLen")
  }

  /** Raw term frequency (ref `RawTFSimilarity.java`): score = boost·freq. */
  case object RawTf extends Similarity

  /** Sweet-spot tuned classic TF-IDF (ref `misc/SweetSpotSimilarity.java`):
    * plateau length norm flat at 1.0 for doc lengths in [lnMin, lnMax]
    * (sqrt falloff outside — short docs penalized too) and a baseline tf
    * floor; defaults as the reference setters' documented defaults except
    * the plateau, which the reference leaves degenerate ([1,1]).
    */
  final case class SweetSpot(
      lnMin: Int = 1, lnMax: Int = 1, steepness: Double = 0.5,
      tfBase: Double = 0.0, tfMin: Double = 0.0) extends Similarity {
    require(lnMin >= 1 && lnMax >= lnMin, s"illegal plateau [$lnMin,$lnMax]")
    require(steepness > 0, s"illegal steepness $steepness")
    require(tfBase >= 0 && tfMin >= 0, s"illegal tf floor ($tfBase,$tfMin)")
  }

  /** Sum of sub-model scores (ref `MultiSimilarity.java:55-69` — double
    * accumulation, float narrowing in float-exact mode).
    */
  final case class Multi(sims: Seq[Similarity]) extends Similarity {
    require(sims.nonEmpty, "empty sub-similarity list")
    require(!sims.exists(_.isInstanceOf[PerField]),
      "PerField wraps Multi, not vice versa (ref PerFieldSimilarityWrapper)")
  }

  /** Per-field scoring model (ref `PerFieldSimilarityWrapper.java`): the
    * field resolved from the query term picks the model; unlisted fields
    * (and bare default-field terms) use `default`.
    */
  final case class PerField(
      byField: Map[String, Similarity], default: Similarity = Bm25)
      extends Similarity {
    require(!default.isInstanceOf[PerField] &&
      !byField.valuesIterator.exists(_.isInstanceOf[PerField]),
      "nested PerField")
  }

  /** The model `field` scores under — identity for every non-PerField sim. */
  def forField(sim: Similarity, field: String): Similarity = sim match {
    case PerField(m, d) => m.getOrElse(field, d)
    case s              => s
  }
}

final case class ScoredDoc(docId: Long, score: Double)

/** One row of [[IndexSearcher.profile]]'s per-stage breakdown. */
final case class ProfileRow(stage: String, seconds: Double, detail: String)

/** One term-dictionary row tagged with its segment ordinal (driver-side
  * aggregation input), with the first and last of the segment's slices that
  * hold the term's blocks.
  */
final case class SegTermRow(
    seg: Int,
    term: String,
    docFreq: Long,
    totalTermFreq: Long,
    firstSlice: Int,
    lastSlice: Int
)

/** One posting block of a query, tagged with its segment and bucket
  * ([[IndexSearcher.blocksFor]]).
  */
final case class QBlock(
    term: String,
    seg: Int,
    bucket: Long,
    firstDocId: Long,
    lastDocId: Long,
    numDocs: Int,
    docsPacked: Array[Byte],
    freqsPacked: Array[Byte],
    normsPacked: Array[Byte],
    impacts: Array[Byte],
    posPacked: Array[Byte] = null
)

/** Distributed BM25 top-k search over one or more index segments.
  *
  * Execution shape (the re-expression of
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:747-858`
  * — leaf slices scored in parallel, then reduced):
  *
  *  1. term stats: binary search of each segment's term dictionary, held
  *     on the driver (loaded once per segment with its slices, see
  *     [[SegmentReader]]) — the on-heap terms index walk; no Spark job. A
  *     segment whose Bloom filter rejects every term is not consulted (nor
  *     loaded).
  *  2. the slices to score: a segment's postings are resident [[Slice]]s,
  *     each a bucket range (Lucene's intra-segment doc-range slice), and
  *     the dictionary names the slices that hold each term.
  *  3. one RDD job over those slices (`SparkContext.runJob`, no SQL plan,
  *     no Parquet scan): each task seeks the query's terms in its slice,
  *     copies out their blocks, and scores the slice as one doc range:
  *     ONE scorer tree, driven by block-max WAND ([[Wand]]) in docId order
  *     into ONE collector, as a Lucene leaf is scored by one `BulkScorer`;
  *     it returns the slice's top-k.
  *  4. the driver merges the per-slice top-k with the reference tie-break
  *     (score desc, docId asc) into a local Dataset.
  *
  * Step 3 is the query's only Spark work: one job, one task per slice, no
  * shuffle. The job is a [[Slice.Pass]], so Spark's closure cleaner never
  * runs on the query path.
  *
  * BM25 statistics are global across segments (docFreq/docCount summed over
  * the whole index), so scores are independent of segmentation.
  *
  * @param shared readers of an earlier searcher; those whose segment is
  *   still here, with the same manifest, are reused instead of re-resolved
  */
final class IndexSearcher(
    val spark: SparkSession,
    val segments: Seq[SegmentManifest],
    val analyzer: StandardAnalyzer = StandardAnalyzer.Default,
    val precision: Precision = Precision.FloatExact,
    k1: Double = 1.2d, // 1.2f when narrowed — widening 1.2f would NOT be 1.2d
    b: Double = 0.75d,
    val similarity: Similarity = Similarity.Bm25,
    shared: Seq[SegmentReader] = Nil,
    sharedTombstones: Option[Broadcast[Array[Tombstones]]] = None
) extends Serializable {

  import spark.implicits._

  /** Per-segment read state, in segment order (driver only). */
  @transient private[search] val readers: Array[SegmentReader] = {
    val prev = shared.iterator.map(r => r.manifest.dir -> r).toMap
    segments.map(m => prev.get(m.dir).filter(_.manifest == m)
      .getOrElse(new SegmentReader(spark, m))).toArray
  }

  /** These segments under another scoring model (ref
    * `IndexSearcher#setSimilarity`): the same analyzer, precision, k1 and
    * b, and this searcher's readers and tombstones, so nothing is resolved
    * or loaded again.
    */
  def withSimilarity(sim: Similarity): IndexSearcher =
    new IndexSearcher(spark, segments, analyzer, precision, k1, b, sim, shared = readers.toSeq,
      sharedTombstones = Some(tombstones))

  /** Unpersist the resident slices of every segment of this searcher. */
  def release(): Unit = readers.foreach(_.release())

  /** docBase per segment (cumulative maxDocId+1). */
  val bases: Array[Long] =
    segments.map(_.maxDocId + 1).scanLeft(0L)(_ + _).init.toArray

  val stats: CollectionStats = CollectionStats(
    docCount = segments.map(_.docCount).sum,
    sumTotalTermFreq = segments.map(_.sumTotalTermFreq).sum
  )

  /** Per-field collection stats summed across segments (multi-field
    * manifests); fields without explicit stats fall back to the global
    * stats (single-field segments, where global == default-field).
    */
  private val fieldStatsMap: Map[String, CollectionStats] =
    segments.flatMap(_.fieldStats).groupBy(_.field).map { case (f, ss) =>
      f -> CollectionStats(ss.map(_.docCount).sum, ss.map(_.sumTotalTermFreq).sum)
    }

  /** BM25 stats scope for a FieldKey-encoded term (ref per-field
    * `CollectionStatistics`, `search/IndexSearcher.java#collectionStatistics`).
    */
  def statsFor(field: String): CollectionStats = fieldStatsMap.getOrElse(field, stats)

  /** Per-segment tombstones (the liveDocs complement, ref
    * `Lucene90LiveDocsFormat`): deleted docs are hidden from every read
    * path; collection stats intentionally stay stale until a merge purges
    * (the reference's semantics). Compact (bitmap above 1/64 density,
    * sorted array below) and shipped to executors as a Spark broadcast —
    * one copy per executor, not serialized into every query closure.
    */
  private val tombstones: Broadcast[Array[Tombstones]] = sharedTombstones.getOrElse(
    spark.sparkContext.broadcast(
      segments.map(s =>
        graft.index.Deletes.readTombstones(spark, s.dir, s.maxDocId)).toArray))

  /** True when any segment carries un-merged deletes. */
  def hasDeletes: Boolean = tombstones.value.exists(!_.isEmpty)

  def parse(s: String): Query = Query.parse(s, analyzeOne)

  private def analyzeOne(t: String): String = {
    val toks = analyzer.tokens(t)
    if (toks.isEmpty) t else toks.head.term
  }

  /** Classic-syntax parser with dictionary-backed multi-term rewrite — the
    * reference's `QueryParser` + `MultiTermQuery.rewrite(reader)` pairing:
    * quoted phrases (`"a b"`, `"a b"~2`) become [[PhraseQuery]] nodes
    * (positional index required); prefix/wildcard/range atoms expand against
    * the dictionary into constant-score booleans (the reference's
    * CONSTANT_SCORE rewrite default for those query types,
    * `MultiTermQuery.java`); fuzzy atoms expand into a scoring boolean (the
    * closest exact analogue of the top-terms blended rewrite
    * `FuzzyQuery.java` uses). Expansion is capped at `maxExpansions`
    * (`IndexSearcher.maxClauseCount` spirit, default 1024).
    */
  def parseFull(s: String, maxExpansions: Int = 1024): Query =
    positional(Query.parse(s, analyzeOne, dictRewriter(maxExpansions)))

  /** The one positions check: phrase, multiphrase, interval and span
    * matching read indexed positions only (ref `PhraseWeight`, which throws
    * on a field indexed without them), so a segment built without
    * `storePositions` fails here, on the driver, before any job.
    */
  private def requirePositions(): Unit =
    require(segments.forall(_.hasPositions),
      "phrase, interval and span queries need an index built with storePositions")

  /** `q`, after [[requirePositions]] when it holds a positional node. */
  private def positional(q: Query): Query = {
    if (IndexSearcher.hasPhrase(q)) requirePositions()
    q
  }

  /** The dictionary-backed `MultiTermQuery.rewrite(reader)` used by both
    * parsers: prefix/wildcard/range expand constant-score, fuzzy scoring
    * (the reference's per-type rewrite defaults, `MultiTermQuery.java`).
    */
  private def dictRewriter(maxExpansions: Int): MultiTerm => Query = {
    def scoringOr(terms: Seq[String]): Query =
      BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur)))
    // Constant-score atoms expand with max+1 probing: a result within the
    // cap keeps the enumerated OR (filter-cache-friendly keys); overflow
    // means enumeration would silently truncate — switch to the COMPLETE
    // dictionary rewrite, which ships the spec to every slice with no term
    // list at all (the reference's CONSTANT_SCORE bitset rewrite never
    // enumerates either, `search/MultiTermQuery.java`).
    def constOr(spec: MultiTerm, terms: Seq[String]): Query =
      if (terms.length > maxExpansions) ConstScoreQuery(MultiTermDictQuery(spec), 1.0)
      else ConstScoreQuery(scoringOr(terms), 1.0)
    val f: MultiTerm => Query = {
      case MultiTerm.Fuzzy(t, edits) =>
        // scoring rewrite: caps by docFreq (TopTermsRewrite), never silently
        // alphabetical — see expandFuzzy
        scoringOr(expandFuzzy(t, maxEdits = edits, max = maxExpansions))
      case spec => constOr(spec, expandTerms(spec, maxExpansions + 1))
    }
    f
  }

  /** End-user simple syntax with the same dictionary-backed rewrite — the
    * reference's `queryparser/simple/SimpleQueryParser.java` pairing; never
    * throws on malformed input.
    */
  def parseSimple(s: String, defaultAnd: Boolean = false,
      maxExpansions: Int = 1024): Query =
    positional(SimpleParser.parse(s, analyzeOne, dictRewriter(maxExpansions), defaultAnd))

  /** Surround proximity syntax onto the intervals algebra — the
    * reference's `queryparser/surround` pairing; see [[SurroundParser]].
    * Distance operators need a positional index.
    */
  def parseSurround(s: String, maxExpansions: Int = 1024): Query =
    positional(SurroundParser.parse(s, analyzeOne, pat => expandWildcard(pat, maxExpansions)))

  /** Phrase with embedded multi-term atoms — the reference's
    * `queryparser/complexPhrase/ComplexPhraseQueryParser.java`: inside the
    * quotes each whitespace token may be a plain term, a wildcard
    * (`quer*`, `?ata`), or a fuzzy term (`quary~`, `quary~1`); every
    * multi-term atom expands against the dictionary and the phrase becomes
    * a [[MultiPhraseQuery]] slot per position (the reference rewrites to
    * exactly this union-postings shape). A token the analyzer drops
    * (stopword) leaves a position gap, like the classic phrase path; an
    * atom with no dictionary matches makes the phrase unmatchable
    * ([[MatchNoneQuery]]). Fuzzy edits cap at 2 (`LevenshteinAutomata`
    * limit).
    */
  def parseComplexPhrase(phrase: String, slop: Int = 0,
      maxExpansions: Int = 1024): Query = {
    requirePositions()
    val FuzzyRe = "^(.*?)~([0-9]?)$".r
    var pos = 0
    val slots = Seq.newBuilder[(Int, Seq[String])]
    var dead = false
    phrase.trim.split("\\s+").iterator.filter(_.nonEmpty).foreach { tok =>
      val (body, edits) = tok match {
        case FuzzyRe(b, e) if b.nonEmpty => (b, if (e.isEmpty) 2 else e.toInt)
        case _                           => (tok, -1)
      }
      // an atom combining wildcards with a fuzzy suffix ('quar*~1') has no
      // defined semantics (the reference's parser rejects it too) — fail
      // loudly instead of silently discarding the ~N
      require(edits < 0 || !body.exists(c => c == '*' || c == '?'),
        s"complex phrase atom '$tok' mixes wildcard and fuzzy syntax")
      if (body.exists(c => c == '*' || c == '?')) {
        val ts = expandWildcard(body.toLowerCase(java.util.Locale.ROOT),
          maxExpansions)
        if (ts.isEmpty) dead = true else slots += pos -> ts
        pos += 1
      } else if (edits > 0) {
        val ts = expandFuzzy(analyzeOne(body), math.min(edits, 2),
          maxExpansions)
        if (ts.isEmpty) dead = true else slots += pos -> ts
        pos += 1
      } else {
        val toks = analyzer.tokens(body)
        if (toks.isEmpty) pos += 1 // stopword: position gap, slot skipped
        else { slots += pos -> Seq(toks.head.term); pos += 1 }
      }
    }
    val built = slots.result()
    if (dead || built.isEmpty) MatchNoneQuery
    else MultiPhraseQuery(built, slop)
  }

  // ------------------------------------------------------------- stats

  /** Segments skipped by the Bloom pre-test (observability for specs and
    * the bench skip-accounting row).
    */
  val bloomSkips = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The dictionary rows of `terms` in every segment, tagged with the
    * segment ordinal and the slices holding the term, and aggregated by the
    * caller. Lookups are driver-side binary searches. A segment whose Bloom
    * filter (ref `codecs/bloom/BloomFilteringPostingsFormat.java`, built
    * with `IndexConfig.bloomTerms`) rejects EVERY term is skipped before it
    * loads — on an NRT tail of many small segments a primary-key-style
    * probe loads only the segments that may hold it.
    */
  private def segTermRows(terms: Seq[String]): Seq[SegTermRow] =
    if (terms.isEmpty) Seq.empty
    else {
      val distinct = terms.distinct
      readers.indices.flatMap { i =>
        val maybe = readers(i).bloom match {
          case Some(bf) => distinct.filter(bf.mayContain)
          case None     => distinct
        }
        if (maybe.isEmpty) bloomSkips.incrementAndGet()
        maybe.flatMap(readers(i).dict.lookup(i, _))
      }
    }

  private def aggStats(rows: Seq[SegTermRow]): Map[String, TermStat] =
    rows.groupBy(_.term).map { case (t, rs) =>
      t -> TermStat(t, rs.map(_.docFreq).sum, rs.map(_.totalTermFreq).sum)
    }

  /** Global term stats for the given terms (driver-side binary searches of
    * the resident dictionaries).
    */
  def termStats(terms: Seq[String]): Map[String, TermStat] =
    aggStats(segTermRows(terms))

  /** Every dictionary term `t` with `lo <= t < hi` (no upper bound when
    * `hi` is None) that passes `keep`, in term order, with docFreq and
    * totalTermFreq summed over the segments — the one read path of the
    * term dictionary. Each segment's resident [[TermDict]] is walked from
    * `lo`; once the dictionaries are loaded this runs no Spark job.
    */
  def dictTerms(lo: String = "", hi: Option[String] = None,
      keep: String => Boolean = _ => true): Seq[TermStat] = {
    val perSeg = readers.map(_.dict.walk(lo, hi, keep).toSeq)
    if (perSeg.size == 1) perSeg.head
    else perSeg.flatten.groupBy(_.term).iterator.map { case (t, rs) =>
      TermStat(t, rs.map(_.docFreq).sum, rs.map(_.totalTermFreq).sum)
    }.toSeq.sortBy(_.term)
  }

  /** The dictionary terms a multi-term spec matches: the range walk its
    * literal prefix bounds, verified by [[MultiTerm.matcher]] — the
    * reference's `AutomatonTermsEnum`, which seeks to the automaton's
    * common prefix and walks the whole dictionary when there is none.
    */
  def specTerms(spec: MultiTerm): Seq[TermStat] = {
    val (lo, hi) = IndexSearcher.specRange(spec)
    dictTerms(lo, hi, MultiTerm.matcher(spec))
  }

  /** Multi-term expansion against the sorted term dictionary (the automaton
    * intersection of `search/PrefixQuery`/`TermRangeQuery`/`AutomatonQuery`):
    * the first `max` matching terms in term order. Matches feed a
    * disjunction (`ScoringRewrite`).
    */
  def expandTerms(spec: MultiTerm, max: Int = 1024): Seq[String] =
    specTerms(spec).iterator.map(_.term).take(max).toSeq

  def expandPrefix(prefix: String, max: Int = 1024): Seq[String] =
    expandTerms(MultiTerm.Prefix(prefix), max)

  def expandRange(lo: String, hi: String, max: Int = 1024): Seq[String] =
    expandTerms(MultiTerm.Range(lo, hi, includeLo = true, includeHi = false), max)

  /** Smallest string strictly greater than every string with prefix `p`
    * (None when every char is Char.MaxValue — then no finite upper bound).
    */
  private def prefixUpper(p: String): Option[String] = IndexSearcher.prefixUpper(p)

  /** Regex expansion bounded by the pattern's mandatory literal prefix
    * ([[RegexPrefix.of]], the cheap core of the reference's
    * `Operations.getCommonPrefix` that `AutomatonTermsEnum` seeks with):
    * the walk covers `[prefix, prefix+)` and the regex verifies each term
    * there (`find`, Spark's `rlike` semantics). Unanchored or prefix-free
    * patterns walk the whole dictionary — the reference's behavior for
    * automata with no common prefix.
    */
  def expandRegex(re: String, max: Int = 1024): Seq[String] = {
    val p = RegexPrefix.of(re)
    val pattern = java.util.regex.Pattern.compile(re)
    dictTerms(p, prefixUpper(p), t => pattern.matcher(t).find()).iterator
      .map(_.term).take(max).toSeq
  }

  /** Wildcard pattern (`*` = any run, `?` = one char), compiled to an
    * anchored regex over the dictionary (ref `search/WildcardQuery.java:38`
    * `toAutomaton`); the literal prefix before the first wildcard bounds
    * the walk. Every non-alphanumeric literal is backslash-escaped
    * (including backslash itself). A pattern with no literal prefix
    * (`*ing`, `*a*`) walks the whole dictionary, as the reference's
    * automaton walk does.
    */
  def expandWildcard(pattern: String, max: Int = 1024): Seq[String] =
    expandTerms(MultiTerm.Wildcard(pattern), max)

  /** Scorers for every key a query needs: per-term BM25 scorers plus blended
    * pseudo-term scorers for synonym nodes (docFreq = max over members,
    * ref `search/SynonymQuery.java` stats blending).
    */
  private def scorerMap(query: Query, ts: Map[String, TermStat]): Map[String, SimScorer] = {
    def walk(q: Query, boost: Double): Map[String, SimScorer] = q match {
      case TermQuery(t) => Map(Executor.skey(t, boost) -> scorerFor(t, ts, boost))
      case MatchNoneQuery => Map.empty
      case BoostQuery(inner, b2) => walk(inner, boost * b2)
      case sq: SynonymQuery =>
        val stats = sq.synonyms.flatMap(ts.get)
        val df = if (stats.isEmpty) 0L else stats.map(_.docFreq).max
        val ttf = stats.map(_.totalTermFreq).sum // SynonymQuery ttf = sum
        Map(Executor.skey(sq.key, boost) -> fieldSim(
          graft.index.FieldKey.fieldOf(sq.synonyms.head), Seq(TermStat(sq.key, df, ttf)), boost))
      case cf: CombinedFieldQuery =>
        Map(Executor.skey(cf.key, boost) -> combinedFieldSim(cf, ts, boost))
      case fq: FeatureQuery =>
        // boost folds into the function weight (ref FeatureQuery weight
        // creation: the similarity never sees feature postings)
        Map(Executor.skey(fq.key, boost) -> new FeatureSimScorer(
          fq.function, fq.weight * boost, precision == Precision.FloatExact))
      case dm: DisMaxQuery => dm.disjuncts.iterator.flatMap(walk(_, boost)).toMap
      case cs: ConstScoreQuery => walk(cs.query, boost)
      case _: MultiTermDictQuery => Map.empty // const-scored, no SimScorer
      case pq: PhraseQuery =>
        Map(Executor.skey(pq.key, boost) -> phraseSim(pq, ts, boost))
      case mq: MultiPhraseQuery =>
        Map(Executor.skey(mq.key, boost) -> multiPhraseSim(mq, ts, boost))
      case _: IntervalQuery => Map.empty // saturation score needs no stats
      case bq: BoolQuery => bq.clauses.iterator.map(_._1).flatMap(walk(_, boost)).toMap
    }
    walk(query, 1.0)
  }

  /** Phrase weight: tf = phraseFreq, weighed over the stats of every
    * phrase position's term (the reference's `PhraseWeight` term-stats
    * array, see [[simScorerX]]); missing terms make the phrase unmatchable.
    */
  private def phraseSim(pq: PhraseQuery, ts: Map[String, TermStat], boost: Double): SimScorer =
    if (pq.phraseTerms.exists(t => !ts.contains(t))) new ConstScorer(0.0)
    else fieldSim(graft.index.FieldKey.fieldOf(pq.phraseTerms.head), pq.phraseTerms.map(ts), boost)

  /** MultiPhrase weight over every EXISTING term of every slot (the
    * reference's `MultiPhraseWeight` term-stats union); a slot with no
    * existing term makes the query unmatchable.
    */
  private def multiPhraseSim(
      mq: MultiPhraseQuery, ts: Map[String, TermStat], boost: Double): SimScorer = {
    val perSlot = mq.slots.map { case (_, slotTs) => slotTs.filter(ts.contains) }
    if (perSlot.exists(_.isEmpty)) new ConstScorer(0.0)
    else {
      val terms = perSlot.flatten.distinct
      fieldSim(graft.index.FieldKey.fieldOf(terms.head), terms.map(ts), boost)
    }
  }

  /** BM25F pseudo-term weight (ref `CombinedFieldQuery.CombinedFieldWeight`):
    * pseudo docFreq = max over the per-field term stats; pseudo collection
    * stats merge the per-field stats with docCount = max and
    * sumTotalTermFreq = Σ weight·sttf accumulated with the reference's
    * `long += double` truncation (`CombinedFieldQuery.java:311`), so avgdl
    * reflects the weighted field union.
    */
  private[search] def combinedFieldSim(
      cf: CombinedFieldQuery, ts: Map[String, TermStat], boost: Double): SimScorer = {
    val df = cf.fieldTerms.iterator
      .flatMap { case (t, _) => ts.get(t) }.map(_.docFreq)
      .foldLeft(0L)(math.max)
    var docCount = 0L
    var sttf = 0L
    cf.fields.foreach { case (f, w) =>
      val st = statsFor(f)
      docCount = math.max(docCount, st.docCount)
      sttf = (sttf + w * st.sumTotalTermFreq).toLong
    }
    // pseudo totalTermFreq = sum of weight*ttf (CombinedFieldQuery.java:285)
    var ttf = 0L
    cf.fieldTerms.foreach { case (t, w) =>
      ttf = (ttf + w * ts.get(t).map(_.totalTermFreq).getOrElse(0L)).toLong
    }
    simScorerX(Similarity.forField(similarity, graft.index.FieldKey.DefaultField),
      Seq(TermStat(cf.key, df, math.max(1L, ttf))), CollectionStats(docCount, sttf), boost)
  }

  /** Multi-field query parsing (ref
    * `queryparser/.../MultiFieldQueryParser.java`): every unscoped term (or
    * phrase) in the parsed tree expands into a SHOULD disjunction of its
    * field-scoped versions, with optional per-field boosts; explicitly
    * `field:`-scoped atoms stay scoped. `CombinedFieldQuery` is the
    * BM25F alternative when one blended score is wanted instead of a
    * per-field sum.
    */
  def parseMultiField(s: String, fields: Seq[(String, Double)]): Query = {
    require(fields.nonEmpty)
    def perField(mk: String => Query): Query =
      BoolQuery(fields.map { case (f, w) =>
        val scoped = mk(f)
        (if (w == 1.0) scoped else BoostQuery(scoped, w)) -> (Occur.Should: Occur)
      })
    def xf(q: Query): Query = q match {
      case TermQuery(t) if !t.contains(graft.index.FieldKey.Sep) =>
        perField(f => TermQuery(graft.index.FieldKey.encode(f, t)))
      case pq: PhraseQuery if !pq.phraseTerms.exists(_.contains(graft.index.FieldKey.Sep)) =>
        perField(f => PhraseQuery(
          pq.phraseTerms.map(graft.index.FieldKey.encode(f, _)), pq.slop))
      case BoolQuery(clauses, msm) =>
        BoolQuery(clauses.map { case (c, o) => xf(c) -> o }, msm)
      case BoostQuery(inner, b)  => BoostQuery(xf(inner), b)
      case cs: ConstScoreQuery   => ConstScoreQuery(xf(cs.query), cs.score)
      case dm: DisMaxQuery       => DisMaxQuery(dm.disjuncts.map(xf), dm.tieBreaker)
      case other                 => other
    }
    xf(parse(s))
  }

  /** Multi-term interval sources (ref `queries/intervals/Intervals.java`
    * `prefix`/`wildcard`/`fuzzyTerm`): the pattern expands against the
    * dictionary (bounded at `max`, the reference's 128-expansion default)
    * into an OR of term sources. An empty expansion degenerates to the
    * literal term source, which is absent from the dictionary and matches
    * nothing.
    */
  def intervalPrefix(prefix: String, max: Int = 128): Intervals.Source =
    orIntervalSource(prefix, expandPrefix(prefix, max))

  def intervalWildcard(pattern: String, max: Int = 128): Intervals.Source =
    orIntervalSource(pattern, expandWildcard(pattern, max))

  def intervalFuzzy(term: String, maxEdits: Int = 2, max: Int = 128): Intervals.Source =
    orIntervalSource(term, expandFuzzy(term, maxEdits = maxEdits, max = max))

  private def orIntervalSource(orig: String, expanded: Seq[String]): Intervals.Source =
    expanded match {
      case Seq()  => Intervals.Term(orig)
      case Seq(t) => Intervals.Term(t)
      case ts     => Intervals.Or(ts.map(Intervals.Term(_)))
    }

  /** Default saturation pivot for a feature: the decoded average posting
    * frequency (ref `FeatureField.computePivotFeatureValue` — "a reasonable
    * default is the average feature value"); 1 when the feature is absent.
    */
  def defaultFeaturePivot(feature: String): Float = {
    val t = graft.index.FeatureIndexer.featureTerm(feature)
    termStats(Seq(t)).get(t) match {
      case None => 1f
      case Some(st) =>
        val avgFreq = (st.totalTermFreq.toDouble / st.docFreq).toFloat
        graft.index.FeatureIndexer.decodeValue(avgFreq.toInt)
    }
  }

  /** DFR / IB scorer from (pseudo-)term stats — A / after-effect / λ are
    * pure functions of (df, ttf, N), precomputed here; the normalization
    * runs per (freq, norm) inside the scorer.
    */
  private def dfrIbScorer(
      sim: Similarity, df: Long, ttf: Long, st: CollectionStats, boost: Double
  ): SimScorer = {
    val floatExact = precision == Precision.FloatExact
    val avgdl = st.sumTotalTermFreq / st.docCount.toDouble
    def tfNorm(nz: Similarity.TfNorm): TfNormParams = nz match {
      case Similarity.TfNorm.H1(c) => TfNormParams(0, c, 0)
      case Similarity.TfNorm.H2(c) => TfNormParams(1, c, 0)
      case Similarity.TfNorm.H3(mu) =>
        // p = (ttf+1f)/(sumTtf+1f), float-narrowed like NormalizationH3:50
        val p =
          if (floatExact) ((ttf + 1f) / (st.sumTotalTermFreq + 1f)).toDouble
          else (ttf + 1d) / (st.sumTotalTermFreq + 1d)
        TfNormParams(2, mu, p)
      case Similarity.TfNorm.Z(z) => TfNormParams(3, z, 0)
    }
    sim match {
      case Similarity.Dfr(model, ae, nz) =>
        val a = model match {
          case Similarity.DfrModel.In => // log2((N+1)/(n+0.5)), BasicModelIn:36
            math.log((st.docCount + 1) / (df + 0.5)) / DfrScorer.Log2
          case Similarity.DfrModel.IF => // log2(1+(N+1)/(F+0.5)), BasicModelIF:36
            math.log(1 + (st.docCount + 1) / (ttf + 0.5)) / DfrScorer.Log2
        }
        val aeV = ae match {
          case Similarity.DfrAfterEffect.B => (ttf + 1.0) / df // AfterEffectB:35
          case Similarity.DfrAfterEffect.L => 1.0
        }
        new DfrScorer(a, aeV, tfNorm(nz), avgdl, boost, floatExact)
      case Similarity.Ib(dist, lam, nz) =>
        var l = lam match {
          case Similarity.IbLambda.DF  => (df + 1.0) / (st.docCount + 1.0)
          case Similarity.IbLambda.TTF => (ttf + 1.0) / (st.docCount + 1.0)
        }
        if (floatExact) l = l.toFloat.toDouble // the reference narrows λ itself
        if (l == 1.0) // SPL cannot take λ=1 (LambdaDF:37-40 / LambdaTTF:38-41)
          l = lam match {
            case Similarity.IbLambda.DF  => math.nextDown(1.0)
            case Similarity.IbLambda.TTF => math.nextUp(1.0)
          }
        new IbScorer(dist == Similarity.IbDist.SPL, l, tfNorm(nz), avgdl,
          boost, floatExact)
      case other => throw new IllegalArgumentException(s"not DFR/IB: $other")
    }
  }

  private def scorerFor(term: String, ts: Map[String, TermStat], boost: Double): SimScorer =
    fieldSim(graft.index.FieldKey.fieldOf(term), ts.get(term).toSeq, boost)

  /** [[simScorerX]] under `field`'s model and collection stats. */
  private def fieldSim(field: String, ts: Seq[TermStat], boost: Double): SimScorer =
    simScorerX(Similarity.forField(similarity, field), ts, statsFor(field), boost)

  /** The one similarity dispatch (ref `Similarity#scorer(boost,
    * collectionStats, termStats...)`): the scorer of one term, or of the
    * several terms a phrase weighs as one, for the active precision, with
    * the boost folded into the weight. Each model reduces the term stats
    * as the reference does:
    *  - BM25, Classic and SweetSpot: Σ idf. In float-exact mode the float
    *    idfs sum in double and narrow to float BEFORE the float boost
    *    multiplies (`BM25Similarity`/`TFIDFSimilarity#idfExplain(
    *    CollectionStatistics, TermStatistics[])`, then `boost * idf`);
    *  - DFR, IB and Axiomatic: max docFreq and Σ totalTermFreq (the
    *    SynonymQuery blend);
    *  - LM and DFI: Σ totalTermFreq.
    * No stats, or an absent term (docFreq 0), scores nothing.
    */
  private def simScorerX(
      sim: Similarity, ts: Seq[TermStat], st: CollectionStats, boost: Double): SimScorer =
    if (ts.isEmpty || ts.exists(_.docFreq == 0)) new ConstScorer(0.0)
    else {
      val floatExact = precision == Precision.FloatExact
      def sumIdf(idf: (Long, Long) => Double): Double =
        ts.iterator.map(t => idf(t.docFreq, st.docCount)).sum
      def df: Long = ts.iterator.map(_.docFreq).max
      def ttf: Long = ts.iterator.map(_.totalTermFreq).sum
      sim match {
        case Similarity.Bm25 =>
          if (floatExact)
            new Bm25FloatScorer(k1.toFloat, b.toFloat,
              boost.toFloat * sumIdf(Bm25.idf(_, _).toDouble).toFloat, Bm25.avgFieldLength(st))
          else
            new Bm25DoubleScorer(k1, b, boost * sumIdf(Bm25.idfD), Bm25.avgFieldLengthD(st))
        case Similarity.Classic =>
          if (floatExact)
            new TfIdfFloatScorer(boost.toFloat * sumIdf(TfIdf.idf(_, _).toDouble).toFloat)
          else new TfIdfDoubleScorer(boost * sumIdf(TfIdf.idfD))
        case Similarity.Bool => new ConstScorer(boost)
        case Similarity.LmDirichlet(mu) =>
          // p(t|C) = (ttf+1)/(sttf+1), the DefaultCollectionModel
          new LmDirichletScorer(mu, boost, (ttf + 1d) / (st.sumTotalTermFreq + 1d), floatExact)
        case Similarity.LmJelinekMercer(lambda) =>
          new LmJelinekMercerScorer(lambda, boost, (ttf + 1d) / (st.sumTotalTermFreq + 1d),
            floatExact)
        case s @ (_: Similarity.Dfr | _: Similarity.Ib) => dfrIbScorer(s, df, ttf, st, boost)
        case Similarity.Dfi(m) =>
          new DfiScorer(IndexSearcher.dfiMeasureOrd(m), ttf, st.sumTotalTermFreq, boost,
            floatExact)
        case ax: Similarity.Axiomatic =>
          AxiomaticScorer(ax, df, st.docCount, st.sumTotalTermFreq, boost, floatExact)
        case Similarity.RawTf => new RawTfScorer(boost, floatExact)
        case Similarity.SweetSpot(lnMin, lnMax, steep, tfBase, tfMin) =>
          // classic idf (the TFIDF frame SweetSpot extends)
          new SweetSpotScorer(boost * sumIdf(TfIdf.idfD), lnMin, lnMax, steep, tfBase, tfMin,
            floatExact)
        case Similarity.Multi(subs) =>
          new SumSimScorer(subs.map(simScorerX(_, ts, st, boost)), floatExact)
        case pf: Similarity.PerField => // callers resolve; safe fallback
          simScorerX(Similarity.forField(pf, graft.index.FieldKey.fieldOf(ts.head.term)),
            ts, st, boost)
      }
    }

  // ------------------------------------------------------------ blocks

  /** The resident slices that may hold blocks of `rows`' terms (each row
    * names the slice range of its term in its segment), or of a complete
    * multi-term node in `dictQs` (every slice), as ONE RDD: partition `p`
    * is one slice of segment `segOf(p)`, in segment then slice order.
    */
  private def querySlices(rows: Seq[SegTermRow],
      dictQs: Seq[MultiTermDictQuery]): (RDD[Slice], Array[Int]) = {
    val wanted: Map[Int, Set[Int]] =
      if (dictQs.nonEmpty)
        readers.indices.map(i => i -> (0 until readers(i).slices.getNumPartitions).toSet).toMap
      else rows.groupBy(_.seg).map { case (seg, rs) =>
        seg -> rs.iterator.flatMap(r => r.firstSlice to r.lastSlice).toSet
      }
    val segs = wanted.keys.toSeq.sorted
    if (segs.isEmpty) return (spark.sparkContext.emptyRDD[Slice], Array.emptyIntArray)
    val rdds = segs.map(readers(_).slices)
    val starts = rdds.scanLeft(0)(_ + _.getNumPartitions)
    val keep = segs.indices.flatMap(j => wanted(segs(j)).toSeq.sorted.map(starts(j) + _)).toSet
    val union = if (rdds.size == 1) rdds.head else new UnionRDD(spark.sparkContext, rdds)
    val segOf = keep.toSeq.sorted.map(p => segs(starts.lastIndexWhere(_ <= p))).toArray
    (if (keep.size == starts.last) union else PartitionPruningRDD.create(union, keep), segOf)
  }

  /** Runs `slice` once per resident slice that may hold the query's blocks
    * (see [[querySlices]]), with the slice's segment docBase, its
    * tombstones and its blocks as key → blocks sorted by firstDocId (a
    * complete multi-term node's blocks are keyed under its sentinel
    * namespace, see [[MultiTermDictQuery.key]]). The slice is one doc
    * range, scored by one scorer tree. No block leaves its slice's task:
    * the pass needs no exchange.
    */
  private def perSlice[T: ClassTag](rows: Seq[SegTermRow], dictQs: Seq[MultiTermDictQuery] = Nil)(
      slice: (Long, Tombstones, Map[String, Array[BlockView]]) => Iterator[T]): Slice.Pass[T] = {
    val (rdd, segOf) = querySlices(rows, dictQs)
    val terms = rows.map(_.term).distinct.toArray
    val specs = dictQs.distinct.map(dq => (dq.key + "\u0001", dq.spec)).toArray
    val basesL = bases
    val tombs = tombstones
    new Slice.Pass(rdd, (p, s) => {
      val seg = segOf(p)
      slice(basesL(seg), tombs.value(seg), s.blocks(s.keys(terms, specs)))
    })
  }

  /** The posting blocks of `terms` in every segment, read from the resident
    * slices in one RDD job and returned as a local Dataset, each tagged with
    * its segment and the first bucket of its slice: the blocks of one
    * `(seg, bucket)` tag are one slice's, one doc range.
    */
  def blocksFor(terms: Seq[String]): Dataset[QBlock] = {
    require(terms.nonEmpty, "no terms")
    val (rdd, segOf) = querySlices(segTermRows(terms), Nil)
    val keys = terms.distinct.toArray
    val shifts = segments.map(_.bucketShift).toArray
    val buckets = segments.map(Slice.numBuckets).toArray
    val nSlices = segOf.distinct.map(seg => seg -> readers(seg).slices.getNumPartitions).toMap
    val blocks = new Slice.Pass(rdd, (p, s) => {
      val seg = segOf(p)
      val (n, nb) = (nSlices(seg), buckets(seg))
      s.blocks(s.keys(keys, Array.empty)).iterator.flatMap { case (t, bs) =>
        bs.iterator.map(b => QBlock(t, seg,
          Slice.firstBucket(Slice.sliceOf(b.firstDocId >>> shifts(seg), n, nb), n, nb), b.firstDocId,
          b.lastDocId, b.numDocs, b.docsPacked, b.freqsPacked, b.normsPacked, b.impacts, b.posPacked))
      }
    }).collectParts().flatten
    spark.createDataset(blocks.toSeq)(IndexSearcher.QBlockEncoder)
  }

  // ------------------------------------------------------------ search

  /** Each slice's top-k of `query`: one RDD job, one task per slice. */
  private def sliceTopK(query: Query, rows: Seq[SegTermRow], scorers: Map[String, SimScorer],
      k: Int, pruning: Boolean): Array[Array[ScoredDoc]] = {
    val slices = perSlice(rows, IndexSearcher.dictSpecs(query)) { (base, dead, blocks) =>
      // one scorer tree and one collector per slice, in docId order, so a
      // tie loses to an earlier doc; liveDocs: tombstoned docs never take a
      // top-k slot
      val collector = new TopKCollector(k, dead)
      Executor.search(query, blocks, scorers, collector, pruning)
      collector.results.iterator.map { case (d, s) => ScoredDoc(d + base, s) }
    }
    slices.collectParts()
  }

  /** `k` as a collector size, checked before any job: it must be positive,
    * and is capped at the doc count — the reference's `numHits must be > 0`
    * and `min(numHits, maxDoc)` (`search/TopScoreDocCollectorManager.java`).
    */
  private def numHits(k: Int): Int = {
    require(k > 0, s"numHits must be > 0, got $k")
    math.min(k.toLong, math.max(1L, stats.docCount)).toInt
  }

  /** Top-k by BM25, rank-identical tie-break (score desc, docId asc). The
    * scoring runs when this is called; the result is a local Dataset.
    */
  def topK(query0: Query, k0: Int, pruning: Boolean = true): Dataset[ScoredDoc] = {
    val k = numHits(k0)
    val query = positional(Query.rewrite(query0)) // BooleanQuery#rewrite normalizations
    val rows = segTermRows(query.terms.toSeq.sorted)
    val scorers = scorerMap(query, aggStats(rows))
    val hits = IndexSearcher.mergeTopK(sliceTopK(query, rows, scorers, k, pruning), k)
    spark.createDataset(hits.toSeq)(IndexSearcher.ScoredDocEncoder)
  }

  /** Score every matching doc (no top-k cut) — feeds grouping/facet/rescore
    * paths that need the full scored match set.
    */
  def scoreMatches(query0: Query): Dataset[ScoredDoc] = {
    val query = positional(Query.rewrite(query0))
    val rows = segTermRows(query.terms.toSeq.sorted)
    val scorers = scorerMap(query, aggStats(rows))
    spark.createDataset(perSlice(rows, IndexSearcher.dictSpecs(query)) { (base, dead, blocks) =>
      Executor.build(query, blocks, scorers).iterator.flatMap { sc =>
        IndexSearcher.live(sc, dead).map(d => ScoredDoc(d + base, sc.score))
      }
    })(IndexSearcher.ScoredDocEncoder)
  }

  /** Second-pass rescoring (ref `search/QueryRescorer.java`): re-rank a
    * first-pass result with `w1*first + w2*second(query)` — the second query
    * is only evaluated against the candidate set semantics-wise, but is
    * computed as a scored match join (left: candidates keep their score when
    * the rescore query misses).
    */
  def rescore(first: Dataset[ScoredDoc], second: Query, w1: Double, w2: Double): DataFrame =
    first.toDF("docId", "score1")
      .join(scoreMatches(second).toDF("docId", "score2"), Seq("docId"), "left")
      .select($"docId",
        ($"score1" * lit(w1) + coalesce($"score2", lit(0.0)) * lit(w2)).as("score"))

  /** Fuzzy expansion: the dictionary terms within `maxEdits` of `term`.
    * The edit distance is Damerau–Levenshtein by default (a transposition
    * is ONE edit), matching the reference's `FuzzyQuery`
    * `transpositions=true` default (ref `search/FuzzyQuery.java`,
    * `util/automaton/LevenshteinAutomata`); `transpositions=false` falls
    * back to plain Levenshtein. No sorted-range bound exists for fuzzy (an
    * edit at position 0 admits any first char), so the walk covers the
    * whole dictionary, as the reference's automaton walks all viable
    * subtrees; the distance check rejects a length gap above `maxEdits`
    * before any DP.
    */
  def expandFuzzy(
      term: String, maxEdits: Int = 2, max: Int = 1024,
      transpositions: Boolean = true): Seq[String] = {
    val within: String => Boolean =
      if (transpositions) t => graft.functions.EditDistance.damerauWithin(term, t, maxEdits) >= 0
      else {
        val a = org.apache.spark.unsafe.types.UTF8String.fromString(term)
        t => a.levenshteinDistance(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), maxEdits) >= 0
      }
    // past the cap, keep the HIGHEST-docFreq candidates, not the
    // alphabetically first — the reference's top-terms rewrite
    // (`search/TopTermsRewrite.java` priority queue keyed by docFreq, used
    // by FuzzyQuery's blended rewrite). Ties break on term for determinism.
    IndexSearcher.byDocFreq(dictTerms(keep = within)).take(max).map(_.term).sorted
  }

  /** MoreLikeThis query from a source document's text (ref
    * `/root/reference/lucene/queries/src/java/org/apache/lucene/queries/mlt/MoreLikeThis.java`):
    * analyze the text, rank its terms by tf × idf (6-dp rounded so an
    * independent double-math oracle selects identically), and build a
    * disjunction of the top `maxTerms` informative terms. Term stats come
    * from resident dictionary lookups — no corpus scan, no Spark job.
    */
  def moreLikeThis(text: String, maxTerms: Int = 10): Query = {
    val (tf, _) = analyzer.termFreqs(text)
    val terms = {
      val it = tf.keySet().iterator()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    val ts = termStats(terms)
    val ranked = terms.flatMap { t =>
      ts.get(t).filter(_.docFreq > 0).map { st =>
        val w = tf.get(t) * Bm25.idfD(st.docFreq, stats.docCount)
        (t, IndexSearcher.round6(w))
      }
    }.sortBy { case (t, w) => (-w, t) }.take(maxTerms).map(_._1)
    require(ranked.nonEmpty, "no indexable terms in MLT source text")
    Query.or(ranked: _*)
  }

  /** Spelling corrections for a (possibly misspelled) term — the
    * re-expression of `suggest/spell/DirectSpellChecker`: dictionary
    * candidates within `maxEdits` Damerau–Levenshtein edits (the reference
    * spell checker also counts a transposition as one edit), ranked by
    * (edit distance asc, docFreq desc, term asc). Computed on the driver
    * from the resident dictionaries; the result is a local relation of
    * the ranked rows.
    *
    * @param morePopular only suggest terms strictly more frequent than the
    *   misspelling itself (ref `suggest/spell/SuggestMode.java`
    *   SUGGEST_MORE_POPULAR — the mode for "did you mean" over terms that
    *   DO exist but rarely); the default suggests for any input.
    */
  def spellCorrect(term: String, maxEdits: Int = 2, n: Int = 5,
      morePopular: Boolean = false): DataFrame = {
    def dist(t: String): Int = graft.functions.EditDistance.damerauWithin(term, t, maxEdits)
    val floor: Long =
      if (!morePopular) 0L
      else termStats(Seq(term)).get(term).map(_.docFreq).getOrElse(0L)
    dictTerms(keep = dist(_) >= 0).filter(_.docFreq > floor)
      .map(s => (s.term, dist(s.term).toLong, s.docFreq))
      .sortBy { case (t, d, df) => (d, -df, t) }.take(n)
      .toDF("term", "distance", "doc_freq")
  }

  /** Spell candidates ranked by Jaro–Winkler similarity — the reference
    * spell checker's pluggable alternative `StringDistance` (ref
    * `suggest/spell/JaroWinklerDistance.java`, plugged into
    * `suggest/spell/SpellChecker.java#setStringDistance`; `accuracy` is
    * the checker's `setAccuracy` floor, default 0.7). Candidates rank
    * (similarity desc, docFreq desc, term asc); similarity rounds to 6 dp
    * (HALF_UP) BEFORE the floor so engine and oracle agree on boundary
    * candidates.
    *
    * No length band: unlike edit distance, JW ≥ 0.7 does not bound
    * |len Δ| (e.g. jw("ab", "abcdefgh") = 0.81), so the walk covers the
    * whole vocabulary-sized dictionary — the reference's n-gram candidate
    * pre-selection is the optimization path at huge vocabularies.
    */
  def spellCorrectJaro(term: String, n: Int = 5,
      accuracy: Double = 0.7): DataFrame = {
    def sim(t: String): Double = IndexSearcher.round6(
      graft.functions.JaroWinkler.similarity(term, t))
    dictTerms(keep = t => t != term && sim(t) >= accuracy)
      .map(s => (s.term, sim(s.term), s.docFreq))
      .sortBy { case (t, jw, df) => (-jw, -df, t) }.take(n)
      .toDF("term", "similarity", "doc_freq")
  }

  /** Word-break suggestions — the re-expression of
    * `lucene/suggest/src/java/org/apache/lucene/search/suggest/spell/WordBreakSpellChecker.java`
    * `suggestWordBreaks`: segment a run-together term into dictionary
    * words, up to `maxChanges` break points, each part at least
    * `minBreakLength` chars and with docFreq ≥ `minSuggestionFrequency`.
    * All O(len²) substrings resolve by [[termStats]] lookups in the
    * resident dictionaries; segmentation enumeration is a driver-side DP
    * over the ≤ len² hits (metadata-sized, like the reference's in-memory
    * recursion). Ranked fewest-changes-first, then summed docFreq — the
    * `NUM_CHANGES_THEN_MAX_FREQUENCY` sort.
    */
  def wordBreaks(term: String, maxChanges: Int = 2, minBreakLength: Int = 1,
      minSuggestionFrequency: Long = 1L, n: Int = 5): DataFrame = {
    val subs = (for {
      i <- 0 until term.length
      j <- (i + minBreakLength) to term.length
    } yield term.substring(i, j)).distinct
    val df: Map[String, Long] = termStats(subs).collect {
      case (t, st) if st.docFreq >= minSuggestionFrequency => t -> st.docFreq
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, Int, Long)]()
    def walk(start: Int, parts: List[String], freq: Long): Unit = {
      if (start == term.length) {
        if (parts.length > 1) // a suggestion needs at least one break
          out += ((parts.reverse.mkString(" "), parts.length - 1, freq))
      } else if (parts.length <= maxChanges) { // parts-1 breaks so far
        var j = start + minBreakLength
        while (j <= term.length) {
          val piece = term.substring(start, j)
          df.get(piece).foreach(f => walk(j, piece :: parts, freq + f))
          j += 1
        }
      }
    }
    walk(0, Nil, 0L)
    import spark.implicits._
    out.toSeq.toDF("suggestion", "changes", "freq")
      .orderBy($"changes".asc, $"freq".desc, $"suggestion".asc)
      .limit(n)
  }

  /** The combination direction of the same checker
    * (`WordBreakSpellChecker#suggestWordCombinations`): adjacent query
    * terms whose concatenation is a dictionary word, runs of up to
    * `maxChanges`+1 terms and `maxCombineWordLength` chars. The
    * O(|terms|·maxChanges) candidates resolve by [[termStats]] lookups;
    * ranked fewest-combinations-first, then docFreq.
    */
  def wordCombinations(terms: Seq[String], maxChanges: Int = 2,
      maxCombineWordLength: Int = 20, minSuggestionFrequency: Long = 1L,
      n: Int = 5): DataFrame = {
    val cands = for {
      i <- terms.indices
      j <- (i + 1) until terms.length
      if j - i <= maxChanges
      combined = terms.slice(i, j + 1).mkString
      if combined.length <= maxCombineWordLength
    } yield (combined, i, j)
    val df = termStats(cands.map(_._1).distinct)
    val rows = cands.flatMap { case (c, i, j) =>
      df.get(c).collect {
        case st if st.docFreq >= minSuggestionFrequency =>
          (c, i, j, j - i, st.docFreq)
      }
    }
    import spark.implicits._
    rows.toDF("combined", "start", "end", "changes", "freq")
      .orderBy($"changes".asc, $"freq".desc, $"combined".asc)
      .limit(n)
  }

  /** Fuzzy-prefix autocomplete — the re-expression of
    * `lucene/suggest/src/java/org/apache/lucene/search/suggest/analyzing/FuzzySuggester.java`
    * (defaults mirrored: maxEdits=1, transpositions via Damerau,
    * nonFuzzyPrefix=1 exact leading chars, minFuzzyLength=3 below which the
    * match is exact-prefix). A term completes the query iff some prefix of
    * it is within maxEdits of the query; only prefix lengths within
    * maxEdits of |q| can qualify (length difference lower-bounds edit
    * distance). The exact nonFuzzyPrefix bounds the dictionary walk (the
    * automaton-FST intersection's bound). Ranked by summed docFreq.
    */
  def fuzzySuggest(
      q: String, maxEdits: Int = 1, nonFuzzyPrefix: Int = 1,
      minFuzzyLength: Int = 3, n: Int = 10
  ): DataFrame = {
    val lens = ((q.length - maxEdits) to (q.length + maxEdits)).filter(_ >= 1)
    val completes: String => Boolean =
      if (q.length < minFuzzyLength) _.startsWith(q)
      else t => lens.exists(k =>
        graft.functions.EditDistance.damerauWithin(q, t.take(k), maxEdits) >= 0)
    val p = q.take(nonFuzzyPrefix)
    IndexSearcher.byDocFreq(dictTerms(p, prefixUpper(p), completes)).take(n)
      .map(s => (s.term, s.docFreq)).toDF("term", "doc_freq")
  }

  /** A prefix's dictionary slice as a local (term, doc_freq) relation. */
  private def prefixSlice(prefix: String): DataFrame =
    specTerms(MultiTerm.Prefix(prefix)).map(s => (s.term, s.docFreq)).toDF("term", "doc_freq")

  /** Weighted completion suggest — the re-expression of
    * `lucene/suggest/src/java/org/apache/lucene/search/suggest/analyzing/AnalyzingSuggester.java`:
    * the reference ranks completions by a per-entry weight carried in the
    * FST outputs, not by corpus docFreq. Here the curated `weights` table
    * (term, weight) broadcast-joins the prefix's dictionary slice (a local
    * relation from the resident dictionaries); rank = weight desc, docFreq
    * desc tiebreak, term asc. Terms absent from the weight table rank at
    * weight 0 (the reference omits unweighted entries from the FST — pass
    * `requireWeight=true` for that semantics).
    */
  def suggestWeighted(
      prefix: String, weights: DataFrame, n: Int = 10,
      requireWeight: Boolean = false
  ): DataFrame = {
    val joined = prefixSlice(prefix).join(
      broadcast(weights.select($"term", $"weight")),
      Seq("term"), if (requireWeight) "inner" else "left")
    joined
      .select($"term", coalesce($"weight", lit(0L)).cast("bigint").as("weight"),
        $"doc_freq")
      .orderBy($"weight".desc, $"doc_freq".desc, $"term".asc)
      .limit(n)
  }

  /** Context-filtered weighted completion (ref
    * `suggest/document/ContextSuggestField.java` + `ContextQuery.java`):
    * the weights table carries a `context` column and only entries in the
    * accepted context set compete; within the filtered set ranking is
    * (weight desc, docFreq desc, term asc) as [[suggestWeighted]]. An
    * entry listed under several contexts keeps its best accepted weight
    * (the reference scores each context arc independently; max wins).
    * Same shape: the local prefix slice + one broadcast join.
    */
  def suggestWithContexts(
      prefix: String, weights: DataFrame, contexts: Set[String], n: Int = 10
  ): DataFrame = {
    require(contexts.nonEmpty, "empty context set")
    val accepted = weights
      .where($"context".isin(contexts.toSeq: _*))
      .groupBy($"term").agg(max($"weight").as("weight"))
    prefixSlice(prefix).join(broadcast(accepted), Seq("term"))
      .select($"term", $"weight".cast("bigint").as("weight"), $"doc_freq")
      .orderBy($"weight".desc, $"doc_freq".desc, $"term".asc)
      .limit(n)
  }

  /** All matching docIds (no scoring) — the FILTER/semi-join path feeding
    * facets, grouping, and joins.
    */
  def matching(query0: Query): Dataset[Long] = {
    val query = positional(Query.rewrite(query0))
    val rows = segTermRows(query.terms.toSeq.sorted)
    perSlice(rows, IndexSearcher.dictSpecs(query)) { (base, dead, blocks) =>
      Executor.matchIds(query, blocks).filter(d => !dead.contains(d)).map(_ + base)
    }.toDS().toDF("docId").as[Long]
  }

  /** Phrase frequencies: (docId, phraseFreq) for every live doc where the
    * phrase occurs — exact adjacency at `slop = 0`, ordered windows of
    * span ≤ (n-1)+slop otherwise (see [[PhraseScorer]], the matcher
    * [[topK]] runs; ref `ExactPhraseMatcher`/`SloppyPhraseMatcher`). Reads
    * indexed positions only.
    */
  def phraseFreqs(terms: Seq[String], slop: Int = 0): Dataset[(Long, Int)] = {
    requirePositions()
    val pq = PhraseQuery(terms, slop)
    val one = new ConstScorer(1.0)
    perSlice(segTermRows(pq.phraseTerms.distinct)) { (base, dead, blocks) =>
      Executor.phraseScorer(pq, blocks, one).iterator.flatMap { sc =>
        IndexSearcher.live(sc, dead).map(d => (d + base, sc.freq))
      }
    }.toDS()
  }

  /** Interval (span) matches over the positional index — the distributed
    * re-expression of the reference's intervals module (ref
    * `lucene/queries/src/java/org/apache/lucene/queries/intervals/IntervalsSource.java`),
    * read from the [[IntervalDocScorer]] that a scored [[IntervalQuery]]
    * runs, on each doc it matches.
    *
    * @return (docId, nIntervals, minWidth): the count of minimal matching
    *         intervals and the narrowest match width — `minWidth` is the
    *         proximity-ranking key (identical whether computed over
    *         minimal intervals or all matching tuples, so an independent
    *         SQL oracle can reproduce it).
    */
  def intervalHits(src: Intervals.Source): Dataset[(Long, Int, Int)] = {
    requirePositions()
    val iq = IntervalQuery(src)
    perSlice(segTermRows(src.terms.distinct)) { (base, dead, blocks) =>
      Executor.intervalScorer(iq, blocks, 1.0).iterator.flatMap { sc =>
        IndexSearcher.live(sc, dead).map { d =>
          val ivs = sc.intervals
          (d + base, ivs.length,
            ivs.iterator.map(iv => Intervals.endOf(iv) - Intervals.startOf(iv) + 1).min)
        }
      }
    }.toDS()
  }

  /** Interval matches intersected with a boolean query's match set — spans
    * compose with the boolean algebra at the document level (the reference
    * wraps an `IntervalsSource` in `IntervalQuery` and feeds it to
    * `BooleanQuery` the same way).
    */
  def intervalHitsFiltered(src: Intervals.Source, filter: Query): Dataset[(Long, Int, Int)] =
    intervalHits(src).toDF("docId", "n", "minWidth")
      .join(matching(filter).toDF("docId"), "docId")
      .as[(Long, Int, Int)]

  // ------------------------------------------------------------ explain

  /** (freq, norm) of each term at one (segment, local docId) — a point
    * lookup on the postings table (term IN + block-range pushdown prunes
    * to the ≤1 block per term actually containing the doc).
    */
  private def freqNormAt(
      terms: Seq[String], seg: Int, local: Long
  ): Map[String, (Int, Int)] = {
    import graft.codec.BlockCodec
    if (terms.isEmpty) return Map.empty
    readers(seg).postings
      .where($"term".isin(terms: _*) && $"firstDocId" <= local && $"lastDocId" >= local)
      .select($"term", $"firstDocId", $"docsPacked", $"freqsPacked", $"normsPacked")
      .collect()
      .flatMap { r =>
        val ids = BlockCodec.deltaDecode(
          BlockCodec.forDecode(r.getAs[Array[Byte]]("docsPacked")), r.getAs[Long]("firstDocId"))
        val idx = java.util.Arrays.binarySearch(ids, local)
        if (idx < 0) None
        else {
          val fs = BlockCodec.pforDecode(r.getAs[Array[Byte]]("freqsPacked"))
          val ns = BlockCodec.forDecode(r.getAs[Array[Byte]]("normsPacked"))
          Some(r.getString(0) -> (fs(idx).toInt, ns(idx).toInt))
        }
      }.toMap
  }

  /** Per-term positions of one (segment, local docId) — the positional
    * analogue of [[freqNormAt]] (same ≤1-block-per-term point lookup, plus
    * the .pos payload decode). Terms absent from the doc are absent from
    * the map. [[explain]] checks for positions before it gets here.
    */
  private def positionsAt(
      terms: Seq[String], seg: Int, local: Long
  ): Map[String, Array[Int]] = {
    import graft.codec.BlockCodec
    if (terms.isEmpty) return Map.empty
    readers(seg).postings
      .where($"term".isin(terms: _*) && $"firstDocId" <= local && $"lastDocId" >= local)
      .select($"term", $"firstDocId", $"numDocs", $"docsPacked", $"freqsPacked", $"posPacked")
      .collect()
      .flatMap { r =>
        val packed = r.getAs[Array[Byte]]("posPacked")
        if (packed == null) None
        else {
          val ids = BlockCodec.deltaDecode(
            BlockCodec.forDecode(r.getAs[Array[Byte]]("docsPacked")), r.getAs[Long]("firstDocId"))
          val idx = java.util.Arrays.binarySearch(ids, local)
          if (idx < 0) None
          else {
            val fs = BlockCodec.pforDecode(r.getAs[Array[Byte]]("freqsPacked"))
            val perDoc = graft.codec.Positions.decode(packed, fs, r.getAs[Int]("numDocs"))
            Some(r.getString(0) -> perDoc(idx))
          }
        }
      }.toMap
  }

  /** Character-offset (start, end) pairs of `term` in each of `docIds`
    * (position order, flattened) — the offset-based highlighter's read path
    * (ref `index/IndexOptions.java` ..._AND_OFFSETS postings consumed by
    * `uhighlight/UnifiedHighlighter.java` OffsetSource.POSTINGS): ONE
    * pushed postings scan per segment over the term's blocks in the docs'
    * range, decoding only those blocks — never a re-tokenize of stored
    * text. Docs whose segment lacks offsets are absent from the result.
    */
  def offsetsForDocs(term: String, docIds: Seq[Long]): Map[Long, Array[Int]] = {
    import graft.codec.BlockCodec
    if (docIds.isEmpty) return Map.empty
    segments.zipWithIndex.flatMap { case (m, seg) =>
      val base = bases(seg)
      val locals = docIds.filter(d => d >= base && d - base <= m.maxDocId)
        .map(_ - base).sorted.toArray
      if (locals.isEmpty || !m.hasOffsets) Seq.empty
      else {
        readers(seg).postings
          .where($"term" === term && $"firstDocId" <= locals.max && $"lastDocId" >= locals.min)
          .select($"firstDocId", $"numDocs", $"docsPacked", $"freqsPacked", $"offsPacked")
          .collect()
          .flatMap { r =>
            val packed = r.getAs[Array[Byte]]("offsPacked")
            if (packed == null) Seq.empty
            else {
              val ids = BlockCodec.deltaDecode(
                BlockCodec.forDecode(r.getAs[Array[Byte]]("docsPacked")),
                r.getAs[Long]("firstDocId"))
              val fs = BlockCodec.pforDecode(r.getAs[Array[Byte]]("freqsPacked"))
              lazy val perDoc = graft.codec.Positions.decode(
                packed, fs.map(_ * 2), r.getAs[Int]("numDocs"))
              locals.toSeq.flatMap { local =>
                val idx = java.util.Arrays.binarySearch(ids, local)
                if (idx < 0) None else Some((local + base) -> perDoc(idx))
              }
            }
          }
      }
    }.toMap
  }

  /** Payload-score top-k — the re-expression of
    * `queries/payloads/PayloadScoreQuery.java` with its `PayloadFunction`
    * family (`Min`/`Max`/`Sum` + the average the reference derives from
    * Sum): rank documents by an aggregate of the payload values stored at
    * `term`'s positions. ONE pushed postings scan per segment over the
    * term's blocks (term equality reaches the Parquet scan); decode and
    * per-doc aggregation run distributed per block — a doc's postings for
    * a term live in exactly one block, so no regrouping is needed — and
    * only the global `ORDER BY LIMIT k` crosses stages. Tombstoned docs
    * never surface.
    */
  def payloadScoreTopK(term: String, func: String = "sum", k: Int = 10): DataFrame = {
    import graft.codec.BlockCodec
    val fcode = func match {
      case "max" => 1
      case "min" => 2
      case "avg" => 3
      case "sum" => 0
      case other => throw new IllegalArgumentException(s"unknown payload function: $other")
    }
    val tombs = tombstones
    val perSeg = segments.zipWithIndex.flatMap { case (m, seg) =>
      if (!m.hasPayloads) None
      else {
        val base = bases(seg)
        Some(readers(seg).postings
          .where($"term" === term)
          .select($"firstDocId", $"numDocs", $"docsPacked", $"freqsPacked",
            $"paysPacked")
          .as[(Long, Int, Array[Byte], Array[Byte], Array[Byte])]
          .flatMap { case (first, n, docsB, freqsB, paysB) =>
            if (paysB == null) Iterator.empty
            else {
              val dead = tombs.value(seg)
              val ids = BlockCodec.deltaDecode(BlockCodec.forDecode(docsB), first)
              val fs = BlockCodec.pforDecode(freqsB)
              val pays = graft.codec.Positions.decodeRaw(paysB, fs, n)
              Iterator.range(0, n).filter(i => !dead.contains(ids(i))).map { i =>
                val ps = pays(i)
                val v = fcode match {
                  case 1 => ps.max.toDouble
                  case 2 => ps.min.toDouble
                  case 3 => ps.sum.toDouble / ps.length
                  case _ => ps.sum.toDouble
                }
                (ids(i) + base, v)
              }
            }
          }.toDF("docId", "payload_score"))
      }
    }
    if (perSeg.isEmpty)
      return spark.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("payload_score", lit(0.0))
        .limit(0)
    perSeg.reduce(_ unionByName _)
      .orderBy($"payload_score".desc, $"docId".asc)
      .limit(k)
  }

  /** Payload-check matching — the re-expression of
    * `queries/payloads/SpanPayloadCheckQuery.java`: a term occurrence
    * counts only when the payload stored at its position equals
    * `payload`. Same execution shape as [[payloadScoreTopK]]: ONE pushed
    * postings scan per segment (term equality reaches the Parquet scan),
    * distributed per-block decode, and the full (docId, matching-freq)
    * set comes back — no driver-side per-doc work. Tombstoned docs never
    * surface.
    */
  def payloadCheckFreqs(term: String, payload: Int): Dataset[(Long, Int)] = {
    import graft.codec.BlockCodec
    require(segments.forall(_.hasPayloads), "index was built without payloads")
    val tombs = tombstones
    val basesL = bases
    segments.zipWithIndex.map { case (m, seg) =>
      readers(seg).postings
        .where($"term" === term)
        .select($"firstDocId", $"numDocs", $"docsPacked", $"freqsPacked",
          $"paysPacked")
        .as[(Long, Int, Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (first, n, docsB, freqsB, paysB) =>
          if (paysB == null) Iterator.empty
          else {
            val dead = tombs.value(seg)
            val base = basesL(seg)
            val ids = BlockCodec.deltaDecode(BlockCodec.forDecode(docsB), first)
            val fs = BlockCodec.pforDecode(freqsB)
            val pays = graft.codec.Positions.decodeRaw(paysB, fs, n)
            Iterator.range(0, n).flatMap { i =>
              if (dead.contains(ids(i))) None
              else {
                val c = pays(i).count(_ == payload)
                if (c > 0) Some((ids(i) + base, c)) else None
              }
            }
          }
        }
    }.reduce(_ unionByName _)
  }

  /** Span-first matching — the re-expression of
    * `spans/SpanFirstQuery.java`: the `start = 0` case of
    * [[spanRangeFreqs]].
    */
  def spanFirstFreqs(term: String, end: Int): Dataset[(Long, Int)] =
    spanRangeFreqs(term, 0, end)

  /** Position-range matching — the re-expression of
    * `spans/SpanPositionRangeQuery.java`: a term occurrence counts only
    * when its span lies inside `[start, end)` in the reference's span
    * coordinates (span start = position ≥ `start`, span end = position + 1
    * ≤ `end`). One pass over the slices holding the term; positions decode
    * lazily per block and the per-doc position array is sorted, so the
    * in-range count is one lower-bound scan plus a prefix scan. Returns
    * the full (docId, in-range freq) match set; tombstoned docs never
    * surface.
    */
  def spanRangeFreqs(term: String, start: Int, end: Int): Dataset[(Long, Int)] = {
    requirePositions()
    perSlice(segTermRows(Seq(term))) { (base, dead, blocks) =>
      blocks.get(term).iterator.flatMap { bs =>
        val ts = new TermScorer(bs, new ConstScorer(1.0))
        IndexSearcher.live(ts, dead).flatMap { d =>
          val ps = ts.positions
          var lo = 0
          while (lo < ps.length && ps(lo) < start) lo += 1
          var c = lo
          while (c < ps.length && ps(c) + 1 <= end) c += 1
          if (c > lo) Some((d + base, c - lo)) else None
        }
      }
    }.toDS()
  }

  /** Covering query — the re-expression of the reference's sandbox
    * `CoveringQuery` (`lucene/sandbox/src/java/org/apache/lucene/search/CoveringQuery.java`):
    * a doc matches when at least `minMatch`-of-its-row clauses match, where
    * the minimum is a PER-DOC value (the reference's `LongValuesSource`),
    * and scores as the sum of the matching clauses. Execution shape: one
    * scored match set per clause (each a pass over the resident slices), ONE union +
    * hash aggregation for (Σscore, nmatch), then a docId-equi join against
    * the stored-fields table for the per-doc minimum — every step
    * distributed, one shuffle for the agg and one for the join.
    *
    * `minMatch` is evaluated against [[docsTable]] columns (plus `docId`).
    */
  def coveringMatches(clauses: Seq[Query], minMatch: Column): DataFrame = {
    require(clauses.nonEmpty, "CoveringQuery needs at least one clause")
    val perDoc = clauses
      .map(q => scoreMatches(q).toDF("docId", "score"))
      .reduce(_ unionByName _)
      .groupBy($"docId")
      .agg(sum($"score").as("score"),
        org.apache.spark.sql.functions.count(lit(1)).as("nmatch"))
    perDoc
      .join(docsTable.withColumn("minMatch", minMatch).select($"docId", $"minMatch"),
        Seq("docId"))
      .where($"nmatch" >= $"minMatch")
      .select($"docId", $"score", $"nmatch", $"minMatch")
  }

  /** Top-k cut of [[coveringMatches]] by (6-dp rounded score desc, docId). */
  def coveringTopK(clauses: Seq[Query], minMatch: Column, k: Int): DataFrame =
    coveringMatches(clauses, minMatch)
      .orderBy(round($"score", 6).desc, $"docId".asc)
      .limit(k)

  /** Common-terms query — the re-expression of
    * `lucene/queries/src/java/org/apache/lucene/queries/CommonTermsQuery.java`:
    * query terms whose docFreq exceeds `maxTermFrequency × docCount` are
    * demoted to an optional (scoring-only) group, the rest form the
    * required group (`lowFreqMinimumShouldMatch`-of). Docs therefore must
    * match a rare term; stopword-like terms only contribute to the score —
    * the dynamic-stopword behavior of the reference's default
    * (lowFreqOccur=SHOULD wrapped as MUST, highFreqOccur=SHOULD). The df
    * split costs one pruned dictionary point lookup; the returned query
    * runs through the normal pruned executor.
    */
  def commonTermsQuery(terms: Seq[String], maxTermFrequency: Double,
      lowFreqMinimumShouldMatch: Int = 1): Query = {
    val uniq = terms.distinct
    val ts = termStats(uniq)
    val (high, low) = uniq.partition { t =>
      val field = graft.index.FieldKey.fieldOf(t)
      ts.get(t).exists(_.docFreq > maxTermFrequency * statsFor(field).docCount)
    }
    def group(ts0: Seq[String], msm: Int): Query =
      BoolQuery(ts0.map(t => TermQuery(t) -> (Occur.Should: Occur)), msm)
    (low.nonEmpty, high.nonEmpty) match {
      case (true, true) =>
        BoolQuery(Seq(
          group(low, math.min(lowFreqMinimumShouldMatch, low.size)) -> (Occur.Must: Occur),
          group(high, 0) -> (Occur.Should: Occur)))
      case (true, false) => group(low, math.min(lowFreqMinimumShouldMatch, low.size))
      case (false, true) => group(high, 1)
      case _             => MatchNoneQuery
    }
  }

  /** Phonetic suggestions — the re-expression of the reference's phonetic
    * analysis matching (`analysis/phonetic/PhoneticFilter.java` +
    * commons-codec Soundex): dictionary terms whose American Soundex code
    * equals the input's, ranked by docFreq desc, term asc. Soundex keeps
    * the first letter, so only the terms whose upper-cased first letter is
    * the input's are candidates; they form a local relation on which the
    * code is the same column chain the DuckDB oracle runs
    * ([[graft.analysis.Phonetic.soundex]]). A filter over a local relation
    * is evaluated by the optimizer, so the call runs no Spark job. (The
    * reference instead indexes codes at analysis time.)
    */
  def phoneticSuggest(term: String, n: Int = 5): DataFrame = {
    val code = graft.analysis.Phonetic.soundex _
    val first = IndexSearcher.upperFirst(term)
    val candidates = dictTerms(keep = t =>
      !t.contains(graft.index.FieldKey.Sep) && IndexSearcher.upperFirst(t) == first)
    val hits = candidates.map(s => (s.term, s.docFreq)).toDF("term", "doc_freq")
      .where(code($"term") === code(lit(term))).as[(String, Long)].collect()
    hits.sortBy { case (t, df) => (-df, t) }.take(n).toSeq.toDF("term", "doc_freq")
  }

  /** Query profiler — the re-expression of the reference's
    * `QueryProfilerIndexSearcher` breakdown (ref sandbox
    * `sandbox/search/QueryProfilerWeight.java`, `QueryProfilerTimer.java`,
    * `QueryProfilerTimingType.java`): where does one query's wall time go?
    * The reference wraps Weight/Scorer call sites with timers
    * (`create_weight` / `build_scorer` / `next_doc` / `score`); in the
    * Spark execution model those lifecycles live at JOB granularity, so the
    * profile times the steps [[topK]] itself runs, one by one — rewrite
    * (driver-only), dictionary stats (the driver-side dictionary lookup ≈
    * create_weight; the first lookup in a segment also loads it), scorer
    * construction (SimScorer weights), the slice job (block copy-out +
    * next_doc + score + per-slice top-k, one task per slice) and the driver
    * merge of the per-slice top-k. Counts ride along so timings stay
    * interpretable.
    */
  def profile(query0: Query, k0: Int = 10, pruning: Boolean = true): Seq[ProfileRow] = {
    val k = numHits(k0)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (query, tRewrite) = timed(positional(Query.rewrite(query0)))
    val qTerms = query.terms.toSeq.sorted
    val (rows, tStats) = timed(segTermRows(qTerms))
    val ts = aggStats(rows)
    val (scorers, tScorers) = timed(scorerMap(query, ts))
    val (parts, tJob) = timed(sliceTopK(query, rows, scorers, k, pruning))
    val (hits, tMerge) = timed(IndexSearcher.mergeTopK(parts, k))
    Seq(
      ProfileRow("rewrite", tRewrite, s"$query0 -> $query"),
      ProfileRow("term_stats", tStats,
        s"${qTerms.size} terms, ${rows.size} rows from the driver-side " +
          s"dictionaries of ${readers.length} segments (binary search, no job " +
          s"once loaded), docFreq sum ${ts.values.map(_.docFreq).sum}"),
      ProfileRow("scorer_setup", tScorers, s"${ts.size} SimScorer weights"),
      ProfileRow("slice_job", tJob,
        s"one RDD job over ${parts.length} resident slices (one task and one " +
          s"collector each, no exchange), ${parts.map(_.length).sum} per-slice hits"),
      ProfileRow("merge", tMerge,
        s"driver merge to top-$k (pruning=$pruning): ${hits.length} hits, " +
          s"best=${hits.headOption.map(_.score).getOrElse(0.0)}"))
  }

  /** Score breakdown for one (query, doc) — the re-expression of the
    * reference's `Weight#explain` (`search/Explanation.java`): the root
    * value equals exactly what [[topK]]/[[scoreMatches]] produce for the
    * doc (same SimScorer objects), with idf/tf/norm inputs spelled out.
    */
  def explain(query: Query, docId: Long): Explanation = {
    positional(query)
    val seg = {
      var i = bases.length - 1
      while (i > 0 && bases(i) > docId) i -= 1
      i
    }
    val local = docId - bases(seg)
    if (tombstones.value(seg).contains(local))
      return Explanation.noMatch(s"doc $docId is deleted")
    val qTerms = query.terms.toSeq.sorted
    val ts = aggStats(segTermRows(qTerms))
    val fn = freqNormAt(qTerms, seg, local)
    def walk(q: Query, boost: Double): Explanation = q match {
      case MatchNoneQuery => Explanation.noMatch("MatchNoneQuery matches nothing")
      case TermQuery(t) =>
        fn.get(t) match {
          case None => Explanation.noMatch(s"no occurrence of '$t' in doc $docId")
          case Some((freq, norm)) =>
            val cs = statsFor(graft.index.FieldKey.fieldOf(t))
            val v = scorerFor(t, ts, boost).score(freq, norm)
            val idf = Bm25.idfD(ts(t).docFreq, cs.docCount)
            Explanation(v, s"weight($t in $docId) [BM25 k1=$k1 b=$b]", details = Seq(
              Explanation(boost, "boost"),
              Explanation(idf,
                s"idf = ln(1 + (N - n + 0.5)/(n + 0.5)), n = ${ts(t).docFreq} (docFreq), N = ${cs.docCount} (docCount)"),
              Explanation(freq.toDouble, s"freq, occurrences of '$t'"),
              Explanation(graft.codec.SmallFloat.lengthTable(norm & 0xff).toDouble,
                s"dl, quantized field length (norm byte $norm)"),
              Explanation(Bm25.avgFieldLengthD(cs), "avgdl, average field length")))
        }
      case BoostQuery(q2, b2) => walk(q2, boost * b2)
      case sq: SynonymQuery =>
        val freqs = sq.synonyms.flatMap(fn.get)
        if (freqs.isEmpty) Explanation.noMatch(s"no synonym of ${sq.synonyms.mkString("/")} present")
        else {
          val f = freqs.map(_._1).sum
          val norm = freqs.head._2
          // fold the boost in via a wrapping BoostQuery so the map is keyed
          // (and the weight built) with the same boost topK used
          val sim = scorerMap(
            if (boost == 1.0) sq else BoostQuery(sq, boost),
            ts)(Executor.skey(sq.key, boost))
          Explanation(sim.score(f, norm),
            s"synonym(${sq.synonyms.mkString(", ")}) summed freq = $f", details =
              sq.synonyms.flatMap(t => fn.get(t).map(p =>
                Explanation(p._1.toDouble, s"freq of '$t'"))))
        }
      case cf: CombinedFieldQuery =>
        val present = cf.fieldTerms.flatMap { case (t, w) =>
          fn.get(t).map { case (freq, norm) => (t, w, freq, norm) }
        }
        if (present.isEmpty)
          Explanation.noMatch(s"'${cf.term}' absent from every combined field in doc $docId")
        else {
          val f = present.map { case (_, w, freq, _) => w * freq }.sum
          val len = present.map { case (_, w, _, norm) =>
            w * graft.codec.SmallFloat.lengthTable(norm & 0xff)
          }.sum
          val combined = graft.codec.SmallFloat.intToByte4(math.round(len).toInt) & 0xff
          val sim = combinedFieldSim(cf, ts, boost)
          Explanation(sim.scoreF(f, combined),
            s"combined(${cf.fields.map { case (fl, w) => s"$fl^$w" }.mkString(", ")}:${cf.term}) pseudo freq = $f",
            details = Seq(
              Explanation(boost, "boost"),
              Explanation(f, "freq = sum of weight * per-field freq"),
              Explanation(len, "combined length = sum of weight * decoded per-field length"),
              Explanation(combined.toDouble, "re-encoded norm byte")) ++
              present.map { case (t, w, freq, _) =>
                Explanation(freq.toDouble,
                  s"freq of '${cf.term}' in field ${graft.index.FieldKey.fieldOf(t)} (weight $w)")
              })
        }
      case fq: FeatureQuery =>
        fn.get(fq.term) match {
          case None => Explanation.noMatch(s"doc $docId carries no '${fq.feature}' feature")
          case Some((freq, norm)) =>
            val v = graft.index.FeatureIndexer.decodeValue(freq)
            val sim = new FeatureSimScorer(fq.function, fq.weight * boost,
              precision == Precision.FloatExact)
            Explanation(sim.score(freq, norm),
              s"feature(${fq.feature}, ${fq.function})", details = Seq(
                Explanation(fq.weight * boost, "w, function weight (boost folded)"),
                Explanation(v.toDouble, "S, decoded feature value")))
        }
      case pq: PhraseQuery =>
        val pos = positionsAt(pq.phraseTerms.distinct, seg, local)
        if (pq.phraseTerms.exists(t => !pos.contains(t)))
          Explanation.noMatch(s"a term of phrase ${pq.phraseTerms.mkString(" ")} is absent from doc $docId")
        else {
          val slotPos = pq.phraseTerms.map(pos(_)).toArray
          val f =
            if (pq.slop > 0) IndexSearcher.countSloppy(slotPos, pq.slop)
            else IndexSearcher.countExactOffsets(slotPos, slotPos.indices.toArray)
          if (f == 0)
            Explanation.noMatch(s"phrase \"${pq.phraseTerms.mkString(" ")}\"~${pq.slop} does not occur in doc $docId")
          else {
            val norm = fn(pq.phraseTerms.head)._2
            val sim = phraseSim(pq, ts, boost)
            val cs = statsFor(graft.index.FieldKey.fieldOf(pq.phraseTerms.head))
            Explanation(sim.score(f, norm),
              s"""weight(phrase "${pq.phraseTerms.mkString(" ")}"~${pq.slop} in $docId)""",
              details = Seq(
                Explanation(boost, "boost"),
                Explanation(pq.phraseTerms.map(t => Bm25.idfD(ts(t).docFreq, cs.docCount)).sum,
                  "idf, summed over phrase terms"),
                Explanation(f.toDouble, "phraseFreq"),
                Explanation(graft.codec.SmallFloat.lengthTable(norm & 0xff).toDouble,
                  s"dl, quantized field length (norm byte $norm)")))
          }
        }
      case mq: MultiPhraseQuery =>
        val pos = positionsAt(mq.terms.toSeq.sorted, seg, local)
        val perSlot = mq.slots.map { case (_, slotTs) =>
          slotTs.flatMap(pos.get).foldLeft(Array.empty[Int]) { (acc, p) =>
            (acc ++ p).distinct.sorted
          }
        }
        if (perSlot.exists(_.isEmpty))
          Explanation.noMatch(s"a multiphrase slot has no term in doc $docId")
        else {
          val slotPos = perSlot.toArray
          val f =
            if (mq.slop > 0) IndexSearcher.countSloppy(slotPos, mq.slop)
            else IndexSearcher.countExactOffsets(slotPos, mq.slots.map(_._1).toArray)
          if (f == 0)
            Explanation.noMatch(s"multiphrase does not occur in doc $docId")
          else {
            val norm = fn(mq.slots.head._2.find(fn.contains).get)._2
            val sim = multiPhraseSim(mq, ts, boost)
            Explanation(sim.score(f, norm),
              s"weight(multiphrase ${mq.key} in $docId)",
              details = Seq(
                Explanation(boost, "boost"),
                Explanation(f.toDouble, "phraseFreq"),
                Explanation(graft.codec.SmallFloat.lengthTable(norm & 0xff).toDouble,
                  s"dl, quantized field length (norm byte $norm)")))
          }
        }
      case iq: IntervalQuery =>
        val pos = positionsAt(iq.terms.toSeq.sorted, seg, local)
        val emptyPos = Array.emptyIntArray
        val ivs = Intervals.eval(iq.source, t => pos.getOrElse(t, emptyPos))
        if (ivs.isEmpty)
          Explanation.noMatch(s"no interval of ${iq.source} in doc $docId")
        else {
          val minExt = Intervals.minExtent(iq.source)
          val f = ivs.map { iv =>
            1.0 / math.max(Intervals.endOf(iv) - Intervals.startOf(iv) + 1 - minExt + 1, 1)
          }.sum
          Explanation(boost * f / (f + iq.pivot),
            s"interval(${iq.source}) saturation(pivot=${iq.pivot})",
            details = Seq(
              Explanation(boost, "boost"),
              Explanation(f, "sloppyFreq, sum of 1/max(len-minExtent+1, 1)"),
              Explanation(ivs.length.toDouble, "interval count")))
        }
      case dm: DisMaxQuery =>
        val kids = dm.disjuncts.map(walk(_, boost))
        val matched = kids.filter(_.matched)
        if (matched.isEmpty)
          Explanation(0, "no dismax disjunct matched", matched = false, details = kids)
        else {
          val best = matched.map(_.value).max
          val v = best + dm.tieBreaker * (matched.map(_.value).sum - best)
          Explanation(v, s"max plus ${dm.tieBreaker} times others of:", details = matched)
        }
      case cs: ConstScoreQuery =>
        val inner = walk(cs.query, 1.0)
        if (!inner.matched) inner
        else Explanation(cs.score * boost,
          s"ConstantScore(${cs.score * boost})", details = Seq(inner))
      case dq: MultiTermDictQuery =>
        // the matching term set is unbounded by design — membership is one
        // slice job for this single doc (explain is a per-doc diagnostic
        // path)
        if (matching(dq).filter(_ == docId).isEmpty)
          Explanation.noMatch(s"no dictionary term of ${dq.key} occurs in doc $docId")
        else Explanation(boost, s"multiTermDict(${dq.key})")
      case bq: BoolQuery =>
        val mustE = bq.must.map(walk(_, boost))
        val filtE = bq.filter.map(walk(_, boost))
        val notMatched = bq.mustNot.map(walk(_, boost)).filter(_.matched)
        val shouldE = bq.should.map(walk(_, boost))
        val shouldMatched = shouldE.filter(_.matched)
        val msm = bq.minimumShouldMatch
        if (mustE.exists(!_.matched))
          Explanation(0, "failure to match a MUST clause", matched = false, details = mustE)
        else if (filtE.exists(!_.matched))
          Explanation(0, "failure to match a FILTER clause", matched = false, details = filtE)
        else if (notMatched.nonEmpty)
          Explanation(0, "excluded by a MUST_NOT clause", matched = false, details = notMatched)
        else if (msm > 0 && shouldMatched.size < msm)
          Explanation(0, s"only ${shouldMatched.size} of required $msm SHOULD clauses matched",
            matched = false, details = shouldE)
        else if (bq.must.isEmpty && bq.filter.isEmpty && shouldMatched.isEmpty)
          Explanation(0, "no SHOULD clause matched", matched = false, details = shouldE)
        else
          Explanation(mustE.map(_.value).sum + shouldMatched.map(_.value).sum,
            "sum of:", details = mustE ++ shouldMatched ++
              filtE.map(f => Explanation(0, s"FILTER (non-scoring): ${f.description}")))
    }
    walk(query, 1.0)
  }

  // ------------------------------------------------------------ caching

  /** LRU cache of filter (non-scoring) match sets — the re-expression of the
    * reference's per-segment filter cache (`search/LRUQueryCache.java`):
    * hot filters persist their docId Dataset; eviction unpersists. Keyed by
    * the query's structural form.
    */
  private val maxCachedFilters = 32
  // evicted datasets unpersist LAZILY (on the next cache access): an evicted
  // Dataset may still be mid-iteration in a caller — unpersisting immediately
  // silently degrades it to recomputation
  private val pendingUnpersist = new java.util.ArrayDeque[Dataset[Long]]()
  private val filterCache =
    new java.util.LinkedHashMap[String, Dataset[Long]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Dataset[Long]]): Boolean =
        if (size > maxCachedFilters) { pendingUnpersist.add(e.getValue); true }
        else false
    }

  /** Structural cache key: clause order is normalized so `a OR b` and
    * `b OR a` hit the same entry (the reference's cache keys on Query
    * equality, which is order-insensitive for BooleanQuery clauses of the
    * same occur).
    */
  private def cacheKey(q: Query): String = q match {
    case TermQuery(t)        => s"t:$t"
    case MatchNoneQuery      => "none"
    case BoostQuery(q2, b2)  => s"boost($b2,${cacheKey(q2)})"
    case sq: SynonymQuery    => sq.synonyms.sorted.mkString("syn:", ",", "")
    case cf: CombinedFieldQuery => cf.key
    case fq: FeatureQuery    => fq.key
    case pq: PhraseQuery     => pq.key // slot order is semantic — no sorting
    case mq: MultiPhraseQuery => mq.key
    case iq: IntervalQuery   => iq.key
    case dm: DisMaxQuery =>
      dm.disjuncts.map(cacheKey).sorted.mkString(s"dm${dm.tieBreaker}(", ",", ")")
    case cs: ConstScoreQuery => s"const(${cs.score},${cacheKey(cs.query)})"
    case dq: MultiTermDictQuery => dq.key
    case bq: BoolQuery =>
      bq.clauses.map { case (c, o) => s"$o:${cacheKey(c)}" }
        .sorted.mkString(s"b${bq.minimumShouldMatch}(", ",", ")")
  }

  /** Matching docIds with LRU caching (see [[matching]]). */
  def matchingCached(query: Query): Dataset[Long] = filterCache.synchronized {
    while (!pendingUnpersist.isEmpty) pendingUnpersist.poll().unpersist(false)
    val key = cacheKey(query)
    val hit = filterCache.get(key)
    if (hit != null) hit
    else {
      val ds = matching(query).persist()
      filterCache.put(key, ds)
      ds
    }
  }

  /** Hit count. Single term: O(1) from the term dictionary (ref
    * `search/Weight.java#count` shortcut); otherwise counts matches.
    */
  def count(query: Query): Long = Query.rewrite(query) match {
    case MatchNoneQuery => 0L
    // docFreq shortcut is only valid with no pending deletes (the reference's
    // Weight#count returns -1 on segments with deletions)
    case TermQuery(t) if !hasDeletes =>
      termStats(Seq(t)).get(t).map(_.docFreq).getOrElse(0L)
    case q => matching(q).count()
  }

  /** Fetch stored docs (url etc.) for a scored page — the stored-fields
    * retrieval path: the docs Parquet table *is* the row store (ref
    * `codecs/lucene90/Lucene90StoredFieldsFormat.java` → W17 mapping).
    */
  def docsTable: DataFrame =
    segments.zipWithIndex
      .map { case (s, i) =>
        graft.index.DocValues.overlay(spark, readers(i).docs, s.dir)
          .withColumn("docId", $"docId" + lit(bases(i)))
      }
      .reduce(_ unionByName _)

  /** Stored-fields point lookup for a small (top-k-sized) set of global
    * docIds: each segment's docId-sorted docs table is scanned with an
    * `isin` pushdown on its local ids, so Parquet min/max prunes to the few
    * row groups actually containing the hits — the .fdt-seek analogue. A
    * full docs-table scan + join for a ≤k-row fetch would read the whole
    * corpus per query at scale (the docs table is the biggest table in the
    * index); this reads O(hit row groups).
    */
  def docsForIds(ids: Seq[Long]): DataFrame = {
    val parts = segments.zipWithIndex.flatMap { case (s, i) =>
      val lo = bases(i); val hi = lo + s.maxDocId
      val local = ids.collect { case d if d >= lo && d <= hi => d - lo }
      if (local.isEmpty) None
      else Some(graft.index.DocValues.overlay(spark,
          readers(i).docs.where($"docId".isin(local: _*)),
          s.dir)
        .withColumn("docId", $"docId" + lit(lo)))
    }
    if (parts.isEmpty)
      readers.head.docs.where(lit(false))
    else parts.reduce(_ unionByName _)
  }

  /** True when every segment persisted per-doc term vectors
    * (IndexConfig.storeTermVectors).
    */
  def hasTermVectors: Boolean = segments.forall(s =>
    java.nio.file.Files.exists(java.nio.file.Paths.get(s.dir, "tvec")))

  /** Per-doc term vectors for a small (top-k-sized) set of global docIds —
    * exploded (docId, term, freq) rows (ref `index/TermVectors.java` /
    * `codecs/lucene90/Lucene90TermVectorsFormat`). Same .fdt-seek shape as
    * [[docsForIds]]: each segment's docId-sorted tvec table is scanned with
    * an `isin` pushdown, so Parquet min/max prunes to the hit row groups.
    * Callers supply live ids (the usual hit-list flow); requires
    * [[hasTermVectors]].
    */
  def termVectors(ids: Seq[Long]): DataFrame = {
    require(hasTermVectors, "index was not built with storeTermVectors")
    val parts = segments.zipWithIndex.flatMap { case (s, i) =>
      val lo = bases(i); val hi = lo + s.maxDocId
      val local = ids.collect { case d if d >= lo && d <= hi => d - lo }
      if (local.isEmpty) None
      else Some(readers(i).tvec
        .where($"docId".isin(local: _*))
        .withColumn("docId", $"docId" + lit(lo)))
    }
    val rows =
      if (parts.isEmpty)
        readers.head.tvec.where(lit(false))
      else parts.reduce(_ unionByName _)
    rows
      .select($"docId", explode(arrays_zip($"terms", $"freqs")).as("tv"))
      .select($"docId", $"tv.terms".as("term"), $"tv.freqs".as("freq"))
  }

  /** (docId, score, url, …stored fields) for an already-collected hit list —
    * broadcast the tiny hit set against the point-looked-up stored fields.
    */
  def fetchDocs(hits: Array[ScoredDoc]): DataFrame =
    docsForIds(hits.map(_.docId).toSeq)
      .join(broadcast(spark.createDataset(hits.toSeq).toDF("docId", "score")), "docId")

  def searchDocs(query: Query, k: Int): DataFrame =
    fetchDocs(topK(query, k).collect())
      .orderBy($"score".desc, $"docId".asc)
}

object IndexSearcher {

  // derived once, and resolved to expressions once: deriving a product
  // encoder costs reflection, and `createDataset` turns a bare product
  // encoder into an `ExpressionEncoder` again on every call
  private[search] val ScoredDocEncoder: Encoder[ScoredDoc] = ExpressionEncoder[ScoredDoc]()
  private[search] val QBlockEncoder: Encoder[QBlock] = ExpressionEncoder[QBlock]()

  /** The top `k` of the per-slice top-k lists, score desc then docId asc
    * (the collector's tie rule: the earlier doc wins), with Spark SQL's
    * double ordering (`ORDER BY score DESC, docId ASC`).
    */
  /** The live docs `sc` matches, in docId order; the scorer sits on each
    * doc while the caller reads it (score, phrase freq, intervals).
    */
  private[search] def live(sc: DocScorer, dead: Tombstones): Iterator[Long] =
    Iterator.continually(sc.nextDoc()).takeWhile(_ != DocScorer.NoMoreDocs)
      .filter(d => !dead.contains(d))

  private[search] def mergeTopK(parts: Array[Array[ScoredDoc]], k: Int): Array[ScoredDoc] =
    parts.flatten.sorted(HitOrder).take(k)

  private val HitOrder: Ordering[ScoredDoc] = (x, y) => {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(y.score, x.score)
    if (c != 0) c else java.lang.Long.compare(x.docId, y.docId)
  }

  /** Count ordered sloppy-phrase matches: strictly increasing tuples
    * `p_0 < … < p_{n-1}` with `p_i ∈ slotPos(i)` and span
    * `p_{n-1} - p_0 <= (n-1) + slop`. Sorted inputs; bounded recursion —
    * each level only walks positions inside the remaining window.
    */
  private[graft] def countSloppy(slotPos: Array[Array[Int]], slop: Int): Int = {
    val n = slotPos.length
    if (n == 1) return slotPos(0).length
    val maxSpan = n - 1 + slop
    def lowerBound(a: Array[Int], key: Int): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (a(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }
    var total = 0
    var i0 = 0
    val p0s = slotPos(0)
    while (i0 < p0s.length) {
      val p0 = p0s(i0)
      def go(slot: Int, prev: Int): Int =
        if (slot == n) 1
        else {
          val ps = slotPos(slot)
          var c = 0
          var j = lowerBound(ps, prev + 1)
          while (j < ps.length && ps(j) - p0 <= maxSpan) { c += go(slot + 1, ps(j)); j += 1 }
          c
        }
      total += go(1, p0)
      i0 += 1
    }
    total
  }

  private[search] def dfiMeasureOrd(m: Similarity.DfiMeasure): Int = m match {
    case Similarity.DfiMeasure.Standardized => 0
    case Similarity.DfiMeasure.Saturated    => 1
    case Similarity.DfiMeasure.ChiSquared   => 2
  }

  /** Any positional (phrase / multiphrase / interval) node anywhere in
    * the tree?
    */
  def hasPhrase(q: Query): Boolean = q match {
    case _: PhraseQuery      => true
    case _: MultiPhraseQuery => true
    case _: IntervalQuery    => true
    case BoostQuery(q2, _)   => hasPhrase(q2)
    case cs: ConstScoreQuery => hasPhrase(cs.query)
    case dm: DisMaxQuery     => dm.disjuncts.exists(hasPhrase)
    case bq: BoolQuery       => bq.clauses.exists(c => hasPhrase(c._1))
    case _                   => false
  }

  /** Smallest string strictly greater than every string with prefix `p`
    * (None when every char is Char.MaxValue — no finite upper bound).
    */
  private[graft] def prefixUpper(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) None else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** Wildcard pattern (`*` any run, `?` one char) compiled to an anchored
    * regex plus its literal prefix (the automaton common prefix of ref
    * `search/WildcardQuery.java:38` toAutomaton): `(regex, literalPrefix)`.
    */
  private[graft] def wildcardParts(pattern: String): (String, String) = {
    val re = "^" + pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if c.isLetterOrDigit => c.toString
      case c => "\\" + c
    } + "$"
    (re, pattern.takeWhile(c => c != '*' && c != '?'))
  }

  /** The dictionary range `[lo, hi)` (no upper bound when `hi` is None)
    * holding every term `spec` can match: its literal prefix's range, the
    * inclusive span of a term range (`hi + '\u0000'` is the successor of
    * `hi`), or the whole dictionary for fuzzy and prefix-free wildcards.
    */
  private[search] def specRange(spec: MultiTerm): (String, Option[String]) = spec match {
    case MultiTerm.Prefix(p)          => (p, prefixUpper(p))
    case MultiTerm.Range(lo, hi, _, _) => (lo, Some(hi + '\u0000'))
    case MultiTerm.Wildcard(pat)      => val p = wildcardParts(pat)._2; (p, prefixUpper(p))
    case MultiTerm.Fuzzy(_, _)        => ("", None)
  }

  /** Dictionary rows ranked docFreq desc, term asc. */
  private[graft] def byDocFreq(rows: Seq[TermStat]): Seq[TermStat] =
    rows.sortBy(s => (-s.docFreq, s.term))

  /** `x` rounded to 6 decimals, HALF_UP — Spark's `round(x, 6)`. */
  private[search] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The first code point of `s` upper-cased (Soundex's kept letter). */
  private[search] def upperFirst(s: String): String =
    if (s.isEmpty) ""
    else {
      val u = s.substring(0, s.offsetByCodePoints(0, 1)).toUpperCase(java.util.Locale.ROOT)
      u.substring(0, u.offsetByCodePoints(0, 1))
    }

  /** Every [[MultiTermDictQuery]] node in the tree (complete multi-term
    * rewrites whose blocks ship under sentinel namespaces — see
    * `dictBlocks`).
    */
  private[search] def dictSpecs(q: Query): Seq[MultiTermDictQuery] = q match {
    case dq: MultiTermDictQuery => Seq(dq)
    case BoostQuery(q2, _)      => dictSpecs(q2)
    case cs: ConstScoreQuery    => dictSpecs(cs.query)
    case dm: DisMaxQuery        => dm.disjuncts.flatMap(dictSpecs)
    case bq: BoolQuery          => bq.clauses.flatMap(c => dictSpecs(c._1))
    case _                      => Seq.empty
  }

  /** Count exact-phrase matches (the `ExactPhraseMatcher` counting loop):
    * positions p of slot 0 with slot k at `p + offsets(k) - offsets(0)` in
    * its sorted positions for every k — offsets `0..n-1` for a phrase, the
    * slot offsets (with their gaps) for a MultiPhraseQuery.
    */
  private[graft] def countExactOffsets(
      slotPos: Array[Array[Int]], offsets: Array[Int]): Int = {
    val p0 = slotPos(0)
    var f = 0
    var j = 0
    while (j < p0.length) {
      var ok = true
      var k = 1
      while (ok && k < slotPos.length) {
        val want = p0(j) + offsets(k) - offsets(0)
        if (java.util.Arrays.binarySearch(slotPos(k), want) < 0) ok = false
        k += 1
      }
      if (ok) f += 1
      j += 1
    }
    f
  }

  /** Open all committed segments under an index root (each subdir with a
    * manifest), ordered by directory name.
    */
  def open(
      spark: SparkSession,
      indexDir: String,
      analyzer: StandardAnalyzer = StandardAnalyzer.Default,
      precision: Precision = Precision.FloatExact,
      similarity: Similarity = Similarity.Bm25,
      shared: Seq[SegmentReader] = Nil
  ): IndexSearcher = {
    // the live set (segments_N commit point) decides visibility; legacy
    // single-build layouts without one fall back to the directory listing
    val segs = graft.index.LiveSet.manifests(indexDir)
    require(segs.nonEmpty, s"no committed segments under $indexDir")
    new IndexSearcher(spark, segs, analyzer, precision, similarity = similarity,
      shared = shared)
  }
}

/** NRT reader management — the re-expression of the reference's
  * `search/SearcherManager.java` + `index/DirectoryReader.openIfChanged`:
  * callers `acquire()` a stable searcher; `maybeRefresh()` swaps in a new
  * one only when the index's live-set generation has advanced (a cheap
  * metadata read — no segment data touched on the no-change path). The
  * new searcher keeps the [[SegmentReader]] of every segment still live,
  * as `openIfChanged` keeps unchanged `SegmentReader`s.
  */
final class SearcherManager(
    spark: SparkSession,
    indexDir: String,
    analyzer: StandardAnalyzer = StandardAnalyzer.Default,
    precision: Precision = Precision.FloatExact
) {
  private def currentGen: Long =
    graft.index.LiveSet.read(indexDir).map(_._1).getOrElse(-1L)

  /** Open the current live set, reusing `prev`'s readers (relations,
    * resident slices and dictionary, Bloom filter); new segments and every
    * segment's tombstones are read afresh.
    */
  private def load(prev: Seq[SegmentReader]): (Long, IndexSearcher) = {
    val g = currentGen
    (g, IndexSearcher.open(spark, indexDir, analyzer, precision, shared = prev))
  }

  @volatile private var cached: (Long, IndexSearcher) = load(Nil)

  /** The current searcher (stable until the next successful refresh). */
  def acquire(): IndexSearcher = cached._2

  /** Re-open if the live set advanced since the cached searcher was
    * opened; returns true when a new searcher was installed.
    */
  def maybeRefresh(): Boolean = synchronized {
    if (currentGen != cached._1) {
      val prev = cached._2.readers
      cached = load(prev.toSeq)
      // readers not carried over (a merged-away or re-manifested segment)
      // release their resident slices
      prev.filterNot(r => cached._2.readers.exists(_ eq r)).foreach(_.release())
      true
    } else false
  }
}

/** Builds the scorer tree for a query over one resident slice (one doc
  * range of a segment) and runs the matching strategy — the analogue of
  * `search/BooleanScorerSupplier.java:187-247` picking WAND vs conjunction by
  * clause shape.
  */
object Executor {

  /** Scorer-map key for a (term-or-synonym, boost) pair: an unboosted clause
    * keys by the bare term so every existing path is unchanged; a boosted
    * clause gets its own SimScorer with the boost folded into the weight.
    */
  def skey(term: String, boost: Double): String =
    if (boost == 1.0) term else s"$term#b=$boost"

  /** Build a DocScorer for `query`; None = provably no matches in group. */
  def build(
      query: Query,
      blocks: Map[String, Array[BlockView]],
      scorers: Map[String, SimScorer],
      boost: Double = 1.0
  ): Option[DocScorer] = query match {
    case MatchNoneQuery => None
    case TermQuery(t) =>
      blocks.get(t).map(bs => new TermScorer(bs, scorers(skey(t, boost))))
    case BoostQuery(inner, b2) =>
      build(inner, blocks, scorers, boost * b2)
    case sq: SynonymQuery =>
      val sim = scorers(skey(sq.key, boost))
      val children = sq.synonyms.flatMap(blocks.get).map(bs => new TermScorer(bs, sim)).toArray
      if (children.isEmpty) None else Some(new SynonymScorer(children, sim))
    case cf: CombinedFieldQuery =>
      val sim = scorers(skey(cf.key, boost))
      val present = cf.fieldTerms.filter { case (t, _) => blocks.contains(t) }
      if (present.isEmpty) None
      else Some(new CombinedFieldScorer(
        present.map { case (t, _) => new TermScorer(blocks(t), sim) }.toArray,
        present.map(_._2).toArray, sim))
    case fq: FeatureQuery =>
      // a feature posting is an ordinary posting whose freq encodes the
      // value — the plain TermScorer with a FeatureSimScorer gives exact
      // scores AND sound impact bounds (monotone decode)
      blocks.get(fq.term).map(bs => new TermScorer(bs, scorers(skey(fq.key, boost))))
    case pq: PhraseQuery => phraseScorer(pq, blocks, scorers(skey(pq.key, boost)))
    case iq: IntervalQuery => intervalScorer(iq, blocks, boost)
    case mq: MultiPhraseQuery =>
      val perSlot = mq.slots.map { case (_, slotTs) => slotTs.distinct.filter(blocks.contains) }
      if (perSlot.exists(_.isEmpty)) None
      else {
        val sim = scorers(skey(mq.key, boost))
        val uniqueTerms = perSlot.flatten.distinct
        val byT = uniqueTerms.map(t => t -> new TermScorer(blocks(t), sim)).toMap
        Some(new MultiPhraseScorer(
          perSlot.map(_.map(byT).toArray).toArray,
          mq.slots.map(_._1).toArray,
          uniqueTerms.map(byT).toArray, mq.slop, sim))
      }
    case dm: DisMaxQuery =>
      val children = dm.disjuncts.flatMap(build(_, blocks, scorers, boost))
      if (children.isEmpty) None
      else Some(new DisMaxScorer(children.toArray, dm.tieBreaker))
    case cs: ConstScoreQuery =>
      // outer boost multiplies the constant (the reference's
      // ConstantScoreQuery weight semantics); inner scores are discarded
      build(cs.query, blocks, scorers, boost)
        .map(new ConstWrapScorer(_, cs.score * boost))
    case dq: MultiTermDictQuery =>
      // complete constant-score multi-term rewrite: union every posting
      // list shipped under this node's sentinel namespace (one TermScorer
      // per matched dictionary term — per-term blocks stay disjoint and
      // sorted); the disjunction's sum is discarded by the constant wrap
      // (ref MultiTermQueryConstantScoreWrapper's per-segment bitset union)
      val pre = dq.key + "\u0001"
      val children = blocks.iterator.collect {
        case (k, bs) if k.startsWith(pre) =>
          new TermScorer(bs, new ConstScorer(1.0)): DocScorer
      }.toArray
      children.length match {
        case 0 => None
        case 1 => Some(new ConstWrapScorer(children(0), boost))
        case _ => Some(new ConstWrapScorer(new DisjunctionSumScorer(children), boost))
      }
    case bq: BoolQuery =>
      val must = bq.must.map(build(_, blocks, scorers, boost))
      val filters = bq.filter.map(build(_, blocks, scorers, boost))
      if (must.exists(_.isEmpty) || filters.exists(_.isEmpty)) return None
      val should = bq.should.flatMap(build(_, blocks, scorers, boost))
      val excl = orScorer(bq.mustNot.flatMap(build(_, blocks, scorers, boost)))
      val msm = bq.minimumShouldMatch
      val core: Option[DocScorer] =
        if (msm > 0 && bq.should.nonEmpty) {
          // msm makes the SHOULD group required: doc must match >= msm of
          // them (ref BooleanWeight; WANDScorer minShouldMatch semantics)
          if (should.length < msm) None
          else {
            val msmScorer: DocScorer =
              if (msm == 1) orScorer(should).get
              else new MinShouldMatchScorer(should.toArray, msm)
            if (must.nonEmpty || filters.nonEmpty)
              Some(new ConjunctionScorer((must.flatten :+ msmScorer).toArray,
                filters.flatten.toArray))
            else Some(msmScorer)
          }
        } else {
          val req: Option[DocScorer] =
            if (must.nonEmpty || filters.nonEmpty)
              Some(new ConjunctionScorer(must.flatten.toArray, filters.flatten.toArray))
            else None
          val opt = orScorer(should)
          (req, opt) match {
            case (Some(r), Some(o)) => Some(new ReqOptScorer(r, o))
            case (Some(r), None)    => Some(r)
            case (None, Some(o))    => Some(o)
            case (None, None)       => None
          }
        }
      (core, excl) match {
        case (Some(c), Some(e)) => Some(new ReqExclScorer(c, e))
        case (c, _)             => c
      }
  }

  /** The phrase matcher over one slice; None when a phrase term has no
    * block there. [[IndexSearcher.phraseFreqs]] reads its `freq`.
    */
  def phraseScorer(
      pq: PhraseQuery, blocks: Map[String, Array[BlockView]], sim: SimScorer
  ): Option[PhraseScorer] = {
    val uniqueTerms = pq.phraseTerms.distinct
    if (uniqueTerms.exists(t => !blocks.contains(t))) None
    else {
      val byT = uniqueTerms.map(t => t -> new TermScorer(blocks(t), sim)).toMap
      Some(new PhraseScorer(pq.phraseTerms.map(byT).toArray,
        uniqueTerms.map(byT).toArray, pq.slop, sim))
    }
  }

  /** The interval matcher over one slice; None when a required term has
    * no block there, or no term has. [[IndexSearcher.intervalHits]] reads
    * its `intervals`.
    */
  def intervalScorer(
      iq: IntervalQuery, blocks: Map[String, Array[BlockView]], boost: Double
  ): Option[IntervalDocScorer] = {
    val unique = iq.source.terms.distinct.filter(blocks.contains)
    val required = iq.source.required.distinct
    if (required.exists(t => !blocks.contains(t)) || unique.isEmpty) None
    else {
      val byT = unique.map(t => t -> new TermScorer(blocks(t), new ConstScorer(1.0))).toMap
      Some(new IntervalDocScorer(byT, required.map(byT).toArray,
        iq.source, Intervals.minExtent(iq.source), iq.pivot, boost))
    }
  }

  private def orScorer(children: Seq[DocScorer]): Option[DocScorer] =
    children match {
      case Seq()  => None
      case Seq(c) => Some(c)
      case cs     => Some(new DisjunctionSumScorer(cs.toArray))
    }

  /** The query's top hits over one slice into `collector`, in one of three
    * shapes: a pure top-level disjunction (optionally with MUST_NOT) → WAND
    * over its SHOULD clauses; required clauses → [[blockMaxConjunction]];
    * anything else → WAND over the one scorer [[build]] gives.
    */
  def search(
      query: Query,
      blocks: Map[String, Array[BlockView]],
      scorers: Map[String, SimScorer],
      collector: TopKCollector,
      pruning: Boolean
  ): Unit = query match {
    case bq: BoolQuery
        if bq.must.isEmpty && bq.filter.isEmpty && bq.minimumShouldMatch <= 1 =>
      val should = bq.should.flatMap(build(_, blocks, scorers))
      val excl = orScorer(bq.mustNot.flatMap(build(_, blocks, scorers)))
      if (should.nonEmpty) Wand.run(should.toArray, excl, collector, pruning)
    case bq: BoolQuery
        if (bq.must.nonEmpty || bq.filter.nonEmpty) &&
          (bq.minimumShouldMatch == 0 || bq.should.isEmpty) =>
      // required clauses drive: block-max AND over MUST/FILTER, with SHOULD
      // clauses scored as optionals whose block maxima join the pruning
      // bound (ref search/BlockMaxConjunctionBulkScorer.java +
      // ReqOptSumScorer via BooleanScorerSupplier.java:412-414)
      val musts = bq.must.map(build(_, blocks, scorers))
      val filters = bq.filter.map(build(_, blocks, scorers))
      if (musts.exists(_.isEmpty) || filters.exists(_.isEmpty)) return
      val optional = bq.should.flatMap(build(_, blocks, scorers))
      val excl = orScorer(bq.mustNot.flatMap(build(_, blocks, scorers)))
      blockMaxConjunction(musts.flatten.toArray, filters.flatten.toArray,
        optional.toArray, excl, collector, pruning)
    case _ =>
      // every other shape (a single clause, msm trees, nested booleans,
      // exclusion wrappers): single-scorer WAND — every scorer carries
      // sound per-block bounds (advanceShallow/blockMaxScore), so whole
      // blocks whose bound cannot beat the k-th score skip without
      // decoding; pruning=false degrades to the exhaustive drain (duels
      // enforce rank identity)
      build(query, blocks, scorers).foreach(s =>
        Wand.run(Array(s), None, collector, pruning))
  }

  /** Block-max conjunction with optional clauses: leapfrog intersection led
    * by the cheapest required clause; before scoring a matched doc, the
    * scoring clauses' summed per-block maxima (MUST plus SHOULD optionals)
    * are checked against the collector's k-th score — a non-competitive
    * block is skipped wholesale (to just past the tightest block boundary
    * across ALL scoring clauses, since an optional's next block could raise
    * the bound) without decoding. Optionals add their score on docs they
    * also match (the ReqOptSumScorer shape). Results are identical to
    * exhaustive draining (duels enforce it): a doc is only skipped when its
    * score upper bound cannot exceed the current threshold.
    */
  private def blockMaxConjunction(
      musts: Array[DocScorer],
      filters: Array[DocScorer],
      optional: Array[DocScorer],
      excl: Option[DocScorer],
      collector: TopKCollector,
      pruning: Boolean
  ): Unit = {
    import DocScorer.NoMoreDocs
    val all = musts ++ filters
    if (all.isEmpty) return
    val lead = all.minBy(_.cost)
    var d = lead.nextDoc()
    while (d != NoMoreDocs) {
      // align every other clause to the lead's doc
      var aligned = true
      var i = 0
      while (i < all.length && aligned) {
        val s = all(i)
        if (s ne lead) {
          val sd = if (s.docId < d) s.advance(d) else s.docId
          if (sd != d) {
            aligned = false
            d = if (sd == NoMoreDocs) NoMoreDocs else lead.advance(sd)
          }
        }
        i += 1
      }
      if (aligned && d != NoMoreDocs) {
        val thr = if (pruning) collector.minCompetitiveScore else Double.NegativeInfinity
        var prune = false
        if (thr != Double.NegativeInfinity) {
          var ub = 0.0
          var j = 0
          while (j < musts.length) {
            musts(j).advanceShallow(d)
            ub += musts(j).blockMaxScore
            j += 1
          }
          j = 0
          while (j < optional.length) {
            if (optional(j).docId != NoMoreDocs) {
              optional(j).advanceShallow(d)
              ub += optional(j).blockMaxScore
            }
            j += 1
          }
          prune = ub <= thr
        }
        if (prune) {
          var bnd = NoMoreDocs
          var j = 0
          while (j < musts.length) {
            val b = musts(j).blockBoundary
            if (b < bnd) bnd = b
            j += 1
          }
          // an optional's bound only holds inside its current block — the
          // skip must not overshoot any scoring clause's boundary
          j = 0
          while (j < optional.length) {
            if (optional(j).docId != NoMoreDocs) {
              val b = optional(j).blockBoundary
              if (b < bnd) bnd = b
            }
            j += 1
          }
          val skipTo =
            if (bnd == NoMoreDocs) NoMoreDocs else math.max(d + 1, bnd + 1)
          d = lead.advance(skipTo)
        } else {
          val excluded = excl.exists { e =>
            val ed = if (e.docId < d) e.advance(d) else e.docId
            ed == d
          }
          if (!excluded) {
            var s = 0.0
            var j = 0
            while (j < musts.length) { s += musts(j).score; j += 1 }
            j = 0
            while (j < optional.length) {
              val o = optional(j)
              if (o.docId != NoMoreDocs) {
                val od = if (o.docId < d) o.advance(d) else o.docId
                if (od == d) s += o.score
              }
              j += 1
            }
            collector.collect(d, s)
          }
          d = lead.nextDoc()
        }
      }
    }
  }

  /** All scorer-map keys a query needs (terms + synonym pseudo-terms, with
    * boost-qualified keys for boosted clauses).
    */
  def scorerKeys(q: Query, boost: Double = 1.0): Set[String] = q match {
    case TermQuery(t)        => Set(skey(t, boost))
    case MatchNoneQuery      => Set.empty
    case BoostQuery(q2, b2)  => scorerKeys(q2, boost * b2)
    case sq: SynonymQuery    => sq.synonyms.toSet + skey(sq.key, boost)
    case cf: CombinedFieldQuery => cf.terms + skey(cf.key, boost)
    case fq: FeatureQuery    => Set(skey(fq.key, boost))
    case pq: PhraseQuery     => pq.terms + skey(pq.key, boost)
    case mq: MultiPhraseQuery => mq.terms + skey(mq.key, boost)
    case iq: IntervalQuery   => iq.terms
    case dm: DisMaxQuery     => dm.disjuncts.iterator.flatMap(scorerKeys(_, boost)).toSet
    case cs: ConstScoreQuery => scorerKeys(cs.query, boost)
    case _: MultiTermDictQuery => Set.empty // const-scored, no stats
    case bq: BoolQuery       => bq.clauses.iterator.flatMap(c => scorerKeys(c._1, boost)).toSet
  }

  /** Matching docIds without scoring. */
  def matchIds(
      query: Query,
      blocks: Map[String, Array[BlockView]]
  ): Iterator[Long] = {
    val const: Map[String, SimScorer] =
      scorerKeys(query).iterator.map(t => t -> (new ConstScorer(1.0): SimScorer)).toMap
    build(query, blocks, const) match {
      case None => Iterator.empty
      case Some(s) =>
        new Iterator[Long] {
          private var d = s.nextDoc()
          def hasNext: Boolean = d != DocScorer.NoMoreDocs
          def next(): Long = { val r = d; d = s.nextDoc(); r }
        }
    }
  }
}
