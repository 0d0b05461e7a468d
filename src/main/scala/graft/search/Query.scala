package graft.search

/** Boolean occurrence classes (ref
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/BooleanClause.java`).
  */
sealed trait Occur extends Serializable
object Occur {
  case object Should extends Occur
  case object Must extends Occur
  case object MustNot extends Occur
  case object Filter extends Occur
}

/** Query tree: terms + nested booleans — enough surface for the reference
  * benchmark query shapes (`lucene/benchmark/conf/query-terms.txt`: term,
  * `a AND b`, `(a OR b) AND c`, negations).
  */
sealed trait Query extends Serializable {
  /** All terms referenced (for stats + block loading). */
  def terms: Set[String]
}

final case class TermQuery(term: String) extends Query {
  def terms: Set[String] = Set(term)
}

/** Provably matches nothing — the rewrite sink for contradictory or empty
  * booleans (ref `search/MatchNoDocsQuery.java`).
  */
case object MatchNoneQuery extends Query {
  def terms: Set[String] = Set.empty
}

/** Multiple surface forms scored as one pseudo-term: summed per-doc tf, max
  * docFreq (ref `/root/reference/lucene/core/src/java/org/apache/lucene/search/SynonymQuery.java:54`
  * — "scores as if you had indexed all variants as one term").
  */
final case class SynonymQuery(synonyms: Seq[String]) extends Query {
  require(synonyms.nonEmpty)
  def terms: Set[String] = synonyms.toSet
  def key: String = synonyms.sorted.mkString("syn:", "|", "")
}

/** Score-multiplying wrapper (ref
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/BoostQuery.java`):
  * the wrapped query's weight is `boost * idf`, folded into the SimScorer at
  * weight-construction time exactly as the reference does (boost multiplies
  * inside the float weight, not as a post-hoc score multiply).
  */
final case class BoostQuery(query: Query, boost: Double) extends Query {
  def terms: Set[String] = query.terms
}

/** Disjunction scored by the BEST clause plus `tieBreaker` times the rest
  * (ref `/root/reference/lucene/core/src/java/org/apache/lucene/search/DisjunctionMaxQuery.java`
  * — the "dismax" combiner: prevents multi-field term stacking from
  * drowning the strongest field).
  */
final case class DisMaxQuery(disjuncts: Seq[Query], tieBreaker: Double = 0.0)
    extends Query {
  require(disjuncts.nonEmpty)
  def terms: Set[String] = disjuncts.iterator.flatMap(_.terms).toSet
}

/** Every match scores the constant `score` regardless of tf/idf (ref
  * `search/ConstantScoreQuery.java`).
  */
final case class ConstScoreQuery(query: Query, score: Double = 1.0) extends Query {
  def terms: Set[String] = query.terms
}

/** Positional phrase as a first-class query node (ref
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/PhraseQuery.java`):
  * matches docs containing the terms at consecutive positions (`slop = 0`,
  * `ExactPhraseMatcher`) or within an ordered window of span
  * `(n-1) + slop` (`SloppyPhraseMatcher`, ordered variant). Scored like the
  * reference: tf = phrase frequency, weight = Σ per-term idf
  * (`BM25Similarity.java:160-169` multi-term stats), so it composes inside
  * boolean trees like any other scoring clause. Requires a positional index.
  */
final case class PhraseQuery(phraseTerms: Seq[String], slop: Int = 0) extends Query {
  require(phraseTerms.nonEmpty, "empty phrase")
  require(slop >= 0, s"negative slop $slop")
  def terms: Set[String] = phraseTerms.toSet
  def key: String = phraseTerms.mkString(s"ph$slop:", "|", "")
}

/** Phrase with term alternation per position slot and explicit slot
  * offsets — the reference's `MultiPhraseQuery`
  * (`/root/reference/lucene/core/src/java/org/apache/lucene/search/MultiPhraseQuery.java`:
  * `Builder.add(Term[], position)`): slot s matches when ANY of its terms
  * occurs at `p + offset(s)`; offsets may have gaps (stopword-removed
  * analysis positions). Scored like [[PhraseQuery]]: tf = phrase frequency,
  * weight = Σ idf over ALL terms in all slots (the reference's
  * `MultiPhraseWeight` stats union). Sloppy mode uses the ordered-window
  * count over each slot's merged position list.
  */
final case class MultiPhraseQuery(
    slots: Seq[(Int, Seq[String])],
    slop: Int = 0
) extends Query {
  require(slots.nonEmpty, "empty multiphrase")
  require(slots.forall(_._2.nonEmpty), "empty slot")
  require(slots.map(_._1) == slots.map(_._1).sorted, "slot offsets must ascend")
  require(slop >= 0, s"negative slop $slop")
  def terms: Set[String] = slots.iterator.flatMap(_._2).toSet
  def key: String =
    slots.map { case (o, ts) => s"$o=${ts.sorted.mkString("|")}" }
      .mkString(s"mph$slop:", ",", "")
}

/** Scored interval query — the reference's queries-module `IntervalQuery`
  * (`/root/reference/lucene/queries/src/java/org/apache/lucene/queries/intervals/IntervalQuery.java`):
  * matches docs where the interval source yields at least one minimal
  * interval; scores by the saturation of the sloppy interval frequency,
  * `score = boost · f / (f + pivot)` with
  * `f = Σ_intervals 1 / max(len − minExtent + 1, 1)` (`IntervalScorer.java`
  * ensureFreq + `IntervalScoreFunction.saturationFunction`). Scores are
  * bounded in [0, boost) and independent of norms/idf, exactly like the
  * reference. Evaluated in double precision in every mode.
  */
final case class IntervalQuery(source: Intervals.Source, pivot: Double = 1.0)
    extends Query {
  require(pivot > 0, s"pivot must be > 0, got $pivot")
  def terms: Set[String] = source.terms.toSet
  def key: String = s"iq:$pivot:${source.toString}"
}

/** One term scored against a synthetic union of fields — BM25F (ref
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/CombinedFieldQuery.java`):
  * the query pretends the term was indexed in a single combined field whose
  * values are the union of `fields`' values. Pseudo term stats: docFreq =
  * max over fields, totalTermFreq = Σ weight·ttf; pseudo collection stats:
  * docCount = max over fields, sumTotalTermFreq = Σ weight·sttf (so avgdl
  * reflects the weighted union). Per doc, freq = Σ weight·tf_field and the
  * norm is the re-encoded weighted sum of decoded per-field lengths
  * (`MultiNormsLeafSimScorer.MultiFieldNormValues` — additive byte4 norms).
  * Field weights must be ≥ 1, like the reference's builder.
  */
final case class CombinedFieldQuery(term: String, fields: Seq[(String, Double)])
    extends Query {
  require(fields.nonEmpty, "CombinedFieldQuery needs at least one field")
  require(fields.forall(_._2 >= 1.0), "field weights must be >= 1")
  /** FieldKey-encoded (field, weight) pairs in stable field order. */
  def fieldTerms: Seq[(String, Double)] =
    fields.map { case (f, w) => graft.index.FieldKey.encode(f, term) -> w }
  def terms: Set[String] = fieldTerms.map(_._1).toSet
  def key: String =
    fields.sortBy(_._1).map { case (f, w) => s"$f=$w" }
      .mkString(s"cf:$term:", ",", "")
}

/** Score transforms for static-feature queries (ref `FeatureField.java`
  * LinearFunction / LogFunction / SaturationFunction): monotone in the
  * feature value, so posting-freq impacts give sound WAND bounds.
  */
sealed trait FeatureFunction extends Serializable
object FeatureFunction {
  /** score = w · S (`FeatureField.newLinearQuery`). */
  case object Linear extends FeatureFunction
  /** score = w · ln(a + S), a ≥ 1 (`FeatureField.newLogQuery`). */
  final case class Log(scalingFactor: Double) extends FeatureFunction {
    require(scalingFactor >= 1.0, s"scalingFactor must be >= 1, got $scalingFactor")
  }
  /** score = w · S / (S + k), k > 0 (`FeatureField.newSaturationQuery`). */
  final case class Saturation(pivot: Double) extends FeatureFunction {
    require(pivot > 0, s"pivot must be > 0, got $pivot")
  }
}

/** Static per-document ranking signal read from a feature posting's term
  * frequency (ref `document/FeatureQuery.java` via `FeatureField`'s query
  * factories): matches every doc carrying the feature; the score is a
  * monotone transform of the decoded feature value and ignores norms/idf.
  * Typically composed as a SHOULD clause beside a text query.
  */
final case class FeatureQuery(
    feature: String,
    function: FeatureFunction,
    weight: Double = 1.0
) extends Query {
  require(weight > 0, s"weight must be > 0, got $weight")
  def term: String = graft.index.FeatureIndexer.featureTerm(feature)
  def terms: Set[String] = Set(term)
  def key: String = s"feat:$feature:$function:$weight"
}

/** @param minimumShouldMatch docs must match at least this many SHOULD
  *   clauses (ref `search/BooleanQuery.java#getMinimumNumberShouldMatch`,
  *   scorer semantics `search/WANDScorer.java` minShouldMatch mode). 0 keeps
  *   the default: >=1 SHOULD when no MUST/FILTER present, else optional.
  */
final case class BoolQuery(
    clauses: Seq[(Query, Occur)],
    minimumShouldMatch: Int = 0
) extends Query {
  def terms: Set[String] = clauses.iterator.flatMap(_._1.terms).toSet
  def must: Seq[Query] = clauses.collect { case (q, Occur.Must) => q }
  def should: Seq[Query] = clauses.collect { case (q, Occur.Should) => q }
  def mustNot: Seq[Query] = clauses.collect { case (q, Occur.MustNot) => q }
  def filter: Seq[Query] = clauses.collect { case (q, Occur.Filter) => q }
}

/** Complete constant-score multi-term query — the reference's
  * CONSTANT_SCORE rewrite of a `MultiTermQuery`
  * (`search/MultiTermQuery.java` DOC_VALUES/CONSTANT_SCORE modes,
  * `search/MultiTermQueryConstantScoreWrapper.java`): matches every doc
  * containing ANY dictionary term matching `spec`, with NO expansion cap.
  * Execution unions the matching postings per resident slice, the
  * distributed analogue of the reference's per-segment DocIdSet build: the
  * spec ships to every slice, which walks its own sorted terms from the
  * spec's range start. Scores are constant (1 × boost); wrap in
  * [[ConstScoreQuery]] to pick the constant. The parser's rewriter only
  * reaches for this node past the expansion cap (small expansions keep the
  * enumerated constant-score OR).
  */
final case class MultiTermDictQuery(spec: MultiTerm) extends Query {
  def terms: Set[String] = Set.empty
  /** Sentinel namespace for this node's shipped posting blocks (block map
    * keys are `key + '\\u0001' + realTerm`; the separator cannot
    * occur in an analyzed term).
    */
  def key: String = spec match {
    case MultiTerm.Prefix(p)             => s"mtd:p:$p"
    case MultiTerm.Wildcard(w)           => s"mtd:w:$w"
    case MultiTerm.Fuzzy(t, e)           => s"mtd:f:$e:$t"
    case MultiTerm.Range(lo, hi, il, ih) => s"mtd:r:$il:$ih:$lo\u0000$hi"
  }
}

/** Multi-term atom patterns of the classic query syntax (`pre*`, `w?ld*`,
  * `term~N`, `[lo TO hi]` / `{lo TO hi}`). The parser produces the pattern;
  * a dictionary-backed rewriter expands it into an executable query — the
  * reference's `MultiTermQuery.rewrite(IndexReader)` model
  * (`search/MultiTermQuery.java`): syntax is index-independent, expansion is
  * not.
  */
sealed trait MultiTerm
object MultiTerm {
  final case class Prefix(prefix: String) extends MultiTerm
  final case class Wildcard(pattern: String) extends MultiTerm
  final case class Fuzzy(term: String, maxEdits: Int) extends MultiTerm
  final case class Range(lo: String, hi: String,
      includeLo: Boolean, includeHi: Boolean) extends MultiTerm

  /** Term-level evaluation of a spec, compiled once — the one definition
    * of what a spec matches: the searcher verifies its dictionary walks
    * with it, and percolation's broadcast evaluator calls [[matches]].
    */
  def matcher(spec: MultiTerm): String => Boolean = spec match {
    case Prefix(p)       => _.startsWith(p)
    case Range(lo, hi, il, ih) =>
      t => (if (il) t >= lo else t > lo) && (if (ih) t <= hi else t < hi)
    case Wildcard(pat)   =>
      val re = java.util.regex.Pattern.compile(IndexSearcher.wildcardParts(pat)._1)
      term => re.matcher(term).find()
    case Fuzzy(t, e) =>
      val edits = math.min(math.max(e, 0), 2)
      term => graft.functions.EditDistance.damerauWithin(t, term, edits) >= 0
  }

  def matches(spec: MultiTerm, term: String): Boolean = matcher(spec)(term)
}

object Query {
  def and(ts: String*): BoolQuery = BoolQuery(ts.map(t => TermQuery(t) -> (Occur.Must: Occur)))
  def or(ts: String*): BoolQuery = BoolQuery(ts.map(t => TermQuery(t) -> (Occur.Should: Occur)))

  /** Score-preserving query rewrite — the reference's `BooleanQuery#rewrite`
    * normalizations (`search/BooleanQuery.java:269-470`), applied before
    * execution: empty / pure-negative / contradictory booleans collapse to
    * [[MatchNoneQuery]], single-clause booleans flatten, duplicate
    * FILTER/MUST_NOT clauses deduplicate, a FILTER duplicating a MUST drops,
    * a FILTER duplicating a SHOULD promotes the SHOULD to MUST, and
    * duplicate SHOULD/MUST scoring clauses merge by summing boosts (every
    * scorer weight is linear in boost, so scores are bit-identical — the
    * reference relies on the same linearity). Boost wrappers fold
    * (`BoostQuery.java` rewrite): boost 1 elides, nested boosts multiply.
    */
  def rewrite(q: Query): Query = q match {
    case BoostQuery(inner, b) =>
      rewrite(inner) match {
        case MatchNoneQuery         => MatchNoneQuery
        case BoostQuery(i2, b2)     => if (b * b2 == 1.0) i2 else BoostQuery(i2, b * b2)
        case i2 if b == 1.0         => i2
        case i2                     => BoostQuery(i2, b)
      }
    case cs: ConstScoreQuery =>
      rewrite(cs.query) match {
        case MatchNoneQuery           => MatchNoneQuery
        case ConstScoreQuery(i2, _)   => ConstScoreQuery(i2, cs.score)
        case i2                       => ConstScoreQuery(i2, cs.score)
      }
    case dm: DisMaxQuery =>
      val ds = dm.disjuncts.map(rewrite).filterNot(_ == MatchNoneQuery)
      ds match {
        case Seq()  => MatchNoneQuery
        case Seq(d) => d
        case more   => DisMaxQuery(more, dm.tieBreaker)
      }
    case bq: BoolQuery => rewriteBool(bq)
    case other => other
  }

  /** Unwrap a boost for clause-identity comparison: (core query, boost). */
  private def unboost(q: Query): (Query, Double) = q match {
    case BoostQuery(inner, b) => val (c, b2) = unboost(inner); (c, b * b2)
    case other                => (other, 1.0)
  }

  private def reboost(core: Query, b: Double): Query =
    if (b == 1.0) core else BoostQuery(core, b)

  private def rewriteBool(bq: BoolQuery): Query = {
    import Occur._
    // recursively rewrite children; drop SHOULD/MUST_NOT MatchNone, fail
    // the whole query on a required MatchNone
    var clauses = bq.clauses.map { case (c, o) => (rewrite(c), o) }
    if (clauses.exists { case (c, o) =>
        c == MatchNoneQuery && (o == Must || o == Filter) })
      return MatchNoneQuery
    clauses = clauses.filterNot(_._1 == MatchNoneQuery)
    var msm = bq.minimumShouldMatch
    val nShould = clauses.count(_._2 == Should)
    if (msm > nShould && bq.clauses.exists(c => c._2 == Should)) return MatchNoneQuery

    if (clauses.isEmpty) return MatchNoneQuery
    if (clauses.forall(_._2 == MustNot)) return MatchNoneQuery

    // single-clause flattening (:280-297)
    if (clauses.size == 1) {
      val (c, o) = clauses.head
      (o, msm) match {
        case (Should, m) if m <= 1 => return c
        case (Must, _)             => return c
        case (Filter, 0)           => return ConstScoreQuery(c, 0.0)
        case _                     => // keep (msm>1 single SHOULD etc.)
      }
    }

    // deduplicate non-scoring clauses (:344-363)
    val filters0 = clauses.collect { case (c, Filter) => c }.distinct
    val mustNots = clauses.collect { case (c, MustNot) => c }.distinct
    val musts0 = clauses.collect { case (c, Must) => c }
    val shoulds0 = clauses.collect { case (c, Should) => c }

    // required-and-excluded contradiction (:365-371)
    val reqSet = (musts0 ++ filters0).toSet
    if (mustNots.exists(reqSet.contains)) return MatchNoneQuery

    // a FILTER that duplicates a MUST adds nothing (:375-395)
    val mustSet = musts0.toSet
    var filters = filters0.filterNot(mustSet.contains)

    // a FILTER that duplicates a SHOULD: promote the SHOULD to MUST
    // (:397-426)
    val shouldSet = shoulds0.toSet
    val promoted = filters.filter(shouldSet.contains)
    var musts = musts0
    var shoulds = shoulds0
    if (promoted.nonEmpty) {
      musts = musts ++ promoted
      shoulds = shoulds.filterNot(promoted.contains)
      filters = filters.filterNot(promoted.contains)
      msm = math.max(0, msm - promoted.size)
    }

    // merge duplicate scoring clauses by summing boosts (:428-470);
    // SHOULD only when msm <= 1 (dedup would change the match count)
    def mergeBoosts(cs: Seq[Query]): Seq[Query] = {
      val order = scala.collection.mutable.LinkedHashMap[Query, Double]()
      cs.foreach { c =>
        val (core, b) = unboost(c)
        order.updateWith(core) { prev => Some(prev.getOrElse(0.0) + b) }
      }
      order.iterator.map { case (core, b) => reboost(core, b) }.toSeq
    }
    if (msm <= 1) shoulds = mergeBoosts(shoulds)
    musts = mergeBoosts(musts)

    val rebuilt =
      musts.map(_ -> (Must: Occur)) ++ filters.map(_ -> (Filter: Occur)) ++
        shoulds.map(_ -> (Should: Occur)) ++ mustNots.map(_ -> (MustNot: Occur))
    // re-flatten if the dedup left one clause
    if (rebuilt.size == 1 && msm <= 1) rewriteBool(BoolQuery(rebuilt, msm))
    else BoolQuery(rebuilt, msm)
  }

  /** Rewriter used by the pure parser: multi-term syntax needs a term
    * dictionary, which only a searcher has (`IndexSearcher.parseFull`).
    */
  val noRewrite: MultiTerm => Query = mt =>
    throw new IllegalArgumentException(
      s"multi-term syntax $mt needs a dictionary-backed parser — use IndexSearcher.parseFull")

  /** Classic query parser (`lucene/queryparser/classic/QueryParser.java`
    * surface): `a AND b`, `a OR b`, `NOT c`, parentheses, bare multi-term
    * (implicit OR), `term^2.5`, `field:term`, quoted phrases `"a b"` with
    * optional slop `"a b"~2` (also field-scoped: `f:"a b"`), and — via
    * `rewrite` — prefix `pre*`, wildcard `w?ld*`, fuzzy `term~`/`term~1`,
    * and ranges `[lo TO hi]` (inclusive) / `{lo TO hi}` (exclusive).
    * Terms are analyzed with the same analyzer as indexing (the consistency
    * rule of `lucene/demo/.../SearchFiles.java:120`); phrase words are
    * analyzed individually. The `+required` / `-prohibited` prefix operators
    * (`QueryParser.jj` Modifiers production) and `\` escapes (`\+ \- \( \)
    * \" \* \? \~ \^ \: \\` — `QueryParserBase#escape`) are supported: an
    * escaped char is literal term text, never syntax.
    */
  def parse(
      s: String,
      analyze: String => String = identity,
      rewrite: MultiTerm => Query = noRewrite
  ): Query = {
    val tokens = tokenize(s)
    val (q, rest) = parseOr(tokens, analyze, rewrite)
    require(rest.isEmpty, s"dangling tokens: $rest")
    q
  }

  private def tokenize(s: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(' || c == ')') { out += c.toString; i += 1 }
      else if (c.isWhitespace) i += 1
      else {
        val j0 = i
        var j = i
        var ok = true
        while (j < s.length && ok) {
          val cj = s.charAt(j)
          if (cj == '\\' && j + 1 < s.length) j += 2 // escape: both chars stay in the token
          else if (cj == '"') { // quoted phrase segment: scan through closing quote
            val close = indexOfUnescaped(s, '"', j + 1)
            require(close >= 0, s"unclosed quote in: $s")
            j = close + 1
          } else if (cj == '[' || cj == '{') { // range atom: scan to the close
            var k = j + 1
            while (k < s.length && s.charAt(k) != ']' && s.charAt(k) != '}') k += 1
            require(k < s.length, s"unclosed range in: $s")
            j = k + 1
          } else if (cj.isWhitespace || cj == '(' || cj == ')') ok = false
          else j += 1
        }
        out += s.substring(j0, j)
        i = j
      }
    }
    out.toList
  }

  private def parseOr(ts: List[String], an: String => String,
      rw: MultiTerm => Query): (Query, List[String]) = {
    var (left, rest) = parseAnd(ts, an, rw)
    val shoulds = scala.collection.mutable.ListBuffer[Query](left)
    while (rest.headOption.exists(_.equalsIgnoreCase("OR"))) {
      val (r, rr) = parseAnd(rest.tail, an, rw)
      shoulds += r
      rest = rr
    }
    if (shoulds.size == 1) (left, rest)
    else (BoolQuery(shoulds.toSeq.map(_ -> (Occur.Should: Occur))), rest)
  }

  private def parseAnd(ts: List[String], an: String => String,
      rw: MultiTerm => Query): (Query, List[String]) = {
    var (left, rest) = parseNot(ts, an, rw)
    val parts = scala.collection.mutable.ListBuffer[(Query, Occur)](left)
    var implicitOr = true
    while (rest.nonEmpty && !rest.head.equalsIgnoreCase("OR") && rest.head != ")") {
      val explicitAnd = rest.head.equalsIgnoreCase("AND")
      val ts2 = if (explicitAnd) rest.tail else rest
      if (explicitAnd) implicitOr = false
      val (r, rr) = parseNot(ts2, an, rw)
      parts += r
      rest = rr
    }
    if (parts.size == 1) (parts.head._1, rest)
    else {
      val occ: Occur = if (implicitOr) Occur.Should else Occur.Must
      val clauses = parts.toSeq.map {
        case (q, Occur.MustNot) => q -> (Occur.MustNot: Occur)
        case (q, Occur.Must)    => q -> (Occur.Must: Occur) // `+term` stays required
        case (q, _)             => q -> occ
      }
      (BoolQuery(clauses), rest)
    }
  }

  private def parseNot(ts: List[String], an: String => String,
      rw: MultiTerm => Query): ((Query, Occur), List[String]) =
    ts match {
      case h :: t if h.equalsIgnoreCase("NOT") || h == "-" =>
        val (q, rest) = parseAtom(t, an, rw)
        ((q, Occur.MustNot), rest)
      // attached prefix operators (QueryParser.jj Modifiers): `-term`
      // prohibits, `+term` requires regardless of the surrounding
      // implicit-OR context
      case h :: t if h.length > 1 && h.startsWith("-") =>
        ((atomQuery(h.substring(1), an, rw), Occur.MustNot), t)
      case h :: t if h.length > 1 && h.startsWith("+") =>
        ((atomQuery(h.substring(1), an, rw), Occur.Must), t)
      case _ =>
        val (q, rest) = parseAtom(ts, an, rw)
        ((q, Occur.Should), rest)
    }

  private def parseAtom(ts: List[String], an: String => String,
      rw: MultiTerm => Query): (Query, List[String]) =
    ts match {
      case "(" :: t =>
        val (q, rest) = parseOr(t, an, rw)
        require(rest.headOption.contains(")"), "missing )")
        (q, rest.tail)
      case h :: t => (atomQuery(h, an, rw), t)
      case Nil    => throw new IllegalArgumentException("empty query")
    }

  private val boostRe = """(.*)\^(\d+(?:\.\d+)?)""".r
  private val fuzzyRe = """(.*?)~(\d?)""".r
  private val rangeRe = """([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])""".r

  /** Index of the first occurrence of `c` in `s` not preceded by `\`. */
  private[search] def indexOfUnescaped(s: String, c: Char, from: Int = 0): Int = {
    var i = from
    while (i < s.length) {
      if (s.charAt(i) == '\\') i += 2
      else if (s.charAt(i) == c) return i
      else i += 1
    }
    -1
  }

  /** Strip escape backslashes: `\x` → `x` (QueryParserBase#discardEscapeChar). */
  private[search] def unescape(s: String): String =
    if (s.indexOf('\\') < 0) s
    else {
      val b = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) { b += s.charAt(i + 1); i += 2 }
        else { b += s.charAt(i); i += 1 }
      }
      b.toString
    }

  /** One atom: boost strips first, then field scope, then the atom kind
    * (phrase / range / wildcard / fuzzy / plain term). Syntax chars are
    * only syntax when unescaped; escapes are discarded from term text
    * before analysis.
    */
  private def atomQuery(h: String, an: String => String, rw: MultiTerm => Query): Query = {
    val caret = indexOfUnescaped(h, '^')
    val (bare, boost) = h match {
      case boostRe(b, f) if b.nonEmpty && caret == b.length => (b, Some(f.toDouble))
      case _                                                => (h, None)
    }
    // field scope: `f:term` or `f:"a b"` — applies to terms after analysis
    val colon = indexOfUnescaped(bare, ':')
    val (field, body) =
      if (colon > 0 && colon < bare.length - 1 &&
          bare.substring(0, colon).matches("[A-Za-z_][A-Za-z0-9_]*"))
        (Some(bare.substring(0, colon)), bare.substring(colon + 1))
      else (None, bare)
    def keyed(t: String): String =
      field.map(graft.index.FieldKey.encode(_, t)).getOrElse(t)

    val tilde = indexOfUnescaped(body, '~')
    val hasWild =
      indexOfUnescaped(body, '*') >= 0 || indexOfUnescaped(body, '?') >= 0

    val q: Query =
      if (body.startsWith("\"")) { // "a b" or "a b"~N
        val close = indexOfUnescaped(body, '"', 1)
        require(close > 0, s"unclosed phrase: $h")
        val slop = body.substring(close + 1) match {
          case ""                           => 0
          case s if s.matches("""~\d+""")   => s.substring(1).toInt
          case other =>
            throw new IllegalArgumentException(s"bad phrase suffix '$other' in $h")
        }
        val words = body.substring(1, close).split("\\s+").toSeq
          .filter(_.nonEmpty).map(w => an(unescape(w))).filter(_.nonEmpty).map(keyed)
        require(words.nonEmpty, s"empty phrase: $h")
        if (words.size == 1) TermQuery(words.head) else PhraseQuery(words, slop)
      } else body match {
        case rangeRe(lb, lo, hi, rb) =>
          require(field.isEmpty, s"field-scoped range not supported: $h")
          rw(MultiTerm.Range(an(unescape(lo)), an(unescape(hi)), lb == "[", rb == "]"))
        case b if hasWild =>
          require(field.isEmpty, s"field-scoped wildcard not supported: $h")
          // analysis would mangle the pattern metachars — pass it raw, like
          // the reference's WildcardQuery (not analyzed)
          if (b.endsWith("*") && indexOfUnescaped(b, '*') == b.length - 1 &&
              indexOfUnescaped(b, '?') < 0)
            rw(MultiTerm.Prefix(unescape(b.dropRight(1))))
          else rw(MultiTerm.Wildcard(b))
        case fuzzyRe(term, edits) if term.nonEmpty && tilde >= 0 =>
          require(field.isEmpty, s"field-scoped fuzzy not supported: $h")
          rw(MultiTerm.Fuzzy(an(unescape(term)), if (edits.isEmpty) 2 else edits.toInt))
        case b => TermQuery(keyed(an(unescape(b))))
      }
    boost.map(BoostQuery(q, _)).getOrElse(q)
  }
}
