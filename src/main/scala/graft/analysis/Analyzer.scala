package graft.analysis

/** One analyzed token: lowercased term, token position (0-based, preserving
  * gaps left by removed stopwords), and character offsets into the source.
  */
final case class Token(term: String, position: Int, startOffset: Int, endOffset: Int)

/** Word-break tokenizer implementing the StandardAnalyzer contract for our
  * domain: UAX#29-style word boundaries, per-codepoint lowercasing, optional
  * stopword removal with position-increment preservation, and a 255-char max
  * token length with longer runs chopped.
  *
  * Contract references (semantics only; this is a fresh implementation):
  *  - `/root/reference/lucene/core/src/java/org/apache/lucene/analysis/standard/StandardTokenizer.java:38-199`
  *    (UAX#29 word break, maxTokenLength chop, position increments)
  *  - `/root/reference/lucene/core/src/java/org/apache/lucene/analysis/LowerCaseFilter.java:36-43`
  *    (codepoint `Character.toLowerCase`, not `String.toLowerCase`)
  *  - `/root/reference/lucene/core/src/java/org/apache/lucene/analysis/StopFilter.java:95-98` +
  *    `FilteringTokenFilter.java` (skipped tokens still advance positions)
  *  - default StandardAnalyzer stopword set is EMPTY
  *    (`StandardAnalyzer.java:51-53`); the English set lives in
  *    `lucene/analysis/common/.../en/EnglishAnalyzer.java:46-50`
  *
  * Word-break subset implemented (covers ASCII + common Unicode classes —
  * golden fixtures in `AnalysisSpec` pin the behavior):
  *  - maximal runs of letters/digits form words (letter<->digit join, WB9/10)
  *  - single medial `'`/`’`/`.` between letters, and `.`/`'`/`,` between
  *    digits, keep the run together (MidLetter/MidNum/MidNumLet, WB6/7/11/12)
  *  - `_` (ExtendNumLet) joins adjacent runs (WB13a/b)
  *  - CJK ideographs + Hiragana emit one token per codepoint
  *  - everything else breaks
  */
final class StandardAnalyzer(
    val stopwords: Set[String] = Set.empty,
    val maxTokenLength: Int = 255,
    val filter: TermFilter = TermFilter.Identity,
    /** CJK bigram mode — the reference's `analysis/cjk/CJKBigramFilter.java`
      * over the UAX#29 stream: maximal runs of Han/Hiragana/Katakana/Hangul
      * codepoints emit overlapping character bigrams at consecutive
      * positions (a lone CJK char emits its unigram, the filter's
      * outputUnigrams=false default for isolated chars). Off (default),
      * ideographs emit one token per codepoint and Katakana/Hangul flow
      * through the word-run path — the StandardTokenizer-only behavior.
      */
    val cjkBigrams: Boolean = false
) extends Serializable {

  // the filter runs AFTER stop filtering, matching the reference chain
  // (`lucene/analysis/common/.../en/EnglishAnalyzer.java:108-113`:
  // LowerCaseFilter -> StopFilter -> PorterStemFilter)
  private val noFilter = filter eq TermFilter.Identity

  import StandardAnalyzer._

  /** The one tokenizer loop: hands each emitted token's term, position and
    * character offsets to `sink`, in stream order, allocating no [[Token]].
    * [[tokens]], [[foreachTerm]], [[termFreqs]] and the index build's
    * inverter all read this stream.
    */
  def analyze(text: String)(sink: TokenSink): Unit = {
    var position = -1
    // every emitted span takes a position; a stopword leaves its gap
    def emit(s: Int, e: Int): Unit = {
      position += 1
      val term = lower(text.substring(s, e))
      if (!stopwords.contains(term)) sink(if (noFilter) term else filter(term), position, s, e)
    }
    var i = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      val cc = Character.charCount(cp)
      if (cjkBigrams && isCjkScript(cp)) {
        // maximal CJK run (scripts may mix inside one run, like the
        // reference filter's shared buffer) -> overlapping bigrams at
        // consecutive positions; a 1-codepoint run emits its unigram
        var j = i
        while (j < n && isCjkScript(text.codePointAt(j)))
          j += Character.charCount(text.codePointAt(j))
        var a = i
        var b = i + cc
        if (b >= j) emit(a, b)
        while (b < j) {
          val c = b + Character.charCount(text.codePointAt(b))
          emit(a, c)
          a = b
          b = c
        }
        i = j
      } else if (isIdeographic(cp)) {
        emit(i, i + cc)
        i += cc
      } else if (isWordStart(cp)) {
        // scan a word run
        val start = i
        var j = i
        while (j < n && {
          val c = text.codePointAt(j)
          if (isAlnum(c) || isExtend(c)) true
          else if (isMedial(c) && j > start) {
            // medial joins only when flanked by alnum of compatible class
            val prev = text.codePointBefore(j)
            val nxt = j + Character.charCount(c)
            if (nxt < n) {
              val nc = text.codePointAt(nxt)
              val letterCtx = Character.isLetter(prev) && Character.isLetter(nc) &&
                (isMidLetter(c) || isMidNumLet(c))
              val numCtx = Character.isDigit(prev) && Character.isDigit(nc) &&
                (isMidNum(c) || isMidNumLet(c))
              letterCtx || numCtx
            } else false
          } else false
        }) j += Character.charCount(text.codePointAt(j))
        // a run of pure joiners (e.g. "___") is not a word — no token, no
        // position increment
        var hasAlnum = false
        var k = start
        while (k < j && !hasAlnum) {
          if (isAlnum(text.codePointAt(k))) hasAlnum = true
          k += Character.charCount(text.codePointAt(k))
        }
        // emit the run, chopped at maxTokenLength codepoints
        var s = start
        while (hasAlnum && s < j) {
          var cpCount = 0
          var e = s
          while (e < j && cpCount < maxTokenLength) {
            e += Character.charCount(text.codePointAt(e))
            cpCount += 1
          }
          emit(s, e)
          s = e
        }
        i = j
      } else {
        i += cc
      }
    }
  }

  /** Full token stream with positions + offsets. */
  def tokens(text: String): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    analyze(text)((term, position, start, end) => out += Token(term, position, start, end): Unit)
    out.result()
  }

  /** `f(term)` per emitted token, in stream order. */
  def foreachTerm(text: String)(f: String => Unit): Unit =
    analyze(text)((term, _, _, _) => f(term))

  /** Per-doc aggregation: term -> freq, plus the norm length (token count
    * after stop filtering — the reference counts one per emitted token,
    * `index/IndexingChain.java:1275-1281`).
    */
  def termFreqs(text: String): (java.util.HashMap[String, Int], Int) = {
    val m = new java.util.HashMap[String, Int]()
    var length = 0
    analyze(text) { (term, _, _, _) =>
      length += 1
      m.merge(term, 1, (a, b) => a + b)
    }
    (m, length)
  }
}

/** Receives one analyzed token: its term, position and character offsets.
  * A trait rather than a `Function4`, whose Int arguments would be boxed
  * per token.
  */
trait TokenSink {
  def apply(term: String, position: Int, startOffset: Int, endOffset: Int): Unit
}

object StandardAnalyzer {

  /** The reference's English stopword set
    * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/en/EnglishAnalyzer.java:46-50`).
    */
  val EnglishStopwords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "such", "that", "the",
    "their", "then", "there", "these", "they", "this", "to", "was", "will", "with"
  )

  /** Default analyzer matches the reference default: no stopwords. */
  val Default = new StandardAnalyzer()

  /** English-filtered analyzer used by the index pipeline when configured. */
  val English = new StandardAnalyzer(EnglishStopwords)

  private[analysis] def isAlnum(cp: Int): Boolean =
    Character.isLetter(cp) && !isIdeographic(cp) || Character.isDigit(cp)

  private[analysis] def isWordStart(cp: Int): Boolean = isAlnum(cp) || isExtend(cp)

  private[analysis] def isExtend(cp: Int): Boolean = cp == '_'

  private[analysis] def isMidLetter(cp: Int): Boolean = cp == ':' || cp == 0xB7

  private[analysis] def isMidNum(cp: Int): Boolean = cp == ',' || cp == ';'

  private[analysis] def isMidNumLet(cp: Int): Boolean =
    cp == '\'' || cp == 0x2019 || cp == '.'

  private[analysis] def isMedial(cp: Int): Boolean =
    isMidLetter(cp) || isMidNum(cp) || isMidNumLet(cp)

  private[analysis] def isIdeographic(cp: Int): Boolean = {
    val b = Character.UnicodeBlock.of(cp)
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS_EXTENSION_A ||
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS_EXTENSION_B ||
    b == Character.UnicodeBlock.CJK_COMPATIBILITY_IDEOGRAPHS ||
    b == Character.UnicodeBlock.HIRAGANA
  }

  /** The four bigram-eligible CJK script classes of the reference's
    * `CJKBigramFilter` (HAN | HIRAGANA | KATAKANA | HANGUL, its default
    * flag set): [[isIdeographic]] plus Katakana and Hangul syllables/jamo.
    */
  private[analysis] def isCjkScript(cp: Int): Boolean = {
    val b = Character.UnicodeBlock.of(cp)
    isIdeographic(cp) ||
    b == Character.UnicodeBlock.KATAKANA ||
    b == Character.UnicodeBlock.HANGUL_SYLLABLES ||
    b == Character.UnicodeBlock.HANGUL_JAMO ||
    b == Character.UnicodeBlock.HANGUL_COMPATIBILITY_JAMO
  }

  /** Codepoint-wise lowercase (the reference's `CharacterUtils.java:53-60`). */
  def lower(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sb.appendCodePoint(Character.toLowerCase(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }
}
