package graft.search

import graft.codec.{BlockCodec, Impacts}

/** A scorer over one resident slice of a segment: a pull-based doc-at-a-time
  * iterator with score + block-max upper-bound surface — the re-expression of
  * the reference's `Scorer`/`DocIdSetIterator`/`ImpactsEnum` contract
  * (`/root/reference/lucene/core/src/java/org/apache/lucene/search/DocIdSetIterator.java`,
  * `codecs/lucene103/Lucene103PostingsReader.java:291-1000`).
  */
trait DocScorer {
  def docId: Long
  def nextDoc(): Long
  def advance(target: Long): Long
  def score: Double

  /** Static score upper bound over the whole slice. */
  def maxScore: Double

  /** Position block cursors at `target` without decoding (the level-0 skip —
    * ref `search/ImpactsDISI.java:67-122` `advanceShallow`).
    */
  def advanceShallow(target: Long): Unit

  /** Upper bound for docs in the shallow block(s) covering the last
    * `advanceShallow` target.
    */
  def blockMaxScore: Double

  /** Last docID of the current shallow block — skip target for block-max
    * pruning.
    */
  def blockBoundary: Long
  def cost: Long
}

object DocScorer {
  val NoMoreDocs: Long = Long.MaxValue
}

/** One posting block's stored form handed to the executor (already filtered
  * to the query's terms and this slice).
  */
final case class BlockView(
    firstDocId: Long,
    lastDocId: Long,
    numDocs: Int,
    docsPacked: Array[Byte],
    freqsPacked: Array[Byte],
    normsPacked: Array[Byte],
    impacts: Array[Byte],
    posPacked: Array[Byte] = null
)

/** Posting-list iterator over one term's blocks (sorted by firstDocId) with
  * lazy block decode: `advance` skips whole blocks on metadata alone and only
  * decodes the block that may contain the target (ref
  * `Lucene103PostingsReader.java:928` `advance` + skip data).
  */
final class TermScorer(blocks: Array[BlockView], scorer: SimScorer) extends DocScorer {
  import DocScorer.NoMoreDocs

  private var blockIdx = -1 // decoded block
  private var docs: Array[Long] = null
  private var freqs: Array[Long] = null
  private var norms: Array[Long] = null
  private var pos = 0
  private var cur: Long = -1L
  private var shallowIdx = 0 // first block whose lastDocId >= shallow target
  private val blockMax = new Array[Double](blocks.length) // lazy, NaN = unset
  java.util.Arrays.fill(blockMax, Double.NaN)

  override val cost: Long = { var s = 0L; blocks.foreach(s += _.numDocs); s }

  override lazy val maxScore: Double = {
    var m = 0.0
    var i = 0
    while (i < blocks.length) { val s = maxScoreOf(i); if (s > m) m = s; i += 1 }
    m
  }

  private def maxScoreOf(i: Int): Double = {
    if (blockMax(i).isNaN) {
      blockMax(i) = Impacts.maxScore(Impacts.decode(blocks(i).impacts), scorer.boundScore)
    }
    blockMax(i)
  }

  private def decode(i: Int): Unit = {
    val b = blocks(i)
    docs = BlockCodec.deltaDecode(BlockCodec.forDecode(b.docsPacked), b.firstDocId)
    freqs = BlockCodec.pforDecode(b.freqsPacked)
    norms = BlockCodec.forDecode(b.normsPacked)
    blockIdx = i
    pos = 0
  }

  private var posPerDoc: Array[Array[Int]] = null
  private var posBlockIdx = -1

  /** Analyzer positions of the CURRENT doc (requires an index built with
    * `storePositions` — the .pos stream re-expression). Lazy per-block
    * decode; freqs give the doc boundaries.
    */
  def positions: Array[Int] = {
    if (posBlockIdx != blockIdx) {
      val packed = blocks(blockIdx).posPacked
      require(packed != null, "index was built without positions")
      posPerDoc = graft.codec.Positions.decode(packed, freqs, blocks(blockIdx).numDocs)
      posBlockIdx = blockIdx
    }
    posPerDoc(pos)
  }

  def docId: Long = cur

  def nextDoc(): Long = {
    if (cur == NoMoreDocs) return NoMoreDocs
    if (blockIdx < 0) {
      if (blocks.isEmpty) { cur = NoMoreDocs; return cur }
      decode(0)
      cur = docs(0)
      return cur
    }
    pos += 1
    if (pos < docs.length) { cur = docs(pos); cur }
    else if (blockIdx + 1 < blocks.length) { decode(blockIdx + 1); cur = docs(0); cur }
    else { cur = NoMoreDocs; cur }
  }

  def advance(target: Long): Long = {
    if (cur >= target) return cur
    // find first block with lastDocId >= target (metadata-only skip)
    var i = math.max(blockIdx, 0)
    while (i < blocks.length && blocks(i).lastDocId < target) i += 1
    if (i >= blocks.length) { cur = NoMoreDocs; return cur }
    if (i != blockIdx) decode(i)
    // binary search within the decoded block
    var lo = if (i == blockIdx) pos else 0
    var hi = docs.length - 1
    if (docs(hi) < target) { cur = NoMoreDocs; return cur } // unreachable by metadata
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (docs(mid) < target) lo = mid + 1 else hi = mid
    }
    pos = lo
    cur = docs(pos)
    cur
  }

  def advanceShallow(target: Long): Unit = {
    while (shallowIdx < blocks.length && blocks(shallowIdx).lastDocId < target)
      shallowIdx += 1
  }

  def blockMaxScore: Double =
    if (shallowIdx >= blocks.length) 0.0 else maxScoreOf(shallowIdx)

  def blockBoundary: Long =
    if (shallowIdx >= blocks.length) DocScorer.NoMoreDocs
    else blocks(shallowIdx).lastDocId

  def freq: Int = freqs(pos).toInt
  def norm: Int = norms(pos).toInt
  def score: Double = scorer.score(freq, norm)

  /** Impact-frontier accessors for composite (synonym) bounds: frontier is
    * sorted freq-asc/norm-asc, so max freq is last and min norm is first.
    */
  private def frontier(i: Int): Array[Impacts.Impact] = Impacts.decode(blocks(i).impacts)
  def globalMaxFreq: Int =
    if (blocks.isEmpty) 0 else blocks.indices.map(i => frontier(i).last.freq).max
  def globalMinNorm: Int =
    if (blocks.isEmpty) 255 else blocks.indices.map(i => frontier(i).head.norm).min
  def shallowMaxFreq: Int =
    if (shallowIdx >= blocks.length) 0 else frontier(shallowIdx).last.freq
  def shallowMinNorm: Int =
    if (shallowIdx >= blocks.length) 255 else frontier(shallowIdx).head.norm
}

/** Multiple terms scored as one pseudo-term: per-doc freq = SUM of member
  * freqs, one shared SimScorer built from blended stats (ref
  * `search/SynonymQuery.java` — docFreq = max over members, totalTermFreq =
  * sum). Upper bounds use (sum of member max freqs, min member norm) —
  * valid since BM25 is monotone in freq and antitone in norm.
  */
final class SynonymScorer(children: Array[TermScorer], sim: SimScorer) extends DocScorer {
  import DocScorer.NoMoreDocs
  private var cur: Long = -1L

  override val cost: Long = children.map(_.cost).sum
  override lazy val maxScore: Double =
    if (children.isEmpty) 0.0
    else sim.score(children.map(_.globalMaxFreq.toLong).sum.min(Int.MaxValue).toInt,
      children.map(_.globalMinNorm).min)

  def docId: Long = cur
  def nextDoc(): Long = advance(cur + 1)

  def advance(target: Long): Long = {
    if (cur == NoMoreDocs) return NoMoreDocs
    var min = NoMoreDocs
    var i = 0
    while (i < children.length) {
      val d = if (children(i).docId < target) children(i).advance(target)
              else children(i).docId
      if (d < min) min = d
      i += 1
    }
    cur = min
    cur
  }

  def score: Double = {
    var f = 0L
    var norm = 0
    var i = 0
    while (i < children.length) {
      if (children(i).docId == cur) { f += children(i).freq; norm = children(i).norm }
      i += 1
    }
    sim.score(f.min(Int.MaxValue).toInt, norm)
  }

  def advanceShallow(target: Long): Unit = children.foreach(_.advanceShallow(target))
  def blockMaxScore: Double =
    sim.score(children.map(_.shallowMaxFreq.toLong).sum.min(Int.MaxValue).toInt,
      children.map(_.shallowMinNorm).min)
  def blockBoundary: Long = children.map(_.blockBoundary).min
}

/** One term scored against the weighted union of several fields — the BM25F
  * scorer (ref `search/CombinedFieldQuery.java` `CombinedFieldScorer` +
  * `MultiNormsLeafSimScorer`): a disjunction over the per-field term
  * iterators; on each doc the pseudo-frequency is `Σ weight·tf_field`
  * (`CombinedFieldScorer#freq()` — weighted float sum) and the pseudo-norm
  * is `intToByte4(round(Σ weight·decodedLength_field))`
  * (`MultiFieldNormValues#advanceExact` — weighted sum of decoded lengths,
  * re-encoded). One shared SimScorer built from the merged pseudo stats.
  *
  * Upper bounds use (Σ weight·maxFreq, min field norm): the combined norm's
  * decoded length is ≥ any matched field's decoded length (weights ≥ 1),
  * byte4 encoding is monotone, and the score is antitone in norm — so the
  * bound never underestimates (duels enforce it).
  */
final class CombinedFieldScorer(
    children: Array[TermScorer],
    weights: Array[Double],
    sim: SimScorer
) extends DocScorer {
  import DocScorer.NoMoreDocs
  require(children.length == weights.length)
  private var cur: Long = -1L

  override val cost: Long = children.map(_.cost).sum
  override lazy val maxScore: Double =
    if (children.isEmpty) 0.0
    else sim.scoreF(
      children.iterator.zip(weights.iterator).map { case (c, w) => w * c.globalMaxFreq }.sum,
      children.map(_.globalMinNorm).min)

  def docId: Long = cur
  def nextDoc(): Long = advance(cur + 1)

  def advance(target: Long): Long = {
    if (cur == NoMoreDocs) return NoMoreDocs
    var min = NoMoreDocs
    var i = 0
    while (i < children.length) {
      val d = if (children(i).docId < target) children(i).advance(target)
              else children(i).docId
      if (d < min) min = d
      i += 1
    }
    cur = min
    cur
  }

  def score: Double = {
    var f = 0.0
    var len = 0.0
    var i = 0
    while (i < children.length) {
      if (children(i).docId == cur) {
        f += weights(i) * children(i).freq
        len += weights(i) *
          graft.codec.SmallFloat.lengthTable(children(i).norm & 0xff)
      }
      i += 1
    }
    val combinedNorm =
      graft.codec.SmallFloat.intToByte4(math.round(len).toInt) & 0xff
    sim.scoreF(f, combinedNorm)
  }

  def advanceShallow(target: Long): Unit = children.foreach(_.advanceShallow(target))
  def blockMaxScore: Double =
    sim.scoreF(
      children.iterator.zip(weights.iterator).map { case (c, w) => w * c.shallowMaxFreq }.sum,
      children.map(_.shallowMinNorm).min)
  def blockBoundary: Long = children.map(_.blockBoundary).min
}

/** Positional phrase scorer — `PhraseQuery` executed inside the scorer tree
  * (ref `search/PhraseScorer.java` + `ExactPhraseMatcher.java:39` /
  * `SloppyPhraseMatcher.java` ordered-window semantics): leapfrog
  * conjunction of the phrase's unique terms; on every aligned doc the
  * per-doc positions (lazily decoded from the block's .pos payload) are
  * counted — exact adjacency at `slop = 0`, strictly-increasing window
  * tuples with span ≤ (n-1)+slop otherwise. Docs with zero phrase
  * occurrences are skipped entirely. Score = sim.score(phraseFreq, norm)
  * with the Σ-idf weight the caller built into `sim`.
  *
  * Upper bounds: phraseFreq ≤ min over unique terms of that term's freq, so
  * maxScore/blockMaxScore use (min max-freq, min norm) — conservative,
  * never underestimates, keeps WAND/block-max pruning exact.
  *
  * @param slots one entry per phrase position, referencing the unique
  *   scorer of that slot's term (duplicate terms share one iterator —
  *   their positions array serves every slot)
  */
final class PhraseScorer(
    slots: Array[TermScorer],
    unique: Array[TermScorer],
    slop: Int,
    sim: SimScorer
) extends DocScorer {
  import DocScorer.NoMoreDocs
  private var cur: Long = -1L
  private var curFreq = 0

  override val cost: Long = unique.map(_.cost).min
  override lazy val maxScore: Double =
    sim.score(unique.map(_.globalMaxFreq).min, unique.map(_.globalMinNorm).min)

  private val lead = unique.minBy(_.cost)
  private val offsets = Array.range(0, slots.length)

  def docId: Long = cur

  /** Phrase occurrences in the current doc. */
  def freq: Int = curFreq

  /** Count phrase occurrences at the currently aligned doc. */
  private def phraseFreq(): Int = {
    val slotPos = new Array[Array[Int]](slots.length)
    var i = 0
    while (i < slots.length) { slotPos(i) = slots(i).positions; i += 1 }
    if (slop > 0) IndexSearcher.countSloppy(slotPos, slop)
    else IndexSearcher.countExactOffsets(slotPos, offsets)
  }

  /** Advance to the next doc >= target where all terms align AND the
    * phrase occurs.
    */
  private def doNext(target0: Long): Long = {
    var d = if (lead.docId < target0) lead.advance(target0) else lead.docId
    while (d != NoMoreDocs) {
      var aligned = true
      var i = 0
      while (i < unique.length && aligned) {
        val s = unique(i)
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
        val f = phraseFreq()
        if (f > 0) { curFreq = f; cur = d; return cur }
        d = lead.nextDoc()
      }
    }
    cur = NoMoreDocs
    cur
  }

  def nextDoc(): Long =
    if (cur == NoMoreDocs) NoMoreDocs else doNext(cur + 1)

  def advance(target: Long): Long =
    if (cur >= target) cur else doNext(target)

  def score: Double = sim.score(curFreq, slots(0).norm)

  def advanceShallow(target: Long): Unit = {
    var i = 0
    while (i < unique.length) { unique(i).advanceShallow(target); i += 1 }
  }
  def blockMaxScore: Double =
    sim.score(unique.map(_.shallowMaxFreq).min, unique.map(_.shallowMinNorm).min)
  def blockBoundary: Long = unique.map(_.blockBoundary).min
}

/** MultiPhraseQuery scorer (ref `search/MultiPhraseQuery.java` union
  * postings): each slot is a disjunction of its terms; a doc aligns when
  * EVERY slot has at least one term present, and the slot's position list is
  * the deduplicated merge of its matching terms' positions. Exact mode
  * honors the slot offsets (gaps); sloppy mode is the same ordered-window
  * count as [[PhraseScorer]] over the merged lists. Bounds: phraseFreq ≤
  * min over slots of Σ term max freqs.
  */
final class MultiPhraseScorer(
    slotTerms: Array[Array[TermScorer]],
    offsets: Array[Int],
    unique: Array[TermScorer],
    slop: Int,
    sim: SimScorer
) extends DocScorer {
  import DocScorer.NoMoreDocs
  private var cur: Long = -1L
  private var curFreq = 0

  override val cost: Long = slotTerms.map(_.map(_.cost).sum).min
  override lazy val maxScore: Double = sim.score(
    slotTerms.map(_.map(_.globalMaxFreq.toLong).sum.min(Int.MaxValue).toInt).min,
    unique.map(_.globalMinNorm).min)

  private def slotAdvance(s: Int, target: Long): Long = {
    val ts = slotTerms(s)
    var min = NoMoreDocs
    var i = 0
    while (i < ts.length) {
      val d = if (ts(i).docId < target) ts(i).advance(target) else ts(i).docId
      if (d < min) min = d
      i += 1
    }
    min
  }

  /** Merged (sorted, deduplicated) positions of slot s's terms at doc d. */
  private def slotPositions(s: Int, d: Long): Array[Int] = {
    val ts = slotTerms(s)
    var merged: Array[Int] = null
    var i = 0
    while (i < ts.length) {
      if (ts(i).docId == d) {
        val p = ts(i).positions
        merged =
          if (merged == null) p
          else {
            val out = new Array[Int](merged.length + p.length)
            var a = 0; var b = 0; var n = 0
            while (a < merged.length && b < p.length) {
              val v = if (merged(a) <= p(b)) { val x = merged(a); a += 1; x }
                      else { val x = p(b); b += 1; x }
              if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
            }
            while (a < merged.length) {
              if (n == 0 || out(n - 1) != merged(a)) { out(n) = merged(a); n += 1 }
              a += 1
            }
            while (b < p.length) {
              if (n == 0 || out(n - 1) != p(b)) { out(n) = p(b); n += 1 }
              b += 1
            }
            java.util.Arrays.copyOf(out, n)
          }
      }
      i += 1
    }
    merged
  }

  private def freqAt(d: Long): Int = {
    val slotPos = new Array[Array[Int]](slotTerms.length)
    var s = 0
    while (s < slotTerms.length) { slotPos(s) = slotPositions(s, d); s += 1 }
    if (slop > 0) IndexSearcher.countSloppy(slotPos, slop)
    else IndexSearcher.countExactOffsets(slotPos, offsets)
  }

  def docId: Long = cur

  private def doNext(target0: Long): Long = {
    var target = target0
    var done = false
    while (!done) {
      val cand = slotAdvance(0, target)
      if (cand == NoMoreDocs) { cur = NoMoreDocs; return cur }
      var s = 1
      var ok = true
      while (s < slotTerms.length && ok) {
        val d = slotAdvance(s, cand)
        if (d == NoMoreDocs) { cur = NoMoreDocs; return cur }
        if (d != cand) { target = d; ok = false }
        s += 1
      }
      if (ok) {
        val f = freqAt(cand)
        if (f > 0) { curFreq = f; cur = cand; return cur }
        target = cand + 1
      }
    }
    cur
  }

  def nextDoc(): Long =
    if (cur == NoMoreDocs) NoMoreDocs else doNext(cur + 1)

  def advance(target: Long): Long =
    if (cur >= target) cur else doNext(target)

  def score: Double = {
    // any term sitting on cur carries the doc's norm
    var i = 0
    var norm = 0
    var found = false
    while (i < unique.length && !found) {
      if (unique(i).docId == cur) { norm = unique(i).norm; found = true }
      i += 1
    }
    sim.score(curFreq, norm)
  }

  def advanceShallow(target: Long): Unit = {
    var i = 0
    while (i < unique.length) { unique(i).advanceShallow(target); i += 1 }
  }
  def blockMaxScore: Double = sim.score(
    slotTerms.map(_.map(_.shallowMaxFreq.toLong).sum.min(Int.MaxValue).toInt).min,
    unique.map(_.shallowMinNorm).min)
  def blockBoundary: Long = unique.map(_.blockBoundary).min
}

/** Scored interval iterator — `IntervalQuery` in the scorer tree (ref
  * `queries/intervals/IntervalScorer.java`): candidate docs align via the
  * leapfrog conjunction of the source's required terms (disjunctive sweep
  * for a pure OR source), each candidate's minimal intervals are evaluated
  * from the lazily decoded positions, and the score is the saturation
  * `boost · f / (f + pivot)` of the sloppy frequency
  * `f = Σ 1 / max(len − minExtent + 1, 1)`. Docs with no interval are
  * skipped. maxScore = boost (the saturation supremum) — a valid, if loose,
  * pruning bound; interval scores never exceed it.
  */
final class IntervalDocScorer(
    byTerm: Map[String, TermScorer],
    required: Array[TermScorer],
    src: Intervals.Source,
    minExtent: Int,
    pivot: Double,
    boost: Double
) extends DocScorer {
  import DocScorer.NoMoreDocs
  private var cur: Long = -1L
  private var curFreq = 0.0
  private var curIvs: Array[Long] = null // of the last doc evaluated

  private val all: Array[TermScorer] = byTerm.values.toArray
  private val optional: Array[TermScorer] = all.filterNot(required.contains)
  private val lead: TermScorer =
    if (required.nonEmpty) required.minBy(_.cost) else null

  override val cost: Long =
    if (required.nonEmpty) required.map(_.cost).min else all.map(_.cost).sum
  override val maxScore: Double = boost

  def docId: Long = cur

  /** The minimal intervals of the current doc ([[Intervals.startOf]] /
    * [[Intervals.endOf]] decode each).
    */
  def intervals: Array[Long] = curIvs

  private val emptyPos = Array.emptyIntArray

  private def freqAt(d: Long): Double = {
    val posOf: String => Array[Int] = t => byTerm.get(t) match {
      case Some(s) if s.docId == d => s.positions
      case _ => emptyPos
    }
    val ivs = Intervals.eval(src, posOf)
    curIvs = ivs
    var f = 0.0
    var i = 0
    while (i < ivs.length) {
      val len = Intervals.endOf(ivs(i)) - Intervals.startOf(ivs(i)) + 1
      f += 1.0 / math.max(len - minExtent + 1, 1)
      i += 1
    }
    f
  }

  private def doNext(target0: Long): Long = {
    if (required.nonEmpty) {
      var d = if (lead.docId < target0) lead.advance(target0) else lead.docId
      while (d != NoMoreDocs) {
        var aligned = true
        var i = 0
        while (i < required.length && aligned) {
          val s = required(i)
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
          var j = 0
          while (j < optional.length) {
            if (optional(j).docId < d) optional(j).advance(d)
            j += 1
          }
          val f = freqAt(d)
          if (f > 0) { curFreq = f; cur = d; return cur }
          d = lead.nextDoc()
        }
      }
      cur = NoMoreDocs
    } else {
      // pure disjunction: sweep the union of the present terms' docs
      var i = 0
      while (i < all.length) {
        if (all(i).docId < target0) all(i).advance(target0)
        i += 1
      }
      var done = false
      while (!done) {
        var d = NoMoreDocs
        i = 0
        while (i < all.length) {
          if (all(i).docId < d) d = all(i).docId
          i += 1
        }
        if (d == NoMoreDocs) { cur = NoMoreDocs; done = true }
        else {
          val f = freqAt(d)
          if (f > 0) { curFreq = f; cur = d; done = true }
          else {
            i = 0
            while (i < all.length) {
              if (all(i).docId == d) all(i).nextDoc()
              i += 1
            }
          }
        }
      }
    }
    cur
  }

  def nextDoc(): Long =
    if (cur == NoMoreDocs) NoMoreDocs
    else if (required.nonEmpty && cur >= 0) { lead.nextDoc(); doNext(cur + 1) }
    else if (cur < 0) doNext(0L)
    else {
      // disjunctive mode: push every iterator sitting on cur forward
      var i = 0
      while (i < all.length) {
        if (all(i).docId == cur) all(i).nextDoc()
        i += 1
      }
      doNext(cur + 1)
    }

  def advance(target: Long): Long =
    if (cur >= target) cur else doNext(target)

  def score: Double = boost * curFreq / (curFreq + pivot)

  def advanceShallow(target: Long): Unit = {
    var i = 0
    while (i < all.length) { all(i).advanceShallow(target); i += 1 }
  }
  def blockMaxScore: Double = boost
  def blockBoundary: Long = all.map(_.blockBoundary).min
}

/** Leapfrog intersection (AND) — smallest-cost leads (ref
  * `search/ConjunctionDISI.java`). Score = sum of scoring children;
  * `nonScoring` children must match but contribute nothing (FILTER — ref
  * `search/BooleanScorerSupplier.java:457-511`).
  */
final class ConjunctionScorer(
    scoring: Array[DocScorer],
    nonScoring: Array[DocScorer]
) extends DocScorer {
  import DocScorer.NoMoreDocs
  private val all: Array[DocScorer] = (scoring ++ nonScoring).sortBy(_.cost)
  private var cur: Long = -1L

  override val cost: Long = if (all.isEmpty) 0L else all.map(_.cost).min
  override lazy val maxScore: Double = scoring.map(_.maxScore).sum

  def docId: Long = cur

  private def doNext(target0: Long): Long = {
    var target = target0
    var done = false
    while (!done) {
      done = true
      var i = 0
      while (i < all.length) {
        val d = if (all(i).docId < target) all(i).advance(target) else all(i).docId
        if (d == NoMoreDocs) { cur = NoMoreDocs; return cur }
        if (d > target) { target = d; done = false }
        i += 1
      }
    }
    cur = target
    cur
  }

  def nextDoc(): Long =
    if (cur == NoMoreDocs) NoMoreDocs else doNext(cur + 1)

  def advance(target: Long): Long =
    if (cur >= target) cur else doNext(target)

  def score: Double = {
    var s = 0.0
    var i = 0
    while (i < scoring.length) { s += scoring(i).score; i += 1 }
    s
  }

  def advanceShallow(target: Long): Unit = {
    var i = 0
    while (i < scoring.length) { scoring(i).advanceShallow(target); i += 1 }
  }
  def blockMaxScore: Double = scoring.map(_.blockMaxScore).sum
  def blockBoundary: Long =
    if (scoring.isEmpty) DocScorer.NoMoreDocs else scoring.map(_.blockBoundary).min
}

/** Sum-of-matches disjunction (OR) without pruning — used as an inner node
  * (ref `search/DisjunctionSumScorer.java`). Top-level disjunctions go through
  * [[Wand]] instead.
  */
final class DisjunctionSumScorer(children: Array[DocScorer]) extends DocScorer {
  import DocScorer.NoMoreDocs
  private var cur: Long = -1L

  override val cost: Long = children.map(_.cost).sum
  override lazy val maxScore: Double = children.map(_.maxScore).sum

  def docId: Long = cur

  def nextDoc(): Long = advance(cur + 1)

  def advance(target: Long): Long = {
    if (cur == NoMoreDocs) return NoMoreDocs
    var min = NoMoreDocs
    var i = 0
    while (i < children.length) {
      val d = if (children(i).docId < target) children(i).advance(target)
              else children(i).docId
      if (d < min) min = d
      i += 1
    }
    cur = min
    cur
  }

  def score: Double = {
    var s = 0.0
    var i = 0
    while (i < children.length) {
      if (children(i).docId == cur) s += children(i).score
      i += 1
    }
    s
  }

  def advanceShallow(target: Long): Unit = children.foreach(_.advanceShallow(target))
  def blockMaxScore: Double = children.map(_.blockMaxScore).sum
  def blockBoundary: Long = children.map(_.blockBoundary).min
}

/** Dismax combiner: score = best matching child + tieBreaker × (sum of the
  * other matching children) — ref `search/DisjunctionMaxQuery.java`,
  * `DisjunctionMaxScorer`. Upper bounds use maxChild + tie×(sumAll −
  * maxChild), which never underestimates any achievable combination.
  */
final class DisMaxScorer(children: Array[DocScorer], tie: Double)
    extends DocScorer {
  import DocScorer.NoMoreDocs
  private var cur: Long = -1L

  override val cost: Long = children.map(_.cost).sum
  private def combineMax(vals: Array[Double]): Double = {
    val m = vals.max
    m + tie * (vals.sum - m)
  }
  override lazy val maxScore: Double = combineMax(children.map(_.maxScore))

  def docId: Long = cur
  def nextDoc(): Long = advance(cur + 1)

  def advance(target: Long): Long = {
    if (cur == NoMoreDocs) return NoMoreDocs
    var min = NoMoreDocs
    var i = 0
    while (i < children.length) {
      val d = if (children(i).docId < target) children(i).advance(target)
              else children(i).docId
      if (d < min) min = d
      i += 1
    }
    cur = min
    cur
  }

  def score: Double = {
    var best = Double.NegativeInfinity
    var sum = 0.0
    var i = 0
    while (i < children.length) {
      if (children(i).docId == cur) {
        val s = children(i).score
        sum += s
        if (s > best) best = s
      }
      i += 1
    }
    best + tie * (sum - best)
  }

  def advanceShallow(target: Long): Unit = children.foreach(_.advanceShallow(target))
  def blockMaxScore: Double = combineMax(children.map(_.blockMaxScore))
  def blockBoundary: Long = children.map(_.blockBoundary).min
}

/** Constant-score wrapper: delegates iteration, scores `value` for every
  * match (ref `search/ConstantScoreQuery.java`).
  */
final class ConstWrapScorer(inner: DocScorer, value: Double) extends DocScorer {
  override val cost: Long = inner.cost
  override val maxScore: Double = value
  def docId: Long = inner.docId
  def nextDoc(): Long = inner.nextDoc()
  def advance(target: Long): Long = inner.advance(target)
  def score: Double = value
  def advanceShallow(target: Long): Unit = inner.advanceShallow(target)
  def blockMaxScore: Double = value
  def blockBoundary: Long = inner.blockBoundary
}

/** Disjunction requiring at least `msm` matching children per doc —
  * minimumShouldMatch semantics (ref `search/WANDScorer.java` minShouldMatch
  * mode, golden suite `TestWANDScorer.java:264-728`). Score = sum of the
  * matching children, exactly as the plain disjunction; docs matching fewer
  * than `msm` children are not emitted at all.
  */
final class MinShouldMatchScorer(children: Array[DocScorer], msm: Int)
    extends DocScorer {
  import DocScorer.NoMoreDocs
  require(msm >= 1 && msm <= children.length, s"msm $msm of ${children.length}")
  private var cur: Long = -1L

  override val cost: Long = children.map(_.cost).sum
  override lazy val maxScore: Double = children.map(_.maxScore).sum

  def docId: Long = cur

  def nextDoc(): Long = advance(cur + 1)

  private val sortedDocs = new Array[Long](children.length)

  def advance(target0: Long): Long = {
    if (cur == NoMoreDocs) return NoMoreDocs
    var target = target0
    while (true) {
      var i = 0
      while (i < children.length) {
        sortedDocs(i) =
          if (children(i).docId < target) children(i).advance(target)
          else children(i).docId
        i += 1
      }
      // pivot: the msm-th smallest current docId — no doc below it can
      // have >= msm matching clauses, so the msm-1 leading iterators skip
      // straight to it (the WANDScorer minShouldMatch count-pruning idea)
      java.util.Arrays.sort(sortedDocs)
      val pivot = sortedDocs(msm - 1)
      if (pivot == NoMoreDocs) { cur = NoMoreDocs; return cur }
      var n = 0
      i = 0
      while (i < children.length) {
        val d = if (children(i).docId < pivot) children(i).advance(pivot)
                else children(i).docId
        if (d == pivot) n += 1
        i += 1
      }
      if (n >= msm) { cur = pivot; return cur }
      target = pivot + 1
    }
    cur // unreachable
  }

  def score: Double = {
    var s = 0.0
    var i = 0
    while (i < children.length) {
      if (children(i).docId == cur) s += children(i).score
      i += 1
    }
    s
  }

  def advanceShallow(target: Long): Unit = children.foreach(_.advanceShallow(target))
  def blockMaxScore: Double = children.map(_.blockMaxScore).sum
  def blockBoundary: Long = children.map(_.blockBoundary).min
}

/** Required/excluded (MUST_NOT) — iterate `req`, drop docs `excl` matches
  * (ref `search/ReqExclScorer.java`).
  */
final class ReqExclScorer(req: DocScorer, excl: DocScorer) extends DocScorer {
  import DocScorer.NoMoreDocs

  override val cost: Long = req.cost
  override lazy val maxScore: Double = req.maxScore

  def docId: Long = req.docId

  private def toNonExcluded(d0: Long): Long = {
    var d = d0
    while (d != NoMoreDocs) {
      val e = if (excl.docId < d) excl.advance(d) else excl.docId
      if (e != d) return d
      d = req.nextDoc()
    }
    NoMoreDocs
  }

  def nextDoc(): Long = toNonExcluded(req.nextDoc())
  def advance(target: Long): Long = toNonExcluded(req.advance(target))
  def score: Double = req.score
  def advanceShallow(target: Long): Unit = req.advanceShallow(target)
  def blockMaxScore: Double = req.blockMaxScore
  def blockBoundary: Long = req.blockBoundary
}

/** Required + optional (MUST with SHOULD riders): iterates `req`; `opt`
  * scores are added when aligned (ref `search/ReqOptSumScorer.java`).
  */
final class ReqOptScorer(req: DocScorer, opt: DocScorer) extends DocScorer {
  override val cost: Long = req.cost
  override lazy val maxScore: Double = req.maxScore + opt.maxScore

  def docId: Long = req.docId
  def nextDoc(): Long = req.nextDoc()
  def advance(target: Long): Long = req.advance(target)

  def score: Double = {
    val d = req.docId
    val o = if (opt.docId < d) opt.advance(d) else opt.docId
    if (o == d) req.score + opt.score else req.score
  }

  def advanceShallow(target: Long): Unit = { req.advanceShallow(target); opt.advanceShallow(target) }
  def blockMaxScore: Double = req.blockMaxScore + opt.blockMaxScore
  def blockBoundary: Long = req.blockBoundary
}
