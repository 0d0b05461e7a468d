package graft.search

/** Bounded top-k collector with the reference's tie-break: higher score
  * first, then *lower* docID (ref
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/TopScoreDocCollector.java:113-135`
  * — a hit equal to the current k-th is rejected, so among equal scores the
  * earliest-collected (lowest docID) wins).
  */
final class TopKCollector(
    k: Int,
    deadDocs: graft.index.Tombstones = graft.index.Tombstones.Empty // liveDocs complement
) {
  // min-heap of (score, docId): root = weakest entry (lowest score; among
  // equal scores, HIGHEST docId is weakest)
  private val scores = new Array[Double](k)
  private val docs = new Array[Long](k)
  private var size = 0

  private def weaker(s1: Double, d1: Long, s2: Double, d2: Long): Boolean =
    s1 < s2 || (s1 == s2 && d1 > d2)

  /** Score a hit must EXCEED to enter once full (ties lose). */
  def minCompetitiveScore: Double =
    if (size < k) Double.NegativeInfinity else scores(0)

  def collect(docId: Long, score: Double): Unit = {
    if (deadDocs.contains(docId)) return
    if (size < k) {
      var i = size
      scores(i) = score; docs(i) = docId; size += 1
      while (i > 0 && weaker(scores(i), docs(i), scores((i - 1) / 2), docs((i - 1) / 2))) {
        val p = (i - 1) / 2
        swap(i, p); i = p
      }
    } else if (weaker(scores(0), docs(0), score, docId)) {
      scores(0) = score; docs(0) = docId
      siftDown(0)
    }
  }

  private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val d = docs(i); docs(i) = docs(j); docs(j) = d
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && weaker(scores(l), docs(l), scores(m), docs(m))) m = l
      if (r < size && weaker(scores(r), docs(r), scores(m), docs(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  /** Results sorted (score desc, docId asc). */
  def results: Array[(Long, Double)] = {
    val out = new Array[(Long, Double)](size)
    var i = 0
    while (i < size) { out(i) = (docs(i), scores(i)); i += 1 }
    out.sortBy { case (d, s) => (-s, d) }
  }
}

/** Block-max WAND over a top-level disjunction (semantics of
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/WANDScorer.java:55-687`
  * + `ImpactsDISI.java:67-122`): the pivot is found from term-level score
  * upper bounds, refined with per-block maxima; blocks whose combined bound
  * cannot beat the current k-th score are skipped without decoding. Pruning
  * never changes results (oracle duels in `SearchSpec` enforce it) because a
  * doc is only skipped when its score upper bound <= minCompetitiveScore, and
  * ties lose to already-collected lower docIDs.
  */
object Wand {

  import DocScorer.NoMoreDocs

  /** Run WAND over `scorers` (the SHOULD children), excluding docs matched by
    * `excl` if present; collect into `collector`. `pruning=false` gives the
    * exhaustive duel mode.
    */
  def run(
      scorers: Array[DocScorer],
      excl: Option[DocScorer],
      collector: TopKCollector,
      pruning: Boolean = true
  ): Unit = {
    val q = scorers.length
    if (q == 0) return
    val iters = scorers.clone()
    iters.foreach(_.nextDoc())
    // sort by current docId (insertion sorts keep this cheap; q is small)
    java.util.Arrays.sort(iters, Ordering.by((s: DocScorer) => s.docId))

    var done = false
    while (!done) {
      val threshold = if (pruning) collector.minCompetitiveScore else Double.NegativeInfinity
      // find pivot: smallest prefix (in docId order) whose summed max scores
      // can exceed the threshold
      var acc = 0.0
      var pivotIdx = -1
      var i = 0
      while (i < q && pivotIdx < 0) {
        acc += iters(i).maxScore
        if (acc > threshold) pivotIdx = i
        i += 1
      }
      if (pivotIdx < 0) done = true // no doc can beat the threshold
      else {
        val pivot = iters(pivotIdx).docId
        if (pivot == NoMoreDocs) done = true
        else if (iters(0).docId == pivot) {
          // all iterators up to pivotIdx sit on pivot: block-max refinement
          var ubBlock = 0.0
          var j = 0
          while (j < q && iters(j).docId <= pivot) {
            iters(j).advanceShallow(pivot)
            ubBlock += iters(j).blockMaxScore
            j += 1
          }
          val atPivotEnd = j
          if (!pruning || ubBlock > collector.minCompetitiveScore) {
            // evaluate pivot for real
            var s = 0.0
            var j2 = 0
            while (j2 < atPivotEnd) {
              if (iters(j2).docId == pivot) s += iters(j2).score
              j2 += 1
            }
            val excluded = excl.exists { e =>
              val d = if (e.docId < pivot) e.advance(pivot) else e.docId
              d == pivot
            }
            if (!excluded) collector.collect(pivot, s)
            var j3 = 0
            while (j3 < atPivotEnd) {
              if (iters(j3).docId == pivot) iters(j3).nextDoc()
              j3 += 1
            }
          } else {
            // skip past the weakest block boundary covering pivot — but not
            // past the next iterator outside the pivot set (its contribution
            // was not in ubBlock, so docs from there on must be re-examined)
            var target = NoMoreDocs
            var j4 = 0
            while (j4 < atPivotEnd) {
              val b = iters(j4).blockBoundary
              if (b < target) target = b
              j4 += 1
            }
            var nextOutside = NoMoreDocs
            if (atPivotEnd < q) nextOutside = iters(atPivotEnd).docId
            val boundaryNext = if (target == NoMoreDocs) NoMoreDocs else target + 1
            val skipTo = math.max(pivot + 1, math.min(boundaryNext, nextOutside))
            var j5 = 0
            while (j5 < atPivotEnd) {
              if (iters(j5).docId < skipTo) iters(j5).advance(skipTo)
              j5 += 1
            }
          }
          java.util.Arrays.sort(iters, Ordering.by((sc: DocScorer) => sc.docId))
        } else {
          // advance iterators before the pivot up to the pivot
          var j = 0
          while (j < pivotIdx) {
            if (iters(j).docId < pivot) iters(j).advance(pivot)
            j += 1
          }
          java.util.Arrays.sort(iters, Ordering.by((sc: DocScorer) => sc.docId))
        }
      }
    }
  }

  /** Exhaustively drive any scorer tree into the collector (conjunctions,
    * nested booleans, duel mode).
    */
  def drain(scorer: DocScorer, collector: TopKCollector): Unit = {
    var d = scorer.nextDoc()
    while (d != NoMoreDocs) {
      collector.collect(d, scorer.score)
      d = scorer.nextDoc()
    }
  }
}
