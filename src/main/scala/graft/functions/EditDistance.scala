package graft.functions

/** Damerau–Levenshtein edit distance with a threshold — the distance the
  * reference's fuzzy machinery uses by default (ref
  * `/root/reference/lucene/core/src/java/org/apache/lucene/search/FuzzyQuery.java`
  * `transpositions=true`, realized there via
  * `util/automaton/LevenshteinAutomata`): a transposition of two adjacent
  * characters counts as ONE edit, so "abdc" is distance 1 from "abcd".
  * This is the *unrestricted* variant (Lowrance–Wagner), matching DuckDB's
  * `damerau_levenshtein` used by the oracle ("ca" -> "abc" is 2).
  *
  * The algorithm here is the classic O(|a|·|b|) DP with the per-character
  * last-occurrence table — terms are short (the len-band pre-filter also
  * bounds |len(a)-len(b)| <= k), so the full DP is cheaper than a
  * row-abort whose soundness is subtle under transposition back-edges.
  */
object EditDistance {

  /** Distance if <= k, else -1 (mirrors Spark's 3-arg `levenshtein`). */
  def damerauWithin(a: String, b: String, k: Int): Int = {
    val n = a.length; val m = b.length
    if (math.abs(n - m) > k) return -1
    if (n == 0) return if (m <= k) m else -1
    if (m == 0) return if (n <= k) n else -1
    val inf = n + m
    // d has a sentinel row/col of `inf` at index 0 (Lowrance–Wagner form)
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= m) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    // last row in `a` where each char was seen (chars are BMP for index
    // terms; supplementary chars hash into the map below)
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= n) {
      var db = 0 // last column in b matched at this row
      j = 1
      while (j <= m) {
        val i1: Int = { val v = da.get(b.charAt(j - 1)); if (v == null) 0 else v }
        val j1 = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val tra = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        var best = sub
        if (ins < best) best = ins
        if (del < best) best = del
        if (tra < best) best = tra
        d(i + 1)(j + 1) = best
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    val res = d(n + 1)(m + 1)
    if (res <= k) res else -1
  }
}
