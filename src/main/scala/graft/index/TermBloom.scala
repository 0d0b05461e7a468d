package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Per-segment Bloom filter over the term dictionary — the re-expression of
  * the reference's bloom postings layer
  * (`/root/reference/lucene/misc/src/java/org/apache/lucene/misc/store/...`,
  * `lucene/codecs/src/java/org/apache/lucene/codecs/bloom/BloomFilteringPostingsFormat.java:60-96`
  * + `FuzzySet.java:40-95`): a fast "definitely absent" test consulted
  * BEFORE the per-segment dictionary lookup, so a term-stats probe skips
  * whole segments that cannot contain the term — no Spark job is even
  * launched for them. The reference aims it at primary-key-style lookups
  * across many segments; here the same win applies to every
  * `IndexSearcher.termStats` probe on a multi-segment (NRT-tail) index.
  *
  * Layout: `<segment>/bloom/` Parquet of DENSE packed words
  * `(wordIdx: long, word: long)` — all `m/64` rows present (zeros included)
  * so `m` needs no side-channel metadata: `m = 64 × rowCount`, and `m` is a
  * power of two by construction. K probes per term via double hashing over
  * the two leading 32-bit halves of md5(term) — the repo's portable hash
  * family, so an external replica computes identical bits.
  *
  * Sizing: ~10 bits/term (next power of two ≥ 10·termCount), K=7 → ~1% false
  * positives. A false positive only costs the pre-bloom behavior (one pruned
  * dictionary point lookup); false negatives are impossible (the filter is
  * built from the exact committed term set), so rank identity is unaffected.
  *
  * 100 TB note: the filter is vocabulary-proportional (10^8-term segment →
  * 125 MB driver-resident once loaded). Like the reference's, it is OPT-IN
  * (`IndexConfig.bloomTerms`) and pays off on the many-small-segments regime
  * — NRT tails, per-batch streaming commits — where each skipped segment
  * saves a scheduler round trip; a force-merged monolith gains nothing and
  * should leave it off.
  */
object TermBloom {

  /** Hash probes per term (optimal k ≈ m/n·ln2 at 10 bits/term). */
  val K = 7

  /** Bit-array size: next power of two ≥ 10·termCount, clamped to
    * [2^10, 2^30] (powers of two make the modulo a mask and keep dense
    * storage exact).
    */
  def sizeFor(termCount: Long): Int = {
    val want = math.max(1L << 10, math.min(1L << 30, 10L * termCount))
    var m = 1L << 10
    while (m < want) m <<= 1
    m.toInt
  }

  /** The two 32-bit hash seeds of a term: leading 8 + next 8 hex chars of
    * md5, so a SQL replica (`conv(substring(md5(term), 1, 8), 16, 10)`)
    * computes the same bits.
    */
  private[index] def seeds(term: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(8).map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 8), 16),
      java.lang.Long.parseLong(hex.substring(8, 16), 16))
  }

  /** Driver-side probe positions (double hashing h1 + i·h2 mod m). An odd
    * step (h2|1) guarantees the probe sequence walks distinct slots of the
    * power-of-two table.
    */
  def bitPositions(term: String, m: Int): Array[Long] = {
    val (h1, h2) = seeds(term)
    val step = h2 | 1L
    Array.tabulate(K)(i => (h1 + i * step) & (m - 1L))
  }

  /** Write `dir/bloom/` for the segment's term set `terms`: the bits are
    * set on the driver, from the dictionary the commit already holds, and
    * written dense — all `m/64` words, zeros included, in one file — so `m`
    * round-trips through the row count.
    */
  def write(spark: SparkSession, dir: String, terms: Array[String]): Unit = {
    import spark.implicits._
    val m = sizeFor(terms.length.toLong)
    val words = new Array[Long](m / 64)
    terms.foreach(t => bitPositions(t, m).foreach(b => words((b >>> 6).toInt) |= 1L << (b & 63)))
    words.indices.map(i => (i.toLong, words(i))).toDF("wordIdx", "word")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/bloom")
  }

  /** Load a segment's filter if present (None: segment predates the option
    * or was built without it — callers fall back to the plain lookup).
    */
  def read(spark: SparkSession, dir: String): Option[TermBloom] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/bloom")))
      None
    else {
      val rows = spark.read.parquet(s"$dir/bloom")
        .orderBy("wordIdx")
        .collect()
      Some(new TermBloom(rows.map(_.getLong(1))))
    }

  def exists(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/bloom"))
}

/** In-memory packed bit array (driver-resident, loaded once per searcher). */
final class TermBloom(private val words: Array[Long]) {
  val m: Int = words.length * 64

  /** False ⇒ the term is definitely not in the segment (no false negatives). */
  def mayContain(term: String): Boolean =
    TermBloom.bitPositions(term, m).forall { bit =>
      (words((bit >>> 6).toInt) & (1L << (bit & 63))) != 0L
    }
}
