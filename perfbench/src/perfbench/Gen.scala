package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.corpus.Corpus
import graft.search.{BoolQuery, Occur, PhraseQuery, Query, TermQuery}

/** Seeded inputs shared by every workload: documents and queries. The
  * engine receives only what these functions generate.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var state = seed
    def nextLong(): Long = { state = mix(state); state }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  }

  // --------------------------------------------------------------- documents

  /** Long-tail ranks follow a shifted Pareto law, P(rank > r) =
    * (1 + r / TailScale)^-TailShape, over an unbounded vocabulary: distinct
    * terms keep growing with the corpus (Heaps' law, about n^0.7 here),
    * unlike `Corpus`'s fixed 30k-term vocabulary.
    */
  val TailShape = 0.5
  val TailScale = 1000.0

  /** Long-tail token for a rank: `x` + base-36 rank + `q`. `Corpus` words
    * alternate consonant/vowel and never contain `x`, so the two
    * vocabularies are disjoint; the analyzer keeps each one whole.
    */
  def tailToken(rank: Long): String = "x" + java.lang.Long.toString(rank, 36) + "q"

  /** Ranks of doc `id`'s 2..8 long-tail tokens. */
  def tailRanks(id: Long, seed: Long): Array[Long] = {
    val rng = new Rng(mix(seed ^ 0x5deece66dL) ^ mix(id))
    Array.fill(2 + rng.nextInt(7)) {
      val u = rng.nextDouble()
      math.min(1e15, TailScale * (math.pow(1.0 - u, -1.0 / TailShape) - 1)).toLong
    }
  }

  def idOfUrl(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  /** New content for doc `id`'s url, one per `version` (an update): the
    * `Corpus` page text of another seed plus its own long-tail tokens.
    */
  def text(id: Long, seed: Long, version: Int): String =
    Corpus.page(id, seed + 7919L * version).text + "\n" +
      tailRanks(id, seed + version).map(tailToken).mkString(" ")

  def url(id: Long, seed: Long): String = Corpus.page(id, seed).url

  /** `n` docs with ids [start, start + n), generated on the executors from
    * `Corpus.pages`.
    */
  def corpus(spark: SparkSession, n: Long, seed: Long, start: Long = 0L): Dataset[(String, String)] = {
    import spark.implicits._
    val s = seed
    Corpus.pages(spark, n, s, start).map { p =>
      val id = idOfUrl(p.url)
      (p.url, p.text + "\n" + tailRanks(id, s).map(tailToken).mkString(" "))
    }
  }

  /** Order-independent content hash of a corpus (hex). */
  def corpusHash(docs: Dataset[(String, String)]): String = {
    import docs.sparkSession.implicits._
    val h = docs.map { case (u, t) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(u.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
      md.update(t.getBytes(StandardCharsets.UTF_8))
      java.nio.ByteBuffer.wrap(md.digest()).getLong
    }.reduce(_ ^ _)
    java.lang.Long.toHexString(h)
  }

  // ----------------------------------------------------------------- queries

  /** Head band: `Corpus`'s explicit head words (stopword-heavy; each is in a
    * large share of all docs).
    */
  val HeadRanks: Range = 0 until 41

  /** Mid band of `Corpus`'s Zipf vocabulary. */
  val MidRanks: Range = 300 until 3000

  private def bandTerm(rng: Rng, seed: Long, nDocs: Long): String = {
    val u = rng.nextInt(100)
    if (u < 30) Corpus.vocab(HeadRanks(rng.nextInt(HeadRanks.size)))
    else if (u < 80) Corpus.vocab(MidRanks(rng.nextInt(MidRanks.size)))
    else tailToken(tailRanks(rng.nextInt(nDocs.toInt).toLong, seed).max) // rarest of a doc
  }

  private val analyzer = graft.analysis.StandardAnalyzer.Default

  /** Exact two-word phrase taken from a random doc of the corpus. */
  private def phrase(rng: Rng, seed: Long, nDocs: Long): Query = {
    val toks = analyzer.tokens(Corpus.page(rng.nextInt(nDocs.toInt).toLong, seed).text)
    val i = rng.nextInt(math.max(1, toks.size - 1))
    if (toks.size < 2) TermQuery(toks.head.term)
    else PhraseQuery(Seq(toks(i).term, toks(i + 1).term))
  }

  /** Query shapes in a fixed cycle, so every run's first n queries have the
    * same mix: 4/12 term, 3/12 AND, 3/12 OR, 1/12 `(a OR b) AND c`, 1/12
    * exact phrase.
    */
  private val Shapes = "TAOTMAOTPAOT"

  /** `count` distinct BM25 queries over a corpus of `nDocs` docs, shapes from
    * [[Shapes]] and terms from the head (30%), mid (50%) and long-tail (20%)
    * bands.
    */
  def queries(seed: Long, nDocs: Long, count: Int): Vector[Query] = {
    val rng = new Rng(mix(seed ^ 0x2545f4914f6cdd1dL))
    val seen = scala.collection.mutable.LinkedHashSet[Query]()
    def t() = bandTerm(rng, seed, nDocs)
    var slot = 0
    while (seen.size < count) {
      val q: Query = Shapes.charAt(slot % Shapes.length) match {
        case 'T' => TermQuery(t())
        case 'A' => val (a, b) = (t(), t()); if (a == b) null else Query.and(a, b)
        case 'O' => val (a, b) = (t(), t()); if (a == b) null else Query.or(a, b)
        case 'M' =>
          val (a, b, c) = (t(), t(), t())
          if (Set(a, b, c).size < 3) null
          else BoolQuery(Seq(Query.or(a, b) -> Occur.Must, TermQuery(c) -> Occur.Must))
        case _ => phrase(rng, seed, nDocs)
      }
      if (q != null && seen.add(q)) slot += 1
    }
    seen.toVector
  }
}
