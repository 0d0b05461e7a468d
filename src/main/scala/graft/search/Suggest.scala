package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Infix autocomplete over the term dictionary — the re-expression of the
  * reference's dedicated infix index
  * (`/root/reference/lucene/suggest/src/java/org/apache/lucene/search/suggest/analyzing/AnalyzingInfixSuggester.java`:
  * suggestions are tokenized into their own index so infix lookups are
  * term lookups, never a dictionary scan).
  *
  * Here the auxiliary table maps every character 2-gram of every dictionary
  * term to (term, doc_freq), range-partitioned and sorted by `gram` — a
  * fragment lookup reads only the fragment's leading-gram slice of the
  * table (Parquet min/max pruning), then verifies `contains(fragment)`
  * inside the slice. Cost is bounded by the gram's selectivity, not the
  * dictionary size — the unbounded `contains` scan this replaces read every
  * dictionary row group per query.
  */
object InfixSuggester {

  /** Build and commit the gram table at `outDir` (idempotent: skipped when
    * the meta file exists). doc_freq is aggregated across the searcher's
    * segments at build time, so lookups touch one table.
    */
  def build(se: IndexSearcher, outDir: String): Unit = {
    val spark = se.spark
    val metaPath = java.nio.file.Paths.get(outDir, "infix_meta.json")
    if (java.nio.file.Files.exists(metaPath)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    import spark.implicits._
    val terms = spark.sparkContext.parallelize(se.dictTerms().map(t => (t.term, t.docFreq)))
      .toDF("term", "doc_freq")
    val par = math.max(1, spark.sparkContext.defaultParallelism / 4)
    terms
      .where(length(col("term")) >= 2)
      .select(explode(array_distinct(
          transform(sequence(lit(1), length(col("term")) - 1),
            i => col("term").substr(i, lit(2))))).as("gram"),
        col("term"), col("doc_freq"))
      .repartitionByRange(par, col("gram"))
      .sortWithinPartitions(col("gram"), col("term"))
      .write.mode("overwrite").parquet(s"$outDir/grams")
    java.nio.file.Files.write(metaPath, "{\"gram\":2}".getBytes)
    ()
  }

  /** Terms containing `fragment`, ranked by (doc_freq desc, term asc). For
    * fragments of length >= 2 the leading 2-gram bounds the scan; shorter
    * fragments degrade to the full scan (the reference also special-cases
    * short prefixes).
    */
  def lookup(spark: SparkSession, outDir: String, fragment: String, n: Int): DataFrame = {
    val grams = spark.read.parquet(s"$outDir/grams")
    val sliced =
      if (fragment.length >= 2)
        grams.where(col("gram") === fragment.substring(0, 2) &&
          col("term").contains(fragment))
      else grams.where(col("term").contains(fragment)).dropDuplicates("term")
    sliced
      .select(col("term"), col("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term").asc)
      .limit(n)
  }
}
