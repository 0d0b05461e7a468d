package graft
package entries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Bpe, TextOps}

import OracleSql._
import SparkEntry._

/** The text-analysis entries: tokens, quality and language signals, PII
  * scrubbing, BPE, fingerprints, shingles, stemming and folding.
  */
object TextEntries extends EntryFamily {
  private val bpeModels = TrieMap[String, Bpe.BpeModel]()

  /** One 8-merge BPE model per sfDir (training is deterministic, so the
    * merges and encode entries share it).
    */
  private def bpeModelFor(spark: SparkSession, sfDir: String): Bpe.BpeModel =
    bpeModels.getOrElseUpdate(sfDir, Bpe.train(docsDf(spark, sfDir), "text", 8))

  exact("text_soundex")((s, d) => {
    // the Soundex chain over the whole corpus vocabulary — every distinct
    // token's code computed by the codegen'd column chain, differentially
    // gated against the independent DuckDB replica
    import s.implicits._
    s.read.parquet(s"$d/documents.parquet")
      .select(explode(split($"text", " ")).as("term")).distinct()
      .select($"term", graft.analysis.Phonetic.soundex($"term").as("code"))
      .orderBy($"term")
  }) {
    s"""WITH t AS (
       |  SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents
       |)
       |SELECT term, ${OracleSql.soundexSql("term")} AS code FROM t
       |ORDER BY term""".stripMargin
  }
  exact("text_tokens")((s, d) =>
    TextOps.tokenCounts(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id")))(
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |       len(list_distinct(string_split(text, ' '))) AS n_unique,
      |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin)
  exact("text_quality", bench = true)((s, d) =>
    TextOps.quality(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id")))(
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id,
      |  round(length(text)::DOUBLE / len(toks), 4) AS chars_per_token,
      |  round(len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x)))::DOUBLE / len(toks), 4) AS stop_ratio,
      |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
      |FROM t ORDER BY doc_id""".stripMargin)
  exact("text_langid")((s, d) =>
    TextOps.langId(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id")))(
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |r AS (SELECT doc_id,
      |  len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x)))::DOUBLE / len(toks) AS ratio
      |  FROM t)
      |SELECT doc_id, CASE WHEN ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred,
      |       round(ratio, 4) AS stop_ratio
      |FROM r ORDER BY doc_id""".stripMargin)
  exact("text_pii_scrub", bench = true)((s, d) => {
    // PII redaction audit: deterministic synthetic PII (email, IPv4,
    // phone, all functions of doc_id) injected into the corpus text,
    // scrubbed by the codegen'd regexp_replace chain; per-doc category
    // counts + scrubbed-text fingerprint. No shuffle — one projection.
    val id = col("doc_id")
    val injected = concat(col("text"),
      lit(" contact user"), id.cast("string"),
      lit("@mail"), (id % 10).cast("string"), lit(".example.com"),
      lit(" from 10."), (id % 256).cast("string"),
      lit(".0."), (id % 100).cast("string"),
      lit(" call "), (id % 900 + 100).cast("string"),
      lit("-"), (id % 900 + 100).cast("string"),
      lit("-"), (id % 9000 + 1000).cast("string"))
    TextOps.piiStats(docsDf(s, d).select(id, injected.as("text")),
      "doc_id", "text").orderBy(col("doc_id"))
  })(
    """WITH t AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id::VARCHAR
      |         || '@mail' || (doc_id % 10)::VARCHAR || '.example.com'
      |         || ' from 10.' || (doc_id % 256)::VARCHAR
      |         || '.0.' || (doc_id % 100)::VARCHAR
      |         || ' call ' || (doc_id % 900 + 100)::VARCHAR
      |         || '-' || (doc_id % 900 + 100)::VARCHAR
      |         || '-' || (doc_id % 9000 + 1000)::VARCHAR AS text
      |  FROM documents),
      |s1 AS (SELECT doc_id, text,
      |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |                 '<EMAIL>', 'g') AS t1 FROM t),
      |s2 AS (SELECT doc_id, text, t1,
      |  regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
      |                 '<IP>', 'g') AS t2 FROM s1)
      |SELECT doc_id,
      |  len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(t1,
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
      |  len(regexp_extract_all(t2, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phones,
      |  md5(regexp_replace(t2, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'))
      |    AS scrubbed_md5
      |FROM s2 ORDER BY doc_id""".stripMargin)
  exact("text_langid_ngram", bench = true)((s, d) => {
    // Cavnar–Trenkle rank-profile language ID over char bigrams:
    // profiles fit on the 90% train slice, out-of-place distance
    // classifies the held-out 10% (same split as ft_nb_classify)
    import s.implicits._
    val docs = docsDf(s, d)
    TextOps.langIdNgram(
      docs.where($"doc_id" % 10 =!= 0), docs.where($"doc_id" % 10 === 0),
      "doc_id", "text", "lang", k = 40)
      .orderBy($"doc_id")
  })(
    """WITH bg AS (
      |  SELECT doc_id, lang,
      |         unnest(flatten(list_transform(string_split(text, ' '), w ->
      |           list_transform(range(1, length('_' || w || '_')),
      |             i -> substr('_' || w || '_', i::INT, 2))))) AS bg
      |  FROM documents),
      |lp AS (SELECT lang, bg, rl FROM (
      |    SELECT lang, bg, row_number() OVER (PARTITION BY lang
      |             ORDER BY count(*) DESC, bg ASC) AS rl
      |    FROM bg WHERE doc_id % 10 <> 0 GROUP BY lang, bg)
      |  WHERE rl <= 40),
      |dp AS (SELECT doc_id, bg, rd FROM (
      |    SELECT doc_id, bg, row_number() OVER (PARTITION BY doc_id
      |             ORDER BY count(*) DESC, bg ASC) AS rd
      |    FROM bg WHERE doc_id % 10 = 0 GROUP BY doc_id, bg)
      |  WHERE rd <= 40),
      |langs AS (SELECT DISTINCT lang FROM lp),
      |d AS (SELECT dp.doc_id, l.lang,
      |             sum(coalesce(abs(dp.rd - lp.rl), 40)) AS dist
      |      FROM dp CROSS JOIN langs l
      |      LEFT JOIN lp ON lp.lang = l.lang AND lp.bg = dp.bg
      |      GROUP BY dp.doc_id, l.lang),
      |r AS (SELECT doc_id, lang, dist, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS rn FROM d)
      |SELECT doc_id, lang AS pred, dist FROM r WHERE rn = 1
      |ORDER BY doc_id""".stripMargin)
  exact("text_gopher", bench = true)((s, d) =>
    // Gopher/MassiveText composite quality rules: word-count band, mean
    // word length, alphabetic fraction, distinct-required-stopword count
    TextOps.gopherRules(docsDf(s, d), "doc_id", "text")
      .orderBy(col("doc_id")))(
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |m AS (SELECT doc_id, len(ts)::BIGINT AS n_words,
      |        round(list_sum(list_transform(ts, w -> length(w)))::DOUBLE
      |              / len(ts), 4) AS mean_word_len,
      |        round(len(list_filter(ts, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
      |              / len(ts), 4) AS alpha_frac,
      |        len(list_intersect(ts,
      |          ['the','be','to','of','and','that','have','with']))::BIGINT AS stop_hits
      |      FROM t)
      |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
      |  (n_words BETWEEN 50 AND 100000) AS words_ok,
      |  (mean_word_len BETWEEN 3.0 AND 10.0) AS len_ok,
      |  (alpha_frac >= 0.8) AS alpha_ok,
      |  (stop_hits >= 2) AS stops_ok,
      |  ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
      |   AND alpha_frac >= 0.8 AND stop_hits >= 2) AS pass
      |FROM m ORDER BY doc_id""".stripMargin)
  exact("text_gopher_rep", bench = true)((s, d) =>
    // Gopher repetition rules: top n-gram char fraction (n=2..4) +
    // duplicate n-gram char coverage with overlap counted once (n=5..10)
    TextOps.gopherRepetition(docsDf(s, d), "doc_id", "text")
      .orderBy(col("doc_id")))(
    """WITH w AS (
      |  SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)),
      |dc AS (SELECT doc_id, sum(length(w)) AS doc_chars FROM w GROUP BY 1),
      |l AS (SELECT doc_id, pos, w,
      |        lead(w,1) OVER win AS w1, lead(w,2) OVER win AS w2,
      |        lead(w,3) OVER win AS w3, lead(w,4) OVER win AS w4,
      |        lead(w,5) OVER win AS w5, lead(w,6) OVER win AS w6,
      |        lead(w,7) OVER win AS w7, lead(w,8) OVER win AS w8,
      |        lead(w,9) OVER win AS w9
      |      FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |g AS (
      |  SELECT doc_id, pos, 2 AS n, concat_ws(' ', w, w1) AS gram,
      |         length(w)+length(w1) AS gchars FROM l WHERE w1 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 3, concat_ws(' ', w, w1, w2),
      |         length(w)+length(w1)+length(w2) FROM l WHERE w2 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 4, concat_ws(' ', w, w1, w2, w3),
      |         length(w)+length(w1)+length(w2)+length(w3) FROM l WHERE w3 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 5, concat_ws(' ', w, w1, w2, w3, w4),
      |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)
      |         FROM l WHERE w4 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 6, concat_ws(' ', w, w1, w2, w3, w4, w5),
      |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
      |         FROM l WHERE w5 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 7, concat_ws(' ', w, w1, w2, w3, w4, w5, w6),
      |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
      |         +length(w6) FROM l WHERE w6 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 8, concat_ws(' ', w, w1, w2, w3, w4, w5, w6, w7),
      |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
      |         +length(w6)+length(w7) FROM l WHERE w7 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 9, concat_ws(' ', w, w1, w2, w3, w4, w5, w6, w7, w8),
      |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
      |         +length(w6)+length(w7)+length(w8) FROM l WHERE w8 IS NOT NULL
      |  UNION ALL SELECT doc_id, pos, 10, concat_ws(' ', w, w1, w2, w3, w4, w5, w6, w7, w8, w9),
      |         length(w)+length(w1)+length(w2)+length(w3)+length(w4)+length(w5)
      |         +length(w6)+length(w7)+length(w8)+length(w9) FROM l WHERE w9 IS NOT NULL),
      |o AS (SELECT *, count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt FROM g),
      |top AS (SELECT doc_id, n, cnt * gchars AS topchars FROM o WHERE n <= 4
      |        QUALIFY row_number() OVER (
      |          PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) = 1),
      |tops AS (SELECT doc_id,
      |          max(CASE WHEN n=2 THEN topchars END) AS t2,
      |          max(CASE WHEN n=3 THEN topchars END) AS t3,
      |          max(CASE WHEN n=4 THEN topchars END) AS t4 FROM top GROUP BY 1),
      |cov AS (SELECT DISTINCT doc_id, n, cpos FROM (
      |          SELECT doc_id, n, pos + unnest(generate_series(0, n - 1)) AS cpos
      |          FROM o WHERE n >= 5 AND cnt >= 2)),
      |dup AS (SELECT cov.doc_id, cov.n, sum(length(w.w)) AS dupchars
      |        FROM cov JOIN w ON w.doc_id = cov.doc_id AND w.pos = cov.cpos
      |        GROUP BY 1, 2),
      |dups AS (SELECT doc_id,
      |          max(CASE WHEN n=5 THEN dupchars END) AS d5,
      |          max(CASE WHEN n=6 THEN dupchars END) AS d6,
      |          max(CASE WHEN n=7 THEN dupchars END) AS d7,
      |          max(CASE WHEN n=8 THEN dupchars END) AS d8,
      |          max(CASE WHEN n=9 THEN dupchars END) AS d9,
      |          max(CASE WHEN n=10 THEN dupchars END) AS d10 FROM dup GROUP BY 1)
      |SELECT dc.doc_id,
      |  round(coalesce(t2, 0)::DOUBLE / doc_chars, 4) AS top2_frac,
      |  round(coalesce(t3, 0)::DOUBLE / doc_chars, 4) AS top3_frac,
      |  round(coalesce(t4, 0)::DOUBLE / doc_chars, 4) AS top4_frac,
      |  round(coalesce(d5, 0)::DOUBLE / doc_chars, 4) AS dup5_frac,
      |  round(coalesce(d6, 0)::DOUBLE / doc_chars, 4) AS dup6_frac,
      |  round(coalesce(d7, 0)::DOUBLE / doc_chars, 4) AS dup7_frac,
      |  round(coalesce(d8, 0)::DOUBLE / doc_chars, 4) AS dup8_frac,
      |  round(coalesce(d9, 0)::DOUBLE / doc_chars, 4) AS dup9_frac,
      |  round(coalesce(d10, 0)::DOUBLE / doc_chars, 4) AS dup10_frac,
      |  (round(coalesce(t2, 0)::DOUBLE / doc_chars, 4) <= 0.20
      |   AND round(coalesce(t3, 0)::DOUBLE / doc_chars, 4) <= 0.18
      |   AND round(coalesce(t4, 0)::DOUBLE / doc_chars, 4) <= 0.16
      |   AND round(coalesce(d5, 0)::DOUBLE / doc_chars, 4) <= 0.15
      |   AND round(coalesce(d6, 0)::DOUBLE / doc_chars, 4) <= 0.14
      |   AND round(coalesce(d7, 0)::DOUBLE / doc_chars, 4) <= 0.13
      |   AND round(coalesce(d8, 0)::DOUBLE / doc_chars, 4) <= 0.12
      |   AND round(coalesce(d9, 0)::DOUBLE / doc_chars, 4) <= 0.11
      |   AND round(coalesce(d10, 0)::DOUBLE / doc_chars, 4) <= 0.10) AS pass
      |FROM dc LEFT JOIN tops USING (doc_id) LEFT JOIN dups USING (doc_id)
      |ORDER BY doc_id""".stripMargin)
  exact("text_bpe_merges", bench = true)((s, d) =>
    // BPE training (Sennrich ACL'16): 8 most frequent adjacent-pair
    // merges over the distinct-word histogram, deterministic tie-break
    bpeModelFor(s, d).merges.orderBy(col("merge_rank")))(bpeMerges(8))
  exact("text_bpe_encode")((s, d) =>
    // per-doc BPE token counts: final symbol table joined to doc words
    Bpe.encode(docsDf(s, d), "doc_id", "text", bpeModelFor(s, d))
      .orderBy(col("doc_id")))(bpeEncode(8))
  exact("text_unigram_xent", bench = true)((s, d) =>
    // CCNet-style unigram LM quality score: model fit + per-doc
    // cross-entropy, vocabulary-sized broadcast join back
    TextOps.unigramCrossEntropy(docsDf(s, d), "doc_id", "text")
      .orderBy(col("doc_id")))(
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |model AS (SELECT tok, count(*) AS ttf FROM toks GROUP BY tok),
      |n AS (SELECT sum(ttf)::DOUBLE AS total FROM model)
      |SELECT doc_id,
      |  round(avg(ln((SELECT total FROM n)) - ln(ttf)), 4) AS xent,
      |  count(*) AS n_toks
      |FROM toks JOIN model USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  exact("text_fingerprint")((s, d) =>
    TextOps.fingerprintMd5(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id")))(
    "SELECT doc_id, md5(text) AS fingerprint FROM documents ORDER BY doc_id")
  exact("text_termstats", bench = true)((s, d) =>
    TextOps.termStats(docsDf(s, d), "doc_id", "text")
      .orderBy(col("doc_freq").desc, col("term").asc).limit(25))(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_term_freq
      |FROM tok GROUP BY term ORDER BY doc_freq DESC, term ASC LIMIT 25""".stripMargin)
  exact("text_repetition", bench = true)((s, d) =>
    // duplicated-3-gram ratio (boilerplate / degenerate-text filter)
    TextOps.repetition(docsDf(s, d), "doc_id", "text").orderBy(col("doc_id")))(
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM t),
      |g AS (SELECT doc_id,
      |        w || '_' || lead(w, 1) OVER win || '_' || lead(w, 2) OVER win AS s
      |      FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |gg AS (SELECT doc_id, s FROM g WHERE s IS NOT NULL),
      |agg AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT s) AS n_unique
      |        FROM gg GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
      |       coalesce(n_unique, 0) AS n_unique,
      |       round(CASE WHEN coalesce(n_grams, 0) > 0
      |                  THEN 1.0 - n_unique::DOUBLE / n_grams
      |                  ELSE 0.0 END, 4) AS dup_ratio
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin)
  exact("text_shingles", bench = true)((s, d) =>
    // 2-gram shingle stats (ref analysis/shingle/ShingleFilter): narrow
    // codegen'd window expansion + partial-agg count
    TextOps.shingleStats(docsDf(s, d), "doc_id", "text", n = 2)
      .orderBy(col("n").desc, col("shingle").asc).limit(25))(
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM t),
      |nx AS (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS nw FROM w)
      |SELECT w || '_' || nw AS shingle, count(*) AS n FROM nx WHERE nw IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, shingle ASC LIMIT 25""".stripMargin)
  exact("text_stem_minimal")((s, d) => {
    // differential stemmer check: the Scala rule table
    // (EnglishMinimalStemmer) vs an independent SQL CASE replica in the
    // oracle, over every corpus term x 6 suffix variants
    import s.implicits._
    docsDf(s, d).select(explode(split($"text", " ")).as("term"))
      .distinct().as[String]
      .flatMap(t => Seq("", "s", "es", "ies", "ss", "us").map { sfx =>
        val v = t + sfx
        (t, v, graft.analysis.EnglishMinimalStemmer(v))
      })
      .toDF("term", "variant", "stemmed")
      .orderBy($"term", $"variant")
  })(
    s"""WITH t AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents),
       |v AS (SELECT term, term || s AS variant
       |      FROM t, (VALUES (''),('s'),('es'),('ies'),('ss'),('us')) sfx(s))
       |SELECT term, variant, ${OracleSql.minimalStemCase("variant")} AS stemmed
       |FROM v ORDER BY term, variant""".stripMargin)
  exact("text_fold")((s, d) => {
    // accent folding: Scala NFD-decompose-and-strip vs DuckDB's
    // independent ICU strip_accents, over accent-injected corpus terms
    import s.implicits._
    docsDf(s, d).select(explode(split($"text", " ")).as("term"))
      .distinct()
      .select(col("term"), translate(col("term"), "aeiou", "áéíóü").as("accented"))
      .as[(String, String)]
      .map { case (t, a) => (t, a, graft.analysis.AsciiFolding(a)) }
      .toDF("term", "accented", "folded")
      .orderBy($"term")
  })(
    """WITH t AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, translate(term, 'aeiou', 'áéíóü') AS accented,
      |       strip_accents(translate(term, 'aeiou', 'áéíóü')) AS folded
      |FROM t ORDER BY term""".stripMargin)
}
