package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Similarity, TextOps}
import graft.search._
// scoring models; graft.pipeline.Similarity holds the vector-similarity ops
import graft.search.{Similarity => Sim}

import OracleSql._
import SparkEntry._

/** The fulltext entries: the engine path (index build, then search)
  * through [[SparkEntry.searcherFor]]'s double-precision searchers.
  */
object FulltextEntries extends EntryFamily {
  private def ftMatch(spark: SparkSession, sfDir: String, q: Query): DataFrame = {
    val s = searcherFor(spark, sfDir)
    import spark.implicits._
    s.matchingCached(q).toDF("docId")
      .join(s.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"))
      .orderBy($"doc_id")
  }

  /** Shared by ft_mlt_like (re-analysis path) and ft_mlt_tv (stored
    * term-vector path): the two MUST produce the identical table.
    */
  private lazy val mltLikeSql: String = {
      val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |qlen AS (SELECT doc_id, dl,
         |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
         |doc0 AS (SELECT term, count(*)::DOUBLE AS tf0 FROM tok WHERE doc_id = 0 GROUP BY term),
         |alldf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
         |mlt AS (SELECT d.term,
         |          round(d.tf0 * (ln(((SELECT n FROM stats) + 1) / (a.df + 1)) + 1), 6) AS w
         |        FROM doc0 d JOIN alldf a USING (term)
         |        WHERE d.tf0 >= 2 AND a.df >= 5
         |        ORDER BY w DESC, d.term ASC LIMIT 8),
         |bst AS (SELECT term, w / (SELECT max(w) FROM mlt) AS b FROM mlt),
         |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
         |       WHERE term IN (SELECT term FROM mlt) GROUP BY doc_id, term),
         |idf AS (SELECT term, ln(1 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
         |        FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |  bst.b * (idf.idf - idf.idf / (1 + tf.freq *
         |    (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats)))))) AS s
         |  FROM tf JOIN idf USING (term) JOIN bst USING (term)
         |  JOIN qlen ON qlen.doc_id = tf.doc_id),
         |scored AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |WHERE doc_id <> 0
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  exact("ft_term_topk", bench = true)((s, d) => ftTopK(s, d, "spark", 10))(
    bm25TopK(Seq("spark"), "TRUE", 10))
  exact("ft_bloom_topk", bench = true)((s, d) => {
    // 3-segment bloom-enabled searcher: results must equal the plain BM25
    // oracle (bloom has no false negatives, segments sum to one corpus)
    val se = searcherFor(s, d, Variant.Bloom)
    val q = se.parse("filter OR query")
    topKDf(se, q, 10)
  })(bm25TopK(Seq("filter", "query"), "TRUE", 10))
  exact("ft_and_topk", bench = true)((s, d) => ftTopK(s, d, "data AND query", 10))(
    bm25TopK(Seq("data", "query"), "nmatch = 2", 10))
  exact("ft_or_topk", bench = true)((s, d) => ftTopK(s, d, "data OR query OR stream", 10))(
    bm25TopK(Seq("data", "query", "stream"), "TRUE", 10))
  exact("ft_nested_topk", bench = true)((s, d) => ftTopK(s, d, "(data OR query) AND table", 10))(
    bm25TopK(Seq("data", "query", "table"),
      s"${hasTerm("table")} AND (${hasTerm("data")} OR ${hasTerm("query")})", 10))
  exact("ft_tfidf_topk")((s, d) => {
    val se = searcherFor(s, d, sim = Sim.Classic)
    val q = se.parse("data OR query OR stream")
    topKDf(se, q, 10)
  })(tfidfTopK(Seq("data", "query", "stream"), 10))
  exact("ft_filter_topk")((s, d) => {
    val se = searcherFor(s, d)
    val q = BoolQuery(Seq(
      TermQuery("data") -> Occur.Should, TermQuery("query") -> Occur.Should,
      TermQuery("table") -> Occur.Filter))
    topKDf(se, q, 10)
  })(bm25TopK(Seq("data", "query"),
      hasTerm("table"), 10))
  exact("ft_synonym_topk")((s, d) => {
    val se = searcherFor(s, d)
    topKDf(se, SynonymQuery(Seq("data", "stream")), 10)
  })(
    s"""${bm25Ctes(Seq("data", "stream"))}, syn AS (
       |  SELECT doc_id, sum(freq) AS freq FROM tf GROUP BY doc_id
       |), syndf AS (
       |  SELECT max(df) AS df FROM (SELECT term, count(*) AS df FROM tf GROUP BY term)
       |), synidf AS (
       |  SELECT ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS idf FROM syndf
       |)
       |SELECT doc_id, round(score, 6) AS score FROM (
       |  SELECT syn.doc_id,
       |    (SELECT idf FROM synidf) - (SELECT idf FROM synidf) / (1 + syn.freq *
       |      (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
       |  FROM syn JOIN qlen ON qlen.doc_id = syn.doc_id
       |)
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin)
  exact("ft_fuzzy_like", bench = true)((s, d) => {
    // FuzzyLikeThisQuery (ref lucene/sandbox sandbox/queries/
    // FuzzyLikeThisQuery.java): each like-text token "fuzzifies" against
    // the live dictionary (maxEdits=1) and the variant set scores as ONE
    // pseudo-term — the SynonymQuery blend (summed tf, group df = max
    // member df) — summed across token groups
    val se = searcherFor(s, d)
    val groups = Seq("quer", "strem")
      .map(t => se.expandFuzzy(t, maxEdits = 1))
      .filter(_.nonEmpty)
    val q = BoolQuery(groups.map(g =>
      (SynonymQuery(g): Query) -> (Occur.Should: Occur)))
    topKDf(se, q, 10)
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |qlen AS (SELECT doc_id, dl,
      |  (SELECT max(v) FROM (VALUES __B4__) b4(v) WHERE v <= dl) AS qdl FROM dlen),
      |stats AS (SELECT count(*)::DOUBLE AS n,
      |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
      |vocab AS (SELECT DISTINCT term FROM tok),
      |g AS (
      |  SELECT 0 AS gid, term FROM vocab WHERE damerau_levenshtein(term, 'quer') <= 1
      |  UNION ALL
      |  SELECT 1 AS gid, term FROM vocab WHERE damerau_levenshtein(term, 'strem') <= 1
      |),
      |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
      |       WHERE term IN (SELECT term FROM g) GROUP BY doc_id, term),
      |gtf AS (SELECT g.gid, tf.doc_id, sum(tf.freq) AS freq
      |        FROM tf JOIN g USING (term) GROUP BY g.gid, tf.doc_id),
      |gdf AS (SELECT gid, max(df) AS df FROM (
      |          SELECT g.gid, tf.term, count(*) AS df FROM tf JOIN g USING (term)
      |          GROUP BY g.gid, tf.term) GROUP BY gid),
      |gidf AS (SELECT gid,
      |           ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS idf
      |         FROM gdf),
      |sc AS (SELECT gtf.doc_id,
      |  gidf.idf - gidf.idf / (1 + gtf.freq *
      |    (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS s
      |  FROM gtf JOIN gidf USING (gid) JOIN qlen ON qlen.doc_id = gtf.doc_id),
      |scored AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
      |SELECT doc_id, round(score, 6) AS score FROM scored
      |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
      .replace("__B4__", OracleSql.byte4Values.map(v => s"($v)").mkString(",")))
  exact("ft_field_topk", bench = true)((s, d) => {
    // field-scoped BM25: per-field docCount/avgdl/norms (title = first 8
    // tokens, body = rest); cross-field disjunction sums per-field scores
    val se = searcherFor(s, d, Variant.Fields)
    topKDf(se, se.parse("title:data OR body:query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tfld AS (SELECT doc_id, list_slice(ts, 1, 8) AS toks FROM base),
       |bfld AS (SELECT doc_id, list_slice(ts, 9, len(ts)) AS toks FROM base),
       |tlen AS (SELECT doc_id, len(toks) AS dl FROM tfld),
       |blen AS (SELECT doc_id, len(toks) AS dl FROM bfld),
       |tq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM tlen),
       |bq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
       |tstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
       |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl FROM tlen),
       |bstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
       |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl FROM blen),
       |ttf AS (SELECT doc_id, count(*)::DOUBLE AS freq
       |        FROM (SELECT doc_id, unnest(toks) AS term FROM tfld)
       |        WHERE term = 'data' GROUP BY doc_id),
       |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
       |        FROM (SELECT doc_id, unnest(toks) AS term FROM bfld)
       |        WHERE term = 'query' GROUP BY doc_id),
       |tidf AS (SELECT ln(1 + ((SELECT n FROM tstats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf FROM ttf),
       |bidf AS (SELECT ln(1 + ((SELECT n FROM bstats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf FROM btf),
       |tsc AS (SELECT ttf.doc_id,
       |  (SELECT idf FROM tidf) - (SELECT idf FROM tidf) / (1 + ttf.freq *
       |    (1.0 / (1.2 * (0.25 + 0.75 * tq.qdl / (SELECT avgdl FROM tstats))))) AS s
       |  FROM ttf JOIN tq USING (doc_id)),
       |bsc AS (SELECT btf.doc_id,
       |  (SELECT idf FROM bidf) - (SELECT idf FROM bidf) / (1 + btf.freq *
       |    (1.0 / (1.2 * (0.25 + 0.75 * bq.qdl / (SELECT avgdl FROM bstats))))) AS s
       |  FROM btf JOIN bq USING (doc_id)),
       |scored AS (SELECT doc_id, sum(s) AS score
       |           FROM (SELECT * FROM tsc UNION ALL SELECT * FROM bsc)
       |           GROUP BY doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_multisim_topk", bench = true)((s, d) => {
    // MultiSimilarity (ref MultiSimilarity.java): per-term score = BM25 +
    // ClassicSimilarity, double-accumulated
    val se = searcherFor(s, d, sim = Sim.Multi(Seq(Sim.Bm25, Sim.Classic)))
    topKDf(se, Query.or("data", "query"), 10)
  })(
    (OracleSql.bm25Ctes(Seq("data", "query")) +
      """, cidf AS (
        |  SELECT term, ln(((SELECT n FROM stats) + 1) / (count(*) + 1)) + 1 AS idf
        |  FROM tf GROUP BY term
        |), csc AS (
        |  SELECT tf.doc_id, sqrt(tf.freq) * cidf.idf * (1.0 / sqrt(qlen.qdl)) AS s
        |  FROM tf JOIN cidf USING (term) JOIN qlen ON qlen.doc_id = tf.doc_id
        |), scored AS (
        |  SELECT doc_id, sum(s) AS score FROM
        |    (SELECT doc_id, s FROM sc UNION ALL SELECT doc_id, s FROM csc)
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, round(score, 6) AS score FROM scored
        |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin))
  exact("ft_perfield_topk", bench = true)((s, d) => {
    // per-field similarity (ref PerFieldSimilarityWrapper): the title
    // clause scores under ClassicSimilarity (tf-idf), the body clause
    // under BM25 — one boolean query, two scoring models, clause-summed
    val se = searcherFor(s, d, Variant.Fields,
      Sim.PerField(Map("title" -> Sim.Classic)))
    topKDf(se, se.parse("title:data OR body:query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tfld AS (SELECT doc_id, list_slice(ts, 1, 8) AS toks FROM base),
       |bfld AS (SELECT doc_id, list_slice(ts, 9, len(ts)) AS toks FROM base),
       |tlen AS (SELECT doc_id, len(toks) AS dl FROM tfld),
       |blen AS (SELECT doc_id, len(toks) AS dl FROM bfld),
       |tq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM tlen),
       |bq AS (SELECT doc_id, dl, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
       |tstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n FROM tlen),
       |bstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
       |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl FROM blen),
       |ttf AS (SELECT doc_id, count(*)::DOUBLE AS freq
       |        FROM (SELECT doc_id, unnest(toks) AS term FROM tfld)
       |        WHERE term = 'data' GROUP BY doc_id),
       |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
       |        FROM (SELECT doc_id, unnest(toks) AS term FROM bfld)
       |        WHERE term = 'query' GROUP BY doc_id),
       |tidf AS (SELECT ln(((SELECT n FROM tstats) + 1) / (count(*) + 1.0)) + 1.0 AS idf FROM ttf),
       |bidf AS (SELECT ln(1 + ((SELECT n FROM bstats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf FROM btf),
       |tsc AS (SELECT ttf.doc_id,
       |  sqrt(ttf.freq) * (SELECT idf FROM tidf) * (1.0 / sqrt(tq.qdl)) AS s
       |  FROM ttf JOIN tq USING (doc_id)),
       |bsc AS (SELECT btf.doc_id,
       |  (SELECT idf FROM bidf) - (SELECT idf FROM bidf) / (1 + btf.freq *
       |    (1.0 / (1.2 * (0.25 + 0.75 * bq.qdl / (SELECT avgdl FROM bstats))))) AS s
       |  FROM btf JOIN bq USING (doc_id)),
       |scored AS (SELECT doc_id, sum(s) AS score
       |           FROM (SELECT * FROM tsc UNION ALL SELECT * FROM bsc)
       |           GROUP BY doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_feature_rank", bench = true)((s, d) => {
    // FeatureField static ranking signal: BM25(data) + a saturation
    // transform of the doc's pagerank feature, composed as SHOULD clauses
    // (ref document/FeatureField.java newSaturationQuery usage)
    val se = searcherFor(s, d, Variant.Feat)
    val q = BoolQuery(Seq(
      TermQuery("data") -> (Occur.Should: Occur),
      FeatureQuery("pagerank", FeatureFunction.Saturation(500.0), 0.8) ->
        (Occur.Should: Occur)))
    topKDf(se, q, 10)
  })(
    (bm25Ctes(Seq("data")) +
      """, feat AS (
        |  SELECT doc_id, 0.8 * (1 - 500.0 / ((n_chars % 400 + 1) + 500.0)) AS fs
        |  FROM documents
        |), scored AS (
        |  SELECT f.doc_id, coalesce(sc.s, 0) + f.fs AS score
        |  FROM feat f LEFT JOIN sc ON sc.doc_id = f.doc_id
        |)
        |SELECT doc_id, round(score, 6) AS score FROM scored
        |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin))
  exact("ft_lm_topk", bench = true)((s, d) => {
    // Dirichlet-smoothed language model ranking (ref
    // LMDirichletSimilarity): per-term score = max(0, ln(1 + tf/(mu*p))
    // + ln(mu/(dl+mu))), p = (ttf+1)/(sttf+1), mu = 2000
    val se = searcherFor(s, d, sim = Sim.LmDirichlet(2000.0))
    topKDf(se, Query.or("data", "query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT sum(dl)::DOUBLE AS sttf FROM dlen
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
       |), ttf AS (
       |  SELECT term, count(*)::DOUBLE AS ttf FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id, greatest(0.0,
       |    ln(1 + tf.freq / (2000.0 * ((ttf.ttf + 1.0) / ((SELECT sttf FROM stats) + 1.0))))
       |    + ln(2000.0 / (qlen.qdl + 2000.0))) AS s
       |  FROM tf JOIN ttf USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_lmjm_topk", bench = true)((s, d) => {
    // Jelinek-Mercer language model (ref LMJelinekMercerSimilarity):
    // per-term score = ln(1 + ((1-lambda)*tf/dl)/(lambda*p)), lambda 0.1
    val se = searcherFor(s, d, sim = Sim.LmJelinekMercer(0.1))
    topKDf(se, Query.or("data", "query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT sum(dl)::DOUBLE AS sttf FROM dlen
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
       |), ttf AS (
       |  SELECT term, count(*)::DOUBLE AS ttf FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id,
       |    ln(1 + ((1 - 0.1) * tf.freq / qlen.qdl) /
       |       (0.1 * ((ttf.ttf + 1.0) / ((SELECT sttf FROM stats) + 1.0)))) AS s
       |  FROM tf JOIN ttf USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_synonym_index", bench = true)((s, d) => {
    // index-time synonym graphs (ref SynonymGraphFilter): querying the
    // canonical terms finds docs containing only the variants — tf counts
    // injections, norms don't (discountOverlaps), sttf does
    val se = searcherFor(s, d, Variant.Syn)
    topKDf(se, Query.or("datastream", "embedding"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH base AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents
       |), nxt AS (
       |  SELECT doc_id, term,
       |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
       |  FROM base
       |), tok AS (
       |  SELECT doc_id, term FROM base
       |  UNION ALL
       |  SELECT doc_id, 'datastream' FROM nxt WHERE term = 'data' AND nt = 'stream'
       |  UNION ALL
       |  SELECT doc_id, 'embedding' FROM base WHERE term = 'vector'
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM base GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT (SELECT count(*) FROM dlen)::DOUBLE AS n,
       |         (SELECT count(*) FROM tok)::DOUBLE /
       |           (SELECT count(*) FROM dlen)::DOUBLE AS avgdl
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('datastream', 'embedding') GROUP BY doc_id, term
       |), idf AS (
       |  SELECT term, ln(1 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
       |  FROM tf GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id,
       |    idf.idf - idf.idf / (1 + tf.freq *
       |      (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS s
       |  FROM tf JOIN idf USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_payload_topk", bench = true)((s, d) => {
    // payload-score ranking (ref queries/payloads/PayloadScoreQuery.java,
    // PayloadFunction Sum): docs ranked by the sum of 'data' payloads —
    // the injected |N token plus default-1 natural occurrences
    val se = searcherFor(s, d, Variant.Pay)
    import s.implicits._
    val hits = se.payloadScoreTopK("data", "sum", 10).collect()
      .map(r => graft.search.ScoredDoc(r.getLong(0), r.getDouble(1)))
    se.fetchDocs(hits)
      .select(docIdOf($"url"), $"score".cast("bigint").as("payload_sum"))
      .orderBy($"payload_sum".desc, $"doc_id".asc)
  })(
    """SELECT doc_id,
      |  (len(list_filter(string_split(text, ' '), x -> x = 'data'))
      |   + (doc_id % 7 + 1))::BIGINT AS payload_sum
      |FROM documents
      |ORDER BY payload_sum DESC, doc_id ASC LIMIT 10""".stripMargin)
  exact("ft_payload_check")((s, d) => {
    // payload-filtered matching (ref queries/payloads/
    // SpanPayloadCheckQuery.java): 'data' occurrences count only where
    // the stored payload equals 1 — the natural occurrences (default
    // payload) plus the injected token on doc_id%7==0 docs
    val se = searcherFor(s, d, Variant.Pay)
    import s.implicits._
    se.payloadCheckFreqs("data", 1)
      .toDF("docId", "check_freq")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"check_freq".cast("bigint").as("check_freq"))
      .orderBy($"doc_id")
  })(
    """WITH m AS (
      |  SELECT doc_id,
      |    (len(list_filter(string_split(text, ' '), x -> x = 'data'))
      |     + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS f
      |  FROM documents)
      |SELECT doc_id, f::BIGINT AS check_freq FROM m WHERE f > 0
      |ORDER BY doc_id""".stripMargin)
  exact("ft_span_first", bench = true)((s, d) => {
    // position-bounded matching (ref spans/SpanFirstQuery.java): 'data'
    // occurrences whose span end (pos+1) is within the first 5 positions
    val se = searcherFor(s, d)
    import s.implicits._
    se.spanFirstFreqs("data", 5)
      .toDF("docId", "first_freq")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"first_freq".cast("bigint").as("first_freq"))
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents)
      |SELECT doc_id, count(*)::BIGINT AS first_freq
      |FROM t WHERE term = 'data' AND pos <= 5
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  exact("ft_span_range")((s, d) => {
    // position-range matching (ref spans/SpanPositionRangeQuery.java):
    // 'data' occurrences whose span lies within positions [3, 12)
    val se = searcherFor(s, d)
    import s.implicits._
    se.spanRangeFreqs("data", 3, 12)
      .toDF("docId", "range_freq")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"range_freq".cast("bigint").as("range_freq"))
      .orderBy($"doc_id")
  })(
    // engine positions are 0-based, generate_subscripts 1-based: span start
    // pos0 >= 3 <=> pos >= 4; span end pos0+1 <= 12 <=> pos <= 12
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents)
      |SELECT doc_id, count(*)::BIGINT AS range_freq
      |FROM t WHERE term = 'data' AND pos >= 4 AND pos <= 12
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  exact("ft_covering")((s, d) => {
    // per-doc minimum-should-match (ref sandbox search/CoveringQuery.java):
    // four SHOULD clauses; each doc requires nmatch >= (doc_id % 3) + 1 of
    // them (the per-doc LongValuesSource), scores as the matching sum
    val se = searcherFor(s, d)
    import s.implicits._
    val clauses = Seq("data", "query", "stream", "table")
      .map(t => TermQuery(t): Query)
    val minM = substring($"url", 4, 12).cast("bigint") % 3 + 1
    se.coveringMatches(clauses, minM)
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), round($"score", 6).as("score"),
        $"nmatch".cast("bigint").as("nmatch"))
      .orderBy($"doc_id")
  }) {
    s"""${OracleSql.bm25Ctes(Seq("data", "query", "stream", "table"))}, scored AS (
       |  SELECT doc_id, sum(s) AS score, count(*) AS nmatch FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score, nmatch::BIGINT AS nmatch
       |FROM scored WHERE nmatch >= (doc_id % 3) + 1
       |ORDER BY doc_id""".stripMargin
  }
  exact("ft_common_terms")((s, d) => {
    // dynamic-stopword query (ref queries/CommonTermsQuery.java): terms
    // in > 50% of docs demote to scoring-only; a rare term is required
    val se = searcherFor(s, d)
    val q = se.commonTermsQuery(Seq("dup", "data", "query"), maxTermFrequency = 0.5)
    topKDf(se, q, 10)
  }) {
    s"""${OracleSql.bm25Ctes(Seq("dup", "data", "query"))}, df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), lowterms AS (
       |  SELECT term FROM df WHERE df <= 0.5 * (SELECT n FROM stats)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |WHERE doc_id IN (SELECT doc_id FROM tok
       |                 WHERE term IN (SELECT term FROM lowterms))
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_dv_update")((s, d) => {
    // in-place numeric doc-values update (ref
    // IndexWriter#updateNumericDocValue): stored `length` patched to
    // +1000 for doc_id % 10 == 0 without reindexing; the field sort over
    // the patched segment reflects the updated values
    val se = searcherFor(s, d, Variant.Dv)
    import s.implicits._
    se.matching(se.parse("data AND query")).toDF("docId")
      .join(se.docsTable.select($"docId", $"url", $"length"), "docId")
      .select(docIdOf($"url"), $"length".cast("bigint").as("dl"))
      .orderBy($"dl".desc, $"doc_id".asc)
      .limit(15)
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |patched AS (SELECT doc_id,
       |  CASE WHEN doc_id % 10 = 0 THEN dl + 1000 ELSE dl END AS dl FROM dlen)
       |SELECT doc_id, dl FROM patched
       |WHERE ${hasTerm("data")} AND ${hasTerm("query")}
       |ORDER BY dl DESC, doc_id ASC LIMIT 15""".stripMargin)
  exact("ft_spell_phonetic")((s, d) => {
    // phonetic suggestions (ref analysis/phonetic/PhoneticFilter.java):
    // dictionary terms sounding like the typo 'stram' (Soundex S365),
    // ranked by docFreq
    searcherFor(s, d).phoneticSuggest("stram", 5)
  }) {
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), d AS (
       |  SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term
       |)
       |SELECT term, doc_freq::BIGINT AS doc_freq FROM d
       |WHERE ${OracleSql.soundexSql("term")} = ${OracleSql.soundexSql("'stram'")}
       |ORDER BY doc_freq DESC, term ASC LIMIT 5""".stripMargin
  }
  exact("ft_dfr_topk", bench = true)((s, d) => {
    // divergence from randomness, the classic InL2 combination (ref
    // DFRSimilarity): per-term score = log2((N+1)/(n+0.5)) *
    // (1 - 1/(1 + tfn)), tfn = tf * log2(1 + avgdl/dl)
    val se = searcherFor(s, d, sim = Sim.Dfr())
    topKDf(se, Query.or("data", "query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs,
       |         (SELECT sum(dl)::DOUBLE FROM dlen) / count(*)::DOUBLE AS avgdl
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id,
       |    (ln(((SELECT n_docs FROM stats) + 1) / (df.n + 0.5)) / ln(2)) *
       |    (1 - 1 / (1 + tf.freq *
       |      (ln(1 + (SELECT avgdl FROM stats) / qlen.qdl) / ln(2)))) AS s
       |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_ib_topk", bench = true)((s, d) => {
    // information-based model, LL-D-H1 (ref IBSimilarity): per-term
    // score = -ln(lambda/(tfn+lambda)), lambda = (n+1)/(N+1),
    // tfn = tf * avgdl/dl
    val se = searcherFor(s, d, sim = Sim.Ib())
    topKDf(se, Query.or("data", "query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs,
       |         (SELECT sum(dl)::DOUBLE FROM dlen) / count(*)::DOUBLE AS avgdl
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id,
       |    -ln(((df.n + 1.0) / ((SELECT n_docs FROM stats) + 1.0)) /
       |        (tf.freq * (SELECT avgdl FROM stats) / qlen.qdl +
       |         (df.n + 1.0) / ((SELECT n_docs FROM stats) + 1.0))) AS s
       |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_dfi_topk", bench = true)((s, d) => {
    // divergence from independence (ref DFISimilarity, standardized
    // measure): expected = (F+1)*dl/(sttf+1); score = log2(1 +
    // (tf-expected)/sqrt(expected)) when tf > expected, else 0
    val se = searcherFor(s, d, sim = Sim.Dfi())
    topKDf(se, Query.or("data", "query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT (SELECT sum(dl) FROM dlen)::DOUBLE AS sttf
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
       |), ttf AS (
       |  SELECT term, count(*)::DOUBLE AS f FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id,
       |    CASE WHEN tf.freq <= (ttf.f + 1) * qlen.qdl / ((SELECT sttf FROM stats) + 1)
       |         THEN 0.0
       |         ELSE ln(1 + (tf.freq - (ttf.f + 1) * qlen.qdl / ((SELECT sttf FROM stats) + 1))
       |                    / sqrt((ttf.f + 1) * qlen.qdl / ((SELECT sttf FROM stats) + 1))) / ln(2)
       |    END AS s
       |  FROM tf JOIN ttf USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id HAVING sum(s) > 0
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_axiomatic_topk", bench = true)((s, d) => {
    // axiomatic F2EXP (ref AxiomaticF2EXP): per-term score =
    // freq/(freq + s + s*dl/avgdl) * ((N+1)/df)^k, s=0.25, k=0.35
    val se = searcherFor(s, d, sim = Sim.Axiomatic())
    topKDf(se, Query.or("data", "query"), 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
       |         (SELECT sum(dl) FROM dlen)::DOUBLE
       |           / (SELECT count(*) FROM documents) AS avgdl
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id,
       |    (tf.freq / (tf.freq + 0.25 + 0.25 * qlen.qdl / (SELECT avgdl FROM stats)))
       |      * pow(((SELECT n_docs FROM stats) + 1.0) / df.n, 0.35) AS s
       |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_sweetspot_topk", bench = true)((s, d) => {
    // sweet-spot classic TF-IDF (ref misc/SweetSpotSimilarity): plateau
    // length norm 1/sqrt(0.5*(|dl-8|+|dl-40|-32)+1) (flat at 1 inside
    // [8,40], short docs penalized too — NOT antitone in the norm, so
    // the block-max bound uses the plateau value) and baseline tf
    // (freq<=2 -> 0.5, else sqrt(freq+0.25-2))
    val se = searcherFor(s, d, sim = Sim.SweetSpot(
      lnMin = 8, lnMax = 40, steepness = 0.5, tfBase = 0.5, tfMin = 2.0))
    topKDf(se, Query.or("data", "query"), 10)
  }) {
    // SweetSpot: classic idf x baseline tf x plateau length norm, all on
    // the quantized byte4 doc length (same as the engine's norm byte)
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), dlen AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
       |), qlen AS (
       |  SELECT doc_id,
       |    (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |  FROM dlen
       |), stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS n FROM tok
       |  WHERE term IN ('data', 'query') GROUP BY term
       |), sc AS (
       |  SELECT tf.doc_id,
       |    (ln(((SELECT n_docs FROM stats) + 1) / (df.n + 1)) + 1) *
       |    (CASE WHEN tf.freq <= 2.0 THEN 0.5
       |          ELSE sqrt(tf.freq + 0.25 - 2.0) END) *
       |    (1 / sqrt(0.5 * (abs(qlen.qdl - 8) + abs(qlen.qdl - 40) - 32)
       |              + 1)) AS s
       |  FROM tf JOIN df USING (term) JOIN qlen USING (doc_id)
       |), scored AS (
       |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_wordbreak", bench = true)((s, d) => {
    // word-break suggestions for a run-together term (ref
    // suggest/spell/WordBreakSpellChecker.java): one break, both parts
    // dictionary words, ranked by summed docFreq
    val se = searcherFor(s, d)
    import s.implicits._
    se.wordBreaks("dataquery", maxChanges = 1, n = 5)
      .select($"suggestion", $"freq")
  })(
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), dict AS (
      |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
      |), splits AS (
      |  SELECT substr('dataquery', 1, i::INT) AS a,
      |         substr('dataquery', i::INT + 1) AS b
      |  FROM generate_series(1, len('dataquery') - 1) t(i)
      |)
      |SELECT a || ' ' || b AS suggestion, (da.df + db.df)::BIGINT AS freq
      |FROM splits JOIN dict da ON da.term = a JOIN dict db ON db.term = b
      |ORDER BY freq DESC, suggestion ASC LIMIT 5""".stripMargin)
  exact("ft_wordcombine")((s, d) => {
    // combination direction of WordBreakSpellChecker: adjacent query
    // fragments whose concatenation is a dictionary word
    val se = searcherFor(s, d)
    import s.implicits._
    se.wordCombinations(Seq("da", "ta", "query"), maxChanges = 2, n = 5)
      .select($"combined", $"start", $"end", $"changes", $"freq")
  })(
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), dict AS (
      |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
      |), cands(combined, s, e, ch) AS (
      |  VALUES ('data', 0, 1, 1), ('dataquery', 0, 2, 2), ('taquery', 1, 2, 1)
      |)
      |SELECT c.combined, c.s AS "start", c.e AS "end", c.ch AS changes,
      |       d.df::BIGINT AS freq
      |FROM cands c JOIN dict d ON d.term = c.combined
      |ORDER BY changes ASC, freq DESC, combined ASC LIMIT 5""".stripMargin)
  exact("ft_feature_sort", bench = true)((s, d) => {
    // sort by static feature value desc (ref FeatureField.newFeatureSort):
    // the linear feature scorer at weight 1 IS the decoded value, so the
    // sort is a scoreMatches + ORDER BY — no docs-table column needed
    val se = searcherFor(s, d, Variant.Feat)
    import s.implicits._
    val q = FeatureQuery("pagerank", FeatureFunction.Linear, 1.0)
    se.scoreMatches(q).toDF("docId", "pagerank")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"pagerank")
      .orderBy($"pagerank".desc, $"doc_id".asc).limit(15)
  })(
    """SELECT doc_id, (n_chars % 400 + 1)::DOUBLE AS pagerank FROM documents
      |ORDER BY pagerank DESC, doc_id ASC LIMIT 15""".stripMargin)
  exact("ft_combined_topk", bench = true)((s, d) => {
    // BM25F: one term scored against the weighted union of title+body as
    // a synthetic combined field — pseudo df = max over fields, weighted
    // avgdl, freq = sum weight*tf, additive re-encoded norms (ref
    // search/CombinedFieldQuery.java + MultiNormsLeafSimScorer.java)
    val se = searcherFor(s, d, Variant.Fields)
    val q = CombinedFieldQuery("data", Seq("title" -> 2.0, "body" -> 1.0))
    topKDf(se, q, 10)
  }) {
    // BM25F replica: title (first 8 tokens, weight 2) + body (rest,
    // weight 1) as one pseudo-field. Pseudo docCount = max over fields,
    // sttf = 2*sttf_title + sttf_body, df = max per-field df; per doc
    // freq = 2*tf_t + tf_b and the norm is the byte4 re-quantization of
    // 2*qdl_t + qdl_b summed over MATCHED fields only (the engine reads
    // norms off the matched postings).
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tlen AS (SELECT doc_id, len(list_slice(ts, 1, 8)) AS dl FROM base),
       |blen AS (SELECT doc_id, len(list_slice(ts, 9, len(ts))) AS dl FROM base),
       |tq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM tlen),
       |bq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
       |pseudo AS (SELECT
       |  greatest((SELECT count(*) FILTER (dl > 0) FROM tlen),
       |           (SELECT count(*) FILTER (dl > 0) FROM blen))::DOUBLE AS n,
       |  (2 * (SELECT sum(dl) FROM tlen) + (SELECT sum(dl) FROM blen))::DOUBLE AS sttf),
       |ttf AS (SELECT doc_id, count(*)::DOUBLE AS freq
       |        FROM (SELECT doc_id, unnest(list_slice(ts, 1, 8)) AS term FROM base)
       |        WHERE term = 'data' GROUP BY doc_id),
       |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
       |        FROM (SELECT doc_id, unnest(list_slice(ts, 9, len(ts))) AS term FROM base)
       |        WHERE term = 'data' GROUP BY doc_id),
       |dfp AS (SELECT greatest((SELECT count(*) FROM ttf), (SELECT count(*) FROM btf)) AS df),
       |idf AS (SELECT ln(1 + ((SELECT n FROM pseudo) - df + 0.5) / (df + 0.5)) AS idf FROM dfp),
       |perdoc AS (SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
       |  2 * coalesce(t.freq, 0) + coalesce(b.freq, 0) AS f,
       |  (CASE WHEN t.doc_id IS NOT NULL THEN 2 * tq.qdl ELSE 0 END) +
       |  (CASE WHEN b.doc_id IS NOT NULL THEN bq.qdl ELSE 0 END) AS lensum
       |  FROM ttf t FULL OUTER JOIN btf b ON t.doc_id = b.doc_id
       |  LEFT JOIN tq ON tq.doc_id = coalesce(t.doc_id, b.doc_id)
       |  LEFT JOIN bq ON bq.doc_id = coalesce(t.doc_id, b.doc_id)),
       |normq AS (SELECT doc_id, f,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= round(lensum)) AS qn
       |  FROM perdoc),
       |scored AS (SELECT doc_id,
       |  (SELECT idf FROM idf) - (SELECT idf FROM idf) / (1 + f *
       |    (1.0 / (1.2 * (0.25 + 0.75 * qn / ((SELECT sttf FROM pseudo) / (SELECT n FROM pseudo)))))) AS score
       |  FROM normq)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_boost_topk", bench = true)((s, d) =>
    // per-clause boost: weight = boost * idf (ref search/BoostQuery.java)
    ftTopK(s, d, "data^2 OR query", 10))(
    (bm25Ctes(Seq("data", "query")) +
      """, scored AS (
        |  SELECT doc_id, sum(s * CASE WHEN term = 'data' THEN 2.0 ELSE 1.0 END) AS score
        |  FROM sc GROUP BY doc_id
        |)
        |SELECT doc_id, round(score, 6) AS score FROM scored
        |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin))
  exact("ft_dismax_topk", bench = true)((s, d) => {
    // dismax: best clause + 0.3 x the rest (ref DisjunctionMaxQuery)
    val se = searcherFor(s, d)
    val q = DisMaxQuery(Seq("data", "query", "stream").map(TermQuery(_)), 0.3)
    topKDf(se, q, 10)
  })(
    (bm25Ctes(Seq("data", "query", "stream")) +
      """, scored AS (
        |  SELECT doc_id, max(s) + 0.3 * (sum(s) - max(s)) AS score
        |  FROM sc GROUP BY doc_id
        |)
        |SELECT doc_id, round(score, 6) AS score FROM scored
        |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin))
  exact("ft_constscore")((s, d) => {
    // constant-score wrapper: every match scores 2.5 (ref ConstantScoreQuery)
    val se = searcherFor(s, d)
    import s.implicits._
    val q = ConstScoreQuery(se.parse("data AND query"), 2.5)
    se.scoreMatches(q).toDF("docId", "score")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .orderBy($"doc_id")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |d AS (SELECT DISTINCT doc_id FROM documents)
       |SELECT doc_id, 2.5 AS score FROM d
       |WHERE ${hasTerm("data")} AND ${hasTerm("query")}
       |ORDER BY doc_id""".stripMargin)
  exact("ft_spell", bench = true)((s, d) => {
    // spell correction (ref suggest/spell/DirectSpellChecker): dictionary
    // candidates within 2 edits of the misspelling, ranked by
    // (distance, docFreq desc, term)
    searcherFor(s, d).spellCorrect("parl", maxEdits = 2, n = 5)
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term)
      |SELECT term, damerau_levenshtein(term, 'parl')::BIGINT AS distance, doc_freq
      |FROM df WHERE damerau_levenshtein(term, 'parl') <= 2
      |ORDER BY distance ASC, doc_freq DESC, term ASC LIMIT 5""".stripMargin)
  exact("ft_spell_jaro", bench = true)((s, d) =>
    // Jaro-Winkler-ranked corrections (ref suggest/spell/
    // JaroWinklerDistance as the SpellChecker's StringDistance);
    // accuracy 0.55 so the ranking + boost + tie-break paths all engage
    // on this corpus's vocabulary
    searcherFor(s, d).spellCorrectJaro("qurey", n = 5, accuracy = 0.55))(
    // Jaro-Winkler reconstructed with the reference's quirks from DuckDB's
    // raw jaro_similarity: boost only at j >= 0.7, scale min(0.1, 1/maxLen)
    // (not fixed 0.1), UNCAPPED common prefix computed positionally
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term),
      |pos AS (SELECT term,
      |          unnest(range(1, least(length(term), length('qurey')) + 1)) AS i
      |        FROM df),
      |mism AS (SELECT term, min(i) AS fd FROM pos
      |         WHERE substring(term, i::INT, 1) <> substring('qurey', i::INT, 1)
      |         GROUP BY term),
      |pref AS (SELECT d.term,
      |           coalesce(m.fd - 1, least(length(d.term), length('qurey'))) AS prefix
      |         FROM df d LEFT JOIN mism m USING (term)),
      |jw AS (SELECT d.term, d.doc_freq,
      |         CASE WHEN jaro_similarity(d.term, 'qurey') < 0.7
      |              THEN jaro_similarity(d.term, 'qurey')
      |              ELSE jaro_similarity(d.term, 'qurey')
      |                + least(0.1, 1.0 / greatest(length(d.term), length('qurey')))
      |                  * p.prefix * (1 - jaro_similarity(d.term, 'qurey')) END AS sim
      |       FROM df d JOIN pref p USING (term))
      |SELECT term, round(sim, 6) AS similarity, doc_freq FROM jw
      |WHERE round(sim, 6) >= 0.55 AND term <> 'qurey'
      |ORDER BY round(sim, 6) DESC, doc_freq DESC, term ASC LIMIT 5""".stripMargin)
  exact("ft_msm_topk", bench = true)((s, d) => {
    // minimumShouldMatch=2 of three SHOULD clauses (ref BooleanQuery msm)
    val se = searcherFor(s, d)
    val q = BoolQuery(Seq("data", "query", "stream").map(t =>
      TermQuery(t) -> (Occur.Should: Occur)), minimumShouldMatch = 2)
    topKDf(se, q, 10)
  })(bm25TopK(Seq("data", "query", "stream"), "nmatch >= 2", 10))
  exact("ft_fuzzy_match", bench = true)((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    val terms = se.expandFuzzy("quer", maxEdits = 2)
    if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
    else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT DISTINCT doc_id FROM tok WHERE damerau_levenshtein(term, 'quer') <= 2
      |ORDER BY doc_id""".stripMargin)
  exact("ft_rescore")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    val q1 = se.parse("data OR query")
    val q2 = se.parse("table OR stream")
    val cand = se.topK(q1, 80)
      .orderBy(round($"score", 6).desc, $"docId".asc).limit(30).as[ScoredDoc]
    val rescored = se.rescore(cand, q2, 1.0, 2.0).as[ScoredDoc].collect()
    se.fetchDocs(rescored)
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .orderBy($"score".desc, $"doc_id".asc).limit(10)
  })(
    (bm25Ctes(Seq("data", "query", "stream", "table")) +
      """, s1 AS (
        |  SELECT doc_id, sum(s) AS score1 FROM sc WHERE term IN ('data', 'query') GROUP BY doc_id
        |), cand AS (
        |  SELECT doc_id, score1 FROM s1 ORDER BY round(score1, 6) DESC, doc_id ASC LIMIT 30
        |), s2 AS (
        |  SELECT doc_id, sum(s) AS score2 FROM sc WHERE term IN ('table', 'stream') GROUP BY doc_id
        |)
        |SELECT doc_id, round(score1 * 1.0 + coalesce(score2, 0.0) * 2.0, 6) AS score
        |FROM cand LEFT JOIN s2 USING (doc_id)
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin))
  exact("ft_hybrid_rrf", bench = true)((s, d) => {
    // hybrid lexical+vector search: BM25 top-50 for "data stream" fused
    // with the exact-cosine top-50 around the vec_id-0 embedding by
    // reciprocal-rank fusion (1/(60+rank) per leg). Rank windows run on
    // the 50-row legs only; the premise is the testdata's shared id space
    // (embeddings are keyed by document id).
    val se = searcherFor(s, d)
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lexHits = topKVerified(se, Query.parse("data stream"), 50)
    val lex = se.fetchDocs(lexHits)
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .withColumn("r", row_number().over(
        Window.orderBy($"score".desc, $"doc_id".asc)))
      .where($"r" <= 50) // topKVerified returns k + tie slack
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val qv = emb.where($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    val vec = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", qv, 50, excludeId = Some(0L))
      .select($"vec_id".as("doc_id"), $"sim")
      .withColumn("r", row_number().over(
        Window.orderBy($"sim".desc, $"doc_id".asc)))
    Similarity.rrfFuse(Seq(lex, vec), "doc_id", "r", kConst = 60, k = 10)
  })(
    (OracleSql.bm25Scored(Seq("data", "stream"), "TRUE") +
      """, lex AS (
        |  SELECT doc_id, r FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        |    FROM ranked) WHERE r <= 50),
        |emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |        FROM embeddings),
        |sims AS (SELECT e.vec_id, round(list_cosine_similarity(e.v,
        |           (SELECT v FROM emb WHERE vec_id = 0)), 4) AS sim
        |         FROM emb e WHERE e.vec_id <> 0),
        |vec AS (
        |  SELECT doc_id, r FROM (
        |    SELECT vec_id AS doc_id,
        |           row_number() OVER (ORDER BY sim DESC, vec_id) AS r
        |    FROM sims) WHERE r <= 50),
        |u AS (SELECT doc_id, 1.0 / (60 + r) AS c FROM lex
        |      UNION ALL SELECT doc_id, 1.0 / (60 + r) FROM vec),
        |f AS (SELECT doc_id, round(sum(c), 6) AS rrf FROM u GROUP BY doc_id)
        |SELECT doc_id, rrf FROM f
        |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin))
  exact("ft_not_match")((s, d) =>
    ftMatch(s, d, Query.parse("data NOT stream")))(matchIds(Seq("data", "stream"),
      s"${hasTerm("data")} AND NOT ${hasTerm("stream")}"))
  exact("ft_prefix_match")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    val terms = se.expandPrefix("qu")
    if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
    else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'qu%' ORDER BY doc_id""".stripMargin)
  exact("ft_inset_match")((s, d) =>
    ftMatch(s, d, Query.or("spark", "merge", "vector")))(matchIds(Seq("spark", "merge", "vector"),
      s"${hasTerm("spark")} OR ${hasTerm("merge")} OR ${hasTerm("vector")}"))
  exact("ft_range_match")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    val terms = se.expandRange("qa", "ri", max = 4096)
    if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
    else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT DISTINCT doc_id FROM tok WHERE term >= 'qa' AND term < 'ri'
      |ORDER BY doc_id""".stripMargin)
  exact("ft_regex_match")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    // anchored like the reference's RegexpQuery full-match automaton
    val terms = se.expandRegex("^st[a-z]*m$", max = 4096)
    if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
    else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT DISTINCT doc_id FROM tok WHERE regexp_full_match(term, 'st[a-z]*m')
      |ORDER BY doc_id""".stripMargin)
  exact("ft_wildcard_match")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    val terms = se.expandWildcard("s?ar*", max = 4096)
    if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
    else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT DISTINCT doc_id FROM tok WHERE term LIKE 's_ar%'
      |ORDER BY doc_id""".stripMargin)
  exact("ft_wildcard_lead", bench = true)((s, d) => {
    // leading wildcard (*am): no literal prefix bounds the dictionary
    // walk, so every term is checked against the pattern (ref
    // index/AutomatonTermsEnum.java with no common prefix)
    val se = searcherFor(s, d)
    import s.implicits._
    val terms = se.expandWildcard("*am", max = 4096)
    if (terms.isEmpty) Seq.empty[Long].toDF("doc_id")
    else ftMatch(s, d, BoolQuery(terms.map(t => TermQuery(t) -> (Occur.Should: Occur))))
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT DISTINCT doc_id FROM tok WHERE term LIKE '%am'
      |ORDER BY doc_id""".stripMargin)
  exact("ft_phrase_match")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    se.phraseFreqs(Seq("data", "query"))
      .toDF("docId", "phrase_freq")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"phrase_freq".cast("bigint").as("phrase_freq"))
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents)
      |SELECT a.doc_id, count(*) AS phrase_freq
      |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |WHERE a.term = 'data' AND b.term = 'query'
      |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin)
  exact("ft_phrase_topk", bench = true)((s, d) =>
    topKDf(searcherFor(s, d), PhraseQuery(Seq("data", "query")), 10)) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tokp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |                     generate_subscripts(string_split(text, ' '), 1) AS pos
       |              FROM documents),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tokp GROUP BY doc_id),
       |qlen AS (SELECT doc_id,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokp
       |       WHERE term IN ('data', 'query') GROUP BY term),
       |widf AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS w FROM df),
       |pf AS (SELECT a.doc_id, count(*)::DOUBLE AS freq
       |       FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |       WHERE a.term = 'data' AND b.term = 'query' GROUP BY a.doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM (
       |  SELECT pf.doc_id,
       |    (SELECT w FROM widf) - (SELECT w FROM widf) / (1 + pf.freq *
       |      (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
       |  FROM pf JOIN qlen ON qlen.doc_id = pf.doc_id)
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_phrase_slop", bench = true)((s, d) => {
    // sloppy phrase at slop=2 (ref search/SloppyPhraseMatcher.java —
    // ordered-window variant; see PhraseScorer)
    val se = searcherFor(s, d)
    import s.implicits._
    se.phraseFreqs(Seq("data", "query"), slop = 2)
      .toDF("docId", "sloppy_freq")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"sloppy_freq".cast("bigint").as("sloppy_freq"))
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents)
      |SELECT a.doc_id, count(*) AS sloppy_freq
      |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 3
      |WHERE a.term = 'data' AND b.term = 'query'
      |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin)
  exact("ft_classic_parse", bench = true)((s, d) => {
    // classic QueryParser syntax end to end: a sloppy quoted phrase as a
    // first-class scoring clause (PhraseScorer in the conjunction tree)
    // AND a prefix atom rewritten against the dictionary to constant
    // score (the MultiTermQuery CONSTANT_SCORE rewrite)
    val se = searcherFor(s, d)
    val q = se.parseFull("\"data query\"~1 AND tab*")
    topKDf(se, q, 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    // phrase score: tf = ordered-window freq (span <= 2 at slop 1),
    // idf = idf(data) + idf(query); +1.0 constant for the tab* clause
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |             generate_subscripts(string_split(text, ' '), 1) AS pos
       |      FROM documents),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |qlen AS (SELECT doc_id, dl,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
       |       WHERE term IN ('data', 'query') GROUP BY term),
       |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS idf
       |           FROM df),
       |pf AS (SELECT a.doc_id, count(*)::DOUBLE AS f
       |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 2
       |       WHERE a.term = 'data' AND b.term = 'query' GROUP BY a.doc_id),
       |wild AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'tab%'),
       |sc AS (SELECT pf.doc_id,
       |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
       |           (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats)))))
       |         + 1.0 AS score
       |       FROM pf JOIN wild USING (doc_id) JOIN qlen ON qlen.doc_id = pf.doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM sc
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_simple_parse")((s, d) => {
    // end-user simple syntax (ref queryparser/simple/SimpleQueryParser):
    // '+' AND binds tighter than '|' OR, '-' raises MUST_NOT into the
    // enclosing boolean — (data AND query) OR stream, excluding dup-docs
    val se = searcherFor(s, d)
    val q = se.parseSimple("data + query | stream -dup")
    topKDf(se, q, 10)
  }) {
    s"""${OracleSql.bm25Ctes(Seq("data", "query", "stream"))}, agg AS (
       |  SELECT doc_id,
       |    max(CASE WHEN term = 'data' THEN s END) AS sd,
       |    max(CASE WHEN term = 'query' THEN s END) AS sq,
       |    max(CASE WHEN term = 'stream' THEN s END) AS ss
       |  FROM sc GROUP BY doc_id
       |), scored AS (
       |  SELECT doc_id,
       |    (CASE WHEN sd IS NOT NULL AND sq IS NOT NULL
       |          THEN sd + sq ELSE 0 END + coalesce(ss, 0)) AS score,
       |    (sd IS NOT NULL AND sq IS NOT NULL) AS andmatch,
       |    (ss IS NOT NULL) AS smatch
       |  FROM agg
       |)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |WHERE (andmatch OR smatch)
       |  AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'dup')
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_field_phrase", bench = true)((s, d) => {
    // field-scoped phrase over the two-field index: per-field positions
    // (restart per field) + per-field stats/norms drive the PhraseScorer
    val se = searcherFor(s, d, Variant.Fields)
    val q = se.parse("body:\"data query\"")
    topKDf(se, q, 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    // body field = tokens 9..len; per-field stats over docs with a body;
    // phrase freq = adjacent (data, query) within the body slice
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |bfld AS (SELECT doc_id, list_slice(ts, 9, len(ts)) AS toks FROM base),
       |blen AS (SELECT doc_id, len(toks) AS dl FROM bfld),
       |bq AS (SELECT doc_id, dl,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
       |bstats AS (SELECT count(*) FILTER (dl > 0)::DOUBLE AS n,
       |                  sum(dl)::DOUBLE / count(*) FILTER (dl > 0)::DOUBLE AS avgdl
       |           FROM blen),
       |btok AS (SELECT doc_id, unnest(toks) AS term,
       |                generate_subscripts(toks, 1) AS pos FROM bfld),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM btok
       |       WHERE term IN ('data', 'query') GROUP BY term),
       |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM bstats) - df + 0.5) / (df + 0.5))) AS idf
       |           FROM df),
       |pf AS (SELECT a.doc_id, count(*)::DOUBLE AS f
       |       FROM btok a JOIN btok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |       WHERE a.term = 'data' AND b.term = 'query' GROUP BY a.doc_id),
       |sc AS (SELECT pf.doc_id,
       |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
       |           (1.0 / (1.2 * (0.25 + 0.75 * bq.qdl / (SELECT avgdl FROM bstats))))) AS score
       |       FROM pf JOIN bq ON bq.doc_id = pf.doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM sc
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_multiphrase_topk", bench = true)((s, d) => {
    // MultiPhraseQuery: 'data' followed by (query | stream) — per-slot
    // term alternation scored over merged slot positions (ref
    // search/MultiPhraseQuery.java union postings)
    val se = searcherFor(s, d)
    val q = MultiPhraseQuery(Seq(0 -> Seq("data"), 1 -> Seq("query", "stream")))
    topKDf(se, q, 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    // tf = base positions p with data@p and (query|stream)@p+1;
    // idf = idf(data) + idf(query) + idf(stream) (stats union)
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |             generate_subscripts(string_split(text, ' '), 1) AS pos
       |      FROM documents),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |qlen AS (SELECT doc_id, dl,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
       |       WHERE term IN ('data', 'query', 'stream') GROUP BY term),
       |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS idf
       |           FROM df),
       |pf AS (SELECT a.doc_id, count(DISTINCT a.pos)::DOUBLE AS f
       |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |       WHERE a.term = 'data' AND b.term IN ('query', 'stream')
       |       GROUP BY a.doc_id),
       |sc AS (SELECT pf.doc_id,
       |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
       |           (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
       |       FROM pf JOIN qlen ON qlen.doc_id = pf.doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM sc
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_surround", bench = true)((s, d) => {
    // surround query language (ref queryparser/surround): infix AND/NOT
    // over a prefix distance op — "4N(data, s*) AND table NOT slow" =
    // unordered (data, s*-expansion) within width 5, must contain table,
    // must not contain slow; the distance op runs on the intervals
    // algebra (MaxWidth over Unordered)
    val se = searcherFor(s, d)
    ftMatch(s, d, se.parseSurround("4N(data, s*) AND table NOT slow"))
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents),
      |nearset AS (SELECT DISTINCT a.doc_id
      |            FROM t a JOIN t b ON b.doc_id = a.doc_id
      |            WHERE a.term = 'data' AND b.term LIKE 's%'
      |              AND greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 <= 5)
      |SELECT DISTINCT doc_id FROM nearset
      |WHERE doc_id IN (SELECT doc_id FROM t WHERE term = 'table')
      |  AND doc_id NOT IN (SELECT doc_id FROM t WHERE term = 'slow')
      |ORDER BY doc_id""".stripMargin)
  exact("ft_complex_phrase", bench = true)((s, d) => {
    // ComplexPhraseQueryParser: wildcard and fuzzy atoms INSIDE a quoted
    // phrase (ref queryparser/complexPhrase) — "data s* quary~1" becomes
    // a 3-slot MultiPhraseQuery with the s*-prefix and 1-edit dictionary
    // expansions as slot alternations
    val se = searcherFor(s, d)
    val q = se.parseComplexPhrase("data s* quary~1")
    topKDf(se, q, 10)
  }) {
    // complex phrase: slot expansions derived in SQL from the same corpus
    // vocabulary (prefix LIKE, levenshtein<=1 — no adjacent-transposition
    // terms exist for 'quary', so Damerau == Levenshtein here); BM25 with
    // idf summed over every expanded term, tf = distinct phrase starts
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |             generate_subscripts(string_split(text, ' '), 1) AS pos
       |      FROM documents),
       |exp2 AS (SELECT DISTINCT term FROM tok WHERE term LIKE 's%'),
       |exp3 AS (SELECT DISTINCT term FROM tok
       |         WHERE levenshtein(term, 'quary') <= 1),
       |qterms AS (SELECT 'data' AS term UNION SELECT term FROM exp2
       |           UNION SELECT term FROM exp3),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |qlen AS (SELECT doc_id, dl,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
       |df AS (SELECT tok.term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
       |       JOIN qterms q ON q.term = tok.term GROUP BY tok.term),
       |idfsum AS (SELECT sum(ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))) AS idf
       |           FROM df),
       |pf AS (SELECT a.doc_id, count(DISTINCT a.pos)::DOUBLE AS f
       |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |                JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
       |       WHERE a.term = 'data' AND b.term IN (SELECT term FROM exp2)
       |         AND c.term IN (SELECT term FROM exp3)
       |       GROUP BY a.doc_id),
       |sc AS (SELECT pf.doc_id,
       |         (SELECT idf FROM idfsum) - (SELECT idf FROM idfsum) / (1 + pf.f *
       |           (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS score
       |       FROM pf JOIN qlen ON qlen.doc_id = pf.doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM sc
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_interval_topk", bench = true)((s, d) => {
    // SCORED interval query (ref queries/intervals/IntervalQuery):
    // saturation of the sloppy interval frequency, f/(f+1) with
    // f = sum 1/max(len-minExtent+1, 1) over minimal intervals
    val se = searcherFor(s, d)
    import graft.search.Intervals.{MaxWidth, Term, Unordered}
    val q = IntervalQuery(MaxWidth(Unordered(Seq(Term("data"), Term("query"))), 8))
    topKDf(se, q, 10)
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |             generate_subscripts(string_split(text, ' '), 1) AS pos
      |      FROM documents),
      |a AS (SELECT doc_id, pos FROM t WHERE term = 'data'),
      |b AS (SELECT doc_id, pos FROM t WHERE term = 'query'),
      |iv AS (SELECT DISTINCT a.doc_id, least(a.pos, b.pos) AS s,
      |              greatest(a.pos, b.pos) AS e
      |       FROM a JOIN b ON b.doc_id = a.doc_id),
      |mini AS (SELECT i.doc_id, i.s, i.e FROM iv i WHERE NOT EXISTS (
      |          SELECT 1 FROM iv j WHERE j.doc_id = i.doc_id
      |            AND j.s >= i.s AND j.e <= i.e AND (j.s <> i.s OR j.e <> i.e))),
      |fil AS (SELECT * FROM mini WHERE e - s + 1 <= 8),
      |fr AS (SELECT doc_id, sum(1.0 / greatest(e - s, 1)) AS f
      |       FROM fil GROUP BY doc_id)
      |SELECT doc_id, round(f / (f + 1), 6) AS score FROM fr
      |ORDER BY round(f / (f + 1), 6) DESC, doc_id ASC LIMIT 10""".stripMargin)
  exact("ft_automaton_topk", bench = true)((s, d) => {
    // TermAutomatonQuery (ref sandbox/search/TermAutomatonQuery.java):
    // NFA accepting the token paths "data stream" and "data ANY stream",
    // compiled onto the intervals algebra (paths → contiguous phrases,
    // ANY → position gap, union Or-minimized) and scored as an
    // IntervalQuery
    val se = searcherFor(s, d)
    val ta = new graft.search.TermAutomaton
    val s1 = ta.createState(); val s2 = ta.createState(); val s3 = ta.createState()
    ta.addTransition(0, s1, "data")
    ta.addTransition(s1, s3, "stream")
    ta.addAnyTransition(s1, s2)
    ta.addTransition(s2, s3, "stream")
    ta.setAccept(s3)
    val q = IntervalQuery(ta.toIntervals())
    topKDf(se, q, 10)
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |             generate_subscripts(string_split(text, ' '), 1) AS pos
      |      FROM documents),
      |a AS (SELECT doc_id, pos FROM t WHERE term = 'data'),
      |b AS (SELECT doc_id, pos FROM t WHERE term = 'stream'),
      |iv AS (SELECT DISTINCT a.doc_id, a.pos AS s, b.pos AS e
      |       FROM a JOIN b ON b.doc_id = a.doc_id
      |        AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)),
      |mini AS (SELECT i.doc_id, i.s, i.e FROM iv i WHERE NOT EXISTS (
      |          SELECT 1 FROM iv j WHERE j.doc_id = i.doc_id
      |            AND j.s >= i.s AND j.e <= i.e AND (j.s <> i.s OR j.e <> i.e))),
      |fr AS (SELECT doc_id, sum(1.0 / greatest(e - s, 1)) AS f
      |       FROM mini GROUP BY doc_id)
      |SELECT doc_id, round(f / (f + 1), 6) AS score FROM fr
      |ORDER BY round(f / (f + 1), 6) DESC, doc_id ASC LIMIT 10""".stripMargin)
  exact("ft_near_topk", bench = true)((s, d) => {
    // interval query: unordered near(data, query) within a width-8 window
    // (ref queries/intervals/Intervals.java), ranked by best proximity —
    // min_width is identical over minimal intervals and over all pairs,
    // so DuckDB reproduces it independently
    val se = searcherFor(s, d)
    import s.implicits._
    import graft.search.Intervals._
    se.intervalHits(MaxWidth(Unordered(Seq(Term("data"), Term("query"))), 8))
      .toDF("docId", "n", "minWidth")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"minWidth".cast("bigint").as("min_width"))
      .orderBy($"min_width".asc, $"doc_id".asc).limit(15)
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents),
      |p AS (SELECT a.doc_id,
      |             greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 AS w
      |      FROM t a JOIN t b ON b.doc_id = a.doc_id
      |      WHERE a.term = 'data' AND b.term = 'query'
      |        AND greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 <= 8)
      |SELECT doc_id, min(w)::BIGINT AS min_width FROM p GROUP BY doc_id
      |ORDER BY min_width ASC, doc_id ASC LIMIT 15""".stripMargin)
  exact("ft_near_ordered")((s, d) => {
    // ordered near: 'data' before 'stream' within a width-10 window
    val se = searcherFor(s, d)
    import s.implicits._
    import graft.search.Intervals._
    se.intervalHits(MaxWidth(Ordered(Seq(Term("data"), Term("stream"))), 10))
      .toDF("docId", "n", "minWidth")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url")).distinct()
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents)
      |SELECT DISTINCT a.doc_id AS doc_id
      |FROM t a JOIN t b ON b.doc_id = a.doc_id
      |WHERE a.term = 'data' AND b.term = 'stream'
      |  AND b.pos > a.pos AND b.pos - a.pos + 1 <= 10
      |ORDER BY 1""".stripMargin)
  exact("ft_near_prefix", bench = true)((s, d) => {
    // multi-term interval source: unordered near(data, quer*) within a
    // width-8 window (ref Intervals.java prefix() — dictionary-expanded
    // OR source), ranked by best proximity
    val se = searcherFor(s, d)
    import s.implicits._
    import graft.search.Intervals._
    se.intervalHits(MaxWidth(Unordered(Seq(Term("data"), se.intervalPrefix("quer"))), 8))
      .toDF("docId", "n", "minWidth")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"minWidth".cast("bigint").as("min_width"))
      .orderBy($"min_width".asc, $"doc_id".asc).limit(15)
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents),
      |p AS (SELECT a.doc_id,
      |             greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 AS w
      |      FROM t a JOIN t b ON b.doc_id = a.doc_id
      |      WHERE a.term = 'data' AND b.term LIKE 'quer%'
      |        AND greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 <= 8)
      |SELECT doc_id, min(w)::BIGINT AS min_width FROM p GROUP BY doc_id
      |ORDER BY min_width ASC, doc_id ASC LIMIT 15""".stripMargin)
  exact("ft_near_phrase")((s, d) => {
    // composed intervals: near(phrase(data query), stream) within width 12
    // — the combinator nesting a flat sloppy phrase cannot express
    val se = searcherFor(s, d)
    import s.implicits._
    import graft.search.Intervals._
    se.intervalHits(MaxWidth(Unordered(Seq(
        Phrase(Seq(Term("data"), Term("query"))), Term("stream"))), 12))
      .toDF("docId", "n", "minWidth")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url")).distinct()
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents),
      |ph AS (SELECT a.doc_id, a.pos AS s, b.pos AS e
      |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |       WHERE a.term = 'data' AND b.term = 'query'),
      |c AS (SELECT doc_id, pos FROM t WHERE term = 'stream')
      |SELECT DISTINCT ph.doc_id AS doc_id
      |FROM ph JOIN c ON c.doc_id = ph.doc_id
      |WHERE greatest(ph.e, c.pos) - least(ph.s, c.pos) + 1 <= 12
      |ORDER BY 1""".stripMargin)
  exact("ft_near_not")((s, d) => {
    // negated interval: unordered(data, stream) windows within width 8
    // that do NOT contain 'query' (ref Intervals.notContaining) — the
    // oracle reproduces minimal-interval semantics via an anti-nesting
    // pair filter
    val se = searcherFor(s, d)
    import s.implicits._
    import graft.search.Intervals._
    se.intervalHits(NotContaining(
        MaxWidth(Unordered(Seq(Term("data"), Term("stream"))), 8), Term("query")))
      .toDF("docId", "n", "minWidth")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url")).distinct()
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents),
      |pairs AS (SELECT a.doc_id, least(a.pos, b.pos) AS s,
      |                 greatest(a.pos, b.pos) AS e
      |          FROM t a JOIN t b ON b.doc_id = a.doc_id
      |          WHERE a.term = 'data' AND b.term = 'stream'),
      |minimal AS (SELECT DISTINCT p.doc_id, p.s, p.e FROM pairs p
      |            WHERE NOT EXISTS (SELECT 1 FROM pairs q
      |                              WHERE q.doc_id = p.doc_id
      |                                AND q.s >= p.s AND q.e <= p.e
      |                                AND (q.s > p.s OR q.e < p.e)))
      |SELECT DISTINCT m.doc_id AS doc_id FROM minimal m
      |WHERE m.e - m.s + 1 <= 8
      |  AND NOT EXISTS (SELECT 1 FROM t c
      |                  WHERE c.doc_id = m.doc_id AND c.term = 'query'
      |                    AND c.pos BETWEEN m.s AND m.e)
      |ORDER BY 1""".stripMargin)
  exact("ft_near_before")((s, d) => {
    // positional ordering constraint (ref Intervals.before): unordered
    // (data, stream) windows within width 8 that end before a later
    // 'query' occurrence
    val se = searcherFor(s, d)
    import s.implicits._
    import graft.search.Intervals._
    se.intervalHits(Before(
        MaxWidth(Unordered(Seq(Term("data"), Term("stream"))), 8), Term("query")))
      .toDF("docId", "n", "minWidth")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url")).distinct()
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |                  generate_subscripts(string_split(text, ' '), 1) AS pos
      |           FROM documents),
      |pairs AS (SELECT a.doc_id, least(a.pos, b.pos) AS s,
      |                 greatest(a.pos, b.pos) AS e
      |          FROM t a JOIN t b ON b.doc_id = a.doc_id
      |          WHERE a.term = 'data' AND b.term = 'stream'),
      |minimal AS (SELECT DISTINCT p.doc_id, p.s, p.e FROM pairs p
      |            WHERE NOT EXISTS (SELECT 1 FROM pairs q
      |                              WHERE q.doc_id = p.doc_id
      |                                AND q.s >= p.s AND q.e <= p.e
      |                                AND (q.s > p.s OR q.e < p.e)))
      |SELECT DISTINCT m.doc_id AS doc_id FROM minimal m
      |WHERE m.e - m.s + 1 <= 8
      |  AND EXISTS (SELECT 1 FROM t c
      |              WHERE c.doc_id = m.doc_id AND c.term = 'query'
      |                AND c.pos > m.e)
      |ORDER BY 1""".stripMargin)
  exact("ft_sort_topk")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    // TopFieldCollector semantics: hits of a query ordered by a stored
    // field (doc length) instead of relevance
    ftMatch(s, d, Query.parse("data AND query"))
      .join(se.docsTable
        .select(docIdOf($"url"), $"length".cast("bigint").as("dl")), "doc_id")
      .orderBy($"dl".desc, $"doc_id".asc)
      .limit(15)
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
       |SELECT doc_id, dl FROM dlen
       |WHERE ${hasTerm("data")} AND ${hasTerm("query")}
       |ORDER BY dl DESC, doc_id ASC LIMIT 15""".stripMargin)
  exact("ft_counts")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    Seq(
      ("q_spark", se.count(TermQuery("spark"))),
      ("q_and", se.count(Query.parse("data AND query"))),
      ("q_not", se.count(Query.parse("data NOT stream")))
    ).toDF("qid", "cnt").orderBy($"qid")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |d AS (SELECT DISTINCT doc_id FROM documents)
       |SELECT 'q_and' AS qid, (SELECT count(*) FROM d WHERE ${hasTerm("data")} AND ${hasTerm("query")}) AS cnt
       |UNION ALL
       |SELECT 'q_not', (SELECT count(*) FROM d WHERE ${hasTerm("data")} AND NOT ${hasTerm("stream")})
       |UNION ALL
       |SELECT 'q_spark', (SELECT count(*) FROM d WHERE ${hasTerm("spark")})
       |ORDER BY qid""".stripMargin)
  exact("ft_termstats")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    IndexSearcher.byDocFreq(se.dictTerms()).take(20)
      .map(t => (t.term, t.docFreq, t.totalTermFreq))
      .toDF("term", "doc_freq", "total_term_freq")
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_term_freq
      |FROM tok GROUP BY term ORDER BY doc_freq DESC, term ASC LIMIT 20""".stripMargin)
  exact("ft_norms")((s, d) => {
    val se = searcherFor(s, d)
    import s.implicits._
    // decode the stored norm byte back to the quantized length via the
    // SmallFloat table folded into the plan as an array literal
    val table = array(graft.codec.SmallFloat.lengthTable.map(v => lit(v.toLong)): _*)
    se.docsTable
      .select(docIdOf($"url"), $"length".cast("bigint").as("dl"),
        element_at(table, $"norm" + 1).as("qdl"))
      .orderBy($"doc_id")
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
       |SELECT doc_id, dl,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl
       |FROM dlen ORDER BY doc_id""".stripMargin
  }
  exact("ft_searchafter")((s, d) => {
    import s.implicits._
    val full = ftTopK(s, d, "data OR query OR stream", 30)
    import org.apache.spark.sql.expressions.Window
    // constant-valued partition key (non-foldable): the window input is
    // the k=30 hit list (top-k collector output), provably bounded — the
    // explicit single group documents that and avoids the
    // unpartitioned-window warning
    val w = Window.partitionBy(pmod($"doc_id", lit(1L)))
      .orderBy($"score".desc, $"doc_id".asc)
    full.withColumn("rn", row_number().over(w))
      .where($"rn" > 10 && $"rn" <= 20)
      .select($"doc_id", $"score")
  })(
    (bm25Scored(Seq("data", "query", "stream"), "TRUE") +
      """
        |SELECT doc_id, score FROM (
        |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
        |  FROM ranked
        |) WHERE rn > 10 AND rn <= 20""".stripMargin))
  exact("ft_facet_source")((s, d) => {
    import s.implicits._
    val m = ftMatch(s, d, Query.parse("data OR query"))
    m.join(docsDf(s, d), "doc_id")
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .orderBy($"source")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents
       |      WHERE ${hasTerm("data")} OR ${hasTerm("query")})
       |SELECT d.source, count(*) AS n_docs FROM m JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin)
  exact("ft_facet_sampled")((s, d) => {
    // sampled facet counts (ref facet/RandomSamplingFacetsCollector):
    // a deterministic hashed 25% sample of the matching docs, counts
    // scaled back by 1/fraction — at 100 TB the facet pass touches a
    // quarter of the hit list for ~2% relative error on big counts
    import s.implicits._
    ftMatch(s, d, Query.parse("data OR query"))
      .where(graft.pipeline.Sampling.hashBucket($"doc_id", 100) < 25)
      .join(docsDf(s, d), "doc_id")
      .groupBy($"source").agg((count(lit(1)) * 4).cast("bigint").as("est_count"))
      .orderBy($"source")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents
       |      WHERE ${hasTerm("data")} OR ${hasTerm("query")}),
       |sampled AS (SELECT doc_id FROM m
       |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 25)
       |SELECT d.source, (count(*) * 4)::BIGINT AS est_count
       |FROM sampled JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin)
  exact("ft_facet_assoc")((s, d) => {
    // association facets (ref TaxonomyFacetIntAssociations): sum each
    // matching doc's n_chars under every prefix of its source/lang path
    import s.implicits._
    val j = ftMatch(s, d, Query.parse("data OR query"))
      .join(docsDf(s, d), "doc_id")
    graft.search.Facets
      .taxonomyAssociations(j, array($"source", $"lang"),
        $"n_chars".cast("long"))
      .orderBy($"path")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents
       |      WHERE ${hasTerm("data")} OR ${hasTerm("query")}),
       |j AS (SELECT d.source, d.lang, d.n_chars
       |      FROM m JOIN documents d USING (doc_id)),
       |pref AS (
       |  SELECT source AS path, n_chars FROM j
       |  UNION ALL
       |  SELECT source || '/' || lang AS path, n_chars FROM j)
       |SELECT path, sum(n_chars)::BIGINT AS sum_assoc, count(*) AS n_docs
       |FROM pref GROUP BY path ORDER BY path""".stripMargin)
  exact("ft_highlight")((s, d) => {
    // highlighter module: snippet = window around the first hit term in
    // the stored text of matching docs
    import s.implicits._
    ftMatch(s, d, Query.parse("data"))
      .orderBy($"doc_id").limit(20)
      .join(docsDf(s, d).select($"doc_id", $"text"), "doc_id")
      .select($"doc_id", TextOps.snippet($"text", "data", 2).as("snippet"))
      .orderBy($"doc_id")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents
       |      WHERE ${hasTerm("data")}) ORDER BY doc_id LIMIT 20)
       |SELECT m.doc_id,
       |  array_to_string(
       |    list_slice(string_split(d.text, ' '),
       |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2),
       |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2) + 4),
       |    ' ') AS snippet
       |FROM m JOIN documents d USING (doc_id) ORDER BY m.doc_id""".stripMargin)
  exact("ft_highlight_best", bench = true)((s, d) => {
    // best-passage highlighter: window with the most query-term hits
    // (ref UnifiedHighlighter passage selection), not just the first hit
    import s.implicits._
    ftMatch(s, d, Query.parse("data AND query"))
      .orderBy($"doc_id").limit(20)
      .join(docsDf(s, d).select($"doc_id", $"text"), "doc_id")
      .select($"doc_id",
        TextOps.bestSnippet($"text", Seq("data", "query"), 7).as("snippet"))
      .orderBy($"doc_id")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tokp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |                generate_subscripts(string_split(text, ' '), 1) AS pos
       |         FROM documents),
       |m AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents
       |      WHERE ${hasTerm("data")} AND ${hasTerm("query")}) ORDER BY doc_id LIMIT 20),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tokp GROUP BY doc_id),
       |hits AS (SELECT t.doc_id, t.pos FROM tokp t JOIN m USING (doc_id)
       |         WHERE t.term IN ('data', 'query')),
       |starts AS (SELECT m.doc_id, unnest(generate_series(1, greatest(1, d.dl - 6))) AS i
       |           FROM m JOIN dlen d USING (doc_id)),
       |counts AS (SELECT s.doc_id, s.i, count(h.pos) AS c
       |           FROM starts s LEFT JOIN hits h
       |             ON h.doc_id = s.doc_id AND h.pos >= s.i AND h.pos < s.i + 7
       |           GROUP BY s.doc_id, s.i),
       |best AS (SELECT doc_id, min(i) AS i FROM (
       |           SELECT doc_id, i, c, max(c) OVER (PARTITION BY doc_id) AS mc
       |           FROM counts) WHERE c = mc AND mc > 0 GROUP BY doc_id)
       |SELECT b.doc_id,
       |  array_to_string(list_slice(string_split(d.text, ' '), b.i, b.i + 6), ' ') AS snippet
       |FROM best b JOIN documents d ON d.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin)
  exact("ft_highlight_offsets", bench = true)((s, d) => {
    // offset-based highlighter (ref uhighlight/UnifiedHighlighter.java
    // OffsetSource.POSTINGS): hit spans come from offset postings — a
    // pushed point lookup per term — and snippet extraction touches only
    // O(snippet) chars around the span; the stored text is never
    // re-tokenized. Output identical to ft_highlight's re-analysis path.
    val se = searcherFor(s, d, Variant.Offs)
    import s.implicits._
    val hits = se.matchingCached(TermQuery("data")).toDF("docId")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select($"docId", docIdOf($"url"))
      .orderBy($"doc_id").limit(20)
      .as[(Long, Long)].collect()
    val offs = se.offsetsForDocs("data", hits.map(_._1).toSeq)
    val texts = docsDf(s, d)
      .where($"doc_id".isin(hits.map(_._2).toSeq: _*))
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    hits.toSeq.map { case (engId, docId) =>
      val o = offs(engId) // first occurrence = first (start, end) pair
      (docId, TextOps.snippetByOffset(texts(docId), o(0), o(1), 2))
    }.toDF("doc_id", "snippet").orderBy($"doc_id")
  })(// offset path must equal the re-analysis path
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |m AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents
         |      WHERE ${hasTerm("data")}) ORDER BY doc_id LIMIT 20)
         |SELECT m.doc_id,
         |  array_to_string(
         |    list_slice(string_split(d.text, ' '),
         |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2),
         |      greatest(1, list_position(string_split(d.text, ' '), 'data') - 2) + 4),
         |    ' ') AS snippet
         |FROM m JOIN documents d USING (doc_id) ORDER BY m.doc_id""".stripMargin)
  exact("ft_parent_join")((s, d) => {
    // ToParentBlockJoin re-expression (ref lucene/join
    // ToParentBlockJoinQuery, ScoreMode.Max): children = docs grouped
    // under their source parent; a parent scores as the max of its
    // matching children, carrying the child count
    val se = searcherFor(s, d)
    import s.implicits._
    val scored = se.scoreMatches(se.parse("data OR query"))
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
    graft.search.BlockJoin
      .parentScores(scored, "source", graft.search.BlockJoin.ScoreMode.Max)
      .orderBy($"parent_score".desc, $"source".asc)
      .limit(5)
  })(
    (bm25Scored(Seq("data", "query"), "TRUE") +
      """
        |SELECT d.source, max(r.score) AS parent_score, count(*) AS n_children
        |FROM ranked r JOIN documents d USING (doc_id)
        |GROUP BY d.source
        |ORDER BY parent_score DESC, d.source ASC LIMIT 5""".stripMargin))
  exact("ft_parent_join_avg", bench = true)((s, d) => {
    // the same block-join shape under ScoreMode.Avg (ref join/ScoreMode
    // .java Avg): a parent scores as the MEAN of its matching children
    val se = searcherFor(s, d)
    import s.implicits._
    val scored = se.scoreMatches(se.parse("data OR query"))
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
    graft.search.BlockJoin
      .parentScores(scored, "source", graft.search.BlockJoin.ScoreMode.Avg)
      .orderBy($"parent_score".desc, $"source".asc)
      .limit(5)
  })(
    (bm25Scored(Seq("data", "query"), "TRUE") +
      """
        |SELECT d.source, round(avg(r.score), 6) AS parent_score, count(*) AS n_children
        |FROM ranked r JOIN documents d USING (doc_id)
        |GROUP BY d.source
        |ORDER BY parent_score DESC, d.source ASC LIMIT 5""".stripMargin))
  exact("ft_child_join", bench = true)((s, d) => {
    // ToChildBlockJoin re-expression (ref lucene/join
    // ToChildBlockJoinQuery): parents matched by the query (parent score
    // = max of matching children) fan back out to ALL their children,
    // each child carrying its parent's score
    val se = searcherFor(s, d)
    import s.implicits._
    val childScores = se.scoreMatches(se.parse("data AND query"))
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"score")
    val topParents = childScores
      .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(round(max($"score"), 6).as("parent_score"))
      .orderBy($"parent_score".desc, $"source".asc)
      .limit(3)
    docsDf(s, d).select($"doc_id", $"source")
      .join(broadcast(topParents), "source")
      .select($"doc_id", $"parent_score")
      .orderBy($"doc_id")
  })(
    (bm25Ctes(Seq("data", "query")) +
      """, scored AS (
        |  SELECT doc_id, sum(s) AS score, count(*) AS nmatch FROM sc GROUP BY doc_id
        |), m AS (
        |  SELECT doc_id, score FROM scored WHERE nmatch = 2
        |), p AS (
        |  SELECT d.source, round(max(m.score), 6) AS parent_score
        |  FROM m JOIN documents d USING (doc_id) GROUP BY d.source
        |  ORDER BY parent_score DESC, d.source ASC LIMIT 3
        |)
        |SELECT d.doc_id, p.parent_score
        |FROM documents d JOIN p ON d.source = p.source
        |ORDER BY d.doc_id""".stripMargin))
  exact("ft_distance_rank")((s, d) => {
    // distance feature (ref document/LongField.newDistanceFeatureQuery /
    // search/LongDistanceFeatureQuery): boost docs whose numeric value
    // is near an origin — score = text + w * pivot/(pivot + |v - origin|)
    val se = searcherFor(s, d)
    import s.implicits._
    val scored = se.scoreMatches(se.parse("data OR query"))
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"score")
    scored.join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
      .select($"doc_id",
        round($"score" + lit(0.6) * (lit(200.0) /
          (lit(200.0) + abs($"n_chars" - 500).cast("double"))), 6).as("rank"))
      .orderBy($"rank".desc, $"doc_id".asc)
      .limit(15)
  })(
    (bm25Ctes(Seq("data", "query")) +
      """, scored AS (
        |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
        |)
        |SELECT doc_id,
        |  round(score + 0.6 * (200.0 / (200.0 + abs(n_chars - 500)::DOUBLE)), 6) AS rank
        |FROM scored JOIN documents USING (doc_id)
        |ORDER BY rank DESC, doc_id ASC LIMIT 15""".stripMargin))
  exact("ft_expr_rank")((s, d) => {
    // expressions module re-expression: a scalar ranking formula over
    // (score, doc-value) columns — Catalyst codegen instead of the
    // reference's compiled JS expressions (lucene/expressions)
    val se = searcherFor(s, d)
    import s.implicits._
    val scored = se.scoreMatches(se.parse("data OR query"))
      .join(se.docsTable.select($"docId", $"url", $"length"), "docId")
    scored
      .select(docIdOf($"url"),
        round($"score" * 0.7 + log(lit(1.0) + $"length".cast("double")) * 0.3, 6)
          .as("rank_expr"))
      .orderBy($"rank_expr".desc, $"doc_id".asc)
      .limit(15)
  })(
    (bm25Ctes(Seq("data", "query")) +
      """, scored AS (
        |  SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
        |)
        |SELECT doc_id, round(score * 0.7 + ln(1 + dl) * 0.3, 6) AS rank_expr
        |FROM scored JOIN dlen USING (doc_id)
        |ORDER BY round(score * 0.7 + ln(1 + dl) * 0.3, 6) DESC, doc_id ASC
        |LIMIT 15""".stripMargin))
  exact("ft_suggest")((s, d) => {
    // suggest module re-expression: prefix autocomplete ranked by docFreq
    // (ref lucene/suggest FST lookups -> sorted-dictionary prefix walk)
    val se = searcherFor(s, d)
    import s.implicits._
    IndexSearcher.byDocFreq(se.specTerms(MultiTerm.Prefix("st"))).take(10)
      .map(t => (t.term, t.docFreq)).toDF("term", "doc_freq")
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
      |WHERE term LIKE 'st%' GROUP BY term
      |ORDER BY doc_freq DESC, term ASC LIMIT 10""".stripMargin)
  exact("ft_suggest_weighted", bench = true)((s, d) => {
    // weighted completion suggest (ref suggest/analyzing/
    // AnalyzingSuggester.java FST weight outputs): rank by a curated
    // per-term weight table, docFreq only as tiebreak. The weight table
    // here is collection frequency over the prefix's completions — a
    // deterministic stand-in for a curated completions list.
    import s.implicits._
    val weights = docsDf(s, d)
      .select(explode(split($"text", " ")).as("term"))
      .where($"term".startsWith("st"))
      .groupBy($"term").agg(count(lit(1)).as("weight"))
    searcherFor(s, d).suggestWeighted("st", weights, 10)
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |w AS (SELECT term, count(*) AS weight FROM tok WHERE term LIKE 'st%' GROUP BY term),
      |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
      |       WHERE term LIKE 'st%' GROUP BY term)
      |SELECT df.term, coalesce(w.weight, 0)::BIGINT AS weight, df.doc_freq
      |FROM df LEFT JOIN w USING (term)
      |ORDER BY weight DESC, doc_freq DESC, term ASC LIMIT 10""".stripMargin)
  exact("ft_suggest_context", bench = true)((s, d) => {
    // context-filtered completion (ref suggest/document/
    // ContextSuggestField + ContextQuery): completions carry context
    // labels (here: parity of the term's collection frequency — a
    // deterministic stand-in for per-tenant/per-category contexts);
    // only the accepted context competes, best accepted weight wins
    import s.implicits._
    val weights = docsDf(s, d)
      .select(explode(split($"text", " ")).as("term"))
      .where($"term".startsWith("s"))
      .groupBy($"term").agg(count(lit(1)).as("weight"))
      .select($"term", $"weight",
        when($"weight" % 2 === 0, lit("even")).otherwise(lit("odd"))
          .as("context"))
    searcherFor(s, d).suggestWithContexts("s", weights, Set("even"), 10)
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |w AS (SELECT term, count(*) AS weight FROM tok WHERE term LIKE 's%' GROUP BY term),
      |acc AS (SELECT term, max(weight) AS weight FROM w WHERE weight % 2 = 0 GROUP BY term),
      |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
      |       WHERE term LIKE 's%' GROUP BY term)
      |SELECT df.term, acc.weight::BIGINT AS weight, df.doc_freq
      |FROM df JOIN acc USING (term)
      |ORDER BY weight DESC, doc_freq DESC, term ASC LIMIT 10""".stripMargin)
  exact("ft_suggest_freetext")((s, d) =>
    // free-text next-word suggestion (ref suggest/analyzing/
    // FreeTextSuggester.java): bigram-LM continuations of 'data'
    TextOps.nextWordSuggest(docsDf(s, d), "text", "data", 10))(
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM t),
      |b AS (SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS nw FROM w)
      |SELECT nw AS suggestion, count(*) AS freq FROM b
      |WHERE w = 'data' AND nw IS NOT NULL
      |GROUP BY nw ORDER BY freq DESC, suggestion ASC LIMIT 10""".stripMargin)
  exact("ft_fuzzy_suggest")((s, d) => {
    // fuzzy-prefix autocomplete (ref suggest/analyzing/FuzzySuggester):
    // 'sca' -> completions of any prefix within 1 Damerau edit
    // (scan exact, small via c->m, spark via c->p)
    searcherFor(s, d).fuzzySuggest("sca", maxEdits = 1, n = 10)
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term)
      |SELECT term, doc_freq FROM df
      |WHERE term LIKE 's%'
      |  AND (damerau_levenshtein('sca', substring(term, 1, 2)) <= 1
      |    OR damerau_levenshtein('sca', substring(term, 1, 3)) <= 1
      |    OR damerau_levenshtein('sca', substring(term, 1, 4)) <= 1)
      |ORDER BY doc_freq DESC, term ASC LIMIT 10""".stripMargin)
  exact("ft_knn_classify")((s, d) => {
    // classification module re-expression (KNearestNeighborClassifier):
    // BM25 top-k neighbors of the query text vote by their source label
    val se = searcherFor(s, d)
    import s.implicits._
    val cand = se.topK(se.parse("data OR query OR stream"), 80)
      .orderBy(round($"score", 6).desc, $"docId".asc).limit(25)
      .as[ScoredDoc].collect()
    se.fetchDocs(cand)
      .select(docIdOf($"url"))
      .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
      .groupBy($"source").agg(count(lit(1)).as("votes"))
      .orderBy($"votes".desc, $"source".asc)
  })(
    (bm25Scored(Seq("data", "query", "stream"), "TRUE") +
      """, knn AS (
        |  SELECT doc_id FROM ranked ORDER BY score DESC, doc_id ASC LIMIT 25
        |)
        |SELECT d.source, count(*) AS votes
        |FROM knn JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY votes DESC, d.source ASC""".stripMargin))
  exact("ft_drill_sideways")((s, d) => {
    // facets drill-sideways (ref lucene/facet DrillSideways): for each
    // dimension, count facet values applying every OTHER dimension's
    // drill-down filter but not its own
    import s.implicits._
    val m = ftMatch(s, d, Query.parse("data"))
      .join(docsDf(s, d).select($"doc_id", $"source", $"lang"), "doc_id")
    val bySource = m.where($"lang" === "en")
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .select(lit("source").as("dim"), $"source".as("value"), $"n")
    val byLang = m.where($"source" === "src3")
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .select(lit("lang").as("dim"), $"lang".as("value"), $"n")
    bySource.unionByName(byLang).orderBy($"dim", $"value")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
       |j AS (SELECT m.doc_id, d.source, d.lang FROM m JOIN documents d USING (doc_id))
       |SELECT 'lang' AS dim, lang AS value, count(*) AS n FROM j
       |WHERE source = 'src3' GROUP BY lang
       |UNION ALL
       |SELECT 'source', source, count(*) FROM j WHERE lang = 'en' GROUP BY source
       |ORDER BY dim, value""".stripMargin)
  exact("ft_group_top2", bench = true)((s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val se = searcherFor(s, d)
    val q = se.parse("data OR query")
    val scored = se.scoreMatches(q)
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), round($"score", 6).as("score"))
    val withSrc = scored.join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"doc_id".asc)
    withSrc.withColumn("rank", row_number().over(w))
      .where($"rank" <= 2)
      .select($"source", $"rank", $"doc_id", $"score")
      .orderBy($"source", $"rank")
  })(
    (bm25Scored(Seq("data", "query"), "TRUE") +
      """
        |SELECT source, rank, doc_id, score FROM (
        |  SELECT d.source, r.doc_id, r.score,
        |         row_number() OVER (PARTITION BY d.source ORDER BY r.score DESC, r.doc_id ASC) AS rank
        |  FROM ranked r JOIN documents d USING (doc_id)
        |) WHERE rank <= 2 ORDER BY source, rank""".stripMargin))
  exact("ft_group_distinct")((s, d) => {
    // distinct-values grouping (ref grouping/DistinctValuesCollector.java
    // two-pass shape): first pass picks the top groups by best hit score,
    // second counts DISTINCT values of another field over each group's
    // match set — both passes are one agg each, no per-group state
    import s.implicits._
    val se = searcherFor(s, d)
    val scored = se.scoreMatches(se.parse("data OR query"))
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .join(docsDf(s, d).select($"doc_id", $"source", $"lang"), "doc_id")
    val top = scored.groupBy($"source")
      .agg(max($"score").as("best"))
      .orderBy($"best".desc, $"source".asc).limit(3)
    scored.join(broadcast(top), "source")
      .groupBy($"source", $"best")
      .agg(countDistinct($"lang").as("n_langs"), count(lit(1)).as("n_hits"))
      .select($"source", $"best", $"n_langs", $"n_hits")
      .orderBy($"source")
  })(
    (bm25Scored(Seq("data", "query"), "TRUE") +
      """
        |, top AS (
        |  SELECT d.source, max(r.score) AS best
        |  FROM ranked r JOIN documents d USING (doc_id)
        |  GROUP BY d.source ORDER BY best DESC, source ASC LIMIT 3)
        |SELECT t.source, t.best, count(DISTINCT d.lang) AS n_langs,
        |       count(*) AS n_hits
        |FROM ranked r JOIN documents d USING (doc_id)
        |JOIN top t ON d.source = t.source
        |GROUP BY t.source, t.best ORDER BY t.source""".stripMargin))
  exact("ft_diversified_topk", bench = true)((s, d) => {
    // diversified top-k (ref lucene/misc DiversifiedTopDocsCollector.java:
    // global top-k with at most maxHitsPerKey hits per key): declaratively,
    // a hit survives iff it is among its key's maxHitsPerKey best by the
    // collector's (score desc, docId asc) order, then the global top-k of
    // the survivors — one keyed window + one TakeOrderedAndProject, no
    // per-key driver state
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val se = searcherFor(s, d)
    val scored = se.scoreMatches(se.parse("data OR query OR stream"))
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .join(docsDf(s, d).select($"doc_id", $"source"), "doc_id")
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"doc_id".asc)
    scored.withColumn("krank", row_number().over(w))
      .where($"krank" <= 2)
      .select($"doc_id", $"source", $"score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(10)
  })(
    (bm25Scored(Seq("data", "query", "stream"), "TRUE") +
      """
        |SELECT doc_id, source, score FROM (
        |  SELECT r.doc_id, d.source, r.score,
        |         row_number() OVER (PARTITION BY d.source ORDER BY r.score DESC, r.doc_id ASC) AS krank
        |  FROM ranked r JOIN documents d USING (doc_id)
        |) WHERE krank <= 2 ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin))
  exact("ft_multirange", bench = true)((s, d) => {
    // DocValuesMultiRangeQuery (ref sandbox/search): term match AND the
    // numeric doc value in ANY of the requested ranges — overlapping /
    // adjacent ranges coalesce before the scan probes them. The oracle
    // ORs the ORIGINAL ranges: identical results prove the coalescing
    // preserves semantics on real data (the spec proves the fold itself).
    import s.implicits._
    val pred = graft.index.DocValues.multiRangePredicate($"n_chars",
      Seq((120L, 180L), (181L, 240L), (150L, 260L), (400L, 520L)))
    ftMatch(s, d, Query.parse("data"))
      .join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
      .where(pred).select($"doc_id", $"n_chars").orderBy($"doc_id")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")})
       |SELECT d.doc_id, d.n_chars FROM m JOIN documents d USING (doc_id)
       |WHERE (n_chars BETWEEN 120 AND 180) OR (n_chars BETWEEN 181 AND 240)
       |   OR (n_chars BETWEEN 150 AND 260) OR (n_chars BETWEEN 400 AND 520)
       |ORDER BY doc_id""".stripMargin)
  exact("ft_dv_stats", bench = true)((s, d) => {
    // doc-values stats over query matches (ref lucene/misc
    // misc/search/DocValuesStats.java LongDocValuesStats: count/missing/
    // min/max/mean/variance accumulated per matching doc). Mean/variance
    // are derived from EXACT integer sums (count, Σv, Σv²) with the same
    // final double expression on both sides, so the 6-dp rounding never
    // sits on an accumulation-order boundary; variance is population
    // (sumOfSquares/count - mean²), the reference's formula.
    import s.implicits._
    val m = ftMatch(s, d, Query.parse("data"))
      .join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
    val a = m.agg(
      count(lit(1)).as("cnt"),
      sum(when($"n_chars".isNull, 1L).otherwise(0L)).as("missing"),
      min($"n_chars").cast("long").as("min_v"),
      max($"n_chars").cast("long").as("max_v"),
      sum($"n_chars").cast("long").as("s1"),
      sum($"n_chars" * $"n_chars").cast("long").as("s2"))
    a.select(
      $"cnt", $"missing", $"min_v", $"max_v",
      round($"s1".cast("double") / $"cnt", 6).as("mean_v"),
      round($"s2".cast("double") / $"cnt" -
        ($"s1".cast("double") / $"cnt") * ($"s1".cast("double") / $"cnt"), 6)
        .as("variance_v"))
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
       |j AS (SELECT d.n_chars FROM m JOIN documents d USING (doc_id)),
       |a AS (SELECT count(*)::BIGINT AS cnt,
       |             sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing,
       |             min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
       |             sum(n_chars)::BIGINT AS s1, sum(n_chars*n_chars)::BIGINT AS s2
       |      FROM j)
       |SELECT cnt, missing, min_v, max_v,
       |       round(s1::DOUBLE / cnt, 6) AS mean_v,
       |       round(s2::DOUBLE / cnt - (s1::DOUBLE / cnt) * (s1::DOUBLE / cnt), 6) AS variance_v
       |FROM a""".stripMargin)
  exact("ft_stem_topk", bench = true)((s, d) => {
    // stemmed-analyzer engine path: build + query through the minimal
    // stemmer; 'queries OR tables' matches the conflated postings
    val se = searcherFor(s, d, Variant.Stem)
    val q = se.parse("queries OR tables")
    topKDf(se, q, 10)
  })(bm25TopK(Seq("query", "table"), "TRUE", 10, OracleSql.stemTok))
  exact("ft_cjk_topk", bench = true)((s, d) => {
    // CJK bigram analysis chain end-to-end (ref CJKBigramFilter): the
    // mixed-script corpus indexes Han/Katakana/Hangul runs as character
    // bigrams; the query string analyzes through the SAME chain, so
    // "数据库 web" scores as the bigram disjunction 数据+据库+web with
    // full BM25 (double-oracle precision)
    val se = searcherFor(s, d, Variant.Cjk)
    val qTerms = se.analyzer.tokens("数据库 web").map(_.term)
    val q = Query.or(qTerms: _*)
    topKDf(se, q, 10)
  })(bm25TopK(Seq("数据", "据库", "web"), "TRUE", 10, OracleSql.cjkTok))
  exact("ft_nb_classify", bench = true)((s, d) => {
    // Naive Bayes classification (ref SimpleNaiveBayesClassifier): train
    // on 90% of docs (doc_id % 10 != 0), predict lang for the rest
    val docs = docsDf(s, d)
    graft.pipeline.Classify.naiveBayes(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", "lang")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  })(
    """WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0),
      |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM train),
      |ctf AS (SELECT lang, term, count(*)::DOUBLE AS ctf FROM ttok GROUP BY 1, 2),
      |ctot AS (SELECT lang, sum(ctf) AS tot FROM ctf GROUP BY 1),
      |nd AS (SELECT lang, count(*)::DOUBLE AS ndocs FROM train GROUP BY 1),
      |tn AS (SELECT count(*)::DOUBLE AS n FROM train),
      |voc AS (SELECT DISTINCT term FROM ctf),
      |vs AS (SELECT count(*)::DOUBLE AS v FROM voc),
      |qtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM test),
      |qtf AS (SELECT doc_id, term, count(*)::DOUBLE AS tfd
      |        FROM qtok JOIN voc USING (term) GROUP BY 1, 2),
      |dlen AS (SELECT doc_id, sum(tfd) AS dlen FROM qtf GROUP BY 1),
      |hit AS (SELECT doc_id, lang, sum(tfd * ln(ctf + 1)) AS hit
      |        FROM qtf JOIN ctf USING (term) GROUP BY 1, 2),
      |cconst AS (SELECT lang, ln(ndocs / (SELECT n FROM tn)) AS lprior,
      |                  ln(tot + (SELECT v FROM vs)) AS ldenom
      |           FROM nd JOIN ctot USING (lang)),
      |scored AS (SELECT d.doc_id, c.lang,
      |                  c.lprior + coalesce(h.hit, 0) - d.dlen * c.ldenom AS score
      |           FROM dlen d CROSS JOIN cconst c
      |           LEFT JOIN hit h ON h.doc_id = d.doc_id AND h.lang = c.lang),
      |ranked AS (SELECT doc_id, lang, score,
      |                  row_number() OVER (PARTITION BY doc_id
      |                    ORDER BY round(score, 6) DESC, lang ASC) AS rn
      |           FROM scored)
      |SELECT doc_id, lang AS pred, round(score, 6) AS score
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)
  exact("ft_facet_range", bench = true)((s, d) => {
    // range facets (ref facet LongRangeFacetCounts): doc-length buckets
    // over the match set of a drill-down query
    val se = searcherFor(s, d)
    import s.implicits._
    val m = se.matchingCached(se.parse("data")).toDF("docId")
    val bucket = when($"length" < 30, "short")
      .when($"length" < 60, "medium").otherwise("long")
    m.join(se.docsTable.select($"docId", $"length"), "docId")
      .groupBy(bucket.as("len_range")).agg(count(lit(1)).as("n_docs"))
      .orderBy($"len_range")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
       |SELECT CASE WHEN dl < 30 THEN 'short' WHEN dl < 60 THEN 'medium' ELSE 'long' END AS len_range,
       |       count(*) AS n_docs
       |FROM m JOIN dlen USING (doc_id)
       |GROUP BY 1 ORDER BY len_range""".stripMargin)
  exact("ft_facet_dynrange", bench = true)((s, d) => {
    // dynamic (equi-weight) range facets (ref facet
    // facet/range/DynamicRangeUtil.java: split matching docs' values into
    // B ranges of ~equal doc weight). ntile(4) over the TOTAL order
    // (n_chars, doc_id) — but with NO global window: a per-VALUE count
    // aggregate (domain-sized, not corpus-sized) feeds a driver prefix
    // sum; each row's global rank = its value's offset + a row_number
    // inside the KEYED value window; the tile is then closed-form ntile —
    // the same bucket-totals + prefix-sum shape as sequence packing
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val m = ftMatch(s, d, Query.parse("data"))
      .join(docsDf(s, d).select($"doc_id", $"n_chars"), "doc_id")
    val counts = m.groupBy($"n_chars").agg(count(lit(1)).as("c"))
      .orderBy($"n_chars").collect()
    val n = counts.map(_.getLong(1)).sum
    val offsets = counts.map(_.getLong(1)).scanLeft(0L)(_ + _).init
    val offMap = counts.map(_.getLong(0)).zip(offsets).toMap
    val bTiles = 4L
    val size = n / bTiles
    val rem = n % bTiles
    val w = Window.partitionBy($"n_chars").orderBy($"doc_id".asc)
    val rank = element_at(typedLit(offMap), $"n_chars") +
      row_number().over(w).cast("long")
    val tile = when(lit(rem) > 0 && rank <= lit((size + 1) * rem),
        (rank - 1) / lit(size + 1) + 1)
      .otherwise(lit(rem) + (rank - 1 - lit((size + 1) * rem)) / lit(size) + 1)
    m.withColumn("tile", tile.cast("int"))
      .groupBy($"tile")
      .agg(min($"n_chars").as("lo"), max($"n_chars").as("hi"),
        count(lit(1)).as("n_docs"))
      .orderBy($"tile")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM documents WHERE ${hasTerm("data")}),
       |j AS (SELECT d.doc_id, d.n_chars FROM m JOIN documents d USING (doc_id)),
       |tiled AS (SELECT n_chars,
       |            ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS tile
       |          FROM j)
       |SELECT tile, min(n_chars) AS lo, max(n_chars) AS hi, count(*) AS n_docs
       |FROM tiled GROUP BY tile ORDER BY tile""".stripMargin)
  exact("ft_mlt_topk")((s, d) => {
    // MoreLikeThis: top tf-idf terms of doc 0's text drive a disjunction
    val se = searcherFor(s, d)
    import s.implicits._
    val srcText = docsDf(s, d).where($"doc_id" === 0)
      .select($"text").as[String].head()
    val q = se.moreLikeThis(srcText, maxTerms = 5)
    topKDf(se, q, 10)
  }) {
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |qlen AS (SELECT doc_id, dl,
       |  (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM dlen),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |                 sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dlen),
       |doc0 AS (SELECT term, count(*)::DOUBLE AS tf0 FROM tok WHERE doc_id = 0 GROUP BY term),
       |alldf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
       |mlt AS (SELECT d.term,
       |          round(d.tf0 * ln(1 + ((SELECT n FROM stats) - a.df + 0.5) / (a.df + 0.5)), 6) AS w
       |        FROM doc0 d JOIN alldf a USING (term)
       |        ORDER BY w DESC, d.term ASC LIMIT 5),
       |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS freq FROM tok
       |       WHERE term IN (SELECT term FROM mlt) GROUP BY doc_id, term),
       |idf AS (SELECT term, ln(1 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
       |        FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |  idf.idf - idf.idf / (1 + tf.freq *
       |    (1.0 / (1.2 * (0.25 + 0.75 * qlen.qdl / (SELECT avgdl FROM stats))))) AS s
       |  FROM tf JOIN idf USING (term) JOIN qlen ON qlen.doc_id = tf.doc_id),
       |scored AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin
  }
  exact("ft_mlt_like", bench = true)((s, d) => {
    // df-gated MoreLikeThis (ref queries/mlt/MoreLikeThis.java): doc 0's
    // terms with tf>=minTermFreq and df>=minDocFreq ranked by
    // tf*ClassicSimilarity idf, top-8 as boosted SHOULD clauses
    // (boostTerms), seed doc excluded from the hits
    val se = searcherFor(s, d)
    import s.implicits._
    val srcText = docsDf(s, d).where($"doc_id" === 0)
      .select($"text").as[String].head()
    val p = graft.search.MltParams(minTermFreq = 2, minDocFreq = 5,
      maxQueryTerms = 8, boostTerms = true)
    val q = graft.search.MoreLikeThis.query(se, srcText, p)
    se.fetchDocs(topKVerified(se, q, 11))
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .where($"doc_id" =!= 0)
      .orderBy($"score".desc, $"doc_id".asc).limit(10)
  })(mltLikeSql)
  exact("ft_termvectors", bench = true)((s, d) => {
    // stored per-doc term vectors (ref index/TermVectors.java /
    // Lucene90TermVectorsFormat): docId-isin point lookup of the
    // persisted (terms, freqs) arrays; the oracle recomputes the same
    // frequency map from the corpus text
    val se = searcherFor(s, d, Variant.Tv)
    import s.implicits._
    val ids = se.docsTable
      .where(substring($"url", 4, 12).cast("bigint") < 10)
      .select($"docId").as[Long].collect().toSeq
    se.termVectors(ids)
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"), $"term", $"freq")
      .orderBy($"doc_id", $"term")
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT doc_id, term, count(*) AS freq FROM tok WHERE doc_id < 10
      |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin)
  exact("ft_mlt_tv")((s, d) => {
    // MoreLikeThis fed by the STORED TERM VECTOR (the reference's
    // primary retrieveTerms arm) — no stored-text fetch, no re-analysis;
    // must equal ft_mlt_like's table, and shares its oracle SQL verbatim
    val se = searcherFor(s, d, Variant.Tv)
    import s.implicits._
    val srcId = se.docsTable
      .where(substring($"url", 4, 12).cast("bigint") === 0)
      .select($"docId").as[Long].head()
    val p = graft.search.MltParams(minTermFreq = 2, minDocFreq = 5,
      maxQueryTerms = 8, boostTerms = true)
    val q = graft.search.MoreLikeThis.queryForDoc(se, srcId,
      sys.error("ft_mlt_tv must take the term-vector path"), p)
    se.fetchDocs(topKVerified(se, q, 11))
      .select(docIdOf($"url"), round($"score", 6).as("score"))
      .where($"doc_id" =!= 0)
      .orderBy($"score".desc, $"doc_id".asc).limit(10)
  })(mltLikeSql)
  exact("ft_facet_hierarchy")((s, d) => {
    // arbitrary-depth taxonomy facet counts (ref lucene/facet taxonomy
    // rollup): every prefix of the 3-level source/lang/size path gets a
    // count — one prefix-explode + one groupBy, any depth
    val se = searcherFor(s, d)
    import s.implicits._
    val m = se.matchingCached(se.parse("data")).toDF("docId")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"))
      .join(docsDf(s, d).select($"doc_id", $"source", $"lang", $"n_chars"), "doc_id")
      .withColumn("size_bucket",
        when($"n_chars" < 500, "small").when($"n_chars" < 1000, "mid").otherwise("large"))
    graft.search.Facets
      .taxonomyRollup(m, array($"source", $"lang", $"size_bucket"))
      .orderBy($"path")
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |m AS (SELECT d.doc_id, d.source, d.lang,
       |             CASE WHEN d.n_chars < 500 THEN 'small'
       |                  WHEN d.n_chars < 1000 THEN 'mid'
       |                  ELSE 'large' END AS size_bucket
       |      FROM documents d
       |      WHERE d.doc_id IN (SELECT doc_id FROM tok WHERE term = 'data'))
       |SELECT source AS path, count(*) AS n_docs FROM m GROUP BY 1
       |UNION ALL
       |SELECT source || '/' || lang, count(*) FROM m GROUP BY 1
       |UNION ALL
       |SELECT source || '/' || lang || '/' || size_bucket, count(*) FROM m GROUP BY 1
       |ORDER BY path""".stripMargin)
  exact("ft_suggest_infix", bench = true)((s, d) => {
    // infix autocomplete via the persistent gram table (ref suggest
    // AnalyzingInfixSuggester): the fragment's leading 2-gram bounds the
    // scan — no full-dictionary contains() pass
    val se = searcherFor(s, d)
    val idx = indexDirFor(d).resolve("infix").toString
    graft.search.InfixSuggester.build(se, idx)
    graft.search.InfixSuggester.lookup(s, idx, "ar", 10)
  })(
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
      |WHERE term LIKE '%ar%' GROUP BY term
      |ORDER BY doc_freq DESC, term ASC LIMIT 10""".stripMargin)
}
