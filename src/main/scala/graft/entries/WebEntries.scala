package graft
package entries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.search._

import SparkEntry._

/** The web-crawl entries: URL and domain folding, anchors, robots and
  * noindex rules, recrawl diffs and the link graph (PageRank, HITS).
  */
object WebEntries extends EntryFamily {
  /** robots.txt rule group for `web_robots` (pattern, allow): exercises
    * longest-match precedence (`/admin/public/` over `/admin/`, `/p/12`
    * over `/p/1`), the `*`+`$` wildcard form, and the everything-matches
    * `/` fallback.
    */
  private val RobotRules: Seq[(String, Boolean)] = Seq(
    "/admin/" -> false,
    "/admin/public/" -> true,
    "/*.json$" -> false,
    "/p/1" -> false,
    "/p/12" -> true,
    "/" -> true)

  /** Synthetic page HTML for the anchor entries: two well-formed links
    * (messy hrefs — case, default port, trailing slash, tracking param;
    * the %3 topic link carries rel="nofollow") and one unterminated link,
    * all pure functions of doc_id.
    */
  private def anchorHtmlOf(id: Column) =
    concat(
      lit("<html><body><p>intro</p><a href=\"HTTPS://Site"),
      ((id + 1) % 7).cast("string"),
      lit(".Example.com:443/p/"), (id % 40).cast("string"),
      lit("/\">page "), (id % 40).cast("string"), lit(" overview</a>"),
      when(id % 3 === 0, concat(
        lit("<a href=\"https://webcrawl.org/t/"), (id % 9).cast("string"),
        lit("?utm_source=x&z=1\" rel=\"nofollow\">topic "),
        (id % 9).cast("string"), lit("</a>"))).otherwise(lit("")),
      when(id % 5 === 0,
        lit("<a href=\"https://broken.example.com/x\">unterminated"))
        .otherwise(lit("")),
      lit("</body></html>"))

  /** Deterministic messy-crawl URL for the web_* entries: 3 registrable
    * domains, 7 site labels, optional www/tracking-param variants — all
    * pure functions of doc_id so the DuckDB oracle rebuilds them exactly.
    */
  private def webUrlOf(id: Column) =
    concat(
      lit("https://"),
      when(id % 4 === 0, lit("www.")).otherwise(lit("")),
      lit("site"), (id % 7).cast("string"), lit("."),
      when(id % 3 === 0, lit("example.com"))
        .when(id % 3 === 1, lit("webcrawl.org"))
        .otherwise(lit("dataset.net")),
      lit("/p/"), (id % 100).cast("string"),
      when(id % 5 === 0, lit("?utm_source=x&a=1")).otherwise(lit("")))

  exact("web_domain_stats")((s, d) => {
    // per-domain crawl rollup (head-domain skew report): registrable
    // domain = last two host labels after canonicalization; pages,
    // distinct canonical urls/hosts/langs, exact-sum mean text length —
    // ONE hash shuffle on the domain key
    val pages = s.read.parquet(s"$d/documents.parquet")
      .withColumn("u", webUrlOf(col("doc_id")))
    graft.pipeline.UrlOps.domainStats(pages, "u", "n_chars", "lang")
      .select(col("domain"), col("pages").cast("bigint").as("pages"),
        col("n_urls").cast("bigint").as("n_urls"),
        col("n_hosts").cast("bigint").as("n_hosts"),
        col("n_langs").cast("bigint").as("n_langs"),
        round(col("avg_len"), 4).as("avg_len"))
      .orderBy(col("domain"))
  })(
    """WITH u AS (
      |  SELECT doc_id, lang, n_chars,
      |    ('https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
      |     || 'site' || (doc_id % 7)::VARCHAR || '.'
      |     || CASE WHEN doc_id % 3 = 0 THEN 'example.com'
      |             WHEN doc_id % 3 = 1 THEN 'webcrawl.org'
      |             ELSE 'dataset.net' END
      |     || '/p/' || (doc_id % 100)::VARCHAR
      |     || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&a=1' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_chars,
      |    replace(url, '?utm_source=x&a=1', '?a=1') AS curl
      |  FROM u),
      |d AS (
      |  SELECT doc_id, lang, n_chars, curl,
      |    regexp_extract(curl, '://([^/:?#]+)', 1) AS host,
      |    regexp_extract(regexp_extract(curl, '://([^/:?#]+)', 1),
      |                   '([^.]+\.[^.]+)$', 1) AS domain
      |  FROM c)
      |SELECT domain, count(*)::BIGINT AS pages,
      |  count(DISTINCT curl)::BIGINT AS n_urls,
      |  count(DISTINCT host)::BIGINT AS n_hosts,
      |  count(DISTINCT lang)::BIGINT AS n_langs,
      |  round(sum(n_chars)::BIGINT::DOUBLE / count(*)::DOUBLE, 4) AS avg_len
      |FROM d GROUP BY domain ORDER BY domain""".stripMargin)
  exact("web_domain_cap")((s, d) => {
    // head-domain rate capping: domains over 120 pages downsample to
    // ~120 by hashed-id residue — deterministic, partition-independent,
    // no per-group ranking task (Sampling.capPerKey)
    import s.implicits._
    val u = graft.pipeline.UrlOps
    val pages = s.read.parquet(s"$d/documents.parquet")
      .withColumn("domain", u.registrableDomain(
        u.hostOf(u.canonicalUrl(webUrlOf(col("doc_id"))))))
    graft.pipeline.Sampling.capPerKey(pages, "domain", "doc_id", 120L)
      .select($"doc_id", $"domain").orderBy($"doc_id")
  })(
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'example.com'
      |         WHEN doc_id % 3 = 1 THEN 'webcrawl.org'
      |         ELSE 'dataset.net' END AS domain
      |  FROM documents),
      |n AS (SELECT domain, count(*) AS n FROM d GROUP BY domain)
      |SELECT doc_id, domain FROM d JOIN n USING (domain)
      |WHERE n <= 120
      |   OR ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % n < 120
      |ORDER BY doc_id""".stripMargin)
  exact("web_domain_psl", bench = true)((s, d) => {
    // PSL registrable domains over a corpus that actually exercises
    // multi-label public suffixes: co.uk / com.au hosts must group by
    // registrant (site7.co.uk), private-registry suffixes (github.io)
    // by their subdomain, and the *.ck wildcard family with its !www.ck
    // exception per the published rule algebra. Rule table broadcasts;
    // the host dimension joins by hash.
    import s.implicits._
    val id = col("doc_id")
    val host = concat(
      when(id % 4 === 0, lit("www.")).otherwise(lit("")),
      lit("site"), (id % 9).cast("string"), lit("."),
      when(id % 5 === 0, lit("co.uk"))
        .when(id % 5 === 1, lit("com.au"))
        .when(id % 5 === 2, lit("example.com"))
        .when(id % 5 === 3, lit("github.io"))
        .otherwise(lit("wild.ck")))
    val pages = s.read.parquet(s"$d/documents.parquet")
      .select($"doc_id", host.as("host"))
    graft.pipeline.PublicSuffix.withRegistrableDomain(pages, "host")
      .groupBy($"domain").agg(count(lit(1)).as("pages"))
      .orderBy($"domain")
  })(
    // PSL registrable-domain semantics, independently restated: co.uk /
    // com.au / github.io keep the registrant label (rule-length 2 suffixes),
    // bare-gTLD hosts collapse to registrant.com, and *.ck wildcards make
    // wild.ck itself a public suffix
    """WITH h AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN 'site' || (doc_id % 9)::VARCHAR || '.co.uk'
      |         WHEN doc_id % 5 = 1 THEN 'site' || (doc_id % 9)::VARCHAR || '.com.au'
      |         WHEN doc_id % 5 = 2 THEN 'example.com'
      |         WHEN doc_id % 5 = 3 THEN 'site' || (doc_id % 9)::VARCHAR || '.github.io'
      |         ELSE 'site' || (doc_id % 9)::VARCHAR || '.wild.ck' END AS domain
      |  FROM documents)
      |SELECT domain, count(*)::BIGINT AS pages
      |FROM h GROUP BY domain ORDER BY domain""".stripMargin)
  exact("web_anchor_texts", bench = true)((s, d) => {
    // anchor-text corpus: per-doc HTML with two well-formed links (messy
    // hrefs — case, default port, trailing slash, tracking param) and one
    // unterminated link, synthesized as pure functions of doc_id; pairs
    // extracted by ONE whole-link regex (malformed tag drops only its own
    // pair), hrefs canonicalized, rollup per link target — one explode +
    // one hash shuffle on the target
    val id = col("doc_id")
    graft.pipeline.UrlOps
      .anchorTexts(docsDf(s, d).select(id, anchorHtmlOf(id).as("html")),
        "html", "doc_id")
      .orderBy(col("target"))
  })(
    // independent derivation: the oracle rebuilds the (target, anchor)
    // pairs from doc_id arithmetic (what the synthesized links MUST
    // extract+canonicalize to), gating the whole regex+canonicalUrl chain
    // without sharing any of its code; the unterminated %5 link appears in
    // the html but must contribute nothing
    """WITH p AS (
      |  SELECT doc_id,
      |    'https://site' || ((doc_id + 1) % 7)::VARCHAR
      |      || '.example.com/p/' || (doc_id % 40)::VARCHAR AS target,
      |    'page ' || (doc_id % 40)::VARCHAR || ' overview' AS anchor
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |    'https://webcrawl.org/t/' || (doc_id % 9)::VARCHAR || '?z=1' AS target,
      |    'topic ' || (doc_id % 9)::VARCHAR AS anchor
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT target, count(*)::BIGINT AS n_links,
      |  count(DISTINCT doc_id)::BIGINT AS n_sources,
      |  array_to_string(list_sort(list(DISTINCT anchor)), '|') AS anchors
      |FROM p GROUP BY target ORDER BY target""".stripMargin)
  exact("web_noindex", bench = true)((s, d) => {
    // robots-directive gate: meta robots in either attribute order,
    // token-boundary noindex match ("index,nofollow" must survive);
    // zero-shuffle filter
    val id = col("doc_id")
    val html = concat(lit("<html><head>"),
      when(id % 6 === 0,
        lit("<meta name=\"robots\" content=\"noindex,follow\">"))
        .when(id % 9 === 0,
          lit("<meta content=\"noarchive, noindex\" name=\"robots\">"))
        .when(id % 7 === 0,
          lit("<meta name=\"robots\" content=\"index,nofollow\">"))
        .otherwise(lit("")),
      lit("</head><body>x</body></html>"))
    graft.pipeline.UrlOps
      .dropNoindex(docsDf(s, d).select(id, html.as("html")), "html")
      .select(id).orderBy(id)
  })(
    // keep = pages whose synthesized robots directive lacks a noindex
    // token (drop rules: %6 name-first noindex, else %9 content-first
    // "noarchive, noindex"; %7's "index,nofollow" survives)
    """SELECT doc_id FROM documents
      |WHERE doc_id % 6 <> 0 AND doc_id % 9 <> 0
      |ORDER BY doc_id""".stripMargin)
  exact("web_nofollow_anchors")((s, d) => {
    // anchor rollup with rel="nofollow" links dropped (no ranking
    // endorsement): same synthesized pages as web_anchor_texts — the
    // %3 topic link carries rel="nofollow" and must vanish
    val id = col("doc_id")
    graft.pipeline.UrlOps
      .anchorTexts(docsDf(s, d).select(id, anchorHtmlOf(id).as("html")),
        "html", "doc_id", dropNofollow = true)
      .orderBy(col("target"))
  })(
    // nofollow-aware anchors: only the followed %-all link survives (the
    // %3 topic link carries rel="nofollow", the %5 link is malformed)
    """WITH p AS (
      |  SELECT doc_id,
      |    'https://site' || ((doc_id + 1) % 7)::VARCHAR
      |      || '.example.com/p/' || (doc_id % 40)::VARCHAR AS target,
      |    'page ' || (doc_id % 40)::VARCHAR || ' overview' AS anchor
      |  FROM documents)
      |SELECT target, count(*)::BIGINT AS n_links,
      |  count(DISTINCT doc_id)::BIGINT AS n_sources,
      |  array_to_string(list_sort(list(DISTINCT anchor)), '|') AS anchors
      |FROM p GROUP BY target ORDER BY target""".stripMargin)
  exact("web_canonical_fold", bench = true)((s, d) => {
    // canonical-link folding: every 4th page declares a (messy-spelled)
    // canonical target; effective identity = canonicalized declared
    // target, else own URL — the group sizes per effective URL gate the
    // fold; one hash shuffle on eff_url
    val id = col("doc_id")
    val html = concat(lit("<html><head>"),
      when(id % 4 === 0, concat(
        lit("<link rel=\"canonical\" href=\"HTTPS://Site"),
        (id % 30).cast("string"), lit(".Example.com:443/p/"),
        (id % 40).cast("string"), lit("/\">"))).otherwise(lit("")),
      lit("</head><body>x</body></html>"))
    val own = concat(lit("https://site"), (id % 30).cast("string"),
      lit(".example.com/p/self/"), id.cast("string"))
    graft.pipeline.UrlOps
      .foldCanonical(docsDf(s, d)
        .select(id, html.as("html"), own.as("url")), "html", "url")
      .groupBy(col("eff_url"))
      .agg(count(lit(1)).cast("bigint").as("n_pages"))
      .orderBy(col("eff_url"))
  })(
    """WITH e AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0 THEN
      |      'https://site' || (doc_id % 30)::VARCHAR
      |        || '.example.com/p/' || (doc_id % 40)::VARCHAR
      |    ELSE
      |      'https://site' || (doc_id % 30)::VARCHAR
      |        || '.example.com/p/self/' || doc_id::VARCHAR
      |    END AS eff_url
      |  FROM documents)
      |SELECT eff_url, count(*)::BIGINT AS n_pages
      |FROM e GROUP BY eff_url ORDER BY eff_url""".stripMargin)
  exact("web_anchor_search", bench = true)((s, d) => {
    // anchor-boosted web search: BM25F over body (weight 1) + inlink
    // anchor text (weight 2) from the link graph — the anchor corpus
    // feeding the ranker, the classic web-search signal loop
    val se = searcherFor(s, d, Variant.Web)
    val q = CombinedFieldQuery("data", Seq("anchor" -> 2.0, "body" -> 1.0))
    topKDf(se, q, 10)
  }) {
    // BM25F over body + inlink anchors: the anchor field is re-derived in
    // SQL from the same edge arithmetic (token 'data' for even sources,
    // 'query' for odd); pseudo-stats per CombinedFieldQuery — docCount =
    // max over fields, sttf = 2*sttf_anchor + sttf_body, df = max
    // per-field df, freq = 2*tf_a + tf_b, norm = byte4 re-quantization of
    // the weighted MATCHED-field quantized lengths
    val vals = OracleSql.byte4Values.map(v => s"($v)").mkString(",")
    s"""WITH e AS (
       |  SELECT doc_id AS src,
       |         (doc_id + 1) % (SELECT count(*) FROM documents) AS dst
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 2 + 1) % (SELECT count(*) FROM documents)
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id + 7) % (SELECT count(*) FROM documents)
       |  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0),
       |atoks AS (SELECT dst AS doc_id,
       |            CASE WHEN src % 2 = 0 THEN 'data' ELSE 'query' END AS term
       |          FROM e),
       |alen AS (SELECT d.doc_id, coalesce(c.n, 0) AS dl
       |         FROM documents d LEFT JOIN (
       |           SELECT doc_id, count(*) AS n FROM atoks GROUP BY doc_id) c
       |         USING (doc_id)),
       |blen AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |aq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM alen WHERE dl > 0),
       |bq AS (SELECT doc_id, (SELECT max(v) FROM (VALUES $vals) b4(v) WHERE v <= dl) AS qdl FROM blen),
       |pseudo AS (SELECT
       |  greatest((SELECT count(*) FILTER (dl > 0) FROM alen),
       |           (SELECT count(*) FILTER (dl > 0) FROM blen))::DOUBLE AS n,
       |  (2 * (SELECT sum(dl) FROM alen) + (SELECT sum(dl) FROM blen))::DOUBLE AS sttf),
       |atf AS (SELECT doc_id, count(*)::DOUBLE AS freq FROM atoks
       |        WHERE term = 'data' GROUP BY doc_id),
       |btf AS (SELECT doc_id, count(*)::DOUBLE AS freq
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |        WHERE term = 'data' GROUP BY doc_id),
       |dfp AS (SELECT greatest((SELECT count(*) FROM atf), (SELECT count(*) FROM btf)) AS df),
       |idf AS (SELECT ln(1 + ((SELECT n FROM pseudo) - df + 0.5) / (df + 0.5)) AS idf FROM dfp),
       |perdoc AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |  2 * coalesce(a.freq, 0) + coalesce(b.freq, 0) AS f,
       |  (CASE WHEN a.doc_id IS NOT NULL THEN 2 * aq.qdl ELSE 0 END) +
       |  (CASE WHEN b.doc_id IS NOT NULL THEN bq.qdl ELSE 0 END) AS lensum
       |  FROM atf a FULL OUTER JOIN btf b ON a.doc_id = b.doc_id
       |  LEFT JOIN aq ON aq.doc_id = coalesce(a.doc_id, b.doc_id)
       |  LEFT JOIN bq ON bq.doc_id = coalesce(a.doc_id, b.doc_id)),
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
  exact("web_pagerank", bench = true)((s, d) => {
    // link-graph PageRank (5 iterations, d=0.85): synthetic multigraph
    // from doc_id arithmetic — every 10th page dangling (exercises the
    // redistribution term), every 3rd page a third out-link, doc 6 a
    // parallel edge; per iteration ONE edges⋈ranks join + ONE dst agg,
    // dangling mass as a 1-row broadcast, one materializing barrier per
    // iteration (Pregel superstep — lazy fixed points triple the plan
    // per round); output scaled by N so 6-dp rounding is well-conditioned
    val docs = docsDf(s, d).select(col("doc_id"))
    val (n, edges) = webEdges(docs)
    graft.pipeline.WebGraph
      .pageRank(docs, "doc_id", edges, "src", "dst", iters = 5)
      .select(col("id").as("doc_id"),
        round(col("pr") * n, 6).as("pr_n"))
      .orderBy(col("doc_id"))
  }) {
    // the 5 PageRank iterations unroll into chained CTEs — same edge
    // multiset, outdegrees, dangling redistribution and damping as the
    // engine, derived independently from doc_id arithmetic
    def it(k: Int) =
      s"""d${k - 1} AS (SELECT coalesce(sum(pr), 0.0) AS m
         |  FROM r${k - 1} WHERE id NOT IN (SELECT src FROM od)),
         |r$k AS (SELECT d.doc_id AS id,
         |    0.15/(SELECT n FROM nn) + 0.85*(coalesce(c.s, 0.0)
         |      + (SELECT m FROM d${k - 1})/(SELECT n FROM nn)) AS pr
         |  FROM documents d LEFT JOIN (
         |    SELECT e.dst AS id2, sum(p.pr/o.deg) AS s
         |    FROM e JOIN r${k - 1} p ON e.src = p.id
         |           JOIN od o ON o.src = e.src
         |    GROUP BY e.dst) c ON d.doc_id = c.id2)""".stripMargin
    s"""WITH nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
       |e AS (
       |  SELECT doc_id AS src,
       |         (doc_id + 1) % (SELECT count(*) FROM documents) AS dst
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 2 + 1) % (SELECT count(*) FROM documents)
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id + 7) % (SELECT count(*) FROM documents)
       |  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0),
       |od AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
       |r0 AS (SELECT doc_id AS id, 1.0/(SELECT n FROM nn) AS pr
       |       FROM documents),
       |${(1 to 5).map(it).mkString(",\n")}
       |SELECT id AS doc_id, round(pr * (SELECT n FROM nn), 6) AS pr_n
       |FROM r5 ORDER BY doc_id""".stripMargin
  }
  exact("web_hits", bench = true)((s, d) => {
    // HITS hubs & authorities (3 iterations, L2-normalized) on the same
    // synthetic multigraph as web_pagerank; two join+agg pairs per
    // iteration, norms as 1-row broadcasts, one barrier per iteration
    val docs = docsDf(s, d).select(col("doc_id"))
    val (_, edges) = webEdges(docs)
    graft.pipeline.WebGraph
      .hits(docs, "doc_id", edges, "src", "dst", iters = 3)
      .select(col("id").as("doc_id"), round(col("auth"), 6).as("auth"),
        round(col("hub"), 6).as("hub"))
      .orderBy(col("doc_id"))
  }) {
    // HITS: 3 unrolled iterations, same independently-derived edge
    // multiset; each auth/hub pass L2-normalizes via a scalar subquery
    def it(k: Int) =
      s"""a${k}r AS (SELECT d.doc_id AS id, coalesce(c.s, 0.0) AS va
         |  FROM documents d LEFT JOIN (
         |    SELECT e.dst AS id2, sum(p.hub) AS s
         |    FROM e JOIN h${k - 1} p ON e.src = p.id GROUP BY e.dst) c
         |  ON d.doc_id = c.id2),
         |a$k AS (SELECT id, va/(SELECT sqrt(sum(va*va)) FROM a${k}r) AS auth
         |  FROM a${k}r),
         |h${k}r AS (SELECT d.doc_id AS id, coalesce(c.s, 0.0) AS vh
         |  FROM documents d LEFT JOIN (
         |    SELECT e.src AS id3, sum(p.auth) AS s
         |    FROM e JOIN a$k p ON e.dst = p.id GROUP BY e.src) c
         |  ON d.doc_id = c.id3),
         |h$k AS (SELECT id, vh/(SELECT sqrt(sum(vh*vh)) FROM h${k}r) AS hub
         |  FROM h${k}r)""".stripMargin
    s"""WITH e AS (
       |  SELECT doc_id AS src,
       |         (doc_id + 1) % (SELECT count(*) FROM documents) AS dst
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 2 + 1) % (SELECT count(*) FROM documents)
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id, (doc_id + 7) % (SELECT count(*) FROM documents)
       |  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0),
       |h0 AS (SELECT doc_id AS id, 1.0 AS hub FROM documents),
       |${(1 to 3).map(it).mkString(",\n")}
       |SELECT a3.id AS doc_id, round(a3.auth, 6) AS auth,
       |       round(h3.hub, 6) AS hub
       |FROM a3 JOIN h3 ON a3.id = h3.id ORDER BY doc_id""".stripMargin
  }
  exact("web_recrawl_diff", bench = true)((s, d) => {
    // incremental-crawl snapshot diff: previous capture under messy URL
    // spellings, current under clean ones (the join must go through
    // canonicalization); every 13th page gone, every 7th changed, every
    // 17th spawns a new page — new/changed feed NRT re-index, gone feeds
    // tombstones; one full-outer hash join on the canonical key
    val id = col("doc_id")
    val urlMessy = concat(lit("HTTPS://Site"), (id % 30).cast("string"),
      lit(".Example.com:443/p/"), id.cast("string"), lit("/"))
    val urlClean = concat(lit("https://site"), (id % 30).cast("string"),
      lit(".example.com/p/"), id.cast("string"))
    val docs = docsDf(s, d)
    val prev = docs.select(urlMessy.as("url"), md5(col("text")).as("fp"))
    val next = docs.where(id % 13 =!= 0)
      .select(urlClean.as("url"),
        when(id % 7 === 0, md5(concat(col("text"), lit("v2"))))
          .otherwise(md5(col("text"))).as("fp"))
      .union(docs.where(id % 17 === 0)
        .select(concat(urlClean, lit("-new")).as("url"),
          md5(concat(col("text"), lit("new"))).as("fp")))
    graft.pipeline.UrlOps.recrawlDiff(prev, next, "url", "fp")
      .orderBy(col("curl"))
  })(
    """WITH prev AS (
      |  SELECT 'https://site' || (doc_id % 30)::VARCHAR
      |    || '.example.com/p/' || doc_id::VARCHAR AS curl,
      |    md5(text) AS old_fp FROM documents),
      |nxt AS (
      |  SELECT 'https://site' || (doc_id % 30)::VARCHAR
      |    || '.example.com/p/' || doc_id::VARCHAR AS curl,
      |    CASE WHEN doc_id % 7 = 0 THEN md5(text || 'v2')
      |         ELSE md5(text) END AS new_fp
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT 'https://site' || (doc_id % 30)::VARCHAR
      |    || '.example.com/p/' || doc_id::VARCHAR || '-new',
      |    md5(text || 'new')
      |  FROM documents WHERE doc_id % 17 = 0)
      |SELECT coalesce(p.curl, n.curl) AS curl, old_fp, new_fp,
      |  CASE WHEN old_fp IS NULL THEN 'new'
      |       WHEN new_fp IS NULL THEN 'gone'
      |       WHEN old_fp = new_fp THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM prev p FULL OUTER JOIN nxt n ON p.curl = n.curl
      |ORDER BY curl""".stripMargin)
  exact("web_redirect_fold", bench = true)((s, d) => {
    // 3xx redirect-chain folding: a deterministic redirect map over
    // doc_ids (two-hop chains on the %5∈{1,2} band, a genuine 2-cycle on
    // every %50∈{48,49} pair) resolved by pointer doubling — log2(16) = 4
    // balanced self-joins, cycle rows saturate at maxHops and report
    // resolved = false; the oracle walks the same map with a bounded
    // recursive CTE
    val id = col("doc_id")
    val docs = docsDf(s, d)
    val n = docs.count()
    val edges = docs.where((id % 5 === 1 || id % 5 === 2) && id + 1 < n)
      .select(id.as("src"), (id + 1).as("dst"))
      .union(docs.where(id % 50 === 48 && id + 1 < n)
        .select(id.as("src"), (id + 1).as("dst")))
      .union(docs.where(id % 50 === 49)
        .select(id.as("src"), (id - 1).as("dst")))
    graft.pipeline.UrlOps.resolveRedirects(edges, "src", "dst", maxHops = 16)
      .orderBy(col("src"))
  })(
    """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
      |r AS (
      |  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents, nn
      |  WHERE doc_id % 5 IN (1, 2) AND doc_id + 1 < nn.n
      |  UNION ALL
      |  SELECT doc_id, doc_id + 1 FROM documents, nn
      |  WHERE doc_id % 50 = 48 AND doc_id + 1 < nn.n
      |  UNION ALL
      |  SELECT doc_id, doc_id - 1 FROM documents WHERE doc_id % 50 = 49
      |),
      |walk(src, cur, hops) AS (
      |  SELECT src, dst, 1 FROM r
      |  UNION ALL
      |  SELECT w.src, r2.dst, w.hops + 1 FROM walk w JOIN r r2 ON r2.src = w.cur
      |  WHERE w.hops < 16
      |),
      |f AS (SELECT src, max_by(cur, hops) AS target, max(hops)::BIGINT AS hops
      |      FROM walk GROUP BY src),
      |srcs AS (SELECT DISTINCT src AS target FROM r)
      |SELECT f.src, f.target, f.hops, (srcs.target IS NULL) AS resolved
      |FROM f LEFT JOIN srcs USING (target)
      |ORDER BY src""".stripMargin)
  exact("web_robots", bench = true)((s, d) => {
    // robots.txt longest-match decisions (RFC 9309 §2.2.2: longest
    // pattern wins, tie -> Allow, no match -> allowed) over a
    // deterministic path family; the rule group broadcasts, one hash agg
    val id = col("doc_id")
    val path = when(id % 6 === 0, concat(lit("/p/"), (id % 40).cast("string")))
      .when(id % 6 === 1, concat(lit("/admin/"), (id % 7).cast("string")))
      .when(id % 6 === 2, concat(lit("/admin/public/"), (id % 5).cast("string")))
      .when(id % 6 === 3, concat(lit("/files/f"), (id % 9).cast("string"), lit(".json")))
      .when(id % 6 === 4, concat(lit("/p/1"), (id % 3).cast("string")))
      .otherwise(lit("/"))
    val paths = docsDf(s, d).select(id.as("doc_id"), path.as("path"))
    graft.pipeline.UrlOps.robotsDecisions(paths, "doc_id", "path", RobotRules)
      .orderBy(col("doc_id"))
  }) {
    val ruleArms = RobotRules.map { case (p, a) =>
      s"SELECT '$p' AS pattern, '${graft.pipeline.UrlOps.robotsPatternRegex(p)}' AS re, " +
        s"${p.length} AS plen, ${if (a) 1 else 0} AS allow_i"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH rules AS (
       |  $ruleArms
       |),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 6 = 0 THEN '/p/' || (doc_id % 40)::VARCHAR
       |         WHEN doc_id % 6 = 1 THEN '/admin/' || (doc_id % 7)::VARCHAR
       |         WHEN doc_id % 6 = 2 THEN '/admin/public/' || (doc_id % 5)::VARCHAR
       |         WHEN doc_id % 6 = 3 THEN '/files/f' || (doc_id % 9)::VARCHAR || '.json'
       |         WHEN doc_id % 6 = 4 THEN '/p/1' || (doc_id % 3)::VARCHAR
       |         ELSE '/' END AS path
       |  FROM documents
       |),
       |sel AS (
       |  SELECT p.doc_id, r.allow_i,
       |         row_number() OVER (PARTITION BY p.doc_id
       |                            ORDER BY r.plen DESC, r.allow_i DESC) AS rn
       |  FROM p JOIN rules r ON regexp_matches(p.path, r.re)
       |)
       |SELECT p.doc_id, p.path, coalesce(s.allow_i = 1, TRUE) AS allowed
       |FROM p LEFT JOIN (SELECT doc_id, allow_i FROM sel WHERE rn = 1) s USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }
}
