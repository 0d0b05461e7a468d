package graft
package entries

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

import OracleSql._
import SparkEntry._

/** The dedup and data-pipeline entries: exact, near-duplicate and
  * substring dedup, splits, token budgets, packing, decontamination and
  * mixing.
  */
object DedupEntries extends EntryFamily {
  exact("dedup_exact")((s, d) =>
    // fingerprint on the leading 120 chars (leading-content dedup — the
    // full-text variant is vacuously empty on this corpus; the prefix
    // fingerprint has real duplicate groups to verify against)
    Dedup.exactGroups(
      docsDf(s, d).withColumn("head_text", substring(col("text"), 1, 120)),
      "doc_id", "head_text")
      .orderBy(col("fingerprint")))(
    """SELECT md5(substr(text, 1, 120)) AS fingerprint, min(doc_id) AS canonical_id, count(*) AS group_size
      |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin)
  exact("dedup_jaccard", bench = true)((s, d) =>
    // adaptive exact join: sampled Σdf² sketch picks count-based (uniform
    // corpora) vs PPJoin prefix-filter (Zipf heads) — identical results
    // either way (PipelineSpec proves variant equality)
    Dedup.jaccardPairsAuto(docsDf(s, d), "doc_id", "text", w = 2, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b")))(
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |), big AS (
      |  SELECT doc_id AS id,
      |         term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS s
      |  FROM t
      |), sh AS (SELECT DISTINCT id, s FROM big WHERE s IS NOT NULL),
      |n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |       round(inter::DOUBLE / (na.n + nb.n - inter), 4) AS jaccard
      |FROM pairs JOIN n na ON na.id = id_a JOIN n nb ON nb.id = id_b
      |WHERE round(inter::DOUBLE / (na.n + nb.n - inter), 4) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin)
  exact("dedup_clusters", bench = true)((s, d) => {
    // cluster formation after pair generation: connected components over
    // the exact-Jaccard pairs via distributed min-label propagation with
    // per-round compression (never a driver union-find)
    val pairs = Dedup.jaccardPairsAuto(docsDf(s, d), "doc_id", "text",
      w = 2, threshold = 0.5)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy(col("doc_id"))
  })(
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |), big AS (
      |  SELECT doc_id AS id,
      |         term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS s
      |  FROM t
      |), sh AS (SELECT DISTINCT id, s FROM big WHERE s IS NOT NULL),
      |n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
      |),
      |jp AS (
      |  SELECT id_a, id_b FROM pairs
      |  JOIN n na ON na.id = id_a JOIN n nb ON nb.id = id_b
      |  WHERE round(inter::DOUBLE / (na.n + nb.n - inter), 4) >= 0.5
      |),
      |e AS (SELECT id_a AS a, id_b AS b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
      |nodes AS (SELECT DISTINCT a AS id FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
      |)
      |SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
      |ORDER BY doc_id""".stripMargin)
  exact("pipe_split", bench = true)((s, d) =>
    // deterministic hashed-id train/val/test split, audited per stratum —
    // stable under reruns and upstream row changes (pure function of id)
    graft.pipeline.Sampling.splitCounts(docsDf(s, d), "doc_id", "lang")
      .orderBy(col("split"), col("lang")))(
    """WITH s AS (
      |  SELECT lang, CASE WHEN b < 80 THEN 'train'
      |                    WHEN b < 90 THEN 'val'
      |                    ELSE 'test' END AS split
      |  FROM (SELECT lang,
      |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
      |        FROM documents)
      |)
      |SELECT split, lang, count(*) AS n FROM s GROUP BY 1, 2
      |ORDER BY split, lang""".stripMargin)
  exact("dedup_lines", bench = true)((s, d) => {
    // CCNet-style boilerplate-line removal: two deterministic 12-token
    // boilerplate lines injected ahead of the body (subscribe banner on
    // even ids, promo line on ids % 3), dropped because their line
    // doc-frequency exceeds the threshold while every body line survives
    val id = col("doc_id")
    val injected = concat(
      when(id % 2 === 0, lit(
        "follow us on social media and subscribe now to our daily newsletter "))
        .otherwise(lit("")),
      when(id % 3 === 0, lit(
        "click here to sign up for premium access and exclusive content today "))
        .otherwise(lit("")),
      col("text"))
    graft.pipeline.Dedup
      .lineDedup(docsDf(s, d).select(id, injected.as("text")),
        "doc_id", "text", lineLen = 12, maxDocFreq = 50)
      .orderBy(col("doc_id"))
  })(
    """WITH t AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0
      |      THEN 'follow us on social media and subscribe now to our daily newsletter '
      |      ELSE '' END)
      |    || (CASE WHEN doc_id % 3 = 0
      |      THEN 'click here to sign up for premium access and exclusive content today '
      |      ELSE '' END)
      |    || text AS text
      |  FROM documents),
      |ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
      |w AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM ts),
      |lines AS (SELECT doc_id, (i - 1) // 12 AS li,
      |            string_agg(w, ' ' ORDER BY i) AS line
      |          FROM w GROUP BY doc_id, li),
      |df AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line)
      |SELECT l.doc_id,
      |  sum(CASE WHEN line_df <= 50 THEN 1 ELSE 0 END)::BIGINT AS kept_lines,
      |  sum(CASE WHEN line_df > 50 THEN 1 ELSE 0 END)::BIGINT AS dropped_lines,
      |  md5(coalesce(string_agg(CASE WHEN line_df <= 50 THEN l.line END,
      |                          ' ' ORDER BY l.li), '')) AS new_md5
      |FROM lines l JOIN df USING (line)
      |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin)
  exact("dedup_substring", bench = true)((s, d) => {
    // exact duplicated-substring removal (Lee et al. ACL'22; see
    // Dedup.substringDedup): a fixed 10-token disclaimer prepended on
    // doc_id%4==0 docs duplicates corpus-wide, so every 5-token window
    // inside it drops while the per-doc boundary windows and unique
    // bodies survive; naturally duplicated documents collapse whole
    val id = col("doc_id")
    val injected = concat(
      when(id % 4 === 0, lit(
        "this content is provided as is without any warranty whatsoever "))
        .otherwise(lit("")),
      col("text"))
    graft.pipeline.Dedup
      .substringDedup(docsDf(s, d).select(id, injected.as("text")),
        "doc_id", "text", w = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  })(
    """WITH t AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 4 = 0
      |      THEN 'this content is provided as is without any warranty whatsoever '
      |      ELSE '' END) || text AS text
      |  FROM documents),
      |ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
      |w0 AS (SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS s
      |       FROM ts),
      |w AS (SELECT doc_id, s,
      |        substr(md5(array_to_string(ts[s:s+4], ' ')), 1, 16) AS k
      |      FROM w0),
      |dup AS (SELECT k FROM w GROUP BY k HAVING count(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, s + d AS p
      |        FROM (SELECT w.doc_id, w.s FROM w JOIN dup USING (k)),
      |             generate_series(0, 4) gs(d)),
      |tok AS (SELECT doc_id, unnest(ts) AS tok,
      |               generate_subscripts(ts, 1) AS i FROM ts)
      |SELECT t2.doc_id,
      |  count(*)::BIGINT AS n_tokens,
      |  sum(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS dup_tokens,
      |  md5(coalesce(string_agg(CASE WHEN c.p IS NULL THEN t2.tok END,
      |                          ' ' ORDER BY t2.i), '')) AS clean_fp
      |FROM tok t2 LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.p = t2.i
      |GROUP BY t2.doc_id ORDER BY t2.doc_id""".stripMargin)
  exact("dedup_substring_keep", bench = true)((s, d) => {
    // keep-one-copy substring dedup (Lee et al.'s own policy): the first
    // occurrence — min (doc_id, start) — of each duplicated window stays,
    // so the disclaimer survives in exactly one document and corpus
    // statistics are preserved; same shuffle count as drop-all
    val id = col("doc_id")
    val injected = concat(
      when(id % 4 === 0, lit(
        "this content is provided as is without any warranty whatsoever "))
        .otherwise(lit("")),
      col("text"))
    graft.pipeline.Dedup
      .substringDedup(docsDf(s, d).select(id, injected.as("text")),
        "doc_id", "text", w = 5, keepFirst = true)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  })(
    // keep-one-copy variant: each duplicated key's min (doc_id, start)
    // occurrence stays uncovered
    """WITH t AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 4 = 0
      |      THEN 'this content is provided as is without any warranty whatsoever '
      |      ELSE '' END) || text AS text
      |  FROM documents),
      |ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
      |w0 AS (SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS s
      |       FROM ts),
      |w AS (SELECT doc_id, s,
      |        substr(md5(array_to_string(ts[s:s+4], ' ')), 1, 16) AS k
      |      FROM w0),
      |dup AS (SELECT k, min(row(doc_id, s)) AS keep FROM w GROUP BY k
      |        HAVING count(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, s + d AS p
      |        FROM (SELECT w.doc_id, w.s FROM w JOIN dup USING (k)
      |              WHERE row(w.doc_id, w.s) <> dup.keep),
      |             generate_series(0, 4) gs(d)),
      |tok AS (SELECT doc_id, unnest(ts) AS tok,
      |               generate_subscripts(ts, 1) AS i FROM ts)
      |SELECT t2.doc_id,
      |  count(*)::BIGINT AS n_tokens,
      |  sum(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS dup_tokens,
      |  md5(coalesce(string_agg(CASE WHEN c.p IS NULL THEN t2.tok END,
      |                          ' ' ORDER BY t2.i), '')) AS clean_fp
      |FROM tok t2 LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.p = t2.i
      |GROUP BY t2.doc_id ORDER BY t2.doc_id""".stripMargin)
  exact("pipe_url_dedup", bench = true)((s, d) => {
    // canonical-URL capture dedup: messy crawl spellings (scheme/host
    // case, default ports, trailing slashes, tracking params, query
    // order, fragments) synthesized deterministically per doc_id,
    // collapsed by UrlOps.canonicalUrl (pure codegen'd columns), latest
    // capture kept — ONE hash shuffle on the canonical key
    val id = col("doc_id")
    val url = concat(
      when(id % 3 === 0, lit("HTTP://")).otherwise(lit("https://")),
      lit("Site"), (id % 50).cast("string"), lit(".Example.com"),
      when(id % 4 === 0, lit(":443"))
        .when(id % 7 === 0, lit(":8080")).otherwise(lit("")),
      lit("/p/"), (id % 200).cast("string"),
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      when(id % 2 === 0,
        concat(lit("?utm_source=feed&b=2&a="), (id % 4).cast("string")))
        .when(id % 9 === 0,
          concat(lit("?a="), (id % 4).cast("string"), lit("&b=2")))
        .otherwise(lit("")),
      when(id % 11 === 0, lit("#frag")).otherwise(lit("")))
    graft.pipeline.UrlOps
      .latestCapture(docsDf(s, d).select(id, url.as("url")),
        "url", "doc_id", "doc_id")
      .orderBy(col("curl"))
  })(
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END
      |     || 'Site' || (doc_id % 50)::VARCHAR || '.Example.com'
      |     || CASE WHEN doc_id % 4 = 0 THEN ':443'
      |             WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
      |     || '/p/' || (doc_id % 200)::VARCHAR
      |     || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
      |     || CASE WHEN doc_id % 2 = 0
      |             THEN '?utm_source=feed&b=2&a=' || (doc_id % 4)::VARCHAR
      |             WHEN doc_id % 9 = 0
      |             THEN '?a=' || (doc_id % 4)::VARCHAR || '&b=2'
      |             ELSE '' END
      |     || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
      |    regexp_extract(url, '\?([^#]*)', 1) AS q
      |  FROM u),
      |c AS (
      |  SELECT doc_id,
      |    scheme || '://'
      |    || (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |             WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |             ELSE hostport END)
      |    || (CASE WHEN rtrim(rawpath, '/') = '' THEN '/'
      |             ELSE rtrim(rawpath, '/') END)
      |    || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS curl
      |  FROM (SELECT doc_id, scheme, hostport, rawpath,
      |          coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
      |            x -> x <> '' AND NOT regexp_matches(x,
      |              '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|igshid|ref_src)='))),
      |            '&'), '') AS qs
      |        FROM p))
      |SELECT curl, max(doc_id) AS kept_id, count(*) AS n_captures
      |FROM c GROUP BY curl ORDER BY curl""".stripMargin)
  exact("pipe_token_budget", bench = true)((s, d) => {
    // token-budget selection in deterministic hash order: a global
    // ordered cumsum by semantics, executed as range-bucket totals +
    // driver prefix-sum + one boundary-bucket window (never a global
    // window — the 100 TB shape)
    import s.implicits._
    val docs = docsDf(s, d)
      .select($"doc_id", size(split($"text", " ")).cast("bigint").as("ntok"))
    graft.pipeline.Sampling.takeTokenBudget(docs, "doc_id", "ntok", 12000L)
      .select($"doc_id", $"ntok").orderBy($"doc_id")
  })(
"""WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ntok,
      |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, ntok,
      |         sum(ntok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t
      |)
      |SELECT doc_id, ntok FROM c WHERE cum <= 12000 ORDER BY doc_id""".stripMargin)
  exact("pipe_pack", bench = true)((s, d) => {
    // sequence packing (concat-and-chunk): global token offsets in
    // deterministic hash order, cut into 2048-token training windows —
    // executed as bucket totals + driver prefix-sum + per-bucket window
    // (largest single-task sort = corpus/2^16, never the corpus)
    import s.implicits._
    val docs = docsDf(s, d)
      .select($"doc_id", size(split($"text", " ")).cast("bigint").as("ntok"))
    graft.pipeline.Sampling.packSequences(docs, "doc_id", "ntok", seqLen = 2048L)
      .orderBy($"doc_id")
  })(
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ntok,
      |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, ntok,
      |         sum(ntok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
      |           - ntok AS start_off
      |  FROM t
      |)
      |SELECT doc_id, ntok, start_off,
      |       start_off // 2048 AS bin_first,
      |       (start_off + ntok - 1) // 2048 AS bin_last
      |FROM c ORDER BY doc_id""".stripMargin)
  exact("pipe_decontaminate", bench = true)((s, d) => {
    // benchmark decontamination: train docs sharing any distinct
    // 3-shingle with the eval set (doc_id % 50 == 0) are dropped; the
    // eval shingle set broadcasts — the train corpus never self-joins
    import s.implicits._
    val docs = docsDf(s, d)
    val evalDf = docs.where($"doc_id" % 50 === 0)
    val train = docs.where($"doc_id" % 50 =!= 0)
    Dedup.decontaminate(train, "doc_id", "text", evalDf, "text", w = 3)
      .select($"doc_id").orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |wd AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts,1) AS i FROM t),
      |sh AS (SELECT DISTINCT doc_id,
      |         w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
      |           || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
      |       FROM wd),
      |shn AS (SELECT doc_id, s FROM sh WHERE s IS NOT NULL),
      |ev AS (SELECT DISTINCT s FROM shn WHERE doc_id % 50 = 0)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (
      |  SELECT DISTINCT doc_id FROM shn
      |  WHERE doc_id % 50 <> 0 AND s IN (SELECT s FROM ev))
      |ORDER BY doc_id""".stripMargin)
  exact("pipe_mix", bench = true)((s, d) => {
    // deterministic data-mixture resampling: sources weighted 0.5/0.3/0.2,
    // scarcest source caps the mixture, hashed-id threshold keeps a
    // rerun-stable subset
    import s.implicits._
    graft.pipeline.Sampling.resampleMixture(docsDf(s, d), "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .select($"doc_id", $"source").orderBy($"doc_id")
  })(
    """WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |tw AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) t(source, wt)),
      |cap AS (SELECT min(n / wt) AS c FROM cnt JOIN tw USING (source)),
      |fr AS (SELECT source, least(1.0, (SELECT c FROM cap) * wt / n) AS f
      |       FROM cnt JOIN tw USING (source))
      |SELECT d.doc_id, d.source FROM documents d JOIN fr USING (source)
      |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000
      |        < round(f * 1000000)
      |ORDER BY d.doc_id""".stripMargin)
  exact("pipe_dsir", bench = true)((s, d) => {
    // DSIR importance resampling (Xie et al. NeurIPS'23): hashed
    // unigram+bigram models over the en slice (target) vs the rest
    // (raw pool); keep the top 25% of raw docs by log-likelihood ratio
    import s.implicits._
    graft.pipeline.Sampling.dsirSelect(docsDf(s, d), "doc_id", "text",
      isTarget = $"lang" === "en", buckets = 1024, keepFrac = 0.25)
      .orderBy($"doc_id")
  })(
    """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
      |                  string_split(text, ' ') AS ts FROM documents),
      |grams AS (
      |  SELECT doc_id, tgt,
      |         unnest(ts || list_transform(range(2, len(ts) + 1),
      |                                     i -> ts[i-1] || '_' || ts[i])) AS g
      |  FROM t),
      |bk AS (SELECT doc_id, tgt,
      |              ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b
      |       FROM grams),
      |model AS (SELECT b,
      |                 sum(CASE WHEN tgt THEN 1 ELSE 0 END)::DOUBLE AS tc,
      |                 sum(CASE WHEN tgt THEN 0 ELSE 1 END)::DOUBLE AS rc
      |          FROM bk GROUP BY b),
      |tot AS (SELECT sum(tc) AS tt, sum(rc) AS tr FROM model),
      |lr AS (SELECT b,
      |              ln((tc + 1.0) / ((SELECT tt FROM tot) + 1024.0))
      |            - ln((rc + 1.0) / ((SELECT tr FROM tot) + 1024.0)) AS lr
      |       FROM model),
      |w AS (SELECT doc_id, round(sum(lr), 4) AS logw
      |      FROM bk JOIN lr USING (b) WHERE NOT tgt GROUP BY doc_id),
      |k AS (SELECT ceil(0.25 * count(*))::BIGINT AS k FROM w)
      |SELECT doc_id, logw FROM w
      |ORDER BY logw DESC, doc_id LIMIT (SELECT k FROM k)""".stripMargin)
  approximate("dedup_minhash_lsh", bench = true)((s, d) => // seeded-hash approximation
    Dedup.minHashLshPairs(docsDf(s, d), "doc_id", "text", w = 2,
      bands = 8, rowsPerBand = 4, minSigSim = 0.5)
      .orderBy(col("id_a"), col("id_b")))
  approximate("dedup_simhash", bench = true)((s, d) => // seeded-hash signature
    // hamming<=3 near-dup pairs via pigeonhole band bucketing (4x16-bit)
    Dedup.simHashPairs(docsDf(s, d), "doc_id", "text", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b")))
  exact("dedup_semantic", bench = true)((s, d) =>
    // SemDeDup: deterministic k-medians clustering + within-cluster
    // keep-lowest-id cosine prune; full unrolled-Lloyd DuckDB oracle
    Dedup.semanticDedup(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", k = 8, iters = 3, tau = 0.4))(
    OracleSql.semanticDedupSql(k = 8, iters = 3, tau = 0.4, dim = 64))
  approximate("dedup_embed", bench = true)((s, d) => // LSH recall < 1 by design
    // the scale path: SRP-bucketed candidates + exact cosine verify
    Dedup.embeddingPairsLsh(
      s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0.3,
      dim = 64, planes = 6, tables = 8)
      .orderBy(col("id_a"), col("id_b")))
  exact("dedup_minhash_recall")((s, d) =>
    // official recall row for the minhash-LSH family: the portable md5
    // hash family makes signatures, banding, verification AND recall
    // independently computable by the DuckDB oracle. Standard LSH
    // evaluation — pipeline operates at J=0.5, the guarantee is stated
    // for the J>=0.8 band it targets (recall at the operating threshold
    // itself decays by construction: the S-curve midpoint). Floor
    // asserted in-entry; measured 1.0 at sf0.01/0.1 and >=0.97 at sf1.0.
    Dedup.minHashRecall(docsDf(s, d), "doc_id", "text", w = 2,
      threshold = 0.5, truthThreshold = 0.8, bands = 8, rowsPerBand = 2,
      minSigSim = 0.5, recallFloor = 0.95))(
    s"""WITH ${jaccardExactCtes(0.8)},
       |mh AS (
       |  SELECT id, i, min(('0x' || substr(md5(s || ':' || i), 1, 8))::BIGINT) AS h
       |  FROM sh CROSS JOIN generate_series(0, 15) g(i) GROUP BY id, i
       |), band AS (
       |  SELECT id, i // 2 AS band, string_agg(h::VARCHAR, ',' ORDER BY i) AS bucket
       |  FROM mh GROUP BY id, i // 2
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM band a JOIN band b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
       |), sim AS (
       |  SELECT c.id_a, c.id_b,
       |         round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END)::DOUBLE / 16, 4) AS ss
       |  FROM cand c JOIN mh ma ON ma.id = c.id_a
       |              JOIN mh mb ON mb.id = c.id_b AND mb.i = ma.i
       |  GROUP BY c.id_a, c.id_b
       |), approx AS (SELECT id_a, id_b FROM sim WHERE ss >= 0.5),
       |${recallTail}""".stripMargin)
  exact("dedup_simhash_recall")((s, d) =>
    // hamming<=3 of 64 targets near-identical docs: recall stated for
    // the J>=0.9 band under the portable token-hash family
    Dedup.simHashRecall(docsDf(s, d), "doc_id", "text", w = 2,
      truthThreshold = 0.9, maxHamming = 3, recallFloor = 0.4))(
    s"""WITH ${jaccardExactCtes(0.9)},
       |tokw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |th AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hi,
       |         ('0x' || substr(md5(w), 9, 8))::BIGINT AS lo
       |  FROM tokw
       |), vote AS (
       |  SELECT doc_id, j,
       |    sum((CASE WHEN j < 32 THEN (lo >> j) & 1 ELSE (hi >> (j - 32)) & 1 END) * 2 - 1) AS v
       |  FROM th CROSS JOIN generate_series(0, 63) g(j) GROUP BY doc_id, j
       |), sig AS ( -- signature as two 32-bit halves (2^63 would overflow BIGINT)
       |  SELECT doc_id,
       |    sum(CASE WHEN v > 0 AND j < 32 THEN 1 << j ELSE 0 END) AS slo,
       |    sum(CASE WHEN v > 0 AND j >= 32 THEN 1 << (j - 32) ELSE 0 END) AS shi
       |  FROM vote GROUP BY doc_id
       |), banded AS ( -- the pigeonhole 4x16-bit banding, like the engine
       |  SELECT doc_id, slo, shi, 0 AS band, slo & 65535 AS bits FROM sig
       |  UNION ALL SELECT doc_id, slo, shi, 1, (slo >> 16) & 65535 FROM sig
       |  UNION ALL SELECT doc_id, slo, shi, 2, shi & 65535 FROM sig
       |  UNION ALL SELECT doc_id, slo, shi, 3, (shi >> 16) & 65535 FROM sig
       |), approx AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi)) <= 3
       |),
       |${recallTail}""".stripMargin)
  exact("dedup_embed_recall")((s, d) =>
    // SRP-LSH recall vs the exact cosine>=0.3 pair set at the production
    // parameters. The testdata embeddings are structureless (max pairwise
    // cos ~0.5), so this is LSH's theoretical floor case — recall ~0.35,
    // floor 0.3; the planted-dup spec measures the near-dup regime
    Dedup.embeddingRecall(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", 0.3, dim = 64, planes = 6, tables = 8,
      recallFloor = 0.3))(
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |bk AS (
       |${srpBucketArms(dim = 64, nPlanes = 6, tables = 8)}
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM bk a JOIN bk b
       |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
       |), approx AS (
       |  SELECT c.id_a, c.id_b FROM cand c
       |  JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
       |  WHERE round(list_cosine_similarity(va.v, vb.v), 4) >= 0.3
       |), exact AS (
       |  SELECT a.id AS id_a, b.id AS id_b FROM v a JOIN v b ON a.id < b.id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
       |),
       |${recallTail}""".stripMargin)
  exact("dedup_embed_exact")((s, d) =>
    // exact all-pairs validation baseline (threshold joins over
    // unstructured embeddings are Ω(n²) exact; see embeddingPairsLsh)
    Dedup.embeddingPairs(
      s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0.3)
      .orderBy(col("id_a"), col("id_b")))(
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3
      |ORDER BY id_a, id_b""".stripMargin)
}
