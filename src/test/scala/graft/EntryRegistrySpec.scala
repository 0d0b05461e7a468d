package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The entry registry: every entry declared once, the approximations are
  * the only entries without an oracle, the bench tag picks Bench's set, and
  * Bench's result line stays short and parseable at any entry count.
  */
class EntryRegistrySpec extends AnyFunSuite {

  private def stub(name: String) = Entry(name, (s, _) => s.emptyDataFrame, None, bench = false)

  test("a name declared twice fails the registry and names the entry") {
    val err = intercept[IllegalArgumentException](
      Entry.registry(Seq(stub("ft_once"), stub("ft_twice"), stub("ft_twice"))))
    assert(err.getMessage.contains("ft_twice"), err.getMessage)
    assert(!err.getMessage.contains("ft_once"), err.getMessage)
  }

  test("190 entries, 183 with an oracle; only the approximations have none") {
    val entries = SparkEntry.entries
    assert(entries.size == 190)
    assert(SparkEntry.queries.size == 190 && SparkEntry.oracleSql.size == 183)
    assert(entries.filter(_.oracle.isEmpty).map(_.name).toSet == Set(
      "ann_hnsw_recall", "ann_hnsw_topk", "ann_ivf_topk", "ann_lsh_topk",
      "dedup_embed", "dedup_minhash_lsh", "dedup_simhash"))
  }

  test("the bench-tagged entries are Bench's 112 timed entries") {
    val tagged = SparkEntry.entries.filter(_.bench).map(_.name)
    assert(tagged.toSet == Set(
      "ft_term_topk", "ft_and_topk", "ft_or_topk", "ft_nested_topk",
      "ft_phrase_topk", "ft_phrase_slop", "ft_near_topk", "ft_group_top2",
      "ft_field_topk", "ft_combined_topk", "ft_feature_rank", "ft_feature_sort",
      "ft_lm_topk", "ft_lmjm_topk", "ft_near_prefix", "ft_wordbreak", "ft_child_join",
      "ft_msm_topk", "ft_boost_topk", "ft_dismax_topk",
      "ft_facet_range", "ft_highlight_best", "ft_fuzzy_match", "ft_spell",
      "ft_suggest_infix", "ft_stem_topk", "ft_nb_classify", "text_shingles",
      "ft_spell_jaro", "ft_classic_parse", "ft_multiphrase_topk", "ft_interval_topk",
      "ft_field_phrase", "text_repetition",
      "ft_dfr_topk", "ft_ib_topk", "ft_dfi_topk", "ft_axiomatic_topk",
      "ft_perfield_topk", "ft_multisim_topk", "ft_synonym_index",
      "ft_highlight_offsets", "mm_decode",
      "ft_wildcard_lead", "ft_suggest_weighted", "ft_parent_join_avg",
      "ft_payload_topk", "ft_span_first",
      "ft_sweetspot_topk", "ft_complex_phrase", "ft_surround",
      "ft_suggest_context", "ft_cjk_topk", "ft_mlt_like",
      "web_domain_psl", "dedup_substring_keep",
      "web_anchor_texts", "web_pagerank", "web_hits", "web_recrawl_diff",
      "web_noindex", "web_canonical_fold", "web_anchor_search",
      "web_redirect_fold", "web_robots",
      "ft_diversified_topk", "ft_dv_stats", "ft_fuzzy_like", "ft_facet_dynrange",
      "ft_multirange", "ft_automaton_topk", "ft_hybrid_rrf", "ft_bloom_topk",
      "pipe_dsir", "dedup_semantic", "text_gopher", "text_gopher_rep",
      "text_langid_ngram", "text_bpe_merges",
      "dedup_jaccard", "dedup_minhash_lsh", "dedup_simhash", "dedup_embed",
      "dedup_clusters", "dedup_lines", "dedup_substring", "pipe_split",
      "pipe_token_budget", "pipe_pack",
      "pipe_decontaminate", "pipe_mix", "pipe_url_dedup", "stream_dedup",
      "ann_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_sq_rescore", "ann_hnsw_topk",
      "ann_bq_rescore", "stream_join",
      "geo_knn", "geo_polygon", "geo_ft_distance", "ft_termvectors",
      "text_quality", "text_termstats", "text_pii_scrub", "text_unigram_xent",
      "mm_meta", "rel_agg", "rel_window_top2", "rel_json"))
    assert(tagged.size == 112)
  }

  test("Bench's result line parses as JSON and stays short at 190 entries") {
    val entries = SparkEntry.entries.map(_.name)
    val results = Seq("ft_build" -> 12.5) ++
      entries.zipWithIndex.map { case (n, i) => n -> (if (i % 50 == 7) -1.0 else 0.125 * i) } ++
      Seq("ft_or_p50" -> 0.042)
    val line = Bench.resultLine(results, "testdata/sf0.1")
    assert(line.length < 1500, s"${line.length} chars")
    implicit val formats: Formats = DefaultFormats
    val json = JsonMethods.parse(line)
    assert((json \ "metric").extract[String] == "total")
    assert((json \ "ft_build").extract[Double] == 12.5)
    assert((json \ "ft_or_p50").extract[Double] == 0.042)
    assert((json \ "failed").extract[Int] == 4)
    val total = results.map(_._2).filter(_ >= 0).sum
    assert(math.abs((json \ "value").extract[Double] - total) < 0.001)
    assert((json \ "entries").extract[String] == Bench.EntriesFile)
  }
}
