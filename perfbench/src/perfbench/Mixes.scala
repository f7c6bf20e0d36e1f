package perfbench

/** A workload's ops (`SparkEntry.queries` ids), its closed-loop client
  * count, whether an untimed warm pass precedes the measured passes, and
  * whether `Tables.clearCaches` runs before each pass. */
final case class Mix(ids: Seq[String], clients: Int,
    warm: Boolean, clearEachPass: Boolean)

object Mixes {

  /** The query path: boolean/phrase/prefix/fuzzy matching, the ranking
    * functions, index lookups, snippet/facets/hybrid and vector top-k.
    * Reads the memoized token/index relations, never builds them. */
  val search: Seq[String] = Seq(
    "q_search_and", "q_search_or", "q_search_not", "q_search_phrase",
    "q_search_prefix", "q_search_proximity", "q_search_boolean",
    "q_search_regex", "q_search_fuzzy", "q_fuzzy_deletion",
    "q_spell_correct", "q_autocomplete", "q_search_bm25", "q_bm25f",
    "q_bm25_prf", "q_search_qld", "q_search_pl2", "q_search_wand",
    "q_search_rrf", "q_search_diverse", "q_vsm_cosine", "q_idx_prefix",
    "q_idx_stopword", "q_idx_champion", "q_idx_skiplist", "q_idx_impact",
    "q_index_merge", "q_search_snippet", "q_search_facets",
    "q_search_hybrid", "q_sim_cosine_topk")

  /** The batch index build plus the relational headline shapes. */
  val index: Seq[String] = Seq(
    "q_tokenize", "q_term_freq", "q_doc_freq", "q_inverted_index",
    "q_tfidf", "q_idx_positional", "q_kgram_index", "q_dedup_exact",
    "q_dedup_near", "q_dedup_minhash_w", "q_dedup_winnow", "q_doc_sim",
    "q_ngrams", "q_cooccur_pmi", "q_scan_count", "q_agg_basic",
    "q_join_multiway", "q_topk_per_group", "q_evt_session",
    "q_join_asof_exec")

  /** Loops whose rounds run inside the build call. */
  val iterate: Seq[String] = Seq(
    "q_graph_pagerank", "q_pagerank_converge", "q_graph_hits",
    "q_hits_converge", "q_community_lpa", "q_graph_bfs",
    "q_triangle_count", "q_dedup_cluster", "q_kmeans_steps",
    "q_logreg_gd3")

  /** Structured Streaming micro-batch pipelines. */
  val stream: Seq[String] = Seq(
    "s_stream_tumbling", "s_stream_sliding", "s_stream_session",
    "s_stream_late", "s_stream_complete", "s_stream_dedup",
    "s_stream_stateful", "s_stream_tws", "s_stream_join",
    "s_stream_stream_join", "s_stream_outer_join", "s_stream_foreach",
    "s_stream_file", "s_stream_index")

  def apply(name: String, cores: Int): Mix = name match {
    case "search" => Mix(search, cores, warm = true, clearEachPass = false)
    case "index" => Mix(index, 1, warm = false, clearEachPass = true)
    case "iterate" => Mix(iterate, 1, warm = false, clearEachPass = false)
    case "stream" => Mix(stream, 1, warm = true, clearEachPass = false)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (search, index, iterate, stream)")
  }

  def allIds: Seq[String] = (search ++ index ++ iterate ++ stream).distinct
}
