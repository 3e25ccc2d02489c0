package graft

/** The driver's two smoke contracts, locked in CI: the flagship `entry`
  * returns rows at sf0.001, and every registered query has either an
  * oracle or a documented rows-only status (name-set consistency).
  */
class EntrySmokeSpec extends SparkSpec {

  test("driver entry smoke: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a registered query; every query has an oracle") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(queries), s"orphan oracles: ${oracles.diff(queries)}")
    // since r8 the full gate is hash-verified: incremental dedup (the last
    // rows-only query) now has an exact-Jaccard replay oracle, valid because
    // the fixtures leave a (0.31, 0.92) exact-Jaccard dead zone around the
    // 0.5 estimator threshold
    assert(queries.diff(oracles).isEmpty,
      s"queries without an oracle (add one or document rows-only): ${queries.diff(oracles)}")
  }

  test("bench overrides shadow only registered gate queries") {
    assert(SparkEntry.benchQueries.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the gate exposes exactly the pinned query and bench-override names") {
    // a move or rename that drops a query from BOTH the builders and the
    // oracles still fails here: the driver addresses queries by these names
    assert(SparkEntry.queries.keySet.toSeq.sorted == EntrySmokeSpec.gatedNames)
    assert(SparkEntry.oracleSql.keySet.toSeq.sorted == EntrySmokeSpec.gatedNames)
    assert(SparkEntry.benchQueries.keySet.toSeq.sorted == EntrySmokeSpec.benchNames)
  }
}

object EntrySmokeSpec {
  /** The 115 gated query names, sorted. */
  val gatedNames: Seq[String] = Seq(
    "q_c1_filter", "q_c2_mapper", "q_c3_stateful", "q_c3_thru", "q_c3_unpivot", "q_c4_reducer",
    "q_c5_sorter", "q_c6_uniquer", "q_c7c8_map_roundtrip", "q_c9_nothing",
    "q_e_session_window", "q_e_sessionize", "q_e_tumbling", "q_h1_joiner", "q_h2_join_detail",
    "q_h3_splitter", "q_h4_pipeline", "q_n_ann_cosine", "q_n_ann_index_delete",
    "q_n_ann_index_delete_spec", "q_n_ann_index_spec", "q_n_ann_int8", "q_n_ann_ivf",
    "q_n_ann_ivf_indexed", "q_n_ann_ivf_indexed_int8", "q_n_ann_ivf_indexed_norm",
    "q_n_ann_ivf_int8", "q_n_ann_lsh", "q_n_bpe_encode", "q_n_chunk", "q_n_commonness",
    "q_n_corpus_report", "q_n_decontam", "q_n_dedup_drop", "q_n_dedup_exact", "q_n_dedup_incr",
    "q_n_dedup_minhash", "q_n_dedup_simhash", "q_n_dedup_spans", "q_n_dsir", "q_n_dsir_pinned",
    "q_n_dup_clusters", "q_n_emb_dups", "q_n_hash_split", "q_n_jaccard_pairs",
    "q_n_llm_pipeline", "q_n_llm_pipeline_v2", "q_n_llm_pipeline_v3", "q_n_lm_score",
    "q_n_mix", "q_n_multimodal", "q_n_multimodal_decode", "q_n_pack_bins", "q_n_pack_greedy",
    "q_n_pack_seq", "q_n_quality_gates", "q_n_quality_model", "q_n_sample_exact",
    "q_n_sample_stratified", "q_n_semdedup", "q_n_semdedup_assign", "q_n_semdedup_incr",
    "q_n_semdedup_trained", "q_n_span_incr", "q_n_text_clean", "q_n_text_line_dedup",
    "q_n_text_stats", "q_n_vector_stats", "q_n_vocab_topk", "q_p1_csv", "q_p4_xml",
    "q_p5_tree_flatten", "q_r1_reader_file", "q_r2_json_rootnode", "q_r3_ndjson", "q_r4_paged",
    "q_r4_paged_v2", "q_r5_folder", "q_s_importance_ingest", "q_s_minhash_ingest",
    "q_s_pretrain_ingest", "q_s_quality_ingest", "q_s_semantic_ingest", "q_s_span_ingest",
    "q_s_spec_ingest", "q_s_stream_dedup", "q_s_stream_enrich", "q_s_stream_join",
    "q_s_stream_session", "q_s_stream_window", "q_s_vector_index_ingest", "q_w1_json_array",
    "q_w3_tree_rebuild", "q_x_anti_join", "q_x_asof", "q_x_cube", "q_x_except",
    "q_x_intersect", "q_x_json_props", "q_x_ntile", "q_x_percentiles", "q_x_pivot",
    "q_x_quarter", "q_x_range_join", "q_x_rollup", "q_x_running", "q_x_running_spec",
    "q_x_scd2", "q_x_semi_join", "q_x_snapshot_diff", "q_x_spy_node", "q_x_topn_agg",
    "q_x_window_topn", "q_x_window_topn_spec", "q_x_zorder")

  /** The 10 queries whose bench form differs from the gated form, sorted. */
  val benchNames: Seq[String] = Seq(
    "q_n_ann_ivf", "q_n_ann_ivf_indexed", "q_n_ann_ivf_int8", "q_n_ann_lsh",
    "q_n_corpus_report", "q_n_dedup_minhash", "q_n_dedup_simhash", "q_n_dedup_spans",
    "q_n_dsir", "q_n_emb_dups")
}
