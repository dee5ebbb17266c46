package graft

/** Guards the codegen confs ([[GraftSession.CodegenConfs]]): a cache
  * sized to the working set, one class loader for every task, and class
  * names free of codegen stage ids. At Spark's default of 100 entries an
  * LRU cycled over a larger working set misses on nearly every lookup, so
  * every warm pass recompiles what the pass before compiled. Under the
  * per-session loaders of artifact isolation, a query that caches a frame
  * recompiles its code on every run, and with stage ids in class names
  * AQE's run-dependent stage numbering renames unchanged code; dq_audit,
  * join_size_est and dv_read recompiled on every run for these two
  * reasons. The fixed query set below compiles well over 100 classes on
  * its first pass; the second pass compiles none. Left out: queries whose
  * warm pass still compiles because their plans vary between runs
  * (dedup_incr_index, dedup_span_pairs, distinct_sketch, dq_tcloseness,
  * graph_components, graph_jaccard, graph_pagerank, graph_triangles_big,
  * media_phash), and events_gap_locf, which compiled on some runs before.
  */
class CodegenCacheSpec extends SparkSpec {

  private val Queries = Seq(
    "events_window", "events_dedup", "events_lateness",
    "events_segment_window", "events_sessionize", "events_sequences",
    "events_session_builtin", "events_concurrency", "events_top_paths",
    "events_rolling", "rollup", "grouping_sets", "pivot", "window_funcs",
    "setops", "exists_subquery", "group_median", "dedup_simhash",
    "dedup_containment", "text_bpe_encode", "text_inverted_index",
    "embed_winsor", "sample_stratified_agg", "heavy_hitters",
    "approx_stats",
    // compiled on every second run until the codegen confs above
    "ann_incr_index", "basket_pairs", "col_histogram", "cooccur_lift",
    "dedup_clusters", "dedup_keep", "dedup_semantic", "dedup_spans",
    "dq_audit", "dq_outlier_mad", "dv_read", "embed_class_stats",
    "events_active_users", "export_shards", "graph_kcore",
    "graph_triangles", "incr_join_merge", "join_size_est",
    "orders_pareto", "orders_rfm", "quantile_sketch", "sample_curriculum",
    "sample_mixture_plan", "sample_negatives", "sample_prune_proto",
    "sketch_cms", "stats_incr_merge", "text_bm25", "text_chi2",
    "winsorize_prices")

  /** Generated classes compiled by each query of one pass, in order. */
  private def pass(dir: String): Seq[(String, Long)] = Queries.map { name =>
    val before = GraftSession.codegenCompiles()
    SparkEntry.queries(name)(spark, dir).queryExecution.toRdd
      .foreach(_ => ())
    Scratch.release(spark)
    name -> (GraftSession.codegenCompiles() - before)
  }

  test("tasks compile under one class loader, into class names without stage ids") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("a warm pass over a working set above 100 classes compiles nothing") {
    val dir = sf("sf0.001")
    val first = pass(dir)
    val second = pass(dir)
    assert(first.map(_._2).sum > 100,
      s"the first pass must compile more than Spark's default cache holds: $first")
    assert(second.filter(_._2 > 0) === Seq.empty,
      s"the warm pass recompiled generated classes (first pass: $first)")
  }
}
