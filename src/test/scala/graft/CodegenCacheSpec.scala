package graft

/** Guards the size of Spark's generated-class cache
  * ([[GraftSession.CodegenCacheEntries]]). At Spark's default of 100
  * entries an LRU cycled over a larger working set misses on nearly every
  * lookup, so every warm pass recompiles what the pass before compiled.
  * The fixed query set below compiles well over 100 classes on its first
  * pass; with the cache sized to the working set the second pass compiles
  * none. The queries were picked for generated code that does not vary
  * between runs: dq_audit compiles new classes on every run whatever the
  * cache size, events_gap_locf and graph_pagerank on some runs.
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
    "approx_stats")

  /** Generated classes compiled by each query of one pass, in order. */
  private def pass(dir: String): Seq[(String, Long)] = Queries.map { name =>
    val before = GraftSession.codegenCompiles()
    SparkEntry.queries(name)(spark, dir).queryExecution.toRdd
      .foreach(_ => ())
    Scratch.release(spark)
    name -> (GraftSession.codegenCompiles() - before)
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
