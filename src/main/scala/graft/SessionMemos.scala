package graft

import org.apache.spark.sql.SparkSession

/** Registry of the session-scoped memo FAMILIES and their registered
  * consumers — the release schedule behind Bench's bounded-storage run.
  *
  * The memos exist so a family's first consumer pays a corpus pass once
  * and every later consumer reads the persisted frame
  * ([[operators.Dedup]] pairCache scaladoc). Their cost is RESIDENCY: a
  * 184-query bench session accumulates every family's persisted blocks
  * (the ×100 gram frame alone is ~0.9 GB), and late board entries run
  * against that storage pressure — measured 30–60% slower in-run than
  * focused (dq_audit 21.1 vs 15.1 s, dedup_spans 21.6 vs 14.5 s at ×100,
  * rounds 14–15). With Bench executing in ALPHABETICAL order, each
  * family's last consumer is a static fact, so the memo can be released
  * the moment its last registered reader finishes — deterministic
  * eviction with zero rebuild risk, instead of leaving every frame
  * resident until teardown.
  *
  * Maintenance contract: a NEW query that calls a family's accessor must
  * be added to that family's consumer set. Forgetting is a PERF bug, not
  * a correctness bug — the accessor's getOrElseUpdate rebuilds the frame
  * inline (first-payer honesty) and the DuckDB gate still passes; the
  * bench sidecar's per-query storage column makes the rebuild visible.
  * MemoConsumerSpec cross-checks every set against the registry names so
  * a renamed/removed query fails loudly.
  *
  * Families deliberately NOT here: Similarity's semantic-model cache
  * (driver-side Seq of centroid rows, no executor storage) and
  * Scratch-tracked per-query persists (released inside each timed window
  * already).
  */
object SessionMemos {

  /** One memo family: its registered consumer query names and the
    * release hook that unpersists exactly this family's frames for the
    * session (never other memos of the same module).
    */
  final case class Family(name: String, consumers: Set[String],
      release: SparkSession => Unit)

  def families: Seq[Family] = Seq(
    // pairCache (minhash signatures, minhash/embed candidate pairs) +
    // componentCache (CC labels): dedup_keep reads the labels through
    // clusters.run, split_leakage_safe through Dedup.componentLabels
    Family("dedup_pairs", Set(
      "dedup_agreement", "dedup_bucket_stats", "dedup_clusters",
      "dedup_cross", "dedup_embed", "dedup_keep", "dedup_minhash",
      "split_leakage_safe"), operators.Dedup.releaseSession),
    // rankCache: the six ranked top-k frames behind the retrieval
    // quality readouts (tiny frames, expensive lineage)
    Family("ann_rank", Set(
      "ann_mrr", "ann_recall", "embed_pairs_mine", "retrieval_rrf"),
      operators.Similarity.releaseRankMemos),
    // gramCache (pos/dist halves): positional + distinct corpus gram
    // digests — the largest resident frame at ×100. Release is the
    // gram-only hook: the module's third memo (bd) belongs to the
    // `bigrams` family below and may not have run its block yet.
    Family("grams", Set(
      "dedup_span_pairs", "dedup_spans", "text_boilerplate",
      "text_decontam", "text_decontam_bloom", "text_novelty"),
      operators.TextAnalysis.releaseGramMemos),
    // gramCache (bd half): per-document bigram counts — shared by the
    // LM pair (text_bigram_lm re-aggregates it, text_predictability
    // trains and scores from it)
    Family("bigrams", Set(
      "text_bigram_lm", "text_predictability"),
      operators.TextAnalysis.releaseBigramMemo),
    // edgeCache: co-purchase and bipartite trade edge sets
    Family("graph_edges", Set(
      "graph_bfs", "graph_closeness", "graph_degree", "graph_jaccard",
      "graph_lpa", "graph_pagerank_big", "graph_triangles_big"),
      operators.Graph.releaseSession))

  /** Bench execution order: alphabetical, EXCEPT that each memo family's
    * consumers run as one CONTIGUOUS block anchored where its first
    * consumer sorts. Plain alphabetical order left the gram memo resident
    * from `dedup_spans` to `text_novelty` — ~120 unrelated queries
    * (including the whole late board) executing against ~1 GB of
    * persisted heap blocks; the measured ×100 baseline
    * (bench_r16_x100_base1) shows exactly that residency profile.
    * Clustering shrinks every family's residency window to its own block,
    * after which [[releaseAfter]] frees it — non-consumers never run
    * under another family's storage. Deterministic for a given registry
    * and selection; order within the block and among non-members stays
    * alphabetical.
    */
  def benchOrder(selected: Set[String]): Seq[String] = {
    val emitted = scala.collection.mutable.LinkedHashSet.empty[String]
    selected.toSeq.sorted.foreach { name =>
      if (!emitted.contains(name)) {
        families.find(_.consumers.contains(name)) match {
          case Some(fam) =>
            emitted ++= fam.consumers.intersect(selected).toSeq.sorted
          case None => emitted += name
        }
      }
    }
    emitted.toSeq
  }

  /** Release every family whose LAST selected consumer (the end of its
    * [[benchOrder]] block) is `completed`. No-op for non-consumers.
    */
  def releaseAfter(spark: SparkSession, completed: String,
      selected: Set[String]): Unit =
    families.foreach { fam =>
      if (fam.consumers.intersect(selected).maxOption.contains(completed)) {
        fam.release(spark)
        System.err.println(
          s"[bench] released memo family '${fam.name}' after $completed")
      }
    }
}
