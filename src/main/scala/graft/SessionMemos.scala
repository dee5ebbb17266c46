package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** The session memo store: every value the engine shares across the
  * queries of one session (near-dup pair frames and component labels,
  * ranked top-k frames, edge sets, gram frames, the semantic model, the
  * bucketed-table registration), keyed by (session, family, dir, part),
  * plus the release schedule behind Bench's bounded-storage run.
  *
  * A family's first consumer pays the build once and every later consumer
  * reads the stored value (first-payer honesty). The cost is RESIDENCY: a
  * 184-query bench session accumulates every family's persisted blocks
  * (the ×100 gram frame alone is ~0.9 GB), and late board entries run
  * against that storage pressure — measured 30–60% slower in-run than
  * focused (dq_audit 21.1 vs 15.1 s, dedup_spans 21.6 vs 14.5 s at ×100,
  * rounds 14–15). With Bench executing in [[benchOrder]], each family's
  * last consumer is a static fact, so the family is released the moment
  * its last registered reader finishes — deterministic eviction with zero
  * rebuild risk, instead of leaving every frame resident until teardown.
  *
  * Maintenance contract: a NEW query that reads a family must be added to
  * that family's consumer set. Forgetting is a PERF bug, not a
  * correctness bug — the family rebuilds the value inline and the DuckDB
  * gate still passes; the bench sidecar's per-query storage column makes
  * the rebuild visible. SessionMemosSpec cross-checks every set against
  * the registry names so a renamed/removed query fails loudly.
  *
  * Builds run outside the map's atomic insert (`TrieMap.getOrElseUpdate`),
  * so a build may read other entries — the component labels build the
  * minhash pairs, which build the signatures.
  */
object SessionMemos {

  /** One memo family: its registered consumer query names (empty for the
    * session-lifetime families only [[releaseAll]] drops) and its entries
    * in the store.
    */
  final class Family(val name: String, val consumers: Set[String]) {

    /** The frame `part` of `dir` for `s`: built and persisted
      * MEMORY_AND_DISK on first use, unpersisted without blocking on
      * release.
      */
    def frame(s: SparkSession, dir: String, part: String)(
        build: => DataFrame): DataFrame =
      memo(s, dir, part)(build.persist(StorageLevel.MEMORY_AND_DISK))(
        _.unpersist(blocking = false))

    /** A memo that is not a plain persisted frame: `build`'s value, handed
      * to `free` on release.
      */
    def memo[T](s: SparkSession, dir: String, part: String)(build: => T)(
        free: T => Unit): T =
      store.getOrElseUpdate((s, this, dir, part), {
        val v = build
        Entry(v, () => free(v))
      }).value.asInstanceOf[T]

    /** Free and drop every entry of this family for `s`. */
    def release(s: SparkSession): Unit = drop(k => (k._1 eq s) && (k._2 eq this))
  }

  private final case class Entry(value: Any, free: () => Unit)

  private val store = TrieMap.empty[(SparkSession, Family, String, String), Entry]

  private def drop(p: ((SparkSession, Family, String, String)) => Boolean): Unit =
    store.keys.filter(p).foreach(k => store.remove(k).foreach(_.free()))

  // minhash signatures, minhash/embed candidate pairs and the component
  // labels: dedup_keep reads the labels through clusters.run,
  // split_leakage_safe through Dedup.componentLabels
  val DedupPairs = new Family("dedup_pairs", Set(
    "dedup_agreement", "dedup_bucket_stats", "dedup_clusters",
    "dedup_cross", "dedup_embed", "dedup_keep", "dedup_minhash",
    "split_leakage_safe"))
  // the six ranked top-k frames behind the retrieval quality readouts
  // (tiny frames, expensive lineage), plus the BM25 ranking
  val AnnRank = new Family("ann_rank", Set(
    "ann_mrr", "ann_recall", "embed_pairs_mine", "retrieval_rrf"))
  // positional + distinct corpus gram digests — the largest resident
  // frame at ×100
  val Grams = new Family("grams", Set(
    "dedup_span_pairs", "dedup_spans", "text_boilerplate",
    "text_decontam", "text_decontam_bloom", "text_novelty"))
  // per-document bigram counts — shared by the LM pair (text_bigram_lm
  // re-aggregates it, text_predictability trains and scores from it)
  val Bigrams = new Family("bigrams", Set(
    "text_bigram_lm", "text_predictability"))
  // co-purchase and bipartite trade edge sets
  val GraphEdges = new Family("graph_edges", Set(
    "graph_bfs", "graph_closeness", "graph_degree", "graph_jaccard",
    "graph_lpa", "graph_pagerank_big", "graph_triangles_big"))
  // session-lifetime: the semantic model (centroid rows held in the JVM,
  // no executor storage) and the bucketed tables' catalog registration
  val SemanticModel = new Family("sem_model", Set.empty)
  val BucketedTables = new Family("bucketed_tables", Set.empty)

  /** The families released on Bench's schedule ([[releaseAfter]]). */
  def families: Seq[Family] = Seq(DedupPairs, AnnRank, Grams, Bigrams, GraphEdges)

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

  /** End-of-session teardown of every memo of `s`, called by each entry
    * point right before `spark.stop()`, so a long-lived JVM that builds
    * many sessions (test suites, repeated bench rounds) neither pins dead
    * sessions through the store's keys nor accretes storage blocks.
    */
  def releaseAll(spark: SparkSession): Unit = drop(_._1 eq spark)

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

  /** Unpersist the RDD backing a `localCheckpoint`'d Dataset, rather than
    * waiting for the ContextCleaner: `Dataset.unpersist` is a no-op for
    * checkpointed data (it only clears CacheManager entries). Traverses the
    * plan because the frame is usually a projection OVER its checkpoint's
    * LogicalRDD. The caller must be done with the frame: a released
    * checkpoint cannot be recomputed (its lineage was truncated).
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
